package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst's datasource V2 path gives us column
  * pruning + filter pushdown + row-group min/max skipping for free — at
  * 100 TB these scans are the dominant cost and the plan must show
  * `PushedFilters`/`ReadSchema` doing the trimming.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables small enough to broadcast at any scale factor (dimension-like).
    * At 100 TB, region/nation stay tiny; customer/supplier/part grow but the
    * *filtered* dim side of our queries stays broadcastable — we still mark
    * only the always-tiny ones and let AQE decide for the rest.
    */
  val tiny: Set[String] = Set("region", "nation")

  /** Parquet schemas Spark inferred, by (path, length, modification
    * time): inferring reads a footer in a one-task Spark job on every
    * call, and an analyst session loads the same fixtures again and
    * again. A rewritten file changes its key and is inferred afresh. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val schema = schemas.computeIfAbsent(
      (st.getPath.toString, st.getLen, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // events.ts arrives either as µs timestamp parquet (read as
    // TIMESTAMP_NTZ — the current fixture generation) or as ns-precision
    // parquet read as a long (spark.sql.legacy.parquet.nanosAsLong=true —
    // set by GraftSession; older generations). Normalize both to the
    // internal contract: `ts_ns` = exact epoch nanos (LONG, the total
    // order every versioned/as-of query keys on) and `ts` = µs
    // TimestampType for calendar functions. The session timezone is UTC,
    // so the NTZ→timestamp cast is instant-preserving and `unix_micros`
    // matches DuckDB's `epoch_ns(ts)` up to the ×1000 µs→ns pad. The
    // long path uses `div` integer division — going through double would
    // shear the low bits of an ~1.7e18 ns epoch.
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts_ns", col("ts"))
            .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ =>
          df.withColumn("ts_ns",
              expr("unix_micros(cast(ts as timestamp)) * 1000"))
            .withColumn("ts", col("ts").cast("timestamp"))
      }
    } else df
  }
}
