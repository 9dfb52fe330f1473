package graft.tools

import org.apache.spark.sql.functions.col

/** Phase attribution for the bulk-load headline: times each piece of
  * one `Bench.bulkLoad`-shaped shard load separately — scan+filter,
  * + conversion (noop sink), and the real bucketed write — so the
  * optimization targets the actual wall (guide §1.1).
  *
  * Usage: runMain graft.tools.BulkProbe <sfDir> [runs]
  */
object BulkProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus)
    import graft.ddl.SchemaRegistry
    import graft.operators.RecordConversion
    import graft.sources.Snapshot

    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE lineitem (
        |  l_orderkey bigint NOT NULL, l_partkey bigint, l_suppkey bigint,
        |  l_linenumber int NOT NULL, l_quantity double,
        |  l_extendedprice double, l_discount double, l_tax double,
        |  l_returnflag varchar(1), l_linestatus varchar(1),
        |  l_shipdate timestamp,
        |  PRIMARY KEY (l_orderkey, l_linenumber))""".stripMargin)
    val schema = registry("lineitem")
    val src = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val pks = Seq("l_orderkey", "l_linenumber")
    def shard(k: Int) = src.filter(Snapshot.shardPredicate(pks, 4, k))

    def time(label: String)(f: => Unit): Unit = {
      (0 until runs).foreach { i =>
        val t0 = System.nanoTime()
        f
        println(f"[bulkprobe] $label run$i ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    src.count() // warm page cache / codegen
    time("scan+filter (4 shards, noop)") {
      (0 until 4).foreach(k => noop(shard(k)))
    }
    time("scan+filter+convert (4 shards, noop)") {
      (0 until 4).foreach(k =>
        noop(RecordConversion.convert(shard(k), schema, "UTC")))
    }
    time("full bulkLoad (runFrame + FINAL read)") {
      graft.Bench.bulkLoad(spark, sfDir, shards = 4)
      ()
    }
    spark.stop()
  }
}
