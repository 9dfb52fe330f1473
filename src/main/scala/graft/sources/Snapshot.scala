package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftConfig
import graft.ddl.TableSchema
import graft.operators.{GraftTable, RecordConversion}

/** Initial (snapshot) replication — the bulk scan.
  *
  * The reference drives this as a driver-side loop of keyset-paginated
  * SELECTs (`WHERE (pk...) > (last...) ORDER BY pk LIMIT 50000`), with
  * optional process fan-out sharded by `CRC32(CONCAT_WS('|', pk)) % N`
  * (mysql_api.py:110-157; db_replicator_initial.py:168-275, 386-448).
  *
  * Spark-first, the pagination loop and the worker fan-out are both the
  * *partitioning of a single distributed read*:
  *  - JDBC sources: pass `shardPredicates` as the `predicates` array
  *    (one partition per shard, pushed into the remote SQL), or
  *    `partitionColumn`/bounds for integer PKs;
  *  - file sources (the test fixtures): Spark's splittable parquet scan
  *    already is the fan-out.
  * Per-batch max-PK checkpointing disappears: task retry + deterministic
  * shards give the same resume guarantee.
  */
object Snapshot {

  /** The reference's shard predicate, as a Column (mysql_api.py:124-133).
    * Also usable as a literal SQL string for JDBC `predicates`. */
  def shardPredicate(pkCols: Seq[String], totalWorkers: Int,
                     workerId: Int): Column =
    shardOf(pkCols, totalWorkers) === lit(workerId)

  /** The shard a row belongs to, of `totalWorkers`. */
  private def shardOf(pkCols: Seq[String], totalWorkers: Int): Column =
    pmod(crc32(concat_ws("|", pkCols.map(c => coalesce(col(c).cast("string"),
      lit(""))): _*)), lit(totalWorkers))

  def shardPredicateSql(pkCols: Seq[String], totalWorkers: Int,
                        workerId: Int): String = {
    val concat = pkCols.map(c => s"COALESCE(CAST($c AS CHAR), '')")
      .mkString("CONCAT_WS('|', ", ", ", ")")
    s"CRC32($concat) % $totalWorkers = $workerId"
  }

  /** One predicate per shard — disjoint and complete over the PK space
    * (every row satisfies exactly one CRC32-mod bucket). */
  def shardPredicates(pkCols: Seq[String], numWorkers: Int): Array[String] =
    (0 until numWorkers)
      .map(w => shardPredicateSql(pkCols, numWorkers, w)).toArray

  /** The reference's parallel initial scan (mysql_api.py:110-157,
    * db_replicator_initial.py:386-448) as ONE distributed JDBC read:
    * each shard predicate becomes a Spark input partition, pushed into
    * the remote `WHERE`, so `numWorkers` executors page the table
    * concurrently without the driver-side keyset loop — task retry +
    * deterministic shards replace its per-batch max-PK checkpoint.
    * `fetchsize` keeps the MySQL wire cursor streaming (the LIMIT-paging
    * analogue).
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           pkCols: Seq[String], numWorkers: Int,
           props: java.util.Properties = new java.util.Properties)
      : DataFrame = {
    // Connector/J ignores a positive fetch size unless cursor fetch is
    // on — without it each shard task materializes its whole result set
    // in executor heap before Spark reads the first row
    if (!props.containsKey("useCursorFetch"))
      props.setProperty("useCursorFetch", "true")
    if (!props.containsKey("fetchsize"))
      props.setProperty("fetchsize", "50000") // BATCH_SIZE analogue
    spark.read.jdbc(url, table, shardPredicates(pkCols, numWorkers), props)
  }

  /** Predicates for resume-shard `k` of `shards`, sub-partitioned
    * `subParts` ways for within-shard read parallelism:
    * `crc % (shards·subParts) = k + shards·j` for j < subParts — together
    * exactly the rows of shard k (`crc % shards = k`), split into
    * `subParts` disjoint server-side WHERE clauses. */
  def shardSubPredicates(pkCols: Seq[String], shards: Int, k: Int,
                         subParts: Int): Array[String] = {
    val concat = pkCols.map(c => s"COALESCE(CAST($c AS CHAR), '')")
      .mkString("CONCAT_WS('|', ", ", ", ")")
    (0 until subParts)
      .map(j => s"CRC32($concat) % ${shards * subParts} = ${k + shards * j}")
      .toArray
  }

  /** One resume shard as its own distributed JDBC read (the production
    * `shardSource` for [[runSharded]]): the shard membership is pushed
    * into the remote WHERE — the wire moves each shard's rows exactly
    * once across the whole snapshot, matching the reference's per-worker
    * `CRC32(...) % N = w` scans (mysql_api.py:110-157) — while `subParts`
    * sub-predicates keep the read parallel *within* the shard. */
  def jdbcShard(spark: SparkSession, url: String, table: String,
                pkCols: Seq[String], shards: Int, k: Int, subParts: Int,
                props: java.util.Properties = new java.util.Properties)
      : DataFrame = {
    if (!props.containsKey("useCursorFetch"))
      props.setProperty("useCursorFetch", "true")
    if (!props.containsKey("fetchsize"))
      props.setProperty("fetchsize", "50000")
    spark.read.jdbc(url, table,
      shardSubPredicates(pkCols, shards, k, subParts), props)
  }

  /** Shard-resumable, atomically-published snapshot through per-shard
    * readers: each missing shard is read by `shardSource` and written
    * as its own append job into an UNPUBLISHED staging epoch
    * ([[GraftTable.beginStagedLoad]]), each committing a durable
    * completion marker — a driver restart mid-snapshot redoes only the
    * shards without markers, the reference's `(table, max_primary_key)`
    * resume granularity (db_replicator_initial.py:183-192) re-expressed
    * as deterministic shard predicates. When the LAST shard completes,
    * one epoch-pointer swap publishes the whole table — the reference
    * stages initial replication in a temp database and atomically
    * renames it into place (db_replicator_initial.py:149-162) for the
    * same reason: a reader during the load sees empty-or-complete, never
    * partial.
    *
    * Exactly-once storage per shard: a failed shard job commits no files
    * (parquet's job-commit protocol), so the re-run appends its rows
    * once. The only duplication window is a crash BETWEEN a shard's
    * commit and its marker write — that one shard re-appends at the same
    * snapshot version, the FINAL view collapses it immediately and the
    * wired compactor reclaims the space: the reference accepts the same
    * window per 50k-row batch and relies on ReplacingMergeTree collapse
    * identically (db_replicator_initial.py:223-246).
    */
  def runSharded(spark: SparkSession, schema: TableSchema, tableDir: String,
                 markerDir: String, shards: Int,
                 shardSource: Int => DataFrame,
                 config: GraftConfig = GraftConfig(),
                 version: Long = 0L): GraftTable =
    staged(spark, schema, tableDir, markerDir, shards, config, version) {
      (missing, append, mark) =>
        missing.foreach { k =>
          // NOT spread (r13 optimization round, measured): repartitioning
          // the single-split local shard source to parallelize the
          // parquet encode costs more in shuffle + small-file overhead
          // than the parallel write saves (bulkLoad 2.85 -> 3.5 s at
          // sf0.1); real-scale shard sources are multi-split already
          append(shardSource(k))
          mark(k)
        }
    }

  /** The same shard-resumable, atomically-published snapshot of a frame
    * that has no per-shard reader: ONE append job writes every shard
    * whose marker is missing — the frame is scanned once, the
    * reference's single sharded initial scan
    * (db_replicator_initial.py:386-448) — and their markers are written
    * after it commits. A fresh load applies no shard filter at all; a
    * resume filters the frame to the missing shards. The marker contract
    * is [[runSharded]]'s: a crash before the markers redoes the missing
    * shards together (the FINAL view collapses a re-appended one), and
    * the caller's marker dir encodes the shard count. */
  def runFrame(spark: SparkSession, schema: TableSchema, tableDir: String,
               markerDir: String, shards: Int, frame: DataFrame,
               config: GraftConfig = GraftConfig(),
               version: Long = 0L): GraftTable =
    staged(spark, schema, tableDir, markerDir, shards, config, version) {
      (missing, append, mark) =>
        append(if (missing.size == shards) frame
          else frame.filter(shardOf(schema.primaryKeys, shards)
            .isin(missing: _*)))
        missing.foreach(mark)
    }

  /** The staged load both snapshot forms share: `load` gets the shards
    * without a marker, an append into the staging epoch and a marker
    * writer, and must mark each shard once its rows have committed. */
  private def staged(spark: SparkSession, schema: TableSchema,
                     tableDir: String, markerDir: String, shards: Int,
                     config: GraftConfig, version: Long)(
      load: (Seq[Int], DataFrame => Unit, Int => Unit) => Unit): GraftTable = {
    // registry-id handle: the snapshot writes the SAME generation ids
    // the realtime pipeline reads by (GraftTable.fromSchema doc) — on a
    // re-load of an evolved schema, positional ids would strand every
    // post-evolution column as NULL
    val target = GraftTable.fromSchema(spark, tableDir, schema)
    val dir = new org.apache.hadoop.fs.Path(markerDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    def marker(k: Int) = new org.apache.hadoop.fs.Path(s"$markerDir/shard-$k")
    val missing = (0 until shards).filterNot(k => fs.exists(marker(k)))
    if (missing.nonEmpty) {
      // resumes the SAME staging epoch after a crash (meta/staging):
      // completed shards' files must stay where their markers claim
      val staging = target.beginStagedLoad()
      load(missing,
        df => target.appendStaged(RecordConversion.convert(df, schema,
          config.mysqlTimezone), version, staging),
        k => fs.create(marker(k), true).close())
      target.publishStagedLoad(staging)
    } else
      // every marker present but the load unpublished: the process died
      // between the last marker write and the pointer swap — finish it.
      // (If the staging meta is gone too, the publish already happened;
      // a fresh staged epoch here would publish EMPTY over real data.)
      target.pendingStagedLoad().foreach(target.publishStagedLoad)
    target
  }

  /** Snapshot one table: wire rows → converted rows → versioned target.
    * `version` 0 marks snapshot rows; realtime batches stamp higher
    * versions, so a snapshot racing the stream still converges via the
    * FINAL view (reference runs them strictly sequenced; we don't need to).
    */
  def run(spark: SparkSession, source: DataFrame, schema: TableSchema,
          warehouseDir: String, config: GraftConfig = GraftConfig(),
          version: Long = 0L): GraftTable =
    runAt(spark, source, schema, s"$warehouseDir/${schema.name}", config,
      version)

  /** [[run]] with an explicit table directory — used by the replicator
    * orchestration to land the snapshot on the exact warehouse path the
    * realtime pipeline will keep appending to (F4 remaps applied). */
  def runAt(spark: SparkSession, source: DataFrame, schema: TableSchema,
            tableDir: String, config: GraftConfig = GraftConfig(),
            version: Long = 0L): GraftTable = {
    val converted = RecordConversion.convert(source, schema,
      config.mysqlTimezone)
    val target = GraftTable.fromSchema(spark, tableDir, schema)
    target.append(converted, version)
    target
  }
}
