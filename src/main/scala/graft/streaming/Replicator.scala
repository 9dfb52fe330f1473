package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftConfig
import graft.ddl.SchemaRegistry
import graft.sources.Snapshot

/** The reference's per-database run sequence (db_replicator.py:89-194):
  * initial bulk replication, then realtime binlog tailing — here an
  * optional snapshot phase landing version-0 rows on the exact warehouse
  * paths the realtime pipeline keeps appending to, then the spool
  * stream. `config.skipInitialReplication` skips the snapshot phase
  * (reference `initial_replication: false` — the target starts empty and
  * fills from the stream only).
  */
object Replicator {

  /** @param snapshots    source-table name → bulk DataFrame (a
    *                      [[Snapshot.jdbc]] read in production, a fixture
    *                      in tests); only tables admitted by the config
    *                      globs and already registered are snapshotted.
    * @param shardSources  optional per-table shard readers (shard index →
    *                      DataFrame, e.g. [[Snapshot.jdbcShard]]): each
    *                      resume shard becomes its own server-side
    *                      predicated read and its own write job, so the
    *                      wire moves every row exactly once across the
    *                      snapshot. A table without an entry writes its
    *                      `snapshots` frame in ONE job over the shards
    *                      whose markers are missing
    *                      ([[Snapshot.runFrame]]): one scan of the frame,
    *                      unfiltered on a fresh load.
    */
  def start(spark: SparkSession, config: GraftConfig,
            registry: SchemaRegistry, warehouseDir: String,
            spoolDir: String, checkpointDir: String,
            snapshots: Map[String, DataFrame] = Map.empty,
            trigger: Trigger = Trigger.ProcessingTime("1 second"),
            shardSources: Map[String, Int => DataFrame] = Map.empty)
      : (CdcPipeline, StreamingQuery) = {
    val pipeline = new CdcPipeline(spark, config, registry, warehouseDir)
    if (!config.skipInitialReplication) {
      val fs = new org.apache.hadoop.fs.Path(warehouseDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      snapshots.foreach { case (tbl, df) =>
        // completion markers make restarts cheap and idempotent — the
        // reference persists per-table initial-replication status the
        // same way (db_replicator.py:213-281). Granularity is per SHARD
        // (db_replicator_initial.py:183-192's (table, max_primary_key)
        // resume): a driver restart mid-snapshot redoes only the shards
        // whose markers are missing, not whole tables — at 100 TB a
        // per-table redo is a multi-hour scan. The per-table marker
        // written after all shards collapses the bookkeeping back to one
        // existence probe per restart.
        val db = registry.defaultDb
        val marker = new org.apache.hadoop.fs.Path(
          s"$warehouseDir/_state/initial_done/$db.$tbl")
        if (config.tableMatches(tbl) && registry.contains(tbl) &&
            !fs.exists(marker)) {
          val shards = math.max(1, config.initialReplicationThreads)
          // the marker dir ENCODES the shard count: a crashed 8-way
          // snapshot restarted with 4 threads must not skip "shard-0/1"
          // of the new split (different residue sets — rows would be
          // silently lost); a count change invalidates all markers and
          // the redone shards collapse in the FINAL view
          val shardsDir =
            s"$warehouseDir/_state/initial_done/$db.$tbl.shards-$shards"
          // +1: the config contract (Config.scala version_initial_value)
          // and the reference (clickhouse_api.py get_last_used_version →
          // increment-then-stamp) both promise stamps STRICTLY above the
          // initial value — at the base itself a snapshot row would TIE
          // with a pre-existing version-N row instead of winning the
          // FINAL dedup. Realtime batches stamp at ≥ initial + 2^20
          // (CdcPipeline.version), comfortably above.
          val version = config.versionInitialValue + 1
          val path = pipeline.tablePath(db, tbl)
          shardSources.get(tbl) match {
            case Some(source) => Snapshot.runSharded(spark, registry(tbl),
              path, shardsDir, shards, source, config, version)
            case None => Snapshot.runFrame(spark, registry(tbl), path,
              shardsDir, shards, df, config, version)
          }
          Option(marker.getParent).foreach(fs.mkdirs)
          fs.create(marker, true).close()
          fs.delete(new org.apache.hadoop.fs.Path(shardsDir), true)
        }
      }
      runPostCommands(spark, config, registry, pipeline, fs, warehouseDir)
    }
    // db_optimizer as part of the pipeline: the reference supervises a
    // separate OPTIMIZE process (runner.py:162-194); here one tick per
    // micro-batch, interval-guarded per table — see CdcPipeline doc for
    // why in-loop (serialized with the writer) is the Spark-first shape
    // enable_optimize_final=false (config.py:151) turns the optimizer
    // off outright, like the reference's db_optimizer gate
    if (config.optimizeInterval > 0 && config.enableOptimizeFinal)
      pipeline.attachCompactor(new graft.operators.Compactor(
        () => registry.tableKeys.filter { case (d, t) =>
          config.databaseMatches(d) && config.tableMatches(t) },
        key => pipeline.table(key._1, key._2),
        interval = config.optimizeInterval * 1000L))
    // spool retention (binlog_replicator.binlog_retention_period): sweep
    // fully-rotated spool files past the retention window after a batch,
    // at most once a minute — the reference's remove_old_files cadence
    // (binlog_replicator.py:288-298) folded into the micro-batch loop.
    // 0 = retention disabled (keep every spool file — replay-from-zero)
    if (config.spoolRetentionPeriod > 0) {
      var lastSweep = 0L
      pipeline.attachSpoolSweeper { () =>
        val now = System.currentTimeMillis()
        if (now - lastSweep >= 60000L) {
          lastSweep = now
          graft.sources.EventSpool.sweepRetention(spoolDir,
            config.spoolRetentionPeriod, now,
            hadoopConf = spark.sparkContext.hadoopConfiguration)
          ()
        }
      }
    }
    (pipeline, pipeline.start(spoolDir, checkpointDir, trigger))
  }

  /** `post_initial_replication_commands` (db_replicator_initial.py:
    * 472-494): once the database's initial replication completes, run the
    * configured SQL against the warehouse — each replicated table is
    * exposed as a temp view of its FINAL read, commands run in order via
    * `spark.sql`. A db-level marker written AFTER the commands mirrors
    * the reference's state ordering (commands re-run if the process died
    * before they all completed; never again after). */
  private def runPostCommands(spark: SparkSession, config: GraftConfig,
                              registry: SchemaRegistry, pipeline: CdcPipeline,
                              fs: org.apache.hadoop.fs.FileSystem,
                              warehouseDir: String): Unit = {
    val db = registry.defaultDb
    val commands = config.postCommandsFor(db)
    val marker = new org.apache.hadoop.fs.Path(
      s"$warehouseDir/_state/initial_done/$db._post_commands")
    if (commands.nonEmpty && !fs.exists(marker)) {
      registry.tableKeys.collect {
        case (d, t) if d == db && config.tableMatches(t) =>
          pipeline.table(d, t).read
            .createOrReplaceTempView(config.targetTable(d, t))
      }
      commands.foreach(spark.sql(_).collect())
      Option(marker.getParent).foreach(fs.mkdirs)
      fs.create(marker, true).close()
    }
  }
}
