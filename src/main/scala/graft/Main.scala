package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ddl.SchemaRegistry
import graft.sources.Snapshot
import graft.streaming.{CdcPipeline, LagMonitor, MonitorServer, Replicator}

/** Config-driven bootstrap — the `main.py run_all` analogue (E1).
  *
  * {{{
  * spark-submit --class graft.Main graft.jar config.yaml <db> <warehouseDir> <checkpointDir>
  * }}}
  *
  * Reads the reference-shaped YAML, restores (or expects) the schema
  * registry state under `<warehouseDir>/_state/<db>.json`, optionally
  * runs the initial JDBC snapshot for every registered table
  * (`skip_initial_replication` / absent `mysql:` section skip it), then
  * tails the event spool (`binlog_replicator.data_dir`) with lag
  * monitoring attached and blocks. Process supervision / restart (W7)
  * belongs to the cluster manager, exactly as the reference's runner
  * belongs to its supervisor.
  */
object Main {

  /** A live deployment: `holder` always points at the CURRENT streaming
    * query — the HTTP `/restart_replication` hook (reference
    * runner.py:89-95 stops and relaunches its child processes) stops the
    * running query and starts a fresh one on the same checkpoint,
    * swapping it in. `awaitRestartSettled` blocks while a restart is in
    * flight, so a supervisor woken by `stop()` can tell a restart from a
    * terminal stop. */
  final case class Running(
      pipeline: CdcPipeline,
      holder: java.util.concurrent.atomic.AtomicReference[StreamingQuery],
      monitor: LagMonitor,
      server: Option[MonitorServer],
      awaitRestartSettled: () => Unit)

  /** Everything but the blocking wait — factored for tests. */
  def run(spark: SparkSession, config: GraftConfig, db: String,
          warehouseDir: String, checkpointDir: String): Running = {
    val registry = new SchemaRegistry(db,
      Some(s"$warehouseDir/_state/$db.json"))
    val spoolDir = config.spoolDir.getOrElse(
      throw new IllegalArgumentException(
        "config: binlog_replicator.data_dir is required"))
    val snapshots: Map[String, DataFrame] = config.mysql match {
      case Some(conn) if !config.skipInitialReplication =>
        val workers =
          if (config.initialReplicationThreads > 0)
            config.initialReplicationThreads
          else spark.sparkContext.defaultParallelism
        registry.tableKeys.collect { case (d, t) if d == db =>
          val props = conn.properties
          props.setProperty("fetchsize",
            config.initialReplicationBatchSize.toString)
          t -> Snapshot.jdbc(spark, conn.jdbcUrl(db), t,
            registry(d, t).primaryKeys, workers, props)
        }.toMap
      case _ => Map.empty
    }
    // with resume shards enabled, each shard is its own server-side
    // predicated JDBC read (Snapshot.jdbcShard) — the wire moves every
    // row exactly once across the whole snapshot, and `subParts`
    // sub-predicates keep each shard's read distributed
    val shardSources: Map[String, Int => DataFrame] = config.mysql match {
      case Some(conn) if !config.skipInitialReplication &&
          config.initialReplicationThreads > 1 =>
        val shards = config.initialReplicationThreads
        val subParts = math.max(1,
          spark.sparkContext.defaultParallelism / shards)
        registry.tableKeys.collect { case (d, t) if d == db =>
          // same cursor fetchsize as the non-sharded path — without it the
          // resume-shard fan-out (the production path) silently falls back
          // to jdbcShard's hardcoded default and ignores the config key
          val props = conn.properties
          props.setProperty("fetchsize",
            config.initialReplicationBatchSize.toString)
          t -> ((k: Int) => Snapshot.jdbcShard(spark, conn.jdbcUrl(db), t,
            registry(d, t).primaryKeys, shards, k, subParts, props))
        }.toMap
      case _ => Map.empty
    }
    val monitor = LagMonitor.attach(spark)
    val (pipeline, query) = Replicator.start(spark, config, registry,
      warehouseDir, spoolDir, checkpointDir, snapshots,
      shardSources = shardSources)
    val holder =
      new java.util.concurrent.atomic.AtomicReference[StreamingQuery](query)
    // Restart protocol: stop() unblocks the supervisor's awaitTermination
    // IMMEDIATELY, while starting the replacement query takes seconds —
    // without the lock + in-flight flag the supervisor would observe the
    // old query still in the holder, conclude no restart happened, and
    // exit (tearing down monitoring under the freshly started stream).
    val restartLock = new Object
    @volatile var restarting = false
    def restartHook(): Unit = {
      restartLock.synchronized { restarting = true }
      try {
        holder.get.stop()
        holder.set(pipeline.start(spoolDir, checkpointDir))
      } finally restartLock.synchronized {
        restarting = false
        restartLock.notifyAll()
      }
    }
    def awaitRestartSettled(): Unit = restartLock.synchronized {
      while (restarting) restartLock.wait()
    }
    // http_host/http_port (config.py:160-161) enable the ops endpoint.
    // Bind failure (port taken) must not leak the already-running query.
    val server =
      if (config.httpHost.nonEmpty)
        try Some(new MonitorServer(monitor, config.httpHost, config.httpPort,
          restart = Some(() => restartHook()),
          gauges = gauges(spark, registry, pipeline)))
        catch { case e: Throwable =>
          query.stop()
          spark.streams.removeListener(monitor)
          throw e
        }
      else None
    Running(pipeline, holder, monitor, server, () => awaitRestartSettled())
  }

  /** The extra `/metrics` gauges of a running deployment. */
  def gauges(spark: SparkSession, registry: SchemaRegistry,
             pipeline: CdcPipeline): () => Map[String, Long] = () => Map(
    // stuck-snapshot gauge: staged loads reserved but never published —
    // nonzero after the resume window means an operator must resume or
    // abandon (GraftTable doc)
    "pending_staged_loads" -> registry.tableKeys.count { case (d, t) =>
      pipeline.table(d, t).pendingStagedLoad().nonEmpty }.toLong,
    // classes Janino compiled since JVM start (Spark's CodegenMetrics);
    // flat while a running replicator reuses its generated code, rising
    // on every micro-batch when something inlines a per-batch value
    "codegen_compiles_total" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    // memo residency: the RDDs this session keeps materialized (memo
    // entries, checkpoints, caches) and the bytes their blocks hold in
    // memory and on disk; both should fall back after clearFitMemo
    "memo_rdds" -> spark.sparkContext.getPersistentRDDs.size.toLong,
    "memo_bytes" -> spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum)

  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: graft.Main <config.yaml> <db> <warehouseDir> <checkpointDir>")
    val Array(cfgPath, db, warehouseDir, checkpointDir) = args
    val config = GraftConfig.load(cfgPath)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val running = run(spark, config, db, warehouseDir, checkpointDir)
    // await across /restart_replication swaps: a stopped-then-replaced
    // query must not take the whole process down with it — wait for any
    // in-flight restart to settle before deciding the stop was terminal
    try {
      var q = running.holder.get
      var done = false
      while (!done) {
        q.awaitTermination()
        running.awaitRestartSettled()
        val nq = running.holder.get
        if (nq eq q) done = true else q = nq
      }
    } finally running.server.foreach(_.stop())
  }
}
