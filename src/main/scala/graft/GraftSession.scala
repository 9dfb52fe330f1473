package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration so Verify, Bench and
  * the test suites all run the same way the production cluster would.
  */
object GraftSession {

  /** Scratch space for shuffle/broadcast spills and test warehouses.
    * local[32] funnels every writer thread through ONE virtio-blk queue
    * when scratch sits on the system disk — measured multi-second
    * all-cores-in-kernel stalls (`sy` 99%) during parquet+shuffle write
    * bursts. A real cluster node gives each executor fast node-local
    * SSDs for `spark.local.dir`; tmpfs is the local-mode equivalent.
    * Falls back to the system default when /dev/shm is absent. The
    * per-JVM subdir is removed on exit.
    *
    * Caveat, deliberate: re-pointing `java.io.tmpdir` is JVM-global and
    * only reaches NIO temp APIs loaded AFTER the first builder call
    * (the JDK caches the property in its TempFileHelper) — in this
    * process Bench/Verify construct their session before any temp file,
    * so the redirect holds; an embedding application that creates temp
    * files first simply keeps its own tmpdir (slower scratch, still
    * correct), and the exit-hook delete only touches our per-PID
    * subdir, never a shared tmpdir. */
  private lazy val scratchDir: Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (!shm.isDirectory || !shm.canWrite) None
    else {
      val d = new java.io.File(shm,
        s"graft-tmp-${ProcessHandle.current().pid()}")
      d.mkdirs()
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d)
      }
      System.setProperty("java.io.tmpdir", d.getAbsolutePath)
      Some(d.getAbsolutePath)
    }
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      // X3 charset decode needs the full JVM charset set (cp1251, gbk...),
      // not just the six ANSI ones decode() allows by default.
      .config("spark.sql.legacy.javaCharsets", "true")
      // Local mode: match shuffle partitions to cores; on a real cluster
      // AQE coalesces to the right number anyway.
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Object-typed aggregations (collect_set/list, the capped set in
      // Dedup) keep hashing up to this many groups per partition before
      // falling back to sort-based aggregation; the 128-group default
      // predates large heaps and forces a per-partition SORT of the
      // whole shingle table. Buffers here are small (df-capped sets,
      // per-doc arrays), so 256k groups ≈ tens of MB per task — and the
      // sort-based fallback still exists past that.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "262144")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet; Spark has no ns timestamp
      // type, so read it as a long and convert explicitly (Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state lives in RocksDB, not on-heap: StreamingDedup
      // keeps one entry per distinct fingerprint FOREVER by design —
      // billions of keys at corpus scale — and the default HDFS-backed
      // provider holds every entry in executor heap. RocksDB spills to
      // local disk with changelog checkpointing to the checkpoint dir.
      // UPGRADE NOTE: checkpoints written by the old HDFS provider are
      // not readable through RocksDB — pre-existing stateful-query
      // checkpoints must either keep the old provider (set it back on
      // that session) or be rebuilt.
      .config("spark.sql.streaming.stateStore.providerClass",
        sys.env.getOrElse("SPARK_GRAFT_STATE_STORE",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"))
      // ship per-batch changelogs to the checkpoint instead of full
      // RocksDB snapshots — the difference between O(delta) and O(state)
      // commit cost once the fingerprint state is large
      .config("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The SQL status listener runs even with the UI off and retains up
      // to 1000 execution graphs (plans, metrics, physical descriptions)
      // in driver heap. A long-lived replicator process — or the bench's
      // ~1500 consecutive executions — accumulates real GC pressure from
      // state nobody will ever look at; keep a small debugging window.
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      // Every action stringifies its physical plan for the SQL-listener
      // event (SQLExecution.withNewExecutionId → explainString) and AQE
      // re-stringifies on every plan update — for the dedup family's
      // nested cached plans that is a ~1 MB, 10k-line string built 3-4×
      // PER ACTION, measured (r14 JobProbe driver stack samples:
      // StringConcat.toString / generateTreeString / explainString) as
      // ~0.6 s of driver wall wrapped around a 40 ms warm query. Cap
      // the string: the event keeps its head, the work stops at the
      // cap. The same cap is what protects a production driver's heap
      // and latency when plans grow with pipeline depth — it is not a
      // local-mode tune (results and plans are unaffected; only the
      // diagnostic string length changes).
      .config("spark.sql.maxPlanStringLength", "32768")
      // Generated-code reuse: steady-state work compiles nothing.
      // Spark caches each Janino-compiled class by (context classloader,
      // source text) in an LRU of 100 entries by default. One analyst
      // session of the bench's 7 gated queries compiles ~205 classes and
      // one initial sync ~153, so the default LRU evicted everything and
      // each session recompiled its ~205 (about 3 s of CPU). 1000 holds
      // either working set several times over, for ~3 MB of heap.
      // Static: read once, when the JVM compiles its first class.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // With artifact isolation on, every cloned session — each streaming
      // query's, so each Replicator.start or /restart_replication — gets
      // a fresh executor classloader, and a second stream over the same
      // spool recompiled all 52 of the first one's executor-side classes.
      // graft adds no session artifacts (no addArtifact/addJar), so there
      // is nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The whole-stage class name carries its codegen stage id, and AQE
      // numbers stages in the order they finish, which varies from run to
      // run: t_bm25_topk's stages 6/7 and 8/9 swap, and 7 of 17 repeated
      // sessions recompiled 4-8 byte-identical classes under their other
      // names. Without the id the source text is the same on every run.
      .config("spark.sql.codegen.useIdInClassName", "false")
    scratchDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drop every local temp view without running a Spark job.
    * `spark.catalog.listTables()` builds and EXECUTES a Dataset plan,
    * which races with concurrent streaming-query teardown (observed
    * once per ~10 bench runs as an NPE from `SparkPlan.session()`
    * inside the between-run hygiene — killing the whole artifact).
    * The session catalog's listLocalTempViews is a pure metadata read,
    * so harness hygiene can never lose a run to a planner race. */
  def dropTempViews(spark: SparkSession): Unit =
    try
      spark.sessionState.catalog.listLocalTempViews("*")
        .foreach(id => spark.catalog.dropTempView(id.table))
    catch { case scala.util.control.NonFatal(_) => () }
}
