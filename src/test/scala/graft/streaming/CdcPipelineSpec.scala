package graft.streaming

import graft.{GraftConfig, SparkSpec}
import graft.ddl.SchemaRegistry
import graft.sources.EventSpool
import graft.sources.EventSpool.{eventJson, writeFile, OpAdd, OpQuery, OpRemove}
import org.apache.spark.sql.streaming.Trigger

/** End-to-end realtime replication: JSON event spool → Structured
  * Streaming → versioned tables → FINAL view. Mirrors the reference's
  * e2e tests (tests/test_e2e_integration.py) with the spool playing the
  * binlog's role.
  */
class CdcPipelineSpec extends SparkSpec {

  private def mkPipeline() = {
    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE users (id int NOT NULL, name varchar(50),
        |  age int unsigned, PRIMARY KEY(id))""".stripMargin)
    val wh = tmpDir("graft-wh")
    (new CdcPipeline(spark, GraftConfig(), registry, wh), registry)
  }

  private def row(id: Int, name: String, age: Int): String =
    s"""{"id":"$id","name":"$name","age":"$age"}"""

  test("insert/update/delete stream converges to the MySQL end-state") {
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool")

    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpAdd, row = Some(row(2, "bob", 40))),
      eventJson(3, "d", "users", OpAdd, row = Some(row(1, "ann2", 31))), // update = after-image
      eventJson(4, "d", "users", OpRemove, row = Some("""{"id":"2"}"""))))

    val q = pipeline.start(spool, tmpDir("graft-ckpt"),
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      // second micro-batch: another update + a fresh insert
      writeFile(spool, "000002.json", Seq(
        eventJson(5, "d", "users", OpAdd, row = Some(row(3, "carl", 22))),
        eventJson(6, "d", "users", OpAdd, row = Some(row(1, "ann3", 32)))))
      q.processAllAvailable()
    } finally q.stop()

    val got = pipeline.table("users").read
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1, "ann3", 32L), (3, "carl", 22L)))
  }

  test("a registered db's unregistered table never merges into the default db") {
    val registry = new SchemaRegistry("a")
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    registry.applySql("b",
      "CREATE TABLE orders (id int NOT NULL, PRIMARY KEY(id))")
    val pipeline = new CdcPipeline(spark, GraftConfig(), registry,
      tmpDir("graft-wh-xdb"))
    val spool = tmpDir("graft-spool-xdb")
    // db `b` IS registered (via orders), so its unregistered `users`
    // must resolve to NOTHING — not fall through into a.users (cross-db
    // merge). An event db the registry never saw still falls back.
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "a", "users", OpAdd,
        row = Some("""{"id":"1","name":"ann"}""")),
      eventJson(2, "b", "users", OpAdd,
        row = Some("""{"id":"2","name":"ghost"}""")),
      eventJson(3, "unseen_db", "users", OpAdd,
        row = Some("""{"id":"3","name":"carl"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    assert(pipeline.table("a", "users").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
      === Set((1, "ann"), (3, "carl")))
  }

  test("corrupt spool lines are dropped; surrounding events still apply") {
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool-corrupt")
    // a truncated JSON object, plain garbage, and a valid-JSON event
    // with no `op` — none may kill the stream or masquerade as DML
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      """{"seq":2,"db":"d","table":"users","op":"AD""", // truncated
      "not json at all",
      """{"seq":3,"db":"d","table":"users"}""", // no op
      eventJson(4, "d", "users", OpAdd, row = Some(row(2, "bob", 40)))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt-corrupt"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()
    val got = pipeline.table("users").read
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1, "ann", 30L), (2, "bob", 40L)))
  }

  test("DDL mid-stream: flush barrier + schema evolution (D3/D9 order)") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool2")

    // one batch containing: insert → ALTER ADD COLUMN → insert with new col
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpQuery,
        query = Some("ALTER TABLE users ADD COLUMN email varchar(100) AFTER name")),
      eventJson(3, "d", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob","email":"b@x.io","age":"40"}"""))))

    val q = pipeline.start(spool, tmpDir("graft-ckpt2"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()

    assert(registry("users").fields.map(_.name) ===
      Vector("id", "name", "email", "age"))
    val got = pipeline.table("users").read.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq === Seq((1, "ann", None), (2, "bob", Some("b@x.io"))))
  }

  test("a two-table batch split at one DDL runs at most 7 Spark jobs") {
    // the DDL collect, the segment manifest (its map stage and collect)
    // and, per flushed (segment, table), one collapse on the layout
    // exchange and the write: 1 + 2 + 2 × 2
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool-jobs")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpAdd, row = Some(row(2, "bob", 40))),
      eventJson(3, "d", "users", OpRemove, row = Some("""{"id":"2"}""")),
      eventJson(4, "d", "orders", OpQuery, query = Some(
        "CREATE TABLE orders (id bigint NOT NULL, total int, PRIMARY KEY(id))")),
      eventJson(5, "d", "orders", OpAdd, row = Some("""{"id":"7","total":"3"}""")),
      eventJson(6, "d", "orders", OpAdd, row = Some("""{"id":"7","total":"4"}"""))))
    val (_, jobs) = jobsOf(
      pipeline.processBatch(EventSpool.readBatch(spark, spool), 0))
    assert(jobs <= 7, s"$jobs jobs")
    assert(pipeline.table("users").read.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet ===
      Set((1, "ann", 30L)))
    assert(pipeline.table("orders").read.collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet === Set((7L, 4)))
  }

  test("LWW within a batch: later seq wins, insert-then-delete vanishes") {
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool3")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(5, "x", 1))),
      eventJson(2, "d", "users", OpAdd, row = Some(row(5, "y", 2))),
      eventJson(3, "d", "users", OpAdd, row = Some(row(6, "gone", 9))),
      eventJson(4, "d", "users", OpRemove, row = Some("""{"id":"6"}"""))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt3"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()
    val got = pipeline.table("users").read
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((5, "y")))
  }

  test("at-least-once redelivery: replayed batch re-applies no DDL (W1)") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool5")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpQuery,
        query = Some("ALTER TABLE users ADD COLUMN email varchar(100) AFTER name")),
      eventJson(3, "d", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob","email":"b@x.io","age":"40"}"""))))
    val batch = EventSpool.readBatch(spark, spool)
    pipeline.processBatch(batch, 0)
    // crash between registry checkpoint and stream commit → redelivery
    pipeline.processBatch(batch, 0)
    // the ALTER applied exactly once (seq watermark), rows collapse per key
    assert(registry("users").fields.map(_.name) ===
      Vector("id", "name", "email", "age"))
    assert(registry.lastDdlSeq === 2L)
    val got = pipeline.table("users").read.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq === Seq((1, "ann", None), (2, "bob", Some("b@x.io"))))
  }

  test("pt-osc rename dance: post-swap DML lands in the swapped table (D10)") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool6")
    // percona's online-ALTER: create a shadow table, backfill it, then
    // atomically swap (reference tests/test_ddl_operations.py:50-126)
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpQuery, query = Some(
        """CREATE TABLE `_users_new` (id int NOT NULL, name varchar(50),
          |  age int unsigned, email varchar(100), PRIMARY KEY(id))""".stripMargin)),
      eventJson(3, "d", "_users_new", OpAdd,
        row = Some("""{"id":"1","name":"ann","age":"30","email":"a@x.io"}""")),
      eventJson(4, "d", "users", OpQuery, query = Some(
        "RENAME TABLE `users` TO `_users_old`, `_users_new` TO `users`")),
      eventJson(5, "d", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob","age":"40","email":"b@x.io"}"""))))
    val batch = EventSpool.readBatch(spark, spool)
    pipeline.processBatch(batch, 0)

    assert(registry("users").fields.map(_.name) ===
      Vector("id", "name", "age", "email"))
    assert(registry.contains("default", "_users_old"))
    def usersNow() = pipeline.table("users").read.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(3))).toSeq
    assert(usersNow() === Seq((1, "ann", "a@x.io"), (2, "bob", "b@x.io")))
    // the pre-swap table survives under its archived name (warehouse move)
    assert(pipeline.table("_users_old").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "ann")))

    // redelivering the whole batch must not swap again or corrupt data
    pipeline.processBatch(batch, 0)
    assert(registry("users").fields.map(_.name) ===
      Vector("id", "name", "age", "email"))
    assert(usersNow() === Seq((1, "ann", "a@x.io"), (2, "bob", "b@x.io")))
  }

  test("multi-pair RENAME replay after a mid-statement crash keeps the archive") {
    // crash scenario: both pt-osc moves completed, journal markers
    // written, but the process died BEFORE registry.applyDdl advanced
    // the watermark — the redelivered statement must not treat the
    // archive as a stale leftover
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-rnj")
    val pipeline = new CdcPipeline(spark, GraftConfig(), registry, wh)
    val spool = tmpDir("graft-spool-rnj")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(
        """{"id":"1","name":"ann"}""")),
      eventJson(2, "d", "users", OpQuery, query = Some(
        "CREATE TABLE `_users_new` (id int NOT NULL, name varchar(50), email varchar(100), PRIMARY KEY(id))")),
      eventJson(3, "d", "_users_new", OpAdd, row = Some(
        """{"id":"1","name":"ann","email":"a@x.io"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)

    // hand-craft the crashed attempt's on-disk end state: both pairs of
    // "RENAME users TO _users_old, _users_new TO users" (seq 10) moved
    // and journaled, watermark NOT advanced
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(t: String) = new org.apache.hadoop.fs.Path(s"$wh/default/$t")
    assert(fs.rename(p("users"), p("_users_old")))
    assert(fs.rename(p("_users_new"), p("users")))
    val journal = new org.apache.hadoop.fs.Path(
      s"$wh/_state/rename_journal/default/10")
    fs.mkdirs(journal)
    fs.create(new org.apache.hadoop.fs.Path(journal, "pair-0"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(journal, "pair-1"), true).close()
    assert(registry.lastDdlSeq < 10)

    // the replayed statement (restart redelivers the batch)
    val spool2 = tmpDir("graft-spool-rnj2")
    writeFile(spool2, "000001.json", Seq(
      eventJson(10, "d", "users", OpQuery, query = Some(
        "RENAME TABLE `users` TO `_users_old`, `_users_new` TO `users`"))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool2), 1)

    // the archive SURVIVED the replay (the unjournaled path deleted it
    // as a stale target and moved the new table's dir onto it)
    assert(pipeline.table("_users_old").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "ann")))
    // the post-swap table is intact and the registry converged
    assert(registry("users").fields.map(_.name) ===
      Vector("id", "name", "email"))
    assert(pipeline.table("users").read.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1, "ann", "a@x.io")))
    // journal cleaned once the watermark committed
    assert(!fs.exists(journal))
  }

  test("ignore_deletes mode accumulates: REMOVEs dropped pre-collapse") {
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), age int, PRIMARY KEY(id))")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(ignoreDeletes = true), registry, tmpDir("graft-wh-igd"))
    val spool = tmpDir("graft-spool-igd")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpRemove, row = Some("""{"id":"1"}""")),
      eventJson(3, "d", "users", OpAdd, row = Some(row(2, "bob", 40))),
      // insert-then-delete inside one batch: the insert must survive
      eventJson(4, "d", "users", OpAdd, row = Some(row(3, "carl", 22))),
      eventJson(5, "d", "users", OpRemove, row = Some("""{"id":"3"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    val got = pipeline.table("users").read
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((1, "ann"), (2, "bob"), (3, "carl")))
  }

  test("F4 remap: target_databases/target_tables move warehouse paths only") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE users (id int NOT NULL, v int, PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-remap")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(targetDatabases = Map("default" -> "analytics"),
        targetTables = Map("default.users" -> "members")), registry, wh)
    val spool = tmpDir("graft-spool-remap")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some("""{"id":"1","v":"7"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    // data landed under the remapped path; source names still address it
    assert(new java.io.File(s"$wh/analytics/members/data").isDirectory)
    assert(!new java.io.File(s"$wh/default").exists)
    assert(pipeline.table("users").read.collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 7)))
  }

  test("compaction under live appends: wired tick, FINAL view never gaps (S11)") {
    val (pipeline, registry) = mkPipeline()
    // injectable clock: exactly one compaction per manual bump, so the
    // test controls when the grace epoch is garbage-collected
    var now = 0L
    pipeline.attachCompactor(new graft.operators.Compactor(
      () => registry.tableKeys,
      k => pipeline.table(k._1, k._2),
      interval = 1000L, clock = () => now))
    val spool = tmpDir("graft-spool-cmp")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpAdd, row = Some(row(2, "bob", 40)))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt-cmp"),
      Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable() // flush + in-loop compaction #1
      assert(pipeline.table("users").log.count() === 2) // collapsed
      // a reader planned between batches, against the compacted epoch
      val planned = pipeline.table("users").read
      now = 1000L // arm one more compaction
      writeFile(spool, "000002.json", Seq(
        eventJson(3, "d", "users", OpAdd, row = Some(row(1, "ann2", 31))),
        eventJson(4, "d", "users", OpAdd, row = Some(row(3, "carl", 22))),
        eventJson(5, "d", "users", OpRemove, row = Some("""{"id":"2"}"""))))
      q.processAllAvailable() // append + delete, then compaction #2 swaps
      // live FINAL view is exact right through the swap
      assert(pipeline.table("users").read.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet ===
        Set((1, "ann2", 31L), (3, "carl", 22L)))
      // physically collapsed again: tombstone + dead versions gone
      assert(pipeline.table("users").log.count() === 2)
      // the reader planned before compaction #2 still reads its complete
      // pre-batch-2 data from the grace epoch — no gap, no empty table
      assert(planned.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet ===
        Set((1, "ann", 30L), (2, "bob", 40L)))
    } finally q.stop()
  }

  test("Replicator: snapshot lands on pipeline paths; skip flag starts empty") {
    import spark.implicits._
    def drive(config: GraftConfig): Set[(Int, String, Long)] = {
      val registry = new SchemaRegistry
      registry.applySql(
        """CREATE TABLE users (id int NOT NULL, name varchar(50),
          |  age int unsigned, PRIMARY KEY(id))""".stripMargin)
      val spool = tmpDir("graft-spool-rep")
      writeFile(spool, "000001.json", Seq(
        eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann2", 31)))))
      val snap = Seq((1, "ann", "30"), (2, "bob", "40"))
        .toDF("id", "name", "age")
      val (pipeline, q) = Replicator.start(spark, config, registry,
        tmpDir("graft-wh-rep"), spool, tmpDir("graft-ckpt-rep"),
        snapshots = Map("users" -> snap),
        trigger = Trigger.ProcessingTime("50 milliseconds"))
      try q.processAllAvailable() finally q.stop()
      pipeline.table("users").read.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    }
    // snapshot + stream converge (stream update beats snapshot version 0)
    assert(drive(GraftConfig()) ===
      Set((1, "ann2", 31L), (2, "bob", 40L)))
    // skip_initial_replication: only streamed rows exist
    assert(drive(GraftConfig(skipInitialReplication = true)) ===
      Set((1, "ann2", 31L)))
  }

  test("Replicator restart does not re-run the initial snapshot") {
    import spark.implicits._
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-rs")
    val spool = tmpDir("graft-spool-rs")
    val ckpt = tmpDir("graft-ckpt-rs")
    val snap = Seq((1, "ann")).toDF("id", "name")
    def boot() = Replicator.start(spark, GraftConfig(), registry, wh,
      spool, ckpt, snapshots = Map("users" -> snap),
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    val (p1, q1) = boot()
    try q1.processAllAvailable() finally q1.stop()
    val logRows = p1.table("users").log.count()
    // crash + restart: the completion marker must skip the re-snapshot
    val (p2, q2) = boot()
    try q2.processAllAvailable() finally q2.stop()
    assert(p2.table("users").log.count() === logRows) // no duplicate image
    assert(p2.table("users").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "ann")))
  }

  test("post_initial_replication_commands run once, db-glob gated") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS pc_out")
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-pc")
    val spool = tmpDir("graft-spool-pc")
    val ckpt = tmpDir("graft-ckpt-pc")
    val outLoc = tmpDir("graft-pc-out")
    val config = graft.GraftConfig(postInitialCommands = Seq(
      // matching glob: runs against the replicated tables (temp views)
      graft.PostInitialCommands(Seq("def*"), Seq(
        s"CREATE TABLE pc_out USING parquet LOCATION '$outLoc/t' " +
          "AS SELECT * FROM users")),
      // non-matching db: must be filtered out (would throw if executed)
      graft.PostInitialCommands(Seq("other_db"),
        Seq("SELECT * FROM does_not_exist"))))
    val snap = Seq((1, "ann"), (2, "bob")).toDF("id", "name")
    def boot() = Replicator.start(spark, config, registry, wh, spool, ckpt,
      snapshots = Map("users" -> snap),
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    val (_, q1) = boot()
    try q1.processAllAvailable() finally q1.stop()
    // the command saw the full snapshot through the FINAL view
    assert(spark.table("pc_out").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "ann"), (2, "bob")))
    // restart: the marker skips the commands (a re-run would fail the
    // CREATE TABLE with "already exists")
    val (_, q2) = boot()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table("pc_out").count() === 2)
    spark.sql("DROP TABLE pc_out")
  }

  test("lag monitor (S12) reports batch progress for the stream") {
    val monitor = LagMonitor.attach(spark)
    // idle events fire every 10 s by default — shrink so the idle-lag
    // assertion below can observe one quickly
    val idleKey = "spark.sql.streaming.noDataProgressEventInterval"
    val prevIdle = spark.conf.getOption(idleKey)
    spark.conf.set(idleKey, "200ms")
    try {
      val (pipeline, _) = mkPipeline()
      val spool = tmpDir("graft-spool-lag")
      writeFile(spool, "000001.json", Seq(
        eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30)))))
      val q = pipeline.start(spool, tmpDir("graft-ckpt-lag"),
        Trigger.ProcessingTime("50 milliseconds"))
      try {
        q.processAllAvailable()
        // listener delivery is async — poll briefly
        val deadline = System.currentTimeMillis() + 10000
        var p = monitor.progress(q.id)
        while ((p.isEmpty || p.get.numInputRows == 0) &&
               System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          p = monitor.progress(q.id)
        }
        assert(p.nonEmpty, "no progress captured")
        assert(p.get.numInputRows >= 1L)
        assert(p.get.batchDurationMs >= 0L)
        assert(p.get.lagSeconds() >= 0.0 && p.get.lagSeconds() < 60.0)
        // Spark 4 emits QueryIdleEvent (not zero-row progress) when a
        // trigger sees no data: idle = caught up, so after 3 s of quiet
        // stream the lag must NOT have grown to ~3 s
        Thread.sleep(3000)
        val idle = monitor.progress(q.id).get
        assert(idle.lagSeconds() < 2.0,
          s"idle stream reported lag ${idle.lagSeconds()}s — " +
            "QueryIdleEvent not refreshing the observation clock")
      } finally q.stop()
    } finally {
      spark.streams.removeListener(monitor)
      prevIdle match {
        case Some(v) => spark.conf.set(idleKey, v)
        case None => spark.conf.unset(idleKey)
      }
    }
  }

  test("W6: kill and resume — checkpoint + schema state survive a restart") {
    val stateFile = tmpDir("graft-state-res") + "/state.json"
    val wh = tmpDir("graft-wh-res")
    val spool = tmpDir("graft-spool-res")
    val ckpt = tmpDir("graft-ckpt-res")
    def mk(): (CdcPipeline, SchemaRegistry) = {
      val registry = new SchemaRegistry("default", Some(stateFile))
      if (!registry.contains("users"))
        registry.applySql(
          """CREATE TABLE users (id int NOT NULL, name varchar(50),
            |  age int unsigned, PRIMARY KEY(id))""".stripMargin)
      (new CdcPipeline(spark, GraftConfig(), registry, wh), registry)
    }
    val (p1, _) = mk()
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      eventJson(2, "d", "users", OpQuery,
        query = Some("ALTER TABLE users ADD COLUMN email varchar(100)")),
      eventJson(3, "d", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob","email":"b@x.io","age":"40"}"""))))
    val q1 = p1.start(spool, ckpt, Trigger.ProcessingTime("50 milliseconds"))
    try q1.processAllAvailable() finally q1.stop()

    // "crash": fresh pipeline, registry reloaded from the state file —
    // it must carry the evolved schema AND the DDL watermark
    val (p2, r2) = mk()
    assert(r2("users").fields.map(_.name) ===
      Vector("id", "name", "age", "email"))
    assert(r2.lastDdlSeq === 2L)
    writeFile(spool, "000002.json", Seq(
      eventJson(4, "d", "users", OpAdd,
        row = Some("""{"id":"1","name":"ann2","email":"a@x.io","age":"31"}"""))))
    val q2 = p2.start(spool, ckpt, Trigger.ProcessingTime("50 milliseconds"))
    try q2.processAllAvailable() finally q2.stop()

    // file 1 was not re-ingested (checkpoint), the update superseded ann
    val got = p2.table("users").read.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(3))))
    assert(got.toSeq ===
      Seq((1, "ann2", Some("a@x.io")), (2, "bob", Some("b@x.io"))))
  }

  test("IF NOT EXISTS / IF EXISTS dance (test_ddl_operations.py:11-47)") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool-ine")
    // qualified + unqualified duplicate CREATEs must no-op; duplicate
    // qualified + unqualified DROPs must not kill the stream
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "default", "t1", OpQuery, query = Some(
        "CREATE TABLE IF NOT EXISTS `default`.`t1` (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(2, "default", "t1", OpQuery, query = Some(
        "CREATE TABLE IF NOT EXISTS `t1` (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(3, "default", "t2", OpQuery, query = Some(
        "CREATE TABLE IF NOT EXISTS `default`.t2 (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(4, "default", "t2", OpQuery, query = Some(
        "CREATE TABLE IF NOT EXISTS t2 (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(5, "default", "t1", OpQuery, query = Some(
        "DROP TABLE IF EXISTS `default`.t1")),
      eventJson(6, "default", "t1", OpQuery, query = Some(
        "DROP TABLE IF EXISTS t1"))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    assert(registry.contains("default", "t2"))
    assert(!registry.contains("default", "t1"))
    // watermark tracks the last DDL that reached the registry (seq 5,
    // the effective DROP); the second DROP is filtered before it
    assert(registry.lastDdlSeq === 5L)
  }

  test("multi-table DROP drops every listed table under one watermark") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool-mdrop")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "default", "a", OpQuery, query = Some(
        "CREATE TABLE a (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(2, "default", "b", OpQuery, query = Some(
        "CREATE TABLE b (id int NOT NULL, PRIMARY KEY(id))")),
      eventJson(3, "default", "c", OpQuery, query = Some(
        "CREATE TABLE c (id int NOT NULL, PRIMARY KEY(id))")),
      // all three in ONE statement: the seq guard must not skip b and c
      // after a's registry mutation bumps the watermark
      eventJson(4, "default", "a", OpQuery, query = Some(
        "DROP TABLE a, b, c"))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    assert(!registry.contains("default", "a"))
    assert(!registry.contains("default", "b"))
    assert(!registry.contains("default", "c"))
    assert(registry.contains("default", "users")) // untouched
    assert(registry.lastDdlSeq === 4L)
  }

  test("row images with unregistered extra columns are tolerated (dynamic cols)") {
    // the reference crashed on columns appearing in row data without an
    // ALTER (test_ddl_operations.py test_dynamic_column_addition_*);
    // parsing with the registered schema must just drop the extras
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool-dyn")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd,
        row = Some("""{"id":"1","name":"ann","age":"30","surprise":"x","extra2":"y"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    val got = pipeline.table("users").read.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((1, "ann", 30L)))
  }

  test("numeric limits through the pipeline (test_data_types.py:125-180)") {
    // the binlog decodes unsigned columns as SIGNED — near-max values
    // arrive negative on the wire and must come back fixed up (X1)
    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE nums (id int unsigned NOT NULL, t1 smallint,
        |  t2 smallint unsigned, t3 tinyint, t4 tinyint unsigned,
        |  t5 mediumint unsigned, t6 int unsigned, t7 bigint unsigned,
        |  t8 mediumint unsigned, PRIMARY KEY(id))""".stripMargin)
    val pipeline = new CdcPipeline(spark, GraftConfig(), registry,
      tmpDir("graft-wh-nums"))
    val spool = tmpDir("graft-spool-nums")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "nums", OpAdd, row = Some(
        """{"id":"1","t1":"-20000","t2":"-5536","t3":"-30","t4":"-6",
          |"t5":"-16","t6":"-6","t7":"-30"}""".stripMargin.replace("\n", "")))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    val got = pipeline.table("nums").read.selectExpr(
      "cast(id as string)", "cast(t1 as string)", "cast(t2 as string)",
      "cast(t3 as string)", "cast(t4 as string)", "cast(t5 as string)",
      "cast(t6 as string)", "cast(t7 as string)", "cast(t8 as string)")
      .head().toSeq
    assert(got === Seq("1", "-20000", "60000", "-30", "250",
      "16777200", "4294967290", "18446744073709551586", null))
  }

  test("multi-source dbs into one target db (test_multi_mysql_single_ch.py)") {
    val registry = new SchemaRegistry("src1")
    registry.applySql("src1", "CREATE TABLE t_a (id int NOT NULL, v int, PRIMARY KEY(id))")
    registry.applySql("src2", "CREATE TABLE t_b (id int NOT NULL, v int, PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-multi")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(targetDatabases =
        Map("src1" -> "shared", "src2" -> "shared")), registry, wh)
    val spool = tmpDir("graft-spool-multi")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "src1", "t_a", OpAdd, row = Some("""{"id":"1","v":"10"}""")),
      eventJson(2, "src2", "t_b", OpAdd, row = Some("""{"id":"2","v":"20"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    // both sources land under ONE target db, keyed by source upstream
    assert(new java.io.File(s"$wh/shared/t_a/data").isDirectory)
    assert(new java.io.File(s"$wh/shared/t_b/data").isDirectory)
    assert(pipeline.table("src1", "t_a").read.collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((1, 10)))
    assert(pipeline.table("src2", "t_b").read.collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq === Seq((2, 20)))
  }

  test("RENAME clears a stale target directory instead of nesting into it") {
    val (pipeline, registry) = mkPipeline()
    val spool = tmpDir("graft-spool-stale")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30)))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    // leftover directory from a previously dropped table at the target
    // path — hadoop rename would nest users/ inside it
    val wh = pipeline.tablePath("default", "users_v2")
    val stale = new java.io.File(s"$wh/data/junk")
    assert(stale.mkdirs())
    writeFile(spool, "000002.json", Seq(
      eventJson(2, "d", "users", OpQuery,
        query = Some("RENAME TABLE users TO users_v2"))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool)
      .filter(org.apache.spark.sql.functions.col("seq") === 2), 1)
    assert(!stale.exists) // stale dir replaced, not nested into
    assert(registry.contains("default", "users_v2"))
    assert(pipeline.table("users_v2").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "ann")))
  }

  test("PK-less scratch CREATE does not kill the stream (parse guard)") {
    val (pipeline, _) = mkPipeline()
    val spool = tmpDir("graft-spool-nopk")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd, row = Some(row(1, "ann", 30))),
      // no primary key and no id column: unparseable as a replicated
      // table — must be skipped, never crash-loop the stream
      eventJson(2, "d", "scratch_tmp", OpQuery,
        query = Some("CREATE TABLE scratch_tmp (a int, b varchar(5))")),
      eventJson(3, "d", "users", OpAdd, row = Some(row(2, "bob", 40)))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt-nopk"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()
    assert(pipeline.table("users").read.count() === 2)
  }

  test("db-qualified DDL from a non-matching session db still applies") {
    val registry = new SchemaRegistry
    registry.applySql("prod",
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(includeDatabases = Seq("prod")), registry,
      tmpDir("graft-wh-qd"))
    // a migration tool's session db is 'migrations' (binlog stamps the
    // SESSION db on the Query event); the statement targets prod.users
    val spool = tmpDir("graft-spool-qd")
    writeFile(spool, "000001.json", Seq(
      eventJson(2, "migrations", "users", OpQuery,
        query = Some("ALTER TABLE prod.users ADD COLUMN email varchar(100)"))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    assert(registry("prod", "users").fields.map(_.name).contains("email"),
      "qualified ALTER was dropped by the session-db filter")
  }

  test("pt-osc swap under an include-list keeps the table replicating") {
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(includeTables = Seq("users")), registry,
      tmpDir("graft-wh-ptoscf"))
    val spool = tmpDir("graft-spool-ptoscf")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "users", OpAdd,
        row = Some("""{"id":"1","name":"ann"}""")),
      // ghost table: a FILTERED name carrying the post-ALTER schema —
      // its schema must still be tracked for the swap to make sense
      eventJson(2, "d", "_users_new", OpQuery,
        query = Some("""CREATE TABLE _users_new (id int NOT NULL,
          | name varchar(50), email varchar(100),
          | PRIMARY KEY(id))""".stripMargin)),
      eventJson(3, "d", "users", OpQuery,
        query = Some("RENAME TABLE users TO _users_old, _users_new TO users")),
      // post-swap DML carries the new column and must land
      eventJson(4, "d", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob","email":"b@x.io"}"""))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt-ptoscf"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()
    val got = pipeline.table("users").read
    assert(got.columns.contains("email"),
      "swapped-in schema lost (rename pair with filtered source dropped)")
    // pre-swap history was archived with the swap; go-forward CDC applies
    assert(got.collect().map(r => (r.getInt(0), r.getString(1),
      r.getString(2))).toSet === Set((2, "bob", "b@x.io")))
  }

  test("payload columns named seq/op replicate (reserved-name collision)") {
    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE log_entries (id int NOT NULL, seq bigint,
        | op varchar(10), PRIMARY KEY(id))""".stripMargin)
    val pipeline = new CdcPipeline(spark, GraftConfig(), registry,
      tmpDir("graft-wh-seqcol"))
    val spool = tmpDir("graft-spool-seqcol")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "d", "log_entries", OpAdd,
        row = Some("""{"id":"1","seq":"99","op":"x"}""")),
      eventJson(2, "d", "log_entries", OpAdd,
        row = Some("""{"id":"1","seq":"100","op":"y"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    val got = pipeline.table("log_entries").read.collect()
    assert(got.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
      === Set((1, 100L, "y")))
  }

  test("idle-only stream still registers in the monitor (drained spool start)") {
    val m = new LagMonitor
    val id = java.util.UUID.randomUUID()
    // a stream started against an already-drained spool emits ONLY idle
    // events — it must still appear (batchId -1), or /health reports
    // queries:0 for a running stream
    // QueryIdleEvent's constructor is private[sql] — reflect it
    val ctor = classOf[org.apache.spark.sql.streaming
      .StreamingQueryListener.QueryIdleEvent].getDeclaredConstructor(
      classOf[java.util.UUID], classOf[java.util.UUID], classOf[String])
    ctor.setAccessible(true)
    m.onQueryIdle(ctor.newInstance(id, id, "2026-01-01T00:00:00Z"))
    assert(m.all.contains(id))
    assert(m.progress(id).get.batchId === -1L)
    assert(m.progress(id).get.lagSeconds() < 60.0)
  }

  test("a throwing gauge degrades /metrics, not the connection") {
    val server = new MonitorServer(new LagMonitor, "127.0.0.1", 0,
      gauges = () => throw new IllegalStateException("gauge boom"))
    try {
      val conn = java.net.URI
        .create(s"http://127.0.0.1:${server.port}/metrics")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 200)
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains(""""gauges_error":"IllegalStateException""""))
    } finally server.stop()
  }

  test("/metrics carries caller gauges (pending_staged_loads shape)") {
    var pending = 2L
    val server = new MonitorServer(new LagMonitor, "127.0.0.1", 0,
      gauges = () => Map("pending_staged_loads" -> pending))
    try {
      def metrics(): String = {
        val conn = java.net.URI
          .create(s"http://127.0.0.1:${server.port}/metrics")
          .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
        new String(conn.getInputStream.readAllBytes(), "UTF-8")
      }
      assert(metrics().contains(""""pending_staged_loads":2"""))
      pending = 0 // evaluated per request, not captured at bind time
      assert(metrics().contains(""""pending_staged_loads":0"""))
    } finally server.stop()
  }

  test("/metrics serves Main's gauges, codegen_compiles_total among them") {
    val (pipeline, registry) = mkPipeline()
    val server = new MonitorServer(new LagMonitor, "127.0.0.1", 0,
      gauges = graft.Main.gauges(spark, registry, pipeline))
    def compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    try {
      val before = compiles
      val conn = java.net.URI
        .create(s"http://127.0.0.1:${server.port}/metrics")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains(""""pending_staged_loads":0"""))
      // Spark's own compile counter, read when the request is served
      val served = """"codegen_compiles_total":(\d+)""".r
        .findFirstMatchIn(body).map(_.group(1).toLong)
      assert(served.exists(n => n >= before && n <= compiles), body)
      // memo residency, from the session's persisted RDDs: one held
      // RDD is at least one entry with bytes behind it
      val held = spark.sparkContext.parallelize(1 to 1000, 2).persist()
      try {
        held.count()
        val again = new String(java.net.URI
          .create(s"http://127.0.0.1:${server.port}/metrics").toURL
          .openConnection().getInputStream.readAllBytes(), "UTF-8")
        def gauge(name: String) = s""""$name":(\\d+)""".r
          .findFirstMatchIn(again).map(_.group(1).toLong)
        assert(gauge("memo_rdds").exists(_ >= 1), again)
        assert(gauge("memo_bytes").exists(_ > 0), again)
      } finally held.unpersist(blocking = true)
    } finally server.stop()
  }

  test("restart hook failure returns HTTP 500, not a dropped connection") {
    val server = new MonitorServer(new LagMonitor, "127.0.0.1", 0,
      restart = Some(() => throw new IllegalStateException("boom")))
    try {
      val conn = java.net.URI
        .create(s"http://127.0.0.1:${server.port}/restart_replication")
        .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode === 500)
      val body = new String(conn.getErrorStream.readAllBytes(), "UTF-8")
      assert(body.contains("boom"))
    } finally server.stop()
  }

  test("db/table glob filtering (F1) drops excluded traffic") {
    val registry = new SchemaRegistry
    registry.applySql("CREATE TABLE t1 (id int, v int, PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh4")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(includeDatabases = Seq("prod*"),
        excludeTables = Seq("tmp*")), registry, wh)
    val spool = tmpDir("graft-spool4")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "prod1", "t1", OpAdd, row = Some("""{"id":"1","v":"1"}""")),
      eventJson(2, "staging", "t1", OpAdd, row = Some("""{"id":"2","v":"2"}""")),
      eventJson(3, "prod2", "tmp_t1", OpAdd, row = Some("""{"id":"3","v":"3"}"""))))
    val q = pipeline.start(spool, tmpDir("graft-ckpt4"),
      Trigger.ProcessingTime("50 milliseconds"))
    try q.processAllAvailable() finally q.stop()
    val got = pipeline.table("t1").read.collect().map(_.getInt(0)).toSet
    assert(got === Set(1))
  }

  test("cross-db RENAME with an untracked source is rejected at admission (F4)") {
    // The reference drops a rename whose SOURCE table doesn't match
    // config and refuses cross-db renames outright
    // (db_replicator_realtime.py:249-255) — so admission
    // (ddlTargetsAdmittedDb) and applyDdl both gate on the source db;
    // admitted ops are never silent no-ops by construction.
    val registry = new SchemaRegistry("prod")
    registry.applySql("prod",
      "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")
    val wh = tmpDir("graft-wh-xrn")
    val pipeline = new CdcPipeline(spark,
      GraftConfig(includeDatabases = Seq("prod")), registry, wh)
    val spool = tmpDir("graft-spool-xrn")
    writeFile(spool, "000001.json", Seq(
      eventJson(1, "prod", "users", OpAdd,
        row = Some("""{"id":"1","name":"ann"}""")),
      // foreign session db; the statement renames otherdb.src INTO the
      // replicated db — the source is untracked, so the op is dropped
      // at the admission filter (never admitted-then-silently-ignored)
      eventJson(2, "migrations", "src", OpQuery,
        query = Some("RENAME TABLE otherdb.src TO prod.users2")),
      eventJson(3, "prod", "users", OpAdd,
        row = Some("""{"id":"2","name":"bob"}"""))))
    pipeline.processBatch(EventSpool.readBatch(spark, spool), 0)
    assert(!registry.contains("prod", "users2"),
      "untracked-source rename must not register a target table")
    assert(!new java.io.File(s"$wh/prod/users2").exists(),
      "untracked-source rename must not materialize a directory")
    // the rejected DDL neither crashed the batch nor split the segment's
    // DML away: both inserts applied
    assert(pipeline.table("prod", "users").read.count() === 2)
  }

  test("flush abort drains N blocked groups under ONE shared deadline") {
    import scala.concurrent.{Future, Promise}
    import scala.concurrent.duration._
    // 1 already-failed + 5 never-completing futures: the drain must
    // spend ~one deadline TOTAL (the first pending future exhausts it;
    // the rest time out instantly on timeLeft <= 0), not 5 deadlines
    val blocked = Seq.fill(5)(Promise[Unit]().future)
    val failed = Future.failed[Unit](new RuntimeException("flush boom"))
    val t0 = System.nanoTime()
    CdcPipeline.drainAll(failed +: blocked, 300.millis)
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 900.0,
      s"drain took ${elapsedMs}ms — deadlines are stacking per future")
    assert(elapsedMs >= 250.0,
      s"drain took ${elapsedMs}ms — never waited for the blocked flush")
  }
}
