package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.FinalView

/** The reference's CDC semantics expressed as queries over the `events`
  * fixture (event_id = binlog offset order, user_id = primary key):
  *
  *  - FINAL dedup view — ReplacingMergeTree(_version) + `final=1`
  *    (reference: clickhouse_api.py:275, db_replicator.py:202-211)
  *  - tombstone handling — physical deletes via erase()
  *    (reference: clickhouse_api.py:368-400)
  *  - last-write-wins collapse — the realtime insert buffer
  *    (reference: db_replicator_realtime.py:123-177)
  *  - `_version` stamping — per-table monotone counter
  *    (reference: clickhouse_api.py:303-366)
  *
  * All are formulated as `max_by` hash aggregates, not windows: partial
  * aggregation collapses each map partition to one row per key before the
  * shuffle, so at 100 TB the shuffle size is bounded by |keys|, not |rows|.
  */
object CdcQueries {

  // Exact nanosecond ordering (ts_ns long), matching the oracle's
  // `ORDER BY ts` over DuckDB's native ns timestamps.
  private val eventVersion = struct(col("ts_ns"), col("event_id"))

  /** Streaming twin of Tables.load's events normalization: raw-schema
    * reads see `ts` either as µs timestamp parquet (TIMESTAMP_NTZ, the
    * current fixture generation) or ns-precision longs (older
    * generations under nanosAsLong). Either way the result is a µs
    * TimestampType `ts` (session tz is UTC, so the NTZ cast is
    * instant-preserving). */
  private def eventTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Bench side-channel: the e2e query splits FIXTURE generation from
    * PIPELINE work and counts the replayed events, so the headline
    * events/s vs the reference's ~20k/s single-core realtime claim
    * (BASELINE.md) is a first-class per-round bench number instead of
    * being buried inside one query's wall-clock. */
  final case class E2eStats(events: Long, fixtureSec: Double,
                            pipelineSec: Double, fixtureGcMs: Long = 0L,
                            pipelineGcMs: Long = 0L) {
    def eventsPerSec: Double = if (pipelineSec > 0) events / pipelineSec else 0
  }
  @volatile var lastE2eStats: Option[E2eStats] = None

  /** Total JVM GC time so far, ms — phase-attribution probe for the e2e
    * stats (the sf10 spot showed 57% of cdc_e2e_replicate's wall in GC
    * with no split between fixture synthesis and pipeline work). */
  private def gcNowMs(): Long = {
    var s = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach { b => val t = b.getCollectionTime; if (t > 0) s += t }
    s
  }

  /** E2E fixture generation, split from replay so callers (the gated
    * query AND [[graft.tools.PhaseProbe]]) can build it ONCE outside
    * the timed region: insert/update/delete events derived from
    * lineitem, persisted and counted. Returns
    * (batch, nEvents, fixtureSec, fixtureGcMs). */
  def e2eFixture(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, Long, Double, Long) = {
    import graft.sources.EventSpool
    // (orderkey, linenumber) is not unique in the synthetic fixture —
    // collapse to one source row per pk so every event has a unique seq
    // (real binlogs give every event a distinct position)
    // persisted: all three event branches AND processBatch's two passes
    // (DDL scan, DML cache) read it — this is fixture generation, not
    // pipeline cost
    val li = t(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pk"),
      col("l_quantity").cast("int").as("qty"),
      col("l_returnflag").as("flag"),
      col("l_linenumber").as("ln"))
      .groupBy("pk").agg(max("qty").as("qty"), max("flag").as("flag"),
        max("ln").as("ln"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def ev(seq: org.apache.spark.sql.Column, op: String,
           row: org.apache.spark.sql.Column) = Seq(
      seq.as("seq"), lit("d").as("db"), lit("items").as("table"),
      lit(op).as("op"), lit(null).cast("string").as("query"), row.as("row"))
    def img(qty: org.apache.spark.sql.Column) = to_json(struct(
      col("pk").cast("string").as("pk"), qty.cast("string").as("qty"),
      col("flag").as("flag")))
    val inserts = li.select(ev(col("pk") * 3, EventSpool.OpAdd,
      img(col("qty"))): _*)
    val updates = li.filter(col("ln") % 3 === 0)
      .select(ev(col("pk") * 3 + 1, EventSpool.OpAdd,
        img(col("qty") + 100)): _*)
    val deletes = li.filter(col("ln") % 7 === 0)
      .select(ev(col("pk") * 3 + 2, EventSpool.OpRemove,
        to_json(struct(col("pk").cast("string").as("pk")))): _*)
    // materialize the fixture into cache FIRST, so the timed pipeline
    // pass measures replication work, not fixture synthesis
    val tFix0 = System.nanoTime()
    val gcFix0 = gcNowMs()
    val batch = inserts.unionByName(updates).unionByName(deletes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEvents = batch.count()
    ((batch, nEvents, (System.nanoTime() - tFix0) / 1e9,
      gcNowMs() - gcFix0))
  }

  /** One timed replication of the e2e fixture through a FRESH pipeline
    * (new registry, new warehouse at `wh`): wire-JSON parse → LWW
    * collapse → type conversion → versioned bucketed storage. Returns
    * (pipeline, pipelineSec, pipelineGcMs) — the caller reads
    * `pipeline.table("items")` and owns `wh` cleanup. */
  def e2eReplay(s: org.apache.spark.sql.SparkSession,
                batch: org.apache.spark.sql.DataFrame, wh: String)
      : (graft.streaming.CdcPipeline, Double, Long) = {
    import graft.ddl.SchemaRegistry
    import graft.streaming.CdcPipeline
    val registry = new SchemaRegistry
    registry.applySql(
      "CREATE TABLE items (pk bigint NOT NULL, qty int, flag varchar(1), PRIMARY KEY(pk))")
    val pipeline = new CdcPipeline(s, graft.GraftConfig(), registry, wh)
    val tPipe0 = System.nanoTime()
    val gcPipe0 = gcNowMs()
    pipeline.processBatch(batch, batchId = 0)
    (pipeline, (System.nanoTime() - tPipe0) / 1e9, gcNowMs() - gcPipe0)
  }

  val defs: Map[String, QueryFn] = Map(
    // A4: FINAL view — latest row per PK.
    "cdc_final_view" -> { (s, dir) =>
      FinalView.latestByKey(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts"), col("ts_ns")),
        Seq("user_id"), eventVersion)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), tsSeconds(col("ts")).as("ts_s"))
        .orderBy("user_id")
    },

    // A4 + S9: FINAL view with tombstones dropped ('error' plays the
    // REMOVE_EVENT role: a key whose latest image is a delete vanishes).
    "cdc_tombstone_final" -> { (s, dir) =>
      FinalView.finalView(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value"), col("ts_ns")),
        Seq("user_id"), eventVersion,
        isDelete = col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    },

    // A1: per-(key, attribute) last-write-wins collapse.
    "cdc_lww_collapse" -> { (s, dir) =>
      FinalView.latestByKey(
        t(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            col("ts_ns"), col("event_id")),
        Seq("user_id", "event_type"), eventVersion)
        .select(col("user_id"), col("event_type"), col("value").as("last_value"))
        .orderBy("user_id", "event_type")
    },

    // S8: _version stamping — monotone per-key sequence in offset order.
    "cdc_version_stamp" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_ns"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts_ns"))
        .withColumn("_version", row_number().over(w).cast("long"))
        .drop("ts_ns")
        .orderBy("user_id", "_version")
    },

    // A2/A3: consolidation aggregates — max version per key group (the
    // parallel-worker version merge) and lexicographic max over the PK
    // tuple (snapshot resume bookkeeping).
    "cdc_max_version" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(max(col("event_id")).as("max_event_id"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // E2E: the realtime replication loop itself — insert/update/delete
    // events derived from lineitem pushed through CdcPipeline.processBatch
    // (wire-JSON parse → LWW collapse → type conversion → versioned
    // bucketed storage → FINAL read). This is the engine's throughput
    // headline vs the reference's ~20k events/s single-core realtime
    // claim (BASELINE.md): at sf0.1 it replays ~900k events.
    "cdc_e2e_replicate" -> { (s, dir) =>
      val (batch, nEvents, fixtureSec, gcFix) = e2eFixture(s, dir)
      val wh = java.nio.file.Files.createTempDirectory("graft-e2e").toString
      val (pipeline, pipeSec, gcPipe) = e2eReplay(s, batch, wh)
      lastE2eStats = Some(E2eStats(nEvents, fixtureSec, pipeSec, gcFix, gcPipe))
      pipeline.table("items").read.orderBy("pk")
    },

    // The live-binlog route, end to end under the oracle: customer rows
    // rendered as Debezium change-event JSON (inserts + op:u updates +
    // op:d deletes + the CREATE TABLE as a schema-history event), dumped
    // to files, tailed through the PRODUCTION chain — DebeziumJson
    // normalization → SpoolProducer (admission, seq, rotation, resume
    // state) → spool — then replicated by CdcPipeline and read back
    // FINAL. The oracle recomputes the expected table from `customer`
    // directly, so the whole deployment recipe (README "Live binlog
    // deployment") is hash-verified, not just ScalaTest-covered.
    "cdc_debezium_ingest" -> { (s, dir) =>
      import graft.sources.{DebeziumTail, EventSpool, SpoolProducer}
      import graft.streaming.CdcPipeline
      import graft.ddl.SchemaRegistry
      val dump = java.nio.file.Files.createTempDirectory("graft-dbz-dump")
      val spool = java.nio.file.Files.createTempDirectory("graft-dbz-spool")
      val wh = java.nio.file.Files.createTempDirectory("graft-dbz-wh")
      def source(pos: org.apache.spark.sql.Column) =
        struct(lit("d").as("db"), lit("custs").as("table"),
          lit("b.1").as("file"), pos.as("pos")).as("source")
      val cust = t(s, dir, "customer").select(col("c_custkey").as("pk"),
        col("c_name").as("name"), col("c_mktsegment").as("seg"))
      def img(seg: org.apache.spark.sql.Column) = struct(
        col("pk"), col("name"), seg.as("seg"))
      val ddl = s.range(1).select(lit(0L).as("ord"), to_json(struct(struct(
        lit("d").as("databaseName"),
        lit("CREATE TABLE custs (pk bigint NOT NULL, name varchar(40), " +
          "seg varchar(12), PRIMARY KEY(pk))").as("ddl"),
        source(lit(0L))).as("payload"))).as("line"))
      val ins = cust.select((col("pk") * 3).as("ord"), to_json(struct(struct(
        img(col("seg")).as("after"), lit("c").as("op"),
        source(col("pk") * 3)).as("payload"))).as("line"))
      val upd = cust.filter(col("pk") % 5 === 0)
        .select((col("pk") * 3 + 1).as("ord"), to_json(struct(struct(
          img(col("seg")).as("before"), img(lit("UPDATED")).as("after"),
          lit("u").as("op"),
          source(col("pk") * 3 + 1)).as("payload"))).as("line"))
      val del = cust.filter(col("pk") % 11 === 0)
        .select((col("pk") * 3 + 2).as("ord"), to_json(struct(struct(
          img(col("seg")).as("before"), lit("d").as("op"),
          source(col("pk") * 3 + 2)).as("payload"))).as("line"))
      // one ordered dump file, like a console-consumer capture: binlog
      // order is the line order the tailer must preserve
      val staging = java.nio.file.Files.createTempDirectory("graft-dbz-st")
      ddl.unionByName(ins).unionByName(upd).unionByName(del)
        .orderBy("ord").select("line").coalesce(1)
        .write.mode("overwrite").text(staging.toString)
      val part = staging.toFile.listFiles()
        .find(_.getName.endsWith(".txt")).get
      assert(part.renameTo(new java.io.File(dump.toFile, "events.jsonl")))
      // the production chain: tail → normalize → produce → replicate
      val producer = new SpoolProducer(spool.toString, graft.GraftConfig())
      new DebeziumTail(dump.toString, producer).tick()
      val registry = new SchemaRegistry("d")
      val pipeline = new CdcPipeline(s, graft.GraftConfig(), registry,
        wh.toString)
      pipeline.processBatch(EventSpool.readBatch(s, spool.toString),
        batchId = 0)
      pipeline.table("custs").read.orderBy("pk")
    },

    // W4: Structured Streaming tumbling-window aggregation — the events
    // fixture replayed through readStream → window(1h) × event_type →
    // complete-mode memory sink (bounded: hours × types rows). Money sums
    // go through exact decimals so the streamed result is bit-equal to
    // the batch oracle regardless of arrival order.
    "cdc_stream_window" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val stream = streamTable(s, dir, "events").transform(eventTs)
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      val sink = "cdc_stream_window_sink"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(tsSeconds(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("w_start", "event_type")
    }},

    // W3 watermark semantics under the oracle: append-mode tumbling
    // windows with a 2 h watermark emit exactly the windows the final
    // watermark (max event time − delay) has closed — late-data
    // eviction is the assertion, not a liveness detail. The oracle
    // recomputes the same frontier in SQL: windows whose end ≤
    // max(ts) − 2 h.
    "cdc_watermark_window" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val stream = streamTable(s, dir, "events").transform(eventTs)
        .withWatermark("ts", "2 hours")
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      val sink = "cdc_watermark_window_sink"
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(tsSeconds(col("window.start")).as("w_start"),
          col("n"), col("sum_value"))
        .orderBy("w_start")
    }},

    // Schema evolution under the oracle gate: a 2-column table takes a
    // base load, an ALTER ADD COLUMN arrives MID-BATCH (the DDL flush
    // barrier splits the segment), and post-DDL updates carry the new
    // column. The FINAL read aligns the pre-DDL generation (seg = NULL)
    // with the post-DDL one — D3 + generation re-projection, previously
    // ScalaTest-only, now hash-matched against SQL.
    "cdc_schema_evolve" -> { (s, dir) =>
      import s.implicits._
      import graft.ddl.SchemaRegistry
      import graft.sources.EventSpool
      import graft.streaming.CdcPipeline
      val registry = new SchemaRegistry
      registry.applySql(
        "CREATE TABLE accts (pk bigint NOT NULL, qty int, PRIMARY KEY(pk))")
      val wh = java.nio.file.Files.createTempDirectory("graft-evolve").toString
      val pipeline = new CdcPipeline(s, graft.GraftConfig(), registry, wh)
      val cust = t(s, dir, "customer")
      def ev(seq: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column) =
        Seq(seq.as("seq"), lit("d").as("db"), lit("accts").as("table"),
          lit(EventSpool.OpAdd).as("op"),
          lit(null).cast("string").as("query"), row.as("row"))
      val base = cust.select(ev(col("c_custkey"),
        to_json(struct(col("c_custkey").cast("string").as("pk"),
          col("c_nationkey").cast("string").as("qty")))): _*)
      val ddl = Seq((1000000000L, "d", "accts", EventSpool.OpQuery,
        "ALTER TABLE accts ADD COLUMN seg varchar(16)", null: String))
        .toDF("seq", "db", "table", "op", "query", "row")
      val updates = cust.filter(col("c_custkey") % 3 === 0)
        // + 1: the DDL barrier is exclusive at its own seq, so the first
        // update must sit strictly above the DDL event
        .select(ev(lit(1000000001L) + col("c_custkey"),
          to_json(struct(col("c_custkey").cast("string").as("pk"),
            (col("c_nationkey") + 100).cast("string").as("qty"),
            col("c_mktsegment").as("seg")))): _*)
      pipeline.processBatch(base.unionByName(ddl).unionByName(updates),
        batchId = 0)
      pipeline.table("accts").read.orderBy("pk")
    },

    // TRUNCATE mid-batch under the oracle gate (D11): full load, a
    // TRUNCATE at the flush barrier, then a partial reload — the FINAL
    // view must show ONLY the reloaded keys (a truncate that merely
    // tombstoned, or a barrier that leaked pre-truncate rows past it,
    // both fail the hash).
    "cdc_truncate_reload" -> { (s, dir) =>
      import s.implicits._
      import graft.ddl.SchemaRegistry
      import graft.sources.EventSpool
      import graft.streaming.CdcPipeline
      val registry = new SchemaRegistry
      registry.applySql(
        "CREATE TABLE accts2 (pk bigint NOT NULL, qty int, PRIMARY KEY(pk))")
      val wh = java.nio.file.Files.createTempDirectory("graft-trunc").toString
      val pipeline = new CdcPipeline(s, graft.GraftConfig(), registry, wh)
      val cust = t(s, dir, "customer")
      def ev(seq: org.apache.spark.sql.Column) =
        Seq(seq.as("seq"), lit("d").as("db"), lit("accts2").as("table"),
          lit(EventSpool.OpAdd).as("op"),
          lit(null).cast("string").as("query"),
          to_json(struct(col("c_custkey").cast("string").as("pk"),
            col("c_nationkey").cast("string").as("qty"))).as("row"))
      val base = cust.select(ev(col("c_custkey")): _*)
      val ddl = Seq((1000000000L, "d", "accts2", EventSpool.OpQuery,
        "TRUNCATE TABLE accts2", null: String))
        .toDF("seq", "db", "table", "op", "query", "row")
      val reload = cust.filter(col("c_custkey") % 5 === 0)
        .select(ev(lit(1000000001L) + col("c_custkey")): _*)
      pipeline.processBatch(base.unionByName(ddl).unionByName(reload),
        batchId = 0)
      pipeline.table("accts2").read.orderBy("pk")
    },

    // Time travel: three versioned appends (one LWW image per user per
    // version), then the FINAL view as of version 2 — the newest ≤ 2
    // image per key wins, version-3 rows never reach the aggregate
    // (min/max-skipped at the scan). The oracle replays the same
    // construction in SQL.
    "cdc_time_travel" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types._
      val wh = java.nio.file.Files.createTempDirectory("graft-tt").toString
      val table = graft.operators.GraftTable(s, s"$wh/events_tt",
        Seq("user_id"), StructType(Seq(
          StructField("user_id", LongType), StructField("event_id", LongType),
          StructField("value", DoubleType))))
      val ev = t(s, dir, "events")
        .select("user_id", "event_id", "value", "ts_ns")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_ns").desc, col("event_id").desc)
      for (v <- 1 to 3) {
        val batch = ev.filter(col("event_id") % 3 === v - 1)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn", "ts_ns")
        table.append(batch, v)
      }
      table.readAsOf(2).orderBy("user_id")
    },

    // Stream-stream interval join: purchases and clicks as two
    // watermarked streams, joined per user with a 24 h look-back range.
    // Spark keeps per-key state bounded by the watermark (48 h ≥ the
    // 24 h range, so no match is evicted early); the range rides the
    // user-id equi join as an event-time constraint, exactly the
    // streaming twin of the banded range join. Timestamps are µs-exact
    // in the fixture, so the streamed pairs hash-match the batch oracle.
    "cdc_stream_join" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      def side(tpe: String, prefix: String) =
        streamTable(s, dir, "events").transform(eventTs)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${prefix}_user"),
          col("event_id").as(s"${prefix}_event"),
          col("ts").as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "48 hours")
      val joined = side("purchase", "p").join(side("click", "c"),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS") &&
          col("c_ts") < col("p_ts"))
      val sink = "cdc_stream_join_sink"
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink)
        .select(col("p_event"), col("c_event"), col("p_user").as("user_id"),
          tsSeconds(col("p_ts")).as("p_ts_s"), tsSeconds(col("c_ts")).as("c_ts_s"))
        .orderBy("p_event", "c_event")
    }},

    // Streaming materialized view: the windowed aggregate maintained IN
    // the versioned store — update-mode emits changed groups per
    // micro-batch, foreachBatch upserts them at version batchId+1, and
    // the FINAL view always shows each group's latest image. This is
    // the piece that turns the storage engine into a live sink for any
    // streaming aggregation, not just the CDC feed.
    "cdc_stream_matview" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      val wh = java.nio.file.Files.createTempDirectory("graft-mv").toString
      val table = graft.operators.GraftTable(s, s"$wh/mv",
        Seq("w_start", "event_type"), StructType(Seq(
          StructField("w_start", StringType),
          StructField("event_type", StringType),
          StructField("n", LongType),
          StructField("sum_value", DoubleType))))
      val agg = streamTable(s, dir, "events").transform(eventTs)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(tsSeconds(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_value"))
      val q = agg.writeStream.outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          table.append(batch, id + 1)
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      table.read.orderBy("w_start", "event_type")
    }},

    // W4 session windows: gap-based sessionization of the event feed —
    // Spark's native session_window (start = first event, end = last
    // event + gap, sessions merge while consecutive gaps stay under the
    // threshold). Batch form here; the same expression drops into the
    // streaming aggregation. Oracle = gaps-and-islands SQL on µs-cast
    // timestamps so both engines compare identical values.
    "cdc_session_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
        .select(col("user_id"),
          tsSeconds(col("sw.start")).as("s_start"),
          tsSeconds(col("sw.end")).as("s_end"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "s_start")
    },

    // S5 — REAL binary binlog decode under the gate: every document
    // becomes a standalone v4 binlog FILE (CRC32-checksummed FDE, GTID,
    // BEGIN, TABLE_MAP with SIGNEDNESS + COLUMN_NAME TLVs, v2
    // WRITE/UPDATE/DELETE rows events, XID, ROTATE) over a 22-column
    // table exercising every supported wire type — signed/unsigned ints
    // of all five widths, float/double, 1- and 2-byte VARCHAR lengths,
    // packed CHAR metadata, BLOB, the DATE bitfield (incl. the
    // 0000-00-00 → NULL sentinel), DATETIME2/TIMESTAMP2/TIME2 with
    // odd/even fsp packing, YEAR, NEWDECIMAL compressed groups with the
    // complement sign encoding, BIT, ENUM/SET via STRING metadata, and
    // binary-JSON columns — decoded map-side through real CRC checks.
    // The oracle re-derives all 22 values per image from the seed grid
    // s = doc_id*5 + k, so a bitfield off-by-one, a complement slip, or
    // a null-bitmap misindex diverges the hash.
    "cdc_binlog_decode" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Partitioning.spread(
          t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .flatMap(graft.sources.BinlogFixture.gateRowsFor _)
        .toDF()
        .orderBy("doc_id", "img")
    },

    // S5 + binlog_row_value_options=PARTIAL_JSON: per document, a
    // binlog file whose JSON column is updated through a
    // PARTIAL_UPDATE_ROWS_EVENT (39) — a serialized DIFF SEQUENCE
    // (REPLACE/INSERT/REMOVE over member, nested-member and
    // array-element paths, the reference's json_binary.py JsonDiff
    // grammar) the decoder must MATERIALIZE against the before-image
    // document. The oracle re-derives both the before and the
    // materialized after text from the same seed arithmetic, so the
    // path walk, MySQL key ordering on insert, and array
    // insert-at-clamped-index semantics are all hash-pinned.
    "cdc_binlog_partial" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Partitioning.spread(
          t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(graft.sources.BinlogFixture.partialGateRowFor _)
        .toDF()
        .orderBy("doc_id")
    },

    // MySQL 8 binlog_transaction_compression=ON: the decode
    // transaction WRAPPED in a TRANSACTION_PAYLOAD event (40) — TLV
    // codec header, ZSTD for even ids / compression NONE for odd,
    // checksum-free inner events sharing the outer TABLE_MAP state —
    // a layout the reference's vendored decoder cannot read at all.
    // match_plain compares every unwrapped row image against the
    // plain route's (hash-pinned by cdc_binlog_decode), so the
    // payload path carries full value correctness.
    "cdc_binlog_tpayload" -> { (s, dir) =>
      import s.implicits._
      graft.operators.Partitioning.spread(
          t(s, dir, "documents").select(col("doc_id"))).as[Long]
        .map(graft.sources.BinlogFixture.tpayloadRowFor _)
        .toDF()
        .orderBy("doc_id")
    },

    // S5 end to end: customer rows encoded into rotated BINARY binlog
    // segments (range-sharded, one segment per shard, DDL in the first
    // segment like a schema-history bootstrap), tailed through the
    // PRODUCTION chain — BinlogTail (decode, CRC verify, normalize) →
    // SpoolProducer → spool → CdcPipeline — and read back FINAL. Same
    // change pattern as cdc_debezium_ingest (update pk%5, delete
    // pk%11), so the binary-file transport is hash-verified to converge
    // on the identical replica the JSON transport produces.
    "cdc_binlog_ingest" -> { (s, dir) =>
      import graft.sources.{BinlogFixture, BinlogTail, EventSpool,
        SpoolProducer}
      import graft.streaming.CdcPipeline
      import graft.ddl.SchemaRegistry
      val dump = java.nio.file.Files.createTempDirectory("graft-blg-dump")
      val spool = java.nio.file.Files.createTempDirectory("graft-blg-spool")
      val wh = java.nio.file.Files.createTempDirectory("graft-blg-wh")
      java.nio.file.Files.write(dump.resolve("b.000001.bin"),
        BinlogFixture.custSegment(Seq.empty, withDdl = true,
          nextFile = "b.000002.bin"))
      val dumpPath = dump.toString
      t(s, dir, "customer")
        .select(col("c_custkey").as("pk"), col("c_name").as("name"),
          col("c_mktsegment").as("seg"))
        .repartitionByRange(4, col("pk"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val rows = it.map(r =>
            (r.getLong(0), r.getString(1), r.getString(2))).toSeq
          if (rows.nonEmpty) {
            val idx = org.apache.spark.TaskContext.getPartitionId() + 2
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dumpPath, f"b.$idx%06d.bin"),
              BinlogFixture.custSegment(rows, withDdl = false,
                nextFile = f"b.${idx + 1}%06d.bin"))
          }
          ()
        }
      val producer = new SpoolProducer(spool.toString, graft.GraftConfig())
      new BinlogTail(dumpPath, producer, consumeActive = true).tick()
      val pipeline = new CdcPipeline(s, graft.GraftConfig(),
        new SchemaRegistry("d"), wh.toString)
      pipeline.processBatch(EventSpool.readBatch(s, spool.toString),
        batchId = 0)
      pipeline.table("custs").read.orderBy("pk")
    },

    // S4/S5, MariaDB dialect: the same customer change pattern through
    // MariaDB-flavored binlog segments — v1 rows events (no extra-data
    // field), binlog_checksum=NONE framing, MariaDB GTID (162) /
    // GTID_LIST / BINLOG_CHECKPOINT / ANNOTATE_ROWS control events —
    // tailed through the identical production chain, so BOTH server
    // dialects are hash-verified to converge on the replica the
    // Debezium JSON route produces (the reference speaks this dialect
    // natively: binlogstream.py:186, 396-397, constants/BINLOG.py:47).
    "cdc_binlog_mariadb" -> { (s, dir) =>
      import graft.sources.{BinlogFixture, BinlogTail, EventSpool,
        SpoolProducer}
      import graft.streaming.CdcPipeline
      import graft.ddl.SchemaRegistry
      val dump = java.nio.file.Files.createTempDirectory("graft-mdb-dump")
      val spool = java.nio.file.Files.createTempDirectory("graft-mdb-spool")
      val wh = java.nio.file.Files.createTempDirectory("graft-mdb-wh")
      java.nio.file.Files.write(dump.resolve("maria-bin.000001.bin"),
        BinlogFixture.mariaSegment(Seq.empty, withDdl = true,
          nextFile = "maria-bin.000002.bin"))
      val dumpPath = dump.toString
      t(s, dir, "customer")
        .select(col("c_custkey").as("pk"), col("c_name").as("name"),
          col("c_mktsegment").as("seg"))
        .repartitionByRange(4, col("pk"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val rows = it.map(r =>
            (r.getLong(0), r.getString(1), r.getString(2))).toSeq
          if (rows.nonEmpty) {
            val idx = org.apache.spark.TaskContext.getPartitionId() + 2
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dumpPath, f"maria-bin.$idx%06d.bin"),
              BinlogFixture.mariaSegment(rows, withDdl = false,
                nextFile = f"maria-bin.${idx + 1}%06d.bin"))
          }
          ()
        }
      val producer = new SpoolProducer(spool.toString, graft.GraftConfig())
      new BinlogTail(dumpPath, producer, consumeActive = true).tick()
      val pipeline = new CdcPipeline(s, graft.GraftConfig(),
        new SchemaRegistry("d"), wh.toString)
      pipeline.processBatch(EventSpool.readBatch(s, spool.toString),
        batchId = 0)
      pipeline.table("custs").read.orderBy("pk")
    },

    // S1/S3: deterministic worker sharding of a snapshot scan —
    // pmod(crc32(concat_ws('|', pk)), W) = w (reference mysql_api.py:124-133).
    // Spark's crc32 has no DuckDB twin, so the oracle checks shard *sizes*
    // via an expressible hash instead; the crc32 variant is asserted in
    // ScalaTest (sum of shard sizes == table size, shards disjoint).
    "cdc_shard_assign" -> { (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          pmod(crc32(concat_ws("|", col("c_custkey"))), lit(4)).as("shard"))
        .groupBy("shard").agg(count(lit(1)).as("n"))
        .select(sum("n").as("total_rows"), count(lit(1)).as("n_shards"))
    }
  )

  val oracles: Map[String, String] = Map(
    "cdc_final_view" ->
      s"""SELECT user_id, event_id, event_type, value,
         |  ${sqlTsSeconds("ts")} AS ts_s
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "cdc_tombstone_final" ->
      """SELECT user_id, event_id, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""".stripMargin,

    "cdc_lww_collapse" ->
      """SELECT user_id, event_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "cdc_version_stamp" ->
      """SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS _version
        |FROM events ORDER BY user_id, _version""".stripMargin,

    "cdc_max_version" ->
      """SELECT event_type, MAX(event_id) AS max_event_id, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_e2e_replicate" ->
      """SELECT pk,
        |  CAST(CASE WHEN ln % 3 = 0 THEN qty + 100 ELSE qty END AS INT) AS qty,
        |  flag
        |FROM (SELECT pk, MAX(qty) AS qty, MAX(flag) AS flag, MAX(ln) AS ln
        |      FROM (SELECT l_orderkey * 10 + l_linenumber AS pk,
        |              CAST(l_quantity AS INT) AS qty,
        |              l_returnflag AS flag, l_linenumber AS ln
        |            FROM lineitem)
        |      GROUP BY pk)
        |WHERE ln % 7 <> 0 ORDER BY pk""".stripMargin,

    // Re-derives all 22 decoded wire values per row image from the
    // fixture's seed grid s = doc_id*5 + k (k: w0,w1,ub,ua,d) — string
    // contents by chr() arithmetic, temporals by printf of the same
    // field math the bitfields pack, the decimal canonical text by
    // lpad, the negative-TIME2 sign by the same s%5 rule the two's
    // complement encodes.
    "cdc_binlog_decode" ->
      """WITH g AS (SELECT doc_id, k, doc_id*5 + k AS s,
        |    CASE k WHEN 0 THEN 'w0' WHEN 1 THEN 'w1' WHEN 2 THEN 'ub'
        |      WHEN 3 THEN 'ua' ELSE 'd' END AS img
        |  FROM documents, LATERAL (SELECT unnest(range(5)) AS k))
        |SELECT doc_id, img,
        |  CAST(s*1000003 - 500000000 AS BIGINT) AS pk,
        |  CAST(s % 256 - 128 AS INT) AS ti,
        |  CAST((s*7) % 65536 - 32768 AS INT) AS sh,
        |  CAST((s*131) % 16777216 - 8388608 AS INT) AS i24,
        |  CAST((s*2654435) % 4294967296 - 2147483648 AS BIGINT) AS i32,
        |  CAST((s*40503) % 4294967296 AS BIGINT) AS u32,
        |  CAST((s % 1000) / 4.0 AS DOUBLE) AS fl,
        |  CAST((s % 100000) / 8.0 AS DOUBLE) AS db,
        |  CASE WHEN s % 7 = 3 THEN NULL ELSE 'v' || s || '-' ||
        |    coalesce(array_to_string(list_transform(range(s % 20),
        |      k2 -> chr(CAST(97 + (s + k2) % 26 AS INT))), ''), '') END
        |    AS vc,
        |  array_to_string(list_transform(range(200 + s % 90),
        |    j -> chr(CAST(97 + (s + 3*j) % 26 AS INT))), '') AS vl,
        |  'c' || (s % 1000) AS ch,
        |  array_to_string(list_transform(range(10 + s % 40),
        |    j -> chr(CAST(97 + (s + 17*j) % 26 AS INT))), '') AS bl,
        |  CASE WHEN s % 13 = 12 THEN NULL ELSE printf('%04d-%02d-%02d',
        |    1990 + s % 40, 1 + s % 12, 1 + s % 28) END AS dt,
        |  printf('%04d-%02d-%02d %02d:%02d:%02d.%03d', 2000 + s % 30,
        |    1 + s % 12, 1 + (s*11) % 28, s % 24, (s*3) % 60, (s*7) % 60,
        |    s % 1000) AS dt2,
        |  CAST(1400000000 + (s*97) % 500000000 AS BIGINT) AS ts2,
        |  CAST((CASE WHEN s % 5 = 0 THEN -1 ELSE 1 END) *
        |    (((1 + s % 199)*3600 + ((s*13) % 60)*60 + (s*17) % 60)
        |      * 1000000 + (s % 100) * 10000) AS BIGINT) AS tm,
        |  CAST(1901 + s % 155 AS INT) AS yr,
        |  (CASE WHEN s % 3 = 0 AND ((s*7919123) % 10000000000 > 0
        |      OR (s*37) % 10000 > 0) THEN '-' ELSE '' END)
        |    || CAST((s*7919123) % 10000000000 AS VARCHAR) || '.'
        |    || lpad(CAST((s*37) % 10000 AS VARCHAR), 4, '0') AS dc,
        |  CAST(s % 4096 AS INT) AS bt,
        |  CAST(1 + s % 3 AS INT) AS en,
        |  CAST(s % 16 AS INT) AS st,
        |  CASE WHEN s % 11 = 7 THEN NULL ELSE
        |    '{"a":' || (s % 1000 - 500) || ',"b":"t' || (s % 7) ||
        |    '","c":[' || (s % 5) || ',' ||
        |    (CASE s % 3 WHEN 0 THEN 'true' WHEN 1 THEN 'false'
        |      ELSE 'null' END) || '],"d":' ||
        |    CAST((s % 200) / 2.0 AS VARCHAR) || '}' END AS js
        |FROM g ORDER BY doc_id, img""".stripMargin,

    // same expected replica as cdc_debezium_ingest: the two transports
    // (binary binlog files vs Debezium JSON) must converge
    "cdc_binlog_ingest" ->
      """SELECT c_custkey AS pk, c_name AS name,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED'
        |       ELSE c_mktsegment END AS seg
        |FROM customer WHERE c_custkey % 11 <> 0
        |ORDER BY pk""".stripMargin,

    // the MariaDB-dialect transport converges on the identical replica
    "cdc_binlog_mariadb" ->
      """SELECT c_custkey AS pk, c_name AS name,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED'
        |       ELSE c_mktsegment END AS seg
        |FROM customer WHERE c_custkey % 11 <> 0
        |ORDER BY pk""".stripMargin,

    // the materialized after-image re-derived by string arithmetic:
    // REPLACE $.a / $.b / $.c[1] / $.d.y, INSERT $.c[3] (array append)
    // and $.e (new member, sorted into key order), REMOVE $.b (every
    // 3rd id) and $.d.y (every 4th) — canonical text, keys in MySQL
    // (length, bytes) order, no whitespace
    "cdc_binlog_partial" ->
      """SELECT doc_id, doc_id AS pk, 6 AS n_diffs,
        |  '{"a":' || (doc_id % 1000 - 500) ||
        |    ',"b":"t' || (doc_id % 7) ||
        |    '","c":[' || (doc_id % 5) || ',' || (doc_id % 11) || ',' ||
        |    (doc_id % 17) ||
        |    '],"d":{"x":' || (doc_id % 13) ||
        |    ',"y":"u' || (doc_id % 3) || '"}}' AS before_js,
        |  '{"a":' || (doc_id % 100 - 50) ||
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE ',"b":"r' || (doc_id % 19) || '"' END ||
        |    ',"c":[' || (doc_id % 5) || ',' || (doc_id % 9) || ',' ||
        |    (doc_id % 17) || ',' || (doc_id % 23) ||
        |    '],"d":{"x":' || (doc_id % 13) ||
        |    CASE WHEN doc_id % 4 = 0 THEN ''
        |         ELSE ',"y":"w' || (doc_id % 5) || '"' END ||
        |    '},"e":"n' || (doc_id % 7) || '"}' AS after_js
        |FROM documents ORDER BY doc_id""".stripMargin,

    // six inner events (BEGIN, TABLE_MAP, 3 rows events, XID), seven
    // row images, and the codec the fixture chose by parity; the
    // decompression + unwrap correctness rides match_plain
    "cdc_binlog_tpayload" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ZSTD' ELSE 'NONE' END
        |    AS compression,
        |  6 AS inner_events, 5 AS n_rows, TRUE AS match_plain
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the expected replica, recomputed from the source table: updates
    // overwrite seg for pk % 5 = 0, deletes drop pk % 11 = 0
    "cdc_debezium_ingest" ->
      """SELECT c_custkey AS pk, c_name AS name,
        |  CASE WHEN c_custkey % 5 = 0 THEN 'UPDATED'
        |       ELSE c_mktsegment END AS seg
        |FROM customer WHERE c_custkey % 11 <> 0
        |ORDER BY pk""".stripMargin,

    "cdc_stream_window" ->
      s"""SELECT ${sqlTsSeconds("time_bucket(INTERVAL 1 HOUR, ts)")} AS w_start,
         |  event_type, COUNT(*) AS n,
         |  ${sqlMoneySum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // the materialized view converges to the same aggregate the batch
    // computes — update-mode re-emissions collapse in the FINAL view
    "cdc_stream_matview" ->
      s"""SELECT ${sqlTsSeconds("time_bucket(INTERVAL 1 HOUR, ts)")} AS w_start,
         |  event_type, COUNT(*) AS n,
         |  ${sqlMoneySum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "cdc_watermark_window" ->
      s"""WITH m AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mx FROM events),
         |w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart,
         |    COUNT(*) AS n, ${sqlMoneySum("value")} AS sum_value
         |  FROM events GROUP BY 1)
         |SELECT ${sqlTsSeconds("wstart")} AS w_start, n, sum_value
         |FROM w, m
         |WHERE wstart + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
         |ORDER BY w_start""".stripMargin,

    "cdc_session_window" ->
      s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
         |  FROM events),
         |b AS (SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |      OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR THEN 1 ELSE 0
         |    END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM b)
         |SELECT user_id,
         |  ${sqlTsSeconds("MIN(ts)")} AS s_start,
         |  ${sqlTsSeconds("MAX(ts) + INTERVAL 1 HOUR")} AS s_end,
         |  COUNT(*) AS n, ${sqlMoneySum("value")} AS sum_value
         |FROM s GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,

    "cdc_schema_evolve" ->
      """SELECT c_custkey AS pk,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN c_nationkey + 100
        |       ELSE c_nationkey END AS INT) AS qty,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment END AS seg
        |FROM customer ORDER BY pk""".stripMargin,

    "cdc_truncate_reload" ->
      """SELECT c_custkey AS pk, CAST(c_nationkey AS INT) AS qty
        |FROM customer WHERE c_custkey % 5 = 0 ORDER BY pk""".stripMargin,

    "cdc_time_travel" ->
      """WITH lww AS (
        |  SELECT user_id, event_id, value, (event_id % 3) + 1 AS v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_id % 3
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |  WHERE rn = 1),
        |tt AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY v DESC) AS rv
        |  FROM lww WHERE v <= 2)
        |SELECT user_id, event_id, value FROM tt WHERE rv = 1
        |ORDER BY user_id""".stripMargin,

    "cdc_stream_join" ->
      s"""SELECT p.event_id AS p_event, c.event_id AS c_event,
         |  p.user_id AS user_id,
         |  ${sqlTsSeconds("p.ts")} AS p_ts_s, ${sqlTsSeconds("c.ts")} AS c_ts_s
         |FROM events p JOIN events c ON p.user_id = c.user_id
         |  AND p.event_type = 'purchase' AND c.event_type = 'click'
         |  AND c.ts >= p.ts - INTERVAL 24 HOUR AND c.ts < p.ts
         |ORDER BY p_event, c_event""".stripMargin,

    "cdc_shard_assign" ->
      """SELECT CAST(SUM(n) AS BIGINT) AS total_rows, COUNT(*) AS n_shards
        |FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey % 4)""".stripMargin
  )
}
