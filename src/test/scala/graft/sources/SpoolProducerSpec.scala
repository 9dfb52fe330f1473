package graft.sources

import graft.{GraftConfig, SparkSpec}

/** The realtime producer route: Debezium JSON envelopes → [[SourceEvent]]
  * normalization → [[SpoolProducer]] admission/rotation/resume →
  * the standard spool the pipeline tails ([[graft.Main]]).
  */
class SpoolProducerSpec extends SparkSpec {

  // -------------------------------------------------- envelope parsing

  test("debezium: c/u/r → ADD after-image, d → REMOVE before-image") {
    val ins = DebeziumJson.parse(
      """{"payload":{"before":null,"after":{"id":1,"name":"ann"},
        |"source":{"db":"shop","table":"users","file":"binlog.000003","pos":154},
        |"op":"c","ts_ms":1}}""".stripMargin.replace("\n", ""))
    assert(ins.event === Some(SourceEvent("shop", "users", EventSpool.OpAdd,
      row = Some("""{"id":1,"name":"ann"}"""))))
    assert(ins.pos === Some("binlog.000003:154"))

    // update: the reference folds UpdateRowsEvent to after_values
    // (binlog_replicator.py:505-509) — so does the adapter
    val upd = DebeziumJson.parse(
      """{"payload":{"before":{"id":1,"name":"ann"},
        |"after":{"id":1,"name":"bob"},
        |"source":{"db":"shop","table":"users","file":"binlog.000003","pos":200},
        |"op":"u"}}""".stripMargin.replace("\n", ""))
    assert(upd.event.get.op === EventSpool.OpAdd)
    assert(upd.event.get.row === Some("""{"id":1,"name":"bob"}"""))

    // snapshot read re-emits as ADD (idempotent downstream)
    assert(DebeziumJson.parse(
      """{"payload":{"after":{"id":2},"op":"r",
        |"source":{"db":"shop","table":"users"}}}""".stripMargin
        .replace("\n", "")).event.get.op === EventSpool.OpAdd)

    val del = DebeziumJson.parse(
      """{"payload":{"before":{"id":1,"name":"bob"},"after":null,
        |"source":{"db":"shop","table":"users","file":"binlog.000003","pos":260},
        |"op":"d"}}""".stripMargin.replace("\n", ""))
    assert(del.event === Some(SourceEvent("shop", "users",
      EventSpool.OpRemove, row = Some("""{"id":1,"name":"bob"}"""))))
  }

  test("debezium: decimal.handling.mode=precise base64 values normalize") {
    // precise mode (the connector DEFAULT) ships DECIMAL columns as
    // base64 big-endian two's-complement unscaled bytes under the
    // Connect Decimal logical type; the adapter rewrites them to plain
    // decimal strings using the schema block's declared scale
    def valueSchema(image: String) =
      s"""{"type":"struct","fields":[
         |{"type":"int32","optional":false,"field":"id"},
         |{"type":"bytes","optional":true,
         |"name":"org.apache.kafka.connect.data.Decimal","version":1,
         |"parameters":{"scale":"2","connect.decimal.precision":"8"},
         |"field":"price"}],
         |"optional":true,"field":"$image"}""".stripMargin
    val schema = s"""{"type":"struct","fields":[
         |${valueSchema("before")},${valueSchema("after")}]}""".stripMargin
    // 5555 → 0x15B3 → "FbM=" (55.55); −1234 → 0xFB2E → "+y4=" (−12.34)
    val upd = DebeziumJson.parse(
      s"""{"schema":$schema,"payload":{
         |"before":{"id":1,"price":"FbM="},
         |"after":{"id":1,"price":"+y4="},
         |"source":{"db":"shop","table":"p","file":"b.1","pos":4},
         |"op":"u"}}""".stripMargin.replace("\n", ""))
    assert(upd.event.get.row === Some("""{"id":1,"price":"-12.34"}"""))
    // deletes normalize the BEFORE image the same way
    val del = DebeziumJson.parse(
      s"""{"schema":$schema,"payload":{
         |"before":{"id":1,"price":"FbM="},"after":null,
         |"source":{"db":"shop","table":"p","file":"b.1","pos":9},
         |"op":"d"}}""".stripMargin.replace("\n", ""))
    assert(del.event.get.row === Some("""{"id":1,"price":"55.55"}"""))
    // a NULL decimal stays null; string mode (no schema block) rides
    // through verbatim
    val nul = DebeziumJson.parse(
      s"""{"schema":$schema,"payload":{
         |"before":null,"after":{"id":2,"price":null},
         |"source":{"db":"shop","table":"p","file":"b.1","pos":12},
         |"op":"c"}}""".stripMargin.replace("\n", ""))
    assert(nul.event.get.row === Some("""{"id":2,"price":null}"""))
    val stringMode = DebeziumJson.parse(
      """{"payload":{"before":null,"after":{"id":3,"price":"81.10"},
        |"source":{"db":"shop","table":"p","file":"b.1","pos":15},
        |"op":"c"}}""".stripMargin.replace("\n", ""))
    assert(stringMode.event.get.row === Some("""{"id":3,"price":"81.10"}"""))
  }

  test("debezium: flat envelopes, tombstones, truncate, garbage") {
    // schemas.enable=false → no payload wrapper; same record
    val flat = DebeziumJson.parse(
      """{"before":null,"after":{"id":7},"op":"c",
        |"source":{"db":"d","table":"t","file":"b.1","pos":9}}"""
        .stripMargin.replace("\n", ""))
    assert(flat.event.get === SourceEvent("d", "t", EventSpool.OpAdd,
      row = Some("""{"id":7}""")))
    assert(flat.pos === Some("b.1:9"))
    // Kafka tombstone (null value serialized as empty), truncate, junk:
    // skipped, never events — like the reference's event-type filter
    assert(DebeziumJson.parse("").event.isEmpty)
    assert(DebeziumJson.parse("null").event.isEmpty)
    assert(DebeziumJson.parse("not json at all").event.isEmpty)
    val tr = DebeziumJson.parse(
      """{"payload":{"op":"t","source":{"db":"d","table":"t",
        |"file":"b.2","pos":11}}}""".stripMargin.replace("\n", ""))
    assert(tr.event.isEmpty)
    assert(tr.pos === Some("b.2:11")) // cursor still advances past it
  }

  test("debezium: arbitrary input never throws — garbage is a skip") {
    // a poisoned topic record must not kill the producer process: any
    // byte soup parses to Record(None/Some, _), never an exception
    val rnd = new scala.util.Random(20260813L)
    val fragments = Seq("{", "}", "[", "]", "\"", ":", ",", "null",
      "true", "1e309", "payload", "op", "after", "source", "\\u0000",
      "😀", "{\"payload\":", "{\"op\":\"c\"", "-", "1.5")
    (1 to 500).foreach { _ =>
      val line = Seq.fill(1 + rnd.nextInt(12))(
        fragments(rnd.nextInt(fragments.size))).mkString
      DebeziumJson.parse(line) // must not throw
    }
    // structurally-valid-but-odd JSON shapes: wrong types everywhere
    Seq(
      """{"payload": 42}""",
      """{"payload": [1,2]}""",
      """{"payload": {"op": 7, "source": "nope"}}""",
      """{"payload": {"op": "c", "after": "not an object",
        | "source": {"db": 1, "table": null}}}""".stripMargin,
      """{"payload": {"ddl": 42}}""",
      """{"op": "d", "before": [], "source": {}}""",
      """{"schema": {"type": "struct"}, "payload": null}""")
      .foreach(l => assert(DebeziumJson.parse(l).event.isEmpty, l))
  }

  test("debezium: schema-history events become QUERY") {
    val ddl = DebeziumJson.parse(
      """{"payload":{"source":{"db":"shop","file":"binlog.000003","pos":400},
        |"databaseName":"shop",
        |"ddl":"ALTER TABLE users ADD COLUMN age int"}}"""
        .stripMargin.replace("\n", ""))
    assert(ddl.event === Some(SourceEvent("shop", "", EventSpool.OpQuery,
      query = Some("ALTER TABLE users ADD COLUMN age int"))))
    // older connectors: databaseName absent → source.db
    assert(DebeziumJson.parse(
      """{"payload":{"source":{"db":"legacy"},"ddl":"DROP TABLE x"}}""")
      .event.get.db === "legacy")
  }

  // ------------------------------------------------------- producer

  private def config(spool: String, extra: String = ""): GraftConfig =
    GraftConfig.fromYaml(
      s"""databases: 'shop'
         |binlog_replicator:
         |  data_dir: '$spool'
         |$extra""".stripMargin, Map.empty)

  test("producer: glob admission — rows need both globs, DDL only db") {
    val spool = tmpDir("producer-admit")
    val p = new SpoolProducer(spool,
      config(spool, "tables: 'users'\n"))
    val written = p.append(Seq(
      SourceEvent("shop", "users", EventSpool.OpAdd, row = Some("""{"a":1}""")),
      SourceEvent("shop", "audit", EventSpool.OpAdd, row = Some("""{"a":2}""")),
      SourceEvent("other", "users", EventSpool.OpAdd, row = Some("""{"a":3}""")),
      SourceEvent("shop", "", EventSpool.OpQuery,
        query = Some("CREATE TABLE t2 (id int, PRIMARY KEY(id))")),
      SourceEvent("other", "", EventSpool.OpQuery,
        query = Some("DROP TABLE t3"))), Some("cursor-1"))
    assert(written === Seq("000001.json"))
    val rows = EventSpool.readBatch(spark, spool).collect()
    // admitted: the shop.users row + the shop DDL; seq dense from 1
    assert(rows.map(_.getAs[Long]("seq")).sorted.toSeq === Seq(1L, 2L))
    assert(rows.map(_.getAs[String]("op")).sorted.toSeq ===
      Seq(EventSpool.OpAdd, EventSpool.OpQuery))
    assert(p.sourcePos === Some("cursor-1"))
  }

  test("producer: seq and cursor survive a restart; rotation honors config") {
    val spool = tmpDir("producer-resume")
    val cfg = config(spool, "  records_per_file: 2\n")
    def ev(i: Int) = SourceEvent("shop", "t", EventSpool.OpAdd,
      row = Some(s"""{"id":$i}"""))
    val p1 = new SpoolProducer(spool, cfg)
    assert(p1.append((1 to 5).map(ev), Some("pos-a")) ===
      Seq("000001.json", "000002.json", "000003.json"))
    // a NEW producer instance (process restart) continues both counters
    val p2 = new SpoolProducer(spool, cfg)
    assert(p2.peekSeq === 6L)
    assert(p2.sourcePos === Some("pos-a"))
    assert(p2.append(Seq(ev(6)), None) === Seq("000004.json"))
    assert(p2.sourcePos === Some("pos-a")) // None keeps the old cursor
    val seqs = EventSpool.readBatch(spark, spool)
      .collect().map(_.getAs[Long]("seq")).sorted.toSeq
    assert(seqs === (1L to 6L)) // dense, no collision across restart
    // all-filtered batch still advances the cursor (skipped transactions
    // must not be re-read forever) and writes no file
    assert(p2.append(Seq(SourceEvent("other", "t", EventSpool.OpAdd,
      row = Some("{}"))), Some("pos-b")) === Nil)
    assert(new SpoolProducer(spool, cfg).sourcePos === Some("pos-b"))
  }

  test("producer: state recovers from the tmp file after a mid-save crash") {
    val spool = tmpDir("producer-crash")
    val cfg = config(spool)
    val p = new SpoolProducer(spool, cfg)
    p.append(Seq(SourceEvent("shop", "t", EventSpool.OpAdd,
      row = Some("{}"))), Some("pos-1"))
    // simulate the crash window: state deleted, newer tmp left behind
    val st = new java.io.File(spool, "_producer_state.json")
    val tmp = new java.io.File(spool, "._producer_state.json.tmp")
    assert(st.renameTo(tmp))
    val recovered = new SpoolProducer(spool, cfg)
    assert(recovered.peekSeq === 2L && recovered.sourcePos === Some("pos-1"))
  }

  // ---------------------------------------------------------- tailer

  test("tailer: complete lines only, offset resume, new files picked up") {
    val dump = tmpDir("dbz-dump")
    val spool = tmpDir("dbz-spool")
    val p = new SpoolProducer(spool, config(spool))
    val tail = new DebeziumTail(dump, p)
    def rec(i: Int, pos: Int) =
      s"""{"after":{"id":$i},"op":"c","source":{"db":"shop","table":"t","file":"b.1","pos":$pos}}"""
    val f = new java.io.FileOutputStream(new java.io.File(dump, "a.jsonl"))
    f.write((rec(1, 10) + "\n" + rec(2, 20) + "\n").getBytes("UTF-8"))
    f.write(s"""{"after":{"id":3""".getBytes("UTF-8")) // partial record
    f.flush()
    assert(tail.tick() === 2) // the partial line is NOT consumed
    // the partial record completes; only the delta is read
    f.write(s"""},"op":"c","source":{"db":"shop","table":"t","file":"b.1","pos":30}}""".getBytes("UTF-8"))
    f.write("\n".getBytes("UTF-8")); f.close()
    assert(tail.tick() === 1)
    assert(tail.tick() === 0) // idle: nothing new
    // a rotated consumer creates a second file — picked up in name order
    val f2 = new java.io.FileOutputStream(new java.io.File(dump, "b.jsonl"))
    f2.write((rec(4, 40) + "\n").getBytes("UTF-8")); f2.close()
    assert(tail.tick() === 1)
    // a RESTARTED tailer (fresh producer + tail over the same state)
    // re-reads nothing
    val tail2 = new DebeziumTail(dump, new SpoolProducer(spool, config(spool)))
    assert(tail2.tick() === 0)
    val seqs = EventSpool.readBatch(spark, spool)
      .collect().map(_.getAs[Long]("seq")).sorted.toSeq
    assert(seqs === (1L to 4L))
  }

  test("tailer: rewritten file that GREW past the old offset is detected") {
    // the race a length check alone misses: consumer restarts with `>`
    // and refills past the consumed offset before the next poll — the
    // head signature must catch the rewrite or the new stream's head is
    // silently dropped and the read starts mid-record
    val dump = tmpDir("dbz-rewrite")
    val spool = tmpDir("dbz-rewrite-spool")
    val tail = new DebeziumTail(dump, new SpoolProducer(spool, config(spool)))
    def rec(i: Int) =
      s"""{"after":{"id":$i},"op":"c","source":{"db":"shop","table":"t","file":"b.1","pos":$i}}"""
    val f = new java.io.File(dump, "a.jsonl")
    val w1 = new java.io.FileOutputStream(f)
    w1.write((rec(1) + "\n").getBytes("UTF-8")); w1.close()
    assert(tail.tick() === 1)
    // rewritten LONGER than the consumed offset, different content
    val w2 = new java.io.FileOutputStream(f)
    w2.write((rec(7) + "\n" + rec(8) + "\n" + rec(9) + "\n")
      .getBytes("UTF-8")); w2.close()
    assert(tail.tick() === 3) // all three, from offset 0
    val ids = EventSpool.readBatch(spark, spool)
      .collect().map(_.getAs[String]("row")).sorted.toSeq
    assert(ids === Seq(1, 7, 8, 9).map(i => s"""{"id":$i}"""))
  }

  test("tailer: multi-cap backlogs drain across ticks on a bounded buffer") {
    val dump = tmpDir("dbz-cap")
    val spool = tmpDir("dbz-cap-spool")
    def rec(i: Int) =
      s"""{"after":{"id":$i},"op":"c","source":{"db":"shop","table":"t","file":"b.1","pos":$i}}"""
    val f = new java.io.FileOutputStream(new java.io.File(dump, "a.jsonl"))
    (1 to 50).foreach(i => f.write((rec(i) + "\n").getBytes("UTF-8")))
    f.close()
    // cap smaller than the backlog: each tick consumes ≤ cap bytes of
    // complete lines and the backlog drains over successive ticks
    val tail = new DebeziumTail(dump, new SpoolProducer(spool, config(spool)),
      maxBytesPerRead = 256)
    var total = 0
    var ticks = 0
    while ({ val n = tail.tick(); total += n; ticks += 1; n > 0 }) ()
    assert(total === 50 && ticks > 10) // drained, and genuinely chunked
    assert(EventSpool.readBatch(spark, spool).count() === 50)
  }

  test("tailer: a truncated dump file restarts from 0, not silent skip") {
    val dump = tmpDir("dbz-trunc")
    val spool = tmpDir("dbz-trunc-spool")
    val tail = new DebeziumTail(dump, new SpoolProducer(spool, config(spool)))
    def rec(i: Int) =
      s"""{"after":{"id":$i},"op":"c","source":{"db":"shop","table":"t","file":"b.1","pos":$i}}"""
    val f = new java.io.File(dump, "a.jsonl")
    val w1 = new java.io.FileOutputStream(f)
    w1.write((rec(1) + "\n" + rec(2) + "\n").getBytes("UTF-8")); w1.close()
    assert(tail.tick() === 2)
    // the consumer restarts with `>` — the file is truncated and refilled
    // with ONE shorter record; the tailer must re-read, not skip forever
    val w2 = new java.io.FileOutputStream(f) // truncating open
    w2.write((rec(3) + "\n").getBytes("UTF-8")); w2.close()
    assert(tail.tick() === 1)
    val ids = graft.sources.EventSpool.readBatch(spark, spool)
      .collect().map(_.getAs[String]("row")).sorted.toSeq
    assert(ids === Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""))
  }

  // ------------------------------------------------------------- e2e

  test("e2e: producer crash-replay (same seqs twice) converges, DDL included") {
    // the documented at-least-once window: spool files published, crash
    // BEFORE the state save → a restarted producer re-reads the same
    // transport window and re-emits the same events with the SAME seq
    // values into new spool files. The pipeline must converge to the
    // once-applied table: rows via LWW/FINAL collapse, DDL via the
    // registry's seq guard (a replayed ALTER ADD must not double-add
    // the column or kill the stream).
    val spool = tmpDir("replay-spool")
    val wh = tmpDir("replay-wh")
    val cfg = config(spool)
    val batch = Seq(
      SourceEvent("shop", "", EventSpool.OpQuery, query = Some(
        "CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))")),
      SourceEvent("shop", "users", EventSpool.OpAdd,
        row = Some("""{"id":1,"name":"ann"}""")),
      SourceEvent("shop", "", EventSpool.OpQuery, query = Some(
        "ALTER TABLE users ADD COLUMN age int")),
      SourceEvent("shop", "users", EventSpool.OpAdd,
        row = Some("""{"id":2,"name":"bob","age":30}""")))
    val p1 = new SpoolProducer(spool, cfg)
    p1.append(batch, Some("win-1"))
    // crash window: restore the PRE-append state, so a restarted
    // producer replays the window with identical seqs
    val st = new java.io.File(spool, "_producer_state.json")
    assert(st.delete())
    val p2 = new SpoolProducer(spool, cfg)
    assert(p2.peekSeq === 1L) // stale state — the replay scenario
    p2.append(batch, Some("win-1"))
    assert(EventSpool.readBatch(spark, spool).count() === 8) // both copies

    val running = graft.Main.run(spark, cfg, "shop", wh, tmpDir("replay-ckpt"))
    val query = running.holder.get
    try query.processAllAvailable() finally query.stop()
    spark.streams.removeListener(running.monitor)
    val rows = running.pipeline.table("shop", "users").read
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Int])))
    assert(rows.toSeq === Seq((1, "ann", None), (2, "bob", Some(30))))
  }

  test("golden corpus: committed real-shape connector dump replicates") {
    // src/test/resources/debezium/golden-mysql-connector.jsonl is a
    // COMMITTED fixture in the exact envelope shapes the public
    // Debezium MySQL connector documentation specifies — not the
    // minimal synthesized envelopes of the other cases: a
    // schema-history CREATE/ALTER pair with position+tableChanges
    // blocks, a schemas.enable=true record with the full schema
    // descriptor, snapshot reads with "snapshot":"true"/"last"
    // markers, streaming c/u/d with complete source blocks (gtid,
    // sequence, thread, query), decimal.handling.mode=string payloads,
    // a transaction block, a Kafka tombstone ("null" line), an empty
    // line, a truncate (op:"t") and a heartbeat-shaped record. Catches
    // envelope-shape drift the hand-rolled fixtures can't.
    val dump = tmpDir("dbz-golden-dump")
    val spool = tmpDir("dbz-golden-spool")
    val wh = tmpDir("dbz-golden-wh")
    val cfg = GraftConfig.fromYaml(
      s"""databases: 'inventory'
         |binlog_replicator:
         |  data_dir: '$spool'
         |""".stripMargin, Map.empty)
    val res = getClass.getResourceAsStream(
      "/debezium/golden-mysql-connector.jsonl")
    assert(res != null, "golden corpus resource missing")
    val bytes = try res.readAllBytes() finally res.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dump, "golden.jsonl"), bytes)

    val producer = new SpoolProducer(spool, cfg)
    // 2 schema-history DDLs + 2 snapshot reads + 2 inserts + 1 update +
    // 1 delete = 8 events; tombstone/empty/truncate/heartbeat skipped;
    // + 2 redelivered duplicates (the connector-restart window) + 2
    // precise-decimal events = 12
    assert(new DebeziumTail(dump, producer).tick() === 12)
    // the transport cursor survived: byte-offset state for the file
    assert(producer.sourcePos.exists(_.contains("golden.jsonl")))

    val running = graft.Main.run(spark, cfg, "inventory", wh,
      tmpDir("dbz-golden-ckpt"))
    val query = running.holder.get
    try query.processAllAvailable() finally query.stop()
    spark.streams.removeListener(running.monitor)
    val rows = running.pipeline.table("inventory", "products").read
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getDecimal(2)).map(_.toPlainString),
        Option(r.get(3)).map(_.asInstanceOf[Int])))
    // snapshot 101/102, insert 103, ALTER adds qty, update 102 (price
    // 81.10 -> 92.00, qty 8), delete 101, insert 104 with the new col.
    // Then the corpus replays the 102 update and 104 insert VERBATIM
    // (same binlog file:pos — the at-least-once duplicate window a
    // connector restart produces): the FINAL view must absorb both
    // without changing a row. Finally two decimal.handling.mode=precise
    // events (base64 Decimal logical type) insert 105 at 55.55 and
    // update it to −12.34/qty 9 — the negative pins the
    // two's-complement unscaled-bytes path end to end.
    assert(rows.toSeq === Seq(
      (102, "car battery", Some("92.00"), Some(8)),
      (103, "hammer", Some("12.50"), None),
      (104, "rocks", Some("1299.99"), Some(44)),
      (105, "precise bolt", Some("-12.34"), Some(9))))
  }

  test("golden corpus: MariaDB-dialect envelopes replicate") {
    // src/test/resources/debezium/golden-mariadb-connector.jsonl: the
    // MariaDB connector's envelope dialect — connector:"mariadb",
    // domain-server-sequence GTIDs ("0-1-101"), mariadb-bin binlog
    // file names, and a schema-history ALTER using MariaDB's
    // conditional clauses (ADD COLUMN IF NOT EXISTS / DROP COLUMN IF
    // EXISTS) that MySQL doesn't accept.
    val dump = tmpDir("dbz-maria-dump")
    val spool = tmpDir("dbz-maria-spool")
    val wh = tmpDir("dbz-maria-wh")
    val cfg = GraftConfig.fromYaml(
      s"""databases: 'emporium'
         |binlog_replicator:
         |  data_dir: '$spool'
         |""".stripMargin, Map.empty)
    val res = getClass.getResourceAsStream(
      "/debezium/golden-mariadb-connector.jsonl")
    assert(res != null, "mariadb corpus resource missing")
    val bytes = try res.readAllBytes() finally res.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dump, "maria.jsonl"), bytes)

    val producer = new SpoolProducer(spool, cfg)
    // CREATE + snapshot read + conditional ALTER + c/u/d = 6 events,
    // then the GTID-resume segment (insert 3, update 3) = 8; the
    // trailing tombstone is skipped
    assert(new DebeziumTail(dump, producer).tick() === 8)

    val running = graft.Main.run(spark, cfg, "emporium", wh,
      tmpDir("dbz-maria-ckpt"))
    val query = running.holder.get
    try query.processAllAvailable() finally query.stop()
    spark.streams.removeListener(running.monitor)
    val rows = running.pipeline.table("emporium", "widgets").read
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getDecimal(2)).map(_.toPlainString),
        Option(r.get(3)).map(_.asInstanceOf[Int])))
    // snapshot 1 (4.20), ALTER adds stock (the IF NOT EXISTS path) and
    // tolerates dropping a column that never existed (IF EXISTS),
    // insert 2, update 1 → 4.95/stock 12, delete 2; then the resume
    // segment inserts 3 (7.77) and updates it to 8.40
    assert(rows.toSeq === Seq(
      (1, "gear", Some("4.95"), Some(12)),
      (3, "cog", Some("8.40"), Some(5))))
  }

  test("e2e: debezium dump → tail → spool → pipeline replicates the table") {
    val dump = tmpDir("dbz-e2e-dump")
    val spool = tmpDir("dbz-e2e-spool")
    val wh = tmpDir("dbz-e2e-wh")
    val cfg = config(spool)
    def line(s: String) = s + "\n"
    val out = new java.io.FileOutputStream(new java.io.File(dump, "c.jsonl"))
    out.write((
      // DDL from the schema-history stream bootstraps the table
      line("""{"payload":{"databaseName":"shop","source":{"db":"shop","file":"b.1","pos":4},"ddl":"CREATE TABLE users (id int NOT NULL, name varchar(50), PRIMARY KEY(id))"}}""") +
        // native JSON types (unquoted ints) must survive the wire parse
        line("""{"payload":{"after":{"id":1,"name":"ann"},"op":"c","source":{"db":"shop","table":"users","file":"b.1","pos":10}}}""") +
        line("""{"payload":{"after":{"id":2,"name":"bob"},"op":"c","source":{"db":"shop","table":"users","file":"b.1","pos":20}}}""") +
        line("""{"payload":{"before":{"id":1,"name":"ann"},"after":{"id":1,"name":"anne"},"op":"u","source":{"db":"shop","table":"users","file":"b.1","pos":30}}}""") +
        line("""{"payload":{"before":{"id":2,"name":"bob"},"after":null,"op":"d","source":{"db":"shop","table":"users","file":"b.1","pos":40}}}""")
      ).getBytes("UTF-8"))
    out.close()
    val producer = new SpoolProducer(spool, cfg)
    assert(new DebeziumTail(dump, producer).tick() === 5)
    assert(producer.sourcePos.exists(_.contains("c.jsonl")))

    val running = graft.Main.run(spark, cfg, "shop", wh, tmpDir("dbz-ckpt"))
    val query = running.holder.get
    try query.processAllAvailable() finally query.stop()
    spark.streams.removeListener(running.monitor)
    // insert + insert + update-after-image + delete ⇒ one row, updated
    assert(running.pipeline.table("shop", "users").read.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "anne")))
  }

  test("mariadb corpus: GTID cursor resume lands the identical FINAL state") {
    // the reference's resume contract (binlog_replicator.py:188-219
    // seek): kill the transport mid-corpus, restart, seek by the SAVED
    // domain-server-seq GTID — the resumed replay must produce the
    // byte-identical spool (no duplicate, no gap, seq continuing) and
    // the identical FINAL table state
    def corpusLines: Seq[String] = {
      val res = getClass.getResourceAsStream(
        "/debezium/golden-mariadb-connector.jsonl")
      val bytes = try res.readAllBytes() finally res.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .split("\n", -1).toSeq
    }
    def spoolContents(dir: String): Seq[String] = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .sortBy(_.getName)
      files.toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
    }
    def cfgFor(spool: String) = GraftConfig.fromYaml(
      s"""databases: 'emporium'
         |binlog_replicator:
         |  data_dir: '$spool'
         |""".stripMargin, Map.empty)
    val all = corpusLines
    // uninterrupted control replay
    val spoolC = tmpDir("gtid-spool-ctl")
    new EnvelopeIngest(new SpoolProducer(spoolC, cfgFor(spoolC)))
      .ingest(all)
    // phase 1: the transport dies after delivering through gtid 0-1-102
    // (the first 5 lines: CREATE, snapshot read, ALTER, insert 2,
    // update 1)
    val spool = tmpDir("gtid-spool-resume")
    val p1 = new SpoolProducer(spool, cfgFor(spool))
    assert(new EnvelopeIngest(p1).ingest(all.take(5)) === 5)
    assert(p1.sourcePos === Some("gtid:0-1-102"),
      s"phase 1 cursor: ${p1.sourcePos}")
    // phase 2: a NEW producer process recovers the cursor from the
    // spool's durable state and a restarted transport re-reads the
    // corpus FROM THE BEGINNING, seeking past the applied GTIDs
    val p2 = new SpoolProducer(spool, cfgFor(spool))
    assert(p2.sourcePos === Some("gtid:0-1-102"))
    assert(p2.peekSeq === p1.peekSeq, "seq counter lost across restart")
    val resumed = EnvelopeIngest.afterGtidCursor(all, p2.sourcePos)
    // only the unapplied tail survives the seek: delete 2, insert 3,
    // update 3 (+ the tombstone line, which parses to no event)
    assert(new EnvelopeIngest(p2).ingest(resumed) === 3)
    assert(p2.sourcePos === Some("gtid:0-1-105"))
    assert(spoolContents(spool) === spoolContents(spoolC),
      "resumed spool diverged from the uninterrupted replay")
    // and the FINAL state replicates identically
    val wh = tmpDir("gtid-wh")
    val running = graft.Main.run(spark, cfgFor(spool), "emporium", wh,
      tmpDir("gtid-ckpt"))
    val query = running.holder.get
    try query.processAllAvailable() finally query.stop()
    spark.streams.removeListener(running.monitor)
    val rows = running.pipeline.table("emporium", "widgets").read
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1),
        Option(r.getDecimal(2)).map(_.toPlainString),
        Option(r.get(3)).map(_.asInstanceOf[Int])))
    assert(rows.toSeq === Seq(
      (1, "gear", Some("4.95"), Some(12)),
      (3, "cog", Some("8.40"), Some(5))))
    // seek edge: a cursor past the stream's end replays nothing; a
    // file:pos cursor (the MySQL path) passes everything through
    assert(EnvelopeIngest.afterGtidCursor(all, Some("gtid:0-1-105"))
      .forall(l => DebeziumJson.parse(l).event.isEmpty))
    assert(EnvelopeIngest.afterGtidCursor(all,
      Some("mariadb-bin.000002:640")) === all)
    // multi-domain streams: the seek compares ONLY the cursor's own
    // domain-server sequence — another domain's (higher) seq numbers
    // must not satisfy the seek, and once the cursor GTID passes, the
    // other domain's events replay too
    def env(gtid: String, id: Int): String =
      s"""{"payload":{"before":null,"after":{"id":$id},""" +
        s""""source":{"db":"emporium","table":"widgets","gtid":"$gtid",""" +
        s""""file":"mariadb-bin.000009","pos":$id},"op":"c"}}"""
    val multi = Seq(
      env("1-7-900", 1), // domain 1: high seq, NOT the cursor's stream
      env("0-1-41", 2), // cursor domain, before the seek point
      env("1-7-901", 3), // still before the seek point: skipped
      env("0-1-42", 4), // THE cursor GTID: consumed by the seek
      env("1-7-902", 5), // after the seek point: replays
      env("0-1-43", 6))
    val resumed2 = EnvelopeIngest.afterGtidCursor(multi, Some("gtid:0-1-42"))
    assert(resumed2 === Seq(env("1-7-902", 5), env("0-1-43", 6)))
    // an earlier cursor on the same stream: the seek point consumes
    // its own GTID and replays everything after it, other domains too
    val resumed3 = EnvelopeIngest.afterGtidCursor(multi, Some("gtid:0-1-41"))
    assert(resumed3 === Seq(env("1-7-901", 3), env("0-1-42", 4),
      env("1-7-902", 5), env("0-1-43", 6)))
    // a cursor GTID that never appears (purged segment): the first
    // HIGHER seq on the same stream reopens the replay, ITSELF included
    val resumed4 = EnvelopeIngest.afterGtidCursor(multi, Some("gtid:0-1-40"))
    assert(resumed4 === Seq(env("0-1-41", 2), env("1-7-901", 3),
      env("0-1-42", 4), env("1-7-902", 5), env("0-1-43", 6)))
  }

  test("transport seam: a streaming source matches the tailer byte-for-byte") {
    // the pluggable EnvelopeIngest seam: the SAME corpus through (a)
    // the file tailer and (b) a MemoryStream-driven foreachBatch sink
    // (the Kafka readStream shape) must produce BYTE-IDENTICAL spool
    // files — admission, seq stamping, rotation, and normalization all
    // live behind the seam, so the transport cannot perturb them
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def corpusText(name: String): String = {
      val res = getClass.getResourceAsStream(s"/debezium/$name")
      assert(res != null, s"$name resource missing")
      val bytes = try res.readAllBytes() finally res.close()
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
    def spoolContents(dir: String): Seq[String] = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .sortBy(_.getName)
      files.toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
    }
    for ((corpus, db) <- Seq(
        "golden-mysql-connector.jsonl" -> "inventory",
        "golden-mariadb-connector.jsonl" -> "emporium")) {
      def cfgFor(spool: String) = GraftConfig.fromYaml(
        s"""databases: '$db'
           |binlog_replicator:
           |  data_dir: '$spool'
           |""".stripMargin, Map.empty)
      val text = corpusText(corpus)
      // path A: the dump-file tailer
      val dumpA = tmpDir(s"seam-dump-$db")
      val spoolA = tmpDir(s"seam-spool-a-$db")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dumpA, "c.jsonl"),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val tailed =
        new DebeziumTail(dumpA, new SpoolProducer(spoolA, cfgFor(spoolA)))
          .tick()
      assert(tailed > 0, s"$corpus: tailer spooled nothing")
      // path B: the same lines as a streaming source through the seam
      // (the tailer consumes through the last newline, so feed the
      // stream the same complete-line prefix, trailing "" included)
      val spoolB = tmpDir(s"seam-spool-b-$db")
      val producerB = new SpoolProducer(spoolB, cfgFor(spoolB))
      val lastNl = text.lastIndexOf('\n')
      val lines = text.substring(0, lastNl + 1).split("\n", -1).toSeq
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[String]
      ms.addData(lines: _*)
      val q = ms.toDF().writeStream
        .foreachBatch(EnvelopeIngest.streamSink(producerB))
        .option("checkpointLocation", tmpDir(s"seam-ckpt-$db"))
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(spoolContents(spoolB) === spoolContents(spoolA),
        s"$corpus: stream-fed spool diverged from the tailer's")
      // cursor-less transport: the envelope-derived cursor persisted —
      // MariaDB's domain-server-seq GTID, MySQL's binlog file:pos
      // (uuid:txid GTID sets are not suffix-ordered, so file:pos stays
      // the MySQL cursor)
      val wantCursor =
        if (db == "emporium") "gtid:0-1-105" else "mysql-bin"
      assert(producerB.sourcePos.exists(_.contains(wantCursor)),
        s"$corpus: expected a cursor containing $wantCursor, got " +
          producerB.sourcePos)
    }
  }

  // shared by the seam tests below
  private def goldenMysqlText: String = {
    val res = getClass.getResourceAsStream(
      "/debezium/golden-mysql-connector.jsonl")
    assert(res != null, "golden-mysql-connector.jsonl resource missing")
    val bytes = try res.readAllBytes() finally res.close()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  private def spoolDataFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .sortBy(_.getName).toSeq

  private def spoolLines(dir: String): Seq[String] =
    spoolDataFiles(dir).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }

  private def seamCfg(spool: String): GraftConfig = GraftConfig.fromYaml(
    s"""databases: 'inventory'
       |binlog_replicator:
       |  data_dir: '$spool'
       |""".stripMargin, Map.empty)

  test("transport seam: an oversized micro-batch streams through in " +
      "bounded slices") {
    // the batch cap lives IN the seam, not in the caller's
    // maxOffsetsPerTrigger: one fat micro-batch (the from-`earliest`
    // restart shape the scaladoc warns about) must flow through
    // ingest() in maxLinesPerSlice chunks — several producer appends,
    // bounded driver residency — and still land the identical spool
    // lines and final cursor as the tailer over the same bytes
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val text = goldenMysqlText
    // path A: the dump-file tailer, one append for the whole corpus
    val dumpA = tmpDir("slice-dump")
    val spoolA = tmpDir("slice-spool-a")
    java.nio.file.Files.write(java.nio.file.Paths.get(dumpA, "c.jsonl"),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val producerA = new SpoolProducer(spoolA, seamCfg(spoolA))
    assert(new DebeziumTail(dumpA, producerA).tick() > 0)
    // path B: the same complete-line prefix as ONE micro-batch, sliced
    // at 5 lines — 16 corpus lines → at least 4 ingest turns
    val spoolB = tmpDir("slice-spool-b")
    val producerB = new SpoolProducer(spoolB, seamCfg(spoolB))
    val lastNl = text.lastIndexOf('\n')
    val lines = text.substring(0, lastNl + 1).split("\n", -1).toSeq
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[String]
    ms.addData(lines: _*) // one addData call = one micro-batch
    val q = ms.toDF().writeStream
      .foreachBatch(
        EnvelopeIngest.streamSink(producerB, maxLinesPerSlice = 5))
      .option("checkpointLocation", tmpDir("slice-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spoolLines(spoolB) === spoolLines(spoolA),
      "sliced ingest diverged from the tailer's spool")
    // slicing really happened: each slice is its own append → its own
    // rotation file, where the tailer's single append wrote one file
    assert(spoolDataFiles(spoolB).size > spoolDataFiles(spoolA).size,
      s"expected >${spoolDataFiles(spoolA).size} spool files from " +
        s"sliced appends, got ${spoolDataFiles(spoolB).size}")
    // the cursor converges to the LAST envelope's file:pos (the tailer
    // persists its own byte-offset cursor instead — transport-specific
    // by design, the spool lines are the shared contract)
    assert(producerB.sourcePos === Some("mysql-bin.000003:1337"))
  }

  test("transport seam: Kafka-shaped multi-partition frames restore " +
      "(partition, offset) order and persist the offset cursor") {
    // Kafka orders only WITHIN a partition, and a foreachBatch frame
    // carries rows in arbitrary order: deliver a two-partition frame
    // fully shuffled; the seam must (a) restore the global (partition,
    // offset) order, (b) persist the max-offset+1-per-partition cursor
    // JSON, (c) land the identical spool as the tailer over the same
    // corpus. Offsets start at distinct non-zero bases per partition to
    // prove the cursor reads REAL offsets, not row positions.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val text = goldenMysqlText
    val dumpA = tmpDir("kafka-dump")
    val spoolA = tmpDir("kafka-spool-a")
    java.nio.file.Files.write(java.nio.file.Paths.get(dumpA, "c.jsonl"),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val producerA = new SpoolProducer(spoolA, seamCfg(spoolA))
    assert(new DebeziumTail(dumpA, producerA).tick() > 0)
    // Kafka records are discrete — no trailing empty line. Partition 0
    // carries the first half (offsets from 1000), partition 1 the rest
    // (offsets from 500): sorted by (partition, offset) this is the
    // original corpus order, so the spool must match the tailer's.
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val half = lines.size / 2
    val records = lines.zipWithIndex.map { case (l, i) =>
      if (i < half) (l, 0, 1000L + i) else (l, 1, 500L + (i - half))
    }
    val arrival = new scala.util.Random(42).shuffle(records)
    assert(arrival != records, "shuffle should perturb arrival order")
    val spoolB = tmpDir("kafka-spool-b")
    val producerB = new SpoolProducer(spoolB, seamCfg(spoolB))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Int, Long)]
    ms.addData(arrival: _*)
    val q = ms.toDF().toDF("value", "partition", "offset").writeStream
      .foreachBatch(EnvelopeIngest.streamSink(producerB))
      .option("checkpointLocation", tmpDir("kafka-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(spoolLines(spoolB) === spoolLines(spoolA),
      "Kafka-shaped frame diverged from the tailer's spool")
    // the persisted cursor is max offset + 1 per partition, JSON keyed
    // by partition in ascending order — the seek coordinates a resumed
    // consumer assigns per TopicPartition
    val wantCursor = s"""{"0":${1000 + half},"1":${500 + lines.size - half}}"""
    assert(producerB.sourcePos === Some(wantCursor))
  }

  test("transport seam: Kafka-shaped slicing persists a safe cursor at " +
      "every slice boundary") {
    // with slices smaller than the frame, each ingest turn persists the
    // RUNNING max-offset cursor: valid resume points mid-batch (the
    // global sort means everything not yet ingested is past the running
    // cursor), converging to the full-batch cursor — and the spool is
    // still byte-identical to the unsliced run
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val text = goldenMysqlText
    val lines = text.split("\n").toSeq.filter(_.nonEmpty)
    val half = lines.size / 2
    val records = lines.zipWithIndex.map { case (l, i) =>
      if (i < half) (l, 0, 1000L + i) else (l, 1, 500L + (i - half))
    }
    val arrival = new scala.util.Random(7).shuffle(records)
    def runWith(slice: Int, tag: String): (Seq[String], Option[String]) = {
      val spool = tmpDir(s"kslice-spool-$tag")
      val producer = new SpoolProducer(spool, seamCfg(spool))
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(String, Int, Long)]
      ms.addData(arrival: _*)
      val q = ms.toDF().toDF("value", "partition", "offset").writeStream
        .foreachBatch(
          EnvelopeIngest.streamSink(producer, maxLinesPerSlice = slice))
        .option("checkpointLocation", tmpDir(s"kslice-ckpt-$tag"))
        .start()
      try q.processAllAvailable() finally q.stop()
      (spoolLines(spool), producer.sourcePos)
    }
    val (wholeLines, wholeCursor) = runWith(Int.MaxValue, "whole")
    val (slicedLines, slicedCursor) = runWith(3, "sliced")
    assert(slicedLines === wholeLines)
    assert(slicedCursor === wholeCursor)
    assert(wholeCursor ===
      Some(s"""{"0":${1000 + half},"1":${500 + lines.size - half}}"""))
  }
}
