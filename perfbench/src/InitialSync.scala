package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftConfig
import graft.ddl.SchemaRegistry
import graft.operators.GraftTable
import graft.sources.{BinlogBinary, BinlogFixture, BinlogTail, EventSpool, SpoolProducer}
import graft.streaming.{CdcPipeline, Replicator}

/** Initial sync with a backlog, in large batches. Each repetition, into a
  * fresh warehouse and spool:
  *  1. `BinlogTail` decodes binary binlog segments for a second table,
  *     `custs` (a CREATE TABLE schema bootstrap, then inserts, updates and
  *     deletes over a hot key set touched again across segments), and
  *     `SpoolProducer` appends them to the spool, next to a JSON backlog of
  *     insert/update/delete events for `lineitem` — the change stream that
  *     built up while the snapshot ran;
  *  2. `Replicator.start` snapshots the lineitem-shaped table (four snapshot
  *     threads) and starts the stream;
  *  3. the stream catches up in one micro-batch, split at the DDL barrier,
  *     flushing both tables (`processAllAvailable`);
  *  4. FINAL scans and point lookups on lineitem, `compact()`, the same
  *     reads again.
  * Closed loop, one caller. */
final class InitialSync(ctx: Ctx) extends Workload {
  import InitialSync._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val config = GraftConfig(initialReplicationThreads = 4, enableOptimizeFinal = false)
  private val lineitemSchema = StructType(registry().apply(Table).fields.map(f =>
    StructField(f.name, graft.types.MySqlType.toSpark(f.tpe), f.nullable)))
  private val custsSchema = StructType(Seq(StructField("pk", LongType),
    StructField("name", StringType), StructField("seg", StringType)))

  /** Every input of one repetition, and the states FINAL must show once
    * they are applied. */
  private final class Inputs(name: String, seed: Long, val rows: Int, val events: Int) {
    private val rng = new java.util.SplittableRandom(seed)
    private val dir = ctx.dir(name)

    // lineitem: snapshot table and JSON backlog (seqs above the binlog's)
    private var nextId = rows.toLong
    /** key → version of its latest image, -1 once deleted */
    private val expected = mutable.LongMap.empty[Int]
    (0L until rows).foreach(k => expected(k) = 0)
    val jsonSpool: String = ctx.dir(s"$name/lineitem-spool")
    EventSpool.writeRotating(jsonSpool, (1 to events).map { i =>
      val seq = JsonSeqBase + i
      val roll = rng.nextInt(100)
      if (roll < 25) {                       // insert a new key
        val k = nextId; nextId += 1
        expected(k) = i
        EventSpool.eventJson(seq, Db, Table, EventSpool.OpAdd, row = Some(rowJson(k, i)))
      } else if (roll < 85) {                // update any key ever inserted
        val k = rng.nextLong(nextId)
        expected(k) = i
        EventSpool.eventJson(seq, Db, Table, EventSpool.OpAdd, row = Some(rowJson(k, i)))
      } else {                               // delete
        val k = rng.nextLong(nextId)
        expected(k) = -1
        EventSpool.eventJson(seq, Db, Table, EventSpool.OpRemove,
          row = Some(s"""{"l_id":"$k"}"""))
      }
    }, GraftConfig().spoolRecordsPerFile)
    spark.createDataFrame(
      spark.sparkContext.parallelize((0L until rows).map(k => row(k, 0)), 8),
      lineitemSchema).write.parquet(s"$dir/lineitem")
    val snapshot: DataFrame = spark.read.parquet(s"$dir/lineitem")
    val live: IndexedSeq[(Long, Int)] =
      expected.iterator.filter(_._2 >= 0).toIndexedSeq.sortBy(_._1)
    val lineitemHash: (Long, BigDecimal) = fingerprint(spark.createDataFrame(
      spark.sparkContext.parallelize(live.map { case (k, v) => row(k, v) }, 8),
      lineitemSchema))
    val lookupKeys: IndexedSeq[Long] = IndexedSeq.fill(LookupsPerPhase * 2)(rng.nextLong(nextId))

    // custs: binary binlog segments, segment 1 the schema bootstrap
    val binlog: String = ctx.dir(s"$name/binlog")
    private val custs = mutable.LongMap.empty[Option[(String, String)]]
    val segments: IndexedSeq[Array[Byte]] = {
      val perSegment = math.max(10, events / 10 / CustSegments)
      var cold = ColdKeyBase
      BinlogFixture.custSegment(Seq.empty, withDdl = true, nextFile = "b.000002.bin") +:
        (1 to CustSegments).map { i =>
          val keys = mutable.LinkedHashSet.empty[Long]
          while (keys.size < perSegment)
            keys += (if (rng.nextInt(2) == 0) rng.nextLong(HotKeys) else { cold += 1; cold })
          val rows = keys.toSeq.map(pk => (pk, s"c$pk-s$i", Segs(rng.nextInt(Segs.length))))
          rows.foreach { case (pk, n, sg) =>
            custs(pk) = if (pk % 11 == 0) None else Some((n, if (pk % 5 == 0) "UPDATED" else sg))
          }
          BinlogFixture.custSegment(rows, withDdl = false, nextFile = f"b.${i + 2}%06d.bin")
        }
    }
    segments.zipWithIndex.foreach { case (b, i) =>
      Files.write(Paths.get(binlog, f"b.${i + 1}%06d.bin"), b)
    }
    val custsHash: (Long, BigDecimal) = fingerprint(spark.createDataFrame(
      spark.sparkContext.parallelize(custs.iterator.collect {
        case (k, Some((n, sg))) => Row(k, n, sg) }.toSeq, 4), custsSchema))
  }

  private val full = new Inputs("input", ctx.seed, (SnapshotRows * ctx.scale).toInt,
    (BacklogEvents * ctx.scale).toInt)
  /** warm-up repetitions run the same code on a tenth of the data */
  private lazy val small = new Inputs("warm-input", ctx.seed + 1, full.rows / 10, full.events / 10)

  // ------------------------------------------------------------ one sync
  private var rep = 0
  private var pipeline: CdcPipeline = _
  private var table: GraftTable = _
  private var spoolDir: String = _
  private var checks = Vector.empty[(String, Boolean)]
  private val tailMs = mutable.Buffer.empty[Double]

  private final case class Rep(syncMs: Double, syncCpuMs: Double, snapshotMs: Double,
                               catchupMs: Double, scanMs: Seq[Double], lookupMs: Seq[Double],
                               lookupCpuMs: Seq[Double],
                               compactMs: Double, bytesPerRow: Double, ok: Seq[Boolean])

  private def registry(): SchemaRegistry = {
    val r = new SchemaRegistry(Db)
    r.applySql(Db, Ddl)
    r
  }

  private def runRep(in: Inputs, verify: Boolean): Rep = {
    rep += 1
    val base = ctx.runDir.resolve(s"sync-$rep")
    if (rep > 1) deleteTree(ctx.runDir.resolve(s"sync-${rep - 1}"))
    spoolDir = ctx.dir(s"sync-$rep/spool")
    Files.list(Paths.get(in.jsonSpool)).iterator().asScala.foreach(f =>
      Files.copy(f, Paths.get(spoolDir).resolve(f.getFileName)))
    val t0 = System.nanoTime()
    val cpu0 = Stats.cpuMs()
    val tail = new BinlogTail(in.binlog, new SpoolProducer(spoolDir, config), consumeActive = true)
    tracer.span("BinlogTail.tick")(tail.tick())
    val tTail = System.nanoTime()
    val (p, query) = tracer.span("Replicator.start") {
      Replicator.start(spark, config, registry(), s"$base/wh", spoolDir, s"$base/ck",
        snapshots = Map(Table -> in.snapshot))
    }
    pipeline = p
    val t1 = System.nanoTime()
    tracer.span("StreamingQuery.processAllAvailable")(query.processAllAvailable())
    val t2 = System.nanoTime()
    val syncCpuMs = Stats.cpuMs() - cpu0
    query.stop()
    tailMs += (tTail - t0) / 1e6
    table = pipeline.table(Table)
    val bytesPerRow = treeBytes(table.root).toDouble / in.live.size
    val ok = mutable.Buffer.empty[Boolean]
    if (verify) ok ++= checkFinal(in)
    val (scans1, lookups1) = reads(in.lookupKeys.take(LookupsPerPhase))
    val (_, compactMs) = Stats.timedMs(tracer.span("GraftTable.compact")(table.compact()))
    if (verify) ok ++= checkFinal(in)
    val (scans2, lookups2) = reads(in.lookupKeys.drop(LookupsPerPhase))
    Main.log(f"sync $rep: ${(t2 - t0) / 1e9}%.2f s (snapshot ${(t1 - tTail) / 1e9}%.2f s), " +
      f"compact ${compactMs / 1e3}%.2f s, lookups ${Stats.median((lookups1 ++ lookups2).map(_._1))}%.0f ms")
    Rep((t2 - t0) / 1e6, syncCpuMs, (t1 - tTail) / 1e6, (t2 - t1) / 1e6, scans1 ++ scans2,
      lookups1.map(_._1) ++ lookups2.map(_._1), lookups1.map(_._2) ++ lookups2.map(_._2),
      compactMs, bytesPerRow, ok.toSeq)
  }

  /** FINAL scan wall ms, and (wall ms, CPU ms) of each lookup */
  private def reads(keys: Seq[Long]): (Seq[Double], Seq[(Double, Double)]) = {
    val scans = (1 to ScansPerPhase).map(_ => Stats.timedMs(tracer.span("GraftTable.read") {
      table.read.write.format("noop").mode("overwrite").save()
    })._2)
    val lookups = keys.map { k =>
      val (_, ms, cpu) = Stats.timedCpu(tracer.span("GraftTable.lookup") {
        val df = table.lookup(k)
        df.collect()
        tracer.recordQuery("GraftTable.lookup", df)
      })
      (ms, cpu)
    }
    (scans, lookups)
  }

  /** FINAL of both tables against the state derived from the inputs. */
  private def checkFinal(in: Inputs): Seq[Boolean] = {
    val lineitem = if (ctx.fault == "final") table.read.filter(col("l_id") =!= in.live.head._1)
                   else table.read
    Seq(fingerprint(lineitem) == in.lineitemHash,
      fingerprint(pipeline.table("custs").read.select("pk", "name", "seg")) == in.custsHash)
  }

  private val warmReps = mutable.Buffer.empty[Double]
  def warmUp(): Unit = {
    // repeat small syncs until two in a row agree within 10%
    val t0 = System.nanoTime()
    var steady = false
    while (!steady && warmReps.size < MaxWarmReps && (System.nanoTime() - t0) < MaxWarmNs) {
      warmReps += runRep(small, verify = false).syncMs
      steady = warmReps.size >= 2 &&
        math.abs(warmReps.last - warmReps(warmReps.size - 2)) <= 0.1 * warmReps.last
    }
  }

  def measure(seconds: Double): Window = {
    val t0 = System.nanoTime()
    val reps = mutable.Buffer.empty[Rep]
    while (reps.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      reps += runRep(full, verify = true)
    checks = checks ++ reps.flatMap(_.ok).map(ok => ("final_state", ok))
    val lookups = reps.flatMap(_.lookupMs).toSeq
    val syncMs = Stats.median(reps.map(_.syncMs).toSeq)
    val report = Map(
      "sync_s" -> syncMs / 1e3,
      "snapshot_rows_per_s" -> full.rows / (Stats.median(reps.map(_.snapshotMs).toSeq) / 1e3),
      "catchup_events_per_s" -> (full.events + full.segments.size) /
        (Stats.median(reps.map(_.catchupMs).toSeq) / 1e3),
      "final_scan_s" -> Stats.median(reps.flatMap(_.scanMs).toSeq) / 1e3,
      "compact_s" -> Stats.median(reps.map(_.compactMs).toSeq) / 1e3,
      "lookup_p50_ms" -> Stats.quantile(lookups, 0.5),
      "lookup_p95_ms" -> Stats.quantile(lookups, 0.95),
      "lookups" -> lookups.size.toDouble,
      "stored_bytes_per_row" -> Stats.median(reps.map(_.bytesPerRow).toSeq),
      "repetitions" -> reps.size.toDouble,
      "warmup_syncs" -> warmReps.size.toDouble)
    val ops = reps.size * (3 + 2 * ScansPerPhase + 2 * LookupsPerPhase)
    Window(Map("result_s" -> syncMs / 1e3, "read_p50_ms" -> Stats.quantile(lookups, 0.5),
      "result_cpu_s" -> Stats.median(reps.map(_.syncCpuMs).toSeq) / 1e3,
      "read_cpu_ms" -> Stats.geomean(reps.flatMap(_.lookupCpuMs).toSeq)),
      report, ops)
  }

  def check(): Seq[(String, Boolean)] = checks

  def layers(t: Tracer, w: Window): Map[String, Double] = {
    val finalRows = full.live.size.toDouble
    val logRows = table.log.count().toDouble
    val compactions = t.compactions
    def spanMs(name: String) = t.benchSpans(name).map(s => (s.endMs - s.startMs).toDouble)
    // decode alone, on the same segments, to split the tail's time
    val decodeMs = Stats.timedMs(full.segments.foreach(b =>
      BinlogBinary.toSourceEvents(BinlogBinary.decodeFile(b))))._2
    val tickMs = Stats.median(spanMs("BinlogTail.tick"))
    val spoolFiles = Files.list(Paths.get(spoolDir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
    val binlogEvents = full.segments.map(b =>
      BinlogBinary.toSourceEvents(BinlogBinary.decodeFile(b)).size).sum
    Map(
      "sources.decode_ms" -> decodeMs,
      "sources.spool_append_ms" -> math.max(0.0, tickMs - decodeMs),
      "sources.spool_bytes_per_event" -> spoolFiles.map(Files.size).sum.toDouble /
        (full.events + binlogEvents),
      "sources.snapshot_ms" -> Stats.median(spanMs("Replicator.start")),
      "operators.data_files" -> table.dataFileCount.toDouble,
      "operators.log_rows" -> logRows,
      "operators.final_rows" -> finalRows,
      "operators.stale_ratio" -> logRows / finalRows,
      "operators.read_ms" -> Stats.median(spanMs("GraftTable.read")),
      "operators.lookup_files_read" -> Stats.median(t.filesReadOf("GraftTable.lookup")),
      "operators.lookup_plan_ms" -> Stats.median(t.planMsOf("GraftTable.lookup")),
      "operators.compact_ms" -> Stats.median(compactions.map(_._1)),
      "operators.compactions" -> compactions.size.toDouble,
      "operators.compact_bytes_rewritten" -> Stats.median(compactions.map(_._2.toDouble))) ++
      streamingLayers(t)
  }

  /** Micro-batch loop figures from the traced window. */
  private def streamingLayers(t: Tracer): Map[String, Double] = {
    val batches = t.spans.asScala.toSeq.filter(_.kind == "batch")
    def d(key: String) = batches.map(_.attrs.getOrElse(key, "0").toDouble)
    val offsets = batches.map(b => b.attrs.getOrElse("latestOffset", "0").toDouble +
      b.attrs.getOrElse("getBatch", "0").toDouble)
    Map(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_ms_p50" -> Stats.quantile(d("triggerExecution"), 0.5),
      "streaming.trigger_ms_p90" -> Stats.quantile(d("triggerExecution"), 0.9),
      "streaming.add_batch_ms_p50" -> Stats.median(d("addBatch")),
      "streaming.offsets_ms_p50" -> Stats.median(offsets),
      "streaming.wal_commit_ms_p50" -> Stats.median(d("walCommit")),
      "streaming.batch_rows_p50" -> Stats.median(d("rows")),
      "streaming.jobs_per_batch" -> Stats.median(t.perBatchJobs.values.map(_.toDouble).toSeq),
      "streaming.tasks_per_batch" -> Stats.median(t.perBatchTasks.values.map(_.toDouble).toSeq))
  }
}

object InitialSync {
  val Db = "d"
  val Table = "lineitem"
  val SnapshotRows = 20000
  /** lineitem backlog events; the custs binlog carries a tenth as many rows */
  val BacklogEvents = 20000
  val JsonSeqBase = 1000000000L
  val CustSegments = 6
  val HotKeys = 2000L
  val ColdKeyBase = 1000000L
  val Segs: Array[String] = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val ScansPerPhase = 1
  val LookupsPerPhase = 4
  val MaxWarmReps = 3
  val MaxWarmNs = 12e9
  val Ddl: String =
    """CREATE TABLE lineitem (
      |  l_id bigint NOT NULL, l_orderkey bigint NOT NULL, l_partkey bigint,
      |  l_suppkey bigint, l_linenumber int NOT NULL, l_quantity double,
      |  l_extendedprice double, l_discount double, l_tax double,
      |  l_returnflag varchar(1), l_linestatus varchar(1), l_shipdate date,
      |  l_comment varchar(44), PRIMARY KEY (l_id))""".stripMargin

  private val Words = Array("carefully", "final", "deposits", "sleep", "quickly",
    "ironic", "packages", "among", "the", "furiously", "regular", "accounts")

  /** Column values of key `k` at version `v`, a pure function of both. */
  private def values(k: Long, v: Int): (Long, Long, Long, Int, Double, Double, Double,
      Double, String, String, Int, String) = {
    val r = new java.util.SplittableRandom(k * 0x9E3779B97F4A7C15L + v * 0xBF58476D1CE4E5B9L)
    val comment = (1 to 1 + r.nextInt(5)).map(_ => Words(r.nextInt(Words.length))).mkString(" ")
    (k / 8, r.nextLong(200000), r.nextLong(10000), (k % 8).toInt,
      (1 + r.nextInt(50)).toDouble, (90000 + r.nextInt(10400000)) / 100.0,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
      "FO".charAt(r.nextInt(2)).toString, 9131 + r.nextInt(2498), comment.take(44))
  }

  def row(k: Long, v: Int): Row = {
    val (ok, pk, sk, ln, q, p, d, t, f, s, day, c) = values(k, v)
    Row(k, ok, pk, sk, ln, q, p, d, t, f, s, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)), c)
  }

  /** The binlog-normalized wire image: every field as a string. */
  def rowJson(k: Long, v: Int): String = {
    val (ok, pk, sk, ln, q, p, d, t, f, s, day, c) = values(k, v)
    s"""{"l_id":"$k","l_orderkey":"$ok","l_partkey":"$pk","l_suppkey":"$sk",""" +
      s""""l_linenumber":"$ln","l_quantity":"$q","l_extendedprice":"$p",""" +
      s""""l_discount":"$d","l_tax":"$t","l_returnflag":"$f","l_linestatus":"$s",""" +
      s""""l_shipdate":"${java.time.LocalDate.ofEpochDay(day)}","l_comment":"$c"}"""
  }

  /** Row count and exact sum of a 64-bit hash of every row. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
