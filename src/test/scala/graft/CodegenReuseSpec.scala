package graft

import graft.ddl.SchemaRegistry
import graft.queries.clearFitMemo
import graft.sources.EventSpool
import graft.sources.EventSpool.{eventJson, writeFile, OpAdd, OpRemove}
import graft.streaming.CdcPipeline
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Steady-state graft compiles nothing: work that repeats — an analyst
  * session, a restarted stream, the next micro-batch — reuses the classes
  * its first run compiled. Counted with Spark's own compile counter
  * (one tick per Janino compile, cache hits do not tick).
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `f`'s result and the classes compiled while it ran. */
  private def counted[T](f: => T): (T, Long) = {
    val c0 = compiles
    val r = f
    (r, compiles - c0)
  }

  private def mkPipeline(): CdcPipeline = {
    val registry = new SchemaRegistry
    registry.applySql(
      """CREATE TABLE users (id int NOT NULL, name varchar(50),
        |  age int unsigned, PRIMARY KEY(id))""".stripMargin)
    new CdcPipeline(spark, GraftConfig(), registry, tmpDir("graft-wh-cg"))
  }

  private def row(id: Int, name: String, age: Int): String =
    s"""{"id":"$id","name":"$name","age":"$age"}"""

  /** Batch `b`: two inserts, an update and a delete inside the batch,
    * and an update of the hot key 0 — the same shape for every `b`. */
  private def batchEvents(b: Int): Seq[String] = {
    val (s, k) = (100L * b, 10 * b)
    Seq(
      eventJson(s + 1, "d", "users", OpAdd, row = Some(row(k + 1, s"a$b", b))),
      eventJson(s + 2, "d", "users", OpAdd, row = Some(row(k + 2, s"b$b", b))),
      eventJson(s + 3, "d", "users", OpAdd, row = Some(row(k + 1, s"u$b", b))),
      eventJson(s + 4, "d", "users", OpRemove,
        row = Some(s"""{"id":"${k + 2}"}""")),
      eventJson(s + 5, "d", "users", OpAdd, row = Some(row(0, s"hot$b", b))))
  }

  private def finalRows(p: CdcPipeline): Set[(Int, String, Long)] =
    p.table("users").read.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet

  test("a second analyst session compiles nothing and returns the same rows") {
    val dir = "/root/testdata/sf0.001"
    val names = Seq("q1_pricing_summary", "d_minhash_lsh", "d_ngram_jaccard",
      "t_bm25_topk")
    def session(): Map[String, Seq[Row]] = {
      clearFitMemo()
      names.map(n => n -> SparkEntry.queries(n)(spark, dir).collect().toSeq)
        .toMap
    }
    val first = session()
    val (second, n) = counted(session())
    clearFitMemo()
    assert(n === 0L, "the second session recompiled generated classes")
    names.foreach(q => assert(second(q) === first(q), s"$q differs"))
  }

  test("a second stream on a fresh checkpoint over the same spool compiles nothing") {
    val spool = tmpDir("graft-spool-cg")
    (0 until 2).foreach(b => writeFile(spool, f"$b%06d.json", batchEvents(b)))
    def stream(): Set[(Int, String, Long)] = {
      val p = mkPipeline()
      val q = p.start(spool, tmpDir("graft-ckpt-cg"),
        Trigger.ProcessingTime("50 milliseconds"))
      try q.processAllAvailable() finally q.stop()
      finalRows(p)
    }
    val first = stream()
    val (second, n) = counted(stream())
    assert(n === 0L, "the second stream recompiled generated classes")
    assert(second === first)
  }

  test("point lookups over new keys compile nothing after the first") {
    import spark.implicits._
    val t = graft.operators.GraftTable(spark, tmpDir("graft-lookup-cg"),
      Seq("id"), StructType(Seq(StructField("id", LongType),
        StructField("v", StringType))))
    t.append((0L until 40L).map(k => (k, s"a$k")).toDF("id", "v"), 1)
    t.append((0L until 40L by 3).map(k => (k, s"b$k")).toDF("id", "v"), 2)
    t.delete((0L until 40L by 5).map(Tuple1(_)).toDF("id"), 3)
    // live, updated, deleted (15, 35) and absent (77) keys
    val keys = Seq(7L, 12L, 15L, 21L, 35L, 77L)
    val first = t.lookup(keys.head).collect().toSeq
    val (rest, n) = counted(keys.tail.map(k => t.lookup(k).collect().toSeq))
    assert(n === 0L, "a lookup over a new key recompiled generated classes")
    keys.zip(first +: rest).foreach { case (k, got) =>
      assert(got === t.read.filter(col("id") === k).collect().toSeq,
        s"lookup($k) differs from the FINAL view")
    }
  }

  test("same-shaped micro-batches reuse the write stage; versions unchanged") {
    val p = mkPipeline()
    val perBatch = (0 until 4).map { b =>
      val spool = tmpDir(s"graft-spool-cg$b")
      writeFile(spool, "000001.json", batchEvents(b))
      counted(p.processBatch(EventSpool.readBatch(spark, spool), b))._2
    }
    assert(perBatch.drop(2) === Seq(0L, 0L),
      s"classes compiled per batch: ${perBatch.mkString(", ")}")
    assert(finalRows(p) ===
      ((0 until 4).map(b => (10 * b + 1, s"u$b", b.toLong)).toSet +
        ((0, "hot3", 3L))))
    // the stamps the inlined literal wrote: batch b, segment 0
    val version = (b: Int) => (b + 1).toLong << 20
    val log = p.table("users").log
      .select("id", "_version", "_deleted").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(log === (0 until 4).flatMap { b =>
      Seq((10 * b + 1, version(b), false), (10 * b + 2, version(b), true),
        (0, version(b), false))
    }.toSet)
  }
}
