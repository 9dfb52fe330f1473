package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Round-robin OPTIMIZE policy (db_optimizer.py:57-113 analogue). */
class CompactorSpec extends SparkSpec {
  import spark.implicits._

  test("least-recently-compacted first, interval guard, live table set") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def mk(): GraftTable = {
      val t = GraftTable(spark, tmpDir("graft-cmp"), Seq("id"), schema)
      t.append(Seq((1L, "a")).toDF("id", "v"), 1)
      t.append(Seq((1L, "b")).toDF("id", "v"), 2)
      t
    }
    val ta = mk(); val tb = mk()
    var known = Seq(("db", "a") -> ta, ("db", "b") -> tb)
    var now = 1000L
    val c = new Compactor(() => known.map(_._1), k => known.toMap.apply(k),
      interval = 100L, clock = () => now)

    assert(c.tick() === Some(("db", "a"))) // insertion order first
    assert(ta.log.count() === 1)           // actually compacted
    assert(c.tick() === Some(("db", "b")))
    assert(c.tick() === None)              // everything fresh
    now += 150
    // new churn on both: interval elapsed, oldest-compacted first
    ta.append(Seq((2L, "c")).toDF("id", "v"), 3)
    tb.append(Seq((2L, "c")).toDF("id", "v"), 3)
    assert(c.tick() === Some(("db", "a")))
    // a table created later joins the rotation immediately
    val tc = mk()
    known = known :+ (("db", "c") -> tc)
    assert(c.tick() === Some(("db", "c")))
    assert(c.tick() === Some(("db", "b")))
    assert(c.tick() === None)
  }

  test("idle tables are never rewritten: churn guard skips unchanged epochs") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val t = GraftTable(spark, tmpDir("graft-cmp-idle"), Seq("id"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"), 1)
    t.append(Seq((1L, "b")).toDF("id", "v"), 2)
    var now = 1000L
    val c = new Compactor(() => Seq(("db", "t")), _ => t,
      interval = 100L, clock = () => now)
    assert(c.tick() === Some(("db", "t")))
    def epochs = new java.io.File(t.root).list().toSeq
      .filter(_.startsWith("data")).sorted
    val afterFirst = epochs
    // intervals keep elapsing but nothing was written — no rewrite, no
    // new epoch dir, ever
    (1 to 3).foreach { _ =>
      now += 1000
      assert(c.tick() === None)
      assert(epochs === afterFirst)
    }
    // churn re-enables compaction at the next elapsed interval
    t.append(Seq((2L, "c")).toDF("id", "v"), 3)
    now += 1000
    assert(c.tick() === Some(("db", "t")))
    assert(epochs !== afterFirst)
    assert(t.read.count() === 2)
  }

  test("TRUNCATE-then-reload re-arms the churn guard even at equal file count") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val t = GraftTable(spark, tmpDir("graft-cmp-tr"), Seq("id"), schema)
    t.append(Seq((1L, "a")).toDF("id", "v"), 1)
    t.append(Seq((1L, "b")).toDF("id", "v"), 2)
    var now = 1000L
    val c = new Compactor(() => Seq(("db", "t")), _ => t,
      interval = 100L, clock = () => now)
    assert(c.tick() === Some(("db", "t")))
    val countBefore = t.dataFileCount
    // truncate + reload recreating the SAME file count: part files carry
    // fresh names, so the listing fingerprint must still change — a bare
    // count comparison would declare the table idle forever
    t.truncate()
    t.append(Seq((1L, "x")).toDF("id", "v"), 3)
    assert(t.dataFileCount === countBefore) // the trap this test pins
    now += 1000
    assert(c.tick() === Some(("db", "t")))
    assert(t.read.collect().map(_.getString(1)).toSeq === Seq("x"))
  }

  test("a metadata-only generation change re-arms the churn guard") {
    val cols = Seq(
      GraftColumn(0, "id", LongType, nullable = true),
      GraftColumn(1, "v", StringType, nullable = true))
    val dir = tmpDir("graft-cmp-gen")
    val t = new GraftTable(spark, dir, Seq("id"), cols)
    t.append(Seq((1L, "a")).toDF("id", "v"), 1)
    var now = 1000L
    var cur = t
    val c = new Compactor(() => Seq(("db", "t")), _ => cur,
      interval = 100L, clock = () => now)
    assert(c.tick() === Some(("db", "t")))
    now += 1000
    assert(c.tick() === None) // idle
    // RENAME COLUMN: a new generation with ZERO new data files — the
    // gen-collapse rewrite must still run at the next interval
    cur = new GraftTable(spark, dir, Seq("id"),
      Seq(cols.head, GraftColumn(1, "w", StringType, nullable = true)))
    now += 1000
    assert(c.tick() === Some(("db", "t")))
    assert(cur.read.columns.toSeq === Seq("id", "w"))
  }
}
