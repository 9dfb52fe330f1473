package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ReplacingMergeTree-FINAL parity: latest version wins, deletes are
  * physical, compaction preserves the view (oracle-diff style per
  * SURVEY.md §5: expected DataFrame vs engine, exceptAll both ways).
  */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("v", StringType)))

  private def mkTable() =
    GraftTable(spark, tmpDir("graft-table"), Seq("id"), schema)

  private def assertSame(got: org.apache.spark.sql.DataFrame,
                         want: Seq[(Long, String)]): Unit = {
    val w = want.toDF("id", "v")
    assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty,
      s"got ${got.collect().mkString(",")} want $want")
  }

  test("readAsOf: full history pre-compact; survivors only post-compact") {
    val t = mkTable()
    t.append(Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), version = 1)
    t.append(Seq((1L, "a2")).toDF("id", "v"), version = 2)
    t.delete(Seq(Tuple1(2L)).toDF("id"), version = 3)
    // the uncompacted log replays any point in time
    assertSame(t.readAsOf(1), Seq((1L, "a1"), (2L, "b1")))
    assertSame(t.readAsOf(2), Seq((1L, "a2"), (2L, "b1")))
    assertSame(t.readAsOf(3), Seq((1L, "a2")))
    t.compact()
    // compaction keeps each key's SURVIVING image with its original
    // stamp and drops everything older (ReplacingMergeTree merge
    // semantics): key 1's v1 history is gone, key 2 is gone entirely
    assertSame(t.readAsOf(1), Seq())
    assertSame(t.readAsOf(2), Seq((1L, "a2")))
    assertSame(t.read, Seq((1L, "a2")))
  }

  test("upsert semantics: latest _version wins per key") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    t.append(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), version = 2)
    assertSame(t.read, Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(t.maxVersion === 2)
  }

  test("delete tombstones remove keys; re-insert at higher version revives") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    t.delete(Seq(Tuple1(1L)).toDF("id"), version = 2)
    assertSame(t.read, Seq((2L, "b")))
    t.append(Seq((1L, "again")).toDF("id", "v"), version = 3)
    assertSame(t.read, Seq((1L, "again"), (2L, "b")))
  }

  test("delete wins over insert at the same version (tie-break)") {
    val t = mkTable()
    t.append(Seq((1L, "a")).toDF("id", "v"), version = 1)
    t.delete(Seq(Tuple1(1L)).toDF("id"), version = 1)
    assertSame(t.read, Seq())
  }

  test("replayed batch (same version) is idempotent (W1 exactly-once)") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1) // replay
    assertSame(t.read, Seq((1L, "a"), (2L, "b")))
  }

  test("compact preserves the FINAL view and drops dead versions") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    t.append(Seq((1L, "a2")).toDF("id", "v"), version = 2)
    t.delete(Seq(Tuple1(2L)).toDF("id"), version = 3)
    val before = t.read.collect().toSet
    t.compact()
    assert(t.read.collect().toSet === before)
    assert(t.log.count() === 1) // only (1, a2) survives physically
    // still writable after compaction
    t.append(Seq((9L, "z")).toDF("id", "v"), version = 4)
    assertSame(t.read, Seq((1L, "a2"), (9L, "z")))
  }

  test("lookup reaches generations written before the PK became integral") {
    val root = tmpDir("graft-gen")
    // gen 0: string PK → no _bucket= dirs on disk
    val t1 = GraftTable(spark, root, Seq("id"), StructType(Seq(
      StructField("id", StringType), StructField("v", StringType))))
    t1.append(Seq(("1", "old"), ("7", "other")).toDF("id", "v"), version = 1)
    // MODIFY id varchar → bigint: same column ids, new type → new generation
    val t2 = new GraftTable(spark, root, Seq("id"), Seq(
      GraftColumn(0, "id", LongType), GraftColumn(1, "v", StringType)))
    t2.append(Seq((2L, "new")).toDF("id", "v"), version = 2)
    // pre-retype rows must come back through the pruned lookup path
    assert(t2.lookup(1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "old")))
    assert(t2.lookup(2L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "new")))
  }

  test("compact collapses mixed bucketed/unbucketed generations; lookup stays correct") {
    val root = tmpDir("graft-cmpgen")
    val t1 = GraftTable(spark, root, Seq("id"), StructType(Seq(
      StructField("id", StringType), StructField("v", StringType))))
    t1.append(Seq(("1", "old"), ("9000000", "far")).toDF("id", "v"), 1)
    val t2 = new GraftTable(spark, root, Seq("id"), Seq(
      GraftColumn(0, "id", LongType), GraftColumn(1, "v", StringType)))
    t2.append(Seq((2L, "new")).toDF("id", "v"), 2)
    t2.compact()
    // one generation left, bucketed now that the PK is integral
    assert(t2.log.count() === 3)
    assert(t2.lookup(1L).collect().map(_.getString(1)).toSeq === Seq("old"))
    assert(t2.lookup(9000000L).collect().map(_.getString(1)).toSeq === Seq("far"))
    assert(t2.lookup(2L).collect().map(_.getString(1)).toSeq === Seq("new"))
  }

  test("reader planned before compaction survives the swap (epoch grace)") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    // the file listing resolves at construction — this plan holds the
    // pre-compaction epoch's concrete file paths
    val planned = t.read
    t.compact()
    // the swapped-out epoch survives one compaction cycle, so the
    // pre-swap plan still reads complete data (the old in-place dir swap
    // made this read come back EMPTY if it raced the renames)
    assertSame(planned, Seq((1L, "a"), (2L, "b")))
    assertSame(t.read, Seq((1L, "a"), (2L, "b")))
    // writes after the swap land in the new epoch and read back
    t.append(Seq((3L, "c")).toDF("id", "v"), version = 2)
    assertSame(t.read, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the NEXT compaction garbage-collects the old epoch
    t.compact()
    assertSame(t.read, Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val dirs = new java.io.File(t.root).list().toSeq
      .filter(n => n == "data" || n.startsWith("data-e"))
    assert(dirs.size === 2, s"expected current + one grace epoch, got $dirs")
  }

  test("point lookup reads exactly one _bucket directory (prune regression)") {
    val t = mkTable()
    t.append(Seq((1L, "near"), (9000000L, "far")).toDF("id", "v"), version = 1)
    t.append(Seq((9000000L, "far2")).toDF("id", "v"), version = 2)
    // 9000000 / 4294967 = bucket 2; the scan must list ONLY that
    // partition dir — at 100 TB this is the difference between one
    // partition and a full-table scan under the dedup aggregate
    val files = t.lookup(9000000L).inputFiles
    assert(files.nonEmpty && files.forall(_.contains("_bucket=2/")),
      s"lookup leaked outside _bucket=2: ${files.mkString(",")}")
    assert(t.lookup(9000000L).collect().map(_.getString(1)).toSeq
      === Seq("far2"))
    // pruning survives compaction (files move to a new epoch dir)
    t.compact()
    val files2 = t.lookup(9000000L).inputFiles
    assert(files2.nonEmpty && files2.forall(_.contains("_bucket=2/")),
      s"post-compact lookup leaked outside _bucket=2: ${files2.mkString(",")}")
  }

  private object plans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Run `df`, then list the shuffles of its final adaptive plan. */
  private def exchanges(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    plans.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
  }

  test("key-local lookup equals FINAL per key over versions, tombstones and files") {
    val t = mkTable()
    // every write lands in _bucket=0, salted over several files
    t.append((0L until 30L).map(k => (k, s"a$k")).toDF("id", "v"), version = 1)
    t.append((0L until 30L by 2).map(k => (k, s"b$k")).toDF("id", "v"), version = 2)
    t.delete((0L until 30L by 3).map(Tuple1(_)).toDF("id"), version = 3)
    t.append((0L until 30L by 6).map(k => (k, s"c$k")).toDF("id", "v"), version = 4)
    // same-version tie: the tombstone wins
    t.delete(Seq(Tuple1(12L)).toDF("id"), version = 4)
    val files = new java.io.File(t.root, "data/gen=0/_bucket=0").list()
      .count(_.endsWith(".parquet"))
    assert(files > 4, s"expected several files in the bucket, got $files")
    assert(jobsOf(t.lookup(6L).collect())._2 === 0, "bucketed lookup ran a job")
    (0L until 32L).foreach { k =>
      assert(t.lookup(k).collect().toSet ===
        t.read.filter(col("id") === k).collect().toSet, s"lookup($k)")
    }
    assertSame(t.lookup(12L), Seq())
    assertSame(t.lookup(6L), Seq((6L, "c6")))
  }

  /** `t.lookup(k)` against the FINAL view filtered to `k`, row for row. */
  private def assertLookup(t: GraftTable, k: Any): Unit =
    assert(t.lookup(k).collect().toSet ===
      t.read.filter(col(t.keys.head) === lit(k)).collect().toSet, s"lookup($k)")

  test("lookup over rename, retype and ADD COLUMN generations equals FINAL") {
    val root = tmpDir("graft-lookup-gens")
    // gen 0: int PK; then ADD COLUMN w, which updates gen 0 in place
    val t0 = new GraftTable(spark, root, Seq("id"), Seq(
      GraftColumn(0, "id", IntegerType), GraftColumn(1, "v", StringType)))
    t0.append((0 until 20).map(k => (k, s"a$k")).toDF("id", "v"), version = 1)
    val t1 = new GraftTable(spark, root, Seq("id"), Seq(
      GraftColumn(0, "id", IntegerType), GraftColumn(1, "v", StringType),
      GraftColumn(2, "w", IntegerType)))
    t1.append((0 until 20 by 2).map(k => (k, s"b$k", k * 10)).toDF("id", "v", "w"),
      version = 2)
    // gen 1: RENAME v → name, the PK and w retyped int → bigint
    val t2 = new GraftTable(spark, root, Seq("id"), Seq(
      GraftColumn(0, "id", LongType), GraftColumn(1, "name", StringType),
      GraftColumn(2, "w", LongType)))
    t2.append((0L until 20L by 3).map(k => (k, s"c$k", k * 100)).toDF("id", "name", "w"),
      version = 3)
    t2.delete((0L until 20L by 5).map(Tuple1(_)).toDF("id"), version = 4)
    assert(new java.io.File(root, "data").list().count(_.startsWith("gen=")) === 2)
    assert(jobsOf(t2.lookup(4L).collect())._2 === 0,
      "a lookup over bucketed generations ran a job")
    // live in gen 0 only, updated by ADD COLUMN rows, rewritten in gen 1,
    // deleted, and absent
    (0L until 22L).foreach(k => assertLookup(t2, k))
    assert(t2.lookup(4L).collect().toSeq.map(r => (r.getLong(0), r.getString(1),
      r.getLong(2))) === Seq((4L, "b4", 40L)))
  }

  test("lookup reads through parquet-mr's row reader with the vectorized reader off") {
    val t = mkTable()
    t.append((0L until 10L).map(k => (k, s"a$k")).toDF("id", "v"), version = 1)
    t.append((0L until 10L by 2).map(k => (k, s"b$k")).toDF("id", "v"), version = 2)
    t.delete(Seq(Tuple1(4L)).toDF("id"), version = 3)
    spark.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    try (0L until 11L).foreach(k => assertLookup(t, k))
    finally spark.conf.unset("spark.sql.parquet.enableVectorizedReader")
    assertSame(t.lookup(2L), Seq((2L, "b2")))
  }

  test("a lookup planned before compact() reads its grace epoch after it") {
    val t = mkTable()
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), version = 1)
    t.append(Seq((1L, "a2")).toDF("id", "v"), version = 2)
    val planned = t.lookup(1L)
    val files = planned.inputFiles
    t.compact()
    assert(planned.inputFiles.toSeq === files.toSeq)
    assertSame(planned, Seq((1L, "a2")))
    assert(t.lookup(1L).inputFiles.toSet.intersect(files.toSet).isEmpty,
      "a lookup planned after compact() still reads the old epoch")
    assertSame(t.lookup(1L), Seq((1L, "a2")))
  }

  test("lookup converts the key as the FINAL view's filter does") {
    val t = mkTable()
    t.append(Seq((5L, "five"), (7L, "seven")).toDF("id", "v"), version = 1)
    // 5, 5L, 5.0 and "5" name key 5; 5.5 and values past bigint name none
    Seq[Any](5, 5L, 5.0, 5.0f, "5", " 5", BigDecimal("5.00"))
      .foreach { k =>
        assertSame(t.lookup(k), Seq((5L, "five")))
        assertLookup(t, k)
      }
    Seq[Any](5.5, 1e30, BigDecimal("5.5"), BigDecimal("1e30"), Double.NaN)
      .foreach { k =>
        assertSame(t.lookup(k), Seq())
        assertLookup(t, k)
      }
    // an int PK: a long past its range names no key
    val ti = GraftTable(spark, tmpDir("graft-intpk"), Seq("id"), StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType))))
    ti.append(Seq((5, "five")).toDF("id", "v"), version = 1)
    Seq[Any](5L, 3000000000L, Long.MaxValue, "5").foreach(k => assertLookup(ti, k))
    assert(ti.lookup(3000000000L).collect().isEmpty)
  }

  test("compact writes one file per bucket of a small table") {
    val t = mkTable()
    // 30 k keys over two buckets, each written three times with a
    // payload that compresses poorly: the partial-collapse rows the
    // layout exchange ships pass the minimum coalesced partition size,
    // so coalescing by them split each bucket
    (0 until 3).foreach { i =>
      t.append(spark.range(0, 30000).select(
        (col("id") + (col("id") % 2) * 4294967L).as("id"),
        sha2(concat(lit(s"$i-"), col("id").cast("string")), 512).as("v")),
        version = i + 1)
    }
    val (_, jobs) = jobsOf(t.compact())
    assert(jobs <= 2, s"compact ran $jobs jobs")
    val epoch = new java.io.File(t.root).list().filter(_.startsWith("data-e")).max
    val buckets = new java.io.File(s"${t.root}/$epoch/gen=0").listFiles()
      .filter(_.getName.startsWith("_bucket="))
    assert(buckets.length === 2)
    buckets.foreach { b =>
      val files = b.list().count(_.endsWith(".parquet"))
      assert(files === 1, s"${b.getName} holds $files files after compaction")
    }
    assert(t.dataFileCount === 2L)
  }

  test("string-PK lookup keeps its parallel exchange plan") {
    val t = GraftTable(spark, tmpDir("graft-strpk"), Seq("id"), StructType(Seq(
      StructField("id", StringType), StructField("v", StringType))))
    t.append(Seq(("k1", "a"), ("k2", "b")).toDF("id", "v"), version = 1)
    t.append(Seq(("k1", "a2")).toDF("id", "v"), version = 2)
    assert(t.lookup("k1").collect().map(_.getString(1)).toSeq === Seq("a2"))
    assert(exchanges(t.lookup("k1")).nonEmpty,
      "a non-bucketed lookup lost its exchange plan")
  }

  test("truncate clears data, table stays usable") {
    val t = mkTable()
    t.append(Seq((1L, "a")).toDF("id", "v"), version = 1)
    t.truncate()
    assert(t.read.isEmpty)
    t.append(Seq((2L, "b")).toDF("id", "v"), version = 2)
    assertSame(t.read, Seq((2L, "b")))
  }

  test("a hot-key flush ships one row per key per map partition") {
    // 200 k events over 100 keys in 8 input partitions: the collapse
    // runs on the layout exchange with its partial below it, so the
    // exchange carries at most keys × map partitions rows — not one
    // per event, and no second exchange adds the collapsed keys again
    val keys = 100
    val parts = 8
    val n = 200000L
    val t = mkTable()
    val events = spark.range(0, n, 1, parts).select(
      (col("id") % keys).as("id"), col("id").as("seq"),
      col("id").cast("string").as("v"), (col("id") % 7 === 0).as("_deleted"))
    val (_, jobs, records) = workOf(
      t.writeLatest(events, struct(col("seq")), 5L, identity, identity))
    assert(records <= keys * parts, s"$records shuffle records")
    assert(jobs <= 2, s"$jobs jobs")
    // each key's last event wins; a last delete leaves no row
    val want = (0 until keys).map(k => n - keys + k)
      .filter(_ % 7 != 0).map(i => (i % keys, i.toString))
    assertSame(t.read, want)
    assert(t.log.count() === keys.toLong)
  }
}
