package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Unit coverage for the training-data operators on constructed inputs
  * (the fixture-scale behavior is covered by the oracle gate).
  */
class TrainingDataOpsSpec extends SparkSpec {
  import spark.implicits._

  // minhash-LSH at d_minhash_lsh's parameters over per-corpus shingle
  // tables, which the caller persists and releases
  private def withShingles(corpora: DataFrame*)(
      f: Seq[DataFrame] => DataFrame): Array[Row] = {
    val shs = corpora.map(Dedup.shingleTable(_, "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try f(shs).collect()
    finally shs.foreach(_.unpersist())
  }

  private def nearDups(docs: DataFrame): Array[Row] =
    withShingles(docs)(shs =>
      Dedup.minhashNearDups(shs.head, k = 6, b = 3, r = 2, threshold = 0.5))

  private def incremental(existing: DataFrame, batch: DataFrame): Array[Row] =
    withShingles(existing, batch)(shs =>
      Dedup.incrementalNearDups(shs(0), shs(1),
        batch.select(col("doc_id").as("id")),
        k = 6, b = 3, r = 2, threshold = 0.5))

  test("exact dedup finds identical texts only") {
    val docs = Seq(
      (1L, "the same text"), (2L, "the same text"),
      (3L, "the  same text"), // extra whitespace normalizes equal
      (4L, "different")).toDF("doc_id", "text")
    val groups = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(groups.length === 1)
    assert(groups(0).getAs[Long]("canonical_id") === 1L)
    assert(groups(0).getAs[Long]("n_dups") === 3L)
  }

  test("minhash LSH finds a planted near-dup and skips unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x y"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
    val pairs = nearDups(docs)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs(0).getAs[Double]("jaccard") > 0.8)
  }

  test("sharedWindowPairs: verbatim span found at ANY alignment, df cap holds") {
    val span = (1 to 40).map(i => s"s$i").mkString(" ")
    val fillA = (1 to 30).map(i => s"a$i").mkString(" ")
    val fillB = (1 to 30).map(i => s"b$i").mkString(" ")
    val other = (1 to 80).map(i => s"c$i").mkString(" ")
    // the shared span sits at offset 30 in A and offset 0 in B — a
    // positional stride would only find it when the offsets agree mod
    // stride; content-keyed selection is alignment-free by construction
    val docs = Seq((1L, s"$fillA $span"), (2L, s"$span $fillB"),
      (3L, other)).toDF("doc_id", "text")
    // keep-all ("g" > every md5 hex): exactly the 40-16+1 in-span windows
    val all = Dedup.sharedWindowPairs(docs, "doc_id", "text",
      w = 16, keepBelow = "g").collect()
    assert(all.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(all(0).getAs[Long]("n_shared") === 25L)
    // 1/4 winnowing: same pair, a subset of the span's windows
    val kept = Dedup.sharedWindowPairs(docs, "doc_id", "text",
      w = 16, keepBelow = "4").collect()
    assert(kept.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(kept(0).getAs[Long]("n_shared") >= 1L &&
      kept(0).getAs[Long]("n_shared") <= 25L)
    // a doc shorter than the window yields no windows and no crash
    val short = Seq((1L, "just a few tokens")).toDF("doc_id", "text")
    assert(Dedup.sharedWindowPairs(short, "doc_id", "text", w = 16,
      keepBelow = "g").count() === 0L)
    // df cap: a boilerplate window common to 10 docs is dropped at
    // maxDf=4 (saturated buffer, no pair explosion), kept at maxDf=20
    val boiler = (1 to 16).map(i => s"w$i").mkString(" ")
    val many = (1L to 10L).map(i => (i, s"$boiler uniq$i"))
      .toDF("doc_id", "text")
    assert(Dedup.sharedWindowPairs(many, "doc_id", "text", w = 16,
      keepBelow = "g", maxDf = 4).count() === 0L)
    assert(Dedup.sharedWindowPairs(many, "doc_id", "text", w = 16,
      keepBelow = "g", maxDf = 20).count() === 45L) // C(10,2)
  }

  test("dupClusters: transitive closure over pairs, path graph included") {
    // Two components: a path 1-2-3-4 (tests multi-round propagation —
    // min label must travel the diameter, not just one hop) and a
    // disjoint pair 10-11. Canonical id = component min.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getAs[Long]("canonical_id"),
        r.getAs[Long]("n_members"), r.getAs[String]("members"))).toSet
    assert(got === Set((1L, 4L, "1,2,3,4"), (10L, 2L, "10,11")))
  }

  test("dupClusters: reliable checkpoint dir variant, same answer") {
    // with sc.setCheckpointDir set, the loop switches from
    // localCheckpoint (executor-block-resident, lost on executor
    // failure) to reliable checkpoints in the configured dir — the
    // fault-tolerant cluster mode. Same semantics, files on disk, and
    // every checkpoint but the returned relation's is deleted.
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "test expects no prior ckpt dir")
    val dir = tmpDir("graft-ckpt")
    sc.setCheckpointDir(dir)
    try {
      // one `rdd-N` directory per reliable checkpoint still on disk
      def checkpoints(f: java.io.File): Seq[String] =
        Option(f.listFiles).toSeq.flatten.flatMap { c =>
          if (c.getName.startsWith("rdd-")) Seq(c.getPath)
          else if (c.isDirectory) checkpoints(c)
          else Nil
        }
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("id_a", "id_b")
      val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L)
      // the distributed loop (no driver fallback): its edge checkpoint
      // and every superseded round are freed; the labels' own remains
      val labels = Dedup.componentLabels(pairs, driverFallbackEdges = 0)
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === expected)
      val left = checkpoints(new java.io.File(dir))
      assert(left.size === 1,
        s"expected only the returned relation's checkpoint, found $left")
      // the driver path checkpoints the edges, collects them, frees them
      val got = Dedup.dupClusters(pairs).collect()
        .map(r => (r.getAs[Long]("canonical_id"),
          r.getAs[Long]("n_members"), r.getAs[String]("members"))).toSet
      assert(got === Set((1L, 4L, "1,2,3,4"), (10L, 2L, "10,11")))
      assert(checkpoints(new java.io.File(dir)) === left,
        "the driver path left checkpoint files")
    } finally {
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }

  test("dupClusters: ONE blocking action per propagation round") {
    // the convergence count rides the eager checkpoint's observed
    // metric — a loop that issues a separate count() per round doubles
    // the driver round-trips (r6 VERDICT item #2). Pin it by counting
    // Dataset actions via a QueryExecutionListener over a path graph
    // whose diameter forces multiple rounds.
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        // `rdd` events are the ckpt wrapper's lazy Dataset.rdd (the
        // stats-stripping re-wrap) — tracked by the listener but they
        // launch NO job; the pin is about blocking driver round-trips
        if (funcName != "rdd") { actions.incrementAndGet(); names.add(funcName) }
        ()
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // path 1..6: min must travel 5 hops → 5 rounds + 1 no-change round
      val pairs = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val clusters = Dedup.dupClusters(pairs)
      // the listener bus is async — poll until the count is stable
      def settle(last: Int, tries: Int): Int = {
        Thread.sleep(300)
        val now = actions.get()
        if (now == last || tries <= 0) now else settle(now, tries - 1)
      }
      settle(actions.get(), 20)
      val loopActions = actions.get()
      val rows = clusters.collect()
      assert(rows.map(_.getAs[String]("members")).toSet === Set("1,2,3,4,5,6"))
      // 2 setup checkpoints (pair base + initial labels) + ≤7 rounds,
      // ONE action each. The old two-actions-per-round loop measured
      // 2 + 2·rounds ≥ 14 here.
      assert(loopActions <= 9,
        s"$loopActions actions (${names.toArray.mkString(", ")}) for the " +
          "propagation loop — a second per-round driver action crept back in")
    } finally spark.listenerManager.unregister(listener)
  }

  test("incrementalNearDups equals full-pipeline pairs touching the batch") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),                                          // index
      (2L, (1 to 38).map(i => s"w$i").mkString(" ") + " x y"), // index dup of 1
      (3L, (100 to 140).map(i => s"v$i").mkString(" ")),   // index, unrelated
      (10L, base + " z"),                                  // batch dup of 1, 2
      (20L, (100 to 139).map(i => s"v$i").mkString(" ") + " q"), // batch dup of 3
      (30L, base + " z z2"),                               // batch dup of 10 too
      (40L, (200 to 240).map(i => s"u$i").mkString(" "))   // batch, unrelated
    ).toDF("doc_id", "text")
    val inc = incremental(
      docs.filter(col("doc_id") < 10), docs.filter(col("doc_id") >= 10))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = nearDups(docs)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => p._1 >= 10 || p._2 >= 10).toSet
    assert(inc === full, s"incremental ≠ restricted recompute")
    // sanity: cross-set AND within-batch pairs both present
    assert(inc.exists(p => p._1 < 10 && p._2 >= 10), "no cross pair found")
    assert(inc.exists(p => p._1 >= 10 && p._2 >= 10), "no within-batch pair")
    assert(!inc.exists(p => p._1 < 10 && p._2 < 10), "index-only pair leaked")
  }

  test("incrementalNearDups: a re-ingested id verifies against its NEW text") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    // doc 5 exists in the index with text UNRELATED to doc 1; the batch
    // re-ingests doc 5 as a near-dup of doc 1 (an upsert). The old
    // generation must not dilute the verify: (1, 5) must clear 0.5.
    val existing = Seq((1L, base), (5L, other)).toDF("doc_id", "text")
    val batch = Seq((5L, base + " z")).toDF("doc_id", "text")
    val pairs = incremental(existing, batch)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet === Set((1L, 5L)),
      s"expected exactly the upserted near-dup pair, got ${pairs.toSeq}")
    assert(pairs.head._3 > 0.8,
      s"stale index generation diluted jaccard: ${pairs.head._3}")
  }

  test("spanScrub: null text keeps its row; string ids are rejected") {
    val docs = Seq((1L, Some("a b c")), (2L, None))
      .toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
    assert(out.length === 2, "null-text doc vanished from the output")
    assert(out(1).getLong(0) === 2L &&
      out(1).getInt(2) === 0 && out(1).getString(3) === "")
    val bad = Seq(("x", "a b")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.spanScrub(bad, "doc_id", "text", w = 2)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("spanScrub: first occurrence wins across and within docs") {
    def words(r: Range, p: String) = r.map(i => s"$p$i").mkString(" ")
    val boiler = words(1 to 10, "b") // one exact 10-word chunk
    val docs = Seq(
      // doc 1: unique chunk + boilerplate chunk (positions 0,1)
      (1L, words(1 to 10, "u") + " " + boiler),
      // doc 2: boilerplate FIRST, then unique — loses chunk 0 to doc 1
      (2L, boiler + " " + words(1 to 10, "v")),
      // doc 3: the same chunk twice — within-doc dup also collapses
      (3L, words(1 to 10, "w") + " " + words(1 to 10, "w")),
      // doc 4: all chunks seen earlier → empty clean_text
      (4L, boiler),
      // doc 5: 13 words — a 3-word tail chunk survives as its own unit
      (5L, words(1 to 13, "t"))).toDF("doc_id", "text")
    val out = Dedup.spanScrub(docs, "doc_id", "text", w = 10)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(byId(1L) === ((2, 2, words(1 to 10, "u") + " " + boiler)))
    assert(byId(2L) === ((2, 1, words(1 to 10, "v"))))
    assert(byId(3L) === ((2, 1, words(1 to 10, "w"))))
    assert(byId(4L) === ((1, 0, "")))
    assert(byId(5L) === ((2, 2, words(1 to 13, "t"))))
  }

  test("componentLabels + hashSplit: near-dups share a split label") {
    // path graph 1-2-3 plus isolated 9: all of 1,2,3 must take 1's split
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.componentLabels(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val split = docs
      .join(Dedup.componentLabels(pairs).withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), Sampling.hashSplit(
        coalesce(col("comp"), col("doc_id")),
        Seq("val" -> "40", "test" -> "80"), "train").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(split(1L) === split(2L) && split(2L) === split(3L),
      s"cluster members split apart: $split")
  }

  test("componentLabels: driver union-find and distributed loop agree") {
    // two chains, a triangle, and a cross-link — chain shapes are the
    // pointer-doubling loop's worst case, so both strategies must land
    // on the identical (id, min-of-component) relation
    val pairs = Seq(
      (7L, 3L), (3L, 11L), (11L, 2L),          // chain with min inside
      (20L, 21L), (21L, 22L), (22L, 20L),      // triangle
      (30L, 31L),                              // pair
      (2L, 30L)                                // cross-link: merges chains
    ).toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = toMap(Dedup.componentLabels(pairs)) // under threshold
    val viaLoop = toMap(Dedup.componentLabels(pairs, driverFallbackEdges = 0))
    val expected = Map(7L -> 2L, 3L -> 2L, 11L -> 2L, 2L -> 2L,
      30L -> 2L, 31L -> 2L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    assert(viaDriver === expected)
    assert(viaLoop === expected)
  }

  test("componentLabels: int ids keep their type through the fallback") {
    val pairs = Seq((5, 9), (9, 4)).toDF("id_a", "id_b")
    val out = Dedup.componentLabels(pairs)
    assert(out.schema("id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(5 -> 4, 9 -> 4, 4 -> 4))
  }

  test("componentLabels: string ids skip the driver fallback and solve") {
    // the driver union-find keys a Long map — non-integral ids must
    // route to the distributed loop even under the edge threshold
    // (previously a ClassCastException at collect time)
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val out = Dedup.componentLabels(pairs)
    assert(out.schema("id").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("hammingNearDups == brute force within the pigeonhole threshold") {
    // random 64-bit hashes + planted near pairs: the banded join must
    // return EXACTLY the all-pairs Hamming filter (recall 1.0 for
    // maxDist ≤ bands−1), including pairs that agree on several bands
    val rnd = new scala.util.Random(20260824L)
    val baseHashes = (0 until 40).map(i => i.toLong -> rnd.nextLong())
    val planted = baseHashes.take(6).map { case (id, h) =>
      // flip 1..7 random bits → guaranteed-found near pair
      val flips = 1 + rnd.nextInt(7)
      val h2 = (0 until flips).foldLeft(h)((acc, _) =>
        acc ^ (1L << rnd.nextInt(64)))
      (id + 100L) -> h2
    }
    val all = baseHashes ++ planted ++ Seq(500L -> baseHashes.head._2) // exact dup
    val df = all.toDF("id", "h")
    val got = Dedup.hammingNearDups(df, "id", "h", 64, 8, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (a, b, d)).toSet
    assert(got === brute)
    assert(brute.size >= 7, "fixture must contain the planted pairs")
    // 32-bit path (simhash shape)
    val df32 = Seq(1L -> 0x0f0f0f0fL, 2L -> 0x0f0f0f0eL, 3L -> 0xf0f0f0f0L)
      .toDF("id", "h")
    val got32 = Dedup.hammingNearDups(df32, "id", "h", 32, 8, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got32 === Set((1L, 2L, 1)))
    // invalid band configs refuse loudly
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(df32, "id", "h", 32, 8, 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(df32, "id", "h", 33, 8, 3)
    }
  }

  test("frameNearDupVideos: frame-matched pairs under the mean-dist criterion") {
    // three videos: A and B near-dups (per-frame dists 0,2,3 → total 5
    // ≤ 2·3), C same length but far, D a different length sharing A's
    // exact frames (length mismatch must exclude it), E close on two
    // frames but blown out on one (total over budget)
    val a0 = 0x0f0f0f0f0f0f0f0fL
    val rows = Seq(
      ("A", 0, a0), ("A", 2, a0 ^ 0xf0L), ("A", 4, ~a0),
      ("B", 0, a0), ("B", 2, a0 ^ 0xf0L ^ 0x3L),
      ("B", 4, ~a0 ^ 0x1100000001L),
      ("C", 0, 0x1234567890abcdefL), ("C", 2, 0x0fedcba987654321L),
      ("C", 4, 0x5555aaaa5555aaaaL),
      ("D", 0, a0), ("D", 2, a0 ^ 0xf0L),
      ("E", 0, a0), ("E", 2, a0 ^ 0xf0L),
      ("E", 4, ~a0 ^ 0x00ffff0000ffff00L))
    val df = rows.toDF("vid", "f", "h")
    val got = Dedup.frameNearDupVideos(df, "vid", "f", "h",
        nBits = 64, bands = 8, maxAvgDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(got === Set(("A", "B", 3, 5L)))
    // E blows its budget on one frame (dists 0,2,32 → total 34 > 21
    // even at the loosest legal maxAvg 7) and the far video C never
    // pairs; the length-mismatched D never pairs at any budget
    val loose = Dedup.frameNearDupVideos(df, "vid", "f", "h",
        nBits = 64, bands = 8, maxAvgDist = 7)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(loose.contains(("A", "B")))
    assert(!loose.exists(p => p._1 == "C" || p._2 == "C"))
    assert(!loose.exists(p => p._1 == "D" || p._2 == "D"),
      "length-mismatched video must never pair")
    intercept[IllegalArgumentException] {
      Dedup.frameNearDupVideos(df, "vid", "f", "h", 64, 8, maxAvgDist = 8)
    }
  }

  test("hammingNearDups: hot-bucket cap drops degenerate buckets, keeps planted pairs") {
    // Thousands of sketches agreeing on band 0 (low byte = 0) — the
    // degenerate shape the operator must survive by construction: an
    // uncapped join would turn that one (band, value) bucket into
    // C(5000+,2) ≈ 12.5M candidate pairs. With maxBucket = 64 the hot
    // bucket is dropped, the join stays linear in the cold buckets,
    // and recall is preserved for every pair that agrees on at least
    // one cold band.
    val rnd = new scala.util.Random(20260815L)
    val degenerate = (0 until 5000).map { i =>
      i.toLong -> (rnd.nextLong() << 8) // low byte 0 → all share (0, 0)
    }
    // planted twins flip 1..5 bits inside bands 2..7 only, so each
    // pair still agrees on band 1 — a cold ~5000/256-member bucket —
    // after the hot band 0 is dropped
    val planted = degenerate.take(8).map { case (id, h) =>
      val flips = 1 + rnd.nextInt(5)
      val h2 = (0 until flips).foldLeft(h)((acc, _) =>
        acc ^ (1L << (16 + rnd.nextInt(48))))
      (id + 100000L, id, h, h2)
    }
    // sacrificial pair: exactly one flipped bit in EACH of bands 1..7
    // → its only agreeing band is the hot one, so the capped join must
    // miss it — direct evidence the bucket was dropped, not just slow
    val hs = rnd.nextLong() << 8
    val hs2 = (1 to 7).foldLeft(hs)((acc, b) => acc ^ (1L << (8 * b)))
    assert(java.lang.Long.bitCount(hs ^ hs2) == 7)
    val all = degenerate ++ planted.map(p => p._1 -> p._4) ++
      Seq(900000L -> hs, 900001L -> hs2)
    val out = Dedup.hammingNearDups(all.toDF("id", "h"), "id", "h",
        64, 8, 7, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { case (tid, bid, h, h2) =>
      assert(out.contains((bid, tid)),
        s"planted pair ($bid, $tid) dist=${java.lang.Long.bitCount(h ^ h2)} lost")
    }
    assert(!out.contains((900000L, 900001L)),
      "hot-band-only pair survived — the over-cap bucket was not dropped")
    // control: same sacrificial pair in a small corpus stays under the
    // default cap and IS found — the miss above is the cap, not a bug
    val small = degenerate.take(50) ++ Seq(900000L -> hs, 900001L -> hs2)
    val ctrl = Dedup.hammingNearDups(small.toDF("id", "h"), "id", "h",
        64, 8, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ctrl.contains((900000L, 900001L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(all.toDF("id", "h"), "id", "h", 64, 8, 7,
        maxBucket = 1)
    }
  }

  test("frameNearDupVideos: hot-bucket cap drops degenerate frame " +
      "buckets, keeps planted pairs") {
    // the video twin of the hammingNearDups cap spec: 3000 videos of
    // 2 frames whose hashes all share low byte 0, so the (frameIdx,
    // band 0, value 0) bucket at EVERY frame index holds 3000 members
    // — an uncapped join would build C(3000,2)·2 ≈ 9M candidates per
    // degenerate bucket. With maxBucket = 64 those buckets drop, the
    // join stays linear in the cold buckets, and recall is preserved
    // for every pair agreeing on at least one cold band at some frame.
    val rnd = new scala.util.Random(20260815L)
    val base = (0 until 3000).map { i =>
      i.toLong -> Array(rnd.nextLong() << 8, rnd.nextLong() << 8)
    }
    // planted twins flip 1..3 bits PER FRAME inside bands 2..7 only:
    // each frame still agrees with its base frame on band 1 — a cold
    // ~3000/256-member bucket — and mean distance stays ≤ 3 ≤ 7
    val planted = base.take(8).map { case (id, hs) =>
      val twin = hs.map { h =>
        val flips = 1 + rnd.nextInt(3)
        (0 until flips).foldLeft(h)((acc, _) =>
          acc ^ (1L << (16 + rnd.nextInt(48))))
      }
      (id + 100000L, id, hs, twin)
    }
    // sacrificial pair: each frame flips exactly one bit in EACH of
    // bands 1..7 → mean distance 7, inside maxAvgDist = 7, but every
    // frame's only agreeing band is the hot band 0 — the capped join
    // must miss it, direct evidence the degenerate buckets dropped
    val sacA = Array(rnd.nextLong() << 8, rnd.nextLong() << 8)
    val sacB = sacA.map(h => (1 to 7).foldLeft(h)((acc, b) =>
      acc ^ (1L << (8 * b))))
    assert(sacA.zip(sacB).forall { case (a, c) =>
      java.lang.Long.bitCount(a ^ c) == 7 })
    def frameRows(vids: Seq[(Long, Array[Long])]) =
      vids.flatMap { case (id, hs) =>
        hs.zipWithIndex.map { case (h, f) => (id, f, h) } }
        .toDF("vid", "f", "h")
    val all = base ++ planted.map(p => p._1 -> p._4) ++
      Seq(900000L -> sacA, 900001L -> sacB)
    val out = Dedup.frameNearDupVideos(frameRows(all), "vid", "f", "h",
        nBits = 64, bands = 8, maxAvgDist = 7, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3))).toList
    val pairs = out.map(p => (p._1, p._2)).toSet
    planted.foreach { case (tid, bid, hs, twin) =>
      assert(pairs.contains((bid, tid)), s"planted pair ($bid, $tid) lost")
      val want = hs.zip(twin)
        .map { case (a, c) => java.lang.Long.bitCount(a ^ c).toLong }.sum
      val row = out.find(p => p._1 == bid && p._2 == tid).get
      assert(row._3 === 2, "frame count")
      assert(row._4 === want, "total distance")
    }
    assert(!pairs.contains((900000L, 900001L)),
      "hot-bucket-only pair survived — degenerate buckets not dropped")
    // control: the same sacrificial pair in a small corpus stays under
    // the default cap and IS found — the miss above is the cap working
    val small = base.take(50) ++ Seq(900000L -> sacA, 900001L -> sacB)
    val ctrl = Dedup.frameNearDupVideos(frameRows(small), "vid", "f",
        "h", nBits = 64, bands = 8, maxAvgDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ctrl.contains((900000L, 900001L)))
  }

  test("ahash twins: perturbed classes sit a few bits from their base") {
    import graft.operators.MediaCodec
    val hashes = (0L until 37L).map { s =>
      s -> MediaCodec.ahashBmp(s, MediaCodec.buildBmpTwinTexture(s)).get.ahash
    }.toMap
    def dist(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val twinDists = (30L until 37L).map(s =>
      s -> dist(hashes(s), hashes(s - 30)))
    for ((s, d) <- twinDists)
      assert(d >= 1 && d <= 5, s"twin $s at dist $d; all: $twinDists")
    // unrelated classes stay outside the gate's maxDist = 5 threshold
    val far = for {
      a <- 0L until 30L; b <- 0L until 30L if a < b
    } yield dist(hashes(a), hashes(b))
    assert(far.min > 5, s"unrelated classes collide at ${far.min} bits")
  }

  test("hashSplit: deterministic, covers all labels, respects cut order") {
    val ids = spark.range(0, 2000).toDF("id")
    val split = Sampling.hashSplit(col("id"),
      Seq("val" -> "1a", "test" -> "33"), "train")
    val counts = ids.groupBy(split.as("s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ~10.2% / ~9.8% / ~80% by hex-prefix mass; wide tolerance
    assert(counts("val") > 100 && counts("val") < 320)
    assert(counts("test") > 100 && counts("test") < 320)
    assert(counts("train") > 1400)
    // re-evaluation yields the identical assignment (no RNG state)
    val twice = ids.select(split.as("a"), split.as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(twice === 0)
  }

  test("dsirWeights: target-like docs outrank off-target; deterministic") {
    // target = "science" docs; a held-out science-flavored doc must
    // outscore a sports-flavored one under the target-vs-corpus llr
    val sci = "the experiment measured the quantum decay rate precisely"
    val sport = "the team scored late and the crowd cheered the striker"
    val docs = Seq(
      (1L, sci + " in the lab", true),
      (2L, "observed particle collision energy in the detector", true),
      (3L, sport + " loudly", false),
      (4L, "the referee booked the striker after the tackle", false),
      (5L, sci, false),   // held out: science text NOT in the target set
      (6L, sport, false)) // held out: sports text
      .toDF("doc_id", "text", "is_target")
    val w = Sampling.dsirWeights(docs, "doc_id", "text", col("is_target"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("logw")).toMap
    assert(w.size === 6) // every doc has terms, none dropped
    assert(w(5L) > w(6L),
      s"held-out science ${w(5L)} must outscore held-out sports ${w(6L)}")
    // deterministic: an identical second run reproduces every weight
    val w2 = Sampling.dsirWeights(docs, "doc_id", "text", col("is_target"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("logw")).toMap
    assert(w2 === w)
    // a doc with no terms drops out instead of scoring
    val empty = Seq((1L, "a b", true), (2L, "", false))
      .toDF("doc_id", "text", "is_target")
    assert(Sampling.dsirWeights(empty, "doc_id", "text", col("is_target"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("stratifiedTopK: k smallest hashes per group, dense ranks") {
    val df = spark.range(0, 300)
      .select(col("id"), (col("id") % 3).cast("string").as("g"))
    val got = Sampling.stratifiedTopK(df, "g", "id", k = 4, salts = 8)
      .collect()
    assert(got.length === 12)
    // per group: ranks are exactly 1..4 and ids are the 4 with the
    // smallest md5(id) — check against a driver-side recomputation
    def h(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(i.toString.getBytes).map("%02x".format(_)).mkString
    val byG = got.groupBy(_.getString(0))
    for ((g, rows) <- byG) {
      assert(rows.map(_.getInt(2)).sorted.toSeq === Seq(1, 2, 3, 4))
      val expect = (0L until 300L).filter(i => (i % 3).toString == g)
        .sortBy(h).take(4).toSet
      assert(rows.map(_.getLong(1)).toSet === expect)
    }
  }

  test("contamination: flags only train docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "a b c d e f"),          // shares 4-gram "c d e f" with eval
      (2L, "q r s t u v"),          // disjoint
      (3L, "c d e f g h")).toDF("doc_id", "text") // shares "c d e f"
    val eval = Seq((100L, "x y c d e f z")).toDF("doc_id", "text")
    val got = Dedup.contamination(train, eval, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.keySet === Set(1L, 3L))
    assert(got(1L) === 1L)
  }

  test("simhash: identical docs share signatures, disjoint docs differ") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(3L))
  }

  test("cosine is exact on known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val sims = df.select(Similarity.cosine($"a", $"b").as("s"))
      .collect().map(_.getDouble(0))
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by similarity with deterministic ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rnk").collect().map(_.getLong(1))
    assert(got.toSeq === Seq(1L, 3L, 2L)) // tie 1 vs 3 broken by id
  }

  test("langId picks the profile with most hits; 'und' when none") {
    val df = Seq("the cat sat on the mat for a while",
      "el perro de la casa en un jardin",
      "zzz qqq xxx").toDF("text")
    val got = df.select(TextAnalysis.langId($"text").as("l"))
      .collect().map(_.getString(0))
    assert(got.toSeq === Seq("en", "es", "und"))
  }

  test("multimodal stub decode: deterministic features + frame plan") {
    import graft.operators.Multimodal._
    val media = Seq(
      MediaRow(1L, "image", Array[Byte](1, 2, 3)),
      MediaRow(2L, "video", Array.fill[Byte](100)(7))).toDS()
    val feats = extractFeatures(media).collect().sortBy(_.id)
    assert(feats(0).byteLen === 3 && feats(0).nFrames === 1)
    assert(feats(1).kind === "video" && feats(1).nFrames === 1 + 100 % 30)
    // decode twice → identical (idempotent, replayable at scale)
    val again = extractFeatures(media).collect().sortBy(_.id)
    assert(feats.toSeq === again.toSeq)
    val plan = sampleFramePlan(extractFeatures(media), stride = 5)
      .collect()
    assert(plan.length === 1)
    assert(plan(0).getSeq[Int](2).forall(_ % 5 === 0))
  }

  test("PII: counts find each shape once; redaction is email-first") {
    val docs = Seq(
      (1L, "reach me at jo.doe+x@mail.example.org or 555-123-4567"),
      (2L, "server 10.0.12.255 and 192.168.1.1 are up"),
      // digits-and-dots local part: email-first redaction must consume
      // the whole address — ip-first would chew `1.2.3.4` out of it
      (3L, "ping a.1.2.3.4@example.com now"),
      (4L, "no personal data here"),
      (5L, "phone 555-000-9999 ip 8.8.8.8 mail x@y.io"))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id",
      TextAnalysis.piiEmailCount($"text").as("e"),
      TextAnalysis.piiPhoneCount($"text").as("p"),
      TextAnalysis.piiIpCount($"text").as("i"),
      TextAnalysis.redactPii($"text").as("red"))
      .collect().sortBy(_.getLong(0))
    assert(got.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq ===
      Seq((1, 1, 0), (0, 0, 2), (1, 0, 1), (0, 0, 0), (1, 1, 1)))
    assert(got(0).getString(4) === "reach me at [EMAIL] or [PHONE]")
    assert(got(1).getString(4) === "server [IP] and [IP] are up")
    assert(got(2).getString(4) === "ping [EMAIL] now")
    assert(got(3).getString(4) === "no personal data here")
    assert(got(4).getString(4) === "phone [PHONE] ip [IP] mail [EMAIL]")
  }

  test("gopher rules: each rule fails on its own pathology") {
    val stop = TextAnalysis.langProfiles.head._2
    val good = ((1 to 30).map(i => s"word$i") ++ Seq("the", "of")).mkString(" ")
    val tooShort = "the of tiny"
    val looped = (Seq("the", "of") ++ Seq.fill(20)(Seq("spam", "ham")).flatten
      ++ (1 to 5).map(i => s"w$i")).mkString(" ")
    val longWords = ((1 to 25).map(i => "x" * 30 + i) ++ Seq("the", "of"))
      .mkString(" ")
    val noStop = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = Seq((1L, good), (2L, tooShort), (3L, looped),
      (4L, longWords), (5L, noStop), (6L, "solo")).toDF("doc_id", "text")
    val g = docs.select($"doc_id",
      TextAnalysis.gopherRules($"text", stop).as("g"))
      .select($"doc_id", $"g.*").collect().sortBy(_.getLong(0))
    def flags(r: org.apache.spark.sql.Row) =
      (r.getAs[Boolean]("r_wordcount"), r.getAs[Boolean]("r_meanwordlen"),
        r.getAs[Boolean]("r_stopwords"), r.getAs[Boolean]("r_dup2gram"),
        r.getAs[Boolean]("pass"))
    assert(flags(g(0)) === (true, true, true, true, true))
    assert(flags(g(1))._1 === false && flags(g(1))._5 === false)
    assert(flags(g(2))._4 === false && flags(g(2))._5 === false)
    assert(flags(g(3))._2 === false && flags(g(3))._5 === false)
    assert(flags(g(4))._3 === false && flags(g(4))._5 === false)
    // single word: no bigrams — dup mass 0 by the explicit guard
    assert(g(5).getAs[Double]("dup_2gram_frac") === 0.0)
  }

  test("mix interleave: clocks scale with weight, zero weight never arrives") {
    val docs = Seq((1L, "a"), (1L, "b"), (2L, "a"), (3L, "c"))
      .toDF("doc_id", "source")
    val w = Seq("a" -> 0.5, "b" -> 1.0, "c" -> 0.0)
    val keys = docs.select($"doc_id", $"source",
      Sampling.mixInterleaveKey($"doc_id", $"source", w).as("k"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    val k1a = keys.find(k => k._1 == 1L && k._2 == "a").get._3.get
    val k1b = keys.find(k => k._1 == 1L && k._2 == "b").get._3.get
    // same id = same uniform draw; doubling the weight halves the clock
    assert(math.abs(k1a / k1b - 2.0) < 1e-4)
    // weight 0 / unlisted source: no arrival
    assert(keys.find(_._1 == 3L).get._3.isEmpty)
    // deterministic across evaluations
    val again = docs.select(
      Sampling.mixInterleaveKey($"doc_id", $"source", w).as("k"))
      .collect().flatMap(r => Option(r.get(0)))
    assert(again.toSet === keys.flatMap(_._3).toSet)
  }

  test("semDedup drops the higher id within a cell, never across cells") {
    val model = Ivf.Model(IndexedSeq(
      IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0)))
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),      // cell 0, keeper
      (2L, Array(0.99f, 0.01f)),    // cell 0, near id1 -> dropped
      (3L, Array(0.0f, 1.0f)),      // cell 1, alone near axis
      (4L, Array(0.1f, 0.9f)),      // cell 1, near id3 -> dropped
      (5L, Array(0.70f, 0.71f)),    // cell 1 (just)
      (6L, Array(0.71f, 0.70f)))    // cell 0 (just) - cosine ~1 with id5
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding", model,
      threshold = 0.95).collect().sortBy(_.getLong(0))
    def row(i: Int) = (got(i).getAs[Boolean]("dropped"),
      Option(got(i).get(3)).map(_.asInstanceOf[Long]))
    assert(row(0) === (false, None))
    assert(row(1) === (true, Some(1L)))
    assert(row(2) === (false, None))
    assert(row(3) === (true, Some(3L)))
    // ids 5 and 6 are near-identical but straddle the cell boundary:
    // cell-bounded SemDeDup keeps both (the documented recall tradeoff)
    assert(row(4) === (false, None))
    assert(row(5) === (false, None))
    assert(got.map(_.getAs[Int]("cell")).toSeq === Seq(0, 0, 1, 1, 1, 0))
  }

  test("sign bucket is stable, bounded, and matches the hyperplane family") {
    val vecs = Seq((0L, Array(1.0f, -1.0f, 1.0f, -1.0f, 9f)),
      (1L, Array(1.0f, -1.0f, 1.0f, -1.0f, 9f)),
      (2L, Array(-3f, 2f, 0.5f, -1f, 0f))).toDF("vec_id", "embedding")
    val bs = vecs.orderBy("vec_id")
      .select(Similarity.signBucket($"embedding", 4, dim = 5).as("b"))
      .collect().map(_.getLong(0))
    assert(bs(0) === bs(1)) // deterministic
    assert(bs.forall(b => b >= 0 && b < 16))
    // driver-side recomputation over the same seeded signs agrees
    val h = Similarity.hyperplaneSigns(4, 5)
    val v = Array(1.0, -1.0, 1.0, -1.0, 9.0)
    val want = (0 until 4).map { i =>
      val d = (0 until 5).foldLeft(0.0)((acc, j) => acc + v(j) * h(i)(j))
      if (d >= 0) 1L << i else 0L
    }.sum
    assert(bs(0) === want)
  }

  test("zipfSlope matches a local OLS reference; degenerate source is NULL") {
    // source "z": freqs 12,6,4,3 = 12/rank — an exact Zipf line
    // (ln f = ln 12 − ln r), so the fitted slope must land on −1;
    // the reference recomputes the same rounded-moment OLS locally
    val docs = Seq(
      ("z", ("a " * 12 + "b " * 6 + "c " * 4 + "d " * 3).trim),
      ("one", "only")).toDF("source", "text")
    val got = TextAnalysis.zipfSlope(docs, "source", "text")
      .orderBy("source").collect()
    val pts = Seq((1, 12), (2, 6), (3, 4), (4, 3)).map { case (r, c) =>
      (math.rint(math.log(r.toDouble) * 1e6) / 1e6,
        math.rint(math.log(c.toDouble) * 1e6) / 1e6)
    }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => math.rint(p._1 * p._2 * 1e6) / 1e6).sum
    val sx2 = pts.map(p => math.rint(p._1 * p._1 * 1e6) / 1e6).sum
    val want = math.rint((n * sxy - sx * sy) / (n * sx2 - sx * sx) * 1e6) / 1e6
    val z = got.find(_.getString(0) == "z").get
    assert(z.getInt(1) === 4)
    assert(math.abs(z.getDouble(2) - want) < 2e-6, s"got ${z.getDouble(2)}, want $want")
    assert(math.abs(want - (-1.0)) < 1e-4) // exact 12/rank decay → −1
    // one vocabulary row → no regression line
    val one = got.find(_.getString(0) == "one").get
    assert(one.isNullAt(2))
  }

  test("sourceDivergence: twin sources agree near zero; disjoint vocab diverges") {
    val rep = (w: String) => (w + " ") * 12
    val docs = Seq(
      ("s1", rep("alpha") + rep("beta")),
      ("s2", rep("alpha") + rep("beta")), // same distribution as s1
      ("s3", rep("qq") + rep("zz") + rep("kk"))) // disjoint vocabulary
      .toDF("source", "text")
    val got = Sampling.sourceDivergence(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(got("s1") - got("s2")) < 1e-9) // identical inputs
    // with a tiny vocabulary the Laplace prior dominates the absolute
    // level, but the disjoint source must still rank strictly above
    // the twins — ordering, not magnitude, is the drift signal
    assert(got("s3") > got("s1") * 1.2,
      s"disjoint source not flagged: $got")
    // deterministic under repartition
    val again = Sampling.sourceDivergence(docs.repartition(5), "source",
      "text").collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(again === got)
  }
}
