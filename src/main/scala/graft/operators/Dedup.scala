package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all designed as
  * shuffle-on-key aggregations / joins so they scale horizontally:
  *
  *  - exact: hash-groupBy on a content fingerprint — one shuffle keyed by
  *    digest; at 100 TB the map side emits (digest, id) pairs only.
  *  - MinHash + LSH: shingle → k minhashes → b band keys → candidate
  *    pairs via self-join on band key → verify exact Jaccard only on
  *    candidates. The join never materializes the n² pair space.
  *  - SimHash: 32-bit sign-of-sums signature; near-dup candidates share
  *    the signature (or a band of it).
  *  - n-gram Jaccard: candidate pairs = docs sharing a (rare) shingle;
  *    a document-frequency cap on shingles bounds the worst-case join
  *    fan-out (the classic hot-key guard — a shingle appearing in 10⁶
  *    docs would otherwise emit 10¹² pairs).
  *
  * Hash functions are md5-based so every stage is reproducible and has an
  * exact SQL twin for the oracle gate (no engine-specific hash).
  */
object Dedup {

  import Partitioning.spread

  /** Word n-gram shingles, distinct per doc — the native one-pass
    * [[graft.functions.Shingles]] expression. */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", text, lit(n))

  /** Exact duplicate groups: fingerprint → (canonical id, members). */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs).groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("n_dups"))
      .filter(col("n_dups") > 1)

  /** The exploded (id, shingle) table — the shared intermediate of every
    * shingle-based pipeline (minhash-LSH, rare-shingle Jaccard,
    * containment, sweeps, incremental ingest). Callers build it ONCE per
    * (corpus, n), persist it and own that persistence: candidate
    * generation, minhashing and Jaccard verification all consume it, and
    * recomputing the shingle expression (an interpreted higher-order
    * transform) per consumer was the dominant cost of the dedup bench
    * queries. In production the shingle index is an ingest-time
    * artifact, not per-query work. Shingling is per-document, so any
    * per-doc restriction of the corpus is exactly a filter of this
    * table. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    spread(docs).select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))

  /** The k minhash lanes are carved out of ⌈k/4⌉ md5 digests — four
    * 32-bit (8-hex-char) lanes per digest — instead of one full digest
    * per lane: measured, the md5 evaluations per shingle instance were
    * the dominant minhash cost, and 2 digests replace 6 for k = 6. The
    * digests are PROJECTED below the aggregate (one md5 each per input
    * row); the per-lane aggs only slice them. Lanes are fixed-width
    * lowercase hex, so string min == numeric min in every engine. */
  private def digestCols(k: Int): Seq[Column] =
    (0 until (k + 3) / 4).map(d =>
      md5(concat(lit(d.toString), lit("|"), col("s"))).as(s"m$d"))

  private def minhashAggs(k: Int): Seq[Column] =
    (0 until k).map(i =>
      min(substring(col(s"m${i / 4}"), 1 + 8 * (i % 4), 8)).as(s"h$i"))

  /** (id, band, bk) band-key table from a minhash frame — the LSH
    * "index" relation: self-joined for batch dedup, persisted/bucketed
    * by (band, bk) as the probe target for incremental ingest. */
  private def bandTable(mh: DataFrame, idCol: String, b: Int,
                        r: Int): DataFrame = {
    // band key = plain lane concat — the lanes are already uniform
    // hashes, re-digesting them buys nothing
    val bandKeys = array((0 until b).map(band => concat_ws("|",
      (0 until r).map(row => col(s"h${band * r + row}")): _*)): _*)
    mh.select(col(idCol).as("id"), posexplode(bandKeys).as(Seq("band", "bk")))
  }

  /** MinHash-LSH candidate pairs over a [[bandTable]] (`b` bands of `r`
    * rows): a pair is a candidate if any band key matches. Returns
    * (id_a, id_b) with a < b, once per band the pair matches in:
    * [[verifyOverlap]] folds the repeats in the per-doc grouping it needs
    * anyway, so a `distinct` here would only add an exchange.
    *
    * The `b` band keys are packed into ONE array and exploded, so there
    * is a single self-join on (band, key) — one shuffle pair — instead
    * of `b` separate joins each re-reading (and re-aggregating) the
    * minhash input. Both sides of the self-join are the same band
    * relation exchanged on (band, bk), so Spark computes that exchange
    * once and reads it twice (exchange reuse); the shuffled-hash hint
    * keeps the join on that one stage, where AQE would otherwise
    * broadcast one side of it (a second job, and a build side that could
    * differ between runs). Callers pass a checkpointed [[bandTable]] and
    * release it once [[verifyOverlap]] returns (its first action is the
    * last reader): over a cached input (a persisted shingle table) the
    * adaptive planner wraps each cache read in a stage of its own whose
    * id enters the plan's canonical form, so without the checkpoint leaf
    * the exchanges would not match and each side would recompute the
    * minhash aggregate.
    * Within a band bucket of m docs the C(m,2) pair fan-out is inherent
    * to LSH output; the join distributes it across tasks, so one hot
    * bucket (a giant dup cluster) cannot pin a single executor. */
  private def lshCandidates(banded: DataFrame): DataFrame =
    banded.select(col("id").as("id_a"), col("band"), col("bk"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("bk"))
        .hint("shuffle_hash"), Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")

  /** Exact shingle overlap (inter, na, nb) of candidate pairs over a
    * [[shingleTable]]. `candidates` may repeat a pair.
    *
    * Two actions, each stage run once. The first checkpoints one row per
    * candidate-touched doc — only those docs need their arrays, which
    * keeps the broadcast proportional to the candidate set, not the
    * corpus: its sorted shingle array (rebuilt from the exploded table
    * by one shuffle on id instead of re-running the shingle expression;
    * sorted so the per-pair intersection is a merge walk, not a hash
    * set) and the set of partners it pairs with as `id_a` (the set folds
    * repeated pairs). The second explodes the partners and probes the
    * same checkpoint on `id_b`, so the `id_a` array rides in its row and
    * the array relation is broadcast once.
    *
    * Broadcast the array side, stream the pairs: any shuffle plan here
    * moves one ~KB shingle array per candidate pair (the dominant cost —
    * measured 5× the intersect work). Catalyst's stats get this exactly
    * backwards (it broadcasts the "small" pair set and streams the docs
    * through one file split), so the choice is explicit — with a size
    * guard: on a duplicate-saturated corpus the touched set approaches
    * the corpus and the forced broadcast would OOM, so past 64 MB fall
    * back to a shuffled hash join (slower, never fatal). The guard is a
    * BYTE estimate, not a row count (100k touched docs each carrying
    * multi-KB arrays would blow the broadcast memory a row bound was
    * meant to protect): Σ (length + 24) over the touched docs' shingles,
    * observed while the first action writes the checkpoint, so it costs
    * no job of its own.
    *
    * `|A∪B| = |A|+|B|−|A∩B|` (both arrays are distinct): one merge-walk
    * intersect per pair.
    *
    * The checkpoint stays until the caller releases it
    * (`graft.queries.memoCkpt` releases every checkpoint its build
    * reads once its own checkpoint holds the rows). */
  private def verifyOverlap(sh: DataFrame,
                            candidates: DataFrame): DataFrame = {
    val noPartner = lit(null).cast(candidates.schema("id_b").dataType)
    // each pair row becomes (id_a, id_b) and (id_b, null), so the
    // candidate plan is read once and every touched doc gets a row
    val partners = candidates
      .select(inline(array(
        struct(col("id_a").as("id"), col("id_b").as("partner")),
        struct(col("id_b").as("id"), noPartner.as("partner")))))
      .groupBy("id").agg(collect_set(col("partner")).as("partners"))
    val arrays = sh.groupBy("id").agg(
      array_sort(collect_list(col("s"))).as("sh"),
      sum(length(col("s")).cast("long") + 24L).as("bytes"))
    val bytes = new org.apache.spark.sql.Observation()
    // both sides arrive hash-partitioned on id; the hint keeps the join
    // on those two exchanges instead of broadcasting one of them
    val (touched, _) = Checkpoint(arrays
      .join(partners.hint("shuffle_hash"), "id")
      .observe(bytes, coalesce(sum(col("bytes")), lit(0L)).as("bytes"))
      .select(col("id"), col("sh"), size(col("sh")).as("n"),
        col("partners")))
    val broadcastable =
      bytes.get("bytes").asInstanceOf[Long] <= (64L << 20)
    val bSide = touched.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("n").as("nb"))
    touched.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("n").as("na"), explode(col("partners")).as("id_b"))
      .join(if (broadcastable) broadcast(bSide)
        else bSide.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("graft_sorted_intersect_count",
          col("sh_a"), col("sh_b")).as("inter"),
        col("na"), col("nb"))
  }

  private def verifyJaccard(sh: DataFrame,
                            candidates: DataFrame): DataFrame =
    verifyOverlap(sh, candidates)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))

  private def minhashOf(sh: DataFrame, k: Int): DataFrame =
    sh.select(col("id") +: digestCols(k): _*)
      .groupBy("id").agg(minhashAggs(k).head, minhashAggs(k).tail: _*)

  /** Full MinHash-LSH near-dup pipeline over a [[shingleTable]]:
    * candidates → verified pairs ≥ `threshold`. Minhashing and
    * verification both fold over `sh`, so the caller persists it; the
    * result reads [[verifyOverlap]]'s checkpoint. */
  def minhashNearDups(sh: DataFrame, k: Int, b: Int, r: Int,
                      threshold: Double): DataFrame = {
    val (banded, bandRdd) =
      Checkpoint(bandTable(minhashOf(sh, k), "id", b, r))
    try verifyJaccard(sh, lshCandidates(banded))
      .filter(col("jaccard") >= threshold)
    finally Checkpoint.release(bandRdd)
  }

  /** Incremental near-dup detection — the production INGEST path: a new
    * batch of documents is checked against the already-indexed corpus
    * (and against itself) WITHOUT re-running dedup over the corpus.
    * Exactly the full pipeline's pairs restricted to "at least one end
    * in the batch" (minhashes are per-doc, so band keys don't depend on
    * which docs arrived together — the equivalence the oracle asserts).
    *
    * Shape for 100 TB: the corpus side contributes its band-key relation
    * (b fixed-width rows per doc — in production a persisted table
    * bucketed by (band, bk), an ingest-time artifact like the ANN
    * codebooks) and its per-doc shingle arrays surface only for docs a
    * candidate pair touches (the verify stage's per-doc grouping). The
    * BATCH side — minhashed fresh — broadcasts into the index probe, so
    * the index is scanned in place: no corpus shuffle, no self-join. The
    * within-batch pairs reuse the batch-sized self-join.
    *
    * Both sides are [[shingleTable]]s (plain per-doc filters of one
    * cached corpus table in query wiring). `batchIds` must be the FULL
    * batch id set (including docs whose text yields no shingles): the
    * upsert anti-join below must drop a re-ingested doc's stale index
    * shingles even when its new text is empty/null.
    */
  def incrementalNearDups(shEx0: DataFrame, shNew: DataFrame,
                          batchIds: DataFrame, k: Int, b: Int, r: Int,
                          threshold: Double): DataFrame = {
    // UPSERT semantics for an id on both sides (a re-ingested doc): its
    // index entry is stale by definition, so its shingles come from the
    // BATCH text only — without the anti-join the union'd shingle table
    // would hold both generations under one id and every pair touching
    // it would verify against a doubled array (jaccard biased low —
    // dups silently missed); the band-level self-pair is dropped below.
    // not persisted: both consumers of `shEx` (the corpus minhash and the
    // verification's arrays) run in the verification's first action
    val shEx = shEx0.join(batchIds, Seq("id"), "left_anti")
    val (probe, probeRdd) =
      Checkpoint(bandTable(minhashOf(shNew, k), "id", b, r))
    val cross = bandTable(minhashOf(shEx, k), "id", b, r)
      .join(broadcast(probe.select(col("id").as("id_new"),
        col("band"), col("bk"))), Seq("band", "bk"))
      .filter(col("id") =!= col("id_new"))
      .select(least(col("id"), col("id_new")).as("id_a"),
        greatest(col("id"), col("id_new")).as("id_b"))
    // no distinct: verifyOverlap folds pairs found on both sides or in
    // several bands
    try verifyJaccard(shEx.union(shNew), cross.union(lshCandidates(probe)))
      .filter(col("jaccard") >= threshold)
    finally Checkpoint.release(probeRdd)
  }

  /** Content novelty between two dumps of a corpus — the rate an
    * incremental-crawl pipeline reads to size its refresh: per group
    * (source) of the NEW dump, how many of its distinct word-n-gram
    * shingles never occur anywhere in the OLD dump. Complements
    * [[corpusDiff]] (id-level added/changed/removed) with a
    * content-level answer that survives re-chunking and id churn.
    *
    * Shape for 100 TB: the one wide operation is the shingle anti-join
    * (both sides partially aggregated to distinct shingles first, so
    * only (group, shingle) / (shingle) rows exchange — never text);
    * when even the old dump's distinct-shingle set is too big to
    * shuffle comfortably, the gated bloom filter (d_bloom_decontam's
    * [[graft.operators.Sketches.bloomSet]]) is the drop-in pre-filter
    * at the cost of a quantified false-positive rate. */
  def dumpNovelty(oldDump: DataFrame, newDump: DataFrame,
                  groupCol: String, textCol: String, n: Int): DataFrame = {
    val oldSh = oldDump
      .select(explode(shingles(col(textCol), n)).as("s")).distinct()
    val newSh = newDump
      .select(col(groupCol), explode(shingles(col(textCol), n)).as("s"))
      .distinct()
      // feeds the per-group total AND the anti-join — persist, or the
      // shingle explode runs twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val novel = newSh.join(oldSh, Seq("s"), "left_anti")
      .groupBy(groupCol).agg(count(lit(1)).as("n_novel"))
    newSh.groupBy(groupCol).agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq(groupCol), "left")
      .select(col(groupCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_rate",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  /** Connected components over an undirected near-dup pair graph —
    * the step that turns pairwise dedup into "keep one canonical doc
    * per cluster". Hash-to-min label propagation: every round each
    * node adopts the minimum label in its closed neighborhood, so
    * labels converge in O(graph diameter) rounds — near-dup clusters
    * are near-cliques, 2–3 rounds in practice. Each round is ONE
    * shuffle join + ONE aggregation over the edge list (no GraphX, no
    * driver-side adjacency); the only driver value per round is the
    * scalar changed-count that decides convergence. At 100 TB the edge
    * list is the verified pair set — already a tiny fraction of the
    * corpus — and every round re-shuffles only (node, label) longs.
    *
    * Returns one row per node that appears in `pairs`: (id, comp) with
    * comp = the component's minimum id. Nodes with no near-dup edge are
    * absent — callers treating isolated docs as their own singleton
    * cluster coalesce the left join (see `leakage-safe split`).
    *
    * Adaptive strategy, broadcast-threshold style: the edge relation is
    * materialized first (both paths need that), and when it holds at
    * most `driverFallbackEdges` rows (default 2²⁰ ≈ 16 MB of id pairs —
    * the same altitude as a broadcast side) the components are solved
    * by a driver union-find in one pass: microseconds of CPU instead of
    * O(log n) loop rounds, each of which costs several scheduler
    * round-trips regardless of data size. Past the threshold the
    * distributed loop runs unchanged — at 100 TB a banded near-dup
    * graph has billions of edges and the loop is the only shape that
    * scales. Both paths produce the identical (id, comp=min) relation.
    */
  def componentLabels(pairs: DataFrame,
                      driverFallbackEdges: Long = 1L << 20): DataFrame = {
    // Checkpoint (eager), NOT persist: persist caches rows but keeps
    // the logical plan, and an iterative loop that references `labels`
    // twice per round doubles the plan every iteration — Catalyst
    // re-analysis goes exponential long before the data is the problem.
    // Checkpointing truncates lineage so round N's plan is O(1) deep.
    // localCheckpoint blocks live on executors and die with them — when
    // the session has a reliable checkpoint dir configured
    // (sc.setCheckpointDir), [[Checkpoint]] transparently switches to
    // fault-tolerant reliable checkpoints for cluster runs.
    // The re-wrap after the eager checkpoint strips the ORIGIN-PLAN
    // STATISTICS the checkpoint propagates into its LogicalRDD
    // (SPARK-39748): each round's plan references the previous round's
    // frame twice (labels in both join inputs; stepped in the hop
    // self-join), so propagated sizeInBytes SQUARES per round —
    // measured: the stat's bit-length doubles every iteration, and by
    // round ~25 the driver spends hours multiplying 10⁸-bit BigInts
    // inside SizeInBytesOnlyStatsPlanVisitor while planning the next
    // checkpoint (this wedged the r7 bench on s_knn_components).
    // createDataFrame over the materialized rows is a plain source
    // relation with default stats — O(1) planning per round forever.
    // A checkpoint pins its blocks (and, when reliable, its files) until
    // it is released, so ckpt also returns its RDD and each checkpoint is
    // released (Checkpoint.release) as soon as nothing downstream reads
    // it; only the returned labels' checkpoint outlives the call.
    def ckpt(df: DataFrame) = {
      val (cp, rdd) = Checkpoint(df)
      (cp.sparkSession.createDataFrame(cp.rdd, cp.schema), rdd)
    }
    // materialize the pair-generation subtree ONCE: `edges` references
    // `pairs` twice (both orientations), and each round's join would
    // otherwise re-run the full candidate-pair pipeline per branch
    val (base, baseRdd) = ckpt(pairs.select(col("id_a"), col("id_b")))
    // counting the checkpointed relation is a metadata-cheap job (no
    // recompute), and it decides the strategy like AQE decides a join
    val nEdges = base.count()
    // the driver union-find keys a Long hash map, so it only admits
    // integral id columns; string/decimal/other ids take the
    // distributed loop regardless of edge count
    val integralIds = base.schema.fields(0).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (nEdges <= driverFallbackEdges && integralIds)
      return try driverComponents(base) // collects base
        finally Checkpoint.release(baseRdd)
    val edges = base.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(base.select(col("id_b").as("src"), col("id_a").as("dst")))
    var (labels, labelsRdd) = ckpt(edges.select(col("src").as("id"))
      .distinct().withColumn("comp", col("id")))
    var changed = 1L
    var round = 0
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("comp").as("ncomp"))
      val stepped = labels.join(neighborMin, Seq("id"))
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), col("ncomp")).as("mid"))
      // pointer doubling: a label is itself a node id, so following it
      // one hop (comp ← comp(comp)) halves the remaining path each
      // round — O(log n) rounds where plain neighbor-min propagation
      // needs O(diameter), which on chain-shaped graphs (mutual-kNN)
      // is the difference between ~5 and ~20 driver round-trips. The
      // hop join is safe as an inner join: every node carries a label
      // and every label is a node present in `stepped`.
      val hop = stepped.select(col("id").as("mid"), col("mid").as("hop"))
      // ONE blocking action per round: the eager checkpoint both
      // materializes the round and carries the convergence count out
      // through an observed metric — a separate count() would be a
      // second driver round-trip over the same rows every round
      val obs = new org.apache.spark.sql.Observation(s"labelProp_$round")
      val (updated, updatedRdd) = ckpt(stepped.join(hop, Seq("mid"))
        .select(col("id"),
          least(col("mid"), col("hop")).as("comp"),
          (least(col("mid"), col("hop")) < col("old")).as("chg"))
        .observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("changed")))
      changed = obs.get("changed") match {
        case null => 0L
        case n: java.lang.Number => n.longValue()
      }
      Checkpoint.release(labelsRdd) // superseded by `updated`
      labels = updated.select(col("id"), col("comp"))
      labelsRdd = updatedRdd
      round += 1
    }
    Checkpoint.release(baseRdd)
    labels
  }

  /** The small-graph half of [[componentLabels]]: a driver union-find
    * over an edge relation already proven ≤ the caller's bounded
    * threshold. Path-halving find + union; labels are then re-resolved
    * to each component's MINIMUM id, so the output is deterministic and
    * identical to what the distributed hash-to-min loop converges to.
    * Output id/comp columns keep the input id type. */
  private def driverComponents(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val idType = base.schema.fields(0).dataType
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { // path halving
        val gp = parent.get(p)
        parent.put(x, gp)
        x = gp
        p = parent.get(x)
      }
      x
    }
    def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
    base.collect().foreach { r => // bounded: caller gated on row count
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = r.get(0).asInstanceOf[Number].longValue()
        val b = r.get(1).asInstanceOf[Number].longValue()
        add(a); add(b)
        val (ra, rb) = (find(a), find(b))
        // union toward the smaller root: roots stay component minima,
        // so no second pass is needed to re-resolve labels
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
    }
    val rows = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.Row](parent.size)
    parent.keySet().forEach(id =>
      rows += org.apache.spark.sql.Row(id.longValue(), find(id)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), schema)
      .select(col("id").cast(idType).as("id"),
        col("comp").cast(idType).as("comp"))
  }

  /** [[componentLabels]] collapsed to one row per cluster:
    * (canonical_id = component min, n_members, members = comma-joined
    * sorted ids — a string so engines hash identically). */
  def dupClusters(pairs: DataFrame): DataFrame =
    componentLabels(pairs).groupBy(col("comp").as("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id"))), ",").as("members"))

  /** Dump-to-dump corpus diff — the change audit that drives
    * incremental processing between two crawls/exports of the same
    * corpus: per id, `added` (new only), `removed` (old only),
    * `changed` (both, content fingerprint differs after whitespace/case
    * normalization), `unchanged`. Only (id, fingerprint) pairs cross
    * the one full-outer id join — document text never shuffles, so the
    * diff costs two fingerprint scans + one equi join at any corpus
    * size. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val fp = (c: Column) => TextAnalysis.fingerprint(c)
    // presence is tracked by explicit markers, NOT fingerprint
    // nullability — a null-text document has a null fingerprint and
    // would otherwise masquerade as absent; null-safe fingerprint
    // equality then treats two null-text rows as unchanged
    val o = oldDocs.select(col(idCol).as("id"),
      fp(col(textCol)).as("fp_old"), lit(true).as("in_old"))
    val n = newDocs.select(col(idCol).as("id"),
      fp(col(textCol)).as("fp_new"), lit(true).as("in_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("fp_old") <=> col("fp_new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Near-dup collapse with a KEEP-BEST policy: one survivor per
    * cluster, chosen by the caller's score (ties to the smaller id) —
    * production dedup keeps the best copy (longest, highest-quality),
    * not an arbitrary one (min-id is [[dupClusters]]'s convention).
    * Isolated docs survive as their own singleton cluster.
    *
    * Returns one row per SURVIVOR: (idCol, rep_id, score, n_members).
    *
    * Scale shape: the winner is a partially-aggregated max over
    * (rep, struct(score, −id)) — one shuffle of (id, rep, score)
    * triples, never a per-cluster window over the corpus and never
    * document text; the label relation from [[componentLabels]] is
    * |dup-graph nodes| rows, broadcast-sized next to the corpus. */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
               score: Column): DataFrame = {
    val labels = componentLabels(pairs)
    val scored = docs.select(col(idCol).as("id"), score.as("score"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("rep_id"),
        col("score"))
    scored.groupBy("rep_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("score"), (-col("id")).as("negid"))).as("best"))
      .select(
        (-col("best.negid")).as(idCol),
        col("rep_id"),
        col("best.score").as("score"),
        col("n_members"))
  }

  /** Corpus-wide duplicated-span removal — the C4-style "discard any
    * repeated span, keep its first occurrence" cleaning pass (C4 dropped
    * duplicate three-sentence spans; RefinedWeb's line-level dedup is the
    * same shape), at non-overlapping `w`-word chunk granularity so
    * removal is well-defined: every chunk whose fingerprint appears
    * earlier anywhere in the corpus (or earlier in the same document) is
    * deleted, and the surviving chunks are reassembled in order.
    * "Earlier" = smaller (doc, chunk_idx) position, totally ordered via
    * the scalar key `doc_id·10⁶ + chunk_idx` (chunk_idx < 10⁶ holds for
    * any document under ~10⁷ words; enforced via the shared constant so
    * the SQL oracle's key is identical).
    *
    * Shape for 100 TB — the document TEXT never rides the SKEWED key:
    *  - map side reduces each doc to (fp = md5(chunk), key) pairs, so
    *    everything partitioned by fingerprint is fixed-width;
    *  - one partial-aggregated groupBy(fp) finds each fingerprint's
    *    global first occurrence (a corpus-wide boilerplate chunk is a
    *    hot KEY but map-side combine caps its reduce-side volume at
    *    one row per map partition);
    *  - the fp join back is fixed-width (fp, key) rows — AQE's skew
    *    split handles a hot fp there;
    *  - kept chunk INDICES collapse to one int-array row per doc, and
    *    the final join — the only exchange the token arrays cross, and
    *    it's keyed by doc_id, which is uniform and bounded per row —
    *    rebuilds the cleaned text map-side by re-slicing the original
    *    token array.
    *
    * Returns (doc_id, n_chunks, n_kept, clean_text), one row per input
    * doc; a doc whose every chunk was seen earlier keeps an empty
    * clean_text rather than vanishing (the caller decides whether
    * empties are dropped — that's a filter, not dedup semantics).
    */
  def spanScrub(docs: DataFrame, idCol: String, textCol: String,
                w: Int): DataFrame = {
    require(w >= 1, s"spanScrub: chunk width $w must be >= 1")
    require({
      import org.apache.spark.sql.types._
      docs.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }, s"spanScrub: $idCol must be an integral id (the first-occurrence " +
      s"key is doc_id*$SpanKeyBase + chunk_idx) — got " +
      docs.schema(idCol).dataType.simpleString)
    val toks = split(col(textCol), " ")
    val nChunks = ceil(size(toks).cast("double") / w).cast("int")
    val chunked = spread(docs).select(
      col(idCol).as("doc_id"), toks.as("toks"), nChunks.as("n_chunks"))
    // light relation: text reduced to fingerprints map-side. The key
    // overflow guard errors LOUDLY: a ≥ w·SpanKeyBase-word document
    // would otherwise collide into the next doc_id's key space and
    // silently elect wrong first-occurrence winners.
    val light = chunked.select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => md5(array_join(slice(col("toks"), i * w + 1, lit(w)), " ")
            .cast("binary")))).as(Seq("chunk_idx", "fp")))
      .select(col("doc_id"), col("chunk_idx"), col("fp"),
        when(col("chunk_idx") < lit(SpanKeyBase),
          col("doc_id") * lit(SpanKeyBase) + col("chunk_idx"))
          .otherwise(raise_error(concat(lit("spanScrub: document "),
            col("doc_id").cast("string"),
            lit(s" exceeds $SpanKeyBase chunks — raise SpanKeyBase"))))
          .as("k"))
    val winners = light.groupBy("fp").agg(min("k").as("kmin"))
    val kept = light.join(winners, Seq("fp"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(when(col("k") === col("kmin"),
        col("chunk_idx")))).as("kept_idx"))
    // left join + empty-array fallback: a null-text doc produces no
    // chunk rows at all, but the contract is one output row per input
    // doc (n_chunks stays null for it — honest; clean_text is '')
    chunked.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(size(col("kept_idx")), lit(0)).as("n_kept"),
        array_join(transform(
          coalesce(col("kept_idx"), array().cast("array<int>")),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " ")), " ")
          .as("clean_text"))
  }

  /** Chunk-position key base shared with the SQL oracle: key =
    * doc_id·SpanKeyBase + chunk_idx orders (doc, position) pairs as one
    * long as long as chunk_idx < SpanKeyBase. */
  val SpanKeyBase = 1000000L

  /** Benchmark decontamination: which training docs share at least one
    * word-`n`-gram with an evaluation/benchmark set? The standard
    * pre-training hygiene pass (n-gram overlap flagging, e.g. 8–13-gram
    * matching in published LLM data pipelines).
    *
    * Shape for 100 TB: eval sets are thousands of docs against a corpus
    * of billions, so the eval shingles are BROADCAST and the corpus-side
    * scan stays map-local — no corpus shuffle at all. The only exchange
    * is the final groupBy on train id, whose input is just the matching
    * (train_id, eval_id, shingle) triples — proportional to the actual
    * contamination, not the corpus.
    */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val trainSh = shingleTable(train, idCol, textCol, n)
    val evalSh = shingleTable(eval, idCol, textCol, n)
      .select(col("id").as("eval_id"), col("s"))
    trainSh.join(broadcast(evalSh), Seq("s"))
      .groupBy(col("id").as("train_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        countDistinct(col("s")).as("n_shared_shingles"))
  }

  /** Attribution twin of [[contamination]]: the matched (train, eval)
    * pairs themselves with their shared-shingle counts — the report an
    * eval owner reads to trace WHICH benchmark items leak into which
    * training documents (and decide span-scrub vs drop per pair).
    * Same broadcast shape: eval shingles broadcast, the corpus never
    * shuffles, and the per-pair aggregate's input is proportional to
    * the actual contamination. Shingles are distinct per doc on both
    * sides, so the plain count IS the distinct shared-shingle count. */
  def contaminationPairs(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    val trainSh = shingleTable(train, idCol, textCol, n)
    val evalSh = shingleTable(eval, idCol, textCol, n)
      .select(col("id").as("eval_id"), col("s"))
    trainSh.join(broadcast(evalSh), Seq("s"))
      .groupBy(col("id").as("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** 32-bit SimHash over distinct tokens: bit i = sign of Σ_tokens
    * (2·parity(md5(token)[i]) − 1). Near-identical docs agree on most
    * bits; grouping by the signature finds clusters in one shuffle.
    * One map-only pass via the native [[graft.functions.SimHash]] — the
    * composable form exploded every token through a 32-way aggregate. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(docs).select(col(idCol),
      call_function("graft_simhash", col(textCol)).as("simhash"))

  /** Near-duplicate pairs under HAMMING distance over an integer
    * hash column (SimHash signatures, image aHash/dHash keys, any
    * ≤64-bit sketch): the banded-LSH shape — the hash splits into
    * `bands` disjoint bit bands, candidates are pairs agreeing on at
    * least one band (one equi-join on (band, value), never all
    * pairs), verified with an exact `bit_count(xor)` ≤ `maxDist`.
    *
    * Pigeonhole guarantee: two hashes within `maxDist ≤ bands − 1`
    * bits differ in at most bands−1 bands, so they AGREE on at least
    * one — recall is exactly 1.0 within the threshold, making the
    * output equal to the all-pairs filter it replaces.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b.
    *
    * Scale shape: ONE shuffle keyed by (band, value) builds the
    * candidate set, and the verify is a codegen'd xor/popcount on two
    * longs — no text, no arrays, nothing corpus-sized beyond the
    * matching pairs. Bucket sizes are data-dependent, so the operator
    * enforces its own quadratic-proof guard (the file's maxDf
    * convention): a (band, value) bucket with more than `maxBucket`
    * members — heavy exact duplicates that skipped exact-dedup
    * collapse, or a degenerate constant band (all-zero sketches from
    * empty documents/images) — is DROPPED before the self-join, so no
    * input can make the candidate set quadratic in the corpus. An
    * over-cap band is by definition uninformative for its members
    * (it would pair each of them with thousands of others); pairs can
    * still surface through their other, discriminative bands. The
    * pigeonhole recall guarantee is exact among sub-cap buckets; the
    * cap is the explicit, tunable recall/robustness trade at the
    * tail. Callers should still collapse exact duplicates first (as
    * both gates do) — the cap is the backstop, not the plan. The
    * guard's own cost is one map-side-combined count over (band,
    * value) plus a broadcast anti-join of the (tiny) over-cap list:
    * at most |corpus|·bands/maxBucket entries, not corpus-sized. */
  def hammingNearDups(hashed: DataFrame, idCol: String, hashCol: String,
                      nBits: Int, bands: Int, maxDist: Int,
                      maxBucket: Int = 4096): DataFrame = {
    require(nBits > 0 && nBits <= 64 && bands > 0 && nBits % bands == 0,
      s"nBits=$nBits must be a positive multiple of bands=$bands, ≤ 64")
    require(maxDist < bands,
      s"maxDist=$maxDist needs maxDist ≤ bands−1=${bands - 1} for the " +
        "pigeonhole recall guarantee")
    require(maxBucket >= 2,
      s"maxBucket=$maxBucket must be ≥ 2 — a 1-member bucket yields no pairs")
    val w = nBits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val base = hashed.select(col(idCol).as("id"),
      col(hashCol).cast("long").as("h"))
    val banded = base.select(col("id"), col("h"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("b"),
          (shiftrightunsigned(col("h"), b * w)
            .bitwiseAND(lit(mask))).as("v"))): _*)).as("bv"))
      .select(col("id"), col("h"), col("bv.b").as("b"), col("bv.v").as("v"))
    val hot = banded.groupBy("b", "v").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBucket)
      .select(col("b"), col("v"))
    val safe = banded.join(broadcast(hot), Seq("b", "v"), "left_anti")
    safe.as("l")
      .join(safe.as("r"),
        col("l.b") === col("r.b") && col("l.v") === col("r.v") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        expr("bit_count(l.h ^ r.h)").cast("int").as("dist"))
      .distinct() // a pair may agree on several bands
      .filter(col("dist") <= maxDist)
  }

  /** Video near-duplicate pairs from per-frame perceptual hashes — the
    * frame-sequence generalization of [[hammingNearDups]]: two videos
    * are near-dups when they have the SAME sampled-frame count and
    * their frames match index-for-index with MEAN Hamming distance
    * ≤ `maxAvgDist` (re-encodes and small edits perturb every frame a
    * little; different content diverges by tens of bits per frame).
    *
    * Candidates come from ONE banded equi-join keyed by (frameIdx,
    * band, value) with the same per-bucket df cap as the single-hash
    * join. Recall is exact within the criterion by pigeonhole: mean ≤
    * maxAvgDist ≤ bands−1 forces SOME frame pair within bands−1 bits,
    * which must agree on at least one band at its own frame index.
    * The verify join touches only candidate pairs' (frame, hash) rows
    * — nothing corpus-sized, no payloads.
    *
    * Input: one row per (video, sampled frame) with a ≤64-bit hash.
    * Returns (id_a, id_b, n_frames, total_dist) with id_a < id_b. */
  def frameNearDupVideos(frames: DataFrame, videoCol: String,
                         frameCol: String, hashCol: String, nBits: Int,
                         bands: Int, maxAvgDist: Int,
                         maxBucket: Int = 4096): DataFrame = {
    require(nBits > 0 && nBits <= 64 && bands > 0 && nBits % bands == 0,
      s"nBits=$nBits must be a positive multiple of bands=$bands, ≤ 64")
    require(maxAvgDist < bands,
      s"maxAvgDist=$maxAvgDist needs ≤ bands−1=${bands - 1} for the " +
        "pigeonhole recall guarantee")
    val w = nBits / bands
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val base = frames.select(col(videoCol).as("vid"),
      col(frameCol).cast("int").as("f"), col(hashCol).cast("long").as("h"))
    val banded = base.select(col("vid"), col("f"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("b"),
          (shiftrightunsigned(col("h"), b * w)
            .bitwiseAND(lit(mask))).as("v"))): _*)).as("bv"))
      .select(col("vid"), col("f"), col("bv.b").as("b"), col("bv.v").as("v"))
    val hot = banded.groupBy("f", "b", "v").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxBucket)
      .select(col("f"), col("b"), col("v"))
    val safe = banded.join(broadcast(hot), Seq("f", "b", "v"), "left_anti")
    val cand = safe.as("l")
      .join(safe.as("r"),
        col("l.f") === col("r.f") && col("l.b") === col("r.b") &&
          col("l.v") === col("r.v") && col("l.vid") < col("r.vid"))
      .select(col("l.vid").as("id_a"), col("r.vid").as("id_b"))
      .distinct()
    val counts = base.groupBy("vid").agg(count(lit(1)).as("n"))
    val fa = base.select(col("vid").as("id_a"), col("f"),
      col("h").as("h_a"))
    val fb = base.select(col("vid").as("id_b"), col("f"),
      col("h").as("h_b"))
    cand
      .join(fa, Seq("id_a"))
      .join(fb, Seq("id_b", "f"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_matched"),
        sum(expr("bit_count(h_a ^ h_b)")).cast("long").as("total_dist"))
      .join(counts.select(col("vid").as("id_a"), col("n").as("n_a")),
        Seq("id_a"))
      .join(counts.select(col("vid").as("id_b"), col("n").as("n_b")),
        Seq("id_b"))
      .filter(col("n_a") === col("n_b") &&
        col("n_matched") === col("n_a") &&
        col("total_dist") <= lit(maxAvgDist.toLong) * col("n_a"))
      .select(col("id_a"), col("id_b"),
        col("n_a").cast("int").as("n_frames"), col("total_dist"))
  }

  /** Ordered (id_a < id_b) pairs from a sorted id array — C(m,2) structs,
    * generated array-side (no join) for m bounded by the caller. */
  private def pairsOf(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))

  /** Exact-substring duplicate pairs: two documents are flagged when
    * they share at least one VERBATIM window of `w` consecutive tokens
    * (the shared-window formulation of suffix-array ExactSubstr dedup —
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2021; the suffix array is a single-machine structure, this is
    * the one-shuffle Spark shape the rest of the dedup family rides).
    *
    * Window SELECTION is content-keyed, not position-strided: a window
    * is kept iff its own md5 falls below `keepBelow` (lexicographic hex
    * compare), so a span shared verbatim by two documents keeps or
    * drops the SAME windows in both — an aligned positional stride
    * would silently miss every shared span whose start offsets differ
    * mod the stride. Detection probability for a shared span of length
    * L is 1 − (1 − p)^(L−w+1) with p = keep fraction — certain-ish for
    * spans a few windows long, tunable via `keepBelow`.
    *
    * Scale shape: the dense window explode is filtered MAP-SIDE (only
    * the kept fraction ever shuffles); one shuffle groups by window
    * hash; pairs are emitted array-side under the same in-buffer df cap
    * as [[ngramJaccardPairs]] — a boilerplate window shared by 10⁶ docs
    * saturates at `maxDf`+1 buffered ids and drops (which is itself the
    * C4-style boilerplate behavior), never C(10⁶,2) pairs. */
  def sharedWindowPairs(docs: DataFrame, idCol: String, textCol: String,
                        w: Int = 16, keepBelow: String = "4",
                        maxDf: Int = 64): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      split(col(textCol), " ").as("t"))
    val win = tok
      .select(col("id"), col("t"), explode(
        when(size(col("t")) >= w, sequence(lit(1), size(col("t")) - w + 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("id"),
        md5(concat_ws(" ", slice(col("t"), col("i"), lit(w)))).as("h"))
      .filter(col("h") < lit(keepBelow))
      .distinct()
    win.groupBy("h")
      .agg(call_function("graft_capped_collect_set", col("id"), lit(maxDf))
        .as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(pairsOf(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** n-gram Jaccard near-dups without minhash: candidates = pairs sharing
    * at least one shingle with document frequency ≤ `maxDf`. The df cap
    * is the scale guard (drops boilerplate shingles that would explode
    * the join).
    *
    * One shuffle builds candidates: group the shingle explode by shingle,
    * keep groups of 2..maxDf docs, and emit the ≤ C(maxDf,2) pairs
    * array-side — the df cap that already guards the pair space also
    * bounds the per-group array, so no self-join (and no second and third
    * scan of the corpus shingles) is needed.
    *
    * Runs over a [[shingleTable]] and its [[pairStats]]: the df-capped
    * candidate machinery is threshold-INDEPENDENT, so query wiring
    * computes it once and every Jaccard/containment consumer only
    * re-applies its own survivor bound + verification. */
  def ngramJaccardPairs(sh: DataFrame, stats: DataFrame,
                        threshold: Double): DataFrame = {
    // ε slack keeps the bound a strict superset under double rounding;
    // the exact merge-walk Jaccard below is the real threshold check.
    // J ≥ t ⟺ inter ≥ t/(1+t)·(|A|+|B|), and inter ≤ cc + min(hot).
    val need = lit(threshold / (1.0 + threshold))
    val survivors = boundedPairs(stats) { (cc, na, nb, hotA, hotB) =>
      cc + least(hotA, hotB) >= need * (na + nb) - lit(1e-9)
    }
    verifyJaccard(sh, survivors)
      .filter(col("jaccard") >= threshold)
  }

  /** Shared candidate machinery of the shingle-overlap family
    * (Jaccard and containment): capped-set pair generation + the
    * per-pair bound inputs — one row per candidate pair,
    * (id_a, id_b, cc, na, nb, hot_a, hot_b). THRESHOLD-INDEPENDENT
    * (the caller's survivor bound is a plain filter over this
    * relation), so query wiring computes it once per (corpus, n,
    * maxDf) and every Jaccard/containment/sweep consumer shares it.
    *
    * The df cap applies INSIDE the aggregation buffer: the native
    * capped collect_set never holds more than maxDf+1 ids per shingle
    * (a boilerplate shingle in 10⁶ docs saturates at maxDf+1 and
    * evaluates to NULL, instead of building a 10⁶-element array in one
    * buffer — hot task / executor OOM — before being dropped), while
    * keeping the single-shuffle plan: a count-pass + semi-join variant
    * bounds the buffers too but measured ~40% slower at sf0.1.
    * Shingles are distinct per doc, so set size == document frequency;
    * the exact count rides along to mark hot (df > maxDf) shingles at
    * zero extra shuffles.
    *
    * Per pair, cc = |A∩B| restricted to rare shingles (exact, from
    * counting pair instances — a 16-byte row per instance) and the
    * unseen hot-shingle overlap is at most min(hot_a, hot_b), so
    * inter ≤ cc + min(hot_a, hot_b). Pairs whose upper bound misses
    * the caller's threshold — measured 1 119 477 of 1 119 733 unique
    * candidates at sf0.1 for Jaccard 0.5 — are dropped BEFORE any
    * shingle array moves; the KB-scale sorted-array verification only
    * ever touches the survivors. */
  def pairStats(sh: DataFrame, maxDf: Int): DataFrame = {
    val disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val groups = sh.groupBy("s")
      .agg(call_function("graft_capped_collect_set", col("id"), lit(maxDf))
        .as("ids"), count(lit(1)).as("dfc"))
      .persist(disk) // consumed by pair generation AND the hot-doc stats
    val docStats = sh
      .join(groups.filter(col("dfc") > maxDf).select("s"), Seq("s"),
        "left_semi")
      .groupBy("id").agg(count(lit(1)).as("hot"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val stats = sizes.join(docStats, Seq("id"), "left")
      .select(col("id"), col("n"),
        coalesce(col("hot"), lit(0L)).as("hot"))
      .persist(disk) // joined once per pair side
    val pairCounts = groups
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
      .select(explode(pairsOf(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("cc"))
    pairCounts
      .join(stats.select(col("id").as("id_a"), col("n").as("na"),
        col("hot").as("hot_a")), "id_a")
      .join(stats.select(col("id").as("id_b"), col("n").as("nb"),
        col("hot").as("hot_b")), "id_b")
  }

  private def boundedPairs(stats: DataFrame)(
      bound: (Column, Column, Column, Column, Column) => Column)
      : DataFrame =
    stats
      .filter(bound(col("cc"), col("na"), col("nb"),
        col("hot_a"), col("hot_b")))
      .select("id_a", "id_b")

  /** Asymmetric near-dup detection by shingle CONTAINMENT:
    * C = |A∩B| / min(|A|, |B|) — the measure that catches a short
    * document quoted or excerpted inside a long one, which symmetric
    * Jaccard structurally misses (a 50-shingle doc fully contained in a
    * 1000-shingle doc has J ≈ 0.05 but C = 1.0). Same candidate
    * machinery as [[ngramJaccardPairs]] (in-buffer df cap, exact
    * rare-shingle co-count, hot-shingle slack), with the survivor bound
    * rewritten for containment:
    *   inter ≤ cc + min(hot_a, hot_b),  C ≥ t ⟺ inter ≥ t·min(|A|,|B|).
    * Verification reuses the shared merge-walk overlap pass, so only
    * bound-surviving pairs ever touch a shingle array. */
  def containmentPairs(sh: DataFrame, stats: DataFrame,
                       threshold: Double): DataFrame = {
    val survivors = boundedPairs(stats) { (cc, na, nb, hotA, hotB) =>
      cc + least(hotA, hotB) >=
        lit(threshold) * least(na, nb) - lit(1e-9)
    }
    verifyOverlap(sh, survivors)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
  }
}
