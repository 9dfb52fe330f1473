package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, QualityClassifier, Sampling, TextAnalysis}

/** Training-data text operators over `documents` (SURVEY.md scope
  * extension): token stats, quality + language ID, fingerprint dedup,
  * exact dedup, MinHash-LSH, SimHash, n-gram Jaccard. Every query has an
  * exact DuckDB twin (md5-based hash families, double arithmetic).
  */
object TextQueries {

  private val enStop = TextAnalysis.langProfiles.head._2

  /** Fit memo (keyed by fixture dir + hyperparameters) so the quality
    * classifier trains once per process however many times its query
    * runs; the fitted model is stashed for the frozen-weight oracle
    * (same convention as SimilarityQueries' ANN models). */
  private val lrModels =
    new java.util.concurrent.ConcurrentHashMap[String, QualityClassifier.Model]

  /** THE classifier instance: every query that scores with the model
    * and every frozen-weight oracle goes through this one fit (memoized
    * per fixture dir, published under ONE key) — so the two gated
    * queries can never silently diverge onto different weights. */
  private def fittedModel(s: org.apache.spark.sql.SparkSession,
                          dir: String): QualityClassifier.Model = {
    val m = memoFit(s"lr:$dir:irls8r1e3")(QualityClassifier.fit(
      t(s, dir, "documents"), col("text"),
      (TextAnalysis.qualityScore(col("text"), enStop) >= 0.5).cast("int"),
      enStop))
    lrModels.put("lr", m)
    m
  }

  /** The gated cleaning pipeline for `t_filter_funnel`: ordered rules,
    * first-fail-charged. Thresholds chosen so the sf fixtures exercise
    * multi-stage drops AND a zero-drop stage (`max_words`) — the
    * static-join path that keeps silent stages visible. Text is
    * null-guarded to `''` in BOTH engines so degenerate rows stay
    * engine-identical (see ADVICE r7 on the corpus-diff oracle). */
  private def funnelRules: Seq[(String, org.apache.spark.sql.Column)] = {
    val txt = coalesce(col("text"), lit(""))
    val tks = TextAnalysis.tokens(txt)
    val nWords = size(tks)
    val meanWl = length(regexp_replace(txt, " ", "")).cast("double") /
      nWords.cast("double")
    val nStop = size(array_intersect(array_distinct(tks),
      array(enStop.map(lit): _*)))
    val grams = TextAnalysis.wordBigrams(txt)
    val dup2 = when(size(grams) === 0, lit(0.0)).otherwise(lit(1.0) -
      size(array_distinct(grams)).cast("double") /
        size(grams).cast("double"))
    Seq(
      "min_words" -> (nWords >= 15),
      "max_words" -> (nWords <= 5000),
      "mean_word_len" -> (meanWl >= 4.0 && meanWl <= 10.0),
      "stopword_floor" -> (nStop >= 2),
      "dup_2gram" -> (dup2 <= 0.08))
  }

  /** Streaming source over the fixture's documents table (schema probed
    * from the parquet footer). Shared by every streaming gate. */
  private def docStream(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame =
    streamTable(s, dir, "documents")

  /** Drain a streaming frame through an AvailableNow memory sink and
    * return the sink table — the one start/processAllAvailable/stop
    * protocol for every streaming gate, so a fix to the drain sequence
    * lands everywhere at once. */
  private def drainToTable(s: org.apache.spark.sql.SparkSession,
                           sink: String,
                           df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val q = df.writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink)
  }

  /** THE near-dup pair relation at the canonical hyperparameters
    * (n=3, k=6, b=3, r=2, threshold 0.5) — a deterministic pure
    * function of the fixture, shared by its SIX gated consumers
    * (d_minhash_lsh, d_dup_clusters, d_cluster_sizes,
    * d_dedup_keep_best, d_lsh_recall's LSH side, t_leakage_safe_split):
    * the sharedKnnRanked convention — in production the dup graph is
    * an ingest-time artifact, not per-query work. Unlike the
    * reverted bm25-postings memo, the downstream work over this cache
    * is pair-sized (components, counts, broadcast joins), so the
    * post-AQE partition count of the cache cannot serialize anything
    * corpus-sized. */
  private def sharedMinhashPairs(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"mhpairs:$dir:n3k6b3r2t05") {
      Dedup.minhashNearDups(sharedShingleTable(s, dir),
        k = 6, b = 3, r = 2, threshold = 0.5)
    }

  /** THE exploded (doc_id, 3-gram shingle) table, memoized + persisted
    * per (session, fixture) — the shared upstream of the whole shingle
    * family: minhash-LSH, rare-shingle Jaccard (both thresholds),
    * containment, and the incremental-ingest gate (whose existing/batch
    * corpora are per-doc filters of it). Before r14 each pipeline
    * re-ran the shingle explode over the corpus; in production the
    * shingle index is an ingest-time artifact. Same memo conventions as
    * [[sharedMinhashPairs]]. */
  private def sharedShingleTable(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"shingles:$dir:n3") {
      Dedup.shingleTable(t(s, dir, "documents"), "doc_id", "text", n = 3)
    }

  /** The df-capped candidate pair stats (id_a, id_b, cc, na, nb, hot_a,
    * hot_b) over [[sharedShingleTable]] at maxDf = 20 — THRESHOLD-
    * independent, so the Jaccard-0.5 memo, the 0.3 sweep and the 0.8
    * containment gate all share one candidate-generation pass and only
    * re-apply their own survivor bound + verification. */
  private def sharedPairStats(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"pstats:$dir:n3df20") {
      // repartition before the checkpoint: the candidate set is ~1M rows
      // at sf0.1 but AQE coalesces its final exchange to 1-2 partitions
      // (tiny bytes), and a 1-partition leaf would serialize every
      // downstream bound/verify scan (the reverted r13 bm25-memo failure
      // mode). Scale-adaptive, not a local constant.
      Dedup.pairStats(sharedShingleTable(s, dir), maxDf = 20)
        .repartition(s.sparkContext.defaultParallelism)
    }

  /** The exact rare-shingle Jaccard pair relation at the same floor —
    * shared by d_ngram_jaccard and d_lsh_recall's exact side. */
  private def sharedJaccardPairs(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"njpairs:$dir:n3df20t05") {
      Dedup.ngramJaccardPairs(sharedShingleTable(s, dir),
        sharedPairStats(s, dir), threshold = 0.5)
    }

  /** THE BM25 ranked list at the family's maximum depth (k = 20),
    * memoized + persisted per (session, fixture) — shared by its three
    * gated consumers (t_bm25_topk k=3, t_hybrid_rrf k=20, t_ndcg_eval
    * k=10): `rnk` is a row_number over (bm25 DESC, neighbor_id), so a
    * shallower top-k is EXACTLY `filter(rnk <= k)` of this relation —
    * each consumer previously rebuilt the whole postings/idf/score
    * tower from scratch. Unlike the reverted r13 bm25-POSTINGS memo,
    * this caches only the ranked output (|Q|·20 rows — broadcast-sized),
    * so its post-AQE partition count cannot serialize corpus-sized
    * work downstream. */
  private def sharedBm25Ranked(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"bm25rank:$dir:k20") {
      bm25Ranked(s, dir, k = 20)
    }

  /** THE exact-cosine dense top-20 over the `vec_id % 101` probe set,
    * memoized + persisted like [[sharedBm25Ranked]] — shared by
    * t_hybrid_rrf (k=20) and t_ndcg_eval (k=10, = `rnk <= 10` of this
    * relation; `rnk` is a row_number with a neighbor_id tie-break, so
    * the prefix property is exact). Each consumer previously re-ran
    * the full |Q|×corpus brute-force scan. */
  private def sharedDenseTopK(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    memoCkpt(s, s"densetopk:$dir:q101k20") {
      val emb = t(s, dir, "embeddings")
      graft.operators.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") % 101 === 0), emb,
        "vec_id", "embedding", k = 20)
    }

  /** BM25 ranked list (query_id, neighbor_id, bm25, rnk ≤ k) over
    * word-bigram terms, queries = doc_id % 101. Shared (through
    * [[sharedBm25Ranked]]) by the BM25 gate and the hybrid-RRF fusion
    * so the scoring formula and its oracle twin can't drift between
    * them. */
  private[graft] def bm25Ranked(s: org.apache.spark.sql.SparkSession,
                                dir: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.operators.Partitioning.spread(
      t(s, dir, "documents").select(col("doc_id"), col("text")))
    val tk = TextAnalysis.tokens(col("text"))
    val bigrams = zip_with(
      slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
      (a, b) => concat_ws(" ", a, b))
    // tf feeds three consumers (postings, df, query terms) — persist
    // or the tokenize+aggregate subtree runs three times. (A cross-query
    // memo of this cache was tried in the r13 optimization round and
    // REVERTED: AQE coalesces the aggregate to one partition, so the
    // memoized cache serializes every downstream join of all three
    // consumer queries — recomputing the spread 32-way plan is faster.)
    val tf = docs.select(col("doc_id"), explode(bigrams).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = docs.select(col("doc_id"),
      greatest(size(tk) - 1, lit(0)).cast("double").as("dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("n"),
      sum(greatest(size(tk) - 1, lit(0))).cast("double").as("sdl"))
    val qterms = tf.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("query_id"), col("term"))
    // only the QUERY terms' document frequencies travel: df over the
    // full vocabulary is corpus-sized at 100 TB, df of the probe
    // terms is |Q|-bounded and broadcastable
    val dfq = tf.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val wTerm = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(0.25) + lit(0.75) * col("dl") / (col("sdl") / col("n"))))
    val terms = tf.join(broadcast(qterms), Seq("term"))
      .filter(col("query_id") =!= col("doc_id"))
      .join(broadcast(dfq), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(wTerm, 6).cast("decimal(18,6)").as("w"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("neighbor_id"))
    terms.groupBy("query_id", "neighbor_id")
      .agg(round(sum(col("w")), 6).cast("double").as("bm25"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
  }

  /** Per-document bigram-LM fluency scores (doc_id, n_bigrams,
    * avg_bigram_p) — add-one-smoothed P(wᵢ|wᵢ₋₁) averaged per doc,
    * 6-decimal-rounded probabilities summed in exact decimal so the
    * average is summation-order-free. THE scoring frame for both
    * t_bigram_lm and t_ccnet_buckets (one definition, one SQL twin —
    * the fittedModel convention). Docs with no bigram (single-token)
    * drop out on both engines. */
  private def bigramLmScores(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    val tk = TextAnalysis.tokens(col("text"))
    // bg feeds the count model AND the scoring join — persist, or
    // the tokenize+explode subtree runs twice (the bm25 convention)
    val bg = docs.select(col("doc_id"),
      explode(TextAnalysis.wordBigrams(col("text"))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cAb = bg.groupBy("g").agg(count(lit(1)).as("c_ab"))
    val cA = docs.select(explode(tk).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_a"))
    // V = |vocab| = the grouped frame's row count — a countDistinct
    // over raw token occurrences would re-explode the text and plan
    // a redundant expand + second aggregate
    val vocab = cA.agg(count(lit(1)).as("v"))
    val p = (col("c_ab") + 1).cast("double") /
      (col("c_a") + col("v")).cast("double")
    bg.join(cAb, Seq("g"))
      .join(cA, element_at(split(col("g"), " "), 1) === col("w"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(p, 6).cast("decimal(18,6)").as("pw"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("pw")).cast("double") / count(lit(1)), 6)
          .as("avg_bigram_p"))
  }

  /** The t_mix_schedule curriculum: three phases, each with its own
    * per-source token budgets — covers an over-budget source (keeps
    * everything via the weightHex top-edge), a zero budget, and
    * sources absent from a phase (keep nothing). Shared between the
    * gated query and the SQL oracle generator. */
  private val schedulePhases: Seq[(String, Map[String, Long])] = Seq(
    "p1_warmup" -> Map("src0" -> 3000L, "src1" -> 1500L, "src2" -> 500L),
    "p2_core" -> Map("src0" -> 500L, "src3" -> 4000L, "src5" -> 2000L,
      "src7" -> 10000000L),
    "p3_anneal" -> Map("src2" -> 100L, "src4" -> 0L, "src9" -> 800L))

  /** DuckDB twin of [[bigramLmScores]] — CTE chain ending in
    * `lm(doc_id, n_bigrams, avg_bigram_p)`. Shared by the t_bigram_lm
    * and t_ccnet_buckets oracles so the model can't drift. */
  private val bigramLmSqlCte: String =
    """tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
      |bg AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM tok,
      |  LATERAL (SELECT unnest(range(1, len(t))) AS i)),
      |cab AS (SELECT g, COUNT(*) AS c_ab FROM bg GROUP BY 1),
      |un AS (SELECT unnest(t) AS w FROM tok),
      |ca AS (SELECT w, COUNT(*) AS c_a FROM un GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT w) AS v FROM un),
      |pw AS (SELECT doc_id,
      |    CAST(round(CAST(c_ab + 1 AS DOUBLE)
      |      / CAST(c_a + (SELECT v FROM v) AS DOUBLE), 6)
      |      AS DECIMAL(18,6)) AS pw
      |  FROM bg JOIN cab USING (g)
      |    JOIN ca ON ca.w = str_split(g,' ')[1]),
      |lm AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    round(CAST(SUM(pw) AS DOUBLE) / COUNT(*), 6) AS avg_bigram_p
      |  FROM pw GROUP BY doc_id)""".stripMargin

  /** nDCG@10 discounts 1/log2(i+1), computed ONCE driver-side and
    * embedded as the same literals in the Spark plan and the SQL oracle
    * — neither engine ever evaluates log2, so libm differences can't
    * split them (the hllP α-literal convention). */
  private val ndcgDiscounts: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))

  /** Ideal DCG@10 for the graded-relevance scale rel(i) = 11−i: the
    * exact-decimal sum of the same 6-decimal-rounded terms both engines
    * aggregate, shared as one literal. */
  private val ndcgIdcg: Double =
    (1 to 10).map(i => BigDecimal((11 - i).toDouble * ndcgDiscounts(i - 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble

  /** DuckDB twin of [[graft.operators.Sampling.mixSchedule]] on the
    * [[schedulePhases]] fixture — CTE chain ending in
    * `sel(phase, doc_id, source, n_tokens)`, the selected set. Shared
    * by the t_mix_schedule and t_mix_overlap oracles. */
  private lazy val mixScheduleSqlCore: String = {
    val budgetRows = schedulePhases.flatMap { case (phase, budgets) =>
      budgets.toSeq.sortBy(_._1).map { case (src, b) =>
        s"('$phase', '$src', $b)"
      }
    }.mkString(", ")
    s"""d AS (SELECT doc_id, source,
       |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |tot AS (SELECT source, SUM(n_tokens) AS t FROM d GROUP BY 1),
       |b AS (SELECT * FROM (VALUES $budgetRows)
       |  AS v(phase, source, budget)),
       |thr AS (SELECT phase, source,
       |    CASE WHEN frac >= 1.0 THEN 'g'
       |         ELSE printf('%08x',
       |           CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS cut
       |  FROM (SELECT phase, b.source,
       |          CASE WHEN t <= 0 THEN 1.0
       |               ELSE CAST(budget AS DOUBLE) / CAST(t AS DOUBLE)
       |          END AS frac
       |        FROM b JOIN tot ON b.source = tot.source)),
       |sel AS (SELECT phase, doc_id, source, n_tokens
       |  FROM d JOIN thr USING (source)
       |  WHERE substr(md5(phase || ':' || CAST(doc_id AS VARCHAR)), 1, 8)
       |    < cut)""".stripMargin
  }

  /** t_hll_distinct's p: 512 registers. The oracle interpolates
    * [[graft.operators.Sketches.scaledAlpha]] so both engines embed the
    * IDENTICAL α·m²·2⁵² double literal. */
  private val hllP = 9

  /** The composed cleaning pipeline's oracle — quality ≥ 0.5, langid
    * 'en', min-doc_id canonical per full-text fingerprint, stable hash
    * split. Shared verbatim by the batch gate (t_pipeline_clean) and
    * the streaming intake gate (d_stream_intake): the streaming query
    * must land on the identical kept set. */
  private lazy val pipelineCleanSql: String = {
    s"""WITH $qualityLangCte,
       |kept AS (SELECT doc_id, source, text FROM ql
       |  WHERE quality >= 0.5 AND lang_pred = 'en'),
       |dd AS (SELECT *, row_number() OVER (
       |    PARTITION BY md5(lower(regexp_replace(text, '\\s+', ' ', 'g')))
       |    ORDER BY doc_id) AS rn FROM kept)
       |SELECT doc_id, source,
       |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'val'
       |       WHEN md5(CAST(doc_id AS VARCHAR)) < '33' THEN 'test'
       |       ELSE 'train' END AS split
       |FROM dd WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  /** One recursive-delete JVM shutdown hook per scratch dir a lazy
    * read-back keeps alive past its builder (t_stream_route's route
    * stores) — bounded: one small dir per builder invocation, all
    * reclaimed at process exit. */
  private def cleanupAtExit(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => rm(new java.io.File(dir))))
    ()
  }

  /** Quality + language-ID CTE chain ending in
    * `ql(doc_id, source, text, quality, lang_pred)` — THE scoring SQL
    * for the quality/langid family: [[pipelineCleanSql]] filters on it,
    * the t_stream_route oracle routes on it (one definition, so the
    * batch-pipeline, streaming-intake and router gates can't drift onto
    * different scores). */
  private lazy val qualityLangCte: String = {
    val enList = enStop.map(w => s"'$w'").mkString("[", ",", "]")
    val profiles = TextAnalysis.langProfiles.map { case (lang, ws) =>
      lang -> ws.map(w => s"'$w'").mkString("[", ",", "]")
    }
    val scoreCols = profiles.map { case (lang, arr) =>
      s"len(list_intersect(dt, $arr)) AS s_$lang"
    }.mkString(", ")
    val gExpr = profiles.map(p => s"s_${p._1}").mkString("GREATEST(", ", ", ")")
    val predChain = profiles.map { case (lang, _) =>
      s"WHEN s_$lang = g THEN '$lang'"
    }.mkString(" ")
    s"""base AS (
       |  SELECT doc_id, source, text, str_split(text,' ') AS tk,
       |         list_distinct(str_split(text,' ')) AS dt FROM documents),
       |scored AS (SELECT *, $scoreCols FROM base),
       |g AS (SELECT *, $gExpr AS g FROM scored),
       |ql AS (SELECT doc_id, source, text,
       |    round((LEAST(len(tk)/64.0, 1.0)
       |      + CAST(len(dt) AS DOUBLE)/len(tk)
       |      + LEAST(len(list_intersect(dt, $enList))/4.0, 1.0)) / 3.0, 6)
       |      AS quality,
       |    CASE WHEN g = 0 THEN 'und' $predChain END AS lang_pred
       |  FROM g)""".stripMargin
  }

  /** Shared dense-ranking CTE chain — the DuckDB twin of
    * `Similarity.bruteForceTopK` over the `vec_id % 101` probe queries
    * (unnest-zip dot product, 4-decimal cosine, neighbor_id
    * tie-break), ending in `dr(query_id, neighbor_id, r_dense)`.
    * Shared by the t_hybrid_rrf and t_ndcg_eval oracles so the dense
    * gold-standard ranking can't drift between them. */
  private lazy val denseRankCtes: String =
    """dq AS (SELECT vec_id AS query_id, embedding AS qv
      |       FROM embeddings WHERE vec_id % 101 = 0),
      |dc AS (SELECT vec_id AS neighbor_id, embedding AS cv
      |       FROM embeddings),
      |dun AS (SELECT query_id, neighbor_id,
      |          unnest(qv) AS x, unnest(cv) AS y
      |        FROM dq JOIN dc ON query_id <> neighbor_id),
      |ds AS (SELECT query_id, neighbor_id,
      |         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
      |         sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
      |         sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
      |       FROM dun GROUP BY 1, 2),
      |dr AS (SELECT query_id, neighbor_id,
      |         CAST(row_number() OVER (PARTITION BY query_id
      |           ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
      |           AS INT) AS r_dense
      |       FROM ds)""".stripMargin

  /** Shared CTE chain of the BM25 oracles, ending in
    * `rk(query_id, neighbor_id, bm25, rnk)` — the DuckDB twin of
    * [[bm25Ranked]] (unfiltered rank; callers cut at their own k). */
  private lazy val bm25Ctes: String =
    """tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
      |bg AS (SELECT doc_id, array_to_string(t[i:i+1],' ') AS term
      |       FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i)
      |       WHERE len(t) >= 2),
      |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
      |       FROM bg GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(greatest(len(t) - 1, 0) AS DOUBLE) AS dl
      |       FROM tok),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |              CAST(SUM(greatest(len(t) - 1, 0)) AS DOUBLE) AS sdl
      |       FROM tok),
      |q AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id % 101 = 0),
      |df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      |w AS (SELECT q.query_id, tf.doc_id AS neighbor_id,
      |        CAST(round(
      |          ln(1.0 + (st.n - df.df + 0.5) / (df.df + 0.5))
      |            * (tf.tf * 2.2)
      |            / (tf.tf + 1.2 *
      |               (0.25 + 0.75 * dl.dl / (st.sdl / st.n))),
      |          6) AS DECIMAL(18,6)) AS w
      |      FROM tf JOIN q USING (term) JOIN df USING (term)
      |        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      |      WHERE tf.doc_id <> q.query_id),
      |sc AS (SELECT query_id, neighbor_id,
      |        CAST(round(SUM(w), 6) AS DOUBLE) AS bm25
      |       FROM w GROUP BY 1, 2),
      |rk AS (SELECT query_id, neighbor_id, bm25,
      |        CAST(row_number() OVER (PARTITION BY query_id
      |          ORDER BY bm25 DESC, neighbor_id) AS INT) AS rnk
      |       FROM sc)""".stripMargin

  /** Shared CTE chain of the HLL oracles: documents → 60-bit md5 hash →
    * registers → per-source integer register sums. */
  private lazy val hllRegCte =
    """h AS (SELECT source, text,
      |    ('0x' || substr(md5(text), 1, 15))::UBIGINT::BIGINT AS v
      |  FROM documents),
      |r AS (SELECT source, v & 511 AS bucket,
      |    CASE WHEN (v >> 9) = 0 THEN 52
      |         ELSE 52 - length(bin(v >> 9)) END AS rho FROM h),
      |reg AS (SELECT source, bucket, MAX(rho) AS mrho FROM r GROUP BY 1, 2),
      |per AS (SELECT source, COUNT(*) AS present,
      |    SUM(CAST(1 AS BIGINT) << (52 - mrho)) AS sumpow
      |  FROM reg GROUP BY 1)""".stripMargin

  /** Raw-estimate + zero-register columns over `per` (select-list
    * fragment) and the linear-counting finalizer over `est`. */
  private lazy val hllRawSql =
    s"""${graft.operators.Sketches.scaledAlpha(hllP)} /
       |      CAST(sumpow + (512 - present) * 4503599627370496 AS DOUBLE)
       |      AS raw,
       |    512 - present AS v0""".stripMargin
  private lazy val hllFinalSql =
    """round(CASE WHEN raw <= 1280.0 AND v0 > 0
      |    THEN 512.0 * ln(512.0 / CAST(v0 AS DOUBLE)) ELSE raw END,
      |    4)""".stripMargin

  /** The t_weighted_sample mixture: four weight tiers cycled over the
    * fixture's 20 sources. */
  private val mixWeights: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> Seq(0.1, 0.35, 0.6, 0.85)(i % 4))

  /** The t_mix_interleave mixture — includes weight-0 tiers so the
    * "unlisted source never arrives" path is under the oracle gate. */
  private val interleaveWeights: Seq[(String, Double)] =
    (0 until 20).map(i => s"src$i" -> Seq(0.0, 0.25, 0.5, 1.0)(i % 4))

  /** The PII fixture: documents.text has no digits or @-signs (by
    * construction), so the PII queries append deterministic spans
    * derived from doc_id — 1 in 5 docs an email, 1 in 5 a phone, 1 in 5
    * an IPv4, 1 in 5 an email AND an IP, 1 in 5 nothing. Identical
    * integer arithmetic on both engines; the detectors then run against
    * a corpus where hit/miss is non-trivial per row. */
  private def piiAugmented: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val s = (c: org.apache.spark.sql.Column) => c.cast("string")
    concat(col("text"),
      when(id % 5 === 0,
        concat(lit(" contact u"), s(id), lit("@example.com")))
      .when(id % 5 === 1,
        concat(lit(" call 555-"), lpad(s(id % 1000), 3, "0"), lit("-"),
          lpad(s((id * 7) % 10000), 4, "0")))
      .when(id % 5 === 2,
        concat(lit(" host 10."), s(id % 256), lit("."),
          s((id * 3) % 256), lit("."), s((id * 7) % 256)))
      .when(id % 5 === 3,
        concat(lit(" contact u"), s(id), lit("@mail.example.org from 192.168."),
          s(id % 256), lit("."), s((id * 11) % 256)))
      .otherwise(lit("")))
  }

  /** DuckDB twin of [[piiAugmented]]. No continuation line may START
    * with `||` — this value is re-interpolated into stripMargin oracle
    * templates, whose own stripMargin would eat the first pipe. */
  private val piiAugmentedSql: String =
    """text || CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) ||
      |      '@example.com'
      |    WHEN 1 THEN ' call 555-' ||
      |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |      lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
      |    WHEN 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |      '.' || CAST((doc_id * 3) % 256 AS VARCHAR) ||
      |      '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      |    WHEN 3 THEN ' contact u' || CAST(doc_id AS VARCHAR) ||
      |      '@mail.example.org from 192.168.' ||
      |      CAST(doc_id % 256 AS VARCHAR) ||
      |      '.' || CAST((doc_id * 11) % 256 AS VARCHAR)
      |    ELSE '' END""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    "t_token_stats" -> { (s, dir) =>
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        TextAnalysis.tokenCountEstimate(col("text")).as("tok_est"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"),
        TextAnalysis.typeTokenRatio(col("text")).as("ttr"))
        .orderBy("doc_id")
    },

    // REAL RFC 3986 §6 URL canonicalization under the gate — the
    // web-corpus identity primitive (graft_url_canon, a native
    // expression). Every doc PAIR (2k, 2k+1) carries the same URL
    // content through two DIFFERENT messes: shuffled case, reordered
    // query params, mixed %2d/%2D escape case, different dot-segment
    // detours, a default port present on one side only. The gate
    // groups by the canonical URL, so n=2 per pair IS the correctness
    // claim: both messes collapsed to the oracle's exact string, and
    // nothing else collapsed with them.
    "t_url_canon" -> { (s, dir) =>
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, graft.queries.messyUrl(id)))
        .toDF("doc_id", "raw")
        .withColumn("url", call_function("graft_url_canon", col("raw")))
        .groupBy(((col("doc_id") / 2).cast("long") * 2).as("pair"),
          col("url"))
        .agg(count(lit(1)).as("n"))
        .select(col("pair"), col("url"), col("n"),
          call_function("parse_url", col("url"), lit("HOST")).as("host"))
        .orderBy("pair")
    },

    // REAL crawl-archive intake under the gate — the Common Crawl
    // layout end to end: per doc a .warc.gz with one gzip MEMBER per
    // record (RFC 1952 headers rotating FEXTRA/FNAME/FCOMMENT/FHCRC,
    // raw DEFLATE, CRC-32 + ISIZE trailers verified), records parsed
    // through the WARC/1.0 grammar (Content-Length framing, CRLF CRLF
    // separators) and the HTTP response envelope — and the recovered
    // body IS the document text, pinned by md5 against the oracle, so
    // a one-byte slip anywhere in the deflate→WARC→HTTP chain
    // diverges the hash.
    "t_warc_ingest" -> { (s, dir) =>
      graft.operators.ArchiveCodec.warcIngest(s, t(s, dir, "documents"))
        .toDF().orderBy("doc_id")
    },

    // REAL ZIP walk under the gate (PKWARE APPNOTE grammar): EOCD via
    // the backward signature scan (comments on every 3rd id move it),
    // central directory entries cross-checked against local headers,
    // STORED copied and DEFLATED inflated with CRC-32 + size
    // verification. doc.txt's content is the document text, md5-pinned
    // through the deflate round-trip.
    "t_zip_ingest" -> { (s, dir) =>
      graft.operators.ArchiveCodec.zipIngest(s, t(s, dir, "documents"))
        .toDF().orderBy("doc_id")
    },

    // REAL robots.txt evaluation under the gate (RFC 9309) — the
    // respect-robots filter of a crawl-derived corpus: per doc a
    // robots file (CRLF/LF rotating, BOM every 7th, comments, unknown
    // directives, an empty Disallow, mixed-case directive names) and
    // six probes pinning the rules real parsers get wrong — group
    // exclusivity (a specific-UA group hides the * group entirely),
    // UA product-token prefix selection, the $ end anchor beating a
    // shorter Disallow, * wildcards, and longest-match-wins. One probe
    // varies with doc_id so the hash can't constant-fold.
    "t_robots_rules" -> { (s, dir) =>
      import s.implicits._
      import graft.operators.Robots
      t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val g = Robots.parse(graft.queries.robotsText(id))
          (id,
            Robots.allowed(g, "graftbot/1.0", s"/private${id % 5}/x"),
            Robots.allowed(g, "graftbot", s"/private${(id * 3) % 5}/y"),
            Robots.allowed(g, "graftbot", s"/private${id % 5}/pub"),
            Robots.allowed(g, "graftbot", "/tmp/z"),
            Robots.allowed(g, "otherbot", "/tmp/z"),
            Robots.allowed(g, "otherbot", s"/private${id % 5}/x"))
        }
        .toDF("doc_id", "p_own_dis", "p_other_dir", "p_anchor_allow",
          "p_group_excl", "p_star_wild", "p_star_root")
        .orderBy("doc_id")
    },

    "t_quality_langid" -> { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text"), enStop).as("quality"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // Percentile-calibrated length filtering — the "keep the top X% by
    // score" cut every production quality filter actually ships (a fixed
    // threshold drifts as the corpus mix changes; a percentile target
    // does not). The cut is the EXACT 40th percentile of n_chars
    // (linear interpolation — Spark `percentile` and DuckDB
    // `quantile_cont` compute the identical formula; n_chars is integer
    // so the arithmetic is IEEE-identical). The scalar cut is collected
    // driver-side (one number). At 100 TB the same shape runs on
    // approx_percentile or a hash-sample — exact global percentile
    // means a full sort; calibrating on Sampling.hashSample's ~10⁵ rows
    // bounds that while keeping the cut deterministic.
    "t_quality_threshold" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val cut = docs.agg(percentile(col("n_chars"), lit(0.4)))
        .head().getDouble(0)
      docs.filter(col("n_chars") >= cut)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"))
        .withColumn("cut", round(lit(cut), 6))
        .orderBy("lang")
    },

    // Histogram-calibrated threshold — the GATED version of the
    // "exact percentile means a full sort; at 100 TB calibrate on a
    // histogram" path the exact-percentile gates document: the cut is
    // derived from a 16-char-wide bin table (mergeable, bounded, one
    // partial-agg shuffle; the cumulative window runs over BINS, never
    // documents), entirely in integers (5·cum ≥ 2·N ⟺ cum ≥ 0.4·N),
    // so the approximate path is itself engine-exact and regression-
    // pinned, not just named in prose.
    "t_threshold_binned" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n_total"))
      val bins = docs.groupBy((col("n_chars") - (col("n_chars") % 16))
          .as("bin"))
        .agg(count(lit(1)).as("c"))
      val cum = bins.withColumn("cum",
        sum(col("c")).over(Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val cut = cum.crossJoin(broadcast(n))
        .filter(col("cum") * 5 >= col("n_total") * 2)
        .agg(min(col("bin") + 16).as("cut"))
      docs.crossJoin(broadcast(cut))
        .filter(col("n_chars") >= col("cut"))
        .groupBy("lang", "cut")
        .agg(count(lit(1)).as("n_kept"))
        .select(col("lang"), col("n_kept"), col("cut"))
        .orderBy("lang")
    },

    // Per-source quality calibration: a quality score's distribution
    // shifts across domains, so one global cut over- or under-prunes
    // every source — the shipped practice is "keep each source's top
    // half BY ITS OWN distribution". The per-source median is a
    // partially-aggregated percentile (counts-by-value merge — no
    // per-source sort, no hot window partition however large one
    // source is); the |sources|-row cut table broadcasts back.
    "t_quality_calibrate" -> { (s, dir) =>
      val q = t(s, dir, "documents").select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text"), enStop).as("quality"))
      val cuts = q.groupBy("source")
        .agg(percentile(col("quality"), lit(0.5)).as("cut"))
      q.join(broadcast(cuts), Seq("source"))
        .filter(col("quality") >= col("cut"))
        .select(col("doc_id"), col("source"), col("quality"),
          round(col("cut"), 6).as("cut"))
        .orderBy("doc_id")
    },

    // Model-based quality filtering (the GPT-3/LLaMA curation recipe
    // shape): a logistic-regression classifier over exact
    // integer-derived text features, trained IN Spark by distributed
    // IRLS (one gradient+Hessian aggregation per Newton step). The
    // reference label distills the heuristic quality gate
    // (qualityScore ≥ 0.5) — the fixture's lang/source columns are
    // label NOISE by construction (measured: feature means are
    // identical across langs), so a real corpus's
    // "reference-membership" label is stood in for by the one signal
    // the fixture actually carries, and training convergence is
    // observable (≈0.95 train accuracy, floor-pinned in the spec).
    // The fitted weights are FROZEN into the DuckDB oracle
    // (Double.toString round-trip), which replays the identical
    // feature expressions and IEEE fold — the decision stays in logit
    // space so no transcendental ever reaches the gate.
    "t_quality_classifier" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val m = fittedModel(s, dir)
      val lg = QualityClassifier.logit(
        m, QualityClassifier.features(col("text"), enStop).map(_._2))
      docs.select(col("doc_id"),
        when(TextAnalysis.qualityScore(col("text"), enStop) >= 0.5, 1)
          .otherwise(0).cast("int").as("label"),
        round(lg, 6).as("logit"),
        (lg > 0.0).as("pred"))
        .orderBy("doc_id")
    },

    // Length-bucket padding audit: how many tokens padded batches waste
    // at each bucket edge — the number that decides padded batching vs
    // packed sequences. Integer CASE-chain assignment (no log2) + one
    // partial aggregation.
    "t_length_buckets" -> { (s, dir) =>
      graft.operators.Packing.lengthBuckets(
        t(s, dir, "documents"),
        size(TextAnalysis.tokens(col("text"))),
        edges = Seq(16, 32, 64, 96, 128), overflowEdge = 256)
        .orderBy("bucket")
    },

    // Collocation mining: top-20 bigrams by the PMI ratio (count floor
    // 30) — the corpus-statistics pass behind phrase vocabularies and
    // tokenizer seeding. Ranking via the ratio keeps ln out of the
    // gate; ties break on the bigram text.
    "t_pmi_bigrams" -> { (s, dir) =>
      TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text",
        minCount = 30, k = 20)
    },

    // Cross-source contamination audit: for every source pair, how many
    // content fingerprints they share — the "is dump B re-crawling dump
    // A" matrix a corpus audit starts from. The per-fp source set is
    // bounded by |sources|, so the fp self-join fans out at most
    // C(|sources|,2) per fingerprint — never doc×doc; only
    // (fp, source) pairs shuffle, never text.
    "t_source_overlap" -> { (s, dir) =>
      val fps = t(s, dir, "documents")
        .select(TextAnalysis.prefixFingerprint(col("text"), 8).as("fp"),
          col("source"))
        .distinct()
      // plain count: the (fp, source) relation is already distinct, so
      // each fp contributes at most one row per source pair — a
      // countDistinct would plan a redundant expand + second aggregate
      fps.as("a").join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("src_a", "src_b")
    },

    "t_fingerprint_dups" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(TextAnalysis.prefixFingerprint(col("text"), 8).as("fp"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
        .orderBy("fp")
    },

    // PII detection: regex hit counts per document over the augmented
    // corpus (emails / phones / IPv4s appended deterministically from
    // doc_id — see piiAugmented). Map-only, codegen'd regexp_count;
    // the standard first pass of a web-corpus scrub (Dolma/RefinedWeb
    // style — public knowledge).
    "t_pii_stats" -> { (s, dir) =>
      val aug = piiAugmented
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.piiEmailCount(aug).as("n_email"),
        TextAnalysis.piiPhoneCount(aug).as("n_phone"),
        TextAnalysis.piiIpCount(aug).as("n_ip"),
        (TextAnalysis.piiEmailCount(aug) + TextAnalysis.piiPhoneCount(aug) +
          TextAnalysis.piiIpCount(aug) > 0).as("has_pii"))
        .orderBy("doc_id")
    },

    // PII redaction: every span replaced by its type tag ([EMAIL]/
    // [IP]/[PHONE], email-first order — local parts can embed
    // digits-and-dots). The output hashes the redacted text so the gate
    // proves byte-identical rewrites, not just counts. n_pii_spans
    // counts detector hits on the PRE-redaction text — it can exceed
    // the replacement count when spans nest (an IP inside an email's
    // local part is consumed by the email rewrite).
    "t_pii_redact" -> { (s, dir) =>
      val aug = piiAugmented
      val red = TextAnalysis.redactPii(aug)
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(red.cast("binary")).as("red_fp"),
        (TextAnalysis.piiEmailCount(aug) + TextAnalysis.piiPhoneCount(aug) +
          TextAnalysis.piiIpCount(aug)).as("n_pii_spans"),
        (length(aug) - length(red)).as("chars_delta"))
        .orderBy("doc_id")
    },

    // Gopher document-quality rules (Rae et al. 2021): the named
    // pass/fail flags per document — word-count band, mean word length,
    // stopword floor, duplicate-2-gram ceiling — as one map-only
    // projection (no explode: bigram mass via array cardinality).
    "t_gopher_rules" -> { (s, dir) =>
      val g = TextAnalysis.gopherRules(col("text"), enStop)
      t(s, dir, "documents").select(col("doc_id"), g.as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy("doc_id")
    },

    // Filter-funnel audit: per-rule waterfall drop accounting for the
    // ordered cleaning pipeline (first failing rule is charged; drops
    // weighted by word count). One corpus scan evaluates every rule;
    // the funnel itself is |rules|+1 rows end to end.
    "t_filter_funnel" -> { (s, dir) =>
      val wt = size(TextAnalysis.tokens(coalesce(col("text"), lit(""))))
      TextAnalysis.filterFunnel(t(s, dir, "documents"), wt, funnelRules)
    },

    // Training-mix interleave: the deterministic source-weighted global
    // ordering (competing exponential clocks; Sampling.mixInterleaveKey)
    // — first 200 positions of the stream. Weight-0 tiers exercise the
    // "never arrives" path under the gate.
    "t_mix_interleave" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val key = Sampling.mixInterleaveKey(col("doc_id"), col("source"),
        interleaveWeights)
      val sel = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), key.as("ord_key"))
        .filter(col("ord_key").isNotNull)
        .orderBy(col("ord_key"), col("doc_id")).limit(200)
      // global row_number over the 200 surviving rows only — the full
      // stream never funnels through one window task
      sel.withColumn("pos", row_number()
          .over(Window.orderBy(col("ord_key"), col("doc_id"))).cast("int"))
        .orderBy("doc_id")
    },

    "d_exact_dups" -> { (s, dir) =>
      Dedup.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fp")
    },

    "d_minhash_lsh" -> { (s, dir) =>
      sharedMinhashPairs(s, dir)
        .orderBy("id_a", "id_b")
    },

    "d_simhash" -> { (s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // SimHash NEAR-dup pairs via the banded Hamming join — the one
    // equi-join shape that replaces the all-pairs xor/popcount scan
    // at corpus scale. Exact-duplicate signatures collapse FIRST
    // (distinct simhash, min-doc canonical — this corpus carries
    // thousands of signature-identical docs that would otherwise form
    // quadratic candidate cliques), then 4 bands of 8 bits join the
    // survivors with pigeonhole recall 1.0 within dist ≤ 3; the
    // oracle brute-forces every signature pair to prove the banded
    // join loses nothing.
    "d_simhash_neardups" -> { (s, dir) =>
      val sh = Dedup.simhash(t(s, dir, "documents"), "doc_id", "text")
        .groupBy("simhash").agg(min(col("doc_id")).as("cid"))
      Dedup.hammingNearDups(sh, "cid", "simhash",
          nBits = 32, bands = 4, maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    "d_ngram_jaccard" -> { (s, dir) =>
      sharedJaccardPairs(s, dir)
        .orderBy("id_a", "id_b")
    },

    // Exact-substring dup pairs: documents sharing a VERBATIM 16-token
    // window (suffix-array ExactSubstr dedup re-shaped to one shuffle;
    // content-keyed winnowing keeps 1/4 of windows alignment-free, the
    // df cap drops boilerplate windows in-buffer).
    "d_substring_dup" -> { (s, dir) =>
      Dedup.sharedWindowPairs(t(s, dir, "documents"), "doc_id", "text",
        w = 16, keepBelow = "4", maxDf = 64)
        .orderBy("id_a", "id_b")
    },

    // Near-dup CLUSTERS: connected components over the verified
    // MinHash-LSH pair graph — the canonical-doc-per-cluster collapse a
    // dedup pipeline actually ships. Oracle = recursive CTE closure.
    "d_dup_clusters" -> { (s, dir) =>
      Dedup.dupClusters(sharedMinhashPairs(s, dir)).orderBy("canonical_id")
    },

    // Cluster-size distribution over the same near-dup graph — the
    // summary a dedup rollout reads first (a long tail of giant
    // clusters means boilerplate, not true duplicates, and argues for
    // a higher threshold before any deletion happens).
    "d_cluster_sizes" -> { (s, dir) =>
      val pairs = sharedMinhashPairs(s, dir)
      Dedup.componentLabels(pairs.select(col("id_a"), col("id_b")))
        .groupBy("comp").agg(count(lit(1)).as("m"))
        .groupBy(col("m").cast("int").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },

    // Asymmetric containment dedup: |A∩B| / min(|A|,|B|) over word
    // 3-gram shingles — catches a short document excerpted inside a
    // long one, which symmetric Jaccard structurally misses. Same
    // capped-candidate machinery as d_ngram_jaccard, survivor bound
    // rewritten for containment, shared merge-walk verification.
    "d_containment" -> { (s, dir) =>
      Dedup.containmentPairs(sharedShingleTable(s, dir),
        sharedPairStats(s, dir), threshold = 0.8)
        .orderBy("id_a", "id_b")
    },

    // Dump-to-dump diff: old = every doc except id%10==3, new = every
    // doc except id%10==7 with id%20==5 texts reversed (a
    // normalization-surviving edit) — added/removed/changed/unchanged
    // per id, the audit that scopes incremental processing between two
    // exports. Fingerprints only through one full-outer id join.
    "t_corpus_diff" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      // Inject null texts so the gate actually EXERCISES the null
      // path (the fixture has none): %25==4 null in BOTH dumps — the
      // explicit presence markers must classify it 'unchanged', a
      // fingerprint-nullability oracle would call it 'added' — and
      // %25==11 null in the NEW dump only, which the null-safe compare
      // must classify 'changed'.
      val nullBoth = (c: org.apache.spark.sql.Column) =>
        when(col("doc_id") % 25 === 4, lit(null).cast("string"))
          .otherwise(c)
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 3)
        .withColumn("text", nullBoth(col("text")))
      val newSnap = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text", nullBoth(
          when(col("doc_id") % 25 === 11, lit(null).cast("string"))
            .otherwise(col("text"))))
        .withColumn("text",
          when(col("doc_id") % 20 === 5, reverse(col("text")))
            .otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Content novelty between the same two dumps t_corpus_diff
    // compares: per source, the share of the new dump's distinct
    // 3-gram shingles never seen in the old dump — the content-level
    // refresh-size signal that survives re-chunking and id churn.
    "t_dump_novelty" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") % 10 =!= 3)
      val newSnap = docs.filter(col("doc_id") % 10 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 20 === 5, reverse(col("text")))
            .otherwise(col("text")))
      Dedup.dumpNovelty(oldSnap, newSnap, "source", "text", n = 3)
        .orderBy("source")
    },

    // Keep-best dedup collapse: one survivor per near-dup cluster,
    // chosen by quality score (ties to the smaller id) instead of
    // dupClusters' min-id convention — the canonical-selection policy
    // a production dedup ships. The winner is a partially-aggregated
    // max over (rep, struct(score, −id)); document text never crosses
    // a shuffle.
    "d_dedup_keep_best" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = sharedMinhashPairs(s, dir)
      Dedup.keepBest(docs, "doc_id", pairs,
        TextAnalysis.qualityScore(col("text"), enStop))
        .orderBy("rep_id")
    },

    // Incremental ingest dedup: every 10th doc plays the "new batch",
    // checked against the rest as the standing index — the batch
    // broadcasts into the index probe, the corpus never self-joins.
    // The oracle is the FULL pipeline restricted to batch-touching
    // pairs: incremental maintenance must equal recomputation.
    "d_incremental_neardup" -> { (s, dir) =>
      // shingling is per-doc, so both sides are plain filters of the
      // family's shared cached shingle table — no re-shingling
      val sh = sharedShingleTable(s, dir)
      Dedup.incrementalNearDups(
        sh.filter(col("id") % 10 =!= 0),
        sh.filter(col("id") % 10 === 0),
        t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("id")),
        k = 6, b = 3, r = 2, threshold = 0.5)
        .orderBy("id_a", "id_b")
    },

    // Benchmark decontamination: training docs sharing any word-4-gram
    // with the "benchmark" subset (every 50th doc stands in for an eval
    // set). Eval shingles broadcast; the corpus never shuffles.
    "t_decontam_ngram" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
        .orderBy("train_id")
    },

    // Contamination ATTRIBUTION: the matched (train, eval) pairs with
    // shared-shingle counts — which benchmark items leak into which
    // training docs, the per-pair evidence behind t_decontam_ngram's
    // per-doc flags.
    "t_decontam_pairs" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
        .orderBy("train_id", "eval_id")
    },

    // Stable train/val/test split: pure map-side hash assignment —
    // reproducible across runs, engines, and incremental appends.
    "t_hash_split" -> { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Sampling.hashSplit(col("doc_id"),
          Seq("val" -> "1a", "test" -> "33"), "train").as("split"))
        .orderBy("doc_id")
    },

    // Classifier over HASHED features: the same IRLS trainer fit on
    // the 8-dim feature-hash vectors instead of the hand-picked stats
    // — the vocabulary-free "hashing trick + linear model" combination
    // shipped when the feature space is open-ended. Learns the
    // heuristic teacher to ~0.84 train accuracy from hashed
    // bag-of-words alone (base rate 0.72); frozen weights replay over
    // the exact integer features in the oracle.
    "t_hash_classifier" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val hashed = TextAnalysis.featureHash(docs, "doc_id", "text",
        dim = hashDim)
      val labeled = docs.select(col("doc_id"),
        (TextAnalysis.qualityScore(col("text"), enStop) >= 0.5)
          .cast("int").as("y"))
        .join(hashed, Seq("doc_id"))
      val feats = (0 until hashDim).map(j =>
        s"h$j" -> col(s"f$j").cast("double"))
      val m = memoFit(s"lrh:$dir:irls8r1e3")(
        QualityClassifier.fitOn(labeled, feats, col("y")))
      lrModels.put("lrh", m)
      val lg = QualityClassifier.logit(m, feats.map(_._2))
      labeled.select(col("doc_id"), col("y").as("label"),
          round(lg, 6).as("logit"), (lg > 0.0).as("pred"))
        .orderBy("doc_id")
    },

    // Self-fitted bigram language model with add-one smoothing: each
    // document scored by its average P(wᵢ | wᵢ₋₁) = (c(ab)+1)/(c(a)+V)
    // — the n-gram-LM fluency signal one tier above the char-trigram
    // proxy (scoring shared with t_ccnet_buckets via bigramLmScores).
    "t_bigram_lm" -> { (s, dir) =>
      bigramLmScores(s, dir).orderBy("doc_id")
    },

    // CCNet-style corpus partition (Wenzek et al. 2020, public): per
    // LANGUAGE, split documents into head / middle / tail thirds by
    // language-model fluency — the standard pre-filter that routes the
    // most-fluent third into training and quarantines the tail. The
    // fluency signal is THE t_bigram_lm score (shared helper, so the
    // two gates can never drift onto different models; higher avg
    // bigram probability = more fluent = head). Tertile cuts are exact
    // interpolated percentiles per language, compared UNROUNDED (the
    // t_quality_calibrate convention); at 100 TB the exact per-group
    // percentile becomes approx_percentile or a hash-sample calibration
    // (the t_quality_threshold scaling note) — the cut derivation is
    // one |langs|-row aggregate either way, broadcast back.
    "t_ccnet_buckets" -> { (s, dir) =>
      val scored = bigramLmScores(s, dir)
        .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
          Seq("doc_id"))
        // feeds the cuts aggregate AND the final bucket join — persist,
        // or the whole LM scoring subtree runs twice
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cuts = scored.groupBy("lang").agg(
        percentile(col("avg_bigram_p"), lit(1.0 / 3)).as("c1"),
        percentile(col("avg_bigram_p"), lit(2.0 / 3)).as("c2"))
      scored.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_bigram_p"),
          when(col("avg_bigram_p") >= col("c2"), lit("head"))
            .when(col("avg_bigram_p") >= col("c1"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"),
          round(col("c1"), 6).as("cut_lo"),
          round(col("c2"), 6).as("cut_hi"))
        .orderBy("doc_id")
    },

    // Feature hashing: token counts folded into a fixed 8-dim signed
    // integer vector (md5 bucket + md5 sign) — vocabulary-free
    // featurization for linear models; all-integer, engine-exact.
    "t_feature_hash" -> { (s, dir) =>
      TextAnalysis.featureHash(t(s, dir, "documents"), "doc_id", "text",
        dim = hashDim)
        .orderBy("doc_id")
    },

    // Per-source Pearson correlation between document length and the
    // heuristic quality score — the "is my quality signal just a length
    // proxy" audit. The correlation is built from exact partial sums:
    // x is integer, y is the 6-decimal score carried as DECIMAL(18,6)
    // so Σy/Σy²/Σxy are order-free exact decimals (never an engine's
    // own corr(), whose summation internals differ); the final ratio
    // runs one fixed double chain. Degenerate sources (zero variance)
    // emit NULL rather than a NaN.
    "t_quality_corr" -> { (s, dir) =>
      val y = TextAnalysis.qualityScore(col("text"), enStop)
        .cast("decimal(18,6)")
      val base = t(s, dir, "documents").select(col("source"),
        col("n_chars").as("x"), y.as("y"))
      // x² widens to decimal BEFORE the multiply: a long Σx² wraps
      // silently past 2⁶³ (≈10⁹ docs at ~10⁵ chars) while the oracle's
      // HUGEINT sum stays exact — the widened decimal keeps the
      // "exact partial sums" contract at the documented scale
      val agg = base.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x").cast("decimal(19,0)") * col("x")).as("sx2"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("sy2"),
        sum(col("x") * col("y")).as("sxy"),
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      val nD = col("n").cast("double")
      val sxD = col("sx").cast("double")
      val sx2D = col("sx2").cast("double")
      val syD = col("sy").cast("double")
      val sy2D = col("sy2").cast("double")
      val sxyD = col("sxy").cast("double")
      val num = nD * sxyD - sxD * syD
      val den2 = (nD * sx2D - sxD * sxD) * (nD * sy2D - syD * syD)
      // degeneracy is decided EXACTLY (min == max per group), never by
      // the double den2 alone — a constant-y source's den2 lands on a
      // ±ulp residue about half the time, which would emit a spurious
      // correlation instead of NULL; den2 > 0 stays as a second guard
      // against double cancellation on near-degenerate groups
      val nonDegenerate =
        col("xmin") < col("xmax") && col("ymin") < col("ymax")
      agg.select(col("source"), col("n"),
        when(nonDegenerate && den2 > 0.0, round(num / sqrt(den2), 6))
          .as("corr_len_quality"))
        .orderBy("source")
    },

    // Classifier-calibrated corpus filter: keep the top 60% by the
    // FROZEN model's score — the percentile-target composition
    // (t_quality_threshold's practice) applied to the learned scorer
    // instead of a raw stat, reporting the per-source survivor mix
    // (the number a data recipe actually watches: how the classifier
    // shifts the mixture). Scores are 6-decimal-rounded BEFORE the
    // percentile on both engines; the filter compares against the
    // unrounded interpolated cut (identical IEEE interpolation, the
    // t_quality_calibrate convention).
    "t_classifier_filter" -> { (s, dir) =>
      val docs = graft.operators.Partitioning.spread(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("text")))
      val m = fittedModel(s, dir)
      val lg = round(QualityClassifier.logit(
        m, QualityClassifier.features(col("text"), enStop).map(_._2)), 6)
      // feeds the percentile action AND the filtered aggregate — persist,
      // or the feature+logit scoring pass runs twice. Memoized (the
      // sharedMinhashPairs convention) so clearFitMemo releases it: a
      // bare per-invocation persist() would re-create the cache on every
      // call and never release it.
      val scored = memoCkpt(s, s"clfscored:$dir") {
        docs.select(col("doc_id"), col("source"), lg.as("score"))
      }
      val cut = scored.agg(percentile(col("score"), lit(0.4)))
        .head().getDouble(0)
      scored.filter(col("score") >= cut)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"))
        .withColumn("cut", round(lit(cut), 6))
        .orderBy("source")
    },

    // Deterministic epoch-salted shuffle + shard layout — the pass that
    // writes a training corpus: every epoch a different reproducible
    // permutation, rows hash-balanced over output shards, write order =
    // per-shard position (nShards parallel sorts, never one global
    // window task — the window partitions on shard, which IS the write
    // path's repartition key).
    "t_epoch_shard" -> { (s, dir) =>
      Sampling.epochShuffle(t(s, dir, "documents"), "doc_id",
        epoch = 1, nShards = 4)
        .orderBy("shard", "pos")
    },

    // Leakage-safe split: near-duplicate documents MUST land in the same
    // split or held-out eval leaks into train through paraphrases — so
    // the split hash is taken over each doc's near-dup-cluster
    // representative (component min id; isolated docs represent
    // themselves) instead of the doc id. Composes minhashNearDups →
    // componentLabels → hashSplit; the label relation is |dup-graph
    // nodes| rows — a tiny fraction of the corpus, so the left join is
    // broadcast-sized at any scale.
    "t_leakage_safe_split" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = sharedMinhashPairs(s, dir)
      val labels = Dedup.componentLabels(pairs)
        .withColumnRenamed("id", "doc_id")
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("rep_id"))
        .select(col("doc_id"), col("rep_id"),
          Sampling.hashSplit(col("rep_id"),
            Seq("val" -> "1a", "test" -> "33"), "train").as("split"))
        .orderBy("doc_id")
    },

    // C4-style duplicated-span scrub: every 10-word chunk seen earlier
    // anywhere in the corpus is removed, first occurrence wins, and the
    // cleaned text is reassembled — the sub-document dedup pass between
    // exact dedup (whole doc) and substring winnowing (report-only).
    "t_span_scrub" -> { (s, dir) =>
      Dedup.spanScrub(t(s, dir, "documents"), "doc_id", "text", w = 10)
        .orderBy("doc_id")
    },

    // Source-mixture weighted sampling: each source kept at its mixing
    // weight, deterministically (hash-threshold, map-only) — the
    // dataset-weighting pass of a training pipeline.
    "t_weighted_sample" -> { (s, dir) =>
      t(s, dir, "documents")
        .filter(Sampling.weightedSample(col("doc_id"), col("source"),
          mixWeights))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Deterministic stratified sample: 5 docs per language by id-hash
    // order, via the salted two-stage top-k (no per-language hot task).
    "t_stratified_sample" -> { (s, dir) =>
      Sampling.stratifiedTopK(t(s, dir, "documents"), "lang", "doc_id",
        k = 5)
        .orderBy("lang", "rnk")
    },

    // Vocabulary building: corpus-frequency top-k terms with ranks —
    // the seed list a tokenizer-training pass starts from. One partial-
    // aggregated shuffle on the term; the rank window only ever sees
    // |vocab| rows.
    "t_vocab_topk" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("freq").desc, col("term"))
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 25)
        .orderBy("rnk")
    },

    // Intra-document repetition (Gopher-style): duplicate / top 2-gram
    // mass fractions — the looped-text filter of published LLM data
    // pipelines.
    "t_repetition_stats" -> { (s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Char-trigram fluency: average corpus frequency of a document's
    // character 3-grams — the n-gram-LM-perplexity stand-in quality
    // filter, self-fitted on the corpus.
    "t_charlm_fluency" -> { (s, dir) =>
      TextAnalysis.charTrigramFluency(t(s, dir, "documents"), "doc_id",
        "text")
        .orderBy("doc_id")
    },

    // The composed cleaning pipeline — the stages a pre-training corpus
    // actually runs, chained: quality filter → language filter → exact
    // dedup (min-id canonical per content fingerprint) → stable split
    // assignment. Everything upstream of the dedup window is map-only;
    // the one shuffle keys on the content fingerprint.
    "t_pipeline_clean" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val kept = t(s, dir, "documents")
        .filter(TextAnalysis.qualityScore(col("text"), enStop) >= 0.5 &&
          TextAnalysis.langId(col("text")) === "en")
        .withColumn("rn", row_number().over(
          Window.partitionBy(TextAnalysis.fingerprint(col("text")))
            .orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      kept.select(col("doc_id"), col("source"),
        Sampling.hashSplit(col("doc_id"),
          Seq("val" -> "1a", "test" -> "33"), "train").as("split"))
        .orderBy("doc_id")
    },

    // Token-budget rebalancing: each source sampled down to a target
    // TOKEN count (keep-fraction derived from measured per-source
    // totals, then the deterministic hash threshold) — the "hit the
    // mixture spec in tokens, not documents" pass of a data recipe.
    "t_token_budget" -> { (s, dir) =>
      Sampling.tokenBudgetSample(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
        "doc_id", "source", col("n_tokens"),
        budgets = Map("src0" -> 2000L, "src3" -> 100L,
          "src7" -> 10000000L))
        .orderBy("doc_id")
    },

    // Dedup threshold sensitivity: verified-pair counts per Jaccard
    // decile over the rare-shingle candidate graph — the one-pass sweep
    // a pipeline runs BEFORE committing to a dedup threshold (how many
    // pairs does each notch admit?). Candidate machinery is
    // d_ngram_jaccard's with the floor dropped to 0.3; banding runs on
    // the 6-decimal score through an exact-integer chain.
    "t_dedup_sweep" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(sharedShingleTable(s, dir),
        sharedPairStats(s, dir), threshold = 0.3)
        .select(floor(round(col("jaccard") * 1e6) / 1e5).cast("int")
          .as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_pairs"))
        .orderBy("band")
    },

    // Robust per-source quality monitoring: median + MAD of the shared
    // quality score — the outlier-resistant pair a corpus dashboard
    // tracks (means drift with every boilerplate flood; medians don't).
    // Cuts are exact interpolated percentiles compared/emitted per the
    // t_quality_calibrate convention; at 100 TB both steps swap to
    // approx_percentile or the histogram calibration unchanged.
    "t_quality_mad" -> { (s, dir) =>
      val q = round(TextAnalysis.qualityScore(col("text"), enStop), 6)
      val scored = t(s, dir, "documents")
        .select(col("source"), q.as("quality"))
        // feeds the median aggregate AND the deviation join — persist,
        // or the scoring scan runs twice
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val med = scored.groupBy("source")
        .agg(percentile(col("quality"), lit(0.5)).as("med"))
      scored.join(broadcast(med), Seq("source"))
        .groupBy(col("source"), col("med"))
        .agg(count(lit(1)).cast("int").as("n_docs"),
          percentile(abs(col("quality") - col("med")), lit(0.5)).as("mad"))
        .select(col("source"), col("n_docs"),
          round(col("med"), 6).as("med_quality"),
          round(col("mad"), 6).as("mad_quality"))
        .orderBy("source")
    },

    // Language-ID confusion matrix against the fixture's ground-truth
    // lang column — the accuracy eval a langid deployment tracks
    // (which languages bleed into which); |langs|² rows out of one
    // grouped count.
    "t_langid_confusion" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    },

    // LSH candidate recall vs the exhaustive rare-shingle pair method
    // at the same Jaccard floor — the methodological eval run before
    // trusting banded MinHash at scale: how many true ≥0.5 pairs do 3
    // bands of 2 lanes actually surface? One full-outer join over two
    // (id_a, id_b) pair relations; documents never move.
    "d_lsh_recall" -> { (s, dir) =>
      val lsh = sharedMinhashPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit(1).as("lm"))
      val exact = sharedJaccardPairs(s, dir)
        .select(col("id_a"), col("id_b"), lit(1).as("em"))
      exact.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("em").isNotNull && col("lm").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("em").isNotNull && col("lm").isNull, 1L)
            .otherwise(0L)).as("n_exact_only"),
          sum(when(col("em").isNull && col("lm").isNotNull, 1L)
            .otherwise(0L)).as("n_lsh_only"))
        .withColumn("lsh_recall", round(col("n_both").cast("double") /
          (col("n_both") + col("n_exact_only")).cast("double"), 6))
    },

    // Per-source length profile: p10/p50/p90 of document length — the
    // dashboard staple read next to the mean (a crawl that starts
    // truncating pages moves p90 long before it moves the average).
    // Exact interpolated percentiles on integer n_chars (IEEE-identical
    // across engines); |sources| rows out of one grouped aggregate.
    "t_length_percentiles" -> { (s, dir) =>
      t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          round(percentile(col("n_chars"), lit(0.1)), 6).as("p10"),
          round(percentile(col("n_chars"), lit(0.5)), 6).as("p50"),
          round(percentile(col("n_chars"), lit(0.9)), 6).as("p90"))
        .orderBy("source")
    },

    // Per-document token Shannon entropy — the distribution-aware
    // repetition/gibberish signal one tier above type-token ratio
    // (a doc looping three phrases keeps a plausible TTR but its
    // entropy collapses). H = −Σ p·ln p over the doc's token counts;
    // per-term contributions round to 6 and sum in exact decimal.
    "t_token_entropy" -> { (s, dir) =>
      val c = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("w"))
        // empty tokens from irregular whitespace are not vocabulary —
        // the zipfSlope / sourceDivergence token definition
        .filter(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val n = c.groupBy("doc_id").agg(sum("c").as("n"))
      val p = col("c").cast("double") / col("n").cast("double")
      c.join(n, Seq("doc_id"))
        .select(col("doc_id"), col("n"),
          round(-p * log(p), 6).cast("decimal(18,6)").as("h"))
        .groupBy("doc_id", "n")
        .agg(count(lit(1)).cast("int").as("n_distinct"),
          round(sum(col("h")).cast("double"), 6).as("entropy"))
        .select(col("doc_id"), col("n").cast("int").as("n_tokens"),
          col("n_distinct"), col("entropy"))
        .orderBy("doc_id")
    },

    // Tokenizer fertility per language: BPE-pre-split tokens per
    // whitespace word — the metric multilingual data teams watch (high
    // fertility = the tokenizer fragments that language, inflating its
    // effective cost per word). Runs over the PII-AUGMENTED text (the
    // established fixture-enrichment trick): the raw fixture is pure
    // lowercase words, where bpe == ws everywhere and the regex's
    // digit/punctuation branches would go unexercised — the appended
    // emails/phones/IPs make fertility > 1 on 4 of 5 docs, so the gate
    // actually tests the split. Ratio of exact integer sums.
    "t_fertility" -> { (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), piiAugmented.as("ptext"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("int").as("n_docs"),
          sum(size(TextAnalysis.tokens(col("ptext"))).cast("long"))
            .as("ws_tokens"),
          sum(TextAnalysis.bpeTokenCount(col("ptext")).cast("long"))
            .as("bpe_tokens"))
        .withColumn("fertility",
          round(col("bpe_tokens").cast("double") / col("ws_tokens"), 6))
        .orderBy("lang")
    },

    // Per-source Zipf-law slope: log-log rank/frequency OLS fit over
    // the source's vocabulary — natural text sits near −1; template
    // floods and synthetic word-soup bend it. Vocabulary-sized after
    // one (source, term) aggregation.
    "t_zipf_slope" -> { (s, dir) =>
      TextAnalysis.zipfSlope(t(s, dir, "documents"), "source", "text")
        .orderBy("source")
    },

    // Per-source distribution drift: Jensen–Shannon divergence of each
    // source's hashed-ngram bucket distribution against the corpus-wide
    // one — the monitor a pipeline alerts on when a crawl refresh
    // shifts a source's content mix. 256-bucket DSIR model shape; one
    // (source, bucket) aggregation, everything after is grid-sized.
    "t_source_divergence" -> { (s, dir) =>
      Sampling.sourceDivergence(t(s, dir, "documents"), "source", "text")
        .orderBy("source")
    },

    // Curriculum mixture schedule: three training phases, each with its
    // own per-source token budgets, each drawing an independent
    // deterministic subset via a phase-salted hash — the multi-phase
    // data recipe (warmup → core → anneal) as one map-only pass after
    // a single per-source totals aggregate.
    "t_mix_schedule" -> { (s, dir) =>
      Sampling.mixSchedule(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
        "doc_id", "source", col("n_tokens"), schedulePhases)
        .orderBy("phase", "doc_id")
    },

    // Phase-overlap audit over the same schedule: docs per
    // phase-multiplicity — the quantitative check that the salted
    // draws behave independently (overlap ≈ product of keep rates)
    // rather than nesting.
    "t_mix_overlap" -> { (s, dir) =>
      Sampling.mixSchedule(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(TextAnalysis.tokens(col("text"))).as("n_tokens")),
        "doc_id", "source", col("n_tokens"), schedulePhases)
        .groupBy("doc_id").agg(count(lit(1)).cast("int").as("n_phases"))
        .groupBy("n_phases").agg(count(lit(1)).as("n_docs"))
        .orderBy("n_phases")
    },

    // DSIR importance resampling (Xie et al. 2023): hashed-ngram
    // log-likelihood-ratio weights against the English subset as the
    // target distribution, then Gumbel-top-k — the standard trick that
    // turns "sample ∝ w" into a deterministic top-k: key = logw + g
    // where g = −ln(−ln(u)) and u is an exact hash-uniform from md5
    // chars 9–16 of the id ((h+0.5)/2³² — every step a pure IEEE
    // exponent shift, so both engines land on the identical double).
    "t_dsir_sample" -> { (s, dir) =>
      val w = Sampling.dsirWeights(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en")
      val u = (conv(substring(md5(col("doc_id").cast("string")
        .cast("binary")), 9, 8), 16, 10).cast("double") + lit(0.5)) /
        lit(4294967296.0)
      w.select(col("doc_id"), col("n_terms"), col("logw"),
          round(col("logw") + (-log(-log(u))), 6).as("g_key"))
        .orderBy(col("g_key").desc, col("doc_id")).limit(150)
        .orderBy("doc_id")
    },

    // Sequence packing: the corpus concatenated in a deterministic
    // shuffled order and cut every 256 tokens across 8 parallel packing
    // streams — the concat-and-chunk step that turns cleaned documents
    // into fixed-width pretraining sequences with zero padding waste.
    "t_pack_chunks" -> { (s, dir) =>
      graft.operators.Packing.packChunks(t(s, dir, "documents"), "doc_id",
        size(TextAnalysis.tokens(col("text"))), capacity = 256, groups = 8)
        .orderBy("doc_id")
    },

    // Packing-efficiency audit: per pack group, emitted sequences,
    // boundary-split docs and the achieved fill ratio — read next to
    // t_length_buckets' pad_waste to quantify what packing buys.
    "t_pack_efficiency" -> { (s, dir) =>
      graft.operators.Packing.packEfficiency(t(s, dir, "documents"),
        "doc_id", size(TextAnalysis.tokens(col("text"))), capacity = 256,
        groups = 8)
        .orderBy("pack_group")
    },

    // Per-document overlapping chunking — the retrieval-indexing cut
    // (64-token windows advancing by 48, so consecutive chunks share 16
    // tokens of context). Map-only, no shuffle; the chunk TEXT itself
    // is gated, so the slice arithmetic and tail handling are
    // hash-attested, not just counted.
    "t_rag_chunks" -> { (s, dir) =>
      graft.operators.Packing.ragChunks(t(s, dir, "documents"), "doc_id",
        "text", window = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")
    },

    // TF-IDF keyword extraction — corpus-relative term weighting, the
    // standard "what is this document about" signal for filtering /
    // routing training data.
    "t_tfidf_topterms" -> { (s, dir) =>
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        k = 3)
        .orderBy("doc_id", "rnk")
    },

    // Cross-batch streaming dedup under the oracle gate: the document
    // feed flows through flatMapGroupsWithState (state = one "seen" bit
    // per fingerprint, partitioned by key across executors — the 100 TB
    // shape) and emits each fingerprint's first-ever row. With the whole
    // fixture in one micro-batch the representative is the min-doc_id row
    // per fp, which is exactly SQL-expressible.
    "d_stream_first_seen" -> { (s, dir) => withShufflePartitions(s, 4) {
      val stream = docStream(s, dir)
        .select(TextAnalysis.prefixFingerprint(col("text"), 8).as("fp"),
          col("doc_id").as("seq"))
      drainToTable(s, "d_stream_first_seen_sink",
        graft.streaming.StreamingDedup.firstSeen(stream, "fp", "seq"))
        .select(col("fp"), col("seq").as("first_doc_id"))
        .orderBy("fp")
    }},

    // The streaming INTAKE pipeline: t_pipeline_clean's stages (quality
    // score → language filter → content-fingerprint dedup → stable
    // split) run as ONE Structured Streaming query — map-only scoring
    // in the stream, cross-batch first-seen dedup as keyed state, the
    // split assigned on emit. The gate shares t_pipeline_clean's batch
    // oracle verbatim: streaming must land on the identical kept set
    // (with one micro-batch the first-seen winner is the min-doc_id
    // row, exactly the batch canonical).
    "d_stream_intake" -> { (s, dir) => withShufflePartitions(s, 4) {
      val stream = docStream(s, dir)
        .filter(TextAnalysis.qualityScore(col("text"), enStop) >= 0.5 &&
          TextAnalysis.langId(col("text")) === "en")
        .select(TextAnalysis.fingerprint(col("text")).as("fp"),
          col("doc_id").as("seq"), col("source"))
      drainToTable(s, "d_stream_intake_sink",
        graft.streaming.StreamingDedup.firstSeen(stream, "fp", "seq"))
        .select(col("seq").as("doc_id"), col("source"),
          Sampling.hashSplit(col("seq"),
            Seq("val" -> "1a", "test" -> "33"), "train").as("split"))
        .orderBy("doc_id")
    }},

    // Streaming quality ROUTER — the multi-sink demux a production
    // intake runs: ONE scoring pass per micro-batch, then each route
    // appends to its own store (kept → training, low-quality and
    // wrong-language → quarantine for audit/reprocessing). foreachBatch
    // persists the scored batch so the per-route filtered writes share
    // one computation (the documented multi-sink pattern — without the
    // persist each sink would re-score the batch); the gate counts what
    // landed IN the sinks, so the demux itself is what's attested:
    // routes must partition the corpus (no drops, no double-sends).
    "t_stream_route" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      val routes = Seq("kept", "low_quality", "wrong_lang")
      val outDir = java.nio.file.Files
        .createTempDirectory("graft_route_").toString
      // the read-back below is lazy, so the route stores must outlive
      // this builder — reclaim them at JVM exit instead (the bench
      // re-invokes this 5+ times per round; unreclaimed dirs would
      // accumulate a routed corpus copy per invocation on tmpfs)
      cleanupAtExit(outDir)
      val scored = docStream(s, dir).select(
        col("doc_id"), col("source"),
        when(TextAnalysis.qualityScore(col("text"), enStop) < 0.5,
          lit("low_quality"))
          .when(TextAnalysis.langId(col("text")) =!= "en",
            lit("wrong_lang"))
          .otherwise(lit("kept")).as("route"))
      val sinkSchema = scored.schema
      val q = scored.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.persist()
          try routes.foreach { r =>
            batch.filter(col("route") === r)
              .write.mode("append").parquet(s"$outDir/$r")
          } finally batch.unpersist()
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      // explicit schema: an all-empty route still reads as zero rows
      routes.map(r => s.read.schema(sinkSchema).parquet(s"$outDir/$r"))
        .reduce(_ union _)
        .groupBy("route", "source").agg(count(lit(1)).as("n"))
        .orderBy("route", "source")
    }},

    // BM25 lexical retrieval ("more like this"): every doc_id % 101 == 0
    // document becomes a query; its bigram terms probe a (doc, term, tf)
    // postings table — the distributed inverted-index shape. The probe
    // side (query terms) broadcasts, only matching postings survive the
    // map-side join, and the one wide shuffle is the per-(query, doc)
    // score aggregation. Bigrams, not unigrams: the fixture vocabulary
    // is ~31 words with median df/N ≈ 0.8 (every term everywhere — no
    // idf signal and no index selectivity), while bigram df/N ≈ 0.06.
    // Per-term weights round to 6 decimals and sum in exact decimal so
    // the engines' summation order cannot matter (package convention).
    // k1 = 1.2, b = 0.75 (the textbook Robertson defaults), idf in the
    // ln(1 + (N−df+0.5)/(df+0.5)) always-positive form.
    "t_bm25_topk" -> { (s, dir) =>
      sharedBm25Ranked(s, dir).filter(col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    },

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // top-20 and the exact-cosine dense top-20 (rrf = Σ 1/(60+rank),
    // a candidate missing from one list contributes 0 from it) — the
    // standard two-tower search recipe; queries are the same
    // doc_id % 101 probe set on both towers, and doc ids with no
    // embedding degrade to lexical-only ranking.
    "t_hybrid_rrf" -> { (s, dir) =>
      graft.operators.Retrieval.rrfFuse(
        sharedBm25Ranked(s, dir), sharedDenseTopK(s, dir),
        kConst = 60, topK = 5)
        .select("query_id", "neighbor_id", "rrf", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Offline retrieval-quality eval: nDCG@10 of the BM25 ranking with
    // graded relevance from the exact dense top-10 (rel = 11 − dense
    // rank) — the metric a retrieval stack tracks when tuning its
    // lexical tier against the dense gold standard. Per-position gains
    // round to 6 decimals and sum in exact decimal (order-free); the
    // discounts and the ideal-DCG denominator are shared driver-side
    // literals. Queries whose BM25 list misses the dense top-10
    // entirely have no gain rows and are absent (nDCG 0).
    "t_ndcg_eval" -> { (s, dir) =>
      val dense = sharedDenseTopK(s, dir).filter(col("rnk") <= 10)
      val rel = dense.select(col("query_id"), col("neighbor_id"),
        (lit(11) - col("rnk")).cast("double").as("rel"))
      val dLit = typedlit[Seq[Double]](ndcgDiscounts)
      sharedBm25Ranked(s, dir).filter(col("rnk") <= 10)
        .join(rel, Seq("query_id", "neighbor_id"))
        .select(col("query_id"),
          round(col("rel") * element_at(dLit, col("rnk")), 6)
            .cast("decimal(18,6)").as("g"))
        .groupBy("query_id")
        .agg(count(lit(1)).cast("int").as("n_overlap"),
          round(sum(col("g")).cast("double") / lit(ndcgIdcg), 6).as("ndcg"))
        .orderBy("query_id")
    },

    // HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
    // cardinality estimator a 100 TB dedup planner runs BEFORE paying
    // for exact distinct: per source, registers are max(rho) over a
    // 512-bucket split of a 60-bit md5 hash. The whole shuffle is the
    // partially-aggregated (source, bucket, max rho) register table —
    // ≤ |sources|·512 rows no matter the corpus size. Built from
    // first principles on md5 so the SQL oracle replays it exactly
    // (Spark's own approx_count_distinct HLL++ is engine-private):
    // register sums stay in scaled integers (Σ 2^(52−M) — exact,
    // order-free), the α·m²·2⁵² numerator is ONE shared double literal,
    // and the ≤2.5m linear-counting correction uses the same ln on both
    // engines. `n_exact` (distinct md5s, exact) rides along so the
    // estimate's error is visible under the gate; at 100 TB you'd drop
    // that column — it is the cost the sketch avoids.
    "t_hll_distinct" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val sk = graft.operators.Sketches.hllDistinct(
        docs, Seq("source"), col("text"), p = hllP)
      val exact = docs.groupBy("source")
        .agg(countDistinct(col("text")).as("n_exact"))
      exact.join(sk, Seq("source"))
        .select(col("source"), col("n_exact"), col("hll_est"))
        .orderBy("source")
    },

    // The same HLL registers maintained as STREAMING state: documents
    // replayed through readStream, the (source, bucket) max-rho
    // aggregate runs in complete mode (state ≤ |sources|·512 rows — the
    // sketch is exactly what makes a streaming distinct-count tractable),
    // and the estimate finalizes off the sink. The batch oracle passing
    // IS the stream/batch-invariance claim.
    "t_hll_stream" -> { (s, dir) => withShufflePartitions(s, 4) {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Sketches
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val regs = Sketches.hllRegisters(stream, Seq("source"), col("text"),
        hllP)
      val sink = "t_hll_stream_sink"
      val q = regs.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      Sketches.hllEstimate(s.table(sink), Seq("source"), hllP)
        .orderBy("source")
    }},

    // Count-min sketch frequency estimation (Cormode & Muthukrishnan
    // 2005) — the heavy-hitter counter a 100 TB vocabulary pass keeps
    // in 4·1024 integers instead of a |vocab|-sized aggregate. All
    // integer sums over md5-derived buckets: deterministic on any
    // partitioning, mergeable by addition, and SQL-replayable, so the
    // sketch sits under the same hash gate as the exact operators. The
    // probe set is the exact top-25 vocabulary (the t_vocab_topk
    // contract) with exact counts alongside — the CMS guarantee
    // (est ≥ exact, over by ≤ εN) is visible row by row under the gate.
    "t_cms_freq" -> { (s, dir) =>
      import graft.operators.Sketches
      val toks = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
      val counters = Sketches.cmsCounters(toks, col("term"))
      val probe = toks.groupBy("term").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(25)
      Sketches.cmsEstimate(counters, probe, col("term"))
        .orderBy("term")
    },

    // Bloom-filter decontamination — the sketch-accelerated variant of
    // t_decontam_ngram for when even the eval shingle set is too big to
    // broadcast raw: the filter is ≤ k·bits (hash row, bucket) pairs
    // REGARDLESS of eval size. No false negatives by construction (the
    // n_bloom_hits ≥ n_exact_hits invariant is visible row by row under
    // the gate); false positives ≈ (1−e^(−kn/bits))^k ≈ 0.4% here.
    "d_bloom_decontam" -> { (s, dir) =>
      import graft.operators.{Dedup, Sketches}
      val sh = graft.operators.Partitioning.spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ev = sh.filter(col("doc_id") % 13 === 0).select("s").distinct()
      val probe = sh.filter(col("doc_id") % 13 =!= 0)
      val bloom = Sketches.bloomSet(ev, col("s"))
      Sketches.bloomMightContain(bloom, probe, col("s"))
        .join(broadcast(ev.withColumn("_ex", lit(1))), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("might_contain"), 1).otherwise(0)).cast("long")
            .as("n_bloom_hits"),
          sum(coalesce(col("_ex"), lit(0))).cast("long").as("n_exact_hits"))
        .filter(col("n_bloom_hits") > 0)
        .orderBy("doc_id")
    },

    // BPE merge learning — the tokenizer-training pass. The corpus-
    // scale work is ONE word-count shuffle capped to the top-maxVocab
    // words (TakeOrderedAndProject); the merge loop runs driver-side
    // over that bounded table (the standard BPE trainer shape), all in
    // integer counts and string equality, and the oracle UNROLLS the
    // identical loop as 8 SQL stages — the learning itself is under
    // the hash gate, not a frozen replay of it.
    "t_bpe_merges" -> { (s, dir) =>
      val merges = graft.operators.Bpe.fitOn(
        t(s, dir, "documents"), "text", k = 8)
      graft.operators.Bpe.mergesDf(s, merges).orderBy("rnk")
    },

    // Tokenize-side of the BPE pass: the learned merges applied back to
    // the corpus — per-doc whitespace words vs BPE units. The model is
    // the vocab-bounded (word, n_units) table, broadcast into the token
    // stream: the tokenizer a packing/budget pass would actually run.
    "t_bpe_tokenize" -> { (s, dir) =>
      import graft.operators.Bpe
      val docs = t(s, dir, "documents")
      val wc = Bpe.wordCounts(docs, "text")
      val segs = Bpe.segmentCounts(wc, Bpe.fit(wc, k = 8))
      import s.implicits._
      val segDf = segs.toDF("word", "n_units")
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(segDf), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_units").cast("long").as("n_bpe_tokens"))
        .orderBy("doc_id")
    }
  )

  /** Shared oracle CTE chain: shingles → minhash → bands → candidate
    * pairs → exact-Jaccard `verified` pairs (threshold 0.5) — the DuckDB
    * twin of `Dedup.minhashNearDups` with d_minhash_lsh's parameters,
    * reused by the pair query and the cluster closure. */
  private lazy val minhashPairsCte =
    s"""$shinglesCte,
       |mh AS (SELECT doc_id,
       |    min(substr(md5('0|' || s), 1, 8)) AS h0,
       |    min(substr(md5('0|' || s), 9, 8)) AS h1,
       |    min(substr(md5('0|' || s), 17, 8)) AS h2,
       |    min(substr(md5('0|' || s), 25, 8)) AS h3,
       |    min(substr(md5('1|' || s), 1, 8)) AS h4,
       |    min(substr(md5('1|' || s), 9, 8)) AS h5
       |  FROM sh GROUP BY doc_id),
       |banded AS (SELECT doc_id, h0 || '|' || h1 AS b0,
       |    h2 || '|' || h3 AS b1, h4 || '|' || h5 AS b2 FROM mh),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b
       |    ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2)
       |   AND a.doc_id < b.doc_id),
       |shl AS (SELECT doc_id, list(s) AS sl FROM sh GROUP BY doc_id),
       |verified AS (SELECT id_a, id_b,
       |  round(CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
       |        len(list_distinct(list_concat(x.sl, y.sl))), 6) AS jaccard
       |FROM cand JOIN shl x ON id_a = x.doc_id JOIN shl y ON id_b = y.doc_id
       |WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
       |      len(list_distinct(list_concat(x.sl, y.sl))) >= 0.5)""".stripMargin

  /** Shared oracle CTE: word-3-gram distinct shingles per doc. */
  private val shinglesCte =
    """tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2],' ') AS s
      |       FROM tok, LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)
      |       WHERE len(t) >= 3)""".stripMargin

  /** DuckDB twin of the frozen quality classifier: the SAME feature
    * expressions the proven-green t_quality_langid oracle uses (every
    * feature an exact integer-derived double — the /64 and /4 bands are
    * power-of-two divisions, so exact on any numeric path), folded
    * left-to-right through the fitted weight literals exactly as
    * [[graft.operators.QualityClassifier.logit]] builds the Column.
    * `pred` compares the UNROUNDED logit on both engines. */
  /** Shared CTE chain (`base`, `f`) of the frozen-classifier oracles:
    * documents → the four exact feature doubles, plus `source`. */
  private def lrFeatureCte: String = {
    val enList = enStop.map(w => s"'$w'").mkString("[", ",", "]")
    s"""base AS (SELECT doc_id, source, str_split(text,' ') AS tk,
       |    list_distinct(str_split(text,' ')) AS dt, length(text) AS lc
       |  FROM documents),
       |f AS (SELECT doc_id, source,
       |    CAST(LEAST(len(tk)/64.0, 1.0) AS DOUBLE) AS x0,
       |    CAST(len(dt) AS DOUBLE)/len(tk) AS x1,
       |    CAST(LEAST(len(list_intersect(dt, $enList))/4.0, 1.0)
       |      AS DOUBLE) AS x2,
       |    CAST(lc - len(tk) + 1 AS DOUBLE)/len(tk) AS x3
       |  FROM base)""".stripMargin
  }

  /** The frozen logit over the `f` CTE's columns — the identical IEEE
    * fold [[graft.operators.QualityClassifier.logit]] builds. */
  private def lrLogitExpr(m: QualityClassifier.Model): String = {
    def f(x: Double) = java.lang.Double.toString(x)
    s"(${f(m.bias)} + x0 * (${f(m.weights(0))})" +
      s" + x1 * (${f(m.weights(1))}) + x2 * (${f(m.weights(2))})" +
      s" + x3 * (${f(m.weights(3))}))"
  }

  private def lrSql(m: QualityClassifier.Model): String = {
    val lg = lrLogitExpr(m)
    s"""WITH $lrFeatureCte
       |SELECT doc_id,
       |  CAST(CASE WHEN round((x0 + x1 + x2) / 3.0, 6) >= 0.5
       |    THEN 1 ELSE 0 END AS INT) AS label,
       |  round($lg, 6) AS logit,
       |  ($lg > 0.0) AS pred
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Top-60% survivor mix by frozen classifier score: 6-decimal scores
    * into an exact interpolated 40th-percentile cut (filter on the
    * UNROUNDED cut, round only for output — the t_quality_calibrate
    * convention). */
  private def lrFilterSql(m: QualityClassifier.Model): String =
    s"""WITH $lrFeatureCte,
       |sc AS (SELECT doc_id, source,
       |    round(${lrLogitExpr(m)}, 6) AS score FROM f),
       |cut AS (SELECT quantile_cont(score, 0.4) AS c FROM sc)
       |SELECT source, count(*) AS n_kept,
       |  round((SELECT c FROM cut), 6) AS cut
       |FROM sc WHERE score >= (SELECT c FROM cut)
       |GROUP BY source ORDER BY source""".stripMargin

  /** The feature-hash dimension — ONE constant shared by the Spark
    * queries, the static oracle, and the frozen-weight classifier
    * oracle, so the hash scheme cannot silently desynchronize. */
  private val hashDim = 8

  /** Shared CTE chain ending in `hf(doc_id, f0..f{hashDim-1})` — the
    * DuckDB twin of [[graft.operators.TextAnalysis.featureHash]], used
    * by the feature-hash gate AND the hashed-classifier oracle. */
  private def hashFeatureCte: String = {
    val fc = (0 until hashDim).map(j =>
      s"CAST(SUM(CASE WHEN b = $j THEN sgn ELSE 0 END) AS INT) AS f$j")
      .mkString(",\n    ")
    s"""tokfh AS (SELECT doc_id, unnest(str_split(text,' ')) AS w
       |  FROM documents),
       |hb AS (SELECT doc_id,
       |    CAST(('0x' || substr(md5('b|' || w), 1, 8))::UBIGINT % $hashDim
       |      AS INT) AS b,
       |    CASE WHEN substr(md5('s|' || w), 1, 1) < '8' THEN 1
       |         ELSE -1 END AS sgn
       |  FROM tokfh),
       |hf AS (SELECT doc_id,
       |    $fc
       |  FROM hb GROUP BY doc_id)""".stripMargin
  }

  /** Frozen hashed-feature classifier oracle: the exact integer
    * feature-hash vectors joined to the heuristic teacher label, scored
    * through the fitted weight literals in the same fold order. */
  private def lrHashSql(m: QualityClassifier.Model): String = {
    def fmt(x: Double) = java.lang.Double.toString(x)
    val lg = m.weights.zipWithIndex.foldLeft(s"(${fmt(m.bias)}") {
      case (acc, (w, j)) => s"$acc + CAST(f$j AS DOUBLE) * (${fmt(w)})"
    } + ")"
    s"""WITH $lrFeatureCte,
       |lab AS (SELECT doc_id,
       |    CAST(CASE WHEN round((x0 + x1 + x2) / 3.0, 6) >= 0.5
       |      THEN 1 ELSE 0 END AS INT) AS label FROM f),
       |$hashFeatureCte
       |SELECT doc_id, label,
       |  round($lg, 6) AS logit,
       |  ($lg > 0.0) AS pred
       |FROM hf JOIN lab USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  def oracles: Map[String, String] =
    staticOracles ++
      Option(lrModels.get("lrh"))
        .map(m => "t_hash_classifier" -> lrHashSql(m)) ++
      Option(lrModels.get("lr"))
        .map(m => "t_quality_classifier" -> lrSql(m)) ++
      Option(lrModels.get("lr"))
        .map(m => "t_classifier_filter" -> lrFilterSql(m))

  private val staticOracles: Map[String, String] = Map(
    // Mirrors Sampling.dsirWeights + the Gumbel-top-k term for term:
    // integer bucket counts over the full 2-hex domain, 6-decimal llr,
    // 6-decimal per-doc sum (the summands' own granularity — coarser
    // grids land on HALF_UP midpoints), exact hash-uniform, ln in
    // both engines (the t_tfidf_topterms contract).
    "t_dsir_sample" ->
      """WITH tok0 AS (SELECT doc_id, lang, str_split(text,' ') AS t
        |  FROM documents),
        |uni AS (SELECT doc_id, lang, unnest(t) AS term FROM tok0),
        |bi AS (SELECT doc_id, lang, array_to_string(t[i:i+1],' ') AS term
        |  FROM tok0, LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |  WHERE len(t) >= 2),
        |tok AS (SELECT doc_id, (lang = 'en') AS is_t,
        |    substr(md5(term), 1, 2) AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |  WHERE term <> ''),
        |counts AS (SELECT b, COUNT(*) AS cr,
        |    SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
        |  FROM tok GROUP BY 1),
        |dom AS (SELECT printf('%02x', i) AS b
        |  FROM (SELECT unnest(range(256)) AS i)),
        |cnt AS (SELECT dom.b, coalesce(cr, 0) AS cr, coalesce(ct, 0) AS ct
        |  FROM dom LEFT JOIN counts USING (b)),
        |tot AS (SELECT SUM(cr) AS r_tot, SUM(ct) AS t_tot FROM cnt),
        |llr AS (SELECT b,
        |    round(ln((ct + 1.0) / (t_tot + 256.0))
        |        - ln((cr + 1.0) / (r_tot + 256.0)), 6) AS llr
        |  FROM cnt CROSS JOIN tot),
        |docw AS (SELECT doc_id, COUNT(*) AS n_terms,
        |    round(SUM(llr), 6) AS logw
        |  FROM tok JOIN llr USING (b) GROUP BY 1),
        |scored AS (SELECT doc_id, n_terms, logw,
        |    round(logw + (-ln(-ln(
        |      (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::UBIGINT
        |        + 0.5) / 4294967296.0))), 6) AS g_key
        |  FROM docw),
        |sel AS (SELECT * FROM scored ORDER BY g_key DESC, doc_id LIMIT 150)
        |SELECT doc_id, n_terms, logw, g_key FROM sel
        |ORDER BY doc_id""".stripMargin,

    // d_ngram_jaccard's candidate CTEs with the exact Jaccard banded
    // instead of filtered; the floor compares the 6-decimal score like
    // the Spark side, and the band chain is the same integer math.
    "t_dedup_sweep" ->
      s"""WITH $shinglesCte,
         |rare AS (SELECT s FROM sh GROUP BY s
         |         HAVING COUNT(*) <= 20 AND COUNT(*) > 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM (SELECT doc_id, s FROM sh JOIN rare USING (s)) a
         |  JOIN (SELECT doc_id, s FROM sh JOIN rare USING (s)) b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |shl AS (SELECT doc_id, list(s) AS sl FROM sh GROUP BY doc_id),
         |j AS (SELECT round(CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE)
         |      / len(list_distinct(list_concat(x.sl, y.sl))), 6) AS jacc
         |  FROM cand JOIN shl x ON id_a = x.doc_id
         |    JOIN shl y ON id_b = y.doc_id)
         |SELECT CAST(floor(round(jacc * 1000000) / 100000) AS INT) AS band,
         |  COUNT(*) AS n_pairs
         |FROM j WHERE jacc >= 0.3
         |GROUP BY 1 ORDER BY band""".stripMargin,

    // The shared ql CTE supplies the identical 6-decimal quality score;
    // median and MAD are exact interpolated quantiles on both engines.
    "t_quality_mad" ->
      s"""WITH $qualityLangCte,
         |med AS (SELECT source, quantile_cont(quality, 0.5) AS med
         |  FROM ql GROUP BY 1),
         |ad AS (SELECT ql.source, med, abs(quality - med) AS ad
         |  FROM ql JOIN med USING (source))
         |SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
         |  round(med, 6) AS med_quality,
         |  round(quantile_cont(ad, 0.5), 6) AS mad_quality
         |FROM ad GROUP BY source, med ORDER BY source""".stripMargin,

    // The shared ql CTE supplies lang_pred; ground truth joins back.
    "t_langid_confusion" ->
      s"""WITH $qualityLangCte
         |SELECT d.lang, ql.lang_pred, COUNT(*) AS n
         |FROM ql JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, lang_pred""".stripMargin,

    // The minhash chain's sh/shl/verified are reused; the exhaustive
    // rare-shingle pair chain gets fresh names, then one full join.
    "d_lsh_recall" ->
      s"""WITH $minhashPairsCte,
         |rare AS (SELECT s FROM sh GROUP BY s
         |         HAVING COUNT(*) <= 20 AND COUNT(*) > 1),
         |ecand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM (SELECT doc_id, s FROM sh JOIN rare USING (s)) a
         |  JOIN (SELECT doc_id, s FROM sh JOIN rare USING (s)) b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |epairs AS (SELECT id_a, id_b, 1 AS em FROM ecand
         |  JOIN shl x ON id_a = x.doc_id JOIN shl y ON id_b = y.doc_id
         |  WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
         |        len(list_distinct(list_concat(x.sl, y.sl))) >= 0.5),
         |lpairs AS (SELECT id_a, id_b, 1 AS lm FROM verified),
         |f AS (SELECT em, lm
         |  FROM epairs FULL JOIN lpairs USING (id_a, id_b))
         |SELECT
         |  CAST(SUM(CASE WHEN em IS NOT NULL AND lm IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN em IS NOT NULL AND lm IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_only,
         |  CAST(SUM(CASE WHEN em IS NULL AND lm IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh_only,
         |  round(CAST(SUM(CASE WHEN em IS NOT NULL AND lm IS NOT NULL
         |      THEN 1 ELSE 0 END) AS DOUBLE)
         |    / (SUM(CASE WHEN em IS NOT NULL AND lm IS NOT NULL
         |        THEN 1 ELSE 0 END)
         |      + SUM(CASE WHEN em IS NOT NULL AND lm IS NULL
         |        THEN 1 ELSE 0 END)), 6) AS lsh_recall
         |FROM f""".stripMargin,

    "t_length_percentiles" ->
      """SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
        |  round(quantile_cont(n_chars, 0.1), 6) AS p10,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors the Spark float chain: p = c/n in doubles, −p·ln p
    // rounded to 6, decimal sum, final round.
    "t_token_entropy" ->
      """WITH tc AS (SELECT doc_id, unnest(str_split(text,' ')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM tc
        |  WHERE w <> '' GROUP BY 1, 2),
        |n AS (SELECT doc_id, SUM(c) AS n FROM c GROUP BY 1),
        |h AS (SELECT c.doc_id, n.n,
        |    CAST(round(-(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |      * ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS h
        |  FROM c JOIN n USING (doc_id))
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(COUNT(*) AS INT) AS n_distinct,
        |  round(CAST(SUM(h) AS DOUBLE), 6) AS entropy
        |FROM h GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,

    // Integer sums on both engines over the PII-augmented text; the bpe
    // count reuses t_token_stats' regex (Java regex and RE2 agree).
    "t_fertility" ->
      s"""WITH p AS (SELECT lang, $piiAugmentedSql AS ptext FROM documents)
         |SELECT lang, CAST(COUNT(*) AS INT) AS n_docs,
         |  CAST(SUM(len(str_split(ptext,' '))) AS BIGINT) AS ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(ptext,
         |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
         |  round(CAST(SUM(len(regexp_extract_all(ptext,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE)
         |    / SUM(len(str_split(ptext,' '))), 6) AS fertility
         |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    // Rank ties break by term (total order both engines); moment sums
    // carry 6-decimal products in exact decimal, slope is one fixed
    // double chain — the quality_corr convention with ln transforms.
    "t_zipf_slope" ->
      """WITH tc AS (SELECT source, unnest(str_split(text,' ')) AS term
        |  FROM documents),
        |cnt AS (SELECT source, term, COUNT(*) AS c FROM tc
        |  WHERE term <> '' GROUP BY 1, 2),
        |xy AS (SELECT source,
        |    round(ln(CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY c DESC, term) AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(c AS DOUBLE)), 6) AS y
        |  FROM cnt),
        |agg AS (SELECT source, COUNT(*) AS n,
        |    SUM(CAST(x AS DECIMAL(18,6))) AS sx,
        |    SUM(CAST(y AS DECIMAL(18,6))) AS sy,
        |    SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS sxy,
        |    SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS sx2
        |  FROM xy GROUP BY 1)
        |SELECT source, CAST(n AS INT) AS n_vocab,
        |  CASE WHEN n >= 2 AND
        |      (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0.0
        |    THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        |    ELSE NULL END AS zipf_slope
        |FROM agg ORDER BY source""".stripMargin,

    // Same occurrence CTEs as t_dsir_sample's, counted per (source,
    // bucket); the JSD expression mirrors the Spark float chain term
    // for term (p·ln(p/m) + q·ln(q/m), then halve, round, decimal sum).
    "t_source_divergence" ->
      """WITH tok0 AS (SELECT source, str_split(text,' ') AS t
        |  FROM documents),
        |uni AS (SELECT source, unnest(t) AS term FROM tok0),
        |bi AS (SELECT source, array_to_string(t[i:i+1],' ') AS term
        |  FROM tok0, LATERAL (SELECT unnest(range(1, len(t))) AS i)
        |  WHERE len(t) >= 2),
        |occ AS (SELECT source, substr(md5(term), 1, 2) AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |  WHERE term <> ''),
        |cnt AS (SELECT source, b, COUNT(*) AS c FROM occ GROUP BY 1, 2),
        |srcs AS (SELECT DISTINCT source FROM cnt),
        |dom AS (SELECT printf('%02x', i) AS b
        |  FROM (SELECT unnest(range(256)) AS i)),
        |filled AS (SELECT srcs.source, dom.b, coalesce(cnt.c, 0) AS c
        |  FROM srcs CROSS JOIN dom
        |  LEFT JOIN cnt ON cnt.source = srcs.source AND cnt.b = dom.b),
        |st AS (SELECT source, SUM(c) AS n_s FROM filled GROUP BY 1),
        |bt AS (SELECT b, SUM(c) AS cc FROM filled GROUP BY 1),
        |ct AS (SELECT SUM(cc) AS n_c FROM bt),
        |pq AS (SELECT f.source, f.c,
        |    (f.c + 1.0) / (st.n_s + 256.0) AS p,
        |    (bt.cc + 1.0) / ((SELECT n_c FROM ct) + 256.0) AS q
        |  FROM filled f JOIN st USING (source) JOIN bt USING (b)),
        |j AS (SELECT source, c,
        |    CAST(round((p * ln(p / ((p + q) / 2.0))
        |      + q * ln(q / ((p + q) / 2.0))) / 2.0, 6)
        |      AS DECIMAL(18,6)) AS j
        |  FROM pq)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_terms,
        |  round(CAST(SUM(j) AS DOUBLE), 6) AS jsd
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "t_weighted_sample" -> {
      val cases = mixWeights.map { case (src, w) =>
        s"WHEN '$src' THEN '${graft.operators.Sampling.weightHex(w)}'"
      }.mkString("\n    ")
      s"""SELECT doc_id, source FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
         |  CASE source
         |    $cases
         |    ELSE '00000000' END
         |ORDER BY doc_id""".stripMargin
    },

    "t_vocab_topk" ->
      """SELECT term, COUNT(*) AS freq, CAST(row_number() OVER (
        |    ORDER BY COUNT(*) DESC, term) AS INT) AS rnk
        |FROM (SELECT unnest(str_split(text,' ')) AS term FROM documents)
        |GROUP BY term QUALIFY rnk <= 25 ORDER BY rnk""".stripMargin,

    "t_pii_stats" ->
      s"""WITH a AS (SELECT doc_id, $piiAugmentedSql AS aug FROM documents),
         |c AS (SELECT doc_id,
         |    len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiEmailPattern}')) AS n_email,
         |    len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiPhonePattern}')) AS n_phone,
         |    len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiIpPattern}')) AS n_ip
         |  FROM a)
         |SELECT doc_id, CAST(n_email AS INT) AS n_email,
         |  CAST(n_phone AS INT) AS n_phone, CAST(n_ip AS INT) AS n_ip,
         |  (n_email + n_phone + n_ip > 0) AS has_pii
         |FROM c ORDER BY doc_id""".stripMargin,

    "t_pii_redact" ->
      s"""WITH a AS (SELECT doc_id, $piiAugmentedSql AS aug FROM documents),
         |r AS (SELECT doc_id, aug,
         |    regexp_replace(regexp_replace(regexp_replace(aug,
         |      '${TextAnalysis.piiEmailPattern}', '[EMAIL]', 'g'),
         |      '${TextAnalysis.piiIpPattern}', '[IP]', 'g'),
         |      '${TextAnalysis.piiPhonePattern}', '[PHONE]', 'g') AS red
         |  FROM a)
         |SELECT doc_id, md5(red) AS red_fp,
         |  CAST(len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiEmailPattern}'))
         |    + len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiPhonePattern}'))
         |    + len(regexp_extract_all(aug,
         |      '${TextAnalysis.piiIpPattern}')) AS INT) AS n_pii_spans,
         |  CAST(strlen(aug) - strlen(red) AS INT) AS chars_delta
         |FROM r ORDER BY doc_id""".stripMargin,

    "t_gopher_rules" -> {
      val stopList = enStop.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id, text, str_split(text, ' ') AS t
         |  FROM documents),
         |b AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM tok,
         |  LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |d AS (SELECT doc_id,
         |    1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS dup2
         |  FROM b GROUP BY 1),
         |m AS (SELECT doc_id, len(t) AS n_words,
         |    CAST(strlen(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mwl,
         |    len(list_filter(list_distinct(t),
         |      x -> list_contains($stopList, x))) AS n_stop
         |  FROM tok)
         |SELECT m.doc_id, CAST(n_words AS INT) AS n_words,
         |  round(mwl, 6) AS mean_word_len,
         |  CAST(n_stop AS INT) AS n_stopwords,
         |  round(coalesce(dup2, 0.0), 6) AS dup_2gram_frac,
         |  (n_words >= 20 AND n_words <= 100000) AS r_wordcount,
         |  (mwl >= 3.0 AND mwl <= 10.0) AS r_meanwordlen,
         |  (n_stop >= 2) AS r_stopwords,
         |  (coalesce(dup2, 0.0) <= 0.5) AS r_dup2gram,
         |  (n_words >= 20 AND n_words <= 100000
         |    AND mwl >= 3.0 AND mwl <= 10.0 AND n_stop >= 2
         |    AND coalesce(dup2, 0.0) <= 0.5) AS pass
         |FROM m LEFT JOIN d USING (doc_id) ORDER BY doc_id""".stripMargin
    },

    "t_filter_funnel" -> {
      val stopList = enStop.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tok AS (SELECT doc_id, coalesce(text, '') AS text,
         |    str_split(coalesce(text, ''), ' ') AS t FROM documents),
         |b AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM tok,
         |  LATERAL (SELECT unnest(range(1, len(t))) AS i)),
         |d AS (SELECT doc_id,
         |    1.0 - CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS dup2
         |  FROM b GROUP BY 1),
         |m AS (SELECT doc_id, len(t) AS n_words,
         |    CAST(strlen(replace(text, ' ', '')) AS DOUBLE) / len(t) AS mwl,
         |    len(list_filter(list_distinct(t),
         |      x -> list_contains($stopList, x))) AS n_stop
         |  FROM tok),
         |lab AS (SELECT m.doc_id, n_words,
         |    CASE WHEN NOT (n_words >= 15) THEN 'min_words'
         |         WHEN NOT (n_words <= 5000) THEN 'max_words'
         |         WHEN NOT (mwl >= 4.0 AND mwl <= 10.0) THEN 'mean_word_len'
         |         WHEN NOT (n_stop >= 2) THEN 'stopword_floor'
         |         WHEN NOT (coalesce(dup2, 0.0) <= 0.08) THEN 'dup_2gram'
         |         ELSE 'kept' END AS stage
         |  FROM m LEFT JOIN d USING (doc_id)),
         |agg AS (SELECT stage, COUNT(*) AS n, SUM(n_words) AS w
         |  FROM lab GROUP BY 1),
         |tot AS (SELECT SUM(n) AS total FROM agg),
         |ord(stage_idx, stage) AS (VALUES (0, 'min_words'),
         |  (1, 'max_words'), (2, 'mean_word_len'), (3, 'stopword_floor'),
         |  (4, 'dup_2gram')),
         |f AS (SELECT stage_idx, o.stage, coalesce(n, 0) AS n,
         |    coalesce(w, 0) AS w FROM ord o LEFT JOIN agg a
         |    ON o.stage = a.stage),
         |r AS (SELECT stage_idx, stage, n, w, total,
         |    total - coalesce(SUM(n) OVER (ORDER BY stage_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_in
         |  FROM f CROSS JOIN tot)
         |SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
         |  CAST(n_in AS BIGINT) AS n_in, CAST(n AS BIGINT) AS n_dropped,
         |  CAST(n_in - n AS BIGINT) AS n_out,
         |  round(CASE WHEN n_in = 0 THEN 0.0
         |    ELSE CAST(n AS DOUBLE) / n_in END, 6) AS drop_frac,
         |  CAST(w AS BIGINT) AS weight_dropped,
         |  round(CAST(n_in - n AS DOUBLE) / total, 6) AS cum_survival
         |FROM r ORDER BY stage_idx""".stripMargin
    },

    "t_mix_interleave" -> {
      val cases = interleaveWeights.filter(_._2 > 0).map { case (src, w) =>
        s"WHEN '$src' THEN $w"
      }.mkString("\n    ")
      s"""WITH k AS (SELECT doc_id, source,
         |    CASE source
         |    $cases
         |    ELSE 0.0 END AS w,
         |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::UBIGINT
         |      + 0.5) / 4294967296.0 AS u
         |  FROM documents),
         |o AS (SELECT doc_id, source, round(-ln(u) / w, 6) AS ord_key
         |  FROM k WHERE w > 0),
         |sel AS (SELECT doc_id, source, ord_key,
         |    CAST(row_number() OVER (ORDER BY ord_key, doc_id) AS INT) AS pos
         |  FROM o ORDER BY ord_key, doc_id LIMIT 200)
         |SELECT doc_id, source, ord_key, pos FROM sel
         |ORDER BY doc_id""".stripMargin
    },

    "t_repetition_stats" ->
      """WITH tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
        |g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS g FROM tok,
        |  LATERAL (SELECT unnest(range(1, len(t))) AS i)),
        |c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_2grams,
        |  ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS dup_2gram_frac,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
        |    AS top_2gram_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_charlm_fluency" ->
      """WITH tri AS (SELECT doc_id, substr(text, i, 3) AS g
        |  FROM documents,
        |  LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)),
        |model AS (SELECT g, COUNT(*) AS dfc FROM tri GROUP BY 1)
        |SELECT doc_id, COUNT(*) AS n_trigrams,
        |  ROUND(CAST(SUM(dfc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 4)
        |    AS avg_tri_df
        |FROM tri JOIN model USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(str_split(text,' ')) AS INT) AS n_tokens,
        |  CAST(len(list_distinct(str_split(text,' '))) AS INT) AS n_distinct,
        |  CAST(GREATEST(len(str_split(text,' ')), CEIL(length(text)/4)) AS INT) AS tok_est,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT)
        |    AS bpe_tokens,
        |  round(CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
        |        / len(str_split(text,' ')), 6) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Builds the expected CANONICAL url per pair directly from the
    // seed arithmetic (the clean pieces, never the mess): lowercase
    // scheme+host, default port dropped / :8080 kept, dot segments
    // gone, %2d→'-' decoded, %3F escape kept uppercase, params sorted,
    // fragment dropped. n=2 per pair = both mess variants collapsed.
    "t_url_canon" ->
      """WITH p AS (SELECT doc_id AS s FROM documents WHERE doc_id % 2 = 0)
        |SELECT s AS pair,
        |  (CASE WHEN s % 4 < 2 THEN 'http' ELSE 'https' END) ||
        |  '://www.site' || (s % 40) || '.example.com' ||
        |  (CASE WHEN s % 3 = 1 THEN ':8080' ELSE '' END) ||
        |  '/a' || (s % 5) || '/b' || (s % 7) || '/d-e%3F' ||
        |  (CASE WHEN s % 5 = 0 THEN '' ELSE
        |    '?a=' || (s % 3) || '&m=k' || (s % 4) || '&z=' || (s % 10)
        |  END) AS url,
        |  CAST(2 AS BIGINT) AS n,
        |  'www.site' || (s % 40) || '.example.com' AS host
        |FROM p ORDER BY pair""".stripMargin,

    // Re-derives the WARC response framing from the text itself: the
    // HTTP head is 63 fixed bytes + the Content-Length digits, the
    // body is the document verbatim (md5-pinned through the chain).
    "t_warc_ingest" ->
      """SELECT doc_id,
        |  CAST(3 AS INT) AS n_members, CAST(3 AS INT) AS n_records,
        |  'https://www.site' || (doc_id % 40) || '.example.com/doc/'
        |    || doc_id AS uri,
        |  CAST(200 AS INT) AS status,
        |  CAST(63 + length(CAST(strlen(text) AS VARCHAR))
        |    + strlen(text) AS BIGINT) AS response_block,
        |  CAST(strlen(text) AS BIGINT) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the extracted entries re-derived: meta.json text by concat, the
    // document by md5/strlen, the pad entry's length arithmetic
    "t_zip_ingest" ->
      """SELECT doc_id,
        |  CAST(3 AS INT) AS n_entries,
        |  '{"id":' || doc_id || '}' AS meta_text,
        |  CAST(strlen(text) AS BIGINT) AS text_len,
        |  md5(text) AS text_md5,
        |  CAST(10 + doc_id % 30 AS BIGINT) AS pad_len,
        |  doc_id % 3 = 0 AS has_comment
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the six decisions re-derived: only p_other_dir depends on data
    // (the probe digit differs from the rule digit unless id%5=0);
    // the constants pin group selection, anchors, and wildcards
    "t_robots_rules" ->
      """SELECT doc_id,
        |  FALSE AS p_own_dis,
        |  doc_id % 5 <> 0 AS p_other_dir,
        |  TRUE AS p_anchor_allow,
        |  TRUE AS p_group_excl,
        |  FALSE AS p_star_wild,
        |  TRUE AS p_star_root
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_quality_langid" ->
      s"""WITH $qualityLangCte
         |SELECT doc_id, quality, lang_pred
         |FROM ql ORDER BY doc_id""".stripMargin,

    "t_pipeline_clean" -> pipelineCleanSql,

    // The streaming intake runs the SAME pipeline as a Structured
    // Streaming query (score → filter → first-seen dedup → split), so
    // the batch oracle IS the streaming-equals-batch invariance claim.
    "d_stream_intake" -> pipelineCleanSql,

    // Batch twin of the streaming router's classification; counting
    // per (route, source) over ql attests the demux partitioned the
    // corpus exactly (no drops, no double-sends across sinks).
    "t_stream_route" ->
      s"""WITH $qualityLangCte,
         |r AS (SELECT source,
         |    CASE WHEN quality < 0.5 THEN 'low_quality'
         |         WHEN lang_pred <> 'en' THEN 'wrong_lang'
         |         ELSE 'kept' END AS route
         |  FROM ql)
         |SELECT route, source, COUNT(*) AS n
         |FROM r GROUP BY 1, 2 ORDER BY route, source""".stripMargin,

    "t_fingerprint_dups" ->
      """SELECT md5(array_to_string(str_split(text,' ')[1:8],' ')) AS fp,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,

    "d_stream_first_seen" ->
      """SELECT md5(array_to_string(str_split(text,' ')[1:8],' ')) AS fp,
        |  MIN(doc_id) AS first_doc_id
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,

    // Per-bigram probabilities at 6-decimal granularity, exact-decimal
    // per-doc sums — mirrors the Spark plan term for term.
    "t_bigram_lm" ->
      s"""WITH $bigramLmSqlCte
         |SELECT doc_id, n_bigrams, avg_bigram_p FROM lm
         |ORDER BY doc_id""".stripMargin,

    // The t_bigram_lm scoring CTE verbatim, then per-language exact
    // interpolated tertile cuts — mirrors the Spark bucket assignment
    // against the UNROUNDED cuts.
    "t_ccnet_buckets" ->
      s"""WITH $bigramLmSqlCte,
         |sc AS (SELECT lm.doc_id, d.lang, lm.avg_bigram_p
         |  FROM lm JOIN documents d USING (doc_id)),
         |cuts AS (SELECT lang,
         |    quantile_cont(avg_bigram_p, 1.0/3) AS c1,
         |    quantile_cont(avg_bigram_p, 2.0/3) AS c2
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, lang, avg_bigram_p,
         |  CASE WHEN avg_bigram_p >= c2 THEN 'head'
         |       WHEN avg_bigram_p >= c1 THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  round(c1, 6) AS cut_lo, round(c2, 6) AS cut_hi
         |FROM sc JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin,

    "t_feature_hash" ->
      s"""WITH $hashFeatureCte
         |SELECT * FROM hf ORDER BY doc_id""".stripMargin,

    // Exact-decimal partial sums, one fixed double chain — mirrors the
    // Spark aggregation term for term.
    "t_quality_corr" -> {
      val enList = enStop.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH base AS (SELECT source, n_chars AS x,
         |    CAST(round((LEAST(len(str_split(text,' '))/64.0, 1.0)
         |      + CAST(len(list_distinct(str_split(text,' '))) AS DOUBLE)
         |        / len(str_split(text,' '))
         |      + LEAST(len(list_intersect(list_distinct(str_split(text,' ')),
         |          $enList))/4.0, 1.0)) / 3.0, 6) AS DECIMAL(18,6)) AS y
         |  FROM documents),
         |agg AS (SELECT source, COUNT(*) AS n,
         |    SUM(x) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sx2,
         |    SUM(y) AS sy, SUM(y * y) AS sy2, SUM(x * y) AS sxy,
         |    MIN(x) AS xmin, MAX(x) AS xmax,
         |    MIN(y) AS ymin, MAX(y) AS ymax
         |  FROM base GROUP BY 1)
         |SELECT source, n,
         |  CASE WHEN xmin < xmax AND ymin < ymax
         |    AND (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
         |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0
         |    THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |    ELSE NULL END AS corr_len_quality
         |FROM agg ORDER BY source""".stripMargin
    },

    // pad_waste numerator clamps each doc at the bucket width (a real
    // batcher truncates over-edge docs; unclamped, waste goes negative)
    // and n_over reports the truncation-needed tail explicitly.
    "t_length_buckets" ->
      """WITH n AS (SELECT len(str_split(text,' ')) AS nt FROM documents),
        |b AS (SELECT CASE WHEN nt <= 16 THEN 16 WHEN nt <= 32 THEN 32
        |    WHEN nt <= 64 THEN 64 WHEN nt <= 96 THEN 96
        |    WHEN nt <= 128 THEN 128 ELSE 256 END AS bucket, nt FROM n)
        |SELECT bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(nt) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CASE WHEN nt > bucket THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_over,
        |  round(1.0 - CAST(SUM(least(nt, bucket)) AS DOUBLE)
        |    / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS pad_waste
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "t_pmi_bigrams" ->
      """WITH tok AS (SELECT str_split(text,' ') AS t FROM documents),
        |bg AS (SELECT t[i] || ' ' || t[i+1] AS g FROM tok,
        |  LATERAL (SELECT unnest(range(1, len(t))) AS i)),
        |bc AS (SELECT g, COUNT(*) AS c_ab FROM bg GROUP BY 1),
        |un AS (SELECT unnest(t) AS w FROM tok),
        |uc AS (SELECT w, COUNT(*) AS c_w FROM un GROUP BY 1),
        |n AS (SELECT SUM(c_ab) AS nb FROM bc)
        |SELECT g, c_ab,
        |  round(CAST(c_ab AS DOUBLE) * (SELECT nb FROM n)
        |    / (CAST(ua.c_w AS DOUBLE) * ub.c_w), 6) AS pmi_ratio
        |FROM bc JOIN uc ua ON ua.w = str_split(g,' ')[1]
        |        JOIN uc ub ON ub.w = str_split(g,' ')[2]
        |WHERE c_ab >= 30
        |ORDER BY pmi_ratio DESC, g LIMIT 20""".stripMargin,

    "t_source_overlap" ->
      """WITH fs AS (SELECT DISTINCT
        |    md5(array_to_string(str_split(text,' ')[1:8],' ')) AS fp,
        |    source
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  COUNT(*) AS n_shared
        |FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Mirrors bm25Ranked term for term: every double op in the same
    // order, per-term weights rounded to 6 then summed in exact decimal.
    // Constants touch a DOUBLE operand before any arithmetic matters, so
    // DuckDB's decimal literals promote instead of computing in decimal.
    "t_bm25_topk" ->
      s"""WITH $bm25Ctes
        |SELECT query_id, neighbor_id, bm25, rnk FROM rk WHERE rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin,

    // Twin of Retrieval.rrfFuse over bm25Ranked(k=20) and the exact
    // dense top-20: same rank lists, same 1/(60+rank) terms in the
    // same lex-then-dense order, missing-list term coalesced to 0.
    "t_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
        |lex AS (SELECT query_id, neighbor_id, rnk AS r_lex FROM rk
        |        WHERE rnk <= 20),
        |$denseRankCtes,
        |dense AS (SELECT query_id, neighbor_id, r_dense FROM dr
        |          WHERE r_dense <= 20),
        |f AS (SELECT query_id, neighbor_id,
        |        round(COALESCE(1.0 / CAST(60 + r_lex AS DOUBLE), 0.0)
        |            + COALESCE(1.0 / CAST(60 + r_dense AS DOUBLE), 0.0),
        |          6) AS rrf
        |      FROM lex FULL JOIN dense USING (query_id, neighbor_id)),
        |rr2 AS (SELECT query_id, neighbor_id, rrf,
        |          CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY rrf DESC, neighbor_id) AS INT) AS rnk
        |        FROM f)
        |SELECT query_id, neighbor_id, rrf, rnk FROM rr2 WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // Dense CTEs mirror t_hybrid_rrf's; the discount CASE and the
    // ideal-DCG denominator are the driver-side literals.
    "t_ndcg_eval" -> {
      val discCase = ndcgDiscounts.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      s"""WITH $bm25Ctes,
        |lex AS (SELECT query_id, neighbor_id, rnk AS r_lex FROM rk
        |        WHERE rnk <= 10),
        |$denseRankCtes,
        |rel AS (SELECT query_id, neighbor_id,
        |          CAST(11 - r_dense AS DOUBLE) AS rel
        |        FROM dr WHERE r_dense <= 10),
        |gg AS (SELECT query_id,
        |         CAST(round(rel * (CASE r_lex $discCase END), 6)
        |           AS DECIMAL(18,6)) AS g
        |       FROM lex JOIN rel USING (query_id, neighbor_id))
        |SELECT query_id, CAST(COUNT(*) AS INT) AS n_overlap,
        |  round(CAST(SUM(g) AS DOUBLE) / $ndcgIdcg, 6) AS ndcg
        |FROM gg GROUP BY query_id ORDER BY query_id""".stripMargin
    },

    // Mirrors t_hll_distinct register for register: same 60-bit md5
    // hash, same integer register sums (DuckDB's HUGEINT sum is exact
    // like Spark's long — both under 2^62), same shared α·m²·2⁵²
    // literal, same linear-counting branch.
    "t_hll_distinct" ->
      s"""WITH $hllRegCte,
         |ex AS (SELECT source, COUNT(DISTINCT text) AS n_exact
         |  FROM h GROUP BY 1),
         |est AS (SELECT source, n_exact, $hllRawSql
         |  FROM per JOIN ex USING (source))
         |SELECT source, n_exact, $hllFinalSql AS hll_est
         |FROM est ORDER BY source""".stripMargin,

    // t_hll_stream: identical estimate, registers maintained as
    // streaming state — the batch oracle IS the invariance claim.
    "t_hll_stream" ->
      s"""WITH $hllRegCte,
         |est AS (SELECT source, $hllRawSql FROM per)
         |SELECT source, $hllFinalSql AS hll_est
         |FROM est ORDER BY source""".stripMargin,

    // Mirrors t_cms_freq bucket for bucket: same md5("row|term") % 1024
    // addressing, integer counter sums, min-over-rows estimate, and the
    // same deterministic top-25 probe set.
    "t_cms_freq" ->
      """WITH tok AS (SELECT unnest(str_split(text,' ')) AS term
        |  FROM documents),
        |cnt AS (SELECT i,
        |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || term), 1, 15))
        |      ::UBIGINT::BIGINT % 1024 AS bucket,
        |    COUNT(*) AS c
        |  FROM tok, LATERAL (SELECT unnest([0,1,2,3]) AS i)
        |  GROUP BY 1, 2),
        |ex AS (SELECT term, COUNT(*) AS n_exact FROM tok GROUP BY 1),
        |probe AS (SELECT term, n_exact FROM ex
        |  ORDER BY n_exact DESC, term LIMIT 25),
        |keyed AS (SELECT p.term, p.n_exact, r.i,
        |    ('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' || p.term), 1, 15))
        |      ::UBIGINT::BIGINT % 1024 AS bucket
        |  FROM probe p, LATERAL (SELECT unnest([0,1,2,3]) AS i) AS r(i))
        |SELECT k.term, k.n_exact, MIN(coalesce(c.c, 0)) AS cms_est
        |FROM keyed k LEFT JOIN cnt c ON c.i = k.i AND c.bucket = k.bucket
        |GROUP BY 1, 2 ORDER BY term""".stripMargin,

    // The unrolled-loop twin of t_bpe_merges (Bpe.oracleSql) — the
    // oracle RE-LEARNS the merges, it doesn't replay frozen ones.
    "t_bpe_merges" -> graft.operators.Bpe.oracleSql(k = 8),

    // Tokenize side: the same unrolled learner's final segmentation
    // table joined back into the token stream.
    "t_bpe_tokenize" -> graft.operators.Bpe.tokenizeOracleSql(k = 8),

    // Mirrors d_bloom_decontam bucket for bucket (same seeded md5 %
    // 65536 addressing as the CMS twin).
    "d_bloom_decontam" ->
      s"""WITH $shinglesCte,
         |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 13 = 0),
         |bf AS (SELECT DISTINCT i,
         |    ('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || s), 1, 15))
         |      ::UBIGINT::BIGINT % 65536 AS bucket
         |  FROM ev, LATERAL (SELECT unnest([0,1,2]) AS i)),
         |pr AS (SELECT doc_id, s FROM sh WHERE doc_id % 13 <> 0),
         |hits AS (SELECT p.doc_id, p.s,
         |    SUM(CASE WHEN b.i IS NOT NULL THEN 1 ELSE 0 END) AS nb
         |  FROM (SELECT doc_id, s, r.i,
         |      ('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' || s), 1, 15))
         |        ::UBIGINT::BIGINT % 65536 AS bucket
         |    FROM pr, LATERAL (SELECT unnest([0,1,2]) AS i) AS r(i)) p
         |  LEFT JOIN bf b ON b.i = p.i AND b.bucket = p.bucket
         |  GROUP BY 1, 2),
         |per AS (SELECT h.doc_id,
         |    CASE WHEN h.nb = 3 THEN 1 ELSE 0 END AS bh,
         |    CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END AS eh
         |  FROM hits h LEFT JOIN ev e ON e.s = h.s)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(bh) AS BIGINT) AS n_bloom_hits,
         |  CAST(SUM(eh) AS BIGINT) AS n_exact_hits
         |FROM per GROUP BY 1 HAVING SUM(bh) > 0
         |ORDER BY doc_id""".stripMargin,

    "d_exact_dups" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,

    "d_minhash_lsh" ->
      s"""WITH $minhashPairsCte
         |SELECT id_a, id_b, jaccard FROM verified
         |ORDER BY id_a, id_b""".stripMargin,

    "d_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |${sqlComponentsOver("verified")}""".stripMargin,

    // Same pair relation and closure, collapsed one level further.
    "d_cluster_sizes" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |${sqlComponentLabelsCte("verified")},
         |cs AS (SELECT comp, COUNT(*) AS m FROM comp GROUP BY comp)
         |SELECT CAST(m AS INT) AS cluster_size,
         |  COUNT(*) AS n_clusters
         |FROM cs GROUP BY 1 ORDER BY cluster_size""".stripMargin,

    // Old-dump shingles are a global distinct set; the new dump's
    // per-source distinct shingles anti-join it. Shingle window math
    // mirrors shinglesCte at n = 3.
    "t_dump_novelty" ->
      """WITH osh AS (SELECT DISTINCT array_to_string(t[i:i+2],' ') AS s
        |  FROM (SELECT str_split(text,' ') AS t FROM documents
        |         WHERE doc_id % 10 <> 3) tok,
        |    LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)
        |  WHERE len(t) >= 3),
        |nd AS (SELECT source,
        |    CASE WHEN doc_id % 20 = 5 THEN reverse(text) ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 10 <> 7),
        |nsh AS (SELECT DISTINCT source, array_to_string(t[i:i+2],' ') AS s
        |  FROM (SELECT source, str_split(text,' ') AS t FROM nd) tok,
        |    LATERAL (SELECT unnest(range(1, len(t)-1)) AS i)
        |  WHERE len(t) >= 3),
        |nov AS (SELECT source, COUNT(*) AS n_novel FROM nsh
        |  WHERE s NOT IN (SELECT s FROM osh) GROUP BY 1)
        |SELECT nsh.source, COUNT(*) AS n_shingles,
        |  COALESCE(MAX(n_novel), 0) AS n_novel,
        |  round(CAST(COALESCE(MAX(n_novel), 0) AS DOUBLE) / COUNT(*), 6)
        |    AS novelty_rate
        |FROM nsh LEFT JOIN nov ON nsh.source = nov.source
        |GROUP BY nsh.source ORDER BY nsh.source""".stripMargin,

    // Presence tracked by explicit markers (mirrors Dedup.corpusDiff):
    // a null-text doc has a NULL fingerprint but is still PRESENT, so
    // classification must branch on in_old/in_new, and the fingerprint
    // compare must be null-safe (IS NOT DISTINCT FROM) so two null-text
    // rows are 'unchanged', never 'added'. The %25 CASEs inject the
    // null texts the fixture lacks (both-null and new-only-null rows),
    // so this null handling is exercised, not dead code.
    "t_corpus_diff" ->
      """WITH o AS (SELECT doc_id AS id, TRUE AS in_old,
        |    md5(lower(regexp_replace(
        |      CASE WHEN doc_id % 25 = 4 THEN NULL ELSE text END,
        |      '\s+', ' ', 'g'))) AS fp_old
        |  FROM documents WHERE doc_id % 10 <> 3),
        |nn AS (SELECT doc_id AS id, TRUE AS in_new,
        |    md5(lower(regexp_replace(
        |      CASE WHEN doc_id % 20 = 5 THEN reverse(t) ELSE t END,
        |      '\s+', ' ', 'g'))) AS fp_new
        |  FROM (SELECT doc_id,
        |          CASE WHEN doc_id % 25 IN (4, 11) THEN NULL
        |               ELSE text END AS t
        |        FROM documents WHERE doc_id % 10 <> 7))
        |SELECT id AS doc_id,
        |  CASE WHEN in_old IS NULL THEN 'added'
        |       WHEN in_new IS NULL THEN 'removed'
        |       WHEN NOT (fp_old IS NOT DISTINCT FROM fp_new) THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL JOIN nn USING (id) ORDER BY doc_id""".stripMargin,

    // Keep-best survivor per cluster: closure labels + quality argmax
    // (score DESC, doc_id ASC — the struct(score, −id) max's twin).
    "d_dedup_keep_best" -> {
      val enList = enStop.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH RECURSIVE $minhashPairsCte,
         |${sqlComponentLabelsCte("verified")},
         |qb AS (SELECT doc_id, str_split(text,' ') AS tk,
         |    list_distinct(str_split(text,' ')) AS dt FROM documents),
         |q AS (SELECT doc_id,
         |    round((LEAST(len(tk)/64.0, 1.0)
         |      + CAST(len(dt) AS DOUBLE)/len(tk)
         |      + LEAST(len(list_intersect(dt, $enList))/4.0, 1.0)) / 3.0,
         |      6) AS score
         |  FROM qb),
         |m AS (SELECT q.doc_id, COALESCE(c.comp, q.doc_id) AS rep_id,
         |    q.score
         |  FROM q LEFT JOIN comp c ON c.id = q.doc_id),
         |sel AS (SELECT doc_id, rep_id, score,
         |    row_number() OVER (PARTITION BY rep_id
         |      ORDER BY score DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY rep_id) AS n_members
         |  FROM m)
         |SELECT doc_id, rep_id, score, n_members FROM sel
         |WHERE rn = 1 ORDER BY rep_id""".stripMargin
    },

    // Incremental-equals-recompute: the full pipeline's verified pairs,
    // restricted to pairs touching the batch (doc_id % 10 = 0).
    "d_incremental_neardup" ->
      s"""WITH $minhashPairsCte
         |SELECT id_a, id_b, jaccard FROM verified
         |WHERE id_a % 10 = 0 OR id_b % 10 = 0
         |ORDER BY id_a, id_b""".stripMargin,

    "t_decontam_ngram" ->
      """WITH tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
        |sh4 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3],' ') AS s
        |       FROM tok, LATERAL (SELECT unnest(range(1, len(t)-2)) AS i)
        |       WHERE len(t) >= 4),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh4 WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, s FROM sh4 WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id AS train_id, COUNT(DISTINCT eval_id) AS n_eval_docs,
        |  COUNT(DISTINCT tr.s) AS n_shared_shingles
        |FROM tr JOIN ev USING (s) GROUP BY 1 ORDER BY train_id""".stripMargin,

    // Same shingle CTEs as t_decontam_ngram's, grouped per pair.
    "t_decontam_pairs" ->
      """WITH tok AS (SELECT doc_id, str_split(text,' ') AS t FROM documents),
        |sh4 AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3],' ') AS s
        |       FROM tok, LATERAL (SELECT unnest(range(1, len(t)-2)) AS i)
        |       WHERE len(t) >= 4),
        |ev AS (SELECT doc_id AS eval_id, s FROM sh4 WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, s FROM sh4 WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id AS train_id, eval_id,
        |  COUNT(*) AS n_shared_shingles
        |FROM tr JOIN ev USING (s) GROUP BY 1, 2
        |ORDER BY train_id, eval_id""".stripMargin,

    "t_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'val'
        |       WHEN md5(CAST(doc_id AS VARCHAR)) < '33' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_epoch_shard" ->
      """WITH k AS (SELECT doc_id,
        |    md5('1:' || CAST(doc_id AS VARCHAR)) AS okey FROM documents),
        |s AS (SELECT doc_id, okey,
        |    CAST(('0x' || substr(okey, 1, 8))::UBIGINT % 4 AS INT)
        |      AS shard FROM k)
        |SELECT doc_id, okey, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY okey, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    // Split hash over the near-dup-cluster representative (component min
    // via the shared recursive-closure CTE), doc_id fallback for
    // isolated docs.
    "t_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |${sqlComponentLabelsCte("verified")}
         |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS rep_id,
         |  CASE WHEN md5(CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)) < '1a'
         |         THEN 'val'
         |       WHEN md5(CAST(COALESCE(c.comp, d.doc_id) AS VARCHAR)) < '33'
         |         THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Twin of Dedup.spanScrub: same non-overlapping 10-word chunks, the
    // same doc_id·10⁶+idx first-occurrence key, text rebuilt from kept
    // chunks. COALESCE: a doc whose every chunk lost keeps '' (DuckDB's
    // filtered list() over zero rows is NULL; Spark's array_join of an
    // empty array is '').
    "t_span_scrub" ->
      s"""WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t
         |  FROM documents),
         |ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    array_to_string(t[i*10+1:i*10+10], ' ') AS chunk
         |  FROM tok, LATERAL (SELECT unnest(range(0,
         |    CAST(ceil(len(t) / 10.0) AS BIGINT))) AS i)),
         |keyed AS (SELECT doc_id, chunk_idx, chunk, md5(chunk) AS fp,
         |    doc_id * ${Dedup.SpanKeyBase} + chunk_idx AS key FROM ch),
         |w AS (SELECT fp, MIN(key) AS kmin FROM keyed GROUP BY 1)
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
         |  CAST(SUM(CASE WHEN key = kmin THEN 1 ELSE 0 END) AS INT)
         |    AS n_kept,
         |  COALESCE(array_to_string(list(chunk ORDER BY chunk_idx)
         |    FILTER (WHERE key = kmin), ' '), '') AS clean_text
         |FROM keyed JOIN w USING (fp)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The oracle RE-DERIVES the per-source hex cut from the same totals
    // (exact IEEE-754: budget/total division, ×2^32 exponent shift,
    // floor), mirroring Sampling.weightHex including the w>=1 'g' case.
    "t_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, SUM(n_tokens) AS t FROM d GROUP BY 1),
        |thr AS (SELECT source,
        |    CASE WHEN frac >= 1.0 THEN 'g'
        |         ELSE printf('%08x',
        |           CAST(floor(frac * 4294967296.0) AS BIGINT)) END AS cut
        |  FROM (SELECT source,
        |          CAST(CASE source WHEN 'src0' THEN 2000
        |                           WHEN 'src3' THEN 100
        |                           WHEN 'src7' THEN 10000000
        |                           ELSE 0 END AS DOUBLE)
        |            / CAST(t AS DOUBLE) AS frac
        |        FROM tot))
        |SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
        |FROM d JOIN thr USING (source)
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < cut
        |ORDER BY doc_id""".stripMargin,

    // Per-(phase, source) thresholds re-derived from the measured
    // totals and the schedulePhases budget literals; the phase-salted
    // hash mirrors Sampling.mixSchedule's md5("phase:id").
    "t_mix_schedule" ->
      s"""WITH $mixScheduleSqlCore
         |SELECT phase, doc_id, source, n_tokens FROM sel
         |ORDER BY phase, doc_id""".stripMargin,

    // Same selected set, grouped twice: docs per phase-multiplicity.
    "t_mix_overlap" ->
      s"""WITH $mixScheduleSqlCore,
         |per AS (SELECT doc_id, COUNT(*) AS n_phases FROM sel
         |  GROUP BY 1)
         |SELECT CAST(n_phases AS INT) AS n_phases, COUNT(*) AS n_docs
         |FROM per GROUP BY 1 ORDER BY n_phases""".stripMargin,

    "t_pack_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS pack_group,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, pack_group, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, pack_group, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST((cum - n_tokens) // 256 AS BIGINT) AS chunk_id,
        |  CAST((cum - n_tokens) % 256 AS INT) AS chunk_offset,
        |  ((cum - 1) // 256) > ((cum - n_tokens) // 256) AS spans_boundary
        |FROM c ORDER BY doc_id""".stripMargin,

    // Same cum-sum CTE as t_pack_chunks, aggregated per group; chunk
    // count re-derives as ceil(total/capacity) in exact integers.
    "t_pack_efficiency" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS pack_group,
        |    md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, pack_group, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d),
        |x AS (SELECT pack_group, n_tokens,
        |    ((cum - 1) // 256) > ((cum - n_tokens) // 256) AS sb
        |  FROM c)
        |SELECT pack_group, CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(CASE WHEN sb THEN 1 ELSE 0 END) AS INT) AS n_spanning,
        |  CAST((SUM(n_tokens) + 255) // 256 AS BIGINT) AS n_chunks,
        |  round(CAST(SUM(n_tokens) AS DOUBLE)
        |    / (CAST((SUM(n_tokens) + 255) // 256 AS BIGINT) * 256.0), 6)
        |    AS fill_ratio
        |FROM x GROUP BY pack_group ORDER BY pack_group""".stripMargin,

    "t_stratified_sample" ->
      """SELECT lang, doc_id,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
        |FROM documents QUALIFY rnk <= 5 ORDER BY lang, rnk""".stripMargin,

    // All-integer histogram cut: 16-wide bins, cumulative over bins,
    // 5·cum ≥ 2·N — mirrors the Spark plan exactly.
    "t_threshold_binned" ->
      """WITH n AS (SELECT COUNT(*) AS n_total FROM documents),
        |bins AS (SELECT n_chars - (n_chars % 16) AS bin, COUNT(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bins),
        |cut AS (SELECT MIN(bin + 16) AS cut FROM cum, n
        |  WHERE cum * 5 >= n_total * 2)
        |SELECT lang, COUNT(*) AS n_kept, (SELECT cut FROM cut) AS cut
        |FROM documents WHERE n_chars >= (SELECT cut FROM cut)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t_quality_threshold" ->
      """WITH cut AS (SELECT quantile_cont(n_chars, 0.4) AS c
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept,
        |  round((SELECT c FROM cut), 6) AS cut
        |FROM documents WHERE n_chars >= (SELECT c FROM cut)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Per-source median cut over the shared quality expression; filter
    // on the unrounded cut, round only for output (both engines).
    "t_quality_calibrate" -> {
      val enList = enStop.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH base AS (SELECT doc_id, source, str_split(text,' ') AS tk,
         |    list_distinct(str_split(text,' ')) AS dt FROM documents),
         |q AS (SELECT doc_id, source,
         |    round((LEAST(len(tk)/64.0, 1.0)
         |      + CAST(len(dt) AS DOUBLE)/len(tk)
         |      + LEAST(len(list_intersect(dt, $enList))/4.0, 1.0)) / 3.0,
         |      6) AS quality
         |  FROM base),
         |cuts AS (SELECT source, quantile_cont(quality, 0.5) AS cut
         |  FROM q GROUP BY 1)
         |SELECT doc_id, source, quality, round(cut, 6) AS cut
         |FROM q JOIN cuts USING (source)
         |WHERE quality >= cut
         |ORDER BY doc_id""".stripMargin
    },

    "d_substring_dup" ->
      """WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |win AS (SELECT DISTINCT doc_id, h FROM (
        |    SELECT doc_id, md5(array_to_string(t[i:i+15], ' ')) AS h
        |    FROM tok, unnest(range(1, greatest(len(t) - 14, 1))) AS g(i))
        |  WHERE h < '4'),
        |ok AS (SELECT h FROM win GROUP BY h HAVING count(*) <= 64),
        |wf AS (SELECT win.doc_id, win.h FROM win JOIN ok USING (h)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS n_shared
        |  FROM wf a JOIN wf b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM p ORDER BY id_a, id_b""".stripMargin,

    "t_rag_chunks" ->
      """WITH tok AS (SELECT doc_id, str_split(text, ' ') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |    (greatest(len(t) - 64, 0) + 47) // 48 + 1 AS nc
        |  FROM tok),
        |c AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
        |    t[CAST(i AS INT) * 48 + 1 : CAST(i AS INT) * 48 + 64] AS ct
        |  FROM n, unnest(range(0, nc)) AS g(i))
        |SELECT doc_id, chunk_id, CAST(len(ct) AS INT) AS n_tokens,
        |  array_to_string(ct, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "d_simhash" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(str_split(text,' ')) AS w
        |  FROM documents),
        |th AS (SELECT doc_id, md5(w) AS h FROM tok),
        |bits AS (SELECT doc_id, i,
        |    CASE WHEN sum(CASE WHEN ascii(substr(h, CAST(i+1 AS INT), 1)) % 2 = 1
        |                 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b
        |  FROM th, LATERAL (SELECT unnest(range(0,32)) AS i) GROUP BY doc_id, i)
        |SELECT doc_id,
        |  CAST(sum(b * (1::BIGINT << CAST(i AS INT))) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The same signature CTE as d_simhash, collapsed to distinct
    // signatures (min-doc canonical), then ALL pairs filtered by exact
    // Hamming distance — the brute force the banded join must equal
    // (recall 1.0 within maxDist < bands by pigeonhole).
    "d_simhash_neardups" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(str_split(text,' ')) AS w
        |  FROM documents),
        |th AS (SELECT doc_id, md5(w) AS h FROM tok),
        |bits AS (SELECT doc_id, i,
        |    CASE WHEN sum(CASE WHEN ascii(substr(h, CAST(i+1 AS INT), 1)) % 2 = 1
        |                 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b
        |  FROM th, LATERAL (SELECT unnest(range(0,32)) AS i) GROUP BY doc_id, i),
        |sh AS (SELECT doc_id,
        |    CAST(sum(b * (1::BIGINT << CAST(i AS INT))) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id),
        |cl AS (SELECT simhash, MIN(doc_id) AS cid FROM sh GROUP BY 1)
        |SELECT a.cid AS id_a, b.cid AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS dist
        |FROM cl a JOIN cl b ON a.cid < b.cid
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "d_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |rare AS (SELECT s FROM sh GROUP BY s
         |         HAVING COUNT(*) <= 20 AND COUNT(*) > 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM (SELECT doc_id, s FROM sh JOIN rare USING (s)) a
         |  JOIN (SELECT doc_id, s FROM sh JOIN rare USING (s)) b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |shl AS (SELECT doc_id, list(s) AS sl FROM sh GROUP BY doc_id)
         |SELECT id_a, id_b,
         |  round(CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
         |        len(list_distinct(list_concat(x.sl, y.sl))), 6) AS jaccard
         |FROM cand JOIN shl x ON id_a = x.doc_id JOIN shl y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
         |      len(list_distinct(list_concat(x.sl, y.sl))) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // Containment twin of d_ngram_jaccard: same rare-shingle candidate
    // discovery, min-size normalization instead of union.
    "d_containment" ->
      s"""WITH $shinglesCte,
         |rare AS (SELECT s FROM sh GROUP BY s
         |         HAVING COUNT(*) <= 20 AND COUNT(*) > 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM (SELECT doc_id, s FROM sh JOIN rare USING (s)) a
         |  JOIN (SELECT doc_id, s FROM sh JOIN rare USING (s)) b
         |    ON a.s = b.s AND a.doc_id < b.doc_id),
         |shl AS (SELECT doc_id, list(s) AS sl FROM sh GROUP BY doc_id)
         |SELECT id_a, id_b,
         |  round(CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
         |        least(len(x.sl), len(y.sl)), 6) AS containment
         |FROM cand JOIN shl x ON id_a = x.doc_id JOIN shl y ON id_b = y.doc_id
         |WHERE CAST(len(list_intersect(x.sl, y.sl)) AS DOUBLE) /
         |      least(len(x.sl), len(y.sl)) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "t_tfidf_topterms" ->
      """WITH tok AS (SELECT doc_id, unnest(str_split(text,' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    round(tf * ln(n.n / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS INT) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin
  )
}
