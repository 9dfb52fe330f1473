package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{MediaCodec, Multimodal, Similarity, Vp8Codec}

/** Embedding similarity search + multimodal plumbing under the oracle
  * gate. Cosines are computed in double with deterministic fold order on
  * both engines, rounded to 4 decimals before ranking.
  */
object SimilarityQueries {

  import graft.operators.Ivf

  /** The IVF models fitted by the most recent run of each IVF-backed
    * query. The oracle SQL must embed the fitted centroids, but
    * `oracleSql` is a static map with no (spark, dir) arguments — so each
    * query fn records its model here and [[oracles]] (a def,
    * re-evaluated at dump time) freezes THAT fit into literals. Verify
    * runs every query before dumping the oracle JSON, so the cache is
    * always populated for the driver gate; a query that never ran simply
    * omits its key (rows-only check, the pre-r5 behavior). */
  private val ivfModels =
    new java.util.concurrent.ConcurrentHashMap[String, Ivf.Model]()
  private val pqModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Pq.Model]()
  private val sqModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Sq.Model]()
  private val pcaModels =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.Pca.Model]()

  /** THE coarse IVF quantizer (k = 8, 3 iterations) over the fixture's
    * embeddings — one memo key shared by every IVF consumer. */
  private def ivfModel(s: org.apache.spark.sql.SparkSession,
                       dir: String): Ivf.Model =
    memoFit(s"ivf:$dir:k8i3")(Ivf.fit(
      t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 3))

  /** THE corpus k-NN edge relation — built once, persisted, and shared
    * by its three gated consumers (`s_knn_join`, `s_mutual_knn`,
    * `s_knn_components`): the corpus×corpus cell join is the most
    * expensive relation in the ANN family, and each consumer
    * re-deriving it tripled that cost in one bench pass. */
  private def sharedKnnRanked(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    // memoCkpt, not persist: consumers get a one-leaf plan instead of
    // the full cell-join pipeline nested under an InMemoryRelation —
    // every action stringifies its plan for the SQL listener and AQE
    // walks it per stage (see graft.queries.memoCkpt)
    memoCkpt(s, s"knnjoin:$dir:k8i3:k3p2") {
      Ivf.knnJoin(t(s, dir, "embeddings"), "vec_id", "embedding",
        ivfModel(s, dir), k = 3, nProbe = 2)
    }

  /** The clips `mm_wav_energy` and `mm_wav_zcr` share: mono/stereo by
    * id parity, length from n_chars (several 100-frame windows incl. a
    * partial one), muted stretches seeded by id. */
  private def wavEnergyClip(id: Long, nChars: Long): Array[Byte] =
    MediaCodec.buildWavEnergyPattern(channels = 1 + (id % 2).toInt,
      sampleRate = 16000, nSamples = 150 + nChars % 873, seed = id)

  /** The baseline-JPEG fixtures' DRI: every 3rd doc carries real RSTn
    * markers, 1-4 MCUs apart. */
  private def restartEvery3rd(id: Long): Int =
    if (id % 3 == 1) 1 + (id % 4).toInt else 0

  val defs: Map[String, QueryFn] = Map(
    // Exact ANN baseline: 10 probe vectors × full corpus, broadcast join.
    "s_ann_topk" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Scale path: sign-LSH bucketing, probe only the query's bucket.
    "s_ann_lsh" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 3, bits = 4, dim = 64)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Multi-probe: also search the Hamming-1 buckets — the recall lever.
    "s_ann_lsh_probe" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        k = 3, bits = 4, dim = 64)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // IVF cell-probe ANN: k-means coarse quantizer trained on a sample,
    // corpus partitioned into cells map-side, queries probe 2 cells.
    // The k-means FIT isn't SQL-expressible, but the fitted model is a
    // constant — so the oracle freezes the centroids as literals (see
    // ivfSql) and replays assign + probe + rank exactly, the same way
    // bucketSqlExpr freezes the LSH hyperplanes.
    "s_ann_ivf" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_ann_ivf", model)
      graft.operators.Ivf.topK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        model, k = 3, nProbe = 2)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // IVF multi-probe: same trained quantizer, 4 probed cells instead
    // of 2 — the recall lever for the cell-probe family (the IVF
    // analogue of s_ann_lsh_probe). Candidate cost scales linearly in
    // nProbe (×nProbe/k of the corpus per query), recall climbs toward
    // the union of the probed cells' contents; at 100 TB this is the
    // knob a recall/latency trade-off is tuned with, so it is gated as
    // its own row.
    "s_ann_ivf_probe" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_ann_ivf_probe", model)
      graft.operators.Ivf.topK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        model, k = 3, nProbe = 4)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Corpus×corpus k-NN JOIN: every vector queries the same corpus
    // through the cell-bounded path — the all-pairs neighbor-graph
    // builder. Unlike the probe-set gates this must NOT broadcast the
    // query side (it IS the corpus): both sides shuffle on cell into a
    // co-partitioned equi join.
    "s_knn_join" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_knn_join", model)
      sharedKnnRanked(s, dir)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Mutual-kNN graph: (a, b) kept iff each is in the other's top-3 —
    // the symmetric neighbor graph cluster curation builds on; the
    // mutuality self-join runs over |C|·k edge rows, never vectors.
    "s_mutual_knn" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_mutual_knn", model)
      graft.operators.Ivf.mutualKnnOf(sharedKnnRanked(s, dir))
        .orderBy("id_a", "id_b")
    },

    // Corpus clustering: every embedding assigned to its k-means cell —
    // the map-only pass a topic-/source-balancing pipeline runs over the
    // whole corpus (one codegen'd argmin per row, no shuffle until the
    // caller aggregates). Same frozen-centroid oracle scheme as the ANN.
    "s_cluster_assign" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_cluster_assign", model)
      emb.select(col("vec_id"),
        graft.operators.Ivf.assign(col("embedding"), model).as("cell"))
        .orderBy("vec_id")
    },

    // Mutual-kNN clustering: connected components over the mutual-kNN
    // graph — the graph-based curation clustering (tighter than
    // cell-assignment clusters: an edge needs RECIPROCAL top-k
    // membership). Composes knnJoin → mutualKnn → the shared
    // label-propagation components; oracle = recursive closure over
    // the frozen-centroid ranked list's mutual edges.
    "s_knn_components" -> { (s, dir) =>
      val model = ivfModel(s, dir)
      ivfModels.put("s_knn_components", model)
      graft.operators.Dedup.dupClusters(
        graft.operators.Ivf.mutualKnnOf(sharedKnnRanked(s, dir)))
        .orderBy("canonical_id")
    },

    // Cluster purity: per cell, the majority-label fraction over the
    // fixture's label column — the clustering-quality check run before
    // trusting cells for balancing/curation decisions. Outputs the
    // majority COUNT (not which label), so label ties cannot make the
    // result engine-dependent; two partial aggregations, map-only
    // assignment.
    "s_cluster_purity" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_cluster_purity", model)
      emb.select(
          graft.operators.Ivf.assign(col("embedding"), model).as("cell"),
          col("label"))
        .groupBy("cell", "label").agg(count(lit(1)).as("n"))
        .groupBy("cell")
        .agg(sum("n").as("n_vecs"), max("n").as("n_majority"))
        .select(col("cell"), col("n_vecs"), col("n_majority"),
          round(col("n_majority").cast("double") / col("n_vecs"), 6)
            .as("purity"))
        .orderBy("cell")
    },

    // Cluster-balanced sampling: a fixed per-cluster quota drawn by the
    // deterministic id-hash order — the topic-diversity pass that keeps
    // a dominant cluster from flooding the corpus (the sampling half of
    // cluster-based curation à la SemDeDup). Composes the memoized
    // coarse quantizer (map-only assign) with the salted two-stage
    // top-k, so no per-cluster hot reducer sees full documents.
    "s_cluster_balanced" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_cluster_balanced", model)
      val assigned = emb.select(col("vec_id"),
        graft.operators.Ivf.assign(col("embedding"), model).as("cell"))
      graft.operators.Sampling.stratifiedTopK(assigned, "cell", "vec_id",
        k = 5)
        .orderBy("cell", "rnk")
    },

    // PQ asymmetric-distance ANN: the corpus compressed to m=8 4-bit-ish
    // codes, queries ranked by LUT sums over codes only — the
    // billion-vector memory/compute path (IVF-PQ's quantization half).
    // Same frozen-codebook oracle scheme as the IVF queries.
    "s_ann_pq" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = memoFit(s"pq:$dir:m8k16i2")(graft.operators.Pq.fit(
        emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 2))
      pqModels.put("s_ann_pq", model)
      graft.operators.Pq.adcTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        model, k = 3)
        .select("query_id", "neighbor_id", "adist", "rnk")
        .orderBy("query_id", "rnk")
    },

    // IVF-PQ: coarse cells bound the candidates (equi join on cell),
    // residual PQ codes carry the ranking (classic IVFADC — the codebook
    // is trained on v − coarseCentroid(cell), so codes describe the
    // within-cell offset instead of re-describing the centroid). Both
    // frozen models feed one combined oracle.
    "s_ann_ivfpq" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val coarse = ivfModel(s, dir)
      val pq = memoFit(s"pqres:$dir:m8k16i2:k8i3")(
        graft.operators.Pq.fitResidual(emb, "vec_id", "embedding",
          coarse, m = 8, ksub = 16, iters = 2))
      ivfModels.put("s_ann_ivfpq", coarse)
      pqModels.put("s_ann_ivfpq", pq)
      graft.operators.Pq.ivfAdcTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        coarse, pq, k = 3, nProbe = 2)
        .select("query_id", "neighbor_id", "adist", "rnk")
        .orderBy("query_id", "rnk")
    },

    // IVF-PQ + exact re-rank: the ADC shortlist (codes only) is
    // re-ranked by exact cosine over fetched vectors — the recipe that
    // makes PQ recall usable (quantization picks candidates, floats
    // pick winners). Frozen models feed the oracle's shortlist stage;
    // the re-rank stage is plain SQL over embeddings. nProbe=4 +
    // shortlist=100: the flagship recipe gets the recall budget — the
    // probe union bounds what CAN be found, and a generous shortlist
    // absorbs the ADC ranking's quantization noise (a true neighbor
    // ranked 60th by codes still reaches the exact re-rank); candidate
    // cost stays nProbe/k of the corpus per query + a k·shortlist
    // exact-cosine join.
    "s_ann_ivfpq_rerank" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val coarse = ivfModel(s, dir)
      val pq = memoFit(s"pqres:$dir:m8k16i2:k8i3")(
        graft.operators.Pq.fitResidual(emb, "vec_id", "embedding",
          coarse, m = 8, ksub = 16, iters = 2))
      ivfModels.put("s_ann_ivfpq_rerank", coarse)
      pqModels.put("s_ann_ivfpq_rerank", pq)
      graft.operators.Pq.ivfAdcRerankTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        coarse, pq, k = 3, nProbe = 4, shortlist = 100)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // SQ8 scalar quantization: the corpus decoded from per-dimension
    // 8-bit codes (4× smaller at rest), queries exact — the "almost
    // lossless" compression tier next to PQ's aggressive one. The gate
    // query scans all candidates on purpose: it isolates what
    // quantization alone does to the ranking (compose with IVF cells
    // for pruning at scale). Frozen min/max oracle, same round-4
    // cosine contract as the rest of the family.
    "s_ann_sq8" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = memoFit(s"sq:$dir:d64")(graft.operators.Sq.fit(
        emb, "vec_id", "embedding", dim = 64))
      sqModels.put("s_ann_sq8", model)
      graft.operators.Sq.adcTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        model, k = 3)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // PCA projection: the corpus projected onto the top-8 principal
    // axes of a sample-fitted covariance (decorrelation /
    // dimensionality reduction — the vector-pipeline pre-processing
    // tier, and the rotation half of the public OPQ recipe). The fit's
    // only exchange is the moment table; the projection is a map-only
    // codegen'd literal-array dot per axis. Frozen-eigenvector oracle.
    "s_pca_project" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = memoFit(s"pca:$dir:p8")(graft.operators.Pca.fit(
        emb, "vec_id", "embedding", p = 8))
      pcaModels.put("s_pca_project", model)
      emb.select(col("vec_id") +:
        graft.operators.Pca.projection(col("embedding"), model): _*)
        .orderBy("vec_id")
    },

    // PCA-shortlist ANN: candidates scored by squared L2 in the 8-dim
    // projected space (8/64 of the brute-force flops per pair), exact
    // cosine re-rank over the shortlist only — the "coarse search in
    // low dimensions" recipe, sharing the frozen PCA model with
    // s_pca_project. Recall tracked next to the other ANN methods.
    "s_ann_pca_rerank" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = memoFit(s"pca:$dir:p8")(graft.operators.Pca.fit(
        emb, "vec_id", "embedding", p = 8))
      pcaModels.put("s_ann_pca_rerank", model)
      graft.operators.Pca.rerankTopK(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        model, k = 3, shortlist = 20)
        .select("query_id", "neighbor_id", "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Hard-negative mining: for each labeled query, the most-similar
    // corpus vectors with a DIFFERENT label — the contrastive-training
    // batch builder (confusable ≠ same class). IVF cells bound the
    // candidates exactly as in s_ann_ivf_probe; the label filter prunes
    // before the ranking window.
    "s_hard_negatives" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_hard_negatives", model)
      Ivf.hardNegatives(
        emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        "label", model, k = 3, nProbe = 4)
        .select("query_id", "q_label", "neighbor_id", "n_label",
          "sim", "rnk")
        .orderBy("query_id", "rnk")
    },

    // Embedding near-dup pairs, candidate-bounded by sign bucket.
    "s_embed_neardup" -> { (s, dir) =>
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.3, bits = 4, dim = 64)
        .orderBy("id_a", "id_b")
    },

    // Embedding near-dup CLUSTERS: the connected-components collapse
    // over the verified embedding pair graph — same label-propagation
    // operator as d_dup_clusters, composed with the cosine pair source.
    "s_embed_clusters" -> { (s, dir) =>
      val pairs = Similarity.nearDupPairs(t(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.3, bits = 4, dim = 64)
      graft.operators.Dedup.dupClusters(pairs).orderBy("canonical_id")
    },

    // SemDeDup (Abbas et al. 2023): semantic dedup by fitted k-means
    // cell — within a cell, a vector with a lower-id cosine-0.3
    // neighbor is dropped and names its keeper. The cluster-curation
    // sibling of s_embed_neardup (fitted cells, not sign buckets) and
    // of s_cluster_balanced (prune-by-similarity, not quota). Shares
    // the memoized k=8 coarse quantizer; frozen-centroid SQL twin.
    "s_semdedup" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val model = ivfModel(s, dir)
      ivfModels.put("s_semdedup", model)
      Similarity.semDedup(emb, "vec_id", "embedding", model,
        threshold = 0.3).orderBy("vec_id")
    },

    // Multimodal: binary payload → per-partition stub decode →
    // per-kind stats. Runs the real mapPartitions plumbing; the decode
    // features are deterministic functions of the payload so the SQL
    // twin is exact.
    "mm_decode_stats" -> { (s, dir) =>
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      val feats = Multimodal.extractFeatures(media)
      feats.toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          round(avg(col("width")), 6).as("avg_w"),
          round(avg(col("height")), 6).as("avg_h"),
          sum(col("nFrames")).as("total_frames"))
        .orderBy("kind")
    },

    // Audio windowing: frame/hop STFT window offsets per audio payload —
    // the metadata-only planner before any spectrogram decode, the
    // audio sibling of the video frame sampler.
    "mm_audio_windows" -> { (s, dir) =>
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      val feats = Multimodal.extractFeatures(media)
      Multimodal.audioWindowPlan(feats, frame = 64, hop = 32)
        .select(col("id").as("doc_id"), col("n_samples"), col("win_idx"),
          col("start_sample"))
        .orderBy("doc_id", "win_idx")
    },

    // Frame sampling: the planner stage of a two-pass video pipeline —
    // every 5th frame index per clip, metadata-only (no payload decode,
    // nothing binary crosses a shuffle).
    "mm_frame_sample" -> { (s, dir) =>
      val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
      val feats = Multimodal.extractFeatures(media)
      Multimodal.sampleFramePlan(feats, stride = 5)
        .select(col("id").as("doc_id"), col("nFrames").as("n_frames"),
          explode(col("frameIdx")).as("frame_idx"))
        .orderBy("doc_id", "frame_idx")
    },

    // REAL container parsing under the gate: valid BMP/WAV payloads are
    // synthesized deterministically from n_chars (incl. the top-down
    // BMP and between-chunks LIST layouts naive parsers break on), the
    // pure-JVM header parsers extract the metadata back, and the oracle
    // recomputes every expected field from n_chars with the same
    // arithmetic — an encode→parse round trip verified cross-engine.
    // This narrows the codec stub to the entropy-coded formats.
    "mm_codec_roundtrip" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        // even ids cycle the image formats — BMP (alternating top-down),
        // PNG (real IHDR CRC), GIF, JPEG; odd ids get WAVs, every 4th
        // with a LIST chunk before `data`
        if (id % 2 == 0) (id / 2) % 4 match {
          case 0 => MediaCodec.buildBmp(width = 1 + (n % 64).toInt,
            height = 1 + (n % 48).toInt, topDown = (id / 2) % 2 == 0)
          case 1 => MediaCodec.buildPng(width = 1 + (n % 128).toInt,
            height = 1 + ((n * 3) % 128).toInt)
          case 2 => MediaCodec.buildGif(width = 1 + (n % 300).toInt,
            height = 1 + ((n * 7) % 200).toInt)
          case _ => MediaCodec.buildJpeg(width = 1 + (n % 1000).toInt,
            height = 1 + ((n * 11) % 1000).toInt)
        }
        else MediaCodec.buildWav(channels = if (id % 4 == 3) 2 else 1,
          sampleRate = 8000 + (n % 8000).toInt, nSamples = n * 4,
          withListChunk = id % 4 == 1)
      }
      MediaCodec.decodeEach(media)(
        (id, p) => Some(MediaCodec.decode(id, p))).toDF()
        .orderBy("id")
    },

    // REAL pixel decode under the gate: every doc becomes a patterned
    // uncompressed 24-bpp BMP (real BGR byte order, real 4-byte row
    // padding, bottom-up and top-down row orders alternating by id);
    // the pure-JVM decoder reads the BYTES back into channel means and
    // the image-space top-row mean (the statistic that catches a
    // mis-handled bottom-up layout), and the oracle recomputes every
    // field from (w, h, seed) arithmetic alone. Means are exact integer
    // sums divided once, so both engines agree bit-for-bit. With this,
    // the pixel-level stand-in covers only entropy-coded formats
    // (JPEG/H.264); BMP decodes for real end to end.
    "mm_bmp_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildBmpPattern(width = 1 + (n % 48).toInt,
          height = 1 + (n % 32).toInt, topDown = id % 2 == 0, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeBmpPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL progressive-JPEG (SOF2) decode under the gate: the fixture
    // carries a DC scan plus an AC band scan whose all-zero blocks fold
    // into EOBRUN runs spanning blocks — the spectral-selection coding
    // model. The coefficient array accumulates across scans and goes
    // through the same dequant + IDCT as baseline, so the DC-only
    // fixture stays exact and the oracle re-derives the means from
    // block arithmetic. Successive-approximation refinement scans stay
    // behind the decoder seam (None), pinned in spec.
    "mm_jpeg_prog" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildJpegProgressivePattern(width = 1 + (n % 33).toInt,
          height = 1 + (n % 21).toInt, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeJpegProgressive).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanGray"), 6).as("mean_gray"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL successive-approximation progressive decode under the gate:
    // four scans (DC/AC first pass at Al=1, then both Ah=1→Al=0
    // refinements). The fixture's DC values are 8·(v−128)+5, so the
    // decoded pixel is exactly v+1 ONLY when the refinement scans are
    // actually applied — a decoder that stopped after the first pass
    // sits on 8m+4, where half-even rounding diverges on alternating
    // blocks; the oracle re-derives v+1 from block coordinates.
    "mm_jpeg_refine" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildJpegRefinePattern(width = 1 + (n % 29).toInt,
          height = 1 + (n % 17).toInt, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeJpegProgressive).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanGray"), 6).as("mean_gray"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // Image near-dup dedup via perceptual hash: REAL BMP decode →
    // integer-exact 8×8 aHash (cross-multiplied mean compare, no fp)
    // → group by the 64-bit key. The fixture seeds pictures by
    // doc_id mod 37, so the corpus carries ~37 recurring images and
    // the groups recover exactly those classes — the LAION-style
    // image-dedup shape: payloads hash map-side per partition, only
    // the 64-char key and the count aggregation shuffle.
    "mm_ahash_dupes" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, _) =>
        // dimensions ≥ 8 so every grid cell is populated, derived from
        // the class so its members are pixel-identical
        val c = id % 37
        MediaCodec.buildBmpTexture(width = 8 + (c % 5).toInt * 4,
          height = 8 + (c % 3).toInt * 4, topDown = id % 2 == 0, seed = c)
      }
      MediaCodec.decodeEach(media)(MediaCodec.ahashBmp).toDF()
        .groupBy("width", "height", "ahash")
        .agg(count(lit(1)).as("n_docs"), min(col("id")).as("canonical_id"))
        .orderBy("width", "height", "ahash")
    },

    // Image NEAR-dup pairs: REAL decode → aHash → exact-dup collapse
    // (distinct hashes, carrying the canonical doc) → BANDED Hamming
    // join (Dedup.hammingNearDups: 8 bands of 8 bits, one equi-join,
    // pigeonhole recall 1.0 within maxDist ≤ bands−1) → codegen'd
    // xor/popcount verify. The fixture plants 7 twin classes one
    // complemented grid cell from their base class (≤ 5 bits);
    // unrelated classes sit ≥ 7 bits apart (spec-pinned), so the
    // output IS exactly those pairs at maxDist = 5.
    "mm_image_neardups" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        (id, _) => MediaCodec.buildBmpTwinTexture(id % 37))
      val classes = MediaCodec.decodeEach(media)(MediaCodec.ahashBmp).toDF()
        .groupBy("ahash")
        .agg(min(col("id")).as("cid"))
        .withColumn("h",
          shiftleft(conv(substring(col("ahash"), 1, 32), 2, 10)
            .cast("long"), 32)
            .bitwiseOR(conv(substring(col("ahash"), 33, 32), 2, 10)
              .cast("long")))
      graft.operators.Dedup.hammingNearDups(
          classes, "cid", "h", nBits = 64, bands = 8, maxDist = 5)
        .orderBy("id_a", "id_b")
    },

    // Perceptual DCT-hash (pHash) near-dups through the UNIFIED gray
    // entry point: even docs are REAL BMPs (both row orders), odd docs
    // REAL PNGs (split IDAT every third id) of the same class picture —
    // decodeGray → phashGray hashes both containers to identical bits,
    // so the exact-dup collapse groups ACROSS formats (a
    // format-dependent hash would split every class in two and move
    // every canonical id, diverging the gate). Planted exposure-ramp
    // twins sit 26..33 aHash bits from their base — aHash could never
    // pair them — but only 2..4 pHash bits away (a near-horizontal
    // gradient lives in the v=0 DCT column that phashGray excludes),
    // and the banded Hamming join surfaces exactly those pairs.
    "mm_phash_dupes" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, _) =>
        val c = id % 37
        if (id % 2 == 0)
          MediaCodec.encodeBmpRgb(48, 32, topDown = (id / 2) % 2 == 0,
            MediaCodec.phashTwinRgb(c))
        else MediaCodec.encodePngRgb(48, 32, MediaCodec.phashTwinRgb(c),
          splitIdat = id % 3 == 0)
      }
      val classes = MediaCodec.decodeEach(media) { (id, p) =>
        MediaCodec.decodeGray(p).map(g => MediaCodec.ImagePhash(id,
          g.width, g.height, MediaCodec.phashGray(g)))
      }.toDF()
        .groupBy("phash")
        .agg(min(col("id")).as("cid"))
        .withColumn("h",
          shiftleft(conv(substring(col("phash"), 1, 32), 2, 10)
            .cast("long"), 32)
            .bitwiseOR(conv(substring(col("phash"), 33, 32), 2, 10)
              .cast("long")))
      graft.operators.Dedup.hammingNearDups(
          classes, "cid", "h", nBits = 64, bands = 8, maxDist = 5)
        .orderBy("id_a", "id_b")
    },

    // Windowed audio loudness profile: REAL PCM16 decode → per-window
    // (100 frames) energy and max-|sample|, silence = quiet window —
    // the speech-curation stats (silence share, clip energy) an audio
    // pipeline filters on, exact integer arithmetic end to end. The
    // fixture mutes every 5th window (|v| ≤ 48 vs threshold 64) so the
    // detector has real silence to find.
    "mm_wav_energy" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(wavEnergyClip)
      MediaCodec.decodeEach(media)(
        (id, p) => MediaCodec.wavEnergy(id, p)).toDF()
        .select(col("id").as("doc_id"), col("nWindows").as("n_windows"),
          col("energyTotal").as("energy_total"),
          col("nSilent").as("n_silent"),
          col("peakWindowEnergy").as("peak_window_energy"))
        .orderBy("doc_id")
    },

    // Zero-crossing profile over the same clips as mm_wav_energy —
    // ZCR + energy is the classic cheap speech/music/noise
    // discriminator; strict sign flips (prev·cur < 0) per channel,
    // exact integers, one map-side decode.
    "mm_wav_zcr" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(wavEnergyClip)
      MediaCodec.decodeEach(media)(MediaCodec.wavZcr).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("nFrames").as("n_frames"), col("crossings"))
        .orderBy("doc_id")
    },

    // REAL 4:2:0 subsampled-JPEG decode under the gate — the dominant
    // wild-web JPEG layout: each 16×16 MCU carries four interleaved Y
    // blocks plus one Cb and one Cr, and the decoder replicates the
    // half-resolution chroma 2× (JFIF simple upsampling) before the
    // fixed-point color conversion. Chroma is MCU-constant in the
    // fixture so replication is exact and the oracle re-derives every
    // pixel from integer arithmetic; a wrong MCU sub-block order or a
    // chroma coordinate shift off by one diverges the hash.
    "mm_jpeg_420" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildJpeg420Pattern(width = 1 + (n % 52).toInt,
          height = 1 + (n % 34).toInt, seed = id,
          restartInterval = restartEvery3rd(id))
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeJpegRgb).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL 4:4:4 COLOR baseline-JPEG decode under the gate: three
    // component-interleaved entropy streams with independent DC
    // predictors, each DC-only under an all-ones quant table (exact
    // through the IDCT), then the fixed-point JFIF YCbCr→RGB with a
    // non-negative bias so truncating (DuckDB //) and flooring
    // (JVM >>) divisions agree — the oracle mirrors the conversion
    // bit-for-bit in SQL integer arithmetic.
    "mm_jpeg_rgb" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildJpegColorPattern(width = 1 + (n % 28).toInt,
          height = 1 + (n % 18).toInt, seed = id,
          restartInterval = restartEvery3rd(id))
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeJpegRgb).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL baseline-JPEG decode under the gate: every doc becomes a
    // block-constant grayscale JPEG — with an all-ones quant table and
    // DC-only blocks the lossy format carries a LOSSLESS fixture
    // (IDCT of a DC-only block is exactly DC/8 per sample), so the full
    // real pipeline (marker walk, file-read Huffman tables, entropy
    // decode with byte destuffing and DC prediction, dequant, 8×8 IDCT)
    // runs under a hash gate whose oracle recomputes the means from
    // block arithmetic alone. The AC/run-length half of the decoder is
    // spec-exercised with arbitrary-coefficient round trips.
    "mm_jpeg_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildJpegPattern(width = 1 + (n % 44).toInt,
          height = 1 + (n % 26).toInt, seed = id,
          restartInterval = restartEvery3rd(id))
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeJpegPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanGray"), 6).as("mean_gray"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL LZW decode under the gate: every doc becomes a patterned
    // indexed GIF (256-entry global color table, every third id with a
    // Graphic Control Extension before the frame), compressed with the
    // real variable-width GIF LZW at encode and decompressed by the
    // real decoder — table growth 9→12 bits, Clear resets, KwKwK —
    // then mapped through the color table READ FROM THE FILE. The
    // oracle recomputes the channel means from (w, h, seed) arithmetic
    // through the palette formulas — a mis-assigned LZW code width or
    // a palette off-by-one diverges the hash.
    "mm_gif_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildGifPattern(width = 1 + (n % 56).toInt,
          height = 1 + (n % 28).toInt, seed = id,
          withExtension = id % 3 == 0, interlaced = id % 5 == 4)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeGifPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL VP8L (WebP-lossless) decode under the gate: every doc
    // becomes a real VP8L bitstream — subtract-green transform,
    // code-length-coded canonical prefix trees (repeat-16 runs) plus
    // 1-symbol simple trees, LZ77 backward references with prefix-coded
    // lengths and extra bits (one per row), and a 64-entry color cache
    // hit on revisited colors — decoded by the full spec walk back to
    // ARGB. The oracle recomputes the channel means from the (x + 7y +
    // id) mod 256 pattern, so a bit-order, canonical-assignment,
    // cache-hash, or transform-inverse bug diverges the hash.
    "mm_webpl_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildWebplPixelFile)
      MediaCodec.decodeEach(media)(MediaCodec.parseWebplPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // VP8L COLOR-INDEXING transform under the gate: a delta-coded
    // palette row (its own entropy image), pixel BUNDLING at 8/4/2
    // indices per green byte (k = 2 + id mod 15 rotates all widths),
    // and the out-of-range-index rule — the palette-WebP shape most
    // icon/UI crawl media actually has.
    "mm_webpl_palette" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildWebplPaletteFile)
      MediaCodec.decodeEach(media)(MediaCodec.parseWebplPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"))
        .orderBy("doc_id")
    },

    // VP8L PREDICTOR transform under the gate: per-4×4-block modes
    // rotating through ALL 14 spec predictors (averages, Select,
    // ClampAddSubtractFull/Half), spec edge rules and flat-array
    // top-right addressing — the residual coding real photographic
    // lossless WebPs use. The oracle sees only the reconstructed
    // pattern: any predictor bug diverges the means.
    "mm_webpl_predict" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildWebplPredictFile)
      MediaCodec.decodeEach(media)(MediaCodec.parseWebplPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // VP8L CROSS-COLOR transform under the gate: per-4×4-block signed
    // 3.5 fixed-point ColorTransformElements sweeping the full byte
    // range — the residual channel correlation real photographic
    // lossless WebPs carry. With this the decoder covers ALL FOUR
    // spec transforms.
    "mm_webpl_cross" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildWebplCrossFile)
      MediaCodec.decodeEach(media)(MediaCodec.parseWebplPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"))
        .orderBy("doc_id")
    },

    // VP8L META-PREFIX entropy image under the gate: 2-4 five-tree
    // groups selected per 4×4 block, each group's green code a
    // different rotation of the canonical length split — the
    // multi-entropy-group layout cwebp emits for any non-trivial
    // photo. One wrong group pick desynchronizes the stream.
    "mm_webpl_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildWebplMetaFile)
      MediaCodec.decodeEach(media)(MediaCodec.parseWebplPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"))
        .orderBy("doc_id")
    },

    // REAL indexed-BMP decode under the gate: 8-bpp palette BMPs
    // (BITMAPINFOHEADER BGRA color table, 1-byte-per-pixel rows padded
    // to 4, both row orders) — the third container sharing the one
    // palette formula, so a table-offset or BGRA-order bug diverges
    // while the GIF/PNG paths stay green.
    "mm_bmp_palette" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildBmpPalettePattern(width = 1 + (n % 44).toInt,
          height = 1 + (n % 22).toInt, topDown = id % 2 == 0, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeBmpPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // VIDEO near-dup pairs over REAL animation decode — the video-
    // curation flagship composed end to end: every doc encodes one of
    // 29 class animations through the real GIF encoder (classes 23..28
    // are perceptual twins of 0..5 — a four-pixel edit in frame 2 that
    // persists on the canvas), every 2nd composited frame pHashes
    // map-side, identical hash SEQUENCES collapse to one class, and
    // frameNearDupVideos pairs classes whose frames match
    // index-for-index with mean distance ≤ 4 bits (banded (frame,
    // band, value) candidates, pigeonhole recall exact within the
    // criterion). Twins sit ≤ 3 mean bits from their base; unrelated
    // classes ≥ 9 — the output IS the six planted twin pairs.
    "mm_video_neardups" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, _) =>
        // 29 classes of 64×32 animations with 6..10 frames: frame 0 a
        // class texture, frames f ≥ 1 the slot-(f−1) sub-rect; a twin
        // class re-indexes its base's frame-2 top-left 2×2 pixels (+97),
        // an edit that persists on the canvas from frame 2 on
        val c = id % 29
        val base = if (c >= 23) c - 23 else c
        val twin = c >= 23
        MediaCodec.encodeGifAnim(64, 32, 6 + (base % 5).toInt, (f, x, y) =>
          (if (f == 0) (31L * x + 47L * y + 61L * base) % 256
           else {
             val add =
               if (twin && f == 2 && x % 8 < 2 && y % 8 < 2) 97L else 0L
             (3L * x + 5L * y + 11L * f + 61L * base + add) % 256
           }).toInt)
      }
      val fh = MediaCodec.decodeEach(media)(
        MediaCodec.gifFrameHashes(stride = 2)).toDF()
      // ONE aggregate over the decode output carries BOTH downstream
      // shapes: the per-doc sorted (frameIdx, phash) list yields the
      // sequence key (collapse) AND, via min_by, the representative
      // doc's frame rows (verify input) — the previous sequence-collapse
      // + verify-JOIN consumed `fh` twice, re-running the whole GIF
      // decode per consumer (persisting the hashes was measured worse:
      // the cache build serialized the decode — r13 reverted list).
      // min_by is deterministic here (doc ids are unique per group), so
      // the exploded frames are exactly the min-id doc's rows — the
      // same rows the old `fh.join(classes, id === cid)` surfaced.
      val perDoc = fh.groupBy("id")
        .agg(sort_array(collect_list(struct(col("frameIdx"), col("phash"))))
          .as("fr"))
      val classes = perDoc
        .groupBy(concat_ws("|",
          transform(col("fr"), e => e.getField("phash"))).as("seq_key"))
        .agg(min(col("id")).as("cid"), min_by(col("fr"), col("id")).as("fr"))
      val frames = classes
        .select(col("cid"), explode(col("fr")).as("e"))
        .select(col("cid"), col("e.frameIdx").as("frameIdx"),
          shiftleft(conv(substring(col("e.phash"), 1, 32), 2, 10)
            .cast("long"), 32)
            .bitwiseOR(conv(substring(col("e.phash"), 33, 32), 2, 10)
              .cast("long")).as("h"))
      graft.operators.Dedup.frameNearDupVideos(frames, "cid", "frameIdx",
          "h", nBits = 64, bands = 8, maxAvgDist = 4)
        .orderBy("id_a", "id_b")
    },

    // REAL indexed-PNG decode under the gate: 8-bit PALETTE PNGs
    // (color type 3 — the favicon/sprite/chart shape of wild-web
    // images): PLTE chunk, 1-byte-per-pixel scanlines through all five
    // filters at the bpp=1 left distance (a defilter that assumes
    // truecolor's 3-byte distance reconstructs garbage), palette
    // expansion to channel means. Oracle from index/palette arithmetic.
    "mm_png_palette" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildPngPalettePattern(width = 1 + (n % 50).toInt,
          height = 1 + (n % 26).toInt, seed = id, splitIdat = id % 3 == 0)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodePngPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL frame sampling over REAL animation decode — the video-shaped
    // path made concrete: every doc becomes a multi-frame GIF89a
    // (NETSCAPE loop extension, per-frame Graphic Control Extensions,
    // frame 0 full-canvas then 8×8 sub-rectangle updates, each frame
    // LZW-compressed for real), the decoder composites every frame onto
    // the logical screen and emits the exact canvas gray total for
    // every 3rd frame. The oracle re-derives each sampled frame's total
    // from the palette/pattern arithmetic and the non-overlapping
    // sub-rect delta sums — a composition bug (wrong rect placement,
    // stale canvas, palette misread, frame miscount) diverges the hash.
    "mm_gif_frames" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildGifAnimPattern(width = 40, height = 24,
          nFrames = 2 + (n % 13).toInt, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.gifFrameStats(stride = 3))
        .toDF()
        .select(col("id").as("doc_id"), col("nFrames").as("n_frames"),
          col("frameIdx").as("frame_idx"), col("graySum").as("gray_sum"))
        .orderBy("doc_id", "frame_idx")
    },

    // REAL compressed-image decode under the gate: every doc becomes a
    // patterned truecolor PNG whose scanlines cycle ALL FIVE filter
    // types (real forward-filter math at encode), every third id split
    // across two IDAT chunks; the pure-JVM decoder walks chunks with
    // CRC verification, inflates the DEFLATE stream, reconstructs every
    // filter type, and reduces to the same channel-mean statistics as
    // mm_bmp_pixels. The oracle recomputes them from (w, h, seed)
    // arithmetic alone — a defilter bug in ANY of the five paths (or a
    // mis-joined IDAT boundary) diverges the hash. With this the pixel
    // stand-in covers only the entropy-coded formats (JPEG/H.264).
    "mm_png_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildPngPattern(width = 1 + (n % 40).toInt,
          height = 1 + (n % 24).toInt, seed = id, splitIdat = id % 3 == 0)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodePngPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // VP8 keyframe bitstream mechanics under the gate (RFC 6386): the
    // boolean arithmetic decoder, frame/partition headers, mode trees,
    // token trees with nonzero contexts, dequant, exact integer
    // inverse WHT + 4x4 IDCT, and all four 16x16 intra predictors
    // with spec edge rows. DC-only residuals keep each MB's
    // reconstruction uniform, so the oracle replays prediction + the
    // two DC transform paths as floor-shift arithmetic over the MB
    // grid — any bool-coder, context, tree, or predictor slip
    // diverges the means. (Default prob/quant TABLE VALUES are
    // documented stand-ins — see Vp8Codec's doc.)
    "mm_vp8_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        Vp8Codec.buildVp8Frame)
      MediaCodec.decodeEach(media)(Vp8Codec.parseVp8Pixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("qindex"),
          round(col("meanY"), 6).as("mean_y"),
          round(col("meanU"), 6).as("mean_u"),
          round(col("meanV"), 6).as("mean_v"))
        .orderBy("doc_id")
    },

    // H.264 I_PCM IDR slices under the gate: the REAL slice-layer
    // decode (ITU-T H.264 §7.3.3-7.3.5) — full IDR slice header,
    // macroblock loop with mb_type = I_PCM, pcm alignment, and raw
    // 4:2:0 samples placed per MB — byte-exact on conforming
    // streams, no stand-in tables; emulation-prevention is
    // load-bearing (PCM bytes hit 00 00 0x runs).
    "mm_avc_islice" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildAvcIslicePattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseAvcIslice).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("nMbs").as("n_mbs"), col("qpY").as("qp_y"),
          col("sumY").as("sum_y"), col("sumCb").as("sum_cb"),
          col("sumCr").as("sum_cr"), col("firstY").as("first_y"))
        .orderBy("doc_id")
    },

    // WebM VIDEO CONTENT under the gate: the EBML walk to the V_VP8
    // track's SimpleBlocks, every block payload decoded as a real VP8
    // keyframe through the RFC 6386 path — container walk + codec
    // decode end-to-end, the wild .webm shape. Exact integer pixel
    // sums across frames, no float averaging on either side.
    "mm_webm_frames" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        Vp8Codec.buildWebmVideo)
      MediaCodec.decodeEach(media)(Vp8Codec.parseWebmFrames).toDF()
        .select(col("id").as("doc_id"), col("nFrames").as("n_frames"),
          col("width"), col("height"),
          col("sumY").as("sum_y"), col("sumU").as("sum_u"),
          col("sumV").as("sum_v"))
        .orderBy("doc_id")
    },

    // LOSSY WebP under the gate: the RIFF/'VP8 ' container walked to
    // the embedded VP8 keyframe (the wild web's dominant webp
    // layout), decoded through the same RFC 6386 path as
    // mm_vp8_pixels — with shifted seeds so the two oracles differ.
    "mm_webp_lossy" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        Vp8Codec.buildWebpLossy)
      MediaCodec.decodeEach(media)(Vp8Codec.parseWebpLossy).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          col("qindex"),
          round(col("meanY"), 6).as("mean_y"),
          round(col("meanU"), 6).as("mean_u"),
          round(col("meanV"), 6).as("mean_v"))
        .orderBy("doc_id")
    },

    // ADAM7-INTERLACED PNG under the gate: the seven reduced images
    // defiltered independently and scattered back, with EMPTY passes
    // (images narrower/shorter than 5) in-corpus — the progressive
    // layout early-web crawl media still carries.
    "mm_png_adam7" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildPngAdam7Pattern(width = 1 + (n % 38).toInt,
          height = 1 + (n % 19).toInt, seed = id, splitIdat = id % 3 == 0)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodePngPixels).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"),
          round(col("meanR"), 6).as("mean_r"),
          round(col("meanG"), 6).as("mean_g"),
          round(col("meanB"), 6).as("mean_b"),
          round(col("topRowMean"), 6).as("top_row_mean"))
        .orderBy("doc_id")
    },

    // REAL COMPRESSED-audio decode under the gate: every doc becomes a
    // µ-law WAV (G.711, format tag 7 — the telephony standard) with a
    // deterministic companded byte pattern; the decoder expands each
    // byte to linear int16 via the CCITT formula (complement, 3-bit
    // exponent, 4-bit mantissa, bias 0x84) and reduces to the same
    // loudness statistics as mm_wav_samples. The oracle mirrors the
    // expansion in SQL integer arithmetic — stateless per sample, so
    // the full compressed→linear path is hash-gated.
    "mm_wav_ulaw" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildWavUlawPattern(channels = 1 + (id % 2).toInt,
          sampleRate = 8000, nSamples = 1 + n % 400, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeWavUlaw).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"),
          round(col("meanSample"), 6).as("mean_sample"),
          round(col("meanAbs"), 6).as("mean_abs"),
          col("peakAbs").as("peak_abs"),
          round(col("firstFrameMean"), 6).as("first_frame_mean"))
        .orderBy("doc_id")
    },

    // REAL IMA-ADPCM decode under the gate — the PREDICTIVE-audio
    // codec path (4-bit step-adaptive DPCM, the common compressed
    // WAV of wild-web audio): every doc encodes the closed-form PCM
    // target through the real greedy quantizer into real multi-block
    // tag-0x11 WAV (per-channel block headers, interleaved 4-byte
    // nibble groups, fact chunk, zero-padded final block); the
    // decoder reconstructs the stream via the public step/index
    // tables and reduces to the same loudness statistics as
    // mm_wav_samples. The oracle SIMULATES the full encoder+decoder
    // state chain frame-by-frame in a recursive CTE over the same
    // integer arithmetic and the same embedded step table — any
    // drift in prediction, clamping, index adaptation, nibble
    // packing, or block-boundary state reset diverges the hash.
    "mm_wav_adpcm" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildWavAdpcmPattern(channels = 1 + (id % 2).toInt,
          sampleRate = 8000, nFrames = 64 + (n % 512).toInt, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeWavAdpcm).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"),
          round(col("meanSample"), 6).as("mean_sample"),
          round(col("meanAbs"), 6).as("mean_abs"),
          col("peakAbs").as("peak_abs"),
          round(col("firstFrameMean"), 6).as("first_frame_mean"))
        .orderBy("doc_id")
    },

    // REAL MP4/ISO-BMFF container walk under the gate — the metadata a
    // video intake pipeline filters on BEFORE any frame decode (ISO/IEC
    // 14496-12 box grammar, pure-JVM arithmetic): every doc becomes a
    // structurally-varied two-track MP4 (v0/v1 mvhd, 32/64-bit mdat
    // sizes, free/uuid boxes, moov-before/after-mdat layouts) and the
    // walk must recover brand, track count, tkhd/stsd dimensions, mvhd
    // duration, codec fourccs, mp4a channels + 16.16 sample rate, and
    // mdat payload bytes from real bytes. The oracle re-derives every
    // field from the fixture's (doc_id, n_chars) arithmetic — a walk
    // bug on ANY structural variant diverges the hash. Frame pixels
    // (H.264 entropy decode) stay behind the decoder seam.
    "mm_mp4_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildMp4Pattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseMp4Meta).toDF()
        .select(col("id").as("doc_id"), col("brand"),
          col("nTracks").as("n_tracks"),
          col("durationMs").as("duration_ms"),
          col("width"), col("height"),
          col("videoCodec").as("video_codec"),
          col("audioCodec").as("audio_codec"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("mdatBytes").as("mdat_bytes"))
        .orderBy("doc_id")
    },

    // REAL MPEG-audio frame-header walk under the gate — the audio
    // twin of mm_mp4_meta (ISO/IEC 11172-3 header grammar + public
    // bitrate/samplerate tables): every doc becomes a CBR MPEG1
    // Layer III stream with per-frame padding (frame sizes VARY — the
    // walk must read every header, not stride), an ID3v2 tag to skip
    // for every 3rd id, and the walk recovers bitrate, sample rate,
    // channel mode, frame count, exact byte total, and the CBR
    // duration. The oracle mirrors the frame-length formula
    // 144·bitrate/rate + padding and the padding-count arithmetic in
    // SQL. Huffman-coded granules stay behind the decoder seam.
    "mm_mp3_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildMp3Pattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseMp3Meta).toDF()
        .select(col("id").as("doc_id"), col("hasId3").as("has_id3"),
          col("bitrateKbps").as("bitrate_kbps"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nFrames").as("n_frames"),
          col("audioBytes").as("audio_bytes"),
          col("durationMs").as("duration_ms"))
        .orderBy("doc_id")
    },

    // REAL FLAC decode under the gate — the full lossless path, not a
    // header walk: STREAMINFO, frame-header grammar (rate-code table
    // AND the code-0 "from STREAMINFO" branch), CRC-8, rotating
    // constant/verbatim/fixed-order-1 subframes, partitioned rice
    // residuals (k varies per partition so unary quotients occur),
    // CRC-16 — reduced to exact-integer loudness stats. The oracle
    // re-derives every decoded SAMPLE from the fixture's (doc_id,
    // n_chars, frame, channel, index) arithmetic (the order-1 chain
    // via a cumulative residual sum), so a rice off-by-one, a zigzag
    // flip, a predictor drift, or a partition-boundary bug diverges
    // the hash. LPC subframes decode under their own gate,
    // mm_flac_lpc.
    "mm_flac_pcm" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildFlacPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseFlacMeta).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nFrames").as("n_frames"),
          col("totalSamples").as("total_samples"),
          col("sumSamples").as("sum_samples"),
          col("sumAbs").as("sum_abs"),
          col("peakAbs").as("peak_abs"),
          col("firstSample").as("first_sample"))
        .orderBy("doc_id")
    },

    // REAL Xing/Info VBR-header parse + variable-bitrate frame walk —
    // how a real intake derives duration for VBR MP3s (the CBR
    // formula over the first frame's bitrate is simply wrong there).
    // Frames rotate four bitrates with per-frame padding, so the byte
    // total is only reachable by walking every variable-size frame,
    // and the parser CROSS-CHECKS the walked totals against the Xing
    // fields; the 100-byte seek TOC is pinned via its sum.
    "mm_mp3_vbr" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildMp3VbrPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseMp3Vbr).toDF()
        .select(col("id").as("doc_id"), col("isVbr").as("is_vbr"),
          col("nFrames").as("n_frames"),
          col("audioBytes").as("audio_bytes"),
          col("quality"), col("tocSum").as("toc_sum"),
          col("durationMs").as("duration_ms"))
        .orderBy("doc_id")
    },

    // REAL quantized-LPC FLAC decode under the gate — the subframe
    // type real encoders emit for nearly all music (RFC 9639 §9.2.6):
    // warmup samples, 4-bit coefficient precision, 5-bit shift, the
    // coefficient table, partitioned-rice residuals, and the 64-bit
    // multiply-accumulate-shift prediction. The fixture's two LPC
    // shapes (order-1 [1]>>1, order-2 [1,1]>>2) are contractive
    // floor-division recurrences the oracle replays exactly as a
    // recursive CTE — arithmetic shift is FLOOR division, and DuckDB's
    // `//` truncates, so the oracle floors explicitly; a truncate-vs-
    // floor confusion in the decoder diverges the hash on the first
    // odd negative sample. General (non-SQL-friendly) coefficients
    // are spec-driven against a direct recurrence.
    "mm_flac_lpc" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildFlacLpcPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseFlacMeta).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nFrames").as("n_frames"),
          col("totalSamples").as("total_samples"),
          col("sumSamples").as("sum_samples"),
          col("sumAbs").as("sum_abs"),
          col("peakAbs").as("peak_abs"),
          col("firstSample").as("first_sample"))
        .orderBy("doc_id")
    },

    // REAL wasted-bits FLAC decode under the gate (RFC 9639 §9.2.2) —
    // the subframe-header feature real encoders emit on shifted
    // material: per frame 1–3 wasted bits (count−1 unary after the
    // flag), subframes coded at 16−k bits, samples shifted back left.
    // The oracle multiplies the base arithmetic by the per-frame
    // power of two; a decoder that ignores the narrowed width or the
    // back-shift desynchronizes the bitstream or lands on wrong
    // magnitudes — either way the hash diverges.
    "mm_flac_wasted" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildFlacWastedPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseFlacMeta).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nFrames").as("n_frames"),
          col("totalSamples").as("total_samples"),
          col("sumSamples").as("sum_samples"),
          col("sumAbs").as("sum_abs"),
          col("peakAbs").as("peak_abs"),
          col("firstSample").as("first_sample"))
        .orderBy("doc_id")
    },

    // REAL stereo-decorrelation FLAC decode under the gate — the
    // channel layout real stereo encoders emit (RFC 9639 §9.1.3):
    // per frame a rotating independent / left-side / right-side /
    // mid-side assignment over the SAME (L, R) grids. Decorrelation
    // is lossless, so the oracle is mode-free grid arithmetic — but
    // the engine only reaches it by reading real 17-bit side
    // channels and undoing each mode's integer reconstruction, incl.
    // mid-side's shared-parity bit restore; (L−R) hits both
    // parities, so a dropped parity bit diverges the hash.
    "mm_flac_stereo" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildFlacStereoPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseFlacMeta).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nFrames").as("n_frames"),
          col("totalSamples").as("total_samples"),
          col("sumSamples").as("sum_samples"),
          col("sumAbs").as("sum_abs"),
          col("peakAbs").as("peak_abs"),
          col("firstSample").as("first_sample"))
        .orderBy("doc_id")
    },

    // REAL Ogg page walk under the gate (RFC 3533) — the container
    // triage an intake pipeline runs before any Vorbis/Opus work:
    // capture pattern, version, BOS/EOS structure, little-endian
    // granule/serial, lacing-table packet boundaries (every 5th
    // packet sized ≥ 255 so real 255-continuation entries occur),
    // and the Ogg CRC-32 (0x04C11DB7, init 0, unreflected — not the
    // zlib CRC) verified per page. The oracle re-derives page/packet
    // counts, payload bytes, and the final granule from the fixture
    // arithmetic; codec packets stay behind the decoder seam.
    "mm_ogg_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildOggPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseOggMeta).toDF()
        .select(col("id").as("doc_id"), col("serial"),
          col("nPages").as("n_pages"),
          col("nPackets").as("n_packets"),
          col("payloadBytes").as("payload_bytes"),
          col("lastGranule").as("last_granule"))
        .orderBy("doc_id")
    },

    // REAL ISO-BMFF sample tables under the gate — the next layer
    // below mm_mp4_meta's track walk, and what a video intake uses to
    // sample keyframes WITHOUT decoding: stts decode deltas, stsz in
    // BOTH forms (constant-size and per-sample), stss sync samples,
    // and the stsc→stco→stsz chain resolved to the last keyframe's
    // byte offset inside a real chunked mdat. The parser cross-checks
    // the tables against the actual bytes (Σstts = stsz count, chunk
    // offsets exactly where the layout puts them, sample bytes = mdat
    // length), so the fixture cannot be satisfied by echoing fields.
    "mm_mp4_samples" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildMp4SamplesPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseMp4Samples).toDF()
        .select(col("id").as("doc_id"),
          col("nSamples").as("n_samples"),
          col("totalSampleBytes").as("total_sample_bytes"),
          col("maxSampleSize").as("max_sample_size"),
          col("nKeyframes").as("n_keyframes"),
          col("nChunks").as("n_chunks"),
          col("durationUnits").as("duration_units"),
          col("lastKfRelOffset").as("last_kf_rel_offset"))
        .orderBy("doc_id")
    },

    // REAL codec identification behind the Ogg page walk — the first
    // packet of each stream parsed as OpusHead (RFC 7845 §5.1:
    // version, channels, pre-skip, input sample rate, all
    // little-endian) or a Vorbis identification header (Vorbis I
    // §4.2.2: version 0, channels, rate, blocksize sanity, framing
    // bit). This retires the decoder seam for audio METADATA: an
    // intake filter can route/shape on codec, channels, rate, and
    // pre-skip without any entropy decode. The oracle re-derives
    // every field from id arithmetic plus the page/packet counts from
    // the lacing grammar.
    "mm_opus_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildOggAudioPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseOggAudioMeta).toDF()
        .select(col("id").as("doc_id"), col("codec"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("preSkip").as("pre_skip"),
          col("nPages").as("n_pages"),
          col("nPackets").as("n_packets"),
          col("payloadBytes").as("payload_bytes"))
        .orderBy("doc_id")
    },

    // REAL EXIF walk under the gate (EXIF 2.3 over TIFF 6.0) — the
    // metadata an image intake rotates and filters on before any
    // pixel decode: the JPEG marker loop skips APP0/COM to the
    // "Exif\0\0" APP1, then the TIFF IFD walk runs in BOTH byte
    // orders (II for even ids, MM for odd — an endianness slip flips
    // every field), reading LONG dims, the left-justified inline
    // SHORT orientation, the Make string through a bounded data-area
    // offset, and ISO through the chained 0x8769 sub-IFD.
    "mm_exif_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildJpegExifPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseExifMeta).toDF()
        .select(col("id").as("doc_id"),
          col("byteOrder").as("byte_order"),
          col("orientation"), col("width"), col("height"),
          col("make"), col("iso"))
        .orderBy("doc_id")
    },

    // REAL comment-header parse behind the Ogg walk — the tag block
    // (OpusTags per RFC 7845 §5.2 / Vorbis comment per Vorbis I §5)
    // an intake pipeline routes on: vendor string, LE32-prefixed
    // "KEY=value" list, the LANG tag extracted under the
    // case-insensitive field-name rule, Vorbis framing bit. The
    // oracle re-derives the STRINGS too (chr/concat/repeat
    // arithmetic), so a byte-offset slip in the packet walk shows up
    // as a wrong character, not just a wrong count.
    "mm_vorbis_tags" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildOggTagsPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseOggTags).toDF()
        .select(col("id").as("doc_id"), col("codec"), col("vendor"),
          col("nComments").as("n_comments"),
          col("commentBytes").as("comment_bytes"),
          col("lang"))
        .orderBy("doc_id")
    },

    // REAL H.264/AVC parameter-set parse under the gate — the video
    // twin of mm_mp4_meta at the bitstream layer (ITU-T H.264
    // §7.3.2.1/§9.1): Annex-B start-code walk (3- and 4-byte), real
    // emulation-prevention unescaping, exp-Golomb ue(v)/se(v) reads
    // through the SPS (profile-conditional High-profile chroma branch,
    // poc-type branches, frame cropping with 4:2:0 crop units → pixel
    // dimensions) and the PPS (signed-Golomb init QP), IDR/non-IDR
    // slice counting. Slice entropy (CAVLC/CABAC) stays behind the
    // decoder seam. The oracle re-derives profile/level/dims/QP and the
    // per-slice byte sum from the fixture grid.
    "mm_avc_sps" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildAvcPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseAvcMeta).toDF()
        .select(col("id").as("doc_id"), col("profile"), col("level"),
          col("pocType").as("poc_type"),
          col("refFrames").as("ref_frames"),
          col("width"), col("height"), col("nNals").as("n_nals"),
          col("nIdr").as("n_idr"), col("sliceBytes").as("slice_bytes"),
          col("initQp").as("init_qp"))
        .orderBy("doc_id")
    },

    // REAL AAC ADTS frame walk under the gate — the MPEG-4 audio twin
    // of mm_mp3_meta (ISO/IEC 14496-3 §1.A.2.2): 12-bit sync, the
    // 13-bit per-frame length (frames vary, the walk reads every
    // header), profile / sampling-frequency-index / channel-config
    // consistency pinned across frames, duration from 1024 samples per
    // frame. Raw AAC payloads stay behind the decoder seam.
    "mm_aac_adts" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildAdtsPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseAdtsMeta).toDF()
        .select(col("id").as("doc_id"), col("profile"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("nFrames").as("n_frames"), col("aacBytes").as("aac_bytes"),
          col("durationMs").as("duration_ms"))
        .orderBy("doc_id")
    },

    // REAL WebP/RIFF walk under the gate: chunk framing with odd-size
    // padding, and all three bitstream headers — lossy VP8 (keyframe
    // start code, 14-bit dims), lossless VP8L (0x2f signature, packed
    // dims + alpha hint), extended VP8X (24-bit canvas + alpha flag,
    // where the embedded VP8 frame deliberately carries DIFFERENT
    // dims — reading the wrong header diverges the hash).
    "mm_webp_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        (id, _) => MediaCodec.buildWebpPattern(id))
      MediaCodec.decodeEach(media)(MediaCodec.parseWebpMeta).toDF()
        .select(col("id").as("doc_id"), col("format"),
          col("width"), col("height"), col("riffBytes").as("riff_bytes"),
          col("hasAlpha").as("has_alpha"))
        .orderBy("doc_id")
    },

    // REAL Opus packet-TOC walk under the gate (RFC 6716 §3, behind
    // the validated Ogg page walk + OpusHead/OpusTags verification):
    // all four frame-packing codes — single frame, equal split, the
    // 1-/2-byte length encoding (the fixture crosses the 252
    // boundary), code-3 count bytes with VBR per-frame lengths, CBR
    // equal division, and trailing padding — under the M·duration ≤
    // 120 ms rule, with exact µs durations (CELT's 2.5 ms frames make
    // ms lossy). Frame payloads stay behind the decoder seam; their
    // SIZES are the walk.
    "mm_opus_toc" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildOpusTocPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseOpusToc).toDF()
        .select(col("id").as("doc_id"), col("nPackets").as("n_packets"),
          col("nFrames").as("n_frames"),
          col("durationUs").as("duration_us"),
          col("stereoPackets").as("stereo_packets"),
          col("paddingBytes").as("padding_bytes"),
          col("frameBytes").as("frame_bytes"),
          col("maxFrame").as("max_frame"))
        .orderBy("doc_id")
    },

    // REAL TIFF content decode under the gate — the EXIF gate walks
    // IFD metadata; this one reads PIXELS: baseline 8-bit grayscale in
    // both byte orders, strip geometry from RowsPerStrip with the
    // StripOffsets/StripByteCounts arrays pulled from the data area,
    // samples reassembled across 2-30 strips into loudness-style
    // stats the oracle re-derives per (x, y).
    "mm_tiff_pixels" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        (id, _) => MediaCodec.buildTiffPattern(id))
      MediaCodec.decodeEach(media)(MediaCodec.parseTiffPixels).toDF()
        .select(col("id").as("doc_id"), col("byteOrder").as("byte_order"),
          col("width"), col("height"), col("nStrips").as("n_strips"),
          col("sumPix").as("sum_pix"), col("peak"),
          col("firstPix").as("first_pix"))
        .orderBy("doc_id")
    },

    // COMPRESSED TIFF under the gate: LZW (the MSB-first early-change
    // variant), PackBits, and Adobe-deflate strips — the three
    // compressions nearly every wild TIFF uses — LZW/deflate
    // alternating Predictor-2 horizontal differencing, with VARIABLE
    // StripByteCounts; same decoded-content stats, so the oracle is
    // only reachable through correct decompression.
    "mm_tiff_lzw" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        (id, _) => MediaCodec.buildTiffCompressedPattern(id))
      MediaCodec.decodeEach(media)(MediaCodec.parseTiffPixels).toDF()
        .select(col("id").as("doc_id"), col("byteOrder").as("byte_order"),
          col("width"), col("height"), col("nStrips").as("n_strips"),
          col("sumPix").as("sum_pix"), col("peak"),
          col("firstPix").as("first_pix"))
        .orderBy("doc_id")
    },

    // REAL ID3v2 frame walk under the gate — the tag block mm_mp3_meta
    // only SKIPS: the SYNCSAFE tag size (titles cross the 128-byte
    // carry, so a plain-int reader diverges), the v2.3 plain-int vs
    // v2.4 syncsafe FRAME-size split real parsers get wrong, latin1 vs
    // UTF-8 text encodings, the COMM language + description prefix,
    // unknown frames skipped by size, and zero padding verified to the
    // declared end. The oracle re-derives the strings AND the byte
    // arithmetic of the whole layout.
    "mm_id3_tags" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        (id, _) => MediaCodec.buildId3Pattern(id))
      MediaCodec.decodeEach(media)(MediaCodec.parseId3).toDF()
        .select(col("id").as("doc_id"), col("version"),
          col("tagBytes").as("tag_bytes"), col("nFrames").as("n_frames"),
          col("title"), col("artist"), col("album"), col("track"),
          col("year"), col("comment"))
        .orderBy("doc_id")
    },

    // REAL Matroska/EBML walk under the gate (RFC 8794 vints + the
    // public Matroska element grammar): DocType, Info (TimestampScale,
    // float64 Duration), both TrackEntry branches (codec ids, pixel
    // dims, float sampling rate, channels), and the Cluster's
    // SimpleBlock sizes. Sizes are minimal-width vints, so a
    // vint-width bug shifts every later offset and diverges the hash.
    // Block frame payloads are entropy-coded and stay behind the seam.
    "mm_mkv_meta" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents"))(
        MediaCodec.buildMkvPattern)
      MediaCodec.decodeEach(media)(MediaCodec.parseMkvMeta).toDF()
        .select(col("id").as("doc_id"), col("docType").as("doc_type"),
          col("tsScale").as("ts_scale"),
          col("durationMs").as("duration_ms"),
          col("nTracks").as("n_tracks"), col("vCodec").as("v_codec"),
          col("width"), col("height"), col("aCodec").as("a_codec"),
          col("channels"), col("sampleRate").as("sample_rate"),
          col("nBlocks").as("n_blocks"),
          col("blockBytes").as("block_bytes"))
        .orderBy("doc_id")
    },

    // REAL PCM16 sample decode under the gate — the audio twin of
    // mm_bmp_pixels: every doc becomes a patterned WAV (interleaved
    // little-endian int16 frames spanning negative values, LIST chunks
    // before `data` for every third id), the pure-JVM decoder reads the
    // samples back into the loudness statistics an audio-curation
    // pipeline filters on, and the oracle recomputes them from
    // (nSamples, channels, seed) arithmetic alone. Integer-exact sums,
    // one division.
    "mm_wav_samples" -> { (s, dir) =>
      val media = MediaCodec.fixture(s, t(s, dir, "documents")) { (id, n) =>
        MediaCodec.buildWavPattern(channels = 1 + (id % 2).toInt,
          sampleRate = 8000 + (n % 8000).toInt, nSamples = 1 + n % 512,
          withListChunk = id % 3 == 0, seed = id)
      }
      MediaCodec.decodeEach(media)(MediaCodec.decodeWavSamples).toDF()
        .select(col("id").as("doc_id"), col("channels"),
          col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"),
          round(col("meanSample"), 6).as("mean_sample"),
          round(col("meanAbs"), 6).as("mean_abs"),
          col("peakAbs").as("peak_abs"),
          round(col("firstFrameMean"), 6).as("first_frame_mean"))
        .orderBy("doc_id")
    }
  )

  /** The seeded Rademacher bucket, as SQL: per bit, a left-to-right
    * `0.0 ± v[1] ± v[2] …` sum — the exact fold order (and therefore the
    * exact doubles) of `Similarity.signBucket`. COALESCE mirrors the
    * Scala side's short-vector behavior (missing dims contribute 0). */
  private def bucketSqlExpr(bits: Int, dim: Int): String =
    Similarity.hyperplaneSigns(bits, dim).zipWithIndex.map { case (h, i) =>
      val dot = (0 until dim).map(j =>
        s"${if (h(j) > 0) "+" else "-"} " +
          s"COALESCE(CAST(embedding[${j + 1}] AS DOUBLE), 0.0)")
        .mkString("(0.0 ", " ", ")")
      s"(CASE WHEN $dot >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n + ", ")")

  /** DuckDB-side cosine over zipped unnest, all in double. */
  private def cosineSql(queryFilter: String, bucketJoin: Boolean,
                        k: Int, simThreshold: Option[Double],
                        multiProbe: Boolean = false): String = {
    val bucketExpr = bucketSqlExpr(bits = 4, dim = 64)
    val joinCond =
      if (bucketJoin) "q.bucket = c.bucket AND q.query_id <> c.neighbor_id"
      else "q.query_id <> c.neighbor_id"
    val qCte =
      if (multiProbe)
        s"""q AS (SELECT query_id, qv, xor(b0, m) AS bucket
           |  FROM (SELECT vec_id AS query_id, embedding AS qv,
           |          $bucketExpr AS b0 FROM embeddings WHERE $queryFilter),
           |       (SELECT unnest([0, 1, 2, 4, 8]) AS m))""".stripMargin
      else
        s"""q AS (SELECT vec_id AS query_id, embedding AS qv,
           |      $bucketExpr AS bucket FROM embeddings WHERE $queryFilter)""".stripMargin
    s"""WITH $qCte,
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
       |      $bucketExpr AS bucket FROM embeddings),
       |un AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y
       |       FROM q JOIN c ON $joinCond),
       |s AS (SELECT query_id, neighbor_id,
       |        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |      FROM un GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id,
       |        round(dot / sqrt(nx * ny), 4) AS sim,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |          AS INT) AS rnk
       |      FROM s)
       |SELECT query_id, neighbor_id, sim, rnk FROM ranked
       |WHERE rnk <= $k ${simThreshold.map(t => s"AND sim >= $t").getOrElse("")}
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** DuckDB twin of `Ivf.assign` + `Ivf.topK` with the fitted centroids
    * inlined as literals. Bit-exactness contract, mirroring VecDot /
    * cellScores term for term:
    *  - per-cell score = `normLit - 2.0 * (0.0 + CAST(v[1] AS DOUBLE)*c1
    *    + …)` — the same left-to-right double fold as the codegen'd
    *    VecDot loop, with `normLit` computed by the identical Scala
    *    expression (`c.map(x => x*x).sum`) that built the Spark literal;
    *  - corpus cell = `list_position(scores, list_min(scores)) - 1`
    *    (first index wins ties, same as array_position/array_min);
    *  - query probes = `list_sort` of (d, cell) structs sliced to 2 —
    *    DuckDB sorts struct lists field-by-field exactly like Spark's
    *    array_sort over struct(d, cell).
    * Double literals use Double.toString, which round-trips. */
  private def fmt(x: Double): String = java.lang.Double.toString(x)

  private def ivfScoreExpr(c: IndexedSeq[Double]): String = {
    val dot = c.indices.map(j =>
      s"CAST(embedding[${j + 1}] AS DOUBLE) * (${fmt(c(j))})")
      .mkString("(0.0 + ", " + ", ")")
    s"(${fmt(c.map(x => x * x).sum)} - 2.0 * $dot)"
  }

  private def ivfScoreList(model: Ivf.Model): String =
    model.centroids.map(ivfScoreExpr).mkString("[", ",\n ", "]")

  /** DuckDB twin of the full-corpus `Ivf.assign` pass (s_cluster_assign):
    * same frozen-centroid argmin as [[ivfSql]]'s corpus side. */
  private def clusterSql(model: Ivf.Model): String =
    s"""SELECT vec_id, CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |FROM (SELECT vec_id, ${ivfScoreList(model)} AS sl FROM embeddings)
       |ORDER BY vec_id""".stripMargin

  /** Per-cell majority-label fraction over the frozen-centroid assign —
    * emits the majority count, never the winning label, so ties are
    * engine-neutral. */
  private def clusterPuritySql(model: Ivf.Model): String =
    s"""WITH a AS (SELECT label,
       |    CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |  FROM (SELECT label, ${ivfScoreList(model)} AS sl
       |        FROM embeddings)),
       |c AS (SELECT cell, label, COUNT(*) AS n FROM a GROUP BY 1, 2)
       |SELECT cell, CAST(SUM(n) AS BIGINT) AS n_vecs,
       |  CAST(MAX(n) AS BIGINT) AS n_majority,
       |  round(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS purity
       |FROM c GROUP BY cell ORDER BY cell""".stripMargin

  /** DuckDB twin of `Similarity.semDedup`: frozen-centroid cell assign,
    * within-cell lower-id pairs at cosine ≥ `threshold` (rounded to 4
    * like every cosine oracle), keeper = min lower id. */
  private def semDedupSql(model: Ivf.Model, threshold: Double): String =
    s"""WITH a AS (SELECT vec_id, embedding,
       |    CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |  FROM (SELECT vec_id, embedding, ${ivfScoreList(model)} AS sl
       |        FROM embeddings)),
       |un AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       |        unnest(x.embedding) AS xa, unnest(y.embedding) AS yb
       |       FROM a x JOIN a y ON x.cell = y.cell
       |                        AND x.vec_id < y.vec_id),
       |s AS (SELECT id_a, id_b,
       |        sum(CAST(xa AS DOUBLE) * CAST(yb AS DOUBLE)) AS dot,
       |        sum(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE)) AS nx,
       |        sum(CAST(yb AS DOUBLE) * CAST(yb AS DOUBLE)) AS ny
       |      FROM un GROUP BY 1, 2),
       |k AS (SELECT id_b AS vec_id, MIN(id_a) AS kept_by FROM s
       |      WHERE round(dot / sqrt(nx * ny), 4) >= $threshold
       |      GROUP BY 1)
       |SELECT a.vec_id, cell, kept_by IS NOT NULL AS dropped, kept_by
       |FROM a LEFT JOIN k USING (vec_id) ORDER BY vec_id""".stripMargin

  /** The frozen-centroid assign + the md5-rank quota — the SQL twin of
    * `stratifiedTopK(assign(emb))` (the two-stage salting collapses to
    * a plain per-group rank in SQL: it changes the plan, not the
    * ranking). */
  private def clusterBalancedSql(model: Ivf.Model, k: Int): String =
    s"""WITH a AS (SELECT vec_id,
       |    CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |  FROM (SELECT vec_id, ${ivfScoreList(model)} AS sl
       |        FROM embeddings)),
       |r AS (SELECT cell, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS rnk
       |  FROM a)
       |SELECT cell, vec_id, rnk FROM r WHERE rnk <= $k
       |ORDER BY cell, rnk""".stripMargin

  /** The frozen-centroid probe/assign/rank CTE chain of the IVF
    * oracles, ending in `ranked(query_id, neighbor_id, sim, rnk)`.
    * `queryFilter` selects the query set — "vec_id < 10" for the
    * probe-set gates, "TRUE" for the corpus-sized k-NN join. */
  private def ivfRankedCtes(model: Ivf.Model, nProbe: Int,
                            queryFilter: String): String = {
    val scoreList = ivfScoreList(model)
    val probeList = model.centroids.zipWithIndex
      .map { case (c, i) => s"{'d': ${ivfScoreExpr(c)}, 'cell': $i}" }
      .mkString("[", ",\n ", "]")
    // one UNION ALL branch per probed cell — the DuckDB twin of the
    // Spark side's explode(slice(sorted_probes, 1, nProbe))
    val qp = (1 to nProbe)
      .map(i => s"SELECT query_id, qv, pl[$i].cell AS cell FROM q")
      .mkString("\n       UNION ALL ")
    s"""q AS (SELECT vec_id AS query_id, embedding AS qv,
       |        list_sort($probeList) AS pl
       |      FROM embeddings WHERE $queryFilter),
       |qp AS ($qp),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
       |        CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |      FROM (SELECT vec_id, embedding, $scoreList AS sl
       |            FROM embeddings)),
       |un AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(cv) AS y
       |       FROM qp JOIN c ON qp.cell = c.cell
       |                     AND qp.query_id <> c.neighbor_id),
       |s AS (SELECT query_id, neighbor_id,
       |        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |      FROM un GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id,
       |        round(dot / sqrt(nx * ny), 4) AS sim,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |          AS INT) AS rnk
       |      FROM s)""".stripMargin
  }

  private def ivfSql(model: Ivf.Model, k: Int, nProbe: Int,
                     queryFilter: String = "vec_id < 10"): String =
    s"""WITH ${ivfRankedCtes(model, nProbe, queryFilter)}
       |SELECT query_id, neighbor_id, sim, rnk FROM ranked
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  /** CTE chain ending in `mutual(id_a, id_b)` — the mutual-kNN edges
    * over the corpus-sized ranked list. */
  private def mutualKnnCtes(model: Ivf.Model, k: Int,
                            nProbe: Int): String =
    s"""${ivfRankedCtes(model, nProbe, "TRUE")},
       |e AS (SELECT query_id, neighbor_id FROM ranked WHERE rnk <= $k),
       |mutual AS (SELECT a.query_id AS id_a, a.neighbor_id AS id_b
       |  FROM e a JOIN e b ON a.query_id = b.neighbor_id
       |                   AND a.neighbor_id = b.query_id
       |  WHERE a.query_id < a.neighbor_id)""".stripMargin

  /** Mutual-kNN edges: (a, b) kept iff each is in the other's top-k —
    * the symmetric graph cluster curation builds on. */
  private def mutualKnnSql(model: Ivf.Model, k: Int,
                           nProbe: Int): String =
    s"""WITH ${mutualKnnCtes(model, k, nProbe)}
       |SELECT id_a, id_b FROM mutual
       |ORDER BY id_a, id_b""".stripMargin

  /** Connected components over the mutual-kNN edges — the DuckDB twin
    * of `Dedup.dupClusters(Ivf.mutualKnn(...))`. */
  private def knnComponentsSql(model: Ivf.Model, k: Int,
                               nProbe: Int): String =
    s"""WITH RECURSIVE ${mutualKnnCtes(model, k, nProbe)},
       |${sqlComponentsOver("mutual")}""".stripMargin

  /** DuckDB twin of `Ivf.hardNegatives`: the frozen-centroid probe and
    * assign of [[ivfSql]], plus both sides' labels and the
    * null-propagating `n_label <> q_label` join condition — clause for
    * clause the Spark plan's filters. */
  private def hardNegSql(model: Ivf.Model, k: Int, nProbe: Int): String = {
    val scoreList = ivfScoreList(model)
    val probeList = model.centroids.zipWithIndex
      .map { case (c, i) => s"{'d': ${ivfScoreExpr(c)}, 'cell': $i}" }
      .mkString("[", ",\n ", "]")
    val qp = (1 to nProbe)
      .map(i =>
        s"SELECT query_id, qv, q_label, pl[$i].cell AS cell FROM q")
      .mkString("\n       UNION ALL ")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
       |        label AS q_label, list_sort($probeList) AS pl
       |      FROM embeddings WHERE vec_id < 10),
       |qp AS ($qp),
       |c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
       |        label AS n_label,
       |        CAST(list_position(sl, list_min(sl)) - 1 AS INT) AS cell
       |      FROM (SELECT vec_id, embedding, label, $scoreList AS sl
       |            FROM embeddings)),
       |un AS (SELECT query_id, q_label, neighbor_id, n_label,
       |         unnest(qv) AS x, unnest(cv) AS y
       |       FROM qp JOIN c ON qp.cell = c.cell
       |                     AND qp.query_id <> c.neighbor_id
       |                     AND c.n_label <> qp.q_label),
       |s AS (SELECT query_id, q_label, neighbor_id, n_label,
       |        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |      FROM un GROUP BY 1, 2, 3, 4),
       |ranked AS (SELECT query_id, q_label, neighbor_id, n_label,
       |        round(dot / sqrt(nx * ny), 4) AS sim,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |          AS INT) AS rnk
       |      FROM s)
       |SELECT query_id, q_label, neighbor_id, n_label, sim, rnk
       |FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** DuckDB twin of `Sq.encode`∘`decode` + `Sq.adcTopK`: per dimension
    * the decoded value `mn + clamp₀₂₅₅(floor((x−mn)/range·255+0.5))·scale`
    * with mn/range/scale inlined from the frozen model (a degenerate
    * dimension decodes straight to its min, gated on non-null like the
    * Spark side), then the unnest-zip cosine of [[cosineSql]]. */
  private def sq8Sql(model: graft.operators.Sq.Model, k: Int): String = {
    val dv = (0 until model.dim).map { j =>
      val mn = fmt(model.mins(j))
      val rg = fmt(model.ranges(j))
      val sc = fmt(model.scales(j))
      if (model.ranges(j) > 0.0)
        s"(($mn) + greatest(0.0, least(255.0, floor(" +
          s"(CAST(embedding[${j + 1}] AS DOUBLE) - ($mn)) / ($rg) * 255.0" +
          s" + 0.5))) * ($sc))"
      else
        s"(CASE WHEN embedding[${j + 1}] IS NOT NULL THEN ($mn) END)"
    }.mkString("[", ",\n ", "]")
    s"""WITH c AS (SELECT vec_id AS neighbor_id, $dv AS dv FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < 10),
       |un AS (SELECT query_id, neighbor_id, unnest(qv) AS x, unnest(dv) AS y
       |       FROM q JOIN c ON query_id <> neighbor_id),
       |s AS (SELECT query_id, neighbor_id,
       |        sum(CAST(x AS DOUBLE) * y) AS dot,
       |        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |        sum(y * y) AS ny
       |      FROM un GROUP BY 1, 2),
       |ranked AS (SELECT query_id, neighbor_id,
       |        round(dot / sqrt(nx * ny), 4) AS sim,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |          AS INT) AS rnk
       |      FROM s)
       |SELECT query_id, neighbor_id, sim, rnk FROM ranked
       |WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** DuckDB twin of `Pq.encode` + `Pq.adcTopK` with the fitted codebook
    * inlined: per subspace, the same |c|² − 2·fold(v_s·c) score list
    * (argmin = codes, the query side = LUTs), then the left-assoc
    * `l0[code0+1] + l1[code1+1] + …` ADC sum `Pq.adcTopK` folds. */
  private def pqSubScoreList(s: Int, model: graft.operators.Pq.Model): String =
    model.centroids(s).map { c =>
      val base = s * model.dsub
      val dot = c.indices.map(j =>
        s"CAST(embedding[${base + j + 1}] AS DOUBLE) * (${fmt(c(j))})")
        .mkString("(0.0 + ", " + ", ")")
      s"(${fmt(c.map(x => x * x).sum)} - 2.0 * $dot)"
    }.mkString("[", ",\n ", "]")

  private def pqSql(model: graft.operators.Pq.Model, k: Int): String = {
    val m = model.m
    val slCols = (0 until m).map(s =>
      s"${pqSubScoreList(s, model)} AS sl$s").mkString(",\n  ")
    val codeCols = (0 until m).map(s =>
      s"CAST(list_position(sl$s, list_min(sl$s)) - 1 AS INT) AS code$s")
      .mkString(",\n  ")
    val lutCols = (0 until m).map(s =>
      s"${pqSubScoreList(s, model)} AS l$s").mkString(",\n  ")
    val scoreSum = (0 until m).map(s => s"l$s[code$s + 1]").mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS neighbor_id, $slCols FROM embeddings),
       |cc AS (SELECT neighbor_id, $codeCols FROM c),
       |q AS (SELECT vec_id AS query_id, $lutCols FROM embeddings
       |      WHERE vec_id < 10),
       |s AS (SELECT query_id, neighbor_id, round($scoreSum, 4) AS adist
       |      FROM q JOIN cc ON query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS INT) AS rnk FROM s)
       |SELECT query_id, neighbor_id, adist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** The residual sub-score list for subspace `s` of a row carrying an
    * `embedding` and a `cell` column, with the `c_s·cw` table bound as
    * the one-row `dcc` CTE: per codeword j,
    * `|cw_j|² − 2·((0.0 + v·cw_j left-assoc) − dcc[s+1][cell+1][j+1])` —
    * the exact double ops of `Pq.residSubScores` (distributed dot, NOT
    * subtract-then-dot, which would be a different float fold). */
  private def pqResidScoreList(s: Int,
                               model: graft.operators.Pq.Model): String =
    model.centroids(s).zipWithIndex.map { case (c, j) =>
      val base = s * model.dsub
      val dot = c.indices.map(i =>
        s"CAST(embedding[${base + i + 1}] AS DOUBLE) * (${fmt(c(i))})")
        .mkString("(0.0 + ", " + ", ")")
      s"(${fmt(c.map(x => x * x).sum)} - 2.0 * ($dot" +
        s" - dcc[${s + 1}][cell + 1][${j + 1}]))"
    }.mkString("[", ",\n ", "]")

  /** DuckDB twin of `Pq.ivfAdcTopK` (residual IVFADC): the corpus gets
    * its coarse cell (ivf argmin) AND its residual PQ codes; queries get
    * their `nProbe` probe cells, the coarse comparability term `ct`
    * (the probe struct's own `d`), and per-cell residual LUTs; the equi
    * join on cell + the left-assoc `ct + ΣADC` sum mirror the Spark
    * plan clause for clause. The `c_s·cw` literal table binds once as
    * the one-row `dcc` CTE (cross-joined), shared by both sides. */
  private def ivfPqRankedCtes(coarse: Ivf.Model,
                              model: graft.operators.Pq.Model,
                              nProbe: Int): String = {
    val m = model.m
    val dccLit = graft.operators.Pq.dccTable(coarse, model)
      .map(_.map(_.map(fmt).mkString("[", ", ", "]"))
        .mkString("[", ",\n   ", "]"))
      .mkString("[", ",\n  ", "]")
    val slCols = (0 until m).map(s =>
      s"${pqResidScoreList(s, model)} AS sl$s").mkString(",\n  ")
    val codeCols = (0 until m).map(s =>
      s"CAST(list_position(sl$s, list_min(sl$s)) - 1 AS INT) AS code$s")
      .mkString(",\n  ")
    val lutCols = (0 until m).map(s =>
      s"${pqResidScoreList(s, model)} AS l$s").mkString(",\n  ")
    val scoreSum = (0 until m).map(s => s"l$s[code$s + 1]").mkString(" + ")
    val probeList = coarse.centroids.zipWithIndex
      .map { case (c, i) => s"{'d': ${ivfScoreExpr(c)}, 'cell': $i}" }
      .mkString("[", ",\n ", "]")
    s"""dcc AS (SELECT $dccLit AS dcc),
       |c0 AS (SELECT vec_id AS neighbor_id, embedding,
       |  ${ivfScoreList(coarse)} AS csl FROM embeddings),
       |c1 AS (SELECT neighbor_id, embedding,
       |  CAST(list_position(csl, list_min(csl)) - 1 AS INT) AS cell
       |  FROM c0),
       |cs AS (SELECT neighbor_id, cell, $slCols FROM c1, dcc),
       |cc AS (SELECT neighbor_id, cell, $codeCols FROM cs),
       |q0 AS (SELECT vec_id AS query_id, embedding,
       |  list_sort($probeList) AS pl FROM embeddings WHERE vec_id < 10),
       |qp AS (${(1 to nProbe)
          .map(i => s"SELECT query_id, embedding, pl[$i].cell AS cell, " +
            s"pl[$i].d AS ct FROM q0")
          .mkString("\n  UNION ALL ")}),
       |ql AS (SELECT query_id, cell, ct, $lutCols FROM qp, dcc),
       |s AS (SELECT query_id, neighbor_id, round(ct + $scoreSum, 4) AS adist
       |      FROM ql JOIN cc ON ql.cell = cc.cell
       |                     AND query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS INT) AS rnk FROM s)""".stripMargin
  }

  private def ivfPqSql(coarse: Ivf.Model,
                       model: graft.operators.Pq.Model, k: Int,
                       nProbe: Int): String =
    s"""WITH ${ivfPqRankedCtes(coarse, model, nProbe)}
       |SELECT query_id, neighbor_id, adist, rnk FROM ranked
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** DuckDB twin of `Pq.ivfAdcRerankTopK`: the frozen-model ADC ranking
    * nominates the shortlist, then the same exact-cosine formula as
    * [[cosineSql]] re-ranks it. */
  private def ivfPqRerankSql(coarse: Ivf.Model,
                             model: graft.operators.Pq.Model, k: Int,
                             shortlist: Int, nProbe: Int): String =
    s"""WITH ${ivfPqRankedCtes(coarse, model, nProbe)},
       |short AS (SELECT query_id, neighbor_id FROM ranked
       |          WHERE rnk <= $shortlist),
       |un2 AS (SELECT sh.query_id, sh.neighbor_id,
       |          unnest(qe.embedding) AS x, unnest(ce.embedding) AS y
       |        FROM short sh
       |        JOIN embeddings qe ON qe.vec_id = sh.query_id
       |        JOIN embeddings ce ON ce.vec_id = sh.neighbor_id),
       |ex AS (SELECT query_id, neighbor_id,
       |         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |         sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |         sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |       FROM un2 GROUP BY 1, 2),
       |rr AS (SELECT query_id, neighbor_id,
       |         round(dot / sqrt(nx * ny), 4) AS sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |           AS INT) AS rnk
       |       FROM ex)
       |SELECT query_id, neighbor_id, sim, rnk FROM rr
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** recall@k of an approximate ANN result against the exact top-k:
    * mean over queries of |approx ∩ exact| / k. Both frames carry
    * (query_id, neighbor_id, rnk); ranking columns differ (sim vs adist)
    * but recall only counts neighbor-set overlap. */
  def recallAtK(exact: org.apache.spark.sql.DataFrame,
                approx: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val e = exact.filter(col("rnk") <= k).select("query_id", "neighbor_id")
    val a = approx.filter(col("rnk") <= k).select("query_id", "neighbor_id")
    val nQueries = e.select("query_id").distinct().count()
    if (nQueries == 0) 0.0
    else e.join(a, Seq("query_id", "neighbor_id")).count().toDouble /
      (nQueries * k)
  }

  /** recall@k of every approximate ANN query vs `s_ann_topk`'s exact
    * result on the same fixture — the oracles prove the approximate
    * plans compute exactly what they claim; THIS measures how
    * approximate they are (the number a recall/latency trade-off is
    * tuned against). Tracked by RecallSpec floors and the bench JSON. */
  def annRecall(s: org.apache.spark.sql.SparkSession, dir: String,
                k: Int = 3): Map[String, Double] = {
    val exact = defs("s_ann_topk")(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Seq("s_ann_lsh", "s_ann_lsh_probe", "s_ann_ivf", "s_ann_ivf_probe",
        "s_ann_pq", "s_ann_ivfpq", "s_ann_ivfpq_rerank", "s_ann_sq8",
        "s_ann_pca_rerank")
      .map(m => m -> recallAtK(exact, defs(m)(s, dir), k)).toMap
    finally exact.unpersist(blocking = false)
  }

  /** A deterministic clustered embedding fixture — `nClusters` modes on
    * the unit sphere, each with LOW-RANK within-cluster variation
    * (rank-`rank` factors, total offset norm ≈ `noise`), L2-normalized.
    * The parquet fixture's uniform-random vectors are the DEGENERATE
    * case for ANN (cosines cluster at 0, coarse centroids sit near the
    * origin, so coarse-cell residuals ≈ the raw vectors and PQ codes
    * are noise-bound no matter how they're trained); real embedding
    * corpora are clustered with locally low intrinsic dimension, which
    * is the structure IVF cells and residual PQ codes exploit —
    * isotropic full-rank noise would be equally degenerate (no 4-bit
    * codebook compresses an 8-dim isotropic Gaussian). Recall is
    * tracked on BOTH fixtures. */
  def clusteredEmbeddings(s: org.apache.spark.sql.SparkSession,
                          n: Int = 2000, dim: Int = 64, nClusters: Int = 8,
                          noise: Double = 0.35, rank: Int = 3,
                          seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val centers = Array.fill(nClusters)(unit())
    val factors = Array.fill(nClusters)(Array.fill(rank)(unit()))
    val sigma = noise / math.sqrt(rank)
    val rows = (0 until n).map { i =>
      val cl = i % nClusters
      val z = Array.fill(rank)(sigma * rnd.nextGaussian())
      val raw = Array.tabulate(dim) { j =>
        var x = centers(cl)(j)
        var r = 0
        while (r < rank) { x += z(r) * factors(cl)(r)(j); r += 1 }
        x
      }
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i.toLong, raw.map(x => (x / nrm).toFloat).toSeq)
    }
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** [[annRecall]] over an in-memory embeddings frame (same methods,
    * same parameters as the gated queries) — runs the operators
    * directly so the frozen-model oracle cache is NOT touched: the
    * clustered fixture is additive measurement, never gate input. */
  def annRecallOn(emb: org.apache.spark.sql.DataFrame,
                  k: Int = 3): Map[String, Double] = {
    import graft.operators.{Pq, Similarity}
    val cached = emb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val q = cached.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(q, cached, "vec_id", "embedding", k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val coarse = Ivf.fit(cached, "vec_id", "embedding", k = 8, iters = 3)
        val pq = Pq.fitResidual(cached, "vec_id", "embedding", coarse,
          m = 8, ksub = 16, iters = 2)
        val pqRaw = Pq.fit(cached, "vec_id", "embedding", m = 8, ksub = 16,
          iters = 2)
        Map(
          "s_ann_lsh" -> Similarity.lshTopK(q, cached, "vec_id", "embedding",
            k, bits = 4, dim = 64),
          "s_ann_lsh_probe" -> Similarity.lshTopKMultiProbe(q, cached,
            "vec_id", "embedding", k, bits = 4, dim = 64),
          "s_ann_ivf" -> Ivf.topK(q, cached, "vec_id", "embedding", coarse,
            k, nProbe = 2),
          "s_ann_ivf_probe" -> Ivf.topK(q, cached, "vec_id", "embedding",
            coarse, k, nProbe = 4),
          "s_ann_pq" -> Pq.adcTopK(q, cached, "vec_id", "embedding", pqRaw, k),
          "s_ann_ivfpq" -> Pq.ivfAdcTopK(q, cached, "vec_id", "embedding",
            coarse, pq, k, nProbe = 2),
          "s_ann_ivfpq_rerank" -> Pq.ivfAdcRerankTopK(q, cached, "vec_id",
            "embedding", coarse, pq, k, nProbe = 4, shortlist = 100),
          "s_ann_sq8" -> graft.operators.Sq.adcTopK(q, cached, "vec_id",
            "embedding",
            graft.operators.Sq.fit(cached, "vec_id", "embedding", dim = 64),
            k),
          "s_ann_pca_rerank" -> graft.operators.Pca.rerankTopK(q, cached,
            "vec_id", "embedding",
            graft.operators.Pca.fit(cached, "vec_id", "embedding", p = 8),
            k, shortlist = 20)
        ).map { case (m, df) => m -> recallAtK(exact, df, k) }
      } finally exact.unpersist(blocking = false)
    } finally cached.unpersist(blocking = false)
  }

  /** Generated oracle for `mm_vp8_pixels`: the DC-only keyframe
    * reconstruction replayed as exact integer arithmetic over the
    * ≤3×3 MB grid, UNROLLED in anti-diagonal stages (cell (i,j)
    * depends on its above/left/diag neighbors — all in earlier
    * stages). Floor shifts use the floor-division idiom so negative
    * Y2 products round like the JVM's arithmetic >>. */
  private def vp8OracleSql: String = vp8OracleSqlFor("doc_id",
    "CAST(n_chars AS BIGINT)")

  private def vp8Fs3(x: String) = s"CAST(floor(($x) / 8.0) AS BIGINT)"
  private def vp8Clamp(x: String) = s"LEAST(255, GREATEST(0, $x))"

  /** The anti-diagonal cell stages over a `dim` relation with columns
    * (id, mw, mh, q) — shared by the single-frame and the per-WebM-
    * frame oracles. Returns the "s0 AS (...), ..., s4 AS (...)"
    * chain; [[vp8SumSql]] gives the present-cell sum for one plane. */
  private def vp8StagesSql: String = {
    val fs3 = vp8Fs3 _; val clamp = vp8Clamp _
    def rY(i: Int, j: Int) = {
      val l = s"((($i + ${2 * j} + id) % 9) - 4)"
      fs3(s"${fs3(s"$l * (2 * (4 + q)) + 3")} + 4")
    }
    def rU(i: Int, j: Int) =
      fs3(s"(((${2 * i} + $j + id) % 7) - 3) * (4 + q) + 4")
    def rV(i: Int, j: Int) =
      fs3(s"((($i + ${3 * j} + 2 * id) % 7) - 3) * (4 + q) + 4")
    def cell(p: Char, i: Int, j: Int, mode: String, r: String): String = {
      val above = s"v${p}_${i - 1}_$j"
      val left = s"v${p}_${i}_${j - 1}"
      val diag = s"v${p}_${i - 1}_${j - 1}"
      val dcPred =
        if (i == 0 && j == 0) "128"
        else if (i == 0) left
        else if (j == 0) above
        else s"((16 * $above + 16 * $left + 16) // 32)"
      val vPred = if (i == 0) "127" else above
      val hPred = if (j == 0) "129" else left
      val tmL = if (j == 0) "129" else left
      val tmA = if (i == 0) "127" else above
      val tmC = if (i == 0) "127" else if (j == 0) "129" else diag
      val pred = s"(CASE $mode WHEN 0 THEN $dcPred WHEN 1 THEN $vPred" +
        s" WHEN 2 THEN $hPred ELSE ${clamp(s"$tmL + $tmA - $tmC")} END)"
      s"${clamp(s"$pred + $r")} AS v${p}_${i}_$j"
    }
    def cells(i: Int, j: Int): String = {
      val ym = s"(($i + $j + id) % 4)"
      val um = s"(($i + ${2 * j} + id) % 4)"
      Seq(cell('y', i, j, ym, rY(i, j)),
        cell('u', i, j, um, rU(i, j)),
        cell('v', i, j, um, rV(i, j))).mkString(",\n    ")
    }
    val diags = (0 to 4).map { d =>
      (0 to 2).flatMap { i =>
        val j = d - i
        if (j >= 0 && j <= 2) Some(cells(i, j)) else None
      }.mkString(",\n    ")
    }
    diags.zipWithIndex.map { case (cs, d) =>
      val from = if (d == 0) "dim" else s"s${d - 1}"
      s"s$d AS (SELECT *,\n    $cs\n  FROM $from)"
    }.mkString(",\n")
  }

  private def vp8SumSql(p: Char): String =
    (for (i <- 0 to 2; j <- 0 to 2) yield
      s"CASE WHEN $i < mh AND $j < mw THEN v${p}_${i}_$j ELSE 0 END")
      .mkString(" + ")

  private def vp8OracleSqlFor(idExpr: String, nExpr: String): String =
    s"""WITH dim AS (SELECT doc_id, ($idExpr) AS id,
       |    1 + (($nExpr) % 3) AS mw,
       |    1 + ((($nExpr) // 3) % 3) AS mh,
       |    ($idExpr) % 32 AS q
       |  FROM documents),
       |$vp8StagesSql
       |SELECT doc_id,
       |  CAST(16 * mw AS INT) AS width, CAST(16 * mh AS INT) AS height,
       |  CAST(q AS INT) AS qindex,
       |  round(CAST(${vp8SumSql('y')} AS DOUBLE) / (mw * mh), 6) AS mean_y,
       |  round(CAST(${vp8SumSql('u')} AS DOUBLE) / (mw * mh), 6) AS mean_u,
       |  round(CAST(${vp8SumSql('v')} AS DOUBLE) / (mw * mh), 6) AS mean_v
       |FROM s4 ORDER BY doc_id""".stripMargin

  /** WebM oracle: one grid row per (doc, frame k), frame id shifted by
    * 31k, then EXACT integer pixel sums across frames (x256 luma / x64
    * chroma pixels per uniform MB) — no float averaging on either
    * side. */
  private def webmOracleSql: String =
    s"""WITH frames AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n,
       |    unnest(range(3 + CAST(n_chars AS BIGINT) % 5)) AS k
       |  FROM documents),
       |dim AS (SELECT doc_id, doc_id + 31 * k AS id,
       |    1 + (n % 3) AS mw, 1 + ((n // 3) % 3) AS mh,
       |    (doc_id + 31 * k) % 32 AS q
       |  FROM frames),
       |$vp8StagesSql
       |SELECT doc_id,
       |  CAST(COUNT(*) AS INT) AS n_frames,
       |  CAST(MAX(16 * mw) AS INT) AS width,
       |  CAST(MAX(16 * mh) AS INT) AS height,
       |  CAST(SUM(${vp8SumSql('y')}) * 256 AS BIGINT) AS sum_y,
       |  CAST(SUM(${vp8SumSql('u')}) * 64 AS BIGINT) AS sum_u,
       |  CAST(SUM(${vp8SumSql('v')}) * 64 AS BIGINT) AS sum_v
       |FROM s4 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  def oracles: Map[String, String] =
    staticOracles +
      ("mm_vp8_pixels" -> vp8OracleSql) +
      ("mm_webp_lossy" -> vp8OracleSqlFor("2 * doc_id + 1",
        "CAST(n_chars AS BIGINT) + 5")) +
      ("mm_webm_frames" -> webmOracleSql) ++
      Option(ivfModels.get("s_ann_ivf"))
        .map(m => "s_ann_ivf" -> ivfSql(m, k = 3, nProbe = 2)) ++
      Option(ivfModels.get("s_ann_ivf_probe"))
        .map(m => "s_ann_ivf_probe" -> ivfSql(m, k = 3, nProbe = 4)) ++
      Option(ivfModels.get("s_knn_join"))
        .map(m => "s_knn_join" ->
          ivfSql(m, k = 3, nProbe = 2, queryFilter = "TRUE")) ++
      Option(ivfModels.get("s_mutual_knn"))
        .map(m => "s_mutual_knn" -> mutualKnnSql(m, k = 3, nProbe = 2)) ++
      Option(ivfModels.get("s_knn_components"))
        .map(m => "s_knn_components" ->
          knnComponentsSql(m, k = 3, nProbe = 2)) ++
      Option(ivfModels.get("s_cluster_assign"))
        .map(m => "s_cluster_assign" -> clusterSql(m)) ++
      Option(ivfModels.get("s_cluster_purity"))
        .map(m => "s_cluster_purity" -> clusterPuritySql(m)) ++
      Option(ivfModels.get("s_cluster_balanced"))
        .map(m => "s_cluster_balanced" -> clusterBalancedSql(m, k = 5)) ++
      Option(ivfModels.get("s_semdedup"))
        .map(m => "s_semdedup" -> semDedupSql(m, threshold = 0.3)) ++
      Option(ivfModels.get("s_hard_negatives"))
        .map(m => "s_hard_negatives" -> hardNegSql(m, k = 3, nProbe = 4)) ++
      Option(sqModels.get("s_ann_sq8"))
        .map(m => "s_ann_sq8" -> sq8Sql(m, k = 3)) ++
      Option(pcaModels.get("s_pca_project"))
        .map(m => "s_pca_project" -> pcaSql(m)) ++
      Option(pcaModels.get("s_ann_pca_rerank"))
        .map(m => "s_ann_pca_rerank" ->
          pcaRerankSql(m, k = 3, shortlist = 20)) ++
      Option(pqModels.get("s_ann_pq"))
        .map(m => "s_ann_pq" -> pqSql(m, k = 3)) ++
      (for {
        coarse <- Option(ivfModels.get("s_ann_ivfpq"))
        pq <- Option(pqModels.get("s_ann_ivfpq"))
      } yield "s_ann_ivfpq" -> ivfPqSql(coarse, pq, k = 3, nProbe = 2)) ++
      (for {
        coarse <- Option(ivfModels.get("s_ann_ivfpq_rerank"))
        pq <- Option(pqModels.get("s_ann_ivfpq_rerank"))
      } yield "s_ann_ivfpq_rerank" ->
        ivfPqRerankSql(coarse, pq, k = 3, shortlist = 100, nProbe = 4))

  /** DuckDB twin of `Pca.projection` with the fitted axes inlined:
    * score_j = round((0.0 + v[1]·e_1 + … + v[d]·e_d) − centerDot_j, 4)
    * — the identical left-to-right double fold as the codegen'd VecDot,
    * centering via the SAME driver-computed literal both engines embed
    * (`Double.toString` round-trips). */
  /** SQL text of `Pca.component`'s UNROUNDED axis-j score — one shared
    * builder for every PCA oracle, so the fold convention (left-to-right
    * VecDot twin, literal centering subtract) cannot diverge between
    * them. */
  private def pcaScoreExpr(m: graft.operators.Pca.Model, j: Int): String = {
    val e = m.components(j)
    val dotE = e.indices.map(i =>
      s"CAST(embedding[${i + 1}] AS DOUBLE) * (${fmt(e(i))})")
      .mkString("(0.0 + ", " + ", ")")
    s"$dotE - (${fmt(m.centerDot(j))})"
  }

  private def pcaSql(m: graft.operators.Pca.Model): String = {
    val cols = m.components.indices.map(j =>
      s"round(${pcaScoreExpr(m, j)}, 4) AS pc${j + 1}")
    s"""SELECT vec_id,
       |  ${cols.mkString(",\n  ")}
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** DuckDB twin of `Pca.rerankTopK`: frozen-axis projections on both
    * sides (unrounded, like the Spark scan), squared-L2 shortlist
    * `round((nq + nc) − 2.0·dot, 4)` mirroring the norm2/VecDot folds,
    * exact cosine re-rank identical to the PQ rerank tail. */
  private def pcaRerankSql(m: graft.operators.Pca.Model, k: Int,
                           shortlist: Int): String = {
    def pexprs(prefix: String) = m.components.indices.map(j =>
      s"${pcaScoreExpr(m, j)} AS $prefix${j + 1}")
    def sq(prefix: String) = m.components.indices
      .map(j => s"$prefix${j + 1} * $prefix${j + 1}")
      .mkString("(0.0 + ", " + ", ")")
    val dotP = m.components.indices
      .map(j => s"q.p${j + 1} * c.p${j + 1}")
      .mkString("(0.0 + ", " + ", ")")
    s"""WITH q0 AS (SELECT vec_id AS query_id,
       |    ${pexprs("p").mkString(",\n    ")}
       |  FROM embeddings WHERE vec_id < 10),
       |q AS (SELECT *, ${sq("p")} AS nq FROM q0),
       |c0 AS (SELECT vec_id AS neighbor_id,
       |    ${pexprs("p").mkString(",\n    ")}
       |  FROM embeddings),
       |c AS (SELECT *, ${sq("p")} AS nc FROM c0),
       |s AS (SELECT query_id, neighbor_id,
       |    round((q.nq + c.nc) - 2.0 * $dotP, 4) AS pdist
       |  FROM q JOIN c ON query_id <> neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY pdist ASC, neighbor_id) AS INT) AS rnk
       |  FROM s),
       |short AS (SELECT query_id, neighbor_id FROM ranked
       |          WHERE rnk <= $shortlist),
       |un2 AS (SELECT sh.query_id, sh.neighbor_id,
       |          unnest(qe.embedding) AS x, unnest(ce.embedding) AS y
       |        FROM short sh
       |        JOIN embeddings qe ON qe.vec_id = sh.query_id
       |        JOIN embeddings ce ON ce.vec_id = sh.neighbor_id),
       |ex AS (SELECT query_id, neighbor_id,
       |         sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |         sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |         sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |       FROM un2 GROUP BY 1, 2),
       |rr AS (SELECT query_id, neighbor_id,
       |         round(dot / sqrt(nx * ny), 4) AS sim,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY round(dot / sqrt(nx * ny), 4) DESC, neighbor_id)
       |           AS INT) AS rnk
       |       FROM ex)
       |SELECT query_id, neighbor_id, sim, rnk FROM rr
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Shared CTE chain: sign-bucket → candidate pairs → cosine-verified
    * `epairs` (threshold 0.3) — the DuckDB twin of
    * `Similarity.nearDupPairs` with s_embed_neardup's parameters, reused
    * by the pair query and the cluster closure. */
  private def embedPairsCte: String =
    s"""v AS (SELECT vec_id, embedding,
       |    ${bucketSqlExpr(bits = 4, dim = 64)} AS bucket
       |  FROM embeddings),
       |un AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |        unnest(a.embedding) AS x, unnest(b.embedding) AS y
       |       FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |s AS (SELECT id_a, id_b,
       |        sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot,
       |        sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS nx,
       |        sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS ny
       |      FROM un GROUP BY 1, 2),
       |epairs AS (SELECT id_a, id_b, round(dot / sqrt(nx * ny), 4) AS sim
       |  FROM s WHERE round(dot / sqrt(nx * ny), 4) >= 0.3)""".stripMargin

  /** The pHash integer cosine basis as SQL VALUES rows (u, x, c) —
    * generated from [[graft.operators.MediaCodec.phashCos]] itself, so
    * the oracle and the kernel share ONE table by construction. */
  private lazy val phashCosValues: String =
    (for { u <- 0 until 8; x <- 0 until 32 }
      yield s"(${u + 1},$x,${graft.operators.MediaCodec.phashCos(u)(x)})")
      .mkString(", ")

  /** The IMA step table as SQL VALUES rows (index, step) — generated
    * from [[graft.operators.MediaCodec.imaStepTable]] itself, so the
    * oracle and the codec share ONE table by construction. */
  private lazy val imaStepValues: String =
    graft.operators.MediaCodec.imaStepTable.zipWithIndex
      .map { case (s, i) => s"($i,$s)" }.mkString(", ")

  private val staticOracles: Map[String, String] = Map(
    "s_ann_topk" -> cosineSql("vec_id < 10", bucketJoin = false, k = 5, None),
    "s_ann_lsh" -> cosineSql("vec_id < 10", bucketJoin = true, k = 3, None),
    "s_ann_lsh_probe" -> cosineSql("vec_id < 10", bucketJoin = true, k = 3,
      None, multiProbe = true),

    "s_embed_neardup" ->
      s"""WITH $embedPairsCte
        |SELECT id_a, id_b, sim FROM epairs
        |ORDER BY id_a, id_b""".stripMargin,

    "s_embed_clusters" ->
      s"""WITH RECURSIVE $embedPairsCte,
        |${sqlComponentsOver("epairs")}""".stripMargin,

    "mm_audio_windows" ->
      """WITH a AS (SELECT doc_id, strlen(text) // 2 AS n_samples
        |  FROM documents WHERE doc_id % 3 = 1),
        |w AS (SELECT doc_id, n_samples,
        |        unnest(range(0, (n_samples - 64) // 32 + 1)) AS win_idx
        |      FROM a WHERE n_samples >= 64)
        |SELECT doc_id, CAST(n_samples AS INT) AS n_samples,
        |  CAST(win_idx AS INT) AS win_idx,
        |  CAST(win_idx * 32 AS INT) AS start_sample
        |FROM w ORDER BY doc_id, win_idx""".stripMargin,

    "mm_frame_sample" ->
      """WITH v AS (SELECT doc_id, 1 + strlen(text) % 30 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, n_frames,
        |        unnest(range(0, n_frames, 5)) AS frame_idx FROM v)
        |SELECT doc_id, CAST(n_frames AS INT) AS n_frames,
        |  CAST(frame_idx AS INT) AS frame_idx
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // The round-trip oracle: every field the parser must read back,
    // recomputed from n_chars with the synthesizer's arithmetic —
    // BMP byteLen includes the 4-byte row alignment, WAV byteLen the
    // optional 12-byte LIST chunk.
    "mm_codec_roundtrip" ->
      """WITH m AS (SELECT doc_id, n_chars,
        |    doc_id % 2 = 0 AS img,
        |    CASE WHEN doc_id % 2 = 0 THEN (doc_id // 2) % 4 END AS fmt
        |  FROM documents)
        |SELECT doc_id AS id,
        |  CASE WHEN img THEN 'image' ELSE 'audio' END AS kind,
        |  CAST(CASE
        |    WHEN img AND fmt = 0
        |      THEN 54 + ((24 * (1 + n_chars % 64) + 31) // 32) * 4
        |             * (1 + n_chars % 48)
        |    WHEN img AND fmt = 1 THEN 45
        |    WHEN img AND fmt = 2 THEN 14
        |    WHEN img THEN 35
        |    ELSE 44 + (CASE WHEN doc_id % 4 = 1 THEN 12 ELSE 0 END)
        |           + n_chars * 4
        |             * (CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END) * 2
        |    END AS INT) AS "byteLen",
        |  TRUE AS valid,
        |  CAST(CASE WHEN img AND fmt = 0 THEN 1 + n_chars % 64
        |    WHEN img AND fmt = 1 THEN 1 + n_chars % 128
        |    WHEN img AND fmt = 2 THEN 1 + n_chars % 300
        |    WHEN img THEN 1 + n_chars % 1000
        |    ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN img AND fmt = 0 THEN 1 + n_chars % 48
        |    WHEN img AND fmt = 1 THEN 1 + (n_chars * 3) % 128
        |    WHEN img AND fmt = 2 THEN 1 + (n_chars * 7) % 200
        |    WHEN img THEN 1 + (n_chars * 11) % 1000
        |    ELSE 0 END AS INT) AS height,
        |  CAST(CASE WHEN img THEN 0
        |    WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS INT) AS channels,
        |  CAST(CASE WHEN img THEN 0
        |    ELSE 8000 + n_chars % 8000 END AS INT) AS "sampleRate",
        |  CAST(CASE WHEN img THEN 0 ELSE n_chars * 4 END
        |    AS BIGINT) AS "nSamples"
        |FROM m ORDER BY id""".stripMargin,

    "mm_decode_stats" ->
      """WITH m AS (SELECT doc_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    strlen(text) AS n FROM documents),
        |f AS (SELECT kind,
        |    64 + (n % 448) AS width, 64 + ((n * 7) % 448) AS height,
        |    CASE WHEN kind = 'video' THEN 1 + n % 30 ELSE 1 END AS nFrames
        |  FROM m)
        |SELECT kind, COUNT(*) AS n,
        |  round(avg(width), 6) AS avg_w, round(avg(height), 6) AS avg_h,
        |  CAST(SUM(nFrames) AS BIGINT) AS total_frames
        |FROM f GROUP BY kind ORDER BY kind""".stripMargin,

    // Re-derives the decoded channel means from the pattern arithmetic
    // (never from the bytes): one row per pixel via range() unnest,
    // exact integer channel sums, one division, round 6 — if the
    // decoder misreads BGR order, row padding, or the bottom-up layout,
    // the hash diverges.
    "mm_bmp_pixels" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 48) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 32) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + y + 2 * id) % 255 AS r,
        |    (2 * x + y + id) % 253 AS g,
        |    (x + 3 * y + id) % 251 AS b
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Same block arithmetic as mm_jpeg_pixels over the progressive
    // fixture's dimensions — the pipeline under test is the multi-scan
    // coefficient accumulation, not the expectation.
    "mm_jpeg_prog" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 33) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 21) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    ((x // 8) + 3 * (y // 8) + id) % 256 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(v) AS DOUBLE) / (MAX(w) * MAX(h)), 6)
        |    AS mean_gray,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / MAX(w), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the aHash from the pattern arithmetic: per-pixel gray
    // = sum of the three channel formulas, cell = (x·8//w, y·8//h),
    // bit by the same cross-multiplied mean compare, bits string_agg'd
    // row-major — then dedup groups joined back over seed classes.
    "mm_ahash_dupes" ->
      """WITH ds AS (SELECT doc_id, doc_id % 37 AS s FROM documents),
        |dims AS (SELECT DISTINCT s, 8 + (s % 5) * 4 AS w,
        |    8 + (s % 3) * 4 AS h FROM ds),
        |px AS (SELECT s, w, h, x, y,
        |    (31*x + 47*y + 61*s) % 255 + (59*x + 83*y + 29*s) % 253
        |      + (73*x + 151*y + 97*s) % 251 AS gray
        |  FROM dims,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |cells AS (SELECT s, w, h, (y*8)//h AS cy, (x*8)//w AS cx,
        |    SUM(gray) AS cs, COUNT(*) AS cn
        |  FROM px GROUP BY 1, 2, 3, 4, 5),
        |tot AS (SELECT s, SUM(cs) AS ts, SUM(cn) AS tn
        |  FROM cells GROUP BY 1),
        |hashes AS (SELECT s, MAX(w) AS w, MAX(h) AS h,
        |    string_agg(CASE WHEN cs * tn > ts * cn THEN '1' ELSE '0' END,
        |      '' ORDER BY cy, cx) AS ahash
        |  FROM cells JOIN tot USING (s) GROUP BY s)
        |SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height, ahash,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        |FROM ds JOIN hashes USING (s)
        |GROUP BY 1, 2, 3 ORDER BY width, height, ahash""".stripMargin,

    // Re-derives the 37 class hashes (twin patch included) with the
    // same cross-multiplied-mean bits, collapses docs to distinct
    // hashes, then BRUTE-FORCES class pairs by character Hamming — at
    // 37 classes the all-pairs filter is exactly what the banded join
    // computes with recall 1.0 (maxDist 5 < 8 bands).
    "mm_image_neardups" ->
      """WITH ds AS (SELECT doc_id, doc_id % 37 AS s FROM documents),
        |cls AS (SELECT DISTINCT s,
        |    CASE WHEN s >= 30 THEN s - 30 ELSE s END AS b0,
        |    CASE WHEN s >= 30 THEN 1 ELSE 0 END AS tw FROM ds),
        |px AS (SELECT s, x, y,
        |    CASE WHEN tw = 1 AND x < 3 AND y < 2
        |      THEN 756 - ((31*x + 47*y + 61*b0) % 255
        |        + (59*x + 83*y + 29*b0) % 253
        |        + (73*x + 151*y + 97*b0) % 251)
        |      ELSE (31*x + 47*y + 61*b0) % 255
        |        + (59*x + 83*y + 29*b0) % 253
        |        + (73*x + 151*y + 97*b0) % 251 END AS gray
        |  FROM cls,
        |    LATERAL (SELECT unnest(range(24)) AS x),
        |    LATERAL (SELECT unnest(range(16)) AS y)),
        |cells AS (SELECT s, (y*8)//16 AS cy, (x*8)//24 AS cx,
        |    SUM(gray) AS cs, COUNT(*) AS cn FROM px GROUP BY 1, 2, 3),
        |tot AS (SELECT s, SUM(cs) AS ts, SUM(cn) AS tn
        |  FROM cells GROUP BY 1),
        |hashes AS (SELECT s,
        |    string_agg(CASE WHEN cs * tn > ts * cn THEN '1' ELSE '0' END,
        |      '' ORDER BY cy, cx) AS ahash
        |  FROM cells JOIN tot USING (s) GROUP BY s),
        |cl AS (SELECT ahash, MIN(doc_id) AS cid
        |  FROM ds JOIN hashes USING (s) GROUP BY 1),
        |pairs AS (SELECT a.cid AS id_a, b.cid AS id_b,
        |    (SELECT COUNT(*) FROM range(64) r(i)
        |     WHERE substr(a.ahash, CAST(i AS INT) + 1, 1)
        |        <> substr(b.ahash, CAST(i AS INT) + 1, 1)) AS dist
        |  FROM cl a JOIN cl b ON a.cid < b.cid)
        |SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM pairs
        |WHERE dist <= 5 ORDER BY id_a, id_b""".stripMargin,

    // Re-derives the 48×32 class pictures (exposure-ramp twins
    // included) from closed-form (x, y, s) arithmetic, then the pHash
    // pipeline integer-exactly: 32×32 cell sums, centered quantity
    // q = cs·tn − ts·cn (the cross-multiplied-means trick as a VALUE),
    // 2-D DCT against the SAME integer cosine table the kernel uses
    // (embedded below from MediaCodec.phashCos), sign bits u-major,
    // then brute-forced class pairs by character Hamming — at 37
    // classes the all-pairs filter is exactly what the banded join
    // computes with recall 1.0 (maxDist 5 < 8 bands). The container
    // format never appears: BMP and PNG docs must hash identically
    // for the doc→class collapse to match.
    "mm_phash_dupes" ->
      ("""WITH ds AS (SELECT doc_id, doc_id % 37 AS s FROM documents),
        |cls AS (SELECT DISTINCT s,
        |    CASE WHEN s >= 30 THEN s - 30 ELSE s END AS b0,
        |    CASE WHEN s >= 30 THEN 1 ELSE 0 END AS tw FROM ds),
        |px AS (SELECT s, x, y,
        |    LEAST(254, (31*x + 47*y + 61*b0) % 255
        |      + CASE WHEN tw = 1 THEN (80*x)//48 ELSE 0 END)
        |    + LEAST(252, (59*x + 83*y + 29*b0) % 253
        |      + CASE WHEN tw = 1 THEN (80*x)//48 ELSE 0 END)
        |    + LEAST(250, (73*x + 151*y + 97*b0) % 251
        |      + CASE WHEN tw = 1 THEN (80*x)//48 ELSE 0 END) AS gray
        |  FROM cls,
        |    LATERAL (SELECT unnest(range(48)) AS x),
        |    LATERAL (SELECT unnest(range(32)) AS y)),
        |cells AS (SELECT s, (x*32)//48 AS cx, (y*32)//32 AS cy,
        |    SUM(gray) AS cs, COUNT(*) AS cn FROM px GROUP BY 1, 2, 3),
        |tot AS (SELECT s, SUM(cs) AS ts, SUM(cn) AS tn
        |  FROM cells GROUP BY 1),
        |q AS (SELECT s, cx, cy, cs * tn - ts * cn AS q
        |  FROM cells JOIN tot USING (s)),
        |cosb(u, x, c) AS (VALUES """.stripMargin + phashCosValues +
      """),
        |coef AS (SELECT s, cu.u AS u, cv.u AS v,
        |    SUM(q.q * cu.c * cv.c) AS coef
        |  FROM q JOIN cosb cu ON cu.x = q.cx
        |         JOIN cosb cv ON cv.x = q.cy
        |  GROUP BY 1, 2, 3),
        |hashes AS (SELECT s,
        |    string_agg(CASE WHEN coef > 0 THEN '1' ELSE '0' END,
        |      '' ORDER BY u, v) AS ph FROM coef GROUP BY s),
        |cl AS (SELECT ph, MIN(doc_id) AS cid
        |  FROM ds JOIN hashes USING (s) GROUP BY 1),
        |pairs AS (SELECT a.cid AS id_a, b.cid AS id_b,
        |    (SELECT COUNT(*) FROM range(64) r(i)
        |     WHERE substr(a.ph, CAST(i AS INT) + 1, 1)
        |        <> substr(b.ph, CAST(i AS INT) + 1, 1)) AS dist
        |  FROM cl a JOIN cl b ON a.cid < b.cid)
        |SELECT id_a, id_b, CAST(dist AS INT) AS dist FROM pairs
        |WHERE dist <= 5 ORDER BY id_a, id_b""".stripMargin),

    // Simulates the IMA-ADPCM encoder+decoder fixed point in a
    // recursive CTE: per (doc, channel, block) the state chain
    // (predictor, step index) advances one frame per recursion step —
    // the greedy quantizer's nibble decided by the same staged
    // comparisons (f4/f2/f1 against step, step/2, step/4), the
    // reconstruction dq = step/8 + f4·step + f2·step/2 + f1·step/4,
    // int16 clamping, and the index table walk — against the SAME
    // step table the codec embeds. Block 0 frame of each chain is the
    // header sample (index resets to 0 per block, matching the
    // encoder's authoritative per-block headers).
    "mm_wav_adpcm" ->
      ("""WITH RECURSIVE dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    64 + (CAST(n_chars AS BIGINT) % 512) AS n
        |  FROM documents),
        |steps(si, sv) AS (VALUES """.stripMargin + imaStepValues +
      """),
        |blocks AS (SELECT id, ch, n, c, g,
        |    LEAST(257, n - g * 257) AS nfrm
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(ch)) AS c),
        |    LATERAL (SELECT unnest(range((n + 256) // 257)) AS g)),
        |chain(id, c, g, nfrm, j, pred, idx) AS (
        |  SELECT id, c, g, nfrm, CAST(0 AS BIGINT),
        |    (7 * (g * 257) + 13 * c + id) % 2003 - 1001,
        |    CAST(0 AS BIGINT)
        |  FROM blocks
        |  UNION ALL
        |  SELECT id, c, g, nfrm, j,
        |    GREATEST(-32768, LEAST(32767,
        |      pred + CASE WHEN neg THEN -dq ELSE dq END)),
        |    GREATEST(0, LEAST(88, idx +
        |      CASE WHEN f4 = 1 THEN 2 + 2 * (2 * f2 + f1) ELSE -1 END))
        |  FROM (
        |    SELECT id, c, g, nfrm, j, pred, idx, neg, f4, f2,
        |      CASE WHEN r2 - f2 * (sv // 2) >= sv // 4
        |        THEN 1 ELSE 0 END AS f1,
        |      sv // 8 + f4 * sv + f2 * (sv // 2)
        |        + CASE WHEN r2 - f2 * (sv // 2) >= sv // 4
        |            THEN sv // 4 ELSE 0 END AS dq
        |    FROM (
        |      SELECT id, c, g, nfrm, j, pred, idx, sv, neg, f4,
        |        ad - f4 * sv AS r2,
        |        CASE WHEN ad - f4 * sv >= sv // 2 THEN 1 ELSE 0 END AS f2
        |      FROM (
        |        SELECT c0.id, c0.c, c0.g, c0.nfrm, c0.j + 1 AS j,
        |          c0.pred, c0.idx, st.sv,
        |          c0.tgt < c0.pred AS neg,
        |          abs(c0.tgt - c0.pred) AS ad,
        |          CASE WHEN abs(c0.tgt - c0.pred) >= st.sv
        |            THEN 1 ELSE 0 END AS f4
        |        FROM (SELECT *,
        |            (7 * (g * 257 + j + 1) + 13 * c + id) % 2003 - 1001
        |              AS tgt
        |          FROM chain WHERE j + 1 < nfrm) c0
        |        JOIN steps st ON st.si = c0.idx) i1) i2) i3
        |)
        |SELECT id AS doc_id,
        |  CAST(MAX(d.ch) AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(MAX(d.n) AS BIGINT) AS n_samples,
        |  round(CAST(SUM(pred) AS DOUBLE) / (MAX(d.n) * MAX(d.ch)), 6)
        |    AS mean_sample,
        |  round(CAST(SUM(abs(pred)) AS DOUBLE) / (MAX(d.n) * MAX(d.ch)), 6)
        |    AS mean_abs,
        |  CAST(MAX(abs(pred)) AS INT) AS peak_abs,
        |  round(CAST(SUM(CASE WHEN g = 0 AND j = 0 THEN pred ELSE 0 END)
        |    AS DOUBLE) / MAX(d.ch), 6) AS first_frame_mean
        |FROM chain JOIN dim d USING (id)
        |GROUP BY id ORDER BY doc_id""".stripMargin),

    // Re-derives every MP4 box field from the fixture generator's
    // (doc_id, n_chars) arithmetic: brand/codec by id parity, tkhd
    // dims by id mod 8/9, mvhd ms duration, mp4a rate by id mod 3,
    // mdat payload length. The Spark side must recover the same
    // values from REAL box bytes across all structural variants.
    "mm_mp4_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
        |  CAST(2 AS INT) AS n_tracks,
        |  CAST(5000 + (CAST(n_chars AS BIGINT) % 120000) AS BIGINT)
        |    AS duration_ms,
        |  CAST(160 + (doc_id % 8) * 16 AS INT) AS width,
        |  CAST(96 + (doc_id % 9) * 16 AS INT) AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END
        |    AS video_codec,
        |  'mp4a' AS audio_codec,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    ELSE 32000 END AS INT) AS sample_rate,
        |  CAST(50 + (CAST(n_chars AS BIGINT) % 200) AS BIGINT)
        |    AS mdat_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors the MPEG1 L3 frame-length formula 144·br/sr + padding:
    // byte total = nFrames·⌊144·br/sr⌋ + nPadded, with the padding
    // bit (id + frame) mod 2 giving nPadded = (nFrames + id%2) // 2;
    // CBR duration = ⌊nFrames·1152000/sr⌋ ms.
    "mm_mp3_meta" ->
      """WITH p AS (SELECT doc_id,
        |    doc_id % 3 = 0 AS has_id3,
        |    CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 160
        |      ELSE 192 END AS br,
        |    CASE (doc_id // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END AS sr,
        |    CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ch,
        |    20 + (CAST(n_chars AS BIGINT) % 60) AS nf
        |  FROM documents)
        |SELECT doc_id, has_id3,
        |  CAST(br AS INT) AS bitrate_kbps,
        |  CAST(sr AS INT) AS sample_rate,
        |  CAST(ch AS INT) AS channels,
        |  CAST(nf AS INT) AS n_frames,
        |  CAST(nf * ((144 * br * 1000) // sr)
        |    + (nf + doc_id % 2) // 2 AS BIGINT) AS audio_bytes,
        |  CAST((nf * 1152000) // sr AS BIGINT) AS duration_ms
        |FROM p ORDER BY doc_id""".stripMargin,

    // Re-derives the Ogg page grammar from the fixture arithmetic:
    // packets per page 1 + (id+p) mod 3, packet sizes by the same
    // every-5th-oversized rule the lacing table encodes, granule
    // (p+1)·(1000 + id mod 500). The Spark side must recover the
    // identical counts from real lacing bytes through real CRC-32s.
    "mm_ogg_meta" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    2 + (CAST(n_chars AS BIGINT) % 4) AS np
        |  FROM documents),
        |pages AS (SELECT id, np, p, 1 + (id + p) % 3 AS npk
        |  FROM dim, LATERAL (SELECT unnest(range(np)) AS p)),
        |pk AS (SELECT id, np, p, npk, k,
        |    CASE WHEN (id + p + k) % 5 = 0 THEN 300 + (id + k) % 200
        |      ELSE 20 + (id + p*7 + k*13) % 230 END AS sz
        |  FROM pages, LATERAL (SELECT unnest(range(npk)) AS k))
        |SELECT id AS doc_id,
        |  CAST(id % 100000 AS BIGINT) AS serial,
        |  CAST(MAX(np) AS INT) AS n_pages,
        |  CAST(COUNT(*) AS INT) AS n_packets,
        |  CAST(SUM(sz) AS BIGINT) AS payload_bytes,
        |  CAST(MAX(np) * (1000 + id % 500) AS BIGINT) AS last_granule
        |FROM pk GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives every decoded FLAC sample from the fixture grid
    // (frame i, channel c, index j): CONSTANT and VERBATIM directly,
    // the FIXED order-1 chain as warmup + cumulative residual sum
    // (the residual pattern (id + 3i + 5c + j) mod 15 − 7 sums to
    // zero per 15-step cycle, so the chain is 16-bit-safe). The Spark
    // side must recover the identical integers from real rice-coded
    // bits through real CRCs.
    "mm_flac_pcm" ->
      """WITH dim AS (SELECT doc_id AS id, 1 + (doc_id % 2) AS ch,
        |    2 + (CAST(n_chars AS BIGINT) % 6) AS nf
        |  FROM documents),
        |grid AS (SELECT id, ch, nf, i, c, j
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(nf)) AS i),
        |    LATERAL (SELECT unnest(range(ch)) AS c),
        |    LATERAL (SELECT unnest(range(256)) AS j)),
        |cum AS (SELECT *, SUM(CASE WHEN j > 0
        |      THEN (id + i*3 + c*5 + j) % 15 - 7 ELSE 0 END)
        |    OVER (PARTITION BY id, i, c ORDER BY j) AS ecum
        |  FROM grid),
        |samp AS (SELECT id, ch, nf, i, c, j,
        |    CASE (id + i) % 3
        |      WHEN 0 THEN (id*31 + i*17 + c*7) % 1001 - 500
        |      WHEN 2 THEN (id*3 + i*5 + c*9 + j*13) % 1201 - 600
        |      ELSE (id*13 + i*7 + c*3) % 801 - 400 + ecum
        |    END AS s
        |  FROM cum)
        |SELECT id AS doc_id,
        |  CAST(MAX(ch) AS INT) AS channels,
        |  CAST(CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |    ELSE 8000 END AS INT) AS sample_rate,
        |  CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(MAX(nf) * 256 AS BIGINT) AS total_samples,
        |  CAST(SUM(s) AS BIGINT) AS sum_samples,
        |  CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(s)) AS INT) AS peak_abs,
        |  CAST(SUM(CASE WHEN i = 0 AND c = 0 AND j = 0
        |    THEN s ELSE 0 END) AS INT) AS first_sample
        |FROM samp GROUP BY id ORDER BY doc_id""".stripMargin,

    // Every EXIF field re-derived from id arithmetic — the Spark side
    // must land on the identical values through real TIFF bytes in
    // both byte orders.
    "mm_exif_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(1 + doc_id % 8 AS INT) AS orientation,
        |  CAST(640 + doc_id % 1280 AS BIGINT) AS width,
        |  CAST(360 + doc_id % 720 AS BIGINT) AS height,
        |  'CAM' || chr(65 + CAST(doc_id % 26 AS INT)) AS make,
        |  CAST(50 + doc_id % 3150 AS INT) AS iso
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Re-derives vendor/lang STRINGS via chr arithmetic and the
    // comment byte totals from the per-k length formula ("LANG=xx" is
    // 7 bytes; "K<k>=v…" is 4 + (id+k) mod 5 for the single-digit k
    // this fixture emits).
    "mm_vorbis_tags" ->
      """WITH dim AS (SELECT doc_id AS id, 1 + (doc_id % 4) AS nc
        |  FROM documents),
        |cm AS (SELECT id, nc, k,
        |    CASE WHEN k = 0 THEN 7 ELSE 4 + (id + k) % 5 END AS clen
        |  FROM dim, LATERAL (SELECT unnest(range(nc)) AS k))
        |SELECT id AS doc_id,
        |  CASE WHEN id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  'graft-' || chr(97 + CAST(id % 26 AS INT)) AS vendor,
        |  CAST(MAX(nc) AS INT) AS n_comments,
        |  CAST(SUM(clen) AS BIGINT) AS comment_bytes,
        |  chr(97 + CAST(id % 26 AS INT)) ||
        |    chr(97 + CAST((id // 26) % 26 AS INT)) AS lang
        |FROM cm GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the sample tables from the fixture arithmetic: sizes
    // by the per-sample (or every-4th-id constant) formula, keyframe
    // count from the stride, chunk count from ceil-division, duration
    // from the two stts runs, and the last keyframe's relative offset
    // as the prefix sum of the sizes before it — the byte the Spark
    // side must land on through the real stss→stsc→stco→stsz chain.
    "mm_mp4_samples" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    20 + (CAST(n_chars AS BIGINT) % 60) AS n,
        |    5 + (doc_id % 4) AS g,
        |    4 + (doc_id % 3) AS spc,
        |    1000 + (doc_id % 500) AS d1,
        |    2000 + (doc_id % 1000) AS d2
        |  FROM documents),
        |szs AS (SELECT id, k,
        |    CASE WHEN id % 4 = 0 THEN 150 + id % 100
        |      ELSE 100 + (id*7 + k*13) % 900 END AS sz
        |  FROM dim, LATERAL (SELECT unnest(range(n)) AS k)),
        |lk AS (SELECT id, n, g, spc, d1, d2,
        |    1 + (n - 1) // g AS nkf,
        |    1 + g * ((n - 1) // g) AS s
        |  FROM dim)
        |SELECT l.id AS doc_id,
        |  CAST(l.n AS INT) AS n_samples,
        |  CAST(SUM(z.sz) AS BIGINT) AS total_sample_bytes,
        |  CAST(MAX(z.sz) AS INT) AS max_sample_size,
        |  CAST(l.nkf AS INT) AS n_keyframes,
        |  CAST((l.n + l.spc - 1) // l.spc AS INT) AS n_chunks,
        |  CAST((l.n // 2) * l.d1 + (l.n - l.n // 2) * l.d2 AS BIGINT)
        |    AS duration_units,
        |  CAST(SUM(CASE WHEN z.k < l.s - 1 THEN z.sz ELSE 0 END)
        |    AS BIGINT) AS last_kf_rel_offset
        |FROM lk l JOIN szs z ON l.id = z.id
        |GROUP BY l.id, l.n, l.nkf, l.spc, l.d1, l.d2, l.s
        |ORDER BY doc_id""".stripMargin,

    // Re-derives the identification-header fields from id arithmetic
    // (codec by parity, channels/rate/pre-skip by the fixture's mod
    // formulas) and the page/packet/payload counts from the body-page
    // lacing grammar plus the 19-byte OpusHead / 30-byte Vorbis
    // header. The Spark side must recover identical values from real
    // little-endian header bytes behind real CRC-verified pages.
    "mm_opus_meta" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    2 + (CAST(n_chars AS BIGINT) % 3) AS nb
        |  FROM documents),
        |body AS (SELECT id, nb, p, 1 + (id + p) % 3 AS npk
        |  FROM dim, LATERAL (SELECT unnest(range(1, nb + 1)) AS p)),
        |pk AS (SELECT id, nb, p, k,
        |    CASE WHEN (id + p + k) % 5 = 0 THEN 300 + (id + k) % 200
        |      ELSE 20 + (id + p*7 + k*13) % 230 END AS sz
        |  FROM body, LATERAL (SELECT unnest(range(npk)) AS k))
        |SELECT id AS doc_id,
        |  CASE WHEN id % 2 = 0 THEN 'opus' ELSE 'vorbis' END AS codec,
        |  CAST(1 + (id // 2) % 2 AS INT) AS channels,
        |  CAST(CASE WHEN id % 2 = 0 THEN
        |      CASE id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 24000
        |        ELSE 16000 END
        |    ELSE CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 32000
        |      ELSE 11025 END END AS BIGINT) AS sample_rate,
        |  CAST(CASE WHEN id % 2 = 0 THEN 312 + id % 100 ELSE 0 END
        |    AS INT) AS pre_skip,
        |  CAST(MAX(nb) + 1 AS INT) AS n_pages,
        |  CAST(COUNT(*) + 1 AS INT) AS n_packets,
        |  CAST(SUM(sz) + CASE WHEN id % 2 = 0 THEN 19 ELSE 30 END
        |    AS BIGINT) AS payload_bytes
        |FROM pk GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the per-frame variable sizes (144·br·1000 // rate +
    // padding over the rotating bitrate table), the TOC byte sum, and
    // the Xing-frame-count duration — the numbers the Spark side must
    // reach through the real header fields AND the real walk.
    "mm_mp3_vbr" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    20 + (CAST(n_chars AS BIGINT) % 60) AS nf,
        |    CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      ELSE 32000 END AS sr
        |  FROM documents),
        |fr AS (SELECT id, nf, sr, k,
        |    CASE WHEN id % 5 = 0 THEN 160
        |      ELSE CASE (id + k) % 4 WHEN 0 THEN 128 WHEN 1 THEN 160
        |        WHEN 2 THEN 192 ELSE 224 END END AS br,
        |    (id + k) % 2 AS pad
        |  FROM dim, LATERAL (SELECT unnest(range(1, nf + 1)) AS k)),
        |toc AS (SELECT id, SUM((2*k + id) % 256) AS tsum
        |  FROM dim, LATERAL (SELECT unnest(range(100)) AS k)
        |  GROUP BY id)
        |SELECT f.id AS doc_id,
        |  f.id % 5 <> 0 AS is_vbr,
        |  CAST(MAX(f.nf) AS INT) AS n_frames,
        |  CAST(SUM((144 * f.br * 1000) // f.sr + f.pad) AS BIGINT)
        |    AS audio_bytes,
        |  CAST(f.id % 101 AS INT) AS quality,
        |  CAST(MAX(t.tsum) AS BIGINT) AS toc_sum,
        |  CAST((MAX(f.nf) * 1152000) // MAX(f.sr) AS BIGINT)
        |    AS duration_ms
        |FROM fr f JOIN toc t ON f.id = t.id
        |GROUP BY f.id ORDER BY doc_id""".stripMargin,

    // Re-derives the SPS/PPS fields and the per-slice RBSP byte sum
    // from the fixture grid: dims from the macroblock counts minus the
    // 4:2:0 crop arithmetic, init QP from the signed-Golomb offset.
    "mm_avc_sps" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    3 + (CAST(n_chars AS BIGINT) % 6) AS nf
        |  FROM documents),
        |sl AS (SELECT id, SUM(50 + (id + 7*k) % 100) AS sbytes
        |  FROM dim, LATERAL (SELECT unnest(range(nf)) AS k)
        |  GROUP BY id)
        |SELECT d.id AS doc_id,
        |  CAST(CASE d.id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77
        |    ELSE 100 END AS INT) AS profile,
        |  CAST(30 + d.id % 22 AS INT) AS level,
        |  CAST((d.id % 2) * 2 AS INT) AS poc_type,
        |  CAST(1 + d.id % 4 AS INT) AS ref_frames,
        |  CAST((2 + d.id % 40) * 16 - CASE WHEN d.id % 2 = 0
        |    THEN 2 * (d.id % 3) ELSE 0 END AS INT) AS width,
        |  CAST((2 + d.id % 23) * 16 - CASE WHEN d.id % 2 = 0
        |    THEN 2 * ((d.id // 3) % 2) ELSE 0 END AS INT) AS height,
        |  CAST(2 + d.nf AS INT) AS n_nals,
        |  CAST((d.nf + 1) // 2 AS INT) AS n_idr,
        |  CAST(s.sbytes AS BIGINT) AS slice_bytes,
        |  CAST(21 + d.id % 11 AS INT) AS init_qp
        |FROM dim d JOIN sl s ON d.id = s.id ORDER BY doc_id""".stripMargin,

    // Mirrors the 13-bit frame-length arithmetic: every frame is
    // 7 header bytes + a 30..229 payload, summed over the walk.
    "mm_aac_adts" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    20 + (CAST(n_chars AS BIGINT) % 40) AS nf,
        |    CASE doc_id % 3 WHEN 0 THEN 48000 WHEN 1 THEN 44100
        |      ELSE 16000 END AS sr
        |  FROM documents),
        |fr AS (SELECT id, SUM(37 + (id + 11*k) % 200) AS abytes
        |  FROM dim, LATERAL (SELECT unnest(range(nf)) AS k)
        |  GROUP BY id)
        |SELECT d.id AS doc_id,
        |  CAST(d.id % 4 AS INT) AS profile,
        |  CAST(d.sr AS INT) AS sample_rate,
        |  CAST(1 + d.id % 2 AS INT) AS channels,
        |  CAST(d.nf AS INT) AS n_frames,
        |  CAST(f.abytes AS BIGINT) AS aac_bytes,
        |  CAST((d.nf * 1024 * 1000) // d.sr AS BIGINT) AS duration_ms
        |FROM dim d JOIN fr f ON d.id = f.id ORDER BY doc_id""".stripMargin,

    // Re-derives the RIFF size from the chunk-layout arithmetic
    // (headers + bodies + odd-size pad bytes) per format variant, and
    // dims/alpha from the same rotation the three headers encode.
    "mm_webp_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'lossy' WHEN 1 THEN 'lossless'
        |    ELSE 'extended' END AS format,
        |  CAST(16 + doc_id % 1000 AS INT) AS width,
        |  CAST(16 + (doc_id * 7) % 800 AS INT) AS height,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN 12 + (21 + doc_id % 30) + (1 + doc_id % 30) % 2
        |    WHEN 1 THEN 12 + (15 + doc_id % 31) + (1 + doc_id % 31) % 2
        |    ELSE 22 + CASE WHEN doc_id % 2 = 0
        |        THEN 8 + (5 + doc_id % 10) + (1 + doc_id % 10) % 2
        |        ELSE 0 END
        |      + 8 + (21 + doc_id % 30) + (1 + doc_id % 30) % 2
        |    END AS BIGINT) AS riff_bytes,
        |  CASE doc_id % 3 WHEN 0 THEN FALSE WHEN 1 THEN doc_id % 2 = 1
        |    ELSE doc_id % 2 = 0 END AS has_alpha
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Re-derives every pixel from the (x, y) grid — the Spark side must
    // reach the identical integers through the real strip reassembly.
    "mm_tiff_pixels" ->
      """WITH dim AS (SELECT doc_id AS id, 8 + doc_id % 40 AS w,
        |    6 + doc_id % 30 AS h, 1 + doc_id % 4 AS rps
        |  FROM documents),
        |px AS (SELECT id, w, h, rps, x, y,
        |    (id + 3*x + 7*y) % 251 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(h)) AS y),
        |    LATERAL (SELECT unnest(range(w)) AS x))
        |SELECT id AS doc_id,
        |  CASE WHEN id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(MAX(w) AS INT) AS width,
        |  CAST(MAX(h) AS INT) AS height,
        |  CAST((MAX(h) + MAX(rps) - 1) // MAX(rps) AS INT) AS n_strips,
        |  CAST(SUM(v) AS BIGINT) AS sum_pix,
        |  CAST(MAX(v) AS INT) AS peak,
        |  CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN v ELSE 0 END) AS INT)
        |    AS first_pix
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Compressed-TIFF oracle: the LZW phrase table, early-change
    // widths, predictor reconstruction and PackBits packets all sit
    // between the file bytes and these sums.
    "mm_tiff_lzw" ->
      """WITH dim AS (SELECT doc_id AS id, 8 + doc_id % 37 AS w,
        |    5 + doc_id % 23 AS h, 2 + doc_id % 5 AS rps
        |  FROM documents),
        |px AS (SELECT id, w, h, rps, x, y,
        |    (id + 5*(x // 4) + 3*y) % 256 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(h)) AS y),
        |    LATERAL (SELECT unnest(range(w)) AS x))
        |SELECT id AS doc_id,
        |  CASE WHEN id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(MAX(w) AS INT) AS width,
        |  CAST(MAX(h) AS INT) AS height,
        |  CAST((MAX(h) + MAX(rps) - 1) // MAX(rps) AS INT) AS n_strips,
        |  CAST(SUM(v) AS BIGINT) AS sum_pix,
        |  CAST(MAX(v) AS INT) AS peak,
        |  CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN v ELSE 0 END) AS INT)
        |    AS first_pix
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the tag strings by concat AND the full tag-size byte
    // arithmetic (7 frame headers + per-frame text lengths + padding).
    "mm_id3_tags" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS INT)
        |    AS version,
        |  CAST(70
        |    + 8 + length(CAST(doc_id % 100 AS VARCHAR)) + doc_id % 120
        |    + 8 + length(CAST(doc_id % 40 AS VARCHAR))
        |    + 7 + length(CAST(doc_id % 15 AS VARCHAR))
        |    + 1 + length(CAST(1 + doc_id % 20 AS VARCHAR))
        |    + 5 + 13 + 3 + doc_id % 40 AS INT) AS tag_bytes,
        |  CAST(7 AS INT) AS n_frames,
        |  'Title ' || chr(CAST(65 + doc_id % 26 AS INT))
        |    || (doc_id % 100) || repeat('x', CAST(doc_id % 120 AS INT))
        |    AS title,
        |  'Artist ' || (doc_id % 40) AS artist,
        |  'Album ' || (doc_id % 15) AS album,
        |  CAST(1 + doc_id % 20 AS INT) AS track,
        |  CAST(1970 + doc_id % 55 AS INT) AS year,
        |  'note ' || (doc_id % 7) AS comment
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Re-derives every packet's TOC arithmetic from the (id, k) grid:
    // config → µs duration through the full RFC table (SILK, hybrid,
    // CELT branches), per-code frame counts and byte sums (the code-3
    // VBR sum expanded with M-guards), padding, and the max frame len.
    "mm_opus_toc" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    6 + (CAST(n_chars AS BIGINT) % 8) AS np
        |  FROM documents),
        |pk AS (SELECT id, k, id + 3*k AS u, k % 4 AS code,
        |    CASE WHEN k % 4 = 3 OR k % 2 = 0 THEN 16 + (id + 3*k) % 16
        |      ELSE (id + 3*k) % 16 END AS config,
        |    2 + (id + 3*k) % 3 AS m
        |  FROM dim, LATERAL (SELECT unnest(range(np)) AS k)),
        |pd AS (SELECT *,
        |    CASE WHEN config < 12 THEN
        |        CASE config % 4 WHEN 0 THEN 10000 WHEN 1 THEN 20000
        |          WHEN 2 THEN 40000 ELSE 60000 END
        |      WHEN config < 16 THEN
        |        CASE WHEN config % 2 = 0 THEN 10000 ELSE 20000 END
        |      ELSE CASE (config - 16) % 4 WHEN 0 THEN 2500
        |        WHEN 1 THEN 5000 WHEN 2 THEN 10000 ELSE 20000 END
        |    END AS dur,
        |    CASE code WHEN 0 THEN 1 WHEN 3 THEN m ELSE 2 END AS frames,
        |    (u // 2) % 2 AS stereo,
        |    CASE WHEN code = 3 AND u % 3 = 0 THEN u % 20 ELSE 0 END
        |      AS pad,
        |    CASE code
        |      WHEN 0 THEN 10 + u % 60
        |      WHEN 1 THEN 2 * (8 + u % 30)
        |      WHEN 2 THEN 200 + u % 300 + 7 + u % 40
        |      ELSE CASE WHEN u % 2 = 1 THEN
        |          (6 + u % 80)
        |          + CASE WHEN m >= 3 THEN 6 + (u + 1) % 80 ELSE 0 END
        |          + CASE WHEN m >= 4 THEN 6 + (u + 2) % 80 ELSE 0 END
        |          + 9 + u % 33
        |        ELSE m * (9 + u % 25) END
        |    END AS fbytes,
        |    CASE code
        |      WHEN 0 THEN 10 + u % 60
        |      WHEN 1 THEN 8 + u % 30
        |      WHEN 2 THEN 200 + u % 300
        |      ELSE CASE WHEN u % 2 = 1 THEN GREATEST(
        |          6 + u % 80,
        |          CASE WHEN m >= 3 THEN 6 + (u + 1) % 80 ELSE -1 END,
        |          CASE WHEN m >= 4 THEN 6 + (u + 2) % 80 ELSE -1 END,
        |          9 + u % 33)
        |        ELSE 9 + u % 25 END
        |    END AS fmax
        |  FROM pk)
        |SELECT id AS doc_id,
        |  CAST(COUNT(*) AS INT) AS n_packets,
        |  CAST(SUM(frames) AS INT) AS n_frames,
        |  CAST(SUM(frames * dur) AS BIGINT) AS duration_us,
        |  CAST(SUM(stereo) AS INT) AS stereo_packets,
        |  CAST(SUM(pad) AS BIGINT) AS padding_bytes,
        |  CAST(SUM(fbytes) AS BIGINT) AS frame_bytes,
        |  CAST(MAX(fmax) AS INT) AS max_frame
        |FROM pd GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the Matroska fields from the fixture rotation and the
    // SimpleBlock payload-size sum the vint walk must recover.
    "mm_mkv_meta" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    3 + (CAST(n_chars AS BIGINT) % 5) AS nb
        |  FROM documents),
        |bl AS (SELECT id, SUM(20 + (id + 13*k) % 100) AS bbytes
        |  FROM dim, LATERAL (SELECT unnest(range(nb)) AS k)
        |  GROUP BY id)
        |SELECT d.id AS doc_id,
        |  CASE WHEN d.id % 2 = 0 THEN 'webm' ELSE 'matroska' END
        |    AS doc_type,
        |  CAST(1000000 AS BIGINT) AS ts_scale,
        |  CAST(1000 + d.id % 9000 AS BIGINT) AS duration_ms,
        |  CAST(2 AS INT) AS n_tracks,
        |  CASE d.id % 3 WHEN 0 THEN 'V_VP8' WHEN 1 THEN 'V_VP9'
        |    ELSE 'V_MPEG4/ISO/AVC' END AS v_codec,
        |  CAST(320 + d.id % 640 AS INT) AS width,
        |  CAST(240 + d.id % 480 AS INT) AS height,
        |  CASE WHEN d.id % 2 = 0 THEN 'A_OPUS' ELSE 'A_VORBIS' END
        |    AS a_codec,
        |  CAST(1 + d.id % 2 AS INT) AS channels,
        |  CAST(CASE WHEN d.id % 2 = 0 THEN 48000 ELSE 44100 END AS INT)
        |    AS sample_rate,
        |  CAST(d.nb AS INT) AS n_blocks,
        |  CAST(b.bbytes AS BIGINT) AS block_bytes
        |FROM dim d JOIN bl b ON d.id = b.id ORDER BY doc_id""".stripMargin,

    // Re-derives every LPC-decoded sample by replaying the quantized
    // prediction recurrence as a recursive CTE: order-1
    // x[j] = ⌊x[j-1]/2⌋ + e[j], order-2 x[j] = ⌊(x[j-1]+x[j-2])/4⌋
    // + e[j], CONSTANT frames inline. floor() is explicit because
    // DuckDB's `//` TRUNCATES while the decoder's arithmetic shift
    // FLOORS — they differ on every odd negative prediction, so a
    // shift-semantics bug on either side diverges the hash.
    "mm_flac_lpc" ->
      """WITH RECURSIVE dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    2 + (CAST(n_chars AS BIGINT) % 6) AS nf
        |  FROM documents),
        |frames AS (SELECT id, ch, nf, i, c, (id + i) % 3 AS t
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(nf)) AS i),
        |    LATERAL (SELECT unnest(range(ch)) AS c)),
        |chain(id, ch, nf, i, c, t, j, x, xp) AS (
        |  SELECT id, ch, nf, i, c, t, 0,
        |    CAST(CASE WHEN t = 2 THEN (id*31 + i*17 + c*7) % 1001 - 500
        |      ELSE (id*13 + i*7 + c*3) % 801 - 400 END AS BIGINT),
        |    CAST(0 AS BIGINT)
        |  FROM frames
        |  UNION ALL
        |  SELECT id, ch, nf, i, c, t, j + 1,
        |    CAST(CASE WHEN t = 2 THEN x
        |      WHEN t = 0 THEN CAST(floor(x / 2.0) AS BIGINT)
        |        + (id + i*3 + c*5 + (j+1)) % 15 - 7
        |      WHEN j = 0 THEN (id*11 + i*5 + c*9) % 601 - 300
        |      ELSE CAST(floor((x + xp) / 4.0) AS BIGINT)
        |        + (id + i*3 + c*5 + (j+1)) % 15 - 7 END AS BIGINT),
        |    x
        |  FROM chain WHERE j < 255)
        |SELECT id AS doc_id,
        |  CAST(MAX(ch) AS INT) AS channels,
        |  CAST(CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |    ELSE 8000 END AS INT) AS sample_rate,
        |  CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(MAX(nf) * 256 AS BIGINT) AS total_samples,
        |  CAST(SUM(x) AS BIGINT) AS sum_samples,
        |  CAST(SUM(abs(x)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(x)) AS INT) AS peak_abs,
        |  CAST(SUM(CASE WHEN i = 0 AND c = 0 AND j = 0
        |    THEN x ELSE 0 END) AS INT) AS first_sample
        |FROM chain GROUP BY id ORDER BY doc_id""".stripMargin,

    // Base arithmetic times the per-frame power of two — the exact
    // integers only a decoder that narrows the coded width AND
    // restores the shift can produce.
    "mm_flac_wasted" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    2 + (CAST(n_chars AS BIGINT) % 6) AS nf
        |  FROM documents),
        |grid AS (SELECT id, nf, i, j
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(nf)) AS i),
        |    LATERAL (SELECT unnest(range(256)) AS j)),
        |samp AS (SELECT id, nf, i, j,
        |    (CASE WHEN (id + i) % 2 = 0
        |      THEN (id*31 + i*17) % 201 - 100
        |      ELSE (id*3 + i*5 + j*7) % 201 - 100 END)
        |    * (CASE 1 + (id + i) % 3 WHEN 1 THEN 2 WHEN 2 THEN 4
        |        ELSE 8 END) AS s
        |  FROM grid)
        |SELECT id AS doc_id,
        |  CAST(1 AS INT) AS channels,
        |  CAST(CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |    ELSE 8000 END AS INT) AS sample_rate,
        |  CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(MAX(nf) * 256 AS BIGINT) AS total_samples,
        |  CAST(SUM(s) AS BIGINT) AS sum_samples,
        |  CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(s)) AS INT) AS peak_abs,
        |  CAST(SUM(CASE WHEN i = 0 AND j = 0 THEN s ELSE 0 END)
        |    AS INT) AS first_sample
        |FROM samp GROUP BY id ORDER BY doc_id""".stripMargin,

    // Mode-free (L, R) grid arithmetic: decorrelation is lossless, so
    // whatever channel assignment rode the wire, the decoded output is
    // these exact integers — recovered by the Spark side through real
    // side-channel reads and per-mode integer reconstruction.
    "mm_flac_stereo" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    2 + (CAST(n_chars AS BIGINT) % 6) AS nf
        |  FROM documents),
        |grid AS (SELECT id, nf, i, c, j
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(nf)) AS i),
        |    LATERAL (SELECT unnest(range(2)) AS c),
        |    LATERAL (SELECT unnest(range(256)) AS j)),
        |samp AS (SELECT id, nf, i, c, j,
        |    CASE WHEN c = 0 THEN (id*3 + i*5 + j*7) % 1201 - 600
        |      ELSE (id*7 + i*11 + j*13) % 1001 - 500 END AS s
        |  FROM grid)
        |SELECT id AS doc_id,
        |  CAST(2 AS INT) AS channels,
        |  CAST(CASE id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 22050
        |    ELSE 8000 END AS INT) AS sample_rate,
        |  CAST(MAX(nf) AS INT) AS n_frames,
        |  CAST(MAX(nf) * 256 AS BIGINT) AS total_samples,
        |  CAST(SUM(s) AS BIGINT) AS sum_samples,
        |  CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
        |  CAST(MAX(abs(s)) AS INT) AS peak_abs,
        |  CAST(SUM(CASE WHEN i = 0 AND c = 0 AND j = 0
        |    THEN s ELSE 0 END) AS INT) AS first_sample
        |FROM samp GROUP BY id ORDER BY doc_id""".stripMargin,

    // Same derived samples as mm_wav_energy; crossings via a
    // per-channel LAG with the identical strict prev·cur < 0 rule.
    "mm_wav_zcr" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    150 + (CAST(n_chars AS BIGINT) % 873) AS n
        |  FROM documents),
        |sm AS (SELECT id, ch, n, c, f,
        |    CASE WHEN ((f // 100) + id) % 5 = 0
        |      THEN (7*f + 13*c + id) % 97 - 48
        |      ELSE (7*f + 13*c + id) % 2003 - 1001 END AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(n)) AS f),
        |    LATERAL (SELECT unnest(range(ch)) AS c)),
        |lagged AS (SELECT id, ch, n, v,
        |    LAG(v) OVER (PARTITION BY id, c ORDER BY f) AS pv
        |  FROM sm)
        |SELECT id AS doc_id, CAST(MAX(ch) AS INT) AS channels,
        |  MAX(n) AS n_frames,
        |  CAST(SUM(CASE WHEN pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS crossings
        |FROM lagged GROUP BY id ORDER BY doc_id""".stripMargin,

    // Samples re-derived from the muted/loud pattern arithmetic,
    // windowed by f // 100; every field is an exact BIGINT.
    "mm_wav_energy" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    150 + (CAST(n_chars AS BIGINT) % 873) AS n
        |  FROM documents),
        |sm AS (SELECT id, f // 100 AS w,
        |    CASE WHEN ((f // 100) + id) % 5 = 0
        |      THEN (7*f + 13*c + id) % 97 - 48
        |      ELSE (7*f + 13*c + id) % 2003 - 1001 END AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(n)) AS f),
        |    LATERAL (SELECT unnest(range(ch)) AS c)),
        |win AS (SELECT id, w, CAST(SUM(v * v) AS BIGINT) AS e,
        |    MAX(ABS(v)) AS mx
        |  FROM sm GROUP BY 1, 2)
        |SELECT id AS doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(e) AS BIGINT) AS energy_total,
        |  CAST(SUM(CASE WHEN mx < 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent,
        |  MAX(e) AS peak_window_energy
        |FROM win GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the refinement fixture's pixels from block coords:
    // v = (bx + 3·by + id) mod 255, decoded pixel = v + 1 exactly
    // (DC = 8·(v−128)+5 → rint(m + 5/8) = m+1) — only a decoder that
    // applies the Ah=1 correction scans lands on this arithmetic.
    "mm_jpeg_refine" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 29) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 17) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    ((x // 8) + 3 * (y // 8) + id) % 255 + 1 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(v) AS DOUBLE) / (MAX(w) * MAX(h)), 6)
        |    AS mean_gray,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / MAX(w), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the 4:2:0 channel means: Y from the 8×8 luma block
    // coords, chroma from the 16×16 MCU coords (replication upsampling
    // of an MCU-constant block is the identity), then the same
    // fixed-point conversion as mm_jpeg_rgb.
    "mm_jpeg_420" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 52) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 34) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    ((x // 8) + 3 * (y // 8) + id) % 256 AS yv,
        |    (2 * (x // 16) + (y // 16) + id) % 256 AS cb,
        |    ((x // 16) + 7 * (y // 16) + 2 * id) % 256 AS cr
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    LEAST(255, GREATEST(0, ((yv * 65536 + 91881 * (cr - 128)
        |      + 32768 + 16777216) // 65536) - 256)) AS r,
        |    LEAST(255, GREATEST(0, ((yv * 65536 - 22554 * (cb - 128)
        |      - 46802 * (cr - 128) + 32768 + 16777216) // 65536) - 256))
        |      AS g,
        |    LEAST(255, GREATEST(0, ((yv * 65536 + 116130 * (cb - 128)
        |      + 32768 + 16777216) // 65536) - 256)) AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the color-JPEG channel means: block-constant YCbCr
    // from block coordinates, then EXACTLY the decoder's fixed-point
    // conversion — libjpeg 16-bit constants, +32768 rounding, and the
    // 256<<16 bias that makes // (truncation) equal >> (floor).
    "mm_jpeg_rgb" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 28) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 18) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    ((x // 8) + 3 * (y // 8) + id) % 256 AS yv,
        |    (2 * (x // 8) + (y // 8) + id) % 256 AS cb,
        |    ((x // 8) + 7 * (y // 8) + 2 * id) % 256 AS cr
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    LEAST(255, GREATEST(0, ((yv * 65536 + 91881 * (cr - 128)
        |      + 32768 + 16777216) // 65536) - 256)) AS r,
        |    LEAST(255, GREATEST(0, ((yv * 65536 - 22554 * (cb - 128)
        |      - 46802 * (cr - 128) + 32768 + 16777216) // 65536) - 256))
        |      AS g,
        |    LEAST(255, GREATEST(0, ((yv * 65536 + 116130 * (cb - 128)
        |      + 32768 + 16777216) // 65536) - 256)) AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the JPEG gray means from the block arithmetic: pixel
    // (x, y) sits in block (x//8, y//8) whose constant value is
    // (bx + 3·by + seed) mod 256 — exact because the fixture is
    // DC-only under an all-ones quant table.
    "mm_jpeg_pixels" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 44) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 26) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    ((x // 8) + 3 * (y // 8) + id) % 256 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(v) AS DOUBLE) / (MAX(w) * MAX(h)), 6)
        |    AS mean_gray,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / MAX(w), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives every sampled animation frame's canvas gray total:
    // base frame (x + 7y + id) mod 256 through the palette, then the
    // per-frame 8×8 sub-rect deltas (new-pattern gray minus the base
    // gray it overwrites; slots are disjoint so deltas just SUM) up to
    // the sampled frame index. Exact BIGINT end to end.
    "mm_gif_frames" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    2 + (CAST(n_chars AS BIGINT) % 13) AS nf FROM documents),
        |pal AS (SELECT i, i + (2 * i) % 255 + (3 * i) % 253 AS g
        |  FROM (SELECT unnest(range(256)) AS i)),
        |base AS (SELECT id, SUM(p.g) AS total
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(40)) AS x),
        |    LATERAL (SELECT unnest(range(24)) AS y),
        |    pal p
        |  WHERE p.i = (x + 7 * y + id) % 256
        |  GROUP BY id),
        |rects AS (SELECT id, j, SUM(pn.g - pb.g) AS delta
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(1, nf)) AS j),
        |    LATERAL (SELECT unnest(range(8)) AS dx),
        |    LATERAL (SELECT unnest(range(8)) AS dy),
        |    LATERAL (SELECT 8 * ((j - 1) % 5) + dx AS x,
        |                    8 * (((j - 1) // 5) % 3) + dy AS y),
        |    pal pn, pal pb
        |  WHERE pn.i = (3 * x + 5 * y + 11 * j + id) % 256
        |    AND pb.i = (x + 7 * y + id) % 256
        |  GROUP BY id, j),
        |frames AS (SELECT id, nf, f
        |  FROM dim, LATERAL (SELECT unnest(range(0, nf, 3)) AS f))
        |SELECT f.id AS doc_id, CAST(f.nf AS INT) AS n_frames,
        |  CAST(f.f AS INT) AS frame_idx,
        |  CAST(b.total + COALESCE((SELECT SUM(r.delta) FROM rects r
        |    WHERE r.id = f.id AND r.j <= f.f), 0) AS BIGINT) AS gray_sum
        |FROM frames f JOIN base b ON b.id = f.id
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // Re-derives the GIF channel means from the pattern arithmetic:
    // pixel index (x + 7y + seed) mod 256, palette entry i →
    // (i, 2i mod 255, 3i mod 253) — the expectation never touches the
    // bytes, so the LZW pipeline is verified against pure math.
    "mm_gif_pixels" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 56) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 28) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 7 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    ci AS r, (2 * ci) % 255 AS g, (3 * ci) % 253 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the VP8L channel means from the pattern arithmetic:
    // ci = (x + 7y + id) mod 256 → (r, g, b) = ((5ci) mod 251, ci,
    // (3ci) mod 253) — the whole entropy-coded pipeline (trees, LZ77,
    // cache, subtract-green inverse) is verified against pure math.
    "mm_webpl_pixels" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    10 + (CAST(n_chars AS BIGINT) % 40) AS w,
        |    2 + (CAST(n_chars AS BIGINT) % 20) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 7 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    (5 * ci) % 251 AS r, ci AS g, (3 * ci) % 253 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // The I_PCM oracle is pure pattern arithmetic on the PCM samples —
    // the slice header walk, mb_type parse, byte alignment, and
    // emulation-prevention unescape all sit between file bytes and
    // these sums; qp_y re-derives the PPS + slice-delta chain.
    "mm_avc_islice" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 3) AS mw,
        |    1 + ((CAST(n_chars AS BIGINT) // 3) % 2) AS mh
        |  FROM documents),
        |luma AS (SELECT id, SUM((id + 3 * x + 5 * yy) % 256) AS sy
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(16 * mw)) AS x),
        |    LATERAL (SELECT unnest(range(16 * mh)) AS yy)
        |  GROUP BY id),
        |chroma AS (SELECT id,
        |    SUM((id + 2 * x + 7 * yy) % 256) AS scb,
        |    SUM((3 * id + x + yy) % 256) AS scr
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(8 * mw)) AS x),
        |    LATERAL (SELECT unnest(range(8 * mh)) AS yy)
        |  GROUP BY id)
        |SELECT d.id AS doc_id,
        |  CAST(16 * d.mw AS INT) AS width,
        |  CAST(16 * d.mh AS INT) AS height,
        |  CAST(d.mw * d.mh AS INT) AS n_mbs,
        |  CAST(18 + d.id % 11 + d.id % 7 AS INT) AS qp_y,
        |  CAST(l.sy AS BIGINT) AS sum_y,
        |  CAST(c.scb AS BIGINT) AS sum_cb,
        |  CAST(c.scr AS BIGINT) AS sum_cr,
        |  CAST(d.id % 256 AS INT) AS first_y
        |FROM dim d JOIN luma l ON d.id = l.id
        |  JOIN chroma c ON d.id = c.id
        |ORDER BY doc_id""".stripMargin,

    // Palette formulas replayed over the index pattern: ci = (x + 7y +
    // id) mod k, entry j = ((37j+id), (11j+3id), (53j+7id)) mod 256 —
    // the delta coding, bundling widths and palette walk all sit
    // between the file bytes and these means.
    "mm_webpl_palette" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    7 + (CAST(n_chars AS BIGINT) % 29) AS w,
        |    2 + (CAST(n_chars AS BIGINT) % 13) AS h,
        |    2 + (doc_id % 15) AS k
        |  FROM documents),
        |px AS (SELECT id, w, h, k, x, y,
        |    (x + 7 * y + id) % k AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    (37 * ci + id) % 256 AS r,
        |    (11 * ci + 3 * id) % 256 AS g,
        |    (53 * ci + 7 * id) % 256 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // The predictor gate reconstructs the SAME pattern as
    // mm_webpl_pixels (different dims), so the oracle is the identical
    // arithmetic — wrong predictor → wrong reconstruction → hash miss.
    "mm_webpl_predict" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    8 + (CAST(n_chars AS BIGINT) % 21) AS w,
        |    3 + (CAST(n_chars AS BIGINT) % 17) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 7 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    (5 * ci) % 251 AS r, ci AS g, (3 * ci) % 253 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Cross-color oracle: the block multipliers, signed products and
    // residual coding all sit between the file bytes and these means —
    // the pattern is only reachable through a correct inverse.
    "mm_webpl_cross" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    6 + (CAST(n_chars AS BIGINT) % 23) AS w,
        |    3 + (CAST(n_chars AS BIGINT) % 19) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 3 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h,
        |    (11 * ci) % 255 AS r, ci AS g, (7 * ci) % 249 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Meta-prefix oracle: same shape — the per-block group selection
    // and the rotated canonical codes sit between bytes and means.
    "mm_webpl_meta" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    9 + (CAST(n_chars AS BIGINT) % 19) AS w,
        |    4 + (CAST(n_chars AS BIGINT) % 11) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 11 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h,
        |    (7 * ci) % 251 AS r, ci AS g, (5 * ci) % 241 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives every class's sampled-frame pHash sequence from the
    // composition arithmetic (pixel → last-writer slot CASE → palette
    // gray → 32×32 cells → centered q → the SAME embedded cosine table
    // → sign bits), then brute-forces class pairs under the identical
    // criterion: equal frame counts, frames matched index-for-index,
    // total distance ≤ 4·n. 29 classes make the all-pairs filter exact.
    "mm_video_neardups" ->
      ("""WITH cls AS (SELECT doc_id % 29 AS s, MIN(doc_id) AS cid
        |  FROM documents GROUP BY 1),
        |par AS (SELECT s, cid,
        |    CASE WHEN s >= 23 THEN s - 23 ELSE s END AS b0,
        |    CASE WHEN s >= 23 THEN 1 ELSE 0 END AS tw FROM cls),
        |dim AS (SELECT s, cid, b0, tw, 6 + (b0 % 5) AS nf FROM par),
        |fr AS (SELECT s, cid, b0, tw, nf, f
        |  FROM dim, LATERAL (SELECT unnest(range(0, nf, 2)) AS f)),
        |pal AS (SELECT i, i + (2 * i) % 255 + (3 * i) % 253 AS g
        |  FROM (SELECT unnest(range(256)) AS i)),
        |pxi AS (SELECT s, f, x, y,
        |    CASE WHEN (y // 8) * 8 + (x // 8) + 1 <= f
        |      THEN (3 * x + 5 * y + 11 * ((y // 8) * 8 + x // 8 + 1)
        |        + 61 * b0
        |        + CASE WHEN tw = 1 AND (y // 8) * 8 + x // 8 + 1 = 2
        |            AND x % 8 < 2 AND y % 8 < 2 THEN 97 ELSE 0 END) % 256
        |      ELSE (31 * x + 47 * y + 61 * b0) % 256 END AS ci
        |  FROM fr,
        |    LATERAL (SELECT unnest(range(64)) AS x),
        |    LATERAL (SELECT unnest(range(32)) AS y)),
        |cells AS (SELECT s, f, (x * 32) // 64 AS cx, (y * 32) // 32 AS cy,
        |    SUM(p.g) AS cs, COUNT(*) AS cn
        |  FROM pxi, pal p WHERE p.i = pxi.ci GROUP BY 1, 2, 3, 4),
        |tot AS (SELECT s, f, SUM(cs) AS ts, SUM(cn) AS tn
        |  FROM cells GROUP BY 1, 2),
        |q AS (SELECT s, f, cx, cy, cs * tn - ts * cn AS q
        |  FROM cells JOIN tot USING (s, f)),
        |cosb(u, x, c) AS (VALUES """.stripMargin + phashCosValues +
      """),
        |coef AS (SELECT s, f, cu.u AS u, cv.u AS v,
        |    SUM(q.q * cu.c * cv.c) AS coef
        |  FROM q JOIN cosb cu ON cu.x = q.cx
        |         JOIN cosb cv ON cv.x = q.cy
        |  GROUP BY 1, 2, 3, 4),
        |hashes AS (SELECT s, f,
        |    string_agg(CASE WHEN coef > 0 THEN '1' ELSE '0' END,
        |      '' ORDER BY u, v) AS ph FROM coef GROUP BY s, f),
        |meta AS (SELECT s, cid, (nf + 1) // 2 AS n FROM dim),
        |pd AS (SELECT ma.cid AS id_a, mb.cid AS id_b, ma.n AS n,
        |    (SELECT COUNT(*) FROM range(64) r(i)
        |     WHERE substr(ha.ph, CAST(i AS INT) + 1, 1)
        |        <> substr(hb.ph, CAST(i AS INT) + 1, 1)) AS dist
        |  FROM meta ma JOIN meta mb
        |    ON ma.cid < mb.cid AND ma.n = mb.n
        |  JOIN hashes ha ON ha.s = ma.s
        |  JOIN hashes hb ON hb.s = mb.s AND hb.f = ha.f),
        |agg AS (SELECT id_a, id_b, MAX(n) AS n,
        |    SUM(dist) AS total_dist
        |  FROM pd GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n AS INT) AS n_frames,
        |  CAST(total_dist AS BIGINT) AS total_dist
        |FROM agg WHERE total_dist <= 4 * n
        |ORDER BY id_a, id_b""".stripMargin),

    // Palette-BMP means: the same index/palette arithmetic, the BMP
    // fixture's dimensions.
    "mm_bmp_palette" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 44) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 22) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 7 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    ci AS r, (2 * ci) % 255 AS g, (3 * ci) % 253 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Palette-PNG means from the same index/palette arithmetic as the
    // GIF oracle (the fixtures share one palette formula), over the
    // palette fixture's dimensions — the pipeline under test is the
    // bpp=1 defilter + PLTE expansion.
    "mm_png_palette" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 50) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 26) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + 7 * y + id) % 256 AS ci
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y)),
        |rgb AS (SELECT id, w, h, x, y,
        |    ci AS r, (2 * ci) % 255 AS g, (3 * ci) % 253 AS b
        |  FROM px)
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM rgb GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the PNG channel means from the pattern arithmetic
    // (never from the bytes) — the pipeline under test is inflate +
    // all-five-filters reconstruction; the expectation is pure (w, h,
    // seed) math, identical in shape to the BMP oracle but over the
    // PNG fixture's dimensions.
    "mm_png_pixels" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 40) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 24) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (x + y + 2 * id) % 255 AS r,
        |    (2 * x + y + id) % 253 AS g,
        |    (x + 3 * y + id) % 251 AS b
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Adam7 oracle: pass decomposition, per-pass defiltering and the
    // scatter all sit between the file bytes and these means — a
    // wrong pass geometry or shared-prior-row bug diverges them.
    "mm_png_adam7" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (CAST(n_chars AS BIGINT) % 38) AS w,
        |    1 + (CAST(n_chars AS BIGINT) % 19) AS h
        |  FROM documents),
        |px AS (SELECT id, w, h, x, y,
        |    (2 * x + 5 * y + id) % 255 AS r,
        |    (x + 3 * y + 2 * id) % 253 AS g,
        |    (4 * x + y + 3 * id) % 251 AS b
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(w)) AS x),
        |    LATERAL (SELECT unnest(range(h)) AS y))
        |SELECT id AS doc_id,
        |  CAST(MAX(w) AS INT) AS width, CAST(MAX(h) AS INT) AS height,
        |  round(CAST(SUM(r) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_r,
        |  round(CAST(SUM(g) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_g,
        |  round(CAST(SUM(b) AS DOUBLE) / (MAX(w) * MAX(h)), 6) AS mean_b,
        |  round(CAST(SUM(CASE WHEN y = 0 THEN r + g + b ELSE 0 END)
        |      AS DOUBLE) / (3 * MAX(w)), 6) AS top_row_mean
        |FROM px GROUP BY id ORDER BY doc_id""".stripMargin,

    // Re-derives the µ-law loudness stats by expanding the companded
    // byte pattern with the G.711 formula in SQL: u = 255 − b
    // (complement), t = ((u mod 16)·8 + 132) << ((u ÷ 16) mod 8),
    // value = ±(t − 132) by the sign bit.
    "mm_wav_ulaw" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    1 + (CAST(n_chars AS BIGINT) % 400) AS n
        |  FROM documents),
        |sm AS (SELECT id, ch, n, f, c,
        |    255 - ((5 * f + 11 * c + id) % 256) AS u
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(n)) AS f),
        |    LATERAL (SELECT unnest(range(ch)) AS c)),
        |pcm AS (SELECT id, ch, n, f, c,
        |    CASE WHEN u >= 128
        |      THEN 132 - ((((u % 16) * 8) + 132) << ((u // 16) % 8))
        |      ELSE ((((u % 16) * 8) + 132) << ((u // 16) % 8)) - 132
        |    END AS v
        |  FROM sm)
        |SELECT id AS doc_id,
        |  CAST(MAX(ch) AS INT) AS channels,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST(MAX(n) AS BIGINT) AS n_samples,
        |  round(CAST(SUM(v) AS DOUBLE) / (MAX(n) * MAX(ch)), 6)
        |    AS mean_sample,
        |  round(CAST(SUM(abs(v)) AS DOUBLE) / (MAX(n) * MAX(ch)), 6)
        |    AS mean_abs,
        |  CAST(MAX(abs(v)) AS INT) AS peak_abs,
        |  round(CAST(SUM(CASE WHEN f = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / MAX(ch), 6) AS first_frame_mean
        |FROM pcm GROUP BY id ORDER BY doc_id""".stripMargin,

    // Audio twin: re-derives the decoded loudness stats from the signal
    // arithmetic — one row per (frame, channel) via range() unnest,
    // exact integer sums, one division. A sign/endianness/offset bug in
    // the sample decoder diverges the hash.
    "mm_wav_samples" ->
      """WITH dim AS (SELECT doc_id AS id,
        |    1 + (doc_id % 2) AS ch,
        |    8000 + (CAST(n_chars AS BIGINT) % 8000) AS rate,
        |    1 + (CAST(n_chars AS BIGINT) % 512) AS n
        |  FROM documents),
        |sm AS (SELECT id, ch, rate, n, f, c,
        |    (7 * f + 13 * c + id) % 2003 - 1001 AS v
        |  FROM dim,
        |    LATERAL (SELECT unnest(range(n)) AS f),
        |    LATERAL (SELECT unnest(range(ch)) AS c))
        |SELECT id AS doc_id,
        |  CAST(MAX(ch) AS INT) AS channels,
        |  CAST(MAX(rate) AS INT) AS sample_rate,
        |  CAST(MAX(n) AS BIGINT) AS n_samples,
        |  round(CAST(SUM(v) AS DOUBLE) / (MAX(n) * MAX(ch)), 6)
        |    AS mean_sample,
        |  round(CAST(SUM(abs(v)) AS DOUBLE) / (MAX(n) * MAX(ch)), 6)
        |    AS mean_abs,
        |  CAST(MAX(abs(v)) AS INT) AS peak_abs,
        |  round(CAST(SUM(CASE WHEN f = 0 THEN v ELSE 0 END) AS DOUBLE)
        |    / MAX(ch), 6) AS first_frame_mean
        |FROM sm GROUP BY id ORDER BY doc_id""".stripMargin
  )
}
