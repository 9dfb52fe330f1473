package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering: a logistic-regression
  * classifier over cheap text features, trained IN Spark — the "train a
  * small classifier against a reference signal, keep what it likes"
  * pass (the GPT-3 / LLaMA curation recipe, both published) next to the
  * heuristic [[TextAnalysis.qualityScore]] tier.
  *
  * Training is IRLS / Newton's method (the classic GLM fit — public
  * knowledge in every statistics text): featurize once (map-only),
  * persist the (d+1)-double frame, then per iteration ONE hash
  * aggregation computes the log-loss gradient (d+1 doubles) and the
  * upper-triangular Hessian (σ(z)(1−σ(z))-weighted Gram matrix,
  * (d+1)(d+2)/2 doubles); the driver solves the tiny ridge-damped
  * normal system and updates. Quadratic convergence means ~8 passes
  * where plain gradient descent needs hundreds — at 100 TB that is 8
  * partial-agg tree jobs over a ~50-byte-per-row cached frame (the
  * text scans exactly once), with only O(d²) doubles ever reaching the
  * driver.
  *
  * Scoring is a pure Column expression (fixed left-to-right multiply-add
  * fold), so the frozen model replays exactly in the DuckDB oracle: the
  * weight literals round-trip via `Double.toString`, and both engines
  * evaluate the identical IEEE chain (no exp/sigmoid at scoring time —
  * the decision stays in logit space where arithmetic is exact).
  */
object QualityClassifier {

  /** Frozen classifier: `logit = bias + Σ wᵢ·xᵢ` in feature order. */
  final case class Model(bias: Double, weights: Seq[Double],
                         featureNames: Seq[String])

  /** The feature set, in the fold order the model freezes. All exact
    * integer-derived doubles (counts, power-of-two band divisions, and
    * integer/double divisions), so Spark and DuckDB agree bit-for-bit:
    *   f_len  — length band LEAST(n_tokens/64, 1)
    *   f_ttr  — type-token ratio
    *   f_stop — reference-language stopword band LEAST(hits/4, 1)
    *   f_wlen — mean word length (single-space tokenization identity)
    */
  def features(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val tk = split(text, " ")
    val dt = array_distinct(tk)
    val nt = size(tk)
    Seq(
      "f_len" -> least(nt / 64.0, lit(1.0)),
      "f_ttr" -> (size(dt).cast("double") / nt),
      "f_stop" -> least(
        size(array_intersect(dt, array(stopwords.map(lit): _*))) / 4.0,
        lit(1.0)),
      "f_wlen" -> ((length(text) - nt + 1).cast("double") / nt))
  }

  /** The frozen-model logit as a Column over the SAME feature
    * expressions — fixed fold `bias + x₀·w₀ + x₁·w₁ + …` (multiply
    * written feature-first; IEEE multiplication is commutative so the
    * oracle's `xᵢ * wᵢ` is bit-identical). */
  def logit(model: Model, feats: Seq[Column]): Column =
    feats.zip(model.weights).foldLeft(lit(model.bias): Column) {
      case (acc, (x, w)) => acc + x * lit(w)
    }

  /** Fit by ridge-damped IRLS on log-loss over the standard text
    * feature set. `label` must be a 0/1 numeric column. */
  def fit(docs: DataFrame, text: Column, label: Column,
          stopwords: Seq[String], iters: Int = 8,
          ridge: Double = 1e-3): Model =
    fitOn(docs, features(text, stopwords), label, iters, ridge)

  /** Fit by ridge-damped IRLS on log-loss over ARBITRARY named feature
    * columns (e.g. [[TextAnalysis.featureHash]] buckets). One
    * aggregation job per Newton step; the featurized frame is
    * persisted so the input scans once. `ridge` keeps the normal
    * system nonsingular under collinear features and bounds the
    * weights when the classes are separable. */
  def fitOn(docs: DataFrame, named: Seq[(String, Column)], label: Column,
            iters: Int = 8, ridge: Double = 1e-3): Model = {
    // x0 is the intercept; x1..xd the features.
    val d = named.size + 1
    val fdf = docs
      .select(lit(1.0).as("x0") +:
        named.zipWithIndex.map { case ((_, c), i) =>
          c.cast("double").as(s"x${i + 1}") } :+
        label.cast("double").as("y"): _*)
      .na.drop()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n0 = fdf.count()
      val w = Array.fill(d)(0.0)
      // no usable rows → the null model (the aggregate sums below would
      // come back SQL-null and the fit would throw)
      if (n0 == 0L)
        return Model(0.0, w.drop(1).toSeq, named.map(_._1))
      val n = n0.toDouble
      var it = 0
      while (it < iters) {
        val z0 = (0 until d).foldLeft(lit(0.0): Column) { (acc, j) =>
          acc + col(s"x$j") * lit(w(j))
        }
        // clamp the logit so exp never overflows once steps get large
        val z = least(greatest(z0, lit(-30.0)), lit(30.0))
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        // Per-row gradient/Hessian contributions are rounded to a fixed
        // decimal granularity and summed as DECIMAL: decimal addition is
        // exact integer arithmetic, so the totals — and therefore the
        // fitted weights — are independent of partition count and row
        // order, honoring memoFit's pure-function contract (a plain
        // double sum over distributed partitions is order-dependent).
        // 12 fractional digits keeps the quantization (≤5e-13/row) far
        // below the Newton step's meaningful precision. Per-row terms
        // are cast to decimal(28,12) (integer capacity 1e16), NOT the
        // full decimal(38,12): Spark's SUM over decimal(p,s) widens to
        // decimal(min(38, p+10), s), so the accumulator keeps 10 integer
        // digits of headroom — 1e10 rows each at the per-row bound
        // before the SUM itself could overflow. A per-row bound equal to
        // the accumulator's own capacity (the r9 code's 1e26 against
        // decimal(38,12)) lets many legal rows overflow the AGGREGATE to
        // NULL with ANSI off, turning the intended loud failure into an
        // NPE at getDecimal. Every contribution is range-checked BEFORE
        // the cast: an out-of-range value must fail the fit loudly in
        // ANY SQL mode — with ANSI off a raw cast overflow is a silent
        // NULL that sum() skips (a silently-biased model), with ANSI on
        // it's a cryptic task-level ArithmeticException. The guard
        // aggregate counts violations in the same job (no extra pass),
        // and a belt-and-braces null check on the summed cells raises
        // the same descriptive error if the accumulator ever overflows
        // anyway.
        val bound = 1e16 // decimal(28,12)'s integer-digit capacity
        val gradTerms = (0 until d).map(j =>
          (col("y") - col("p")) * col(s"x$j"))
        val hessTerms = for { j <- 0 until d; k <- j until d } yield
          col("s") * col(s"x$j") * col(s"x$k")
        // p, s and each term are projected once per row, then referenced:
        // inlined, the logit would be repeated in every term and every
        // term three times below, and the plan (and each task binary)
        // grows with d² copies of it. The per-row double operations are
        // the same either way, so the fit is too.
        val termRows = fdf
          .select(col("*"), p.as("p"))
          .select(col("*"), (col("p") * (lit(1.0) - col("p"))).as("s"))
          .select((gradTerms ++ hessTerms).zipWithIndex.map { case (c, i) =>
            c.as(s"t_$i") }: _*)
        val terms = termRows.columns.toSeq.map(col)
        val dec = (c: Column) =>
          sum(when(abs(c) < bound, c.cast("decimal(28,12)")))
        val aggs = terms.zipWithIndex.map { case (c, i) =>
          dec(c).as(s"a_$i")
        } :+ sum(when(greatest(terms.map(abs): _*) >= bound, 1L)
          .otherwise(0L)).as("n_overflow")
        val row = termRows.agg(aggs.head, aggs.tail: _*).head()
        if (row.getLong(aggs.size - 1) > 0L)
          throw new IllegalStateException(
            s"IRLS contributions overflowed decimal(28,12) on " +
              s"${row.getLong(aggs.size - 1)} rows — feature magnitudes " +
              "exceed the fit's numeric envelope; rescale or clamp the " +
              "feature columns")
        val cell = (i: Int) => {
          val v = row.getDecimal(i)
          if (v == null) throw new IllegalStateException(
            "IRLS contribution SUM overflowed its decimal accumulator — " +
              "feature magnitudes exceed the fit's numeric envelope; " +
              "rescale or clamp the feature columns")
          v.doubleValue()
        }
        val g = Array.tabulate(d)(j => cell(j) - ridge * n * w(j))
        val h = Array.ofDim[Double](d, d)
        var idx = d
        for (j <- 0 until d; k <- j until d) {
          h(j)(k) = cell(idx); h(k)(j) = h(j)(k); idx += 1
        }
        for (j <- 0 until d) h(j)(j) += ridge * n
        val step = solve(h, g)
        var j = 0
        while (j < d) { w(j) += step(j); j += 1 }
        it += 1
      }
      Model(w(0), w.drop(1).toSeq, named.map(_._1))
    } finally { fdf.unpersist(blocking = false); () }
  }

  /** Gaussian elimination with partial pivoting for the d×d Newton
    * system — d is the intercept-extended feature count (5 for the
    * standard text features, 9 for the hashed set), strictly
    * driver-side. */
  private def solve(a0: Array[Array[Double]],
                    b0: Array[Double]): Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (i <- 0 until d) {
      val p = (i until d).maxBy(r => math.abs(a(r)(i)))
      val tmp = a(i); a(i) = a(p); a(p) = tmp
      val tb = b(i); b(i) = b(p); b(p) = tb
      for (r <- i + 1 until d) {
        val f = a(r)(i) / a(i)(i)
        for (c <- i until d) a(r)(c) -= f * a(i)(c)
        b(r) -= f * b(i)
      }
    }
    val x = new Array[Double](d)
    for (i <- d - 1 to 0 by -1) {
      var acc = b(i)
      for (c <- i + 1 until d) acc -= a(i)(c) * x(c)
      x(i) = acc / a(i)(i)
    }
    x
  }
}
