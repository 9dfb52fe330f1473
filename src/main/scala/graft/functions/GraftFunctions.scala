package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

/** Engine-native SQL functions, registered through the public
  * `SparkSessionExtensions.injectFunction` hook (wired by
  * [[graft.GraftExtensions]] / `GraftSession.builder`). Registration makes
  * the custom Catalyst expressions first-class: callable from SQL text,
  * resolvable by `Column.fn`, visible in EXPLAIN by pretty name.
  */
object GraftFunctions {

  // each function's info names ITS expression class (DESCRIBE FUNCTION
  // shows it), passed explicitly — a probe-build with null children
  // would NPE the builders that validate a literal argument eagerly
  private def info(name: String, usage: String,
                   clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, null, name, usage, "")

  private def one(name: String, usage: String, clazz: Class[_])
                 (build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage, clazz), { args =>
      require(args.length == 1, s"$name expects 1 argument")
      build(args.head)
    })

  private def two(name: String, usage: String, clazz: Class[_])
                 (build: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage, clazz), { args =>
      require(args.length == 2, s"$name expects 2 arguments")
      build(args(0), args(1))
    })

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    one("graft_wkb_point", "decode MySQL WKB POINT bytes to struct(x,y)",
      classOf[WkbDecode])(
      WkbDecode(_, WkbKind.Point)),
    one("graft_wkb_polygon", "decode MySQL WKB POLYGON outer ring",
      classOf[WkbDecode])(
      WkbDecode(_, WkbKind.Polygon)),
    one("graft_wkb_multipolygon", "decode MySQL WKB MULTIPOLYGON outer rings",
      classOf[WkbDecode])(
      WkbDecode(_, WkbKind.MultiPolygon)),
    two("graft_vec_dot", "codegen'd Σ aᵢ·bᵢ over float/double arrays",
      classOf[VecDot])(
      VecDot(_, _)),
    two("graft_zvalue", "Morton (Z-order) interleave of two 16-bit dims",
      classOf[ZValue])(
      ZValue(_, _)),
    one("graft_vec_norm2", "codegen'd Σ aᵢ² over a float/double array",
      classOf[VecNorm2])(
      VecNorm2(_)),
    two("graft_shingles", "distinct word-n-gram shingles, one pass",
      classOf[Shingles])(
      (text, n) => {
        require(n.foldable, "graft_shingles: n must be a literal")
        val width = n.eval() match {
          case i: java.lang.Number => i.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_shingles: n must be an integer literal, got $other")
        }
        Shingles(text, width)
      }),
    two("graft_sorted_intersect_count",
      "|a ∩ b| for sorted distinct string arrays (merge walk)",
      classOf[SortedIntersectCount])(
      SortedIntersectCount(_, _)),
    one("graft_simhash", "32-bit SimHash over distinct tokens, one pass",
      classOf[SimHash])(
      SimHash(_)),
    one("graft_url_canon",
      "RFC 3986 §6 URL normalization (case, %-escapes, dot segments, " +
        "default ports) + sorted query params, dropped fragment",
      classOf[UrlCanonicalize])(
      UrlCanonicalize(_)),
    two("graft_capped_collect_set",
      "collect_set with a hard buffer cap; saturated groups → NULL",
      classOf[CappedCollectSet])(
      (child, cap) => {
        require(cap.foldable,
          "graft_capped_collect_set: cap must be a literal")
        val n = cap.eval() match {
          case i: java.lang.Number => i.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_capped_collect_set: cap must be an integer, got $other")
        }
        CappedCollectSet(child, n)
      }),
    one("graft_stamp",
      "BIGINT constant that generated code reads from its references " +
        "array: plans differing only in this value share compiled code",
      classOf[Stamp])(
      v => {
        require(v.foldable, "graft_stamp: value must be a literal")
        v.eval() match {
          case i: java.lang.Long => Stamp(i, LongType)
          case i: java.lang.Integer => Stamp(i.longValue(), LongType)
          case other => throw new IllegalArgumentException(
            s"graft_stamp: value must be an integer, got $other")
        }
      }),
    one("graft_layout_salt",
      "the versioned store's writer-task salt of a key within its " +
        "_bucket: pmod(hash(key), 4)",
      classOf[LayoutSalt])(LayoutSalt(_)),
    variadic("graft_pq_codes",
      "PQ code array: per-subspace argmin over a literal codebook " +
        "(vec, cents, norms, m, dsub, ksub)",
      classOf[PqKernel])(PqKernel.codes),
    variadic("graft_pq_codes_resid",
      "residual-PQ (IVFADC) code array via the distributed-dot form " +
        "(vec, cell, cents, norms, dcc, m, dsub, ksub, k)",
      classOf[PqKernel])(PqKernel.codesResid),
    variadic("graft_pq_lut",
      "per-subspace ADC lookup table for a query vector " +
        "(vec, cents, norms, s, m, dsub, ksub)",
      classOf[PqKernel])(PqKernel.lut),
    variadic("graft_pq_lut_resid",
      "per-subspace residual-ADC lookup table " +
        "(vec, cell, cents, norms, dcc, s, m, dsub, ksub, k)",
      classOf[PqKernel])(PqKernel.lutResid))

  private def variadic(name: String, usage: String, clazz: Class[_])
                      (build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage, clazz), build)

  def register(ext: SparkSessionExtensions): Unit =
    all.foreach(ext.injectFunction)
}
