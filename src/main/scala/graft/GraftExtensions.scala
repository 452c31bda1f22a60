package graft

import graft.functions.{DotProduct, Shingles, SquaredL2}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Catalyst integration point: registers the engine's native expressions as
  * SQL functions, so `spark.sql("SELECT squared_l2(a, b) ...")` works and
  * the kernels are usable from pure-SQL pipelines.
  *
  * Activate on a session builder with
  * {{{
  *   .withExtensions(new GraftExtensions)                      // in-process
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.EpsilonPredicateRewrite)
  }
}

object GraftExtensions {

  /** Fold a literal numeric argument to double — SQL numeric literals may
    * arrive as Decimal, which is not a java.lang.Number. */
  private[graft] def foldToDouble(e: Expression): Double = e.eval() match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(
      s"expected a numeric literal, got $other")
  }

  private def foldToInt(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => other.eval().asInstanceOf[Int]
  }

  /** Fold a foldable string-array argument (e.g. `array('a','b')`). */
  private def foldToStringSeq(e: Expression): Seq[String] = e.eval() match {
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      (0 until a.numElements()).map { i =>
        val s = a.getUTF8String(i)
        if (s == null) throw new IllegalArgumentException(
          "blocklist literal must not contain NULL elements")
        s.toString
      }
    case other => throw new IllegalArgumentException(
      s"expected a string-array literal, got $other")
  }

  private def foldToString(e: Expression): String = e.eval() match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"expected a string literal, got $other")
  }

  // NB: the long ExpressionInfo constructor VALIDATES group and source —
  // only Spark's known values pass (previously "scalar_func" here made
  // the injection path throw on first use; nothing exercised it)
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "misc_funcs", "", "", "internal")

  /** The single registration list — both the extensions hook and
    * [[register]] consume it, so a function can never be present in one
    * surface and missing from the other. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("squared_l2"),
      info("squared_l2",
        "squared_l2(a, b) - squared L2 distance of two float/double arrays"),
      (args: Seq[Expression]) => SquaredL2(args(0), args(1))),
    (FunctionIdentifier("dot_product"),
      info("dot_product",
        "dot_product(a, b) - dot product of two float/double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("shingles"),
      info("shingles", "shingles(text, n) - distinct word n-gram shingles"),
      (args: Seq[Expression]) => Shingles(args(0), foldToInt(args(1)))),
    (FunctionIdentifier("shingles_all"),
      info("shingles_all",
        "shingles_all(text, n) - every word n-gram occurrence in order"),
      (args: Seq[Expression]) =>
        Shingles(args(0), foldToInt(args(1)), distinct = false)),
    (FunctionIdentifier("posting_pairs"),
      info("posting_pairs",
        "posting_pairs(ids) - all i<j pairs from a sorted bigint posting list"),
      (args: Seq[Expression]) => graft.functions.PostingPairs(args(0))),
    (FunctionIdentifier("posting_pairs_sz"),
      info("posting_pairs_sz",
        "posting_pairs_sz(ids, t) - length-filtered size-carrying pairs " +
          "from a posting list of struct(id, sz)"),
      (args: Seq[Expression]) => graft.functions.PostingPairsWithSize(args(0),
        foldToDouble(args(1)))),
    (FunctionIdentifier("winnowing_fingerprints"),
      info("winnowing_fingerprints",
        "winnowing_fingerprints(text, k, w) - winnowing document " +
          "fingerprints (Karp-Rabin k-gram hashes, minimum per window of w)"),
      (args: Seq[Expression]) => graft.functions.WinnowingFingerprints(args(0),
        foldToInt(args(1)), foldToInt(args(2)))),
    (FunctionIdentifier("within_eps"),
      info("within_eps",
        "within_eps(a, b, eps2) - whether squared_l2(a, b) <= eps2, with " +
          "blocked early exit (eps2 must be a numeric literal)"),
      (args: Seq[Expression]) => graft.functions.WithinEps(args(0), args(1),
        foldToDouble(args(2)))),
    (FunctionIdentifier("int8_quant_stats"),
      info("int8_quant_stats",
        "int8_quant_stats(vec) - [n_dims, sum_q, sum_absq, err_q12] " +
          "symmetric int8 quantization report over a float/double vector"),
      (args: Seq[Expression]) => graft.functions.Int8QuantStats(args(0))),
    (FunctionIdentifier("redact_tokens"),
      info("redact_tokens",
        "redact_tokens(text, blocklist, mask) - replace blocklisted " +
          "whitespace tokens with mask (blocklist/mask must be literals)"),
      (args: Seq[Expression]) => graft.functions.RedactTokens(args(0),
        foldToStringSeq(args(1)), foldToString(args(2)))),
    (FunctionIdentifier("bitmap_distinct_count"),
      info("bitmap_distinct_count",
        "bitmap_distinct_count(id) - exact distinct count of a bigint " +
          "column via a Roaring-style bitmap aggregate (no Expand rewrite)"),
      (args: Seq[Expression]) => graft.functions.BitmapDistinctCount(args(0))),
    (FunctionIdentifier("bitmap_bytes"),
      info("bitmap_bytes",
        "bitmap_bytes(id) - aggregate a bigint column into a serialized " +
          "Roaring-style bitmap (intersect segments with bitmap_and_count)"),
      (args: Seq[Expression]) => graft.functions.BitmapAggBytes(args(0))),
    (FunctionIdentifier("bitmap_and_count"),
      info("bitmap_and_count",
        "bitmap_and_count(a, b) - exact intersection cardinality of two " +
          "bitmap_bytes values"),
      (args: Seq[Expression]) => graft.functions.BitmapAndCount(args(0),
        args(1))),
    (FunctionIdentifier("kmv_sketch"),
      info("kmv_sketch",
        "kmv_sketch(hash, k) - k-minimum-values theta sketch over " +
          "pre-hashed ids (k must be an int literal)"),
      (args: Seq[Expression]) => graft.functions.KmvSketchAgg(args(0),
        foldToInt(args(1)))),
    (FunctionIdentifier("kmv_estimate"),
      info("kmv_estimate",
        "kmv_estimate(sketch, k) - distinct-count estimate from a " +
          "kmv_sketch built over the engine's 2^60 md5-prefix hashes"),
      (args: Seq[Expression]) => graft.functions.KmvDistinctEstimate(
        args(0), foldToInt(args(1)),
        graft.functions.KmvIntersectEstimate.Md5Domain)),
    (FunctionIdentifier("kmv_intersect_estimate"),
      info("kmv_intersect_estimate",
        "kmv_intersect_estimate(a, b, k) - intersection-size estimate " +
          "of two kmv_sketch values (exact when neither is full)"),
      (args: Seq[Expression]) => graft.functions.KmvIntersectEstimate(
        args(0), args(1), foldToInt(args(2)),
        graft.functions.KmvIntersectEstimate.Md5Domain)),
    (FunctionIdentifier("redact_count"),
      info("redact_count",
        "redact_count(text, blocklist) - occurrences of blocklisted " +
          "whitespace tokens (blocklist must be an array literal)"),
      (args: Seq[Expression]) => graft.functions.RedactCount(args(0),
        foldToStringSeq(args(1)))))
  // NB: only concrete Catalyst expressions can register here. Wrapping a
  // functions._-composed Column via GraftInternals.expression yields a
  // ColumnNodeExpression holding UnresolvedFunction nodes, which the
  // analyzer does not resolve inside an injected builder (codegen then
  // fails with INTERNAL_ERROR) — so Column-level compositions like
  // TextFunctions.langId stay DataFrame-only.

  /** Register the same functions (and the optimizer rewrite) on an
    * already-built session (useful in tests and notebooks where the
    * builder is out of reach). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, inf, builder) =>
      reg.registerFunction(id, inf, builder)
    }
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.EpsilonPredicateRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.EpsilonPredicateRewrite
    }
  }
}
