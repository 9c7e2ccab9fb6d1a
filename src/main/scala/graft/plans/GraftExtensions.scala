package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharsNospaceExpr, CharsNospaceRewrite, DotProductExpr, MisraGriesAgg, NormTextExpr, NormTextRewrite, SimHash16Expr, SimHashExpr, TokenCountExpr, TokenCountRewrite, TopKAgg, WinnowExpr}

/** SQL-surface registration for the library's native Catalyst expressions.
  *
  * Configure with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or pass to
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), then:
  *
  * {{{
  *   SELECT simhash(text), simhash16(text), winnow(text) FROM docs
  *   SELECT dot_product(a.embedding_d, b.embedding_d) FROM ...
  * }}}
  *
  * This is preference path (b)/(c) from SURVEY.md §7.3: the operators stay
  * native codegen expressions (no UDF serialization), and SQL users get
  * them without touching the Scala API. The expressions themselves live in
  * [[graft.functions]]; this class only injects registry entries, so a
  * session without the extension behaves identically.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def unary(name: String, usage: String, build: Expression => Expression)
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), { args =>
      require(args.length == 1, s"$name expects exactly 1 argument")
      build(args.head)
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(unary("simhash",
      "simhash(text) - 64-bit SimHash document fingerprint", SimHashExpr))
    ext.injectFunction(unary("simhash16",
      "simhash16(text) - portable 16-bit SimHash fingerprint", SimHash16Expr))
    ext.injectFunction(unary("winnow",
      "winnow(text) - winnowing k-gram fingerprint array", WinnowExpr))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - fused double-array dot product"),
      { args: Seq[Expression] =>
        require(args.length == 2, "dot_product expects exactly 2 arguments")
        DotProductExpr(args.head, args(1))
      }))
    ext.injectFunction(unary("token_count",
      "token_count(text) - whitespace-token count (one byte pass, no array)",
      TokenCountExpr))
    ext.injectFunction((FunctionIdentifier("top_k"),
      info("top_k", "top_k(value, id, k) - bounded-heap per-group top-k " +
        "aggregate (value desc, id asc), map-side combined"),
      { args: Seq[Expression] => GraftExtensions.buildTopK(args) }))
    ext.injectFunction((FunctionIdentifier("heavy_hitters"),
      info("heavy_hitters", "heavy_hitters(item, capacity) - Misra-Gries " +
        "frequent-items summary (bounded-memory value_counts), map-side combined"),
      { args: Seq[Expression] => GraftExtensions.buildHeavyHitters(args) }))
    ext.injectFunction(unary("chars_nospace",
      "chars_nospace(text) - non-whitespace codepoint count (one byte pass)",
      CharsNospaceExpr))
    ext.injectFunction(unary("norm_text",
      "norm_text(text) - lowercase + whitespace-collapse + trim (one pass)",
      NormTextExpr))
    // plan-level rewrites: size(regexp_extract_all(x, '\S+', 0)) ->
    // token_count; length(regexp_replace(x, '\s+', '')) -> chars_nospace
    ext.injectOptimizerRule(_ => TokenCountRewrite)
    ext.injectOptimizerRule(_ => CharsNospaceRewrite)
    ext.injectOptimizerRule(_ => NormTextRewrite)
    ext.injectOptimizerRule(_ => AsOfJoinFilterPushdown)
    ext.injectOptimizerRule(_ => SummaryRewrite)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

/** Convenience: FunctionRegistry entries for manual registration in an
  * existing session (tests, notebooks) — the extension-config hook only
  * applies at session construction. */
object GraftExtensions {
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    def reg(name: String, usage: String, build: Seq[Expression] => Expression): Unit =
      registry.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        build)
    reg("simhash", "simhash(text) - 64-bit SimHash document fingerprint",
      args => SimHashExpr(args.head))
    reg("simhash16", "simhash16(text) - portable 16-bit SimHash fingerprint",
      args => SimHash16Expr(args.head))
    reg("winnow", "winnow(text) - winnowing k-gram fingerprint array",
      args => WinnowExpr(args.head))
    reg("dot_product", "dot_product(a, b) - fused double-array dot product",
      args => DotProductExpr(args.head, args(1)))
    reg("token_count", "token_count(text) - whitespace-token count",
      args => TokenCountExpr(args.head))
    reg("chars_nospace", "chars_nospace(text) - non-whitespace codepoint count",
      args => CharsNospaceExpr(args.head))
    reg("norm_text", "norm_text(text) - lowercase + ws-collapse + trim",
      args => NormTextExpr(args.head))
    reg("top_k", "top_k(value, id, k) - bounded-heap per-group top-k aggregate",
      buildTopK)
    reg("heavy_hitters",
      "heavy_hitters(item, capacity) - Misra-Gries frequent-items summary",
      buildHeavyHitters)
    installOptimizations(spark)
  }

  /** top_k(value, id, k): k must be a foldable integer literal. */
  private[plans] def buildTopK(args: Seq[Expression]): Expression = {
    require(args.length == 3, "top_k expects exactly 3 arguments")
    val k = args(2) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"top_k: k must be an integer literal, got $other")
    }
    TopKAgg(args.head, args(1), k)
  }

  /** heavy_hitters(item, capacity): capacity must be a foldable integer
    * literal. */
  private[plans] def buildHeavyHitters(args: Seq[Expression]): Expression = {
    require(args.length == 2, "heavy_hitters expects exactly 2 arguments")
    val cap = args(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"heavy_hitters: capacity must be an integer literal, got $other")
    }
    MisraGriesAgg(args.head, cap)
  }

  /** Install the plan rewrites on an EXISTING session (the extension-config
    * hook only applies at construction): idempotent append to
    * experimental.extraOptimizations. */
  def installOptimizations(spark: org.apache.spark.sql.SparkSession): Unit = {
    val want = Seq(TokenCountRewrite, CharsNospaceRewrite, NormTextRewrite,
      AsOfJoinFilterPushdown, SummaryRewrite)
    val cur = spark.experimental.extraOptimizations
    val missing = want.filterNot(cur.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
