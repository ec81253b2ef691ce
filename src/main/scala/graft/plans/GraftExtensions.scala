package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Engine extensions, wired via
  * `spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.Sessions.builder]]): registers the 17 native expressions of
  * `plans/` as SQL functions (callable from SQL and `call_function`) and
  * appends the four rewrite rules to the optimizer, in table order. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    for (f <- GraftExtensions.functions)
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name), f.build))
    for (r <- GraftExtensions.rules) ext.injectOptimizerRule(_ => r)
  }
}

object GraftExtensions {

  /** The arguments of one call. `int(i)` reads argument `i` as an integer
    * literal: the expression's parameter is a plan-time constant. */
  private final class Args(fn: String, params: Seq[String], children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)
    def int(i: Int): Int = children(i) match {
      case e if e.foldable => e.eval() match {
        case n: Int => n
        case n: Long => n.toInt
        case other => throw new IllegalArgumentException(
          s"$fn ${params(i)} must be an integer literal, got $other")
      }
      case _ => throw new IllegalArgumentException(
        s"$fn ${params(i)} must be a literal")
    }
  }

  /** One SQL function. `signature` (`name(p1, p2)`) gives the name, the
    * arity and the parameter names used in the error messages. */
  private final case class Fn(signature: String, cls: Class[_ <: Expression])(
      body: Args => Expression) {
    val name: String = signature.takeWhile(_ != '(')
    private val params =
      signature.drop(name.length + 1).dropRight(1).split(", ").toSeq
    def build(children: Seq[Expression]): Expression = {
      require(children.length == params.length,
        s"$signature takes exactly ${params.length} argument" +
          (if (params.length == 1) "" else "s"))
      body(new Args(name, params, children))
    }
  }

  private val functions = Seq(
    Fn("hamming(a, b)", classOf[HammingDistance])(a => HammingDistance(a(0), a(1))),
    Fn("qdot(a, b)", classOf[QDot])(a => QDot(a(0), a(1))),
    Fn("longest_run(arr)", classOf[LongestRun])(a => LongestRun(a(0))),
    Fn("damerau_levenshtein(a, b)", classOf[DamerauLevenshtein])(
      a => DamerauLevenshtein(a(0), a(1))),
    Fn("jaro_winkler(a, b)", classOf[JaroWinkler])(a => JaroWinkler(a(0), a(1))),
    Fn("simhash(text)", classOf[Simhash])(a => Simhash(a(0))),
    Fn("hilbert(x, y, order)", classOf[HilbertIndex])(
      a => HilbertIndex(a(0), a(1), a.int(2))),
    Fn("word_shingles(text, n)", classOf[WordShingles])(
      a => WordShingles(a(0), a.int(1))),
    Fn("word_ngrams(text, n)", classOf[WordNgrams])(a => WordNgrams(a(0), a.int(1))),
    Fn("sha_lanes(s)", classOf[ShaLanes])(a => ShaLanes(a(0))),
    Fn("sp_tokens(text)", classOf[SpTokens])(a => SpTokens(a(0))),
    Fn("lang_hits(text)", classOf[LangHits])(a => LangHits(a(0))),
    Fn("distinct_ngrams(text, n)", classOf[DistinctNgrams])(
      a => DistinctNgrams(a(0), a.int(1))),
    Fn("winnow_fps(text, k, window)", classOf[Winnow])(
      a => Winnow(a(0), a.int(1), a.int(2))),
    Fn("ws_tokens(text)", classOf[WsTokens])(a => WsTokens(a(0))),
    Fn("hll_regs(key, p)", classOf[HllRegsAgg])(
      a => HllRegsAgg(Cast(a(0), LongType), a.int(1))),
    Fn("bitlen(x)", classOf[BitLen])(a => BitLen(Cast(a(0), LongType))))

  /** Each rule's Scaladoc says what it rewrites: the HOF dot product →
    * QDot, `length(bin(x))` → BitLen, bounded levenshtein comparisons →
    * the built-in threshold form, `filter(split(s, ' '), t -> t <> '')` →
    * SpTokens. */
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(QDotRewrite, BitLenRewrite, LevThresholdRewrite, SpTokensRewrite)
}
