package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, NullType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for [[SpTokens]]: split on the single space character, empties
  * dropped — EXACTLY `filter(split(s, ' '), t → t ≠ '')`, the second
  * tokenization contract in the codebase (the q30/q72 family and its
  * DuckDB `string_split(text, ' ')` oracles), distinct from ws_tokens'
  * `[ \t\n\r]` class. One character scan, tokens sliced directly from
  * the source string. */
object SpTokensKernel {
  def eval(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new java.util.ArrayList[Any](8)
    var start = 0
    var i = 0
    val len = str.length
    while (i <= len) {
      if (i == len || str.charAt(i) == ' ') {
        if (i > start) out.add(UTF8String.fromString(str.substring(start, i)))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native Catalyst expression: `sp_tokens(text)` — single-space tokens,
  * empties dropped. Replaces the `filter(split(text, ' '), t ≠ '')`
  * spelling: `split` compiles a regex and the filter HOF is
  * CodegenFallback, and when the alias is shared across several
  * consumers Catalyst re-inlines the whole chain per consumer. Same
  * rationale (and same kernel shape) as [[WsTokens]], for the OTHER
  * tokenization contract. */
case class SpTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sp_tokens requires string, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sp_tokens"

  override protected def nullSafeEval(v: Any): Any =
    SpTokensKernel.eval(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SpTokensKernel.eval($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule: `filter(split(s, ' '[, limit<0]), t → t ≠ '')` →
  * [[SpTokens]] — the portable space-tokenization spelling (which the
  * DuckDB oracles share as `string_split(text, ' ')` + filter) silently
  * gets the one-scan native form in EVERY query plan, including ad-hoc
  * user SQL — the same keep-the-portable-spelling contract as
  * [[QDotRewrite]]/[[BitLenRewrite]]. The separator must be the literal
  * single space and the predicate exactly `arg <> ''` (either operand
  * order); `split`'s limit must be absent or negative (unlimited), since
  * a positive limit changes semantics. */
object SpTokensRewrite
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
  import org.apache.spark.sql.types.IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(HIGH_ORDER_FUNCTION)) {
      case f @ ArrayFilter(
            StringSplit(text, Literal(sep, StringType), limit),
            LambdaFunction(pred, Seq(arg), _))
          if sep != null && sep.toString == " " &&
            isUnlimited(limit) && isNotEmpty(pred, arg) =>
        logDebug(s"rewriting split+filter to sp_tokens: ${f.sql}")
        SpTokens(text)
    }

  private def isUnlimited(limit: Expression): Boolean = limit match {
    case Literal(v: Int, IntegerType) => v < 0
    case _ => false
  }

  /** pred is `arg <> ''` (either operand order), possibly spelled
    * Not(EqualTo(...)). */
  private def isNotEmpty(pred: Expression,
      arg: NamedExpression): Boolean = pred match {
    case Not(EqualTo(l, r)) => isArgVsEmpty(l, r, arg)
    case _ => false
  }

  private def isArgVsEmpty(l: Expression, r: Expression,
      arg: NamedExpression): Boolean = {
    def isArg(e: Expression) = e semanticEquals arg
    def isEmpty(e: Expression) = e match {
      case Literal(s, StringType) => s != null && s.toString.isEmpty
      case _ => false
    }
    (isArg(l) && isEmpty(r)) || (isArg(r) && isEmpty(l))
  }
}
