package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two strings
  * (byte-wise; length difference counts as distance). Whole-stage-codegen'd
  * via doGenCode, so the SimHash near-dup filter stays inside the generated
  * loop instead of crossing a UDF boundary per row-pair.
  *
  * One of the engine's 17 native expressions, all registered as SQL
  * functions by [[GraftExtensions]] — everything
  * else in the SURVEY.md §2 inventory maps to built-ins (§7.3), and this
  * exists because the hamming filter sits in the hottest inner join of the
  * SimHash dedup path where rows × candidate-pairs can be billions at 100 TB.
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // NullType admitted like the built-ins: a NULL literal evaluates to NULL
    def ok(t: DataType) = t == StringType || t == org.apache.spark.sql.types.NullType
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming requires (string, string), got (${left.dataType}, ${right.dataType})")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming"

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[UTF8String].getBytes
    val b = r.asInstanceOf[UTF8String].getBytes
    val n = math.min(a.length, b.length)
    var d = math.abs(a.length - b.length)
    var i = 0
    while (i < n) { if (a(i) != b(i)) d += 1; i += 1 }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val ab = ctx.freshName("ab")
      val bb = ctx.freshName("bb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |byte[] $ab = $a.getBytes();
         |byte[] $bb = $b.getBytes();
         |int $n = Math.min($ab.length, $bb.length);
         |${ev.value} = Math.abs($ab.length - $bb.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($ab[$i] != $bb[$i]) ${ev.value}++;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
