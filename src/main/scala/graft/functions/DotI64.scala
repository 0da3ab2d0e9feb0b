package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * `dot_i64(a, b)` — exact int64 dot product of two BIGINT arrays as a
 * native Catalyst expression with whole-stage codegen.
 *
 * Value-identical to the pure-SQL fold in [[graft.analytics.Tables.dotExpr]]
 * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)`),
 * including its null semantics: a length mismatch (zip_with pads with
 * NULL) or a NULL element poisons the sum to NULL. Unlike the fold, this
 * is a single tight loop over the two unsafe array buffers — the HOF form
 * is CodegenFallback AND allocates a zipped intermediate array per row,
 * which is the per-row hot path of every brute-force similarity scan
 * (quantized cosine top-k runs it |queries|×|corpus| times).
 */
case class DotI64(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _                      => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_i64 requires two ARRAY<BIGINT> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dot_i64"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  int $i = 0;
         |  while ($i < $n) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |    $i++;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotI64 =
    copy(left = newLeft, right = newRight)
}

object DotI64 {

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_i64"),
    new ExpressionInfo(classOf[DotI64].getName, "dot_i64"),
    (children: Seq[Expression]) => DotI64(children(0), children(1)))

}
