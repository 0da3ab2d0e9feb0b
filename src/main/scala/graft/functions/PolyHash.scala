package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `poly_hash(str)` — the cross-engine polynomial rolling hash
 * (`acc = (acc * 31 + codepoint) mod 1e9+7`, left fold over code points)
 * as a native Catalyst expression with whole-stage codegen.
 *
 * Value-identical to the pure-SQL form in [[graft.analytics.Tables]]
 * (`aggregate(transform(split(s, ''), ...), ...)`) and to its DuckDB twin
 * (`list_reduce(list_transform(string_split(s, ''), ...), ...)`), but
 * without materializing a per-character array of strings per row, and
 * with a tight single-pass loop in both the interpreted path (used when
 * the call sits inside a higher-order-function lambda — HOFs are
 * CodegenFallback) and the generated-code path (top-level calls, e.g.
 * whole-document fingerprints).
 */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires a STRING argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val str = ctx.freshName("str")
      val i = ctx.freshName("i")
      val cp = ctx.freshName("cp")
      val acc = ctx.freshName("acc")
      s"""
         |String $str = $c.toString();
         |long $acc = 0L;
         |int $i = 0;
         |while ($i < $str.length()) {
         |  int $cp = $str.codePointAt($i);
         |  $acc = ($acc * 31L + $cp) % ${PolyHash.Mod}L;
         |  $i += Character.charCount($cp);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {

  final val Mod = 1000000007L

  def hash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("poly_hash"),
    new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
    (children: Seq[Expression]) => PolyHash(children.head))

}

/** The program's native functions, declared once: [[GraftExtensions]]
  * injects them into every session built with the extension, and
  * [[GraftExtensions.register]] adds them to a session built without it
  * (a driver-owned or cloned session). `analytics.Registry` calls
  * `register` before every catalog query, so each query resolves them
  * whichever way its session was built. */
object GraftExtensions {
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    PolyHash.descriptor,
    DotI64.descriptor,
    NgramHashes.descriptor,
    GramStrHashes.descriptor,
    CdcCuts.descriptor,
    ZInterleave.descriptor,
    MinHashSigs.descriptor,
    BloomFunctions.aggDescriptor,
    BloomFunctions.mightContainDescriptor,
    CmsEstimate.descriptor)

  /** Register every one of [[functions]] in `spark`'s own function
    * registry. Idempotent: a descriptor is one value, so re-registering
    * replaces a function with itself. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** Session extension wiring (`spark.sql.extensions=graft.functions.GraftExtensions`):
  * injects [[GraftExtensions.functions]] into every session built with it,
  * plus the [[graft.plans.PartitionFilterGuard]] plan check (no-op until
  * its conf names protected tables). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(s => new graft.plans.PartitionFilterGuard(s))
  }
}
