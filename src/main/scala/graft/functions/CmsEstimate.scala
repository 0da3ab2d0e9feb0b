package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/**
 * `cms_estimate(sketch, value)` — point-frequency probe of a serialized
 * Count-Min sketch, the read half Spark leaves unregistered: the builtin
 * `count_min_sketch(col, eps, conf, seed)` AGGREGATE produces a mergeable
 * binary sketch (counter matrices sum, so partial/final combine is exact
 * and partition-order-independent), but no SQL function can query one.
 * This pairs with it the way `might_contain` pairs with
 * `bloom_filter_agg` (q51): build once per group/corpus, probe anywhere.
 *
 * The sketch argument must be FOLDABLE (a literal carrying the collected
 * sketch bytes, the q51 pattern) — that makes deserialization a
 * ONCE-PER-PLAN lazy, not a per-row cost, and is enforced by the input
 * check. Probes hash exactly as the aggregate inserted: Spark's
 * `CountMinSketchAgg` adds strings as their UTF-8 BYTES and all integral
 * types as longs, so the probe dispatches the same way — probing with a
 * Java String would silently hash differently and under-count.
 */
case class CmsEstimate(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_estimate requires a BINARY sketch, got ${left.dataType.catalogString}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "cms_estimate requires a foldable sketch argument (a literal or " +
          "scalar subquery) so it deserializes once per plan, not per row")
    else right.dataType match {
      case StringType | ByteType | ShortType | IntegerType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate value must be STRING or integral, got ${other.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cms_estimate"

  @transient private lazy val sketch: CountMinSketch = {
    val bytes = left.eval().asInstanceOf[Array[Byte]]
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
  }

  /** Shared by eval and generated code. */
  def probe(v: Any): Long = v match {
    case s: UTF8String => sketch.estimateCount(s.getBytes)
    case b: java.lang.Byte => sketch.estimateCount(java.lang.Long.valueOf(b.longValue()))
    case s: java.lang.Short => sketch.estimateCount(java.lang.Long.valueOf(s.longValue()))
    case i: java.lang.Integer => sketch.estimateCount(java.lang.Long.valueOf(i.longValue()))
    case l: java.lang.Long => sketch.estimateCount(l)
    case other => throw new IllegalStateException(
      s"cms_estimate: unsupported runtime value ${other.getClass}")
  }

  override protected def nullSafeEval(sketchBytes: Any, value: Any): Any = probe(value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cmsProbe", this, classOf[CmsEstimate].getName)
    nullSafeCodeGen(ctx, ev, (_, v) =>
      s"${ev.value} = $ref.probe($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cms_estimate"),
    new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
    (children: Seq[Expression]) => CmsEstimate(children(0), children(1)))

}
