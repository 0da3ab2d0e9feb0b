package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/**
 * SQL surface for Spark's NATIVE bloom-filter expressions.
 *
 * `BloomFilterAggregate` / `BloomFilterMightContain` are the codegen'd
 * expressions Spark's own runtime-filter optimization
 * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects into plans,
 * but they are registered only in the INTERNAL function registry — not
 * reachable from `expr(...)`/SQL in user sessions. These descriptors
 * re-expose them under their Spark-internal names so the explicit
 * bloom-prefilter pattern (q51) uses the native, whole-stage-codegen
 * probe instead of a Scala UDF closing over a broadcast (the UDF breaks
 * codegen at every probe row and serializes the filter per executor
 * lambda instead of once per plan).
 *
 * `might_contain`'s bloom argument must be FOLDABLE (a literal or scalar
 * subquery) by the expression's own input check — pass the built filter's
 * bytes via `lit(bytes)`.
 */
object BloomFunctions {

  val aggDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("bloom_filter_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
    (children: Seq[Expression]) => children match {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, items) => new BloomFilterAggregate(c, items)
      case Seq(c, items, bits) => new BloomFilterAggregate(c, items, bits)
      case other => throw new IllegalArgumentException(
        s"bloom_filter_agg expects 1-3 arguments, got ${other.length}")
    })

  val mightContainDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
    (children: Seq[Expression]) => children match {
      case Seq(bloom, value) => BloomFilterMightContain(bloom, value)
      case other => throw new IllegalArgumentException(
        s"might_contain expects 2 arguments (bloom, value), got ${other.length}")
    })

}
