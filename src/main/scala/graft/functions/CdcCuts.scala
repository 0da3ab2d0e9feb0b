package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `cdc_cuts(text, w, div)` — content-defined-chunking boundary positions:
 * every 1-based codepoint position `i` in `[w, len]` where the polynomial
 * hash of the w-codepoint window ending at `i` is ≡ 0 (mod `div`). The
 * hash is [[PolyHash]]'s fold (`acc = (acc*31 + codepoint) mod 1e9+7`),
 * so the result is value-identical to the HOF form it replaces —
 * `filter(sequence(w, length(text)), i -> poly_hash(substring(text, i-w+1, w)) % div = 0)`
 * — and to its DuckDB twin, but computed as ONE O(len) rolling pass
 * (departing codepoint removed via a precomputed 31^(w-1) mod M) instead
 * of O(len·w) per-position substring + rehash under boxed lambdas. This
 * is the m11 hot path: the boundary scan touches every codepoint of every
 * document, so the per-position constant is the whole cost at scale.
 *
 * Array-returning expressions don't have a one-line codegen template, and
 * the HOF form this replaces is CodegenFallback anyway — so this stays
 * CodegenFallback and wins on the algorithm, not the compiler
 * (the [[NgramHashes]] precedent).
 */
case class CdcCuts(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cdc_cuts requires (STRING, constant INT, constant INT), got " +
          s"${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString}")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cdc_cuts"

  override protected def nullSafeEval(s: Any, wAny: Any, dAny: Any): Any =
    CdcCuts.cuts(s.asInstanceOf[UTF8String].toString,
      wAny.asInstanceOf[Int], dAny.asInstanceOf[Int])

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CdcCuts =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object CdcCuts {

  private final val M = PolyHash.Mod // 1000000007

  /** Rolling boundary scan over codepoints; positions are 1-based window
    * ENDS, matching `sequence(w, length(text))` in the HOF form. */
  def cuts(str: String, w: Int, div: Int): GenericArrayData = {
    val n = str.codePointCount(0, str.length)
    if (w <= 0 || div <= 0 || n < w) return new GenericArrayData(Array.empty[Int])
    // decode once: the rolling pass indexes codepoints, not UTF-16 units
    val cps = new Array[Int](n)
    var ci = 0
    var k = 0
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      cps(k) = cp
      k += 1
      ci += Character.charCount(cp)
    }
    // 31^(w-1) mod M, to subtract the departing codepoint
    var pow = 1L
    var j = 1
    while (j < w) { pow = pow * 31L % M; j += 1 }
    val out = new scala.collection.mutable.ArrayBuilder.ofInt
    // seed: fold over the first window [0, w)
    var acc = 0L
    var i = 0
    while (i < w) { acc = (acc * 31L + cps(i)) % M; i += 1 }
    if (acc % div == 0) out += w
    // shift: remove cps[i-w]·31^(w-1), multiply by 31, add cps[i]
    while (i < n) {
      val departing = cps(i - w) % M * pow % M
      acc = ((acc - departing + M) % M * 31L + cps(i)) % M
      if (acc % div == 0) out += i + 1
      i += 1
    }
    new GenericArrayData(out.result())
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cdc_cuts"),
    new ExpressionInfo(classOf[CdcCuts].getName, "cdc_cuts"),
    (children: Seq[Expression]) => CdcCuts(children(0), children(1), children(2)))

}
