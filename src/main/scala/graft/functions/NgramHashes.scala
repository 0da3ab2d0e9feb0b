package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/**
 * `ngram_hashes(token_hashes, n)` — the rolling polynomial window hash of
 * every n consecutive elements of a BIGINT array, mod 1e9+7. Position i
 * of the result equals the left fold `(acc * 31 + h) % M` over elements
 * [i, i+n) — value-identical to the HOF form it replaces
 * (`transform(sequence(...), i -> aggregate(slice(th, i, n), 0L, ...))`)
 * and to its DuckDB twin, but computed as ONE O(len) rolling pass instead
 * of O(len·n) boxed lambda evaluations: the oldest term is removed with a
 * precomputed 31^(n-1) mod M and the window shifts in constant time.
 * Shorter-than-n arrays yield an empty array (same as the CASE guard in
 * the SQL form).
 *
 * Array-returning expressions don't have a one-line codegen template, and
 * the HOF form this replaces is CodegenFallback anyway — so this stays
 * CodegenFallback and wins on the algorithm, not the compiler.
 */
case class NgramHashes(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"ngram_hashes requires (ARRAY<BIGINT>, constant INT), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_hashes"

  override protected def nullSafeEval(arr: Any, nAny: Any): Any = {
    val xs = arr.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    NgramHashes.roll(xs, n)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramHashes =
    copy(left = newLeft, right = newRight)
}

object NgramHashes {

  private final val M = PolyHash.Mod // 1000000007

  /** Rolling window hash: out(i) = fold((acc*31+h)%M) over xs[i, i+n). */
  def roll(xs: ArrayData, n: Int): GenericArrayData = {
    val len = xs.numElements()
    if (n <= 0 || len < n) return new GenericArrayData(Array.empty[Long])
    // 31^(n-1) mod M, to subtract the departing term
    var pow = 1L
    var k = 1
    while (k < n) { pow = pow * 31L % M; k += 1 }
    val out = new Array[Long](len - n + 1)
    // seed: fold over the first window
    var acc = 0L
    var i = 0
    while (i < n) { acc = (acc * 31L + mod(xs.getLong(i))) % M; i += 1 }
    out(0) = acc
    // shift: remove xs[j-n]·31^(n-1), multiply by 31, add xs[j]
    var j = n
    while (j < len) {
      val departing = mod(xs.getLong(j - n)) * pow % M
      acc = ((acc - departing % M + M) % M * 31L + mod(xs.getLong(j))) % M
      out(j - n + 1) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Inputs are hashes in [0, M), but stay correct for any long. */
  private def mod(x: Long): Long = { val r = x % M; if (r < 0) r + M else r }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngram_hashes"),
    new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
    (children: Seq[Expression]) => NgramHashes(children(0), children(1)))

}
