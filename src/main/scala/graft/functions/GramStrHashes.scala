package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `gram_str_hashes(tokens, n)` — for every window of `n` consecutive
 * elements of a STRING array, the [[PolyHash]] of
 * `concat_ws(' ', window)`, WITHOUT materializing the window strings.
 *
 * VALUE-IDENTICAL by construction to
 * `transform(sequence(1, size(w) - n + 1), i -> poly_hash(concat_ws(' ', w[i], …, w[i+n-1])))`:
 * the polynomial char fold composes exactly —
 * `H(A ∘ B) = (H(A) · 31^|B| + H(B)) mod M` with `|B|` in code points —
 * so each window hash is assembled from per-token `(hash, 31^len)`
 * pairs computed once, at ~2 modular multiplies per token per window
 * instead of allocating an ~8-word string and re-walking its characters
 * (r21: the d49 bipartite index build spent 10.7 of its 15 s in exactly
 * that string materialization at sf0.1).
 *
 * Shorter-than-n arrays yield an empty array. NULL array elements are
 * SKIPPED together with their separator — exactly concat_ws's semantics
 * (ADVICE r21: the first cut hashed a NULL as empty-string-plus-
 * separator, silently diverging from the concat_ws form this function
 * claims to equal for any future SQL caller; current callers feed
 * split() output, which never contains NULLs, so their hashes are
 * untouched by the fix — the equality spec pins both input classes).
 *
 * Array-returning expressions have no one-line codegen template and the
 * HOF form this replaces is CodegenFallback anyway — so this stays
 * CodegenFallback and wins on the algorithm, not the compiler (the
 * [[NgramHashes]] precedent).
 */
case class GramStrHashes(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"gram_str_hashes requires (ARRAY<STRING>, constant INT), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_str_hashes"

  override protected def nullSafeEval(arr: Any, nAny: Any): Any = {
    val xs = arr.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    GramStrHashes.windows(xs, n)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GramStrHashes =
    copy(left = newLeft, right = newRight)
}

object GramStrHashes {

  private final val M = PolyHash.Mod // 1000000007

  /** Per-window concat_ws(' ') polynomial hashes over a string array. */
  def windows(xs: ArrayData, n: Int): GenericArrayData = {
    val len = xs.numElements()
    if (n <= 0 || len < n) return new GenericArrayData(Array.empty[Long])
    // per-token hash and 31^codePoints — one char pass per token, total
    // O(chars); NULL elements are flagged and skipped below (concat_ws)
    val th = new Array[Long](len)
    val tp = new Array[Long](len)
    val nn = new Array[Boolean](len)
    var j = 0
    while (j < len) {
      if (xs.isNullAt(j)) { nn(j) = true; th(j) = 0L; tp(j) = 1L }
      else {
        val str = xs.getUTF8String(j).toString
        var acc = 0L
        var pw = 1L
        var i = 0
        while (i < str.length) {
          val cp = str.codePointAt(i)
          acc = (acc * 31L + cp) % M
          pw = pw * 31L % M
          i += Character.charCount(cp)
        }
        th(j) = acc; tp(j) = pw
      }
      j += 1
    }
    // assemble each window: acc ∘ ' ' ∘ token ≡ ((acc·31 + 32)·31^L + h);
    // NULL tokens contribute neither hash nor separator (concat_ws), so
    // an all-NULL window hashes like the empty string (0)
    val out = new Array[Long](len - n + 1)
    var s = 0
    while (s <= len - n) {
      var acc = 0L
      var any = false
      var k = s
      while (k < s + n) {
        if (!nn(k)) {
          if (any) acc = ((acc * 31L + 32L) % M * tp(k) + th(k)) % M
          else { acc = th(k); any = true }
        }
        k += 1
      }
      out(s) = acc
      s += 1
    }
    new GenericArrayData(out)
  }

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("gram_str_hashes"),
    new ExpressionInfo(classOf[GramStrHashes].getName, "gram_str_hashes"),
    (children: Seq[Expression]) => GramStrHashes(children(0), children(1)))

}
