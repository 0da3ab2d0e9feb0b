package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * `minhash_sigs(hs)` — all 8 permuted MinHash minima of a hashed-shingle
 * array in ONE pass, as a native Catalyst expression with whole-stage
 * codegen.
 *
 * Value-identical to the 8-fold pure-SQL form it replaces
 * (`array(array_min(transform(hs, h -> (a_i*h + b_i) % mod)), …)` — see
 * `graft.analytics.Dedup.minhashSigsOf`), including its null semantics:
 * NULL input → NULL, NULL elements are skipped by each `array_min`, and
 * an empty/all-NULL array yields an array of 8 NULLs. Unlike the fold,
 * this never materializes the 8 per-permutation intermediate arrays
 * (each |shingles| longs, per document row) — the signature step is the
 * per-row hot path of every MinHash consumer (d02/d16/d19/d21/d24/d43/
 * q119 and the d39/d40 audits), so at 100 TB the 8× allocation churn is
 * pure GC pressure with no information in it.
 *
 * The permutation constants are THE canonical list ([[MinHashSigs.Perms]]);
 * `graft.analytics.Dedup.perm` aliases it so the engine and every DuckDB
 * oracle twin stay bit-identical by construction.
 */
case class MinHashSigs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires ARRAY<BIGINT>, got ${dt.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sigs"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val minv = Array.fill(MinHashSigs.NPerms)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        seen = true
        val h = hs.getLong(i)
        var p = 0
        while (p < MinHashSigs.NPerms) {
          val v = (MinHashSigs.A(p) * h + MinHashSigs.B(p)) % PolyHash.Mod
          if (v < minv(p)) minv(p) = v
          p += 1
        }
      }
      i += 1
    }
    val res = new Array[Any](MinHashSigs.NPerms)
    if (seen) { var p = 0; while (p < MinHashSigs.NPerms) { res(p) = minv(p); p += 1 } }
    new GenericArrayData(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val seen = ctx.freshName("seen")
      // the permutation constants and the 8-slot scratch buffer live on
      // the generated class, not in the per-row block — this expression
      // exists to remove per-row allocation churn, so it must not
      // reintroduce three allocations of its own per row
      val aRef = ctx.addReferenceObj("minhashA", MinHashSigs.A, "long[]")
      val bRef = ctx.addReferenceObj("minhashB", MinHashSigs.B, "long[]")
      val minv = ctx.addMutableState(
        "long[]", "minhashMinv", vn => s"$vn = new long[${MinHashSigs.NPerms}];")
      val k = MinHashSigs.NPerms
      s"""
         |final int $n = $c.numElements();
         |java.util.Arrays.fill($minv, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    $seen = true;
         |    final long $h = $c.getLong($i);
         |    for (int $p = 0; $p < $k; $p++) {
         |      final long $v = ($aRef[$p] * $h + $bRef[$p]) % ${PolyHash.Mod}L;
         |      if ($v < $minv[$p]) $minv[$p] = $v;
         |    }
         |  }
         |}
         |if ($seen) {
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray(java.util.Arrays.copyOf($minv, $k));
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[$k]);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

object MinHashSigs {

  /** The canonical MinHash permutations `h_i = (a_i*h + b_i) mod PolyHash.Mod`. */
  final val Perms: Seq[(Long, Long)] =
    Seq((2L, 1L), (3L, 2L), (5L, 3L), (7L, 4L), (11L, 5L), (13L, 6L), (17L, 7L), (19L, 8L))
  final val NPerms: Int = Perms.length
  private[functions] val A: Array[Long] = Perms.map(_._1).toArray
  private[functions] val B: Array[Long] = Perms.map(_._2).toArray

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sigs"),
    new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
    (children: Seq[Expression]) => MinHashSigs(children.head))

}
