package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** minhash_sigs must be value-identical to the 8-fold
  * array_min(transform(...)) SQL form it replaced — including null
  * skipping and the empty/all-null → all-null-array contract — on both
  * the interpreted and codegen paths. */
class MinHashSigsSpec extends SparkSuite {
  import spark.implicits._

  private val perms = graft.functions.MinHashSigs.Perms
  private val mod = graft.functions.PolyHash.Mod

  private def legacy = array(perms.map { case (a, b) =>
    expr(s"array_min(transform(hs, h -> ($a * h + $b) % $mod))")
  }: _*)

  test("matches the legacy 8-fold SQL form on varied arrays (codegen path)") {
    GraftExtensions.register(spark)
    val df = Seq(
      Seq(1L, 2L, 3L),
      Seq(999999999L, 5L),
      Seq(0L),
      Seq(123456789L, 987654321L, 555555555L, 1L, 1000000006L))
      .toDF("hs")
    val rows = df.select(expr("minhash_sigs(hs)").as("native"), legacy.as("leg"))
      .collect()
    rows.foreach { r =>
      r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
    }
  }

  test("null elements are skipped; empty and all-null arrays yield 8 nulls; null input is null") {
    GraftExtensions.register(spark)
    val out = spark.sql(
      s"""SELECT minhash_sigs(array(CAST(NULL AS BIGINT), 7L, NULL)) AS a,
             minhash_sigs(array(CAST(NULL AS BIGINT))) AS b,
             minhash_sigs(CAST(array() AS ARRAY<BIGINT>)) AS c,
             minhash_sigs(CAST(NULL AS ARRAY<BIGINT>)) AS d""").collect()(0)
    // a: nulls skipped — equals the signature of [7]
    out.getSeq[java.lang.Long](0) shouldBe
      perms.map { case (p, q) => java.lang.Long.valueOf((p * 7L + q) % mod) }
    out.getSeq[java.lang.Long](1) shouldBe Seq.fill(8)(null)
    out.getSeq[java.lang.Long](2) shouldBe Seq.fill(8)(null)
    out.isNullAt(3) shouldBe true
  }

  test("interpreted path (inside a HOF lambda) agrees with codegen") {
    GraftExtensions.register(spark)
    // wrapping in a transform forces the interpreted eval of the child
    val r = spark.sql(
      """SELECT transform(array(array(3L, 11L)), x -> minhash_sigs(x))[0] AS sig,
             minhash_sigs(array(3L, 11L)) AS direct""").collect()(0)
    r.getSeq[Long](0) shouldBe r.getSeq[Long](1)
  }
}
