package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, NgramHashes, PolyHash}

/** The native rolling n-gram hash: value parity with the transform +
  * aggregate HOF fold it replaced (the t12/t13 machinery), short-array
  * and null handling, and the O(len) rolling update's modular
  * subtraction (property-tested against the direct per-window fold). */
class NgramHashesSpec extends SparkSuite {
  import spark.implicits._

  private def hofForm(thCol: String, n: Int): String =
    s"""CASE WHEN size($thCol) >= $n THEN
      transform(sequence(1, size($thCol) - ${n - 1}),
        i -> aggregate(slice($thCol, i, $n), CAST(0 AS BIGINT),
                       (acc, h) -> (acc * 31 + h) % ${PolyHash.Mod}))
    ELSE CAST(array() AS ARRAY<BIGINT>) END"""

  test("matches the HOF fold for n = 1..5 on varied arrays") {
    GraftExtensions.register(spark)
    val rows = Seq(
      Array(1L, 2L, 3L, 4L, 5L),
      Array.empty[Long],
      Array(999999999L),
      Array.tabulate(300)(i => (i * 2654435761L) % PolyHash.Mod)).toDF("th")
    (1 to 5).foreach { n =>
      val diff = rows
        .select(expr(s"ngram_hashes(th, $n)").as("native"), expr(hofForm("th", n)).as("sql"))
        .filter(expr("native <> sql"))
      withClue(s"n=$n: ") { diff.count() shouldBe 0L }
    }
  }

  test("shorter-than-n input yields an empty array; NULL input yields NULL") {
    GraftExtensions.register(spark)
    Seq(Array(1L, 2L)).toDF("th")
      .select(expr("ngram_hashes(th, 3)")).as[Array[Long]].head() shouldBe Array.empty[Long]
    val r = spark.sql("SELECT ngram_hashes(CAST(NULL AS ARRAY<BIGINT>), 3)").collect().head
    assert(r.isNullAt(0))
  }

  test("property: rolling update equals the direct per-window fold") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val elem = Gen.chooseNum(0L, PolyHash.Mod - 1)
    val arrs = Gen.listOfN(30, Gen.zip(Gen.listOf(elem), Gen.choose(1, 6)))
      .apply(Gen.Parameters.default, Seed(7L)).get
    arrs.foreach { case (xs, n) =>
      val got = NgramHashes.roll(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(xs.toArray), n)
        .toLongArray()
      val want =
        if (xs.length < n) Array.empty[Long]
        else xs.sliding(n).map(w =>
          w.foldLeft(0L)((acc, h) => (acc * 31 + h) % PolyHash.Mod)).toArray
      got shouldBe want
    }
  }
}
