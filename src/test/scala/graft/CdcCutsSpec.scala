package graft

import org.apache.spark.sql.functions._
import graft.functions.{CdcCuts, GraftExtensions, PolyHash}

/** The native content-defined-chunking boundary scan: value parity with
  * the filter + poly_hash(substring) HOF it replaced (the m11 cut rule),
  * short-string and null handling, and the O(len) rolling update's
  * modular subtraction (property-tested against the direct per-window
  * hash over random strings). */
class CdcCutsSpec extends SparkSuite {
  import spark.implicits._

  private def hofForm(w: Int, div: Int): String =
    s"filter(sequence($w, length(text)), i -> " +
      s"poly_hash(substring(text, i - ${w - 1}, $w)) % $div = 0)"

  test("matches the HOF form on real documents for several (w, div)") {
    GraftExtensions.register(spark)
    val docs = graft.analytics.Tables
      .docsNarrow(spark, "/root/testdata/sf0.001").select(col("text"))
    Seq((8, 16), (4, 8), (2, 3)).foreach { case (w, div) =>
      val diff = docs
        .select(expr(s"cdc_cuts(text, $w, $div)").as("native"),
          expr(hofForm(w, div)).as("sql"))
        .filter(expr("native <> sql"))
      withClue(s"w=$w div=$div: ") { diff.count() shouldBe 0L }
    }
  }

  test("shorter-than-w input yields an empty array; NULL input yields NULL") {
    GraftExtensions.register(spark)
    Seq("short").toDF("text")
      .select(expr("cdc_cuts(text, 8, 16)")).as[Array[Int]]
      .head() shouldBe Array.empty[Int]
    val r = spark.sql("SELECT cdc_cuts(CAST(NULL AS STRING), 8, 16)").collect().head
    assert(r.isNullAt(0))
  }

  test("property: rolling update equals the direct per-window poly hash") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // include non-ASCII codepoints: the pass indexes CODEPOINTS, so a
    // multibyte char must shift the window by one position, not two
    val ch = Gen.frequency(
      9 -> Gen.alphaNumChar.map(_.toString),
      1 -> Gen.oneOf("é", "ß", "中", "🦀")) // 🦀 = surrogate pair in UTF-16
    val cases = Gen.listOfN(40, Gen.zip(Gen.listOf(ch), Gen.choose(1, 9)))
      .apply(Gen.Parameters.default, Seed(13L)).get
    cases.foreach { case (cs, w) =>
      val s = cs.mkString
      val cps = s.codePoints().toArray
      val got = CdcCuts.cuts(s, w, 4).toIntArray()
      val want = (w to cps.length).filter { i =>
        val h = cps.slice(i - w, i)
          .foldLeft(0L)((acc, cp) => (acc * 31 + cp) % PolyHash.Mod)
        h % 4 == 0
      }.toArray
      withClue(s"s=$s w=$w: ") { got shouldBe want }
    }
  }
}
