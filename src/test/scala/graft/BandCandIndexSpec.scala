package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Pins the r22 persisted band-candidate pair index to an INDEPENDENT
  * derivation of the capped candidate pipeline it replaced at its five
  * consumer sites (d02/d47/d48/d56/d57): bands off the signature
  * pipeline, occupied-bucket sizes, the ⌈sz/cap⌉ hash sub-split, the
  * (band, sub)-cell self-join, distinct (id1 < id2) pairs. A drift in
  * the shared generator, the index schema, or the parquet round-trip
  * shows up here as a row-set mismatch on the real sf0.001 corpus. */
class BandCandIndexSpec extends SparkSuite {

  import graft.analytics.Tables.{strHashExpr, HashMod}
  import graft.analytics.Dedup

  private val dir = "/root/testdata/sf0.001"

  private def expected(rows: Int) = {
    val nb = 8 / rows
    val bandExpr = s"transform(sequence(0, ${nb - 1}), i -> concat(i, ':', " +
      (1 to rows).map(j => s"element_at(mhs, $rows * i + $j)").mkString(", ':', ") + "))"
    val mh = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(expr("size(w) >= 3"))
      .select(col("doc_id"), expr(
        "transform(transform(sequence(1, size(w) - 2), i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))), x -> x)")
        .as("shRaw"))
      .select(col("doc_id"), expr(s"transform(array_distinct(shRaw), x -> ${strHashExpr("x")})").as("hs"))
      .select(col("doc_id"), expr("minhash_sigs(hs)").as("mhs"))
    val bands = mh.select(col("doc_id"), explode(expr(bandExpr)).as("band"))
    val cap = 128L
    val sizes = bands.groupBy(col("band")).agg(count(lit(1)).as("sz"))
      .withColumn("k", expr(s"(sz + ${cap - 1}) DIV $cap"))
    val tagged = bands.join(sizes, Seq("band"))
      .withColumn("sub", expr(
        s"CASE WHEN k > 1 THEN ${strHashExpr("CAST(doc_id AS STRING)")} % k ELSE 0 END"))
      .select(col("band"), col("sub"), col("doc_id"))
    tagged.as("a").join(tagged.as("b"),
        col("a.band") === col("b.band") && col("a.sub") === col("b.sub") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  for (rows <- Seq(2, 4)) {
    test(s"persisted band-candidate index (rows=$rows) equals the independent pipeline") {
      GraftExtensions.register(spark)
      val idx = Dedup.bandCandIndex(spark, dir, rows)
      val exp = expected(rows)
      idx.columns.toSeq shouldBe Seq("id1", "id2")
      idx.join(exp, Seq("id1", "id2"), "left_anti").count() shouldBe 0L
      exp.join(idx, Seq("id1", "id2"), "left_anti").count() shouldBe 0L
      idx.count() should be > 0L
    }
  }
}
