package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** The native cms_estimate probe: hash parity with how the builtin
  * count_min_sketch aggregate inserts (strings as UTF-8 bytes, integrals
  * as longs — on a domain a sketch this size holds exactly, a probe that
  * hashed differently would return 0, not the true count), the CMS
  * bounds, and the foldable-sketch input contract. */
class CmsEstimateSpec extends SparkSuite {
  import spark.implicits._

  private def sketchOf(df: org.apache.spark.sql.DataFrame, c: String): Array[Byte] =
    df.agg(call_function("count_min_sketch",
      col(c), lit(0.001d), lit(0.99d), lit(42)).as("sk"))
      .head.getAs[Array[Byte]]("sk")

  test("string probes return the exact count on a tiny domain (codegen path)") {
    GraftExtensions.register(spark)
    val df = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val sk = sketchOf(df, "k")
    val est = df.distinct()
      .select(col("k"), call_function("cms_estimate", lit(sk), col("k")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // eps 0.001 over 6 items: overestimate bound < 1, so counts are exact —
    // any probe-side hashing mismatch with the aggregate would read 0
    est shouldBe Map("a" -> 3L, "b" -> 2L, "c" -> 1L)
  }

  test("integral probes hash as longs, matching the aggregate") {
    GraftExtensions.register(spark)
    val df = Seq(7, 7, 8).toDF("k")
    val sk = sketchOf(df, "k")
    val est = df.distinct()
      .select(col("k"), call_function("cms_estimate", lit(sk), col("k")).as("est"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    est shouldBe Map(7 -> 2L, 8 -> 1L)
  }

  test("a non-foldable sketch argument is rejected at analysis") {
    GraftExtensions.register(spark)
    val df = Seq((sketchOf(Seq("a").toDF("k"), "k"), "a")).toDF("sk", "k")
    val e = intercept[AnalysisException] {
      // sk is a data column here, not a literal: per-row deserialization
      // is the trap the input check exists to block
      df.select(call_function("cms_estimate", col("sk"), col("k"))).collect()
    }
    e.getMessage.toLowerCase should include("foldable")
  }
}
