package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, PolyHash}

/** The native poly_hash expression: value parity with the pure-SQL fold it
  * replaced, null handling, and both execution paths (codegen at top level,
  * interpreted eval inside a higher-order-function lambda). */
class PolyHashSpec extends SparkSuite {
  import spark.implicits._

  private val legacyFold = (c: String) =>
    s"aggregate(transform(split($c, ''), ch -> CAST(ascii(ch) AS BIGINT)), CAST(0 AS BIGINT), (acc, ch) -> (acc * 31 + ch) % ${PolyHash.Mod})"

  test("matches the legacy SQL fold on varied strings (codegen path)") {
    GraftExtensions.register(spark)
    val rows = Seq("", "a", "the quick brown fox", "MixedCase 123 !?",
      "repeated repeated repeated", "x" * 500).toDF("s")
    val diff = rows
      .select(expr("poly_hash(s)").as("native"), expr(legacyFold("s")).as("sql"))
      .filter(col("native") =!= col("sql"))
    diff.count() shouldBe 0L
  }

  test("known value: single character = its code point") {
    GraftExtensions.register(spark)
    Seq("A").toDF("s").select(expr("poly_hash(s)")).as[Long].head() shouldBe 65L
  }

  test("known value: two characters = c0*31 + c1") {
    GraftExtensions.register(spark)
    Seq("AB").toDF("s").select(expr("poly_hash(s)")).as[Long].head() shouldBe (65L * 31 + 66)
  }

  test("NULL input yields NULL") {
    GraftExtensions.register(spark)
    val r = Seq[Option[String]](None).toDF("s").select(expr("poly_hash(s)")).collect()
    assert(r.head.isNullAt(0))
  }

  test("usable inside a higher-order-function lambda (interpreted path)") {
    GraftExtensions.register(spark)
    val out = Seq(Array("A", "AB")).toDF("arr")
      .select(expr("transform(arr, x -> poly_hash(x))").as("hs"))
      .as[Array[Long]].head()
    out shouldBe Array(65L, 65L * 31 + 66)
  }

  test("the extensions descriptor builds a working expression") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = PolyHash.descriptor._3(Seq(Literal("AB")))
    e.eval(null) shouldBe (65L * 31 + 66)
  }

  test("SQL registration survives into spark.sql") {
    GraftExtensions.register(spark)
    spark.sql("SELECT poly_hash('AB') AS h").collect().head.getLong(0) shouldBe (65L * 31 + 66)
  }
}
