package graft

import org.apache.spark.sql.functions._
import graft.functions.{DotI64, GraftExtensions}

/** The native dot_i64 expression: value parity with the HOF fold it
  * replaced (including the fold's null semantics — length mismatch and
  * null elements poison to NULL), and both execution paths (codegen at
  * top level, interpreted eval inside a higher-order-function lambda). */
class DotI64Spec extends SparkSuite {
  import spark.implicits._

  private val fold =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"

  test("matches the HOF fold on varied arrays (codegen path)") {
    GraftExtensions.register(spark)
    val rows = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array.empty[Long], Array.empty[Long]),
      (Array(-7L, 1000000L), Array(3L, -2L)),
      (Array.fill(64)(123456789L), Array.fill(64)(-987L))).toDF("a", "b")
    val diff = rows
      .select(expr("dot_i64(a, b)").as("native"), expr(fold).as("sql"))
      .filter(col("native") =!= col("sql") ||
        (col("native").isNull =!= col("sql").isNull))
    diff.count() shouldBe 0L
  }

  test("known value") {
    GraftExtensions.register(spark)
    Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L))).toDF("a", "b")
      .select(expr("dot_i64(a, b)")).as[Long].head() shouldBe 32L
  }

  test("length mismatch yields NULL (zip_with pads with NULL)") {
    GraftExtensions.register(spark)
    val rows = Seq((Array(1L, 2L), Array(1L))).toDF("a", "b")
    val both = rows.select(expr("dot_i64(a, b)").as("native"), expr(fold).as("sql")).collect().head
    assert(both.isNullAt(0) && both.isNullAt(1))
  }

  test("NULL element poisons to NULL, NULL array to NULL") {
    GraftExtensions.register(spark)
    val withNullElem = Seq((Array[java.lang.Long](1L, null), Array[java.lang.Long](2L, 3L)))
      .toDF("a", "b").select(expr("dot_i64(a, b)")).collect().head
    assert(withNullElem.isNullAt(0))
    val withNullArr = spark.sql("SELECT dot_i64(CAST(NULL AS ARRAY<BIGINT>), array(1L))").collect().head
    assert(withNullArr.isNullAt(0))
  }

  test("usable inside a higher-order-function lambda (interpreted path)") {
    GraftExtensions.register(spark)
    val out = Seq((Array(Array(1L, 2L), Array(3L, 4L)), Array(10L, 100L))).toDF("arrs", "q")
      .select(expr("transform(arrs, v -> dot_i64(v, q))").as("ds"))
      .as[Array[Long]].head()
    out shouldBe Array(210L, 430L)
  }

  test("property: matches a BigInt reference on random in-range vectors") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the quantized-embedding domain: |x| <= 0.58 * 1e7 per component
    val comp = Gen.chooseNum(-5800000L, 5800000L)
    val vec = Gen.listOfN(64, comp)
    val pairs = Gen.listOfN(50, Gen.zip(vec, vec))
      .apply(Gen.Parameters.default, Seed(42L)).get
    GraftExtensions.register(spark)
    val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
    val native = df.select(expr("dot_i64(a, b)")).as[Long].collect()
    val ref = pairs.map { case (a, b) =>
      a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    }
    native.zip(ref).foreach { case (n, r) =>
      r.isValidLong shouldBe true
      n shouldBe r.toLong
    }
  }

  test("the extensions descriptor builds a working expression") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val lit = (xs: Seq[Long]) => Literal(ArrayData.toArrayData(xs.toArray), ArrayType(LongType))
    val e = DotI64.descriptor._3(Seq(lit(Seq(2L, 3L)), lit(Seq(5L, 7L))))
    e.eval(null) shouldBe 31L
  }
}
