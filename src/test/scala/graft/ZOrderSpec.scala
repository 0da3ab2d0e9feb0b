package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, ZInterleave}

/** The native z_interleave expression and the Z-order layout win it
  * exists for: a Morton-sorted parquet layout must prune strictly more
  * rows than a lexicographic sort under a 2-D box predicate (parquet
  * min/max stats become selective in BOTH dimensions), while the codes
  * themselves match a bit-by-bit reference. */
class ZOrderSpec extends SparkSuite {

  private def bitRefMorton(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 32) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("morton code matches the bit-by-bit reference") {
    val rnd = new scala.util.Random(42)
    val samples = Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs)) ++
      Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
        (0xFFFFFFFFL, 0xFFFFFFFFL), (0xFFFFFFFFFFL, 3L)) // >32-bit: low bits only
    samples.foreach { case (a, b) =>
      ZInterleave.morton(a, b) shouldBe bitRefMorton(a, b)
    }
  }

  test("z_interleave SQL function evaluates via codegen and interpreter") {
    GraftExtensions.register(spark)
    val got = spark.range(1000)
      .select(expr("z_interleave(id % 100, id % 37)").as("z"),
        col("id") % 100, col("id") % 37)
      .collect()
    got.foreach { r =>
      r.getLong(0) shouldBe bitRefMorton(r.getLong(1), r.getLong(2))
    }
    // null propagation
    spark.sql("SELECT z_interleave(CAST(NULL AS BIGINT), 3)").collect()(0)
      .isNullAt(0) shouldBe true
  }

  test("z_interleave builder: arity error is an analysis error; narrow ints widen") {
    GraftExtensions.register(spark)
    // wrong arity must name the function and expected signature, not
    // throw IndexOutOfBoundsException from the builder
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT z_interleave(1)").collect()
    }
    e.getMessage should include("z_interleave")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT z_interleave(1, 2, 3)").collect()
    }
    // SMALLINT/TINYINT inputs widen to BIGINT like INT does
    val r = spark.sql(
      """SELECT z_interleave(CAST(3 AS SMALLINT), CAST(5 AS TINYINT))""")
      .collect()(0).getLong(0)
    r shouldBe bitRefMorton(3L, 5L)
  }

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case other                    => other.children
    }
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case other                 => unwrap(other).flatMap(findScan).headOption
    }
    val scan = findScan(df.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in plan"))
    scan.metrics("numOutputRows").value
  }

  test("z-order layout prunes a 2-D box strictly better than a lexicographic sort") {
    GraftExtensions.register(spark)
    // a symmetric 1000 × 1000 INDEPENDENT grid — two multiplicative
    // hashes of id mod the same modulus would be bijective maps of each
    // other (perfectly correlated) and no layout could separate them;
    // asymmetric bit widths would fill the top Z-bits from one dimension
    // only and blunt the tiling
    val n = 1000000L
    val base = spark.range(n)
      .select(col("id"),
        expr("id % 1000").as("x"),
        expr("id DIV 1000").as("y"))
      .withColumn("z", expr("z_interleave(x, y)"))
    val zDir = java.nio.file.Files.createTempDirectory("graft-ztest-z").toString
    val xDir = java.nio.file.Files.createTempDirectory("graft-ztest-x").toString
    base.repartitionByRange(64, col("z")).sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(zDir)
    base.repartitionByRange(64, col("x")).sortWithinPartitions(col("x"), col("y"))
      .write.mode("overwrite").parquet(xDir)

    // The query every multi-dim layout argument is about: WIDE in the
    // leading dimension, narrow in the other. The x-sorted layout must
    // read every file the x-range touches (~70% of them — y min/max
    // spans the full domain in each); the Z-sorted files are compact 2-D
    // tiles, so the narrow y-range alone prunes most of them.
    def box(dir: String): DataFrame =
      spark.read.parquet(dir)
        .filter(col("x").between(100, 800) && col("y").between(50, 60))

    // same answer from both layouts
    box(zDir).agg(count(lit(1)), sum("id")).collect() shouldBe
      box(xDir).agg(count(lit(1)), sum("id")).collect()

    val zRows = scanRows(box(zDir))
    val xRows = scanRows(box(xDir))
    assert(zRows * 2 <= xRows,
      s"z-order scan read $zRows rows, lexicographic read $xRows — expected ≤ half")
    assert(xRows < n, "pushdown did not prune anything — test data degenerate")
  }
}
