package graft.analytics

import org.apache.spark.sql.functions._
import graft.{SourceScan, SparkSuite}

/** Pins `Similarity.ivfAssign`, the nearest-centroid assignment every
  * IVF query of the vector family routes through, to an INDEPENDENT
  * derivation over collected rows of the real sf0.001 corpus (the
  * committed copy under perfbench/data): cosine from Long dot products
  * with the same double casts, ranked per vector with ties broken by
  * `c_label`. A drift in the shared window, the cosine
  * expression or the tie-break shows up as a set mismatch; a copy of
  * the window growing back beside it fails the source scan. */
class IvfAssignSpec extends SparkSuite {

  private val dir = "perfbench/data/sf0.001"

  private lazy val quant = Similarity.withQuant(dir, spark)
  private lazy val cent = Similarity.labelCentroids(quant)
  private lazy val assigned = Similarity.ivfAssign(quant, cent)

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.foldLeft(0L)((acc, i) => acc + a(i) * b(i))

  /** (vec_id, c_label, rank) for every vector and centroid. */
  private lazy val expected: Seq[(Long, Int, Int)] = {
    val vecs = quant.select(col("vec_id"), col("qv")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
    val cents = cent.select(col("c_label"), col("cqv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
    vecs.toSeq.flatMap { case (id, v) =>
      val n2 = dot(v, v).toDouble
      cents.toSeq
        .map { case (label, c) =>
          label -> dot(v, c).toDouble / (math.sqrt(n2) * math.sqrt(dot(c, c).toDouble))
        }
        .sortBy { case (label, cos) => (-cos, label) }
        .zipWithIndex.map { case ((label, _), i) => (id, label, i + 1) }
    }
  }

  private def pairs(maxRank: Int): Set[(Long, Int)] =
    assigned.filter(col("crnk") <= maxRank).select(col("vec_id"), col("c_label"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def expectedPairs(maxRank: Int): Set[(Long, Int)] =
    expected.collect { case (id, label, rank) if rank <= maxRank => (id, label) }.toSet

  test("ivfAssign keeps every column of its input and adds csim and crnk") {
    assigned.columns.toSeq shouldBe quant.columns.toSeq ++ cent.columns ++ Seq("csim", "crnk")
  }

  test("nearest centroid (crnk = 1) equals the derivation over collected rows") {
    val got = pairs(1)
    got should not be empty
    got shouldBe expectedPairs(1)
  }

  test("nearest two centroids (crnk <= 2) equal the derivation over collected rows") {
    pairs(2) shouldBe expectedPairs(2)
  }

  test("every vector sits in exactly one list at crnk = 1 (the s31 cell-size invariant)") {
    val perVec = assigned.filter(col("crnk") === 1).groupBy(col("vec_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    perVec.values.toSet shouldBe Set(1L)
    perVec.keySet shouldBe quant.select(col("vec_id")).collect().map(_.getLong(0)).toSet
  }

  test("the ranked nearest-centroid window is written only in ivfAssign") {
    // whitespace-free text, so a window split over lines is still found
    val window = """partitionBy\(col\("vec_id"\)\)\.orderBy\(col\("c?sim"\)\.desc,col\("c_label"\)\)""".r
    val hits = SourceScan.files("src/main/scala/graft/analytics").flatMap { case (p, lines) =>
      val text = lines.mkString.replaceAll("\\s", "")
      window.findAllMatchIn(text).map(m => (p.getFileName.toString, text, m.start)).toSeq
    }
    hits.map(_._1) shouldBe Seq("Similarity.scala")
    val (_, text, at) = hits.head
    val start = text.indexOf("defivfAssign(")
    start should be >= 0
    val end = text.indexOf("private[analytics]def", start + 1)
    assert(start < at && at < end, "the window sits outside the body of ivfAssign")
  }

  test("the quantized cosine is written only in Tables.cosine") {
    // whitespace-free text, so a formula split over lines is still found
    val formula = """\.cast\("double"\)/\(*sqrt\(col\(""".r
    val hits = SourceScan.files("src/main").flatMap { case (p, lines) =>
      val text = lines.mkString.replaceAll("\\s", "")
      formula.findAllMatchIn(text).map(m => (p.getFileName.toString, text, m.start)).toSeq
    }
    hits.map(_._1) shouldBe Seq("Tables.scala")
    val (_, text, at) = hits.head
    val start = text.indexOf("defcosine(")
    start should be >= 0
    assert(start < at && at < text.indexOf("def", start + 1), "the formula sits outside Tables.cosine")
  }
}
