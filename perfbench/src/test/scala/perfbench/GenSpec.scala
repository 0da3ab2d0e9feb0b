package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.BillingParse
import graft.route.BillingRouter

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def write(seed: Long): (java.nio.file.Path, Seq[(String, Tally)], Tally) = {
    val dir = Files.createTempDirectory("perfbench-gen")
    val gen = new Gen(seed)
    val backlog = gen.backlog(dir, 6000, 30, 3)
    val tally = new Tally
    gen.landing(dir.resolve("landing.json"), 2000, 31, 0.15, tally)
    (dir, backlog, tally)
  }

  test("the same seed writes byte-identical files and equal tallies") {
    val (a, ta, la) = write(7)
    val (b, tb, lb) = write(7)
    val (c, _, _) = write(8)
    def bytes(d: java.nio.file.Path, n: String) = Files.readAllBytes(d.resolve(n)).toSeq
    for (n <- ta.map(_._1) :+ "landing.json") {
      assert(bytes(a, n) == bytes(b, n), n)
      assert(bytes(a, n) != bytes(c, n), n)
    }
    assert(ta.map(_._2.rows.toMap) == tb.map(_._2.rows.toMap))
    assert(la.fileSizeSum.toMap == lb.fileSizeSum.toMap)
  }

  test("the tallies agree with a parse and route of the generated files") {
    val (dir, backlog, landing) = write(42)
    val tally = new Tally
    backlog.foreach(b => tally.addAll(b._2))
    tally.addAll(landing)
    assert(tally.malformed > 0 && tally.unknownType > 0 && tally.nullDate > 0)
    assert(tally.rows.keys.collect { case (_, Some(d)) => d }.toSet.size == 32)

    val parsed = BillingParse.parse(spark.read.text(dir.toString)).cache()
    assert(parsed.count() == tally.lines)
    assert(parsed.where(col("msgType").isNull && col("date").isNull && col("pnfsid").isNull)
      .count() == tally.malformed)
    assert(parsed.where(col("msgType") === "ping").count() == tally.unknownType)
    assert(parsed.where(col("msgType").isNotNull && col("msgType") =!= "ping" && col("date").isNull)
      .count() == tally.nullDate)
    assert(Files.size(dir.resolve("landing.json")) +
      backlog.map(b => Files.size(dir.resolve(b._1))).sum == tally.bytes)

    BillingRouter.route(parsed).foreach { case (table, df) =>
      val rows = df.groupBy(col("partition_date")).agg(count(lit(1)), sum(col("fileSize").cast("long")))
        .collect()
      val got = rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      val want = tally.rows.collect { case ((`table`, p), n) => p -> n }.toMap
      assert(got == want, table)
      assert(rows.map(_.getLong(2)).sum == tally.fileSizeSum(table), table)
    }
  }
}
