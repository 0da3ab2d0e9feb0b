package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{JobCount, SourceScan, SparkSuite}

/** The run-to-completion helpers every catalog streaming query drains
  * through (`graft.streaming.drain`, `drainToMemory`, `stagedStream`): failures
  * surface and leave nothing running or registered, staged frames arrive
  * one per micro-batch in order, and the mechanisms stay in one place. */
class StreamDrainSpec extends SparkSuite {

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("a foreachBatch that throws surfaces the exception and leaves no active query") {
    val stream = Streams.stagedStream(spark, "drain-spec-fail", Seq(spark.range(3).toDF("x")))
    val fail: (DataFrame, Long) => Unit = (_, _) => sys.error("boom in batch")
    val e = intercept[Exception](graft.streaming.drain(stream.writeStream.foreachBatch(fail)))
    messages(e).exists(_.contains("boom in batch")) shouldBe true
    spark.streams.active shouldBe empty
  }

  test("a failing memory drain leaves no temp view") {
    val before = tempViews()
    val stream = Streams.stagedStream(spark, "drain-spec-mem", Seq(spark.range(3).toDF("x")))
    val e = intercept[Exception](Streams.drainToMemory(
      stream.select(col("x"), assert_true(col("x") < 0, lit("boom in sink"))), "append"))
    messages(e).exists(_.contains("boom in sink")) shouldBe true
    tempViews() shouldBe before
    spark.streams.active shouldBe empty
  }

  test("a memory drain returns what the sink collected and drops its view") {
    val before = tempViews()
    val stream = Streams.stagedStream(spark, "drain-spec-ok", Seq(spark.range(4).toDF("x")))
    Streams.drainToMemory(stream, "append").orderBy("x").collect().map(_.getLong(0)) shouldBe
      Array(0L, 1L, 2L, 3L)
    tempViews() shouldBe before
  }

  test("stagedStream delivers frame k as batch k, with a read-back's schema and one job per frame") {
    val frames = (0 until 3).map(k =>
      spark.range(10L * k, 10L * k + 2 + k).select(col("id"), lit(s"f$k").as("tag")))
    val (stream, jobs) = JobCount.jobsIn(spark)(Streams.stagedStream(spark, "drain-spec-order", frames))
    jobs shouldBe frames.size // the staging writes; no schema inference
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long], Seq[String])]()
    val record: (DataFrame, Long) => Unit = { (b, id) =>
      val rows = b.select(col("id"), input_file_name()).collect()
      batches.add((id, rows.map(_.getLong(0)).toSeq.sorted, rows.map(_.getString(1)).distinct.toSeq))
    }
    graft.streaming.drain(stream.writeStream.foreachBatch(record))
    val got = batches.asScala.toSeq.sortBy(_._1)
    got.map(_._1) shouldBe Seq(0L, 1L, 2L)
    got.map(_._2) shouldBe frames.map(_.collect().map(_.getLong(0)).toSeq.sorted)
    val files = got.flatMap(_._3)
    files should have size 3
    stream.schema shouldBe spark.read.parquet(files: _*).schema
  }

  test("the drain mechanisms live only in the helpers at the top of Streams.scala") {
    // the helpers precede the first query definition in Streams.scala;
    // anywhere else under analytics these mark a hand-rolled drain
    val helperOnly = Seq("format(\"memory\")")
    val nowhere = Seq("movePartFile", "withStreamShuffle", "conf.getOption(provKey)")
    val sources = SourceScan.files("src/main/scala/graft/analytics")
    sources.map(_._1.getFileName.toString) should contain("Streams.scala")
    val offenders = sources.flatMap { case (p, lines) =>
      val helpersEnd =
        if (p.getFileName.toString == "Streams.scala") lines.indexWhere(_.contains("QueryDef("))
        else 0
      lines.zipWithIndex.collect {
        case (l, i) if nowhere.exists(l.contains) ||
            (i >= helpersEnd && helperOnly.exists(l.contains)) => s"$p:${i + 1}: ${l.trim}"
      }
    }
    offenders shouldBe empty
  }

  test("Trigger.AvailableNow is set in one place in the program, graft.streaming.drain") {
    val drainFile = java.nio.file.Paths.get("src/main/scala/graft/streaming/package.scala")
    val mentions = for {
      (p, lines) <- SourceScan.files("src/main")
      l <- lines if l.contains("Trigger.AvailableNow")
    } yield (p, l.trim)
    mentions.filter(_._1 != drainFile) shouldBe empty
    mentions.count(_._2.contains("Trigger.AvailableNow()")) shouldBe 1
  }

  test("the click-purchase interval join is written once, in Streams.clickPurchaseJoin") {
    val sources = SourceScan.files("src/main/scala/graft/analytics")
    Seq("expr(\"INTERVAL 30 MINUTES\")", "withWatermark(\"p_ts\"").foreach { needle =>
      val hits = for {
        (p, lines) <- sources
        (l, i) <- lines.zipWithIndex if l.contains(needle)
      } yield (p.getFileName.toString, lines(lines.lastIndexWhere(_.contains(" def "), i)))
      withClue(needle) {
        hits.map(_._1) shouldBe Seq("Streams.scala")
        hits.head._2 should include("def clickPurchaseJoin(")
      }
    }
  }
}
