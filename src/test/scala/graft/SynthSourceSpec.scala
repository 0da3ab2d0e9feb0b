package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.sources.SynthSource

/** DSv2 connector contract of [[graft.sources.SynthSource]]: the data is
  * trivial by design — what these tests pin down is WHERE work happens
  * (filter pushdown prunes planned splits and generated rows, column
  * pruning skips unprojected generators, stats reflect the narrowed
  * range). The JVM-global counters are valid observables because tests
  * run sequentially in one local-mode JVM. */
class SynthSourceSpec extends SparkSuite with BeforeAndAfterEach {

  // The delta-based assertions below only need counters that don't move
  // concurrently; resetting per test removes any dependence on suite
  // ordering or Test/parallelExecution build settings.
  override protected def beforeEach(): Unit = {
    super.beforeEach()
    SynthSource.rowsGenerated.set(0L)
    SynthSource.stringsGenerated.set(0L)
  }

  private def synth(rows: Long = 10000, parts: Int = 8): DataFrame =
    spark.read.format(classOf[SynthSource].getName)
      .option("rows", rows).option("parts", parts).load()

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("rows follow the generator formulas") {
    val got = synth(rows = 1000).collect()
    got.length shouldBe 1000
    got.foreach { r =>
      val id = r.getLong(r.fieldIndex("id"))
      r.getLong(r.fieldIndex("user_id")) shouldBe SynthSource.userId(id)
      r.getString(r.fieldIndex("event_type")) shouldBe
        SynthSource.Types(SynthSource.typeIdx(id))
      r.getLong(r.fieldIndex("value")) shouldBe SynthSource.value(id)
    }
  }

  test("id range filters prune planned partitions and generated rows") {
    val df = synth(rows = 10000, parts = 8).filter(col("id") >= 9000)
    val before = SynthSource.rowsGenerated.get()
    val n = df.count()
    n shouldBe 1000
    // only the ids in [9000, 10000) were ever materialized...
    (SynthSource.rowsGenerated.get() - before) shouldBe 1000
    // ...and the narrowed range planned 1 split, not 8 (1000 rows / 1250-wide splits)
    scanOf(df).inputRDD.getNumPartitions shouldBe 1
  }

  test("equality pushdown narrows to a single id") {
    val df = synth(rows = 10000).filter(col("id") === 1234)
    val before = SynthSource.rowsGenerated.get()
    val got = df.collect()
    got.length shouldBe 1
    got.head.getLong(0) shouldBe 1234
    (SynthSource.rowsGenerated.get() - before) shouldBe 1
  }

  test("column pruning skips unprojected generators") {
    val before = SynthSource.stringsGenerated.get()
    synth(rows = 5000).select(sum(col("value"))).collect()
    // event_type never projected -> its generator (the only string one) never ran
    (SynthSource.stringsGenerated.get() - before) shouldBe 0
    val b2 = SynthSource.stringsGenerated.get()
    synth(rows = 100).select(col("event_type")).collect()
    (SynthSource.stringsGenerated.get() - b2) shouldBe 100
  }

  test("Long.MaxValue boundary literals saturate instead of wrapping") {
    // `id <= MaxValue` keeps everything: a wrapping hi = v+1 would
    // collapse the range to empty with no residual filter to catch it
    synth(rows = 1000).filter(col("id") <= Long.MaxValue).count() shouldBe 1000
    // `id > MaxValue` matches nothing
    synth(rows = 1000).filter(col("id") > lit(Long.MaxValue)).count() shouldBe 0
  }

  test("contradictory range yields an empty scan that generates nothing") {
    val df = synth(rows = 10000).filter(col("id") >= 5000 && col("id") < 5000)
    val before = SynthSource.rowsGenerated.get()
    df.count() shouldBe 0
    // zero splits planned (AQE may collapse the scan to a local empty
    // relation, so observe the generator, not the plan shape)
    (SynthSource.rowsGenerated.get() - before) shouldBe 0
  }

  test("micro-batch stream honors maxRowsPerBatch and drains exactly once") {
    val agg = spark.readStream.format(classOf[SynthSource].getName)
      .option("rows", 50000).option("parts", 4).option("maxRowsPerBatch", 10000)
      .load()
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    val progress = graft.streaming.drain(agg.writeStream.format("memory")
      .queryName("synth_stream_test").outputMode("complete"))
    // admission control: 50k rows at 10k/batch = 5 micro-batches
    val data = progress.filter(_.numInputRows > 0)
    data should have size 5
    data.map(_.numInputRows).max shouldBe 10000
    progress.foreach { p =>
      p.durationMs.asScala.keySet should contain allOf ("addBatch", "triggerExecution")
    }
    val row = spark.table("synth_stream_test").head()
    spark.catalog.dropTempView("synth_stream_test")
    row.getLong(0) shouldBe 50000
    row.getLong(1) shouldBe (0L until 50000L).map(SynthSource.value).sum
  }

  test("stream resumes from checkpointed offsets without re-reading") {
    val ckpt = java.nio.file.Files.createTempDirectory("synth-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("synth-out").toString + "/t"
    def drain(rows: Long): Unit =
      graft.streaming.drain(spark.readStream.format(classOf[SynthSource].getName)
        .option("rows", rows).option("parts", 4).option("maxRowsPerBatch", 500)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append"))
    drain(2000)
    spark.read.parquet(out).count() shouldBe 2000
    // restart against a grown source: only the new offsets [2000, 3000) land
    drain(3000)
    val all = spark.read.parquet(out)
    all.count() shouldBe 3000
    all.select(countDistinct(col("id"))).head().getLong(0) shouldBe 3000
  }

  test("reported statistics reflect the post-pushdown range") {
    // the narrowed side is small enough that Catalyst broadcast-joins it
    // without an explicit hint — only possible if the scan reports
    // post-pushdown stats under the broadcast threshold
    val small = synth(rows = 2000000, parts = 8).filter(col("id") < 100)
    val big = synth(rows = 100000, parts = 8)
    val joined = big.join(small.select(col("id").as("sid")), col("id") === col("sid"))
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    hasBroadcast shouldBe true
    joined.count() shouldBe 100
  }
}
