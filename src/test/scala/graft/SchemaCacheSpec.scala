package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.analytics.Tables
import graft.analytics.Dedup.PersistedIndex

/** The parquet schema cache behind `Tables`: inference once per file
  * version and parquet settings, a fresh entry when the files are
  * rewritten or an inference flag flips, and directory layouts
  * fingerprinted over their files. */
class SchemaCacheSpec extends SparkSuite {

  // the sf0.001 tables committed with the benchmark (relative to the
  // repository root, where the forked test JVM runs)
  private val sf = "perfbench/data/sf0.001"

  /** A temp sf dir holding fresh copies of the named tables, so no entry
    * cached by an earlier suite can serve them. */
  private def copyOf(tables: String*): String = {
    val dir = Files.createTempDirectory("graft-schema")
    tables.foreach(t => Files.copy(Paths.get(sf, s"$t.parquet"), dir.resolve(s"$t.parquet")))
    dir.toString
  }

  /** Spark jobs started by `body`. Listener events arrive asynchronously
    * but in order, so the count is complete once a marker job submitted
    * after `body` has been seen. */
  private def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    @volatile var done = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.marker") == marker) done = true
        else if (!done) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.marker", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
      done shouldBe true
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a second Tables.rd of the same file runs no Spark job and returns an equal schema") {
    val dir = copyOf("nation")
    val (first, jobs1) = jobsIn(Tables.rd(spark, dir, "nation").schema)
    jobs1 should be >= 1
    val (second, jobs2) = jobsIn(Tables.rd(spark, dir, "nation").schema)
    jobs2 shouldBe 0
    second shouldBe first
    first shouldBe spark.read.parquet(s"$dir/nation.parquet").schema
    Tables.rd(spark, dir, "nation").orderBy("n_nationkey").collect() shouldBe
      spark.read.parquet(s"$dir/nation.parquet").orderBy("n_nationkey").collect()
  }

  test("rewriting the file with an extra column serves the new schema") {
    val dir = copyOf("nation")
    Tables.rd(spark, dir, "nation").columns should not contain "extra"
    spark.read.parquet(s"$sf/nation.parquet").withColumn("extra", lit(1))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val (cols, jobs) = jobsIn(Tables.rd(spark, dir, "nation").columns)
    jobs should be >= 1
    cols should contain("extra")
    Tables.rd(spark, dir, "nation").where("extra = 1").count() shouldBe 25L
  }

  test("flipping inferTimestampNTZ on events.parquet serves each schema from its own entry") {
    val dir = copyOf("events")
    val flag = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def ts(on: Boolean) = jobsIn(Tables.withConfs(spark, flag -> on.toString) {
      Tables.rd(spark, dir, "events").schema("ts").dataType
    })
    // ts is TIMESTAMP_MICROS with isAdjustedToUTC = false: NTZ when the
    // flag is on, a session-zone timestamp when it is off
    val (ntz, jobsOn) = ts(on = true)
    ntz shouldBe TimestampNTZType
    jobsOn should be >= 1
    val (ltz, jobsOff) = ts(on = false)
    ltz shouldBe TimestampType
    jobsOff should be >= 1
    ts(on = true) shouldBe (TimestampNTZType, 0)
    ts(on = false) shouldBe (TimestampType, 0)
  }

  test("a persisted index directory is fingerprinted over its files") {
    val dir = copyOf("documents")
    val idx = () => PersistedIndex(spark, "schema-cache", dir) { p =>
      spark.range(100).repartition(3).write.parquet(p)
    }
    val root = new org.apache.hadoop.fs.Path(idx().inputFiles.head).getParent.toUri.getPath
    val files = Files.list(Paths.get(root)).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.endsWith(".crc"))
    files.count(_.getFileName.toString.endsWith(".parquet")) should be >= 3
    def mtime(f: Path) = Files.getLastModifiedTime(f).toMillis
    Tables.fingerprint(spark, root) shouldBe Some(
      s"file:$root|${files.size}:${files.map(Files.size).sum}:${files.map(mtime).max}")

    val (n, jobs) = jobsIn(idx().schema)
    jobs shouldBe 0
    n.fieldNames.toSeq shouldBe Seq("id")
    idx().count() shouldBe 100L
    Tables.fingerprint(spark, s"$root/missing") shouldBe None
  }
}
