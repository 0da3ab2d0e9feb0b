package graft

import java.nio.file.Files
import java.time.LocalDate
import graft.cli.{LockProtocol, RunCompact, RunIngest, StateInspect}

/** CLI drivers + lock/status protocol (SURVEY §2.7; reference
  * `run_kafka_to_hive.py:31-72`, `run_compact_tables.py:34-92`). */
class CliSpec extends SparkSuite {

  private def tmp() = Files.createTempDirectory("graft-cli")

  test("withLock runs the body and writes status 0") {
    val dir = tmp()
    val status = dir.resolve("status.txt")
    var ran = false
    LockProtocol.withLock(dir, status) { ran = true } shouldBe 0
    ran shouldBe true
    Files.readString(status) shouldBe "0"
    Files.exists(dir.resolve(LockProtocol.lockName)) shouldBe false
  }

  test("withLock refuses when the lock is held and leaves it in place") {
    val dir = tmp()
    val status = dir.resolve("status.txt")
    Files.writeString(dir.resolve(LockProtocol.lockName), "")
    var ran = false
    LockProtocol.withLock(dir, status) { ran = true } shouldBe 1
    ran shouldBe false
    Files.readString(status) shouldBe "1"
    // unlike the reference's bare except, another instance's lock survives
    Files.exists(dir.resolve(LockProtocol.lockName)) shouldBe true
  }

  test("withLock writes status 1 on failure but still releases its own lock") {
    val dir = tmp()
    val status = dir.resolve("status.txt")
    LockProtocol.withLock(dir, status) { sys.error("boom") } shouldBe 1
    Files.readString(status) shouldBe "1"
    Files.exists(dir.resolve(LockProtocol.lockName)) shouldBe false
  }

  test("partition spec resolution: yesterday / all / CSV") {
    val today = LocalDate.parse("2024-03-05")
    RunCompact.resolvePartitions("yesterday", today) shouldBe Some(Seq("2024-03-04"))
    RunCompact.resolvePartitions("all", today) shouldBe None
    RunCompact.resolvePartitions("2024-01-01, 2024-01-02", today) shouldBe
      Some(Seq("2024-01-01", "2024-01-02"))
  }

  test("RunIngest drains a JSON-lines dir into the tables, then RunCompact compacts them") {
    val db = "clidb"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val srcDir = tmp()
    Files.writeString(srcDir.resolve("events.jsonl"),
      Fixtures.all.mkString("\n"))
    val lockDir = tmp()

    RunIngest.run(spark, Map(
      "database" -> db, "source-dir" -> srcDir.toString,
      "lock-dir" -> lockDir.toString)) shouldBe 0
    Files.readString(lockDir.resolve("status_run_stream.txt")) shouldBe "0"
    spark.table(s"$db.transfer").count() shouldBe 1L
    spark.table(s"$db.storage").count() shouldBe 2L

    RunCompact.run(spark, Map(
      "database" -> db, "partition" -> "all",
      "lock-dir" -> lockDir.toString)) shouldBe 0
    Files.readString(lockDir.resolve("status_run_compact.txt")) shouldBe "0"
    spark.table(s"$db.storage").count() shouldBe 2L
  }

  test("RunIngest without --checkpoint resumes: a second window over the same source adds nothing") {
    val db = "cliresume"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    val srcDir = tmp()
    Files.writeString(srcDir.resolve("events.jsonl"), Fixtures.all.mkString("\n"))
    val lockDir = tmp()
    val opts = Map("database" -> db, "source-dir" -> srcDir.toString,
      "lock-dir" -> lockDir.toString)
    def counts() = graft.schema.BillingSchema.tableSchemas.keys.toSeq.sorted.map { t =>
      spark.catalog.refreshTable(s"$db.$t")
      t -> spark.table(s"$db.$t").count()
    }
    RunIngest.run(spark, opts) shouldBe 0
    val once = counts()
    once.map(_._2).sum should be > 0L
    RunIngest.run(spark, opts) shouldBe 0
    counts() shouldBe once
    Files.isDirectory(lockDir.resolve("checkpoint_run_stream")) shouldBe true
  }

  test("RunIngest main starts outside spark-submit with a -D warehouse") {
    // the documented `sbt runMain` / plain `java` start: no launcher sets
    // a master, so the session factory's local default must
    val base = tmp()
    val srcDir = Files.createDirectories(base.resolve("in"))
    Files.writeString(srcDir.resolve("events.jsonl"), Fixtures.all.mkString("\n"))
    val lockDir = Files.createDirectories(base.resolve("lock"))
    val warehouse = base.resolve("warehouse")
    val (exit, out) = ForkedJvm.run("graft.cli.RunIngest",
      Seq("-Xmx1g", s"-Dspark.sql.warehouse.dir=$warehouse"),
      Seq("--database", "climain", "--source-dir", srcDir.toString,
        "--lock-dir", lockDir.toString, "--checkpoint", base.resolve("ckpt").toString))
    withClue(ForkedJvm.tail(out)) {
      exit shouldBe 0
      Files.readString(lockDir.resolve("status_run_stream.txt")) shouldBe "0"
      spark.read.parquet(warehouse.resolve("climain.db/storage").toString)
        .count() shouldBe 2L
    }
  }

  test("a held lock blocks both drivers (shared run_stream.lock)") {
    val lockDir = tmp()
    Files.writeString(lockDir.resolve(LockProtocol.lockName), "")
    RunIngest.run(spark, Map("lock-dir" -> lockDir.toString)) shouldBe 1
    RunCompact.run(spark, Map("lock-dir" -> lockDir.toString)) shouldBe 1
  }

  test("StateInspect reports per-store rows and bytes for a drained checkpoint") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = tmp().toString
    val source = MemoryStream[(Timestamp, String)]
    val agg = source.toDF().toDF("ts", "k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream
      .format("memory")
      .queryName("state_inspect_sink")
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      source.addData(
        (Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
        (Timestamp.valueOf("2024-01-01 10:01:00"), "b"),
        (Timestamp.valueOf("2024-01-01 10:02:00"), "a"))
      q.processAllAvailable()
      q.stop()
      val stats = StateInspect.report(spark, ckpt)
      stats should have size 1
      val s = stats.head
      s.operatorName shouldBe "stateStoreSave"
      s.storeName shouldBe "default"
      s.rows shouldBe 2L // keys a, b — unwatermarked agg state is |keys|
      s.diskBytes should be > 0L
    } finally {
      if (q.isActive) q.stop()
      spark.catalog.dropTempView("state_inspect_sink")
    }
  }
}
