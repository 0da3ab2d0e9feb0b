package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ddl.BillingTables
import graft.ingest.BillingIngest

/** End-to-end streaming ingest over MemoryStream (SURVEY §5.2 item 2):
  * foreachBatch parse→route→append, AvailableNow drain, checkpoint resume,
  * the per-table replay ledger under the checkpoint, and a batch's job,
  * exchange and file counts. */
class BillingIngestSpec extends SparkSuite {
  import spark.implicits._

  private val db = "ingestdb"

  private def freshTables(): Unit = {
    val t = new BillingTables(spark, db)
    t.createDatabase(); t.dropAll(); t.createAll()
  }

  private def counts(): Map[String, Long] =
    Seq("transfer", "request", "storage", "remove")
      .map(t => t -> spark.table(s"$db.$t").count()).toMap

  test("bounded drain routes one batch into the four tables") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    mem.addData(Fixtures.all: _*)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    counts() shouldBe Map(
      "transfer" -> 1L, "request" -> 1L, "storage" -> 2L, "remove" -> 1L)
  }

  test("checkpoint resume: a second drain processes only new data") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val ingest = new BillingIngest(spark, mem.toDF(), db)

    mem.addData(Fixtures.transferJson)
    ingest.runBounded(ckpt)
    counts()("transfer") shouldBe 1L

    mem.addData(Fixtures.transferJson, Fixtures.removeJson)
    ingest.runBounded(ckpt) // same checkpoint → offsets resume, no replay
    counts() shouldBe Map(
      "transfer" -> 2L, "request" -> 0L, "storage" -> 0L, "remove" -> 1L)
  }

  test("malformed and unknown-msgType records are dropped by routing, not fatal") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    mem.addData("not json at all", """{"msgType":"alien"}""", Fixtures.removeJson)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    counts().values.sum shouldBe 1L
  }

  /** One clean run of `Fixtures.all`, per table. */
  private val clean = Map("transfer" -> 1L, "request" -> 1L, "storage" -> 2L, "remove" -> 1L)

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a replayed batch appends each table once, also after a failed insert") {
    freshTables()
    val batch = Fixtures.all.toDF("value")
    val ingest = new BillingIngest(spark, batch, db)
    val ckpt = tmpDir("graft-ckpt")
    new BillingTables(spark, db).drop(Seq("remove"))
    // transfer, request and storage commit; the insert into remove fails
    an[Exception] should be thrownBy ingest.processBatch(ckpt)(batch, 7L)
    new BillingTables(spark, db).createAll()
    ingest.processBatch(ckpt)(batch, 7L) // the replay fills only remove
    counts() shouldBe clean
    ingest.processBatch(ckpt)(batch, 7L) // every table has committed 7
    counts() shouldBe clean
    ingest.processBatch(ckpt)(batch, 8L) // a NEW batch id still appends
    counts() shouldBe clean.map { case (t, n) => t -> 2 * n }
  }

  test("a failed insert is rethrown only after the other inserts have finished") {
    freshTables()
    val copies = 200
    val batch = Seq.fill(copies)(Fixtures.all).flatten.toDF("value")
    new BillingTables(spark, db).drop(Seq("remove"))
    an[Exception] should be thrownBy
      new BillingIngest(spark, batch, db).processBatch(tmpDir("graft-ckpt"))(batch, 0L)
    // read before anything else starts a job: no insert is still running
    spark.sparkContext.statusTracker.getActiveJobIds() shouldBe empty
    new BillingTables(spark, db).createAll()
    counts() shouldBe clean.map { case (t, n) => t -> (if (t == "remove") 0L else copies * n) }
  }

  test("a batch is one exchange, at most six jobs, one file per table and day, and frees its blocks") {
    freshTables()
    // three days, each at 40 times of day spread over all input
    // partitions: only a clustering on the day itself keeps a day in one
    // task (a key with the time in it splits it across tasks)
    val copies = 40
    val batch = (0 until copies).flatMap { i =>
      val at = f"${i % 24}%02d:$i%02d:00.000"
      Fixtures.all.map(_.replaceAll("(\"date\":\"[0-9-]{10}) [0-9:.]+", "$1 " + at))
    }.toDF("value")
    val sc = spark.sparkContext
    // StageInfo.shuffleDepId is private[spark] to Scala, public to the JVM
    val depId = classOf[StageInfo].getMethod("shuffleDepId")
    val shuffles = java.util.concurrent.ConcurrentHashMap.newKeySet[Any]()
    val stages = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        js.stageInfos.foreach(depId.invoke(_).asInstanceOf[Option[Any]].foreach(shuffles.add))
    }
    val persisted = sc.getPersistentRDDs.size
    sc.addSparkListener(stages)
    // AQE would coalesce so small a batch into one task, where any key
    // gives one file per day; keep every shuffle partition
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    // JobCount returns once every event of the body has been delivered
    val (_, jobs) = try JobCount.jobsIn(spark)(
      new BillingIngest(spark, batch, db).processBatch(tmpDir("graft-ckpt"))(batch, 0L))
    finally { sc.removeSparkListener(stages); spark.conf.unset(coalesce) }
    shuffles.size shouldBe 1
    jobs should be <= 6
    sc.getPersistentRDDs.size should be <= persisted
    counts() shouldBe clean.map { case (t, n) => t -> copies * n }
    val warehouse = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db")
    def list(dir: java.nio.file.Path) = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.toList finally st.close()
    }
    val files = for {
      t <- clean.keys.toSeq.sorted
      day <- list(warehouse.resolve(t)).sortBy(_.toString)
      if day.getFileName.toString.startsWith("partition_date=")
    } yield s"$t/${day.getFileName}" -> list(day).map(_.getFileName.toString)
      .count(n => !n.startsWith(".") && !n.startsWith("_"))
    files.map(_._1) shouldBe Seq("remove/partition_date=2024-03-03",
      "request/partition_date=2024-03-01", "storage/partition_date=2024-03-02",
      "transfer/partition_date=2024-03-01")
    all(files.map(_._2)) shouldBe 1
  }

  test("the ledger keeps two markers per table, and a replayed window adds no rows") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = tmpDir("graft-ckpt")
    val ingest = new BillingIngest(spark, mem.toDF(), db)
    for (_ <- 1 to 6) {
      mem.addData(Fixtures.all: _*)
      ingest.runBounded(ckpt) // one window, one batch: ids 0 to 5
    }
    val six = clean.map { case (t, n) => t -> 6 * n }
    counts() shouldBe six
    def markers(t: String) = {
      val dir = java.nio.file.Paths.get(ckpt, "tables", t)
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_commit_")).toSeq.sorted
      finally st.close()
    }
    clean.keys.foreach(t => markers(t) shouldBe Seq("_commit_4", "_commit_5"))
    // a crash after the sink but before Spark's own commit: the restart
    // runs batch 5 again, and every table's ledger skips it
    val commits = java.nio.file.Paths.get(ckpt, "commits")
    Seq("5", ".5.crc").foreach(n => java.nio.file.Files.deleteIfExists(commits.resolve(n)))
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    java.nio.file.Files.exists(commits.resolve("5")) shouldBe true
    counts() shouldBe six
  }

  test("rows land in the partition derived from their own embedded date") {
    freshTables()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // a "late" event: old embedded date still lands in its own (old) day
    val late = Fixtures.transferJson.replace("2024-03-01 12:00:00.000",
      "2019-07-04 08:00:00.000")
    mem.addData(Fixtures.transferJson, late)
    new BillingIngest(spark, mem.toDF(), db).runBounded(ckpt)
    val parts = spark.table(s"$db.transfer")
      .select("partition_date").as[String].collect().sorted
    parts shouldBe Array("2019-07-04", "2024-03-01")
  }
}
