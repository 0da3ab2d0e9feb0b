package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.compact.Compactor
import graft.ddl.BillingTables
import graft.ingest.{BillingBackfill, BillingIngest}

/** Metastore-backed deployment smoke (forked by `HiveCatalogSpec`): the
  * reference runs `enableHiveSupport()` against a metastore
  * (`Dcache_kafka_to_hive.py:43`); this drives the SAME billing lifecycle —
  * DDL → streaming ingest → metastore partition listing → compaction →
  * backfill → catalog persistence across a session restart — on a real
  * HiveExternalCatalog over an embedded Derby metastore. Runs in its own
  * JVM because `spark.sql.catalogImplementation` is a static conf the
  * shared in-memory test session has already fixed. Exits nonzero on any
  * failed check; prints one `[hive-smoke] PASS` line on success. */
object HiveSmoke {

  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"[hive-smoke] FAIL: $what"); sys.exit(1) }

  private def session(base: String): SparkSession = Session("graft-hive-smoke",
    "spark.sql.catalogImplementation" -> "hive",
    "spark.sql.warehouse.dir" -> s"$base/warehouse",
    "javax.jdo.option.ConnectionURL" ->
      s"jdbc:derby:;databaseName=$base/metastore_db;create=true")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-hive").toString)
    System.setProperty("derby.system.home", base)
    val db = "hivesmoke"

    val spark = session(base)
    spark.sparkContext.setLogLevel("WARN")
    check(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "session is not hive-catalog-backed")

    // 1. DDL against the real HiveExternalCatalog
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    check(tables.list().sorted == Seq("remove", "request", "storage", "transfer"),
      s"table listing: ${tables.list().sorted}")

    // 2. the live streaming ingest path into metastore-backed tables
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    mem.addData(Fixtures.all: _*)
    new BillingIngest(spark, mem.toDF(), db)
      .runBounded(s"$base/ckpt")
    def count(t: String) = spark.table(s"$db.$t").count()
    check(count("transfer") == 1 && count("request") == 1 &&
      count("storage") == 2 && count("remove") == 1,
      "post-ingest counts")

    // 3. dynamic-partition appends REGISTERED in the metastore
    val compactor = new Compactor(spark, db)
    check(compactor.partitionsOf("storage") == Seq("2024-03-02"),
      s"storage partitions: ${compactor.partitionsOf("storage")}")
    check(compactor.partitionsOf("transfer") == Seq("2024-03-01"),
      s"transfer partitions: ${compactor.partitionsOf("transfer")}")

    // 4. compaction's atomic dynamic overwrite against hive-catalog tables
    compactor.compact(Seq("transfer"), None)
    check(count("transfer") == 1, "post-compaction count")
    check(compactor.partitionsOf("transfer") == Seq("2024-03-01"),
      "post-compaction partitions")

    // 5. backfill's static per-day partition overwrite
    val raw = Seq(Fixtures.transferJson, Fixtures.transferJson).toDF("value")
    new BillingBackfill(spark, db).backfill(raw, Seq("2024-03-01"))
    check(count("transfer") == 2, "post-backfill count")

    // 6. catalog persistence: a fresh session over the same Derby
    // metastore still sees the tables, partitions, and rows
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val spark2 = session(base)
    spark2.sparkContext.setLogLevel("WARN")
    check(new BillingTables(spark2, db).list().sorted ==
      Seq("remove", "request", "storage", "transfer"),
      "tables lost across session restart")
    check(spark2.table(s"$db.transfer").count() == 2,
      "rows lost across session restart")
    check(new Compactor(spark2, db).partitionsOf("transfer") == Seq("2024-03-01"),
      "partitions lost across session restart")
    spark2.stop()

    println("[hive-smoke] PASS")
  }
}
