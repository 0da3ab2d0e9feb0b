package graft

/** Runs [[HiveSmoke]] — the metastore-backed billing lifecycle (DDL,
  * streaming ingest, metastore partition registration, compaction,
  * backfill, catalog persistence across a session restart) on a real
  * HiveExternalCatalog over embedded Derby — in a FORKED JVM, because
  * `spark.sql.catalogImplementation` is a static conf the suite's shared
  * in-memory-catalog session has already fixed. The fork inherits this
  * JVM's classpath, so it sees the same build products. */
class HiveCatalogSpec extends SparkSuite {

  test("billing lifecycle runs end-to-end on a Hive metastore catalog") {
    val base = java.nio.file.Files.createTempDirectory("graft-hive-spec").toString
    val (exit, out) = ForkedJvm.run("graft.HiveSmoke", Seq("-Xmx3g"), Seq(base))
    withClue(ForkedJvm.tail(out)) {
      exit shouldBe 0
      out should include("[hive-smoke] PASS")
    }
  }
}
