package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamUpsert

/** The upsert-maintained result table must equal the one-shot batch
  * aggregate regardless of how the stream is cut into micro-batches, and
  * must actually see more than one batch (otherwise the merge path is
  * untested). */
class StreamUpsertSpec extends SparkSuite {

  test("multi-batch upsert merge equals the one-shot aggregate") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("upsert-src").toString
    // 3 files -> 3 micro-batches with maxFilesPerTrigger=1; keys overlap
    // across files so every batch exercises the merge, not just the insert
    Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq(("a", 10L), ("c", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    Seq(("b", 7L), ("c", 1L), ("a", 2L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)

    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val tablePath =
      java.nio.file.Files.createTempDirectory("upsert-table").toString + "/t"

    var batches = 0L
    StreamUpsert.run(
      stream,
      b => b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sum_v")),
      Seq("k"), Seq("n", "sum_v"), tablePath,
      onBatch = _ => batches += 1)

    batches shouldBe 3L
    val got = StreamUpsert.readTable(spark, tablePath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe Set(("a", 4L, 16L), ("b", 2L, 9L), ("c", 2L, 6L))
  }

  test("a replayed batch id is a no-op: exactly-once under foreachBatch retries") {
    import spark.implicits._
    val tablePath =
      java.nio.file.Files.createTempDirectory("upsert-retry").toString + "/t"
    val part = (b: org.apache.spark.sql.DataFrame) =>
      b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    def apply(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamUpsert.applyBatch(batch, id, part, Seq("k"), Seq("n", "sum_v"), tablePath)

    apply(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L)
    apply(Seq(("a", 10L)).toDF("k", "v"), 1L)
    // foreachBatch is at-least-once: batch 1 arrives again after a "crash"
    apply(Seq(("a", 10L)).toDF("k", "v"), 1L)
    StreamUpsert.committedBatch(spark, tablePath) shouldBe 1L
    val got = StreamUpsert.readTable(spark, tablePath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a double-applied batch 1 would give ("a", 3, 21)
    got shouldBe Set(("a", 2L, 11L), ("b", 1L, 2L))
  }

  test("a crash mid-commit never loses the previous commit record") {
    import spark.implicits._
    val tablePath =
      java.nio.file.Files.createTempDirectory("upsert-crash").toString + "/t"
    val part = (b: org.apache.spark.sql.DataFrame) =>
      b.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
    def apply(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamUpsert.applyBatch(batch, id, part, Seq("k"), Seq("n", "sum_v"), tablePath)

    apply(Seq(("a", 1L)).toDF("k", "v"), 0L)
    // simulate a crash AFTER batch 1's snapshot write but BEFORE its
    // commit marker: an uncommitted v1 dir appears on disk
    Seq(("garbage", 99L, 99L)).toDF("k", "n", "sum_v")
      .write.mode("overwrite").parquet(s"$tablePath/v1")
    // recovery must still see batch 0 committed (the old delete-then-
    // rename pointer scheme could return -1 here and rebuild from empty)
    StreamUpsert.committedBatch(spark, tablePath) shouldBe 0L
    StreamUpsert.readTable(spark, tablePath)
      .collect().map(_.getString(0)).toSet shouldBe Set("a")
    // the redelivered batch overwrites the uncommitted snapshot and commits
    apply(Seq(("a", 10L), ("b", 2L)).toDF("k", "v"), 1L)
    StreamUpsert.committedBatch(spark, tablePath) shouldBe 1L
    val got = StreamUpsert.readTable(spark, tablePath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe Set(("a", 2L, 11L), ("b", 1L, 2L))
    // vacuum retains ONE superseded version (v0) while v1 is current — a
    // concurrent reader that resolved v0 just before the commit can finish
    // its scan (readTable's resolve-then-read is not atomic)
    val namesAfter1 = new java.io.File(tablePath).list().toSet
    namesAfter1 should contain("_commit_1")
    namesAfter1 should contain("_commit_0")
    namesAfter1 should contain("v0")
    // one more commit pushes v0 past the retention horizon: now vacuumed,
    // while v1 (the newly superseded version) is retained
    apply(Seq(("c", 3L)).toDF("k", "v"), 2L)
    val namesAfter2 = new java.io.File(tablePath).list().toSet
    namesAfter2 should contain("_commit_2")
    namesAfter2 should contain("v1")
    namesAfter2 should not contain "_commit_0"
    namesAfter2 should not contain "v0"
  }
}
