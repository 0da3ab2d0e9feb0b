package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming UPSERT-maintained aggregate table — the `foreachBatch` merge
 * pattern every production pipeline uses to keep a queryable result table
 * current while a stream runs: each micro-batch is reduced to per-key
 * PARTIAL measures, and the partials merge additively into the stored
 * table (read current version → union → re-aggregate → commit).
 *
 * Correctness contract: measures must be ADDITIVE (counts, exact DECIMAL
 * sums) so merge order and batch boundaries cannot change the final
 * table — that is what makes the drained result equal the one-shot batch
 * aggregate, which is how the operator is verified.
 *
 * Exactly-once under retries: `foreachBatch` is at-least-once — a batch
 * can be re-delivered after a crash. The table is therefore maintained as
 * versioned snapshot dirs (`v<batchId>/`) under a [[CommitLog]] of
 * per-version `_commit_<batchId>` markers: a re-delivered batch id ≤ the
 * committed id is skipped, and a crash between snapshot write and marker
 * rename simply rewrites the (uncommitted, invisible) snapshot on retry.
 * This is the two-phase commit at the heart of every table format's
 * exactly-once sink (the marker-per-version layout is exactly a table
 * format's log).
 *
 * Scale notes (100 TB): the stored table is |keys|-sized (bounded by the
 * key domain, not the stream), so the merge join is table-vs-partials
 * small; in production the snapshot write would be a dynamic-partition
 * overwrite touching only the key partitions present in the batch, and
 * old versions would be vacuumed asynchronously with a time-based
 * retention horizon (here: the immediately-superseded version is always
 * retained so concurrent readers of the last-committed snapshot never
 * lose files mid-scan). `localCheckpoint`
 * materializes the merge before writing — the merge plan reads the
 * previous snapshot and Spark refuses self-overwriting plans.
 */
object StreamUpsert {

  /** The committed batch id (max `_commit_<id>` marker), or -1 before the
    * first commit. One directory listing — O(retained versions). */
  def committedBatch(spark: SparkSession, tablePath: String): Long =
    CommitLog.committed(spark, tablePath)

  /** Read the current committed snapshot of the maintained table. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame = {
    val v = committedBatch(spark, tablePath)
    require(v >= 0, s"no committed version at $tablePath")
    spark.read.parquet(s"$tablePath/v$v")
  }

  /** Runs `stream` to completion ([[drain]]), merging each micro-batch
    * into the table at `tablePath`; returns once the query has stopped.
    * @param stream      streaming DataFrame (micro-batched by the source)
    * @param partials    reduces one batch to per-key partial measures
    * @param keyCols     grouping key columns of the partials
    * @param measureCols additive measure columns of the partials
    * @param tablePath   root dir of the versioned result table
    * @param onBatch     test hook, called with each batch id */
  def run(
      stream: DataFrame,
      partials: DataFrame => DataFrame,
      keyCols: Seq[String],
      measureCols: Seq[String],
      tablePath: String,
      onBatch: Long => Unit = _ => ()): Unit =
    drain(stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, partials, keyCols, measureCols, tablePath,
          onBatch)
      })

  /** One merge-and-commit step; public so the retry contract is directly
    * testable (calling it twice with the same batchId must be a no-op the
    * second time). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      partials: DataFrame => DataFrame,
      keyCols: Seq[String],
      measureCols: Seq[String],
      tablePath: String,
      onBatch: Long => Unit = _ => ()): Unit = {
    val ss = batch.sparkSession
    val committed = committedBatch(ss, tablePath)
    if (batchId <= committed) return // replayed batch — already applied
    onBatch(batchId)
    val part = partials(batch)
    val cur = if (committed >= 0) Some(readTable(ss, tablePath)) else None
    val merged = cur.fold(part)(_.unionByName(part))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col(measureCols.head)).as(measureCols.head),
        measureCols.tail.map(m => sum(col(m)).as(m)): _*)
      .localCheckpoint()
    merged.write.mode("overwrite").parquet(s"$tablePath/v$batchId")
    // two-phase commit: snapshot first, then the marker ([[CommitLog]]);
    // superseded versions are vacuumed only after the new marker exists
    CommitLog.commit(ss, tablePath, batchId)
    CommitLog.vacuum(ss, tablePath, keep = committed)
  }
}
