package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Streaming keyed MERGE against a BUCKETED state table — the
 * `foreachBatch` + `MERGE`-shape upsert that generalizes
 * [[StreamUpsert]]'s additive ledger to arbitrary per-key update rules
 * (`WHEN MATCHED THEN UPDATE` with non-additive fields such as
 * last-write-wins latest-state, `WHEN NOT MATCHED THEN INSERT`, plus an
 * optional tombstone-driven delete branch — the streaming analogue of
 * `WHEN NOT MATCHED BY SOURCE THEN DELETE`): each micro-batch is reduced
 * to one row per key, then merged with the current state via a
 * caller-supplied rule over a key-aligned full-outer join; keys the
 * batch tombstones have their prior state wiped before the merge.
 *
 * The state table is stored as versioned BUCKETED catalog tables
 * (`<table>_v<batchId>` bucketed by the merge key). That is the scale
 * property this module exists for: the per-batch merge join reads the
 * |keys|-sized state with NO Exchange — the bucket files are the shuffle,
 * paid once per snapshot write — so each batch's merge cost is
 * O(|batch| shuffle) + a co-partitioned join, never a re-shuffle of the
 * state (`KeyedMergeSpec` pins that plan shape; q88/`BucketingSpec` pin
 * the generic bucketed join it relies on). At 100 TB the snapshot rewrite
 * would additionally prune to the buckets the batch touches; here every
 * version is a full (small, |keys|-bounded) table.
 *
 * Exactly-once under `foreachBatch`'s at-least-once retries: the same
 * two-phase commit as [[StreamUpsert]], through the one [[CommitLog]]
 * (versioned snapshots + `_commit_<batchId>` markers renamed atomically to
 * fresh names, replayed batch ids ≤ the committed id skipped, superseded
 * versions vacuumed only after the newer marker exists,
 * immediately-superseded version retained for concurrent readers); only
 * the snapshot payload differs (bucketed catalog table vs plain parquet).
 */
object KeyedMerge {

  /** The committed batch id (max `_commit_<id>` marker), or -1. */
  def committedBatch(spark: SparkSession, tablePath: String): Long =
    CommitLog.committed(spark, tablePath)

  private def versionTable(qualifiedTable: String, batchId: Long): String =
    s"${qualifiedTable}_v$batchId"

  /** All commit markers present, ascending. The retention policy keeps
    * exactly the last two after steady state (current + the
    * immediately-superseded version a concurrent reader may still be
    * scanning) — which is also what snapshot-diff CDC needs (q113). */
  def commits(spark: SparkSession, tablePath: String): Seq[Long] =
    CommitLog.commits(spark, tablePath)

  /** A specific retained version as its BUCKETED catalog table. */
  def readVersion(spark: SparkSession, qualifiedTable: String,
      version: Long): DataFrame =
    spark.table(versionTable(qualifiedTable, version))

  /** The current committed state as the BUCKETED catalog table (merge
    * joins against this scan are Exchange-free on the state side). */
  def readTable(spark: SparkSession, qualifiedTable: String,
      tablePath: String): DataFrame = {
    val v = committedBatch(spark, tablePath)
    require(v >= 0, s"no committed version at $tablePath")
    readVersion(spark, qualifiedTable, v)
  }

  /** Runs `stream` to completion ([[drain]]), merging each micro-batch
    * into the state table; returns once the query has stopped.
    * @param stream         streaming DataFrame (micro-batched by source)
    * @param reduceBatch    reduces one micro-batch to ONE row per key
    * @param merge          MERGE rule: (state, batchReduced) → new state;
    *                       both sides carry `keyCol`, the result must too.
    *                       Called only when a committed state exists — the
    *                       first batch inserts `reduceBatch` wholesale.
    * @param qualifiedTable catalog-qualified state table base name
    *                       (versions append `_v<batchId>`)
    * @param tablePath      root dir for snapshot data + commit markers
    * @param keyCol         the merge/bucket key
    * @param buckets        bucket count of every state snapshot
    * @param deleteKeys     optional MERGE delete branch (the streaming
    *                       analogue of WHEN NOT MATCHED BY SOURCE
    *                       DELETE, driven by tombstone records): given
    *                       the raw micro-batch, returns the keys whose
    *                       PRIOR state this batch deletes. The anti join
    *                       runs BEFORE the merge rule, so a tombstoned
    *                       key's history is wiped and the same batch's
    *                       surviving rows (callers wanting pure deletes
    *                       exclude tombstone records in `reduceBatch`)
    *                       re-seed it from zero; a key with no surviving
    *                       rows ends the batch absent until a later
    *                       batch re-inserts it. Ordering the delete
    *                       before the merge is the scale property: the
    *                       bucketed state scan's partitioning flows
    *                       through the LeftAnti join into the merge
    *                       join, so the whole chain stays Exchange-free
    *                       on the state side and only the
    *                       |tombstones|-sized key set shuffles
    *                       (`KeyedMergeSpec` pins that plan; a
    *                       post-merge anti join would re-shuffle the
    *                       state — full-outer join output partitioning
    *                       is unknown).
    * @param checkpointLocation durable stream checkpoint. The replay
    *                       no-op guard keys on BATCH IDS, and batch ids
    *                       live in the stream checkpoint: without a
    *                       durable one, a second `run` against an
    *                       existing `tablePath` restarts ids at 0, so
    *                       early batches are wrongly skipped as replays
    *                       and later ones re-merge applied data. The
    *                       checkpoint and `tablePath` are therefore one
    *                       unit: create and destroy them together.
    *                       `None` (fresh Spark-managed temp checkpoint)
    *                       is sound ONLY for a single `run` against a
    *                       fresh `tablePath` (bench/test usage). */
  def run(
      stream: DataFrame,
      reduceBatch: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      qualifiedTable: String,
      tablePath: String,
      keyCol: String,
      buckets: Int = 8,
      onBatch: Long => Unit = _ => (),
      deleteKeys: Option[DataFrame => DataFrame] = None,
      checkpointLocation: Option[String] = None): Unit = {
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, reduceBatch, merge, qualifiedTable,
          tablePath, keyCol, buckets, onBatch, deleteKeys)
      }
    checkpointLocation.foreach(writer.option("checkpointLocation", _))
    drain(writer)
  }

  /** One merge-and-commit step; public so the retry contract is directly
    * testable (same batchId twice ⇒ the second call is a no-op). */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      reduceBatch: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      qualifiedTable: String,
      tablePath: String,
      keyCol: String,
      buckets: Int,
      onBatch: Long => Unit = _ => (),
      deleteKeys: Option[DataFrame => DataFrame] = None): Unit = {
    val ss = batch.sparkSession
    val committed = committedBatch(ss, tablePath)
    if (batchId <= committed) return // replayed batch — already applied
    onBatch(batchId)
    val reduced = reduceBatch(batch)
    // MERGE delete branch: tombstoned keys are wiped from the PRIOR
    // state before the merge rule runs (see the run() scaladoc for the
    // semantics and why pre-merge keeps the state side Exchange-free)
    val state =
      if (committed < 0) None
      else {
        val cur = readTable(ss, qualifiedTable, tablePath)
        Some(deleteKeys.fold(cur) { dk =>
          import org.apache.spark.sql.functions.col
          cur.join(dk(batch).select(col(keyCol)).distinct(),
            Seq(keyCol), "left_anti")
        })
      }
    val merged = state.fold(reduced)(st => merge(st, reduced))
    // materialize BEFORE writing: the merge plan reads the previous
    // snapshot, and the new snapshot write must not race that read
    val out = merged.localCheckpoint()
    // overwrite, not error-if-exists: a crash AFTER this write but BEFORE
    // the marker rename leaves an uncommitted (invisible) catalog table +
    // data dir behind; the redelivered batch must be able to rewrite it
    // (KeyedMergeSpec pins that crash window)
    out.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .option("path", s"$tablePath/v$batchId")
      .saveAsTable(versionTable(qualifiedTable, batchId))
    // two-phase commit ([[CommitLog]]): the marker lands after the
    // snapshot; then strictly-older-than-superseded versions go (catalog
    // entry + marker + data dir), the immediately-superseded one retained
    // for concurrent readers mid-scan
    CommitLog.commit(ss, tablePath, batchId)
    CommitLog.vacuum(ss, tablePath, keep = committed, onVersion = v =>
      ss.sql(s"DROP TABLE IF EXISTS ${versionTable(qualifiedTable, v)}"))
  }
}
