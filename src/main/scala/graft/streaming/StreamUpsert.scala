package graft.streaming

import org.apache.hadoop.fs.Path
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
 * versioned snapshot dirs (`v<batchId>/`) with per-version
 * `_commit_<batchId>` marker files, each committed by ATOMIC RENAME to a
 * FRESH name after its snapshot write — the committed version is the max
 * marker. A marker is never deleted-then-replaced (a single mutable
 * pointer would have a crash window between delete and rename that
 * leaves NO commit record, silently resetting the table to empty);
 * superseded markers are vacuumed only after the newer marker exists.
 * Batch ids are monotonic, so the max marker doubles as the replay
 * ledger: a re-delivered batch id ≤ the committed id is skipped; a crash
 * between snapshot write and marker rename simply rewrites the
 * (uncommitted, invisible) snapshot on retry. This is the two-phase
 * commit at the heart of every table format's exactly-once sink (the
 * marker-per-version layout is exactly a table format's log).
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

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val MarkerPrefix = "_commit_"

  /** The committed batch id (max `_commit_<id>` marker), or -1 before the
    * first commit. One directory listing — O(retained versions). */
  def committedBatch(spark: SparkSession, tablePath: String): Long = {
    val root = new Path(tablePath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) -1L
    else fs.listStatus(root).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(MarkerPrefix) =>
        n.stripPrefix(MarkerPrefix).toLong }
      .foldLeft(-1L)(math.max)
  }

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
    // two-phase commit: snapshot first, then the marker via atomic rename
    // to a FRESH name (batch ids are monotonic, so `_commit_<batchId>`
    // cannot exist yet) — no delete of any existing commit record at any
    // point, so a crash anywhere leaves the previous version committed
    val fs = fsOf(ss, new Path(tablePath))
    val tmp = new Path(tablePath, s".tmp$MarkerPrefix$batchId")
    fs.create(tmp, true).close() // the marker NAME carries the id
    val marker = new Path(tablePath, s"$MarkerPrefix$batchId")
    if (!fs.rename(tmp, marker))
      sys.error(s"could not commit marker for batch $batchId")
    // vacuum superseded markers + snapshots, best effort, only AFTER the
    // new marker exists (the newest commit record is never touched).
    // RETENTION: the immediately-superseded version (the max id < batchId)
    // is kept — a concurrent reader that resolved `committedBatch` just
    // before this commit may still be scanning it (readTable's
    // resolve-then-read is not atomic); deleting it synchronously would
    // FileNotFoundException that reader mid-scan. Older-than-one versions
    // are only reachable by a reader stalled across TWO commits — the
    // production note in the class doc (async vacuum with a time-based
    // retention horizon) covers that case.
    val keep = committed // max id < batchId, -1 on first commit
    val tmpPrefix = s".tmp$MarkerPrefix"
    fs.listStatus(new Path(tablePath)).foreach { st =>
      val n = st.getPath.getName
      val superseded =
        (n.startsWith(MarkerPrefix) && n.stripPrefix(MarkerPrefix).toLong < keep) ||
          (n.length > 1 && n.head == 'v' && n.tail.forall(_.isDigit) &&
            n.tail.toLong < keep) ||
          // stale `.tmp_commit_<id>` orphaned by a crash between create()
          // and rename() whose batch was never redelivered
          (n.startsWith(tmpPrefix) &&
            n.stripPrefix(tmpPrefix).forall(_.isDigit) &&
            n.stripPrefix(tmpPrefix).toLong < keep)
      // NonFatal, not just IOException: object-store/Hadoop clients surface
      // RuntimeExceptions too, and a post-commit cleanup failure must never
      // kill the streaming query (the commit already succeeded)
      if (superseded)
        try fs.delete(st.getPath, true)
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
