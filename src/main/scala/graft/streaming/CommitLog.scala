package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * The commit log of a versioned `foreachBatch` sink ([[StreamUpsert]],
 * [[KeyedMerge]]): under the table root, snapshot dirs `v<batchId>/` and
 * one `_commit_<batchId>` marker per committed version. A marker is
 * written by ATOMIC RENAME of a fresh `.tmp_commit_<batchId>` file after
 * its snapshot has landed, so the committed version is the max marker. A
 * marker is never deleted-then-replaced (a single mutable pointer would
 * have a crash window between delete and rename that leaves NO commit
 * record, silently resetting the table to empty); superseded versions are
 * vacuumed only after the newer marker exists. Batch ids are monotonic,
 * so the max marker doubles as the replay ledger: a re-delivered batch id
 * ≤ the committed id is skipped. `graft.ingest.BillingIngest` keeps one
 * such log per billing table as its replay ledger (markers only, no
 * snapshot dirs).
 */
private[graft] object CommitLog {

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val MarkerPrefix = "_commit_"
  private val TmpPrefix = s".tmp$MarkerPrefix"

  /** The committed batch ids (one `_commit_<id>` marker each), ascending.
    * One directory listing — O(retained versions). */
  def commits(spark: SparkSession, tablePath: String): Seq[Long] = {
    val root = new Path(tablePath)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(MarkerPrefix) =>
        n.stripPrefix(MarkerPrefix).toLong }
      .toSeq.sorted
  }

  /** The committed batch id (the max marker), or -1 before the first commit. */
  def committed(spark: SparkSession, tablePath: String): Long =
    commits(spark, tablePath).lastOption.getOrElse(-1L)

  /** Commits `batchId`, whose snapshot has been written: the marker is
    * created under a temp name and renamed to a FRESH name (batch ids are
    * monotonic, so `_commit_<batchId>` cannot exist yet) — no commit
    * record is deleted at any point, so a crash anywhere leaves the
    * previous version committed. */
  def commit(spark: SparkSession, tablePath: String, batchId: Long): Unit = {
    val fs = fsOf(spark, new Path(tablePath))
    val tmp = new Path(tablePath, s"$TmpPrefix$batchId")
    fs.create(tmp, true).close() // the marker NAME carries the id
    if (!fs.rename(tmp, new Path(tablePath, s"$MarkerPrefix$batchId")))
      sys.error(s"could not commit marker for batch $batchId")
  }

  /** Best-effort removal of everything older than `keep`, the version the
    * latest commit superseded (-1 on the first commit): markers,
    * `v<id>` snapshot dirs (after `onVersion(id)`), and `.tmp_commit_<id>`
    * files orphaned by a crash between create and rename whose batch was
    * never redelivered (a redelivered batch consumes its own).
    *
    * RETENTION: version `keep` itself stays — a concurrent reader that
    * resolved the committed id just before the latest commit may still be
    * scanning it (resolve-then-read is not atomic), and deleting it would
    * fail that reader mid-scan. Older versions are only reachable by a
    * reader stalled across TWO commits; in production an async vacuum
    * with a time-based retention horizon covers that case. Failures are
    * swallowed (NonFatal, not just IOException: object-store clients
    * surface RuntimeExceptions too): the commit already succeeded, and a
    * cleanup failure must never kill the streaming query. */
  def vacuum(spark: SparkSession, tablePath: String, keep: Long,
      onVersion: Long => Unit = _ => ()): Unit = {
    val fs = fsOf(spark, new Path(tablePath))
    def idAfter(n: String, prefix: String): Option[Long] =
      if (n.startsWith(prefix) && n.length > prefix.length &&
          n.drop(prefix.length).forall(_.isDigit)) Some(n.drop(prefix.length).toLong)
      else None
    fs.listStatus(new Path(tablePath)).foreach { st =>
      val n = st.getPath.getName
      val version = idAfter(n, "v").filter(_ < keep)
      val old = version.isDefined ||
        idAfter(n, MarkerPrefix).exists(_ < keep) || idAfter(n, TmpPrefix).exists(_ < keep)
      if (old) try {
        version.foreach(onVersion)
        fs.delete(st.getPath, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
