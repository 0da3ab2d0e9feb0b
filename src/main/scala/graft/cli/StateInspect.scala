package graft.cli

import org.apache.spark.sql.SparkSession
import scala.util.Try

/**
 * CLI driver 3: offline state-store inspection of a streaming
 * checkpoint — the ops story behind q97 (aggregate state) and q99 (join
 * state) as a standalone tool. At 100 TB the first question about a
 * stuck or oversized streaming job is "what is this checkpoint holding,
 * and how big is it per store?" — and it must be answerable WITHOUT
 * restarting the stream. This reads the checkpoint's operator metadata
 * (`state-metadata` source), then counts each store's logical rows
 * (`statestore` source) and sums its on-disk bytes, one row per
 * (operator, store).
 *
 * Join-internal stores are read through the `joinSide` view Spark
 * exposes (the raw four stores aren't directly readable):
 * `keyToNumValues` holds one row per distinct join key,
 * `keyWithIndexToValue` one row per buffered input row — both counts
 * derive from the side's merged view. Stores that need options this
 * tool doesn't know (e.g. transformWithState column families needing a
 * state variable name) report rows = -1 rather than failing the run —
 * an ops tool must degrade, not die, on a store it can't decode.
 *
 * Usage: runMain graft.cli.StateInspect <checkpointDir>
 */
object StateInspect {

  final case class StoreStat(
      operatorId: Long,
      operatorName: String,
      storeName: String,
      numPartitions: Int,
      rows: Long,      // -1 = store present but not readable with known options
      diskBytes: Long)

  def report(spark: SparkSession, ckpt: String): Seq[StoreStat] = {
    // OFFLINE read: loading a .snapshot file makes the provider report
    // the upload to the StateStoreCoordinator RPC endpoint, which only
    // exists in a session that has RUN a streaming query — exactly what
    // an offline inspection session has not. Disable the lag reporting
    // for this session so a fresh JVM can read any checkpoint.
    spark.conf.set(
      "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag", "false")
    val md = spark.read.format("state-metadata").load(ckpt)
      .select("operatorId", "operatorName", "stateStoreName", "numPartitions")
      .collect()
      .sortBy(r => (r.getLong(0), r.getString(2)))
    md.toSeq.map { r =>
      val (opId, opName) = (r.getLong(0), r.getString(1))
      val (store, nPart) = (r.getString(2), r.getInt(3))
      StoreStat(opId, opName, store, nPart,
        Try(countRows(spark, ckpt, opId, store)).getOrElse(-1L),
        diskBytes(ckpt, opId, store))
    }
  }

  private def countRows(
      spark: SparkSession, ckpt: String, opId: Long, store: String): Long = {
    def base = spark.read.format("statestore")
      .option("operatorId", opId.toString)
    store match {
      case s if s.startsWith("left-") || s.startsWith("right-") =>
        val side = if (s.startsWith("left-")) "left" else "right"
        val view = base.option("joinSide", side).load(ckpt)
        if (s.endsWith("keyToNumValues")) view.select("key").distinct().count()
        else view.count()
      case "default" => base.load(ckpt).count()
      case s => base.option("storeName", s).load(ckpt).count()
    }
  }

  /** On-disk footprint: the store's delta/snapshot files across every
    * partition dir. The default store's files sit flat in the partition
    * dir (named stores nest one level deeper), so the flat walk must not
    * recurse into sibling named-store subdirs. */
  private def diskBytes(ckpt: String, opId: Long, store: String): Long = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val opDir = Paths.get(ckpt, "state", opId.toString)
    if (!Files.isDirectory(opDir)) return 0L
    def size(p: Path): Long = Try(Files.size(p)).getOrElse(0L)
    // Files.list/walk hold an open directory fd until closed
    def withListing[T](open: => java.util.stream.Stream[Path])(f: Iterator[Path] => T): T = {
      val st = open
      try f(st.iterator().asScala) finally st.close()
    }
    withListing(Files.list(opDir)) { parts =>
      parts
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.forall(_.isDigit))
        .map { part =>
          val storeDir = part.resolve(store)
          if (store != "default" && Files.isDirectory(storeDir))
            withListing(Files.walk(storeDir))(
              _.filter(Files.isRegularFile(_)).map(size).sum)
          else
            withListing(Files.list(part))(
              _.filter(Files.isRegularFile(_)).map(size).sum)
        }.sum
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1,
      "usage: StateInspect <checkpointDir>")
    val spark = graft.Session("graft-state-inspect")
    try {
      val stats = report(spark, args(0))
      println(f"${"op"}%-4s ${"operator"}%-24s ${"store"}%-28s ${"parts"}%6s ${"rows"}%10s ${"bytes"}%12s")
      stats.foreach { s =>
        println(f"${s.operatorId}%-4d ${s.operatorName}%-24s ${s.storeName}%-28s ${s.numPartitions}%6d ${s.rows}%10d ${s.diskBytes}%12d")
      }
      println(f"total: ${stats.map(_.diskBytes).sum} bytes across ${stats.size} stores")
    } finally spark.stop()
  }
}
