package graft.cli

import java.nio.file.Paths
import java.time.{LocalDate, ZoneOffset}
import org.apache.spark.sql.SparkSession
import graft.compact.Compactor

/**
 * CLI driver 2: compact day-partitions, mirroring
 * `run_compact_tables.py:34-92` (args at `:9-31`): partition resolution
 * (`yesterday` → today-1d, `all` → every partition per table, else a CSV
 * list), the shared `run_stream.lock` (serializes against the ingest
 * driver), and the 0/1 `status_run_compact.txt` protocol.
 *
 * Args (`--key value`):
 *   --database <db>          target database      (default billing)
 *   --partition <spec>       yesterday | all | CSV dates (default yesterday)
 *   --lock-dir <dir>         lock + status files  (default /tmp)
 *   --target-file-bytes <n>  compaction file size (default 1 GiB)
 */
object RunCompact {

  /** `yesterday` / `all` / CSV → Option[Seq[partition]] (None = all),
    * computed per `run_compact_tables.py:47-57`. */
  def resolvePartitions(spec: String, today: LocalDate): Option[Seq[String]] =
    spec match {
      case "yesterday" => Some(Seq(today.minusDays(1).toString))
      case "all" => None
      case csv => Some(csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }

  def run(spark: SparkSession, opts: Map[String, String]): Int = {
    val db = opts.getOrElse("database", "billing")
    val lockDir = Paths.get(opts.getOrElse("lock-dir", "/tmp"))
    val status = lockDir.resolve("status_run_compact.txt")
    LockProtocol.withLock(lockDir, status) {
      val partitions = resolvePartitions(
        opts.getOrElse("partition", "yesterday"),
        LocalDate.now(ZoneOffset.UTC))
      val targetBytes = opts.get("target-file-bytes").map(_.toLong)
        .getOrElse(1L << 30)
      new Compactor(spark, db, targetBytes).compact(partitions = partitions)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val spark = graft.Session("graft-compact")
    val code = try run(spark, opts) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
