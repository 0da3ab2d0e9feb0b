package graft.cli

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import graft.ddl.BillingTables
import graft.ingest.BillingIngest
import graft.sources.{BillingSource, KafkaSource, TextFileSource}

/**
 * CLI driver 1: create tables + run one bounded streaming ingest window,
 * mirroring `run_kafka_to_hive.py:31-72` (args at `:7-28`): lock check,
 * DDL, one AvailableNow drain of everything the source holds (in place of
 * the reference's time-boxed ≤ 2 trigger intervals,
 * `Dcache_kafka_to_hive.py:305`), lock release, 0/1 status file.
 *
 * Args (`--key value`):
 *   --database <db>            target database        (default billing)
 *   --checkpoint <dir>         checkpoint location    (default
 *                              <lock-dir>/checkpoint_run_stream, so each
 *                              cron window resumes where the last ended;
 *                              it also holds the per-table replay ledger)
 *   --lock-dir <dir>           lock + status files    (default /tmp)
 *   --source-dir <dir>         JSON-lines dir source (Kafka stand-in)
 *   --kafka-servers <csv>      Kafka bootstrap servers \  used when
 *   --topic-pattern <regex>    subscribePattern       /  no --source-dir
 */
object RunIngest {

  def run(spark: SparkSession, opts: Map[String, String]): Int = {
    val db = opts.getOrElse("database", "billing")
    val lockDir = Paths.get(opts.getOrElse("lock-dir", "/tmp"))
    val status = lockDir.resolve("status_run_stream.txt")
    LockProtocol.withLock(lockDir, status) {
      val source: BillingSource = opts.get("source-dir") match {
        case Some(d) => TextFileSource(d)
        case None => KafkaSource(opts("kafka-servers"), opts("topic-pattern"))
      }
      val tables = new BillingTables(spark, db)
      tables.createDatabase()
      tables.createAll()
      val ckpt = opts.getOrElse("checkpoint",
        lockDir.resolve("checkpoint_run_stream").toString)
      new BillingIngest(spark, source.load(spark), db).runBounded(ckpt)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val spark = graft.Session("graft-ingest")
    val code = try run(spark, opts) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}

private[cli] object Args {
  def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
