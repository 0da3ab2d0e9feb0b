package graft.cli

import java.nio.file.{Files, Paths}
import java.time.Duration
import org.apache.spark.sql.SparkSession
import graft.ddl.BillingTables
import graft.ingest.BillingIngest
import graft.sources.{BillingSource, KafkaSource, TextFileSource}

/**
 * CLI driver 1: create tables + run one bounded streaming ingest window,
 * mirroring `run_kafka_to_hive.py:31-72` (args at `:7-28`): lock check,
 * DDL, time-boxed stream (≤ 2 trigger intervals — docstring
 * `Dcache_kafka_to_hive.py:305`), lock release, 0/1 status file.
 *
 * Args (`--key value`):
 *   --database <db>            target database        (default billing)
 *   --checkpoint <dir>         checkpoint location    (default temp dir)
 *   --lock-dir <dir>           lock + status files    (default /tmp)
 *   --trigger-s <n>            micro-batch seconds; omit → AvailableNow
 *                              drain (modern idiom for the cron window)
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
      val ingest = new BillingIngest(spark, source.load(spark), db)
      val ckpt = opts.getOrElse("checkpoint",
        Files.createTempDirectory("graft-ingest-ckpt").toString)
      opts.get("trigger-s") match {
        case Some(s) =>
          // reference parity: stream for at most two trigger intervals
          val q = ingest.start(ckpt, Duration.ofSeconds(s.toLong))
          q.awaitTermination(2 * s.toLong * 1000)
          q.stop()
        case None => ingest.runBounded(ckpt)
      }
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
