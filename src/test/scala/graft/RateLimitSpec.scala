package graft

import java.nio.file.Files
import graft.sources.{KafkaSource, TextFileSource}

/** Source backpressure: a rate-capped bounded drain splits into several
  * micro-batches instead of one giant one. */
class RateLimitSpec extends SparkSuite {

  test("maxFilesPerTrigger=1 drains N files as N micro-batches") {
    val dir = Files.createTempDirectory("graft-ratelimit")
    (1 to 3).foreach { i =>
      Files.writeString(dir.resolve(s"part$i.jsonl"), s"""{"n":$i}\n""")
    }
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    var rows = 0L
    graft.streaming.drain(TextFileSource(dir.toString, maxFilesPerTrigger = Some(1))
      .load(spark)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add(id); rows += df.count()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ratelimit-ckpt").toString))
    batches.size shouldBe 3
    rows shouldBe 3L
  }

  test("uncapped drain processes everything in one micro-batch") {
    val dir = Files.createTempDirectory("graft-ratelimit2")
    (1 to 3).foreach { i =>
      Files.writeString(dir.resolve(s"part$i.jsonl"), s"""{"n":$i}\n""")
    }
    val batches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    graft.streaming.drain(TextFileSource(dir.toString)
      .load(spark)
      .writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.add(id); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ratelimit2-ckpt").toString))
    batches.size shouldBe 1
  }

  test("KafkaSource carries the offset cap option") {
    // construction is cheap; load() needs the Kafka connector, absent here
    val s = KafkaSource("broker:9092", "billing-.*", maxOffsetsPerTrigger = Some(50000L))
    s.maxOffsetsPerTrigger shouldBe Some(50000L)
    s.options("maxOffsetsPerTrigger") shouldBe "50000"
  }

  test("KafkaSource option map equals the reference's scan options exactly") {
    // the contract with Dcache_kafka_to_hive.py:293-301 — option NAMES
    // are stringly-typed and silently ignored when misspelled, so this
    // pins each one; defaults must replay the reference's literal values
    KafkaSource("broker:9092", "billing-.*").options shouldBe Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribePattern" -> "billing-.*",
      "includeHeaders" -> "true",
      "failOnDataLoss" -> "false")
  }
}
