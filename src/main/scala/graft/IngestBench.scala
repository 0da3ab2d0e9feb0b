package graft

import java.nio.file.Files
import graft.ddl.BillingTables
import graft.ingest.BillingIngest
import graft.sources.TextFileSource

/**
 * Ingest throughput benchmark: N deterministic billing-event JSON records
 * (5 msgTypes, 30 day-partitions) drained through the full streaming
 * pipeline — parse (29-field JSON), route (4 tables), day-partitioned
 * parquet append — in one AvailableNow window. Prints one JSON line with
 * rows/s. Usage: runMain graft.IngestBench [nRecords]
 */
object IngestBench {

  private def record(i: Int): String = {
    val day = f"2024-03-${i % 30 + 1}%02d"
    val date = f"$day ${i % 24}%02d:${i % 60}%02d:${i % 60}%02d.000"
    val pnfsid = f"00${i}%08X"
    i % 5 match {
      case 0 =>
        s"""{"date":"$date","msgType":"transfer","cellName":"pool_${i % 7}","session":"s$i","subject":"dn=u${i % 100}","initiator":"door_${i % 3}","transferPath":"/data/f$i","queuingTime":${i % 500},"cellDomain":"dom_${i % 4}","isP2p":${i % 2 == 0},"transferTime":${i % 1000}.5,"storageInfo":"tape@osm","transferSize":${i % 100000},"localEndpoint":"ep${i % 9}","protocolInfo":{"protocol":"dcap","port":${20000 + i % 5000},"host":"h${i % 50}.example"},"cellType":"pool","fileSize":${i % 1000000},"pnfsid":"$pnfsid","billingPath":"/b/f$i","isWrite":"${if (i % 2 == 0) "write" else "read"}","status":{"msg":"ok","code":0}}"""
      case 1 =>
        s"""{"date":"$date","msgType":"request","owner":"u${i % 100}","clientChain":"c${i % 10}","mappedGID":${1000 + i % 50},"cellName":"door_${i % 3}","session":"s$i","subject":"dn=u${i % 100}","transferPath":"/data/f$i","sessionDuration":${i % 300},"storageInfo":"disk","cellType":"door","fileSize":${i % 1000000},"mappedUID":${500 + i % 50},"queuingTime":${i % 100},"cellDomain":"dom_${i % 4}","client":"10.0.${i % 256}.${i % 200}","pnfsid":"$pnfsid","billingPath":"/b/f$i","status":{"msg":"done","code":0}}"""
      case 2 =>
        s"""{"date":"$date","msgType":"store","transferTime":${i % 100}.25,"cellName":"pool_${i % 7}","session":"s$i","storageInfo":"osm:tape","cellType":"pool","fileSize":${i % 1000000},"queuingTime":${i % 60},"cellDomain":"dom_${i % 4}","locations":"osm://tape/${i % 8}","pnfsid":"$pnfsid","transaction":"t$i","billingPath":"/b/f$i","status":{"msg":"flushed","code":0}}"""
      case 3 =>
        s"""{"date":"$date","msgType":"restore","transferTime":${i % 100}.75,"cellName":"pool_${i % 7}","session":"s$i","storageInfo":"osm:tape","cellType":"pool","fileSize":${i % 1000000},"queuingTime":${i % 60},"cellDomain":"dom_${i % 4}","locations":"osm://tape/${i % 8}","pnfsid":"$pnfsid","transaction":"t$i","billingPath":"/b/f$i","status":{"msg":"staged","code":0}}"""
      case _ =>
        s"""{"date":"$date","msgType":"remove","owner":"u${i % 100}","clientChain":"c${i % 10}","mappedGID":${2000 + i % 50},"cellName":"cleaner","session":"s$i","subject":"dn=u${i % 100}","transferPath":"/data/f$i","sessionDuration":${i % 10},"cellType":"cleaner","fileSize":${i % 1000},"mappedUID":${500 + i % 50},"queuingTime":${i % 5},"cellDomain":"dom_${i % 4}","client":"10.0.${i % 256}.${i % 200}","pnfsid":"$pnfsid","billingPath":"/b/f$i","transaction":"t$i","status":{"msg":"removed","code":0}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = Session("graft-ingest-bench", Session.scratchWarehouse("graft-ingest-bench-wh"))
    spark.sparkContext.setLogLevel("WARN")

    val srcDir = Files.createTempDirectory("graft-ingest-bench-src")
    val writer = Files.newBufferedWriter(srcDir.resolve("billing.jsonl"))
    (0 until n).foreach { i => writer.write(record(i)); writer.newLine() }
    writer.close()

    val db = "ingestbench"
    val tables = new BillingTables(spark, db)
    tables.createDatabase(); tables.dropAll(); tables.createAll()
    val ingest = new BillingIngest(
      spark, TextFileSource(srcDir.toString).load(spark), db)
    val ckpt = Files.createTempDirectory("graft-ingest-bench-ckpt").toString

    val t0 = System.nanoTime()
    ingest.runBounded(ckpt)
    val secs = (System.nanoTime() - t0) / 1e9

    val written = Seq("transfer", "request", "storage", "remove")
      .map(t => spark.table(s"$db.$t").count()).sum
    println(f"""{"metric":"ingest_rows_per_sec","value":${written / secs}%.0f,"unit":"rows/sec","rows":$written,"sec":$secs%.2f,"partitions_per_table":30}""")
    spark.stop()
  }
}
