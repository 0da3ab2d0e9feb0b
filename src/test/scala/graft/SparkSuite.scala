package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One SparkSession for the whole test run (suites run sequentially —
  * `Test / parallelExecution := false`); each suite isolates itself with
  * its own database / table prefix. */
object TestSpark {
  // the program's own session factory, so suites exercise the injected
  // functions and check rules for real; pinned to 4 cores whatever the host
  lazy val spark: SparkSession = Session("graft-test",
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4",
    Session.scratchWarehouse("graft-test-warehouse"))
}

abstract class SparkSuite extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = TestSpark.spark
}

/** Golden per-msgType billing records (SURVEY §5.2 item 5). Field sets per
  * msgType follow the reference's table projections
  * (`Dcache_kafka_to_hive.py:116,123,130,137`). */
object Fixtures {
  val transferJson: String =
    """{"date":"2024-03-01 12:00:00.000","msgType":"transfer","cellName":"pool_a",
      |"session":"s1","subject":"dn=alice","initiator":"door_1",
      |"transferPath":"/data/f1","queuingTime":42,"cellDomain":"dom_a",
      |"isP2p":false,"transferTime":1.5,"storageInfo":"tape@osm",
      |"transferSize":1024,"localEndpoint":"ep1",
      |"protocolInfo":{"protocol":"dcap","port":22125,"host":"h1.example"},
      |"cellType":"pool","fileSize":2048,"pnfsid":"0000A1","billingPath":"/b/f1",
      |"isWrite":"write","status":{"msg":"ok","code":0}}"""
      .stripMargin.replace("\n", "")

  val requestJson: String =
    """{"date":"2024-03-01 13:30:00.000","msgType":"request","owner":"bob",
      |"clientChain":"c1,c2","mappedGID":1000,"cellName":"door_b","session":"s2",
      |"subject":"dn=bob","transferPath":"/data/f2","sessionDuration":7,
      |"storageInfo":"disk","cellType":"door","fileSize":4096,"mappedUID":500,
      |"queuingTime":3,"cellDomain":"dom_b","client":"10.0.0.1","pnfsid":"0000B2",
      |"billingPath":"/b/f2","status":{"msg":"done","code":0}}"""
      .stripMargin.replace("\n", "")

  val storeJson: String =
    """{"date":"2024-03-02 01:00:00.000","msgType":"store","transferTime":9.25,
      |"cellName":"pool_c","session":"s3","storageInfo":"osm:tape",
      |"cellType":"pool","fileSize":8192,"queuingTime":1,"cellDomain":"dom_c",
      |"locations":"osm://tape/1","pnfsid":"0000C3","transaction":"t3",
      |"billingPath":"/b/f3","status":{"msg":"flushed","code":0}}"""
      .stripMargin.replace("\n", "")

  val restoreJson: String = storeJson
    .replace("\"msgType\":\"store\"", "\"msgType\":\"restore\"")
    .replace("\"pnfsid\":\"0000C3\"", "\"pnfsid\":\"0000C4\"")

  val removeJson: String =
    """{"date":"2024-03-03 23:59:59.000","msgType":"remove","owner":"carol",
      |"clientChain":"c9","mappedGID":2000,"cellName":"cleaner","session":"s5",
      |"subject":"dn=carol","transferPath":"/data/f5","sessionDuration":1,
      |"cellType":"cleaner","fileSize":16,"mappedUID":501,"queuingTime":0,
      |"cellDomain":"dom_e","client":"10.0.0.9","pnfsid":"0000E5",
      |"billingPath":"/b/f5","transaction":"t5","status":{"msg":"removed","code":0}}"""
      .stripMargin.replace("\n", "")

  val all: Seq[String] =
    Seq(transferJson, requestJson, storeJson, restoreJson, removeJson)
}
