package graft

import org.apache.spark.sql.Row
import graft.parse.BillingParse
import graft.schema.BillingSchema

/** Parse semantics (SURVEY §5.2 item 1; reference
  * `Dcache_kafka_to_hive.py:56-96`). */
class BillingParseSpec extends SparkSuite {
  import spark.implicits._

  private def parse(rows: String*) =
    BillingParse.parse(rows.toDF("value"))

  test("all 34 output columns present, in order") {
    val cols = parse(Fixtures.transferJson).columns.toSeq
    cols shouldBe BillingSchema.inputFields ++ BillingSchema.flattenedFields
  }

  test("fields present in the JSON come through typed") {
    val r = parse(Fixtures.transferJson).head()
    r.getAs[String]("date") shouldBe "2024-03-01 12:00:00.000"
    r.getAs[String]("msgType") shouldBe "transfer"
    r.getAs[Boolean]("isP2p") shouldBe false
    r.getAs[Float]("transferTime") shouldBe 1.5f
    r.getAs[Float]("transferSize") shouldBe 1024f
    r.getAs[Int]("queuingTime") shouldBe 42
    r.getAs[String]("isWrite") shouldBe "write" // stored STRING, as reference
  }

  test("nested status/protocolInfo flatten; parents stay raw JSON text") {
    val r = parse(Fixtures.transferJson).head()
    r.getAs[String]("status_msg") shouldBe "ok"
    r.getAs[Int]("status_code") shouldBe 0
    r.getAs[String]("protocolInfo_protocol") shouldBe "dcap"
    r.getAs[Int]("protocolInfo_port") shouldBe 22125
    r.getAs[String]("protocolInfo_host") shouldBe "h1.example"
    r.getAs[String]("status") should include("\"msg\"")
    r.getAs[String]("protocolInfo") should include("dcap")
  }

  test("missing fields are NULL (request record has no transferSize/isP2p)") {
    val r = parse(Fixtures.requestJson).head()
    assert(r.isNullAt(r.fieldIndex("transferSize")))
    assert(r.isNullAt(r.fieldIndex("isP2p")))
    assert(r.isNullAt(r.fieldIndex("protocolInfo_port")))
    r.getAs[String]("owner") shouldBe "bob"
  }

  test("malformed JSON yields an all-NULL row that is KEPT") {
    val df = parse("this is not json {", Fixtures.removeJson)
    df.count() shouldBe 2
    val bad = df.where($"msgType".isNull).collect()
    bad should have length 1
    val r: Row = bad.head
    BillingSchema.inputFields.foreach(f => assert(r.isNullAt(r.fieldIndex(f)), f))
  }

  test("garbage cast input yields NULL, not an ANSI error") {
    val json =
      """{"msgType":"transfer","queuingTime":"garbage","isP2p":"maybe",
        |"transferTime":"NaNope","fileSize":"big","mappedGID":"root",
        |"status":{"code":"not-a-code"}}""".stripMargin.replace("\n", "")
    val r = parse(json).head()
    Seq("queuingTime", "isP2p", "transferTime", "fileSize", "mappedGID",
      "status_code").foreach(f => assert(r.isNullAt(r.fieldIndex(f)), f))
    r.getAs[String]("msgType") shouldBe "transfer"
  }

  test("nested field that is not an object leaves flattened children NULL") {
    val json = """{"msgType":"transfer","status":"all good","protocolInfo":7}"""
    val r = parse(json).head()
    assert(r.isNullAt(r.fieldIndex("status_msg")))
    assert(r.isNullAt(r.fieldIndex("status_code")))
    assert(r.isNullAt(r.fieldIndex("protocolInfo_protocol")))
  }

  test("binary value column (Kafka shape) parses identically") {
    val bin = Seq(Fixtures.transferJson.getBytes("UTF-8")).toDF("value")
    BillingParse.parse(bin).head().getAs[String]("msgType") shouldBe "transfer"
  }

  test("the optimized parse plan holds exactly 3 from_json: top level, status, protocolInfo") {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    // a file-backed input: over a local Seq the optimizer would fold the
    // whole parse into a LocalRelation and no expression would be left
    val dir = java.nio.file.Files.createTempDirectory("graft-parse").resolve("in").toString
    Seq(Fixtures.transferJson).toDF("value").write.text(dir)
    val plan = BillingParse.parse(spark.read.text(dir)).queryExecution.optimizedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    parses.map(_.schema.simpleString).sorted shouldBe Seq(
      BillingSchema.protocolInfoSchema, BillingSchema.statusSchema, BillingSchema.topLevel)
      .map(_.simpleString).sorted
  }
}
