package graft

import java.nio.file.Paths
import org.apache.spark.SparkConf

/** The session factory: shared defaults fill only unset keys, so a
  * launcher's `--master/--conf` and `-Dspark.*` settings win; the test
  * session really carries the program's extensions; and no second
  * session builder grows back under `src/`. */
class SessionSpec extends SparkSuite {

  test("a conf that already holds master and shuffle partitions keeps both") {
    val conf = Session.withDefaults(new SparkConf(false)
      .set("spark.master", "local[2]")
      .set("spark.sql.shuffle.partitions", "7"))
    conf.get("spark.master") shouldBe "local[2]"
    conf.get("spark.sql.shuffle.partitions") shouldBe "7"
    conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }

  test("an empty conf gets every shared default") {
    val n = Session.cpus
    Session.withDefaults(new SparkConf(false)).getAll.toMap shouldBe Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.ui.enabled" -> "false")
  }

  test("the shared test session resolves poly_hash through GraftExtensions") {
    // a new session starts from the builtin registry plus the injected
    // extensions, so nothing a suite registered by hand can mask a miss
    spark.newSession().sql("SELECT poly_hash('abc')").collect() should have length 1
    spark.conf.get("spark.master") shouldBe "local[4]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
  }

  test("no SparkSession is built outside the factory") {
    val needle = "SparkSession" + ".builder("
    val builders = SourceScan.files("src")
      .collect { case (p, lines) if lines.exists(_.contains(needle)) => p.toString }
    builders shouldBe Seq(Paths.get("src/main/scala/graft/Session.scala").toString)
  }
}
