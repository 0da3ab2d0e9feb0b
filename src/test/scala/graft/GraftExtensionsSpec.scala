package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import graft.analytics.Registry
import graft.functions.GraftExtensions

/** The program's native functions are declared once, in
  * `GraftExtensions.functions`: the session extension injects exactly that
  * list, and the catalog registers it before every query, so a query runs
  * in a session built without the extension too. */
class GraftExtensionsSpec extends SparkSuite {

  private val sf = "perfbench/data/sf0.001"

  /** A temp sf dir holding a copy of the sf0.001 tables, so persisted
    * indexes built over it are built by the caller's session. */
  private def corpusCopy(): String = {
    val dir = Files.createTempDirectory("graft-ext")
    val st = Files.list(Paths.get(sf))
    try st.iterator().asScala.foreach(p => Files.copy(p, dir.resolve(p.getFileName)))
    finally st.close()
    dir.toString
  }

  /** A session on the shared context whose registry lacks every graft
    * function, as a session built without the extension would. */
  private def stripped(): SparkSession = {
    val s = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      s.sessionState.functionRegistry.dropFunction(id)
    }
    s
  }

  test("the function list is exactly the graft functions a Session-built session resolves") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    names.distinct should have size names.size
    val resolved = spark.newSession().sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet -- FunctionRegistry.builtin.listFunction().map(_.funcName)
    resolved shouldBe names.toSet
  }

  test("a catalog query resolves the native functions in a session built without the extension") {
    val s = stripped()
    val e = intercept[AnalysisException](s.sql("SELECT gram_str_hashes('abcd', 2)"))
    e.getMessage should include("gram_str_hashes")
    // d49 hashes word grams with gram_str_hashes, which no query body registers
    val got = Registry.queries("d49_bipartite_components")(s, corpusCopy()).collect().toSeq
    got should have size 22
    got shouldBe Registry.queries("d49_bipartite_components")(spark, corpusCopy()).collect().toSeq
  }

  test("registerFunction is called in one place in the program, GraftExtensions.register") {
    val calls = for {
      (p, lines) <- SourceScan.files("src/main")
      l <- lines if l.contains("registerFunction(")
    } yield p.getFileName.toString
    calls shouldBe Seq("PolyHash.scala")
  }
}
