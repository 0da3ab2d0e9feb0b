package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The DuckDB oracles are the reference every query is checked against,
  * so their text is pinned by `oracle-text.sha256` (see
  * `OracleManifest`). A refactor of the oracle strings must leave every
  * hash as committed; a change to an oracle on purpose regenerates the
  * manifest in the same change. */
class OracleTextSpec extends AnyFunSuite with Matchers {

  private def parse(ls: Seq[String]): Map[String, String] =
    ls.map { l => val Array(n, h) = l.split('\t'); n -> h }.toMap

  test("every oracle's text matches the committed manifest") {
    val committed = parse(Files.readAllLines(Paths.get(OracleManifest.DefaultPath)).asScala.toSeq)
    val current = parse(OracleManifest.lines())
    val changed = current.keySet.intersect(committed.keySet).filter(n => current(n) != committed(n))
    val notInManifest = current.keySet -- committed.keySet
    val notInRegistry = committed.keySet -- current.keySet
    withClue(s"oracle text changed: ${changed.toSeq.sorted.mkString(", ")}; " +
      s"missing from the manifest: ${notInManifest.toSeq.sorted.mkString(", ")}; " +
      s"missing from the registry: ${notInRegistry.toSeq.sorted.mkString(", ")} " +
      "(an intended oracle change regenerates the manifest with " +
      "`sbt \"Test/runMain graft.OracleManifest\"`) -- ") {
      (changed ++ notInManifest ++ notInRegistry) shouldBe empty
    }
  }

  test("the manifest is sorted by name, one line per registry query") {
    val ls = Files.readAllLines(Paths.get(OracleManifest.DefaultPath)).asScala.toSeq
    ls.map(_.split('\t')(0)) shouldBe ls.map(_.split('\t')(0)).sorted
    ls.size shouldBe graft.analytics.Registry.all.size
  }
}
