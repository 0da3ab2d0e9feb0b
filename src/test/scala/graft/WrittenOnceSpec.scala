package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Mechanisms that used to be copied from query to query, each pinned to
  * the one definition that now writes it: the DuckDB oracle fragments
  * (the simhash graph's recursive reach, the label centroid, the session
  * gap), the Spark session window, the commit log of the versioned sinks
  * and the ingest ledger, and the one place a stream's trigger is set. */
class WrittenOnceSpec extends AnyFunSuite with Matchers {

  private lazy val sources = SourceScan.files("src/main")

  /** An object member's first line: the definition a hit sits in. */
  private val Member = "  (private(\\[\\w+\\])? )?(lazy )?(def|val) .*"

  private val needles = Seq(
    "SELECT r.node, e.id2 AS reach FROM r JOIN e ON r.reach = e.id1" ->
      ("Dedup.scala", "val reachCte"),
    "CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv" ->
      ("Similarity.scala", "val meanCvSql"),
    "OVER w > 1800000000" -> ("Pipeline.scala", "def sessionCte("),
    "lag(col(\"us\"), 1)" -> ("Pipeline.scala", "def sessionNumbers("),
    "\"_commit_\"" -> ("CommitLog.scala", "val MarkerPrefix"),
    ".trigger(" -> ("package.scala", "def drain("),
    "substring(col(\"date\"), 1, 10)" -> ("BillingRouter.scala", "val partitionDate"))

  for ((needle, (file, definition)) <- needles)
    test(s"$needle is written once, in $file $definition") {
      val hits = for {
        (p, lines) <- sources
        (l, i) <- lines.zipWithIndex if l.contains(needle)
      } yield (p.getFileName.toString,
        lines(lines.lastIndexWhere(_.matches(Member), i)))
      withClue(hits.mkString("\n")) {
        hits.map(_._1) shouldBe Seq(file)
        hits.head._2 should include(definition)
      }
    }
}
