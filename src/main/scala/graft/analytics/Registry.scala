package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator/query: the Spark implementation plus, when the
  * semantics are ANSI-SQL-expressible, an equivalent DuckDB oracle query.
  * Queries without an oracle get the driver's weaker rows-only check. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  lazy val all: Seq[QueryDef] = {
    val defs =
      Relational.defs ++ Advanced.defs ++ Ingest.defs ++ Streams.defs ++
        Text.defs ++ Similarity.defs ++ Dedup.defs ++ Multimodal.defs ++
        Formats.defs ++ Pipeline.defs ++ Semi.defs ++ Subquery.defs ++
        CorpusPipeline.defs ++ Governance.defs
    // a duplicate name would silently drop a query at the toMap below —
    // fail loudly at first touch instead
    val dups = defs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    // the one seam every runner (SparkEntry, Verify, Bench, Explain)
    // passes through: each query resolves the native functions whether
    // or not its session was built with GraftExtensions
    defs.map(q => q.copy(run = (s: SparkSession, dir: String) => {
      graft.functions.GraftExtensions.register(s)
      q.run(s, dir)
    }))
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
