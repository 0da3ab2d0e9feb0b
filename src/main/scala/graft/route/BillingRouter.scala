package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.BillingSchema

/**
 * msgType routing: the parsed 34-column frame is split into four per-table
 * projections, each with a derived day partition column
 * `partition_date = substr(date, 1, 10)`.
 *
 * Reference: the four insert* functions at `Dcache_kafka_to_hive.py:115-141`
 * (filter + DDL-ordered column list + SUBSTR partition derivation). Rows with
 * an unknown msgType route to no table; rows with NULL `date` get a NULL
 * partition value (written to the default partition), both as in the
 * reference.
 */
object BillingRouter {

  /** One routing target: destination table, msgType predicate, columns. */
  final case class Route(table: String, predicate: Column, columns: Seq[String])

  val routes: Seq[Route] = Seq(
    Route("transfer", col("msgType") === "transfer", BillingSchema.transferCols),
    Route("request", col("msgType") === "request", BillingSchema.requestCols),
    // "cinta" in the reference: store and restore share one table
    Route("storage", col("msgType").isin("store", "restore"), BillingSchema.storageCols),
    Route("remove", col("msgType") === "remove", BillingSchema.removeCols))

  /** The day a record lands in: the one definition of the partition value,
    * so the ingest's clustering key and the written partition column
    * cannot drift apart (if they did, each day would split across write
    * tasks and the file count would multiply). */
  val partitionDate: Column = substring(col("date"), 1, 10)

  /** Split a parsed frame into table-name → DDL-ordered projection with the
    * partition column appended. Filter comes before projection so Catalyst
    * collapses it into the JSON-parse projection and prunes unused fields. */
  def route(parsed: DataFrame): Map[String, DataFrame] =
    routes.map { r =>
      r.table -> parsed
        .filter(r.predicate)
        .select(r.columns.map(col) :+
          partitionDate.as(BillingSchema.partitionField): _*)
    }.toMap
}
