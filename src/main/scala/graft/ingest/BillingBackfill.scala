package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Checkpoints
import graft.parse.BillingParse
import graft.route.BillingRouter
import graft.schema.BillingSchema

/**
 * Batch BACKFILL — the repair operation every production ingest pipeline
 * needs next to its live stream (the reference has only the stream,
 * `Dcache_kafka_to_hive.py:272-351`): replay raw archived billing records
 * for specific partition days and REPLACE exactly those days in the four
 * tables. "Day X was ingested with a parser bug / arrived corrupt" is
 * fixed by re-running the day, not by hand-surgery on files.
 *
 * Semantics:
 *   - reuses the LIVE path verbatim (`BillingParse.parse` →
 *     `BillingRouter.route`), so a backfilled day is row-equivalent to
 *     what the stream would have produced from the same records;
 *   - each requested (table, day) is a STATIC-partition
 *     `INSERT OVERWRITE … PARTITION (partition_date = d)` — an exact
 *     replace that also clears a day whose replay yields ZERO rows for
 *     that table (dynamic overwrite can't shrink a partition to empty,
 *     which is precisely the corrupt-day case);
 *   - atomic per (table, day): the partition swap is a staged commit, so
 *     a crash mid-backfill leaves each day either old or new, never
 *     half-written — re-running converges;
 *   - idempotent: re-running the same backfill replaces the same days
 *     with the same rows.
 *
 * Scale notes (100 TB): parse + route are narrow (map-only) over the raw
 * archive's input partitioning. The requested days are parsed once and
 * clustered by day in the backfill's one shuffle (the BillingIngest
 * layout: each day in one task, so each day's overwrite writes one file
 * set, not one per task), then localCheckpoint'd once. Every table's
 * route, every per-day insert and the returned counts read that
 * checkpoint, so the raw archive is read and parsed ONCE per backfill, not
 * once per table or per day; its blocks are freed before returning.
 */
class BillingBackfill(spark: SparkSession, database: String = "default") {

  private def qualified(t: String) = s"$database.$t"

  private val DayPattern = "^[0-9]{4}-[0-9]{2}-[0-9]{2}$".r

  /** Replays `raw` (a batch DataFrame with the Kafka-shaped `value`
    * column) and replaces `days` in every billing table. Records outside
    * `days` are ignored; days not requested are untouched. NULL-date
    * records route to the Hive default partition, which is not a named
    * day and therefore not backfillable here — recompact or drop it
    * explicitly. Returns rows written per table. */
  def backfill(raw: DataFrame, days: Seq[String]): Map[String, Long] = {
    require(days.nonEmpty, "backfill requires at least one partition day")
    days.foreach(d => require(DayPattern.matches(d),
      s"not a YYYY-MM-DD partition day: '$d'"))
    // parse once, keep the requested days, cluster them by day once and
    // hold the result: every table and every day reads these blocks
    val clustered = BillingParse.parse(raw)
      .filter(BillingRouter.partitionDate.isin(days: _*))
      .repartition(BillingRouter.partitionDate)
      .localCheckpoint()
    try BillingRouter.route(clustered).map { case (table, routed) =>
      val view = s"backfill_${table}_src"
      routed.createOrReplaceTempView(view)
      try {
        days.foreach { d =>
          spark.sql(
            s"""INSERT OVERWRITE TABLE ${qualified(table)}
               |PARTITION (${BillingSchema.partitionField} = '$d')
               |SELECT * EXCEPT (${BillingSchema.partitionField}) FROM $view
               |WHERE ${BillingSchema.partitionField} = '$d'""".stripMargin)
        }
      } finally spark.catalog.dropTempView(view)
      spark.catalog.refreshTable(qualified(table))
      table -> routed.count()
    } finally Checkpoints.release(clustered)
  }
}
