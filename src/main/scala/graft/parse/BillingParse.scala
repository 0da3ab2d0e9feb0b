package graft.parse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.schema.BillingSchema._

/**
 * The core "parse" operator: one JSON billing event string → 34 typed
 * columns (29 superset fields + 5 flattened nested fields), with the
 * reference's null semantics (`Dcache_kafka_to_hive.py:56-96`):
 *
 *   - missing field            → NULL column
 *   - malformed JSON           → all-NULL row, KEPT (PERMISSIVE mode)
 *   - nested field not object  → flattened children NULL
 *   - garbage cast input       → NULL (try_cast; Spark 4 ANSI-safe)
 *
 * Implementation is a single `from_json` against the 29-field superset
 * schema (one parse per row — Catalyst's OptimizeJsonExprs additionally
 * prunes unreferenced fields out of the parse when downstream projections
 * don't need them, which the reference's parse-all `json_tuple` cannot do),
 * plus two small `from_json` calls for the nested `status` / `protocolInfo`
 * objects — the same two-level extraction as the reference's nested
 * `json_tuple` (`Dcache_kafka_to_hive.py:71-81`).
 */
object BillingParse {

  /** Accepts a DataFrame with a `value` column (binary or string), as a
    * Kafka-shaped stream would provide. */
  def parse(df: DataFrame): DataFrame = {
    // Keep the parse as separate projections: the top-level struct is
    // bound to `j` and its fields are selected one step later. Flattened
    // into one `select`, Catalyst's OptimizeJsonExprs splits it into 39
    // single-field `from_json` calls, each parsing the whole line again:
    // 5.2 s instead of 0.56 s per 30k lines on one core, identical rows.
    // BillingParseSpec pins the optimized plan at exactly 3 `JsonToStructs`.
    val asString = df.select(col("value").cast("string").as("value"))

    // single top-level parse; struct fields come back NULL when absent and
    // the whole struct is NULL for malformed input (row kept)
    val top = asString
      .select(from_json(col("value"), topLevel).as("j"))
      .select(inputFields.map(f => col(s"j.`$f`").as(f)): _*)

    val flattened = top
      .withColumn("__status", from_json(col("status"), statusSchema))
      .withColumn("__proto", from_json(col("protocolInfo"), protocolInfoSchema))
      .select(
        inputFields.map(col) ++ Seq(
          col("__status.msg").as("status_msg"),
          col("__status.code").as("status_code"),
          col("__proto.protocol").as("protocolInfo_protocol"),
          col("__proto.port").as("protocolInfo_port"),
          col("__proto.host").as("protocolInfo_host")): _*)

    // typed casts, null-on-garbage regardless of spark.sql.ansi.enabled
    castTargets.foldLeft(flattened) { case (d, (c, t)) =>
      d.withColumn(c, expr(s"try_cast(`$c` AS $t)"))
    }
  }
}
