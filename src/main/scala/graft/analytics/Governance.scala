package graft.analytics

import org.apache.spark.sql.functions._
import Tables._

/**
 * Data-governance / privacy-audit operators — the compliance layer a
 * production data platform runs beside curation: re-identification risk
 * measurement before a data release (q137) and the subject-rights impact
 * sweep behind deletion/access requests (q138). Both are pure aggregate
 * plans (integer-exact, one map-side-combined pass per table) and both
 * push their subject predicates into the scans.
 */
object Governance {

  // --------------------------------------------------------------- q137
  // K-ANONYMITY AUDIT — before releasing a table keyed by quasi-
  // identifiers (segment, nation, coarse balance band), measure how
  // identifiable its rows are: rows in equivalence classes smaller than
  // k = 5 violate k-anonymity, and the expected re-identification risk
  // of a random row in a class of size s is 1/s — summed here as the
  // exact integer Σ s·(10⁶ DIV s) ppm (each row contributes its class's
  // floor-ppm risk, so engines agree bitwise; a double 1/s sum would be
  // partition-order-dependent). One groupBy over the quasi-identifier
  // tuple (high-cardinality — no skew), one bounded rollup per segment.
  // At 100 TB the plan is unchanged: class counting is a map-side-
  // combined aggregate, the audit never materializes per-row output.
  private val AnonK = 5

  private val q137 = QueryDef(
    "q137_k_anonymity",
    (s, dir) => {
      val cls = rd(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100000")
            .as("band"))
        .groupBy(col("seg"), col("nat"), col("band"))
        .agg(count(lit(1)).as("sz"))
      cls.groupBy(col("seg"))
        .agg(
          sum(col("sz")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("sz") < AnonK, col("sz")).otherwise(0L)).as("n_violating_rows"),
          min(col("sz")).as("min_class"),
          sum(col("sz") * expr("1000000 DIV sz")).as("reid_risk_ppm_sum"))
        .orderBy(col("seg"))
    },
    Some(s"""WITH qi AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS band
      FROM customer),
    cls AS (SELECT seg, nat, band, COUNT(*) AS sz FROM qi GROUP BY 1, 2, 3)
    SELECT seg,
      CAST(SUM(sz) AS BIGINT) AS n_rows,
      COUNT(*) AS n_classes,
      CAST(SUM(CASE WHEN sz < $AnonK THEN sz ELSE 0 END) AS BIGINT) AS n_violating_rows,
      CAST(MIN(sz) AS BIGINT) AS min_class,
      CAST(SUM(sz * (1000000 // sz)) AS BIGINT) AS reid_risk_ppm_sum
    FROM cls GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q138
  // DELETION-IMPACT SWEEP — the report behind a right-to-be-forgotten /
  // subject-access batch: for a deterministic subject set (key % 1000 =
  // 7, standing in for the request table), how many rows, distinct
  // subjects, and how much value mass each table would surrender, with
  // an id checksum pinning the exact row set. The subject predicate is a
  // pure per-row filter, so every scan prunes at the source (no join —
  // at scale a real request list joins as a broadcast/bloom semi-join,
  // q51's pattern); each table is one filtered map-side-combined
  // aggregate and the three reports union. This is the BATCH twin of
  // q115's streaming tombstone wipe: q115 applies deletions to live
  // state, this one scopes them across the lake first.
  private val q138 = QueryDef(
    "q138_deletion_sweep",
    (s, dir) => {
      def report(df: org.apache.spark.sql.DataFrame, tbl: String,
          subject: String, cents: String, rowId: String) =
        df.filter(expr(s"$subject % 1000 = 7"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col(subject)).as("n_subjects"),
            sum(expr(cents)).as("cents"),
            (sum(expr(s"$rowId % $HashMod")) % lit(HashMod)).as("row_checksum"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("n_subjects"),
            coalesce(col("cents"), lit(0L)).as("cents"),
            coalesce(col("row_checksum"), lit(0L)).as("row_checksum"))
      report(events(s, dir), "events", "user_id",
          "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)", "event_id")
        .unionAll(report(rd(s, dir, "customer"), "customer", "c_custkey",
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)", "c_custkey"))
        .unionAll(report(rd(s, dir, "orders"), "orders", "o_custkey",
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)", "o_orderkey"))
        .orderBy(col("tbl"))
    },
    Some(s"""SELECT 'events' AS tbl, COUNT(*) AS n_rows,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subjects,
      CAST(COALESCE(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS cents,
      CAST(COALESCE(SUM(event_id % $HashMod) % $HashMod, 0) AS BIGINT) AS row_checksum
    FROM events WHERE user_id % 1000 = 7
    UNION ALL
    SELECT 'customer', COUNT(*), CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
      CAST(COALESCE(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM(c_custkey % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM customer WHERE c_custkey % 1000 = 7
    UNION ALL
    SELECT 'orders', COUNT(*), CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
      CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM(o_orderkey % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM orders WHERE o_custkey % 1000 = 7
    ORDER BY tbl"""))

  // --------------------------------------------------------------- q139
  // PII-PATTERN DISCOVERY SWEEP — the "scan the lake for identifier-
  // looking columns" audit compliance teams run before classification:
  // for every (table, string column) pair, count rows matching
  // identifier heuristics (≥6-digit runs — account/ID-like; '#' account
  // markers; email-shaped tokens) and measure the column's distinct-
  // value cardinality (a fully-distinct "free-text" column is a
  // re-identification vector even without pattern hits; q137 then
  // quantifies it). Each column is ONE pruned scan + map-side-combined
  // aggregate (regexes are codegen'd per-row predicates, no explode,
  // no shuffle beyond the per-column 1-row rollup); the per-column
  // reports union. The column list is configuration, not discovery —
  // at scale the same plan fans out per column from the catalog schema.
  private val q139 = QueryDef(
    "q139_pii_scan",
    (s, dir) => {
      def scan(table: String, column: String) =
        rd(s, dir, table).select(col(column).cast("string").as("v"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v").rlike("[0-9]{6,}"), 1L).otherwise(0L)).as("n_digit_run"),
            sum(when(col("v").rlike("#"), 1L).otherwise(0L)).as("n_acct_marker"),
            sum(when(col("v").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), 1L)
              .otherwise(0L)).as("n_email_like"),
            countDistinct(col("v")).as("n_distinct"))
          .select(lit(table).as("tbl"), lit(column).as("col"), col("n_rows"),
            col("n_digit_run"), col("n_acct_marker"), col("n_email_like"),
            col("n_distinct"))
      Seq(
        scan("customer", "c_name"), scan("customer", "c_mktsegment"),
        scan("supplier", "s_name"), scan("orders", "o_orderpriority"),
        scan("events", "event_type"), scan("events", "props"))
        .reduce(_ unionAll _)
        .orderBy(col("tbl"), col("col"))
    },
    Some {
      def scanSql(table: String, column: String) =
        s"""SELECT '$table' AS tbl, '$column' AS col, COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN regexp_matches(CAST($column AS VARCHAR), '[0-9]{6,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_run,
          CAST(SUM(CASE WHEN regexp_matches(CAST($column AS VARCHAR), '#') THEN 1 ELSE 0 END) AS BIGINT) AS n_acct_marker,
          CAST(SUM(CASE WHEN regexp_matches(CAST($column AS VARCHAR), '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS n_email_like,
          CAST(COUNT(DISTINCT CAST($column AS VARCHAR)) AS BIGINT) AS n_distinct
        FROM $table"""
      Seq(
        scanSql("customer", "c_name"), scanSql("customer", "c_mktsegment"),
        scanSql("supplier", "s_name"), scanSql("orders", "o_orderpriority"),
        scanSql("events", "event_type"), scanSql("events", "props"))
        .mkString("", "\n    UNION ALL\n    ", "\n    ORDER BY tbl, col")
    })

  // --------------------------------------------------------------- q141
  // BENFORD FIRST-DIGIT AUDIT — the fabrication/fraud screen auditors
  // run on money columns: naturally-occurring amounts follow
  // P(d) = log₁₀(1+1/d); uniform or hand-entered data does not, and the
  // per-digit chi contribution localizes WHICH digits deviate (TPC-H's
  // uniform prices rightly fail it — the audit's job is to say so).
  // Exact integers end-to-end: the first significant digit comes from
  // the cents' decimal string (identical cross-engine), expectations are
  // precomputed ppm constants, and the chi contribution is integer
  // floor arithmetic — no doubles anywhere. One scan, one 9-row
  // aggregate; the scalar total broadcasts back.
  private val benfordPpm: Map[Int, Long] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap
  private def benfordCase(col0: String): String =
    s"CASE $col0 ${(1 to 9).map(d => s"WHEN $d THEN ${benfordPpm(d)}L").mkString(" ")} END"
  private def benfordCaseSql(col0: String): String =
    s"CASE $col0 ${(1 to 9).map(d => s"WHEN $d THEN ${benfordPpm(d)}").mkString(" ")} END"

  private val q141 = QueryDef(
    "q141_benford_audit",
    (s, dir) => {
      val b = rd(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(expr("""CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))
          * 100 AS BIGINT) AS STRING), 1, 1) AS BIGINT)""").as("digit"))
      val n = b.agg(count(lit(1)).as("n"))
      b.groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(n))
        .select(col("digit"), col("cnt"),
          expr("cnt * 1000000 DIV n").as("obs_ppm"),
          expr(benfordCase("digit")).as("exp_ppm"))
        .withColumn("chi_contrib",
          expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) DIV exp_ppm"))
        .orderBy(col("digit"))
    },
    Some(s"""WITH b AS (
      SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0),
    n AS (SELECT COUNT(*) AS n FROM b),
    h AS (SELECT digit, COUNT(*) AS cnt FROM b GROUP BY 1)
    SELECT h.digit, CAST(h.cnt AS BIGINT) AS cnt,
      CAST(h.cnt * 1000000 // n.n AS BIGINT) AS obs_ppm,
      CAST(${benfordCaseSql("h.digit")} AS BIGINT) AS exp_ppm,
      CAST((h.cnt * 1000000 // n.n - ${benfordCaseSql("h.digit")})
           * (h.cnt * 1000000 // n.n - ${benfordCaseSql("h.digit")})
           // (${benfordCaseSql("h.digit")}) AS BIGINT) AS chi_contrib
    FROM h, n ORDER BY h.digit"""))

  // --------------------------------------------------------------- q143
  // RETENTION-AGE AUDIT — the partition-lifecycle sweep a lake platform
  // runs against its retention policy: bucket every day-partition of the
  // event log by age (7-day bands, capped at "28+"), and report per band
  // the partition count, row count, value mass, and day range, plus
  // whether the band falls past the 21-day purge horizon. The audit is
  // anchored to the table's own newest partition (deterministic — a
  // wall-clock anchor would change the answer every run), mirroring how
  // the billing compactor derives its work list from SHOW PARTITIONS
  // rather than a calendar. Shape: ONE map-side-combined per-day
  // aggregate (at scale this is a partition-metadata scan — day is the
  // physical partition key, so per-partition stats come from the
  // manifest, not the rows), then a |days|-row bucket rollup with the
  // 1-row as-of scalar broadcast back. Integer-exact throughout: days
  // are epoch-day BIGINTs, money is cents.
  private val RetentionDays = 21
  private val BandDays = 7

  private val q143 = QueryDef(
    "q143_retention_audit",
    (s, dir) => {
      val perDay = events(s, dir)
        .select(
          expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000").as("day"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      val asOf = perDay.agg(max(col("day")).as("as_of"))
      perDay.crossJoin(broadcast(asOf)) // 1-row scalar
        .select(col("day"), col("n_rows"), col("cents"),
          expr(s"LEAST((as_of - day) DIV $BandDays, 4)").as("age_band"),
          expr(s"CASE WHEN as_of - day >= $RetentionDays THEN 1L ELSE 0L END")
            .as("past_retention"))
        .groupBy(col("age_band"), col("past_retention"))
        .agg(
          count(lit(1)).as("n_partitions"),
          sum(col("n_rows")).as("n_rows"),
          sum(col("cents")).as("cents"),
          min(col("day")).as("oldest_day"),
          max(col("day")).as("newest_day"))
        .orderBy(col("age_band"))
    },
    Some(s"""WITH pd AS (
      SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
        COUNT(*) AS n_rows,
        CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1),
    a AS (SELECT MAX(day) AS as_of FROM pd)
    SELECT CAST(LEAST((as_of - day) // $BandDays, 4) AS BIGINT) AS age_band,
      CAST(CASE WHEN as_of - day >= $RetentionDays THEN 1 ELSE 0 END AS BIGINT)
        AS past_retention,
      COUNT(*) AS n_partitions,
      CAST(SUM(n_rows) AS BIGINT) AS n_rows,
      CAST(SUM(cents) AS BIGINT) AS cents,
      CAST(MIN(day) AS BIGINT) AS oldest_day,
      CAST(MAX(day) AS BIGINT) AS newest_day
    FROM pd, a GROUP BY 1, 2 ORDER BY age_band"""))

  // --------------------------------------------------------------- q174
  // TONIGHT'S MAINTENANCE PLAN — the operational composition the
  // reference's cron pair implies (`run_compact_tables.py` picks
  // partitions to rewrite; a retention sweep decides what to drop):
  // one report answering, per day-partition of the event log, "what do
  // we do tonight?". The fixture is a REAL day-partitioned layout
  // (q147's deterministic discipline, by the reference's actual
  // partition key): one single-file write of every day, then a
  // single-file APPEND to even days — so even days hold two files
  // (and twice their rows), odd days one. Verdicts compose q147 and
  // q143: `purge` when the day is past the 21-day horizon from the
  // table's own newest day (the deterministic as-of anchor — never
  // wall-clock), else `compact` when the partition is multi-file, else
  // `none` — purge SUPERSEDES compact, because rewriting a partition
  // tonight that the retention sweep deletes tonight is wasted IO, the
  // exact coupling a naive cron pair gets wrong. One `_metadata` scan
  // of (day, cents, file_name), one map-side-combined per-day
  // aggregate, 1-row as-of broadcast back. The oracle replays the
  // layout arithmetic (base ∪ even-day append) without seeing files.
  private val q174 = QueryDef(
    "q174_maintenance_plan",
    (s, dir) => {
      val out = Tables.tmp("graft-maintplan")
      graft.BenchSplit.setup {
        val base = events(s, dir).select(
          expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000").as("day"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        base.coalesce(1).write.mode("overwrite").partitionBy("day").parquet(out)
        base.filter(col("day") % 2 === 0)
          .coalesce(1).write.mode("append").partitionBy("day").parquet(out)
      }
      val perDay = s.read.parquet(out)
        .select(col("day").cast("long").as("day"), col("cents"),
          col("_metadata.file_name").as("fn"))
        .groupBy(col("day"))
        .agg(countDistinct(col("fn")).as("n_files"),
          count(lit(1)).as("n_rows"),
          sum(col("cents")).as("cents"))
      val asOf = perDay.agg(max(col("day")).as("as_of"))
      perDay.crossJoin(broadcast(asOf)) // 1-row scalar
        .select(col("day"), col("n_files"), col("n_rows"), col("cents"),
          (col("as_of") - col("day")).as("age_days"),
          expr(s"""CASE WHEN as_of - day >= $RetentionDays THEN 'purge'
               WHEN n_files > 1 THEN 'compact' ELSE 'none' END""").as("action"))
        .orderBy(col("day"))
    },
    Some(s"""WITH base AS (
      SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events),
    layout AS (SELECT day, cents, 0 AS gen FROM base
               UNION ALL
               SELECT day, cents, 1 FROM base WHERE day % 2 = 0),
    pd AS (SELECT day, COUNT(DISTINCT gen) AS n_files, COUNT(*) AS n_rows,
             CAST(SUM(cents) AS BIGINT) AS cents
           FROM layout GROUP BY 1),
    a AS (SELECT MAX(day) AS as_of FROM pd)
    SELECT CAST(day AS BIGINT) AS day,
      CAST(n_files AS BIGINT) AS n_files,
      n_rows, cents,
      CAST(as_of - day AS BIGINT) AS age_days,
      CASE WHEN as_of - day >= $RetentionDays THEN 'purge'
           WHEN n_files > 1 THEN 'compact' ELSE 'none' END AS action
    FROM pd, a ORDER BY day"""))

  // --------------------------------------------------------------- q146
  // SCHEMA-DRIFT AUDIT — the upstream-feed contract monitor: profile
  // every column of a stream across two epochs (early/late halves of the
  // window) and flag distribution-shape changes the schema itself can't
  // express — null-rate shifts, cardinality collapse/explosion, and
  // appearing/disappearing semi-structured keys (each JSON key in
  // `props` is profiled as its own `props.<key>` pseudo-column, so an
  // upstream producer silently adding or dropping a field lands in the
  // same report as a typed-column change). Complements q133 (PSI on ONE
  // chosen metric) by sweeping EVERY column with schema-level stats.
  // Values are profiled on a canonical string encoding (longs/strings
  // verbatim, doubles floored at 1e-3 — a raw double→string cast is NOT
  // cross-engine-stable, the canonical form is). Scale: one unpivot
  // generate (5 rows per event — narrow, no shuffle), then ONE
  // (col, epoch, value) pre-aggregate feeding both the distinct count
  // and the null profile — the exact-distinct two-level shape whose
  // shuffle is the distinct-value volume; at 100 TB you'd swap the exact
  // count for a per-column sketch (q18's approx path) and keep the rest
  // of the plan unchanged. The column key is domain-bounded, so the
  // final pivot aggregate is trivially small.
  private val q146 = QueryDef(
    "q146_schema_drift",
    (s, dir) => {
      val splitUs = 1705363200000000L // 2024-01-16 00:00 UTC — window midpoint
      val ev = events(s, dir)
        .withColumn("epoch",
          when(unix_micros(col("ts")) < splitUs, "a").otherwise("b"))
      val base = ev.selectExpr("epoch", """stack(4,
          'event_type', event_type,
          'user_id', CAST(user_id AS STRING),
          'value', CAST(CAST(floor(value * 1000) AS BIGINT) AS STRING),
          'props', props) AS (col_name, v)""")
      val keyed = ev.select(col("epoch"),
          explode(expr("from_json(props, 'map<string,string>')")).as(Seq("k", "v")))
        .select(col("epoch"), concat(lit("props."), col("k")).as("col_name"), col("v"))
      val u = base.unionByName(keyed)
      // one (col, epoch, value) pre-aggregate serves null AND distinct
      // profiles: nv rows = distinct values (+1 null bucket), never N
      val pre = u.groupBy(col("col_name"), col("epoch"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      pre.groupBy(col("col_name"))
        .agg(
          sum(when(col("epoch") === "a", col("cnt")).otherwise(0L)).as("n_a"),
          sum(when(col("epoch") === "b", col("cnt")).otherwise(0L)).as("n_b"),
          sum(when(col("epoch") === "a" && col("v").isNull, col("cnt")).otherwise(0L)).as("nn_a"),
          sum(when(col("epoch") === "b" && col("v").isNull, col("cnt")).otherwise(0L)).as("nn_b"),
          sum(when(col("epoch") === "a" && col("v").isNotNull, 1L).otherwise(0L)).as("distinct_a"),
          sum(when(col("epoch") === "b" && col("v").isNotNull, 1L).otherwise(0L)).as("distinct_b"))
        .select(col("col_name"), col("n_a"), col("n_b"),
          expr("CASE WHEN n_a = 0 THEN 0 ELSE nn_a * 1000000 DIV n_a END").as("null_ppm_a"),
          expr("CASE WHEN n_b = 0 THEN 0 ELSE nn_b * 1000000 DIV n_b END").as("null_ppm_b"),
          col("distinct_a"), col("distinct_b"),
          expr("""CASE WHEN n_a = 0 THEN 'added' WHEN n_b = 0 THEN 'dropped'
               WHEN distinct_a * 2 < distinct_b OR distinct_b * 2 < distinct_a
                 THEN 'distinct_shift'
               WHEN abs(nn_a * 1000000 DIV greatest(n_a, 1)
                      - nn_b * 1000000 DIV greatest(n_b, 1)) > 10000
                 THEN 'null_shift'
               ELSE 'stable' END""").as("verdict"))
        .orderBy(col("col_name"))
    },
    Some(s"""WITH e AS (
      SELECT *, CASE WHEN epoch_us(ts) < 1705363200000000 THEN 'a' ELSE 'b' END AS epoch
      FROM events),
    u AS (
      SELECT epoch, 'event_type' AS col_name, event_type AS v FROM e
      UNION ALL SELECT epoch, 'user_id', CAST(user_id AS VARCHAR) FROM e
      UNION ALL SELECT epoch, 'value',
        CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR) FROM e
      UNION ALL SELECT epoch, 'props', props FROM e
      UNION ALL SELECT epoch, 'props.' || k, json_extract_string(props, '$$.' || k)
        FROM (SELECT epoch, props, unnest(json_keys(props)) AS k FROM e)),
    pre AS (SELECT col_name, epoch, v, COUNT(*) AS cnt FROM u GROUP BY 1, 2, 3),
    pv AS (SELECT col_name,
        CAST(SUM(CASE WHEN epoch = 'a' THEN cnt ELSE 0 END) AS BIGINT) AS n_a,
        CAST(SUM(CASE WHEN epoch = 'b' THEN cnt ELSE 0 END) AS BIGINT) AS n_b,
        CAST(SUM(CASE WHEN epoch = 'a' AND v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS nn_a,
        CAST(SUM(CASE WHEN epoch = 'b' AND v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS nn_b,
        CAST(SUM(CASE WHEN epoch = 'a' AND v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS distinct_a,
        CAST(SUM(CASE WHEN epoch = 'b' AND v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS distinct_b
      FROM pre GROUP BY 1)
    SELECT col_name, n_a, n_b,
      CAST(CASE WHEN n_a = 0 THEN 0 ELSE nn_a * 1000000 // n_a END AS BIGINT) AS null_ppm_a,
      CAST(CASE WHEN n_b = 0 THEN 0 ELSE nn_b * 1000000 // n_b END AS BIGINT) AS null_ppm_b,
      distinct_a, distinct_b,
      CASE WHEN n_a = 0 THEN 'added' WHEN n_b = 0 THEN 'dropped'
           WHEN distinct_a * 2 < distinct_b OR distinct_b * 2 < distinct_a
             THEN 'distinct_shift'
           WHEN abs(nn_a * 1000000 // greatest(n_a, 1)
                  - nn_b * 1000000 // greatest(n_b, 1)) > 10000
             THEN 'null_shift'
           ELSE 'stable' END AS verdict
    FROM pv ORDER BY col_name"""))

  // --------------------------------------------------------------- q153
  // L-DIVERSITY AUDIT — k-anonymity's complement (q137 measures class
  // SIZE; this measures class CONTENT): a class of quasi-identifiers
  // that is large but uniform in its sensitive attribute still discloses
  // it ("everyone in this (nation, balance-band) cell is BUILDING").
  // QI here is (nation, 1000-unit balance band), sensitive attribute the
  // market segment; a class violates distinct-l-diversity when it holds
  // fewer than l = 3 distinct sensitive values, and the worst disclosure
  // share is the largest single-value fraction (exact floor-ppm, so both
  // engines agree bitwise — the q137 discipline). Plan: two stacked
  // map-side-combined aggregates (QI×sensitive counts → per-class
  // rollup) and a bounded per-nation report; never materializes per-row
  // output, unchanged at 100 TB.
  private val DivL = 3
  private val q153 = QueryDef(
    "q153_l_diversity",
    (s, dir) => {
      val cls = rd(s, dir, "customer")
        .select(col("c_nationkey").as("nat"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DIV 100000")
            .as("band"),
          col("c_mktsegment").as("sens"))
        .groupBy(col("nat"), col("band"), col("sens"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("nat"), col("band"))
        .agg(sum(col("cnt")).as("sz"), count(lit(1)).as("l"),
          max(col("cnt")).as("top_cnt"))
      cls.groupBy(col("nat"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(col("sz")).as("n_rows"),
          sum(when(col("l") < DivL, 1L).otherwise(0L)).as("n_violating"),
          min(col("l")).as("min_l"),
          max(expr("(top_cnt * 1000000) DIV sz")).as("max_share_ppm"))
        .orderBy(col("nat"))
    },
    Some(s"""WITH cls AS (
      SELECT c_nationkey AS nat,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000 AS band,
        c_mktsegment AS sens, COUNT(*) AS cnt
      FROM customer GROUP BY 1, 2, 3),
    cl AS (SELECT nat, band, SUM(cnt) AS sz, COUNT(*) AS l, MAX(cnt) AS top_cnt
           FROM cls GROUP BY 1, 2)
    SELECT nat, COUNT(*) AS n_classes,
      CAST(SUM(sz) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN l < $DivL THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
      CAST(MIN(l) AS BIGINT) AS min_l,
      CAST(MAX(top_cnt * 1000000 // sz) AS BIGINT) AS max_share_ppm
    FROM cl GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q159
  // REFERENTIAL-INTEGRITY SWEEP — orphan audit over the schema's whole
  // foreign-key graph (7 edges), one verdict row per edge: child rows,
  // rows whose FK has no parent, and the orphan rate in exact integer
  // ppm. q45 proves the single-edge primitive inside a one-table DQ row;
  // this is the catalog-wide sweep a platform runs after every backfill
  // or partial restore, where the DELIVERABLE is the per-edge table.
  // Each edge is one left join against the parent's unique key with the
  // child aggregated in the same pass (count + null-parent sum), so no
  // per-row output survives the stage. Parent sides go through
  // bcastIfSmall: nation/region always broadcast; the SF-proportional
  // parents (orders/part/supplier/customer) fall back to a shuffled
  // join, which is the correct 100 TB shape (both sides hash on the key;
  // a forced broadcast would OOM — the d09 hazard class). A NULL FK
  // never matches, so it counts as an orphan in both engines — the
  // strict-audit convention; add a NOT NULL pre-filter for the lax one.
  private val q159 = QueryDef(
    "q159_referential_orphans",
    (s, dir) => {
      def audit(child: org.apache.spark.sql.DataFrame, ck: String,
                parentTable: String, pk: String, name: String) =
        child.select(col(ck))
          .join(bcastIfSmall(rd(s, dir, parentTable).select(col(pk)), dir, parentTable),
            col(ck) === col(pk), "left")
          .agg(count(lit(1)).as("child_rows"),
            sum(when(col(pk).isNull, 1L).otherwise(0L)).as("orphan_rows"))
          .select(lit(name).as("fk_edge"), col("child_rows"), col("orphan_rows"),
            expr("orphan_rows * 1000000 DIV child_rows").as("orphan_ppm"))
      val li = rd(s, dir, "lineitem")
      Seq(
        audit(li, "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        audit(li, "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        audit(li, "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        audit(rd(s, dir, "orders"), "o_custkey", "customer", "c_custkey",
          "orders.o_custkey->customer"),
        audit(rd(s, dir, "customer"), "c_nationkey", "nation", "n_nationkey",
          "customer.c_nationkey->nation"),
        audit(rd(s, dir, "supplier"), "s_nationkey", "nation", "n_nationkey",
          "supplier.s_nationkey->nation"),
        audit(rd(s, dir, "nation"), "n_regionkey", "region", "r_regionkey",
          "nation.n_regionkey->region"))
        .reduce(_.unionByName(_))
        .orderBy(col("fk_edge"))
    },
    Some {
      def edgeSql(childTable: String, ck: String, parentTable: String,
                  pk: String, name: String) =
        s"""SELECT '$name' AS fk_edge,
          COUNT(*) AS child_rows,
          CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
          CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) * 1000000
               // COUNT(*) AS BIGINT) AS orphan_ppm
        FROM $childTable c LEFT JOIN $parentTable p ON c.$ck = p.$pk"""
      Seq(
        edgeSql("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        edgeSql("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        edgeSql("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        edgeSql("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"),
        edgeSql("customer", "c_nationkey", "nation", "n_nationkey", "customer.c_nationkey->nation"),
        edgeSql("supplier", "s_nationkey", "nation", "n_nationkey", "supplier.s_nationkey->nation"),
        edgeSql("nation", "n_regionkey", "region", "r_regionkey", "nation.n_regionkey->region"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fk_edge")
    })

  // --------------------------------------------------------------- q160
  // CANDIDATE-KEY DISCOVERY — uniqueness profiling over a declared
  // candidate list (the ANALYZE-side of schema governance: which column
  // sets can serve as primary/merge keys, and how badly the rest
  // duplicate). Each candidate is one exact DISTINCT count — a two-phase
  // hash aggregate whose partial phase dedups map-side, so the shuffle
  // carries at most one row per distinct tuple per partition. The
  // candidate LIST is bounded configuration, not data: 5 passes here,
  // and at 100 TB you would prescreen with HLL sketches (q18's operator)
  // and exact-verify only near-unique survivors — this is that exact
  // verifier. DISTINCT (not COUNT(DISTINCT col…)) so NULL-bearing tuples
  // group as equal in both engines.
  private val q160 = QueryDef(
    "q160_candidate_keys",
    (s, dir) => {
      val base = rd(s, dir, "orders")
      def cand(cols: Seq[String]) =
        base.agg(count(lit(1)).as("n_rows"))
          .crossJoin(base.select(cols.map(col): _*).distinct()
            .agg(count(lit(1)).as("n_distinct")))
          .select(lit(cols.mkString(",")).as("candidate"),
            col("n_rows"), col("n_distinct"),
            (col("n_rows") === col("n_distinct")).as("is_key"),
            expr("((n_rows - n_distinct) * 1000000) DIV n_rows").as("dup_ppm"))
      Seq(
        cand(Seq("o_orderkey")),
        cand(Seq("o_custkey")),
        cand(Seq("o_orderdate")),
        cand(Seq("o_custkey", "o_orderdate")),
        cand(Seq("o_orderstatus", "o_orderpriority")))
        .reduce(_.unionByName(_))
        .orderBy(col("candidate"))
    },
    Some {
      def candSql(cols: Seq[String]) =
        s"""SELECT '${cols.mkString(",")}' AS candidate,
          (SELECT COUNT(*) FROM orders) AS n_rows,
          (SELECT COUNT(*) FROM (SELECT DISTINCT ${cols.mkString(", ")} FROM orders))
            AS n_distinct"""
      Seq(
        Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderdate"),
        Seq("o_custkey", "o_orderdate"), Seq("o_orderstatus", "o_orderpriority"))
        .map(candSql)
        .mkString(
          "SELECT candidate, n_rows, n_distinct, n_rows = n_distinct AS is_key,\n" +
            "  CAST(((n_rows - n_distinct) * 1000000) // n_rows AS BIGINT) AS dup_ppm\n" +
            "FROM (\n", "\nUNION ALL\n", "\n) ORDER BY candidate")
    })

  // --------------------------------------------------------------- q163
  // DATA-CONTRACT BATTERY — the declarative expectation suite a platform
  // runs on every load (dbt tests / Great Expectations): not-null,
  // enum-domain, numeric-range and timestamp-plausibility rules over
  // three tables, one verdict row per rule. A NULL predicate counts as
  // a VIOLATION (contract semantics: unknown is not compliant). Each
  // table is ONE scan with a conditional sum per rule, exploded to
  // per-rule rows afterward — adding a rule adds an aggregate column,
  // never a pass, so the battery's cost is constant in the rule count's
  // scan term and unchanged at 100 TB. Uniqueness and referential rules
  // deliberately live elsewhere (q160, q159) — this battery is the
  // row-local layer of the same contract.
  private val q163 = QueryDef(
    "q163_contract_check",
    (s, dir) => {
      def battery(tbl: String, df: org.apache.spark.sql.DataFrame,
                  rules: Seq[(String, String)]) = {
        val agg = df.agg(count(lit(1)).as("n_rows"),
          rules.map { case (id, pred) =>
            sum(when(expr(pred), 0L).otherwise(1L)).as(s"v_$id")
          }: _*)
        agg.select(col("n_rows"), explode(expr(rules.map { case (id, _) =>
            s"struct('$id' AS rule_id, v_$id AS n_violations)"
          }.mkString("array(", ", ", ")"))).as("x"))
          .select(col("x.rule_id"), lit(tbl).as("table_name"), col("n_rows"),
            col("x.n_violations"), (col("x.n_violations") === 0L).as("pass"))
      }
      Seq(
        battery("orders", rd(s, dir, "orders"), Seq(
          "r01_orderkey_not_null" -> "o_orderkey IS NOT NULL",
          "r02_totalprice_positive" -> "o_totalprice > 0",
          "r03_status_domain" -> "o_orderstatus IN ('O', 'F', 'P')")),
        battery("lineitem", rd(s, dir, "lineitem"), Seq(
          "r04_quantity_range" -> "l_quantity BETWEEN 1 AND 50",
          "r05_discount_range" -> "l_discount BETWEEN 0 AND 0.1",
          "r06_returnflag_domain" -> "l_returnflag IN ('N', 'A', 'R')")),
        battery("events", events(s, dir), Seq(
          "r07_ts_plausible" ->
            "ts >= timestamp'2020-01-01 00:00:00' AND ts < timestamp'2030-01-01 00:00:00'")))
        .reduce(_.unionByName(_))
        .orderBy(col("rule_id"))
    },
    Some {
      def ruleSql(id: String, tbl: String, pred: String) =
        s"""SELECT '$id' AS rule_id, '$tbl' AS table_name,
          COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
          SUM(CASE WHEN $pred THEN 0 ELSE 1 END) = 0 AS pass
        FROM $tbl"""
      Seq(
        ruleSql("r01_orderkey_not_null", "orders", "o_orderkey IS NOT NULL"),
        ruleSql("r02_totalprice_positive", "orders", "o_totalprice > 0"),
        ruleSql("r03_status_domain", "orders", "o_orderstatus IN ('O', 'F', 'P')"),
        ruleSql("r04_quantity_range", "lineitem", "l_quantity BETWEEN 1 AND 50"),
        ruleSql("r05_discount_range", "lineitem", "l_discount BETWEEN 0 AND 0.1"),
        ruleSql("r06_returnflag_domain", "lineitem", "l_returnflag IN ('N', 'A', 'R')"),
        ruleSql("r07_ts_plausible", "events",
          "ts >= TIMESTAMP '2020-01-01 00:00:00' AND ts < TIMESTAMP '2030-01-01 00:00:00'"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY rule_id")
    })

  // --------------------------------------------------------------- q168
  // SALT-FACTOR PLANNER — the configuration producer for the skew-join
  // mitigation this engine already ships (q83 / operators/SaltedJoin):
  // given a join key, find the keys whose row counts exceed the
  // per-task target and emit each one's replication factor
  // ⌈count / target⌉, where target = max(total DIV 200, 1) (≈ rows per
  // shuffle task at 200 partitions). Uniform keys produce NO rows
  // (orders.o_custkey — audited empty by the fixture); skewed keys
  // produce the exact salt map a q83-style join consumes. Plan: one
  // map-side-combined count per audited key, a scalar crossJoin, a
  // filter — the planner costs one aggregate per key, never a pass
  // over pairs.
  private val q168 = QueryDef(
    "q168_salt_planner",
    (s, dir) => {
      def plan(df: org.apache.spark.sql.DataFrame, key: String, name: String) = {
        val counts = df.select(col(key).cast("string").as("k"))
          .filter(col("k").isNotNull)
          .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        counts.crossJoin(
            counts.agg(expr("greatest(sum(cnt) DIV 200, 1L)").as("target")))
          .withColumn("salt_factor", expr("(cnt + target - 1) DIV target"))
          .filter(col("salt_factor") > 1)
          .select(lit(name).as("join_key"), col("k").as("key"),
            col("cnt"), col("salt_factor"))
      }
      plan(events(s, dir), "event_type", "events.event_type")
        .unionByName(plan(rd(s, dir, "orders"), "o_custkey", "orders.o_custkey"))
        .orderBy(col("join_key"), col("key"))
    },
    Some("""SELECT * FROM (
      WITH c1 AS (SELECT CAST(event_type AS VARCHAR) AS k, COUNT(*) AS cnt
                  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
      t1 AS (SELECT GREATEST(SUM(cnt) // 200, 1) AS target FROM c1),
      c2 AS (SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS cnt
             FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      t2 AS (SELECT GREATEST(SUM(cnt) // 200, 1) AS target FROM c2)
      SELECT 'events.event_type' AS join_key, k AS key, cnt,
        CAST((cnt + target - 1) // target AS BIGINT) AS salt_factor
      FROM c1 CROSS JOIN t1 WHERE (cnt + target - 1) // target > 1
      UNION ALL
      SELECT 'orders.o_custkey', k, cnt,
        CAST((cnt + target - 1) // target AS BIGINT)
      FROM c2 CROSS JOIN t2 WHERE (cnt + target - 1) // target > 1
    ) ORDER BY join_key, key"""))

  // --------------------------------------------------------------- q171
  // MERKLE-STYLE TABLE DIFF — cross-snapshot reconciliation (the
  // data-diff / anti-entropy operator): comparing two 100 TB snapshots
  // row-by-row is a full-table shuffle, so production diffs go in two
  // phases — (1) per-bucket count + order-independent checksum on both
  // sides (map-side combined; only |buckets| rows ever move), (2) a
  // row-level full outer join restricted BY SEMI-JOIN to the buckets
  // whose checksums disagree, so row work is proportional to the
  // CHANGED region, not the table. The changed snapshot is planted
  // deterministically (id ≡ 0 mod 41: price drifts by 1 cent; mod 43,
  // not 41: row lost; mod 47, not 41/43: a new row appears with the
  // id offset by 10⁶ — the m16 discipline). Output: the differing-
  // bucket count plus added/removed/changed rows with exact id
  // checksums. No driver-side bucket list — the phase-2 restriction is
  // a semi-join, so the plan is identical at any bucket count.
  private val q171 = QueryDef(
    "q171_table_diff",
    (s, dir) => {
      val base = rd(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val changed = base
        .withColumn("cents",
          expr("CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END"))
        .filter(expr("NOT (k % 41 <> 0 AND k % 43 = 0)"))
        .unionByName(base
          .filter(expr("k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0"))
          .select((col("k") + 1000000L).as("k"), col("cents")))
      def digest(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 64)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            (sum((col("k") * 1000003L + col("cents")) % HashMod) % HashMod).as("ck"))
      val diffBuckets = digest(base).withColumnRenamed("n", "n_b").withColumnRenamed("ck", "ck_b")
        .join(digest(changed).withColumnRenamed("n", "n_c").withColumnRenamed("ck", "ck_c"),
          Seq("bucket"), "full")
        .filter(!(col("n_b") <=> col("n_c")) || !(col("ck_b") <=> col("ck_c")))
        .select(col("bucket"))
      def inDiff(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 64)
          .join(diffBuckets, Seq("bucket"), "left_semi")
      val rows = inDiff(base).select(col("k"), col("cents").as("cents_b"))
        .join(inDiff(changed).select(col("k"), col("cents").as("cents_c")),
          Seq("k"), "full")
        .withColumn("status", expr("""CASE
            WHEN cents_b IS NULL THEN 'added'
            WHEN cents_c IS NULL THEN 'removed'
            WHEN cents_b <> cents_c THEN 'changed' END"""))
        .filter(col("status").isNotNull)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          (sum(col("k") % HashMod) % HashMod).as("key_checksum"))
      diffBuckets.agg(count(lit(1)).as("n"),
          coalesce(sum(col("bucket")), lit(0L)).as("key_checksum"))
        .select(lit("buckets_differing").as("status"), col("n"), col("key_checksum"))
        .unionByName(rows)
        .orderBy(col("status"))
    },
    Some(s"""WITH base AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    changed AS (
      SELECT k, CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM base WHERE NOT (k % 41 <> 0 AND k % 43 = 0)
      UNION ALL
      SELECT k + 1000000, cents FROM base
      WHERE k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0),
    db AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM base GROUP BY 1),
    dc AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM changed GROUP BY 1),
    diffb AS (SELECT COALESCE(db.bucket, dc.bucket) AS bucket
              FROM db FULL JOIN dc ON db.bucket = dc.bucket
              WHERE db.n IS DISTINCT FROM dc.n OR db.ck IS DISTINCT FROM dc.ck),
    rb AS (SELECT * FROM base WHERE k % 64 IN (SELECT bucket FROM diffb)),
    rc AS (SELECT * FROM changed WHERE k % 64 IN (SELECT bucket FROM diffb)),
    d AS (SELECT COALESCE(rb.k, rc.k) AS k,
            CASE WHEN rb.k IS NULL THEN 'added'
                 WHEN rc.k IS NULL THEN 'removed'
                 WHEN rb.cents <> rc.cents THEN 'changed' END AS status
          FROM rb FULL JOIN rc ON rb.k = rc.k),
    rows_out AS (SELECT status, COUNT(*) AS n,
            CAST(SUM(k % $HashMod) % $HashMod AS BIGINT) AS key_checksum
          FROM d WHERE status IS NOT NULL GROUP BY status)
    SELECT * FROM (
      SELECT 'buckets_differing' AS status, COUNT(*) AS n,
        CAST(COALESCE(SUM(bucket), 0) AS BIGINT) AS key_checksum FROM diffb
      UNION ALL SELECT status, n, key_checksum FROM rows_out
    ) ORDER BY status"""))

  // --------------------------------------------------------------- q176
  // REPLICATION-IMPACT SWEEP — the referential half of the snapshot
  // diff: q171 tells you WHICH orders drifted between primary and
  // replica; this report prices what that drift BREAKS downstream —
  // every lineitem still referencing a dropped order is an orphan the
  // moment a failover promotes the replica, and every changed order
  // taints its lines' join results. Phase 1/2 are exactly q171's
  // two-phase machinery (bucket digests → semi-join-restricted row
  // diff) producing the per-status key sets; phase 3 joins those keys
  // (diff-sized — tiny relative to the table, broadcast at any scale)
  // into lineitem once and rolls up per status: drifted orders,
  // affected lineitems, and the affected line value in cents. The
  // oracle replays the planted mutation arithmetic. 'added' orders
  // (replica-only, key+10⁶) have no lines by construction — the row
  // pins that a failover ADDS no orphans, only removals do.
  private val q176 = QueryDef(
    "q176_replication_impact",
    (s, dir) => {
      val base = rd(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val replica = base
        .withColumn("cents",
          expr("CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END"))
        .filter(expr("NOT (k % 41 <> 0 AND k % 43 = 0)"))
        .unionByName(base
          .filter(expr("k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0"))
          .select((col("k") + 1000000L).as("k"), col("cents")))
      def digest(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 64)
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"),
            (sum((col("k") * 1000003L + col("cents")) % HashMod) % HashMod).as("ck"))
      val diffBuckets = digest(base).withColumnRenamed("n", "n_b").withColumnRenamed("ck", "ck_b")
        .join(digest(replica).withColumnRenamed("n", "n_c").withColumnRenamed("ck", "ck_c"),
          Seq("bucket"), "full")
        .filter(!(col("n_b") <=> col("n_c")) || !(col("ck_b") <=> col("ck_c")))
        .select(col("bucket"))
      def inDiff(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("bucket", col("k") % 64)
          .join(diffBuckets, Seq("bucket"), "left_semi")
      val drifted = inDiff(base).select(col("k"), col("cents").as("cents_p"))
        .join(inDiff(replica).select(col("k"), col("cents").as("cents_r")),
          Seq("k"), "full")
        .withColumn("status", expr("""CASE
            WHEN cents_p IS NULL THEN 'added'
            WHEN cents_r IS NULL THEN 'removed'
            WHEN cents_p <> cents_r THEN 'changed' END"""))
        .filter(col("status").isNotNull)
        .select(col("k"), col("status"))
        .localCheckpoint() // diff-sized; feeds the rollup and the FK join
      val lines = rd(s, dir, "lineitem").select(col("l_orderkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("lc"))
      drifted
        .join(lines, col("k") === col("l_orderkey"), "left")
        .groupBy(col("status"))
        .agg(countDistinct(col("k")).as("n_orders"),
          count(col("l_orderkey")).as("n_lineitems"),
          coalesce(sum(col("lc")), lit(0L)).as("line_value_cents"))
        .orderBy(col("status"))
    },
    Some(s"""WITH base AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    replica AS (
      SELECT k, CASE WHEN k % 41 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM base WHERE NOT (k % 41 <> 0 AND k % 43 = 0)
      UNION ALL
      SELECT k + 1000000, cents FROM base
      WHERE k % 41 <> 0 AND k % 43 <> 0 AND k % 47 = 0),
    db AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM base GROUP BY 1),
    dc AS (SELECT k % 64 AS bucket, COUNT(*) AS n,
             CAST(SUM((k * 1000003 + cents) % $HashMod) % $HashMod AS BIGINT) AS ck
           FROM replica GROUP BY 1),
    diffb AS (SELECT COALESCE(db.bucket, dc.bucket) AS bucket
              FROM db FULL JOIN dc ON db.bucket = dc.bucket
              WHERE db.n IS DISTINCT FROM dc.n OR db.ck IS DISTINCT FROM dc.ck),
    rb AS (SELECT * FROM base WHERE k % 64 IN (SELECT bucket FROM diffb)),
    rc AS (SELECT * FROM replica WHERE k % 64 IN (SELECT bucket FROM diffb)),
    drift AS (SELECT COALESCE(rb.k, rc.k) AS k,
            CASE WHEN rb.k IS NULL THEN 'added'
                 WHEN rc.k IS NULL THEN 'removed'
                 WHEN rb.cents <> rc.cents THEN 'changed' END AS status
          FROM rb FULL JOIN rc ON rb.k = rc.k),
    d AS (SELECT k, status FROM drift WHERE status IS NOT NULL)
    SELECT status,
      CAST(COUNT(DISTINCT d.k) AS BIGINT) AS n_orders,
      COUNT(l.l_orderkey) AS n_lineitems,
      CAST(COALESCE(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT)
        AS line_value_cents
    FROM d LEFT JOIN lineitem l ON l.l_orderkey = d.k
    GROUP BY status ORDER BY status"""))

  // --------------------------------------------------------------- q177
  // MAX-MIN FAIR-SHARE ALLOCATION — the admission-control arithmetic a
  // multi-tenant cluster runs every scheduling cycle (YARN/K8s fair
  // scheduler semantics): given each tenant's demand and a capacity of
  // half the total, water-fill — everyone whose demand fits under the
  // rising water level is fully satisfied, the rest are capped at the
  // level, and the integer remainder goes one unit each to the first
  // capped tenants in sorted order (deterministic, no fractional
  // shares). The closed form needs no loop: sort tenants by demand,
  // one cumulative-sum window gives P_k; the saturation point j is the
  // largest k with d_k·(n−k+1) + P_{k−1} ≤ C; the level is
  // t = (C − P_j) DIV (n − j). The tenant table is aggregate-sized
  // (16 rows here; thousands at scale), so the global-order window is
  // a deliberate non-hazard — the EVENT scan below it is the only
  // data-sized pass. Oracle replays the identical formula.
  private val q177 = QueryDef(
    "q177_fair_share",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("demand"), col("tenant"))
      val ten = events(s, dir)
        .groupBy((col("user_id") % 16).as("tenant"))
        .agg(count(lit(1)).as("demand"))
        .withColumn("k", row_number().over(w))
        .withColumn("p", sum(col("demand")).over(w))
      val tot = ten.agg(sum(col("demand")).as("td"), count(lit(1)).as("n"))
        .withColumn("cap", expr("td DIV 2"))
      val j = ten.crossJoin(broadcast(tot))
        .filter(col("demand") * (col("n") - col("k") + 1) + col("p") - col("demand") <= col("cap"))
        .agg(coalesce(max(col("k")), lit(0L)).as("j"))
      val pj = ten.crossJoin(broadcast(j))
        .filter(col("k") === col("j"))
        .agg(coalesce(max(col("p")), lit(0L)).as("pj"))
      ten.crossJoin(broadcast(tot)).crossJoin(broadcast(j)).crossJoin(broadcast(pj))
        .withColumn("t", expr(
          "CASE WHEN j >= n THEN 0 ELSE (cap - pj) DIV (n - j) END"))
        .withColumn("leftover", expr(
          "CASE WHEN j >= n THEN 0 ELSE cap - pj - t * (n - j) END"))
        .withColumn("share", expr("""CASE
            WHEN k <= j THEN demand
            WHEN k <= j + leftover THEN t + 1
            ELSE t END"""))
        .select(col("tenant"), col("demand"), col("share"),
          (col("share") < col("demand")).as("saturated"))
        .orderBy(col("tenant"))
    },
    Some("""WITH ten AS (
      SELECT user_id % 16 AS tenant, COUNT(*) AS demand
      FROM events GROUP BY 1),
    o AS (SELECT tenant, demand,
        ROW_NUMBER() OVER (ORDER BY demand, tenant) AS k,
        SUM(demand) OVER (ORDER BY demand, tenant
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM ten),
    tot AS (SELECT SUM(demand) AS td, COUNT(*) AS n, SUM(demand) // 2 AS cap
            FROM ten),
    jj AS (SELECT COALESCE(MAX(k), 0) AS j FROM o, tot
           WHERE demand * (n - k + 1) + p - demand <= cap),
    pj AS (SELECT COALESCE(MAX(p), 0) AS pj FROM o, jj WHERE k = j),
    lvl AS (SELECT CASE WHEN j >= n THEN 0 ELSE (cap - pj) // (n - j) END AS t,
              CASE WHEN j >= n THEN 0
                   ELSE cap - pj - ((cap - pj) // (n - j)) * (n - j) END AS leftover
            FROM tot, jj, pj),
    sh AS (SELECT tenant, demand,
        CASE WHEN k <= j THEN demand
             WHEN k <= j + leftover THEN t + 1
             ELSE t END AS share
      FROM o, tot, jj, pj, lvl)
    SELECT tenant, CAST(demand AS BIGINT) AS demand,
      CAST(share AS BIGINT) AS share,
      share < demand AS saturated
    FROM sh ORDER BY tenant"""))

  // --------------------------------------------------------------- q172
  // BEHAVIORAL BOT SCREEN — automated-traffic triage before events
  // feed analytics or training data: humans are bursty and irregular,
  // bots are fast and metronomic. Per user, three exact behavioral
  // statistics — event count, mean inter-event gap, and the gap
  // variance-to-mean-squared ratio (the regularity signal, in integer
  // ppm via the Σg²/Σg form so no float accumulates) — and a verdict:
  // `bot` when a high-volume user's gaps are nearly uniform
  // (ratio < 5%), `burst` when the mean gap is subsecond, else
  // `human`. Gaps come from one LAG window partitioned by user_id
  // (high cardinality — no skew funnel); everything after is one
  // map-side-combined aggregate per user and a 3-row rollup. Variance
  // identity: n·Σg² − (Σg)² over (Σg)², all BIGINT (gaps in ms bound
  // the squares inside int64 for month-scale spans).
  private val q172 = QueryDef(
    "q172_bot_screen",
    (s, dir) => {
      val gaps = events(s, dir)
        .select(col("user_id"), col("event_id"), expr("unix_micros(ts)").as("us"))
        .withColumn("gap_ms", expr("(us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)) DIV 1000"))
        .filter(col("gap_ms").isNotNull)
      // a single squared gap fits int64 (month-scale ms ² ≈ 6.9e18) but
      // their SUM does not — accumulate Σg² in DECIMAL(38,0)/HUGEINT
      val per = gaps.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_ms")).as("sg"),
        sum((col("gap_ms") * col("gap_ms"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sg2"))
        .filter(col("n_gaps") >= 3 && col("sg") > 0)
        .withColumn("mean_gap_ms", expr("sg DIV n_gaps"))
        .withColumn("cv2_ppm", expr("((n_gaps * sg2 - sg * sg) * 1000000) DIV (sg * sg)"))
        .withColumn("verdict", expr("""CASE
            WHEN cv2_ppm < 50000 THEN 'bot'
            WHEN mean_gap_ms < 1000 THEN 'burst'
            ELSE 'human' END"""))
      per.groupBy(col("verdict")).agg(
          count(lit(1)).as("n_users"),
          sum(col("n_gaps") + 1).as("n_events"),
          (sum(col("user_id") % HashMod) % HashMod).as("user_checksum"))
        .orderBy(col("verdict"))
    },
    Some(s"""WITH g AS (
      SELECT user_id, event_id,
        (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
          ORDER BY epoch_us(ts), event_id)) // 1000 AS gap_ms
      FROM events),
    per AS (SELECT user_id, COUNT(*) AS n_gaps,
        CAST(SUM(gap_ms) AS BIGINT) AS sg,
        SUM(CAST(gap_ms * gap_ms AS HUGEINT)) AS sg2
      FROM g WHERE gap_ms IS NOT NULL GROUP BY user_id),
    v AS (SELECT user_id, n_gaps,
        CASE WHEN ((n_gaps * sg2 - sg * sg) * 1000000) // (sg * sg) < 50000
               THEN 'bot'
             WHEN sg // n_gaps < 1000 THEN 'burst'
             ELSE 'human' END AS verdict
      FROM per WHERE n_gaps >= 3 AND sg > 0)
    SELECT verdict, COUNT(*) AS n_users,
      CAST(SUM(n_gaps + 1) AS BIGINT) AS n_events,
      CAST(SUM(user_id % $HashMod) % $HashMod AS BIGINT) AS user_checksum
    FROM v GROUP BY verdict ORDER BY verdict"""))

  // --------------------------------------------------------------- q181
  // FK-CASCADE DELETE PLAN — the transitive closure q138's direct-keyed
  // sweep cannot see: deleting a customer orphans their orders'
  // lineitems (q159's orphan class) unless the delete FOLLOWS the FK
  // graph. Two deletion roots run in one plan — the customer chain
  // (customer → orders → lineitem, depth 2) and the supplier direct
  // edge (supplier → lineitem, depth 1) — the real right-to-be-forgotten
  // batch shape, where one request file names subjects of several entity
  // types and a lineitem reached by BOTH roots must be deleted (and
  // counted) exactly once. The frontier propagates as joins: the subject
  // lists are request-file-sized (broadcast); deleted-orders → lineitem
  // is an equi-join on the FK itself (the table's natural key — shuffle
  // co-partitions, AQE broadcasts when the frontier is small). The
  // lineitem verdict is ONE scan with two frontier left-joins providing
  // by_chain/by_supplier flags, so union-dedup and overlap accounting
  // cost no second pass. Output per (tbl, depth): rows, cent mass, and
  // the row checksum that pins the exact delete set; the overlap row
  // proves double-reached rows were deduplicated, not double-counted.
  private val q181 = QueryDef(
    "q181_fk_cascade",
    (s, dir) => {
      val subjC = rd(s, dir, "customer").filter(expr("c_custkey % 97 = 7"))
      val subjS = rd(s, dir, "supplier").filter(expr("s_suppkey % 7 = 3"))
      val delOrd = rd(s, dir, "orders")
        .join(broadcast(subjC.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .localCheckpoint()
      def row(tbl: String, depth: Int, df: org.apache.spark.sql.DataFrame,
          cents: String, rowId: String) =
        df.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(expr(cents)), lit(0L)).as("cents"),
            coalesce(sum(expr(s"($rowId) % $HashMod")) % lit(HashMod), lit(0L)).as("row_checksum"))
          .select(lit(tbl).as("tbl"), lit(depth.toLong).as("depth"),
            col("n_rows"), col("cents"), col("row_checksum"))
      val li = rd(s, dir, "lineitem")
        .join(delOrd.select(col("o_orderkey"), lit(1).as("by_chain")),
          col("l_orderkey") === col("o_orderkey"), "left")
        .join(broadcast(subjS.select(col("s_suppkey"), lit(1).as("by_supp"))),
          col("l_suppkey") === col("s_suppkey"), "left")
        .filter(col("by_chain") === 1 || col("by_supp") === 1)
      row("customer", 0, subjC,
          "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)", "c_custkey")
        .unionAll(row("supplier", 0, subjS,
          "CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)", "s_suppkey"))
        .unionAll(row("orders", 1, delOrd,
          "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)", "o_orderkey"))
        .unionAll(row("lineitem", 2, li,
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
          "l_orderkey * 7 + l_linenumber"))
        .unionAll(row("lineitem_overlap", 2,
          li.filter(col("by_chain") === 1 && col("by_supp") === 1),
          "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)",
          "l_orderkey * 7 + l_linenumber"))
        .orderBy(col("tbl"), col("depth"))
    },
    Some(s"""WITH subjc AS (SELECT * FROM customer WHERE c_custkey % 97 = 7),
    subjs AS (SELECT * FROM supplier WHERE s_suppkey % 7 = 3),
    dord AS (SELECT o.* FROM orders o JOIN subjc s ON o.o_custkey = s.c_custkey),
    li AS (SELECT l.*,
        (l.l_orderkey IN (SELECT o_orderkey FROM dord)) AS by_chain,
        (l.l_suppkey IN (SELECT s_suppkey FROM subjs)) AS by_supp
      FROM lineitem l)
    SELECT 'customer' AS tbl, CAST(0 AS BIGINT) AS depth, COUNT(*) AS n_rows,
      CAST(COALESCE(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT) AS cents,
      CAST(COALESCE(SUM(c_custkey % $HashMod) % $HashMod, 0) AS BIGINT) AS row_checksum
    FROM subjc
    UNION ALL
    SELECT 'supplier', 0, COUNT(*),
      CAST(COALESCE(SUM(CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM(s_suppkey % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM subjs
    UNION ALL
    SELECT 'orders', 1, COUNT(*),
      CAST(COALESCE(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM(o_orderkey % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM dord
    UNION ALL
    SELECT 'lineitem', 2, COUNT(*),
      CAST(COALESCE(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM((l_orderkey * 7 + l_linenumber) % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM li WHERE by_chain OR by_supp
    UNION ALL
    SELECT 'lineitem_overlap', 2, COUNT(*),
      CAST(COALESCE(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)), 0) AS BIGINT),
      CAST(COALESCE(SUM((l_orderkey * 7 + l_linenumber) % $HashMod) % $HashMod, 0) AS BIGINT)
    FROM li WHERE by_chain AND by_supp
    ORDER BY tbl, depth"""))

  // --------------------------------------------------------------- q184
  // DIFFERENTIALLY-PRIVATE NOISY RELEASE — the publication step after
  // q137's k-anonymity audit: per-segment count and clipped-sum of
  // account balances released with Laplace noise (ε = 1 each, sequential
  // composition ε_total = 2 per group; groups are disjoint so the
  // per-table budget is also 2). The two DP mechanics that matter are
  // both real here: (1) CONTRIBUTION CLIPPING — each customer's cents
  // are clamped to ±ClipCents before summing, which is what bounds the
  // sum's sensitivity to ClipCents (an unclipped SUM has unbounded
  // sensitivity and no finite noise scale fixes it); the clip count is
  // reported because clipping is the bias the analyst must price.
  // (2) CALIBRATED NOISE — Laplace(Δ/ε) via the inverse CDF
  // X = −(Δ/ε)·sgn(u−½)·ln(1−2|u−½|), with u derived from the house
  // scrambled hash of (statistic, group) so the draw is deterministic
  // and the ORACLE CHECKS THE RELEASED VALUES THEMSELVES, not just
  // bounds (q180's estimator-determinism discipline; a production
  // release swaps the hash for a CSPRNG and drops the *_true columns —
  // they exist here for the utility readout). The ln is the house lnQ
  // 1e-4 quantization, so noise arithmetic is exact int64 on both
  // engines, and the sign is applied OUTSIDE the division (magnitudes
  // are non-negative) to dodge the Spark-DIV-truncates vs DuckDB-//-
  // floors divergence on negatives (t36's hazard). Scale: one map-side-
  // combined aggregate over customer; noise is per-GROUP pure codegen
  // over the 5-row aggregate — the plan is a single scan at any corpus
  // size, no joins, no windows.
  private val DpClipCents = 500000L // ±$5,000.00 per-subject contribution clip

  private val q184 = QueryDef(
    "q184_dp_release",
    (s, dir) => {
      rd(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_true"),
          sum(expr(s"LEAST(GREATEST(cents, -$DpClipCents), $DpClipCents)")).as("sum_true"),
          sum(when(expr(s"abs(cents) > $DpClipCents"), 1L).otherwise(0L)).as("n_clipped"))
        // one uniform draw per (statistic, group): u ∈ [0, 1e6) ppm
        .withColumn("uc", expr(
          s"(${strHashExpr("concat('count|', seg)")} * 2654435761) % $HashMod % 1000000"))
        .withColumn("us", expr(
          s"(${strHashExpr("concat('sum|', seg)")} * 2654435761) % $HashMod % 1000000"))
        // |u − ½| capped below ½ so ln(1−2|u−½|) stays finite; magnitude
        // −ln(1−2a/1e6) ≥ 0 in exact 1e-4 units via the lnQ difference
        .withColumn("magc", expr(
          s"${lnQ("1000000")} - ${lnQ("1000000 - 2 * LEAST(abs(uc - 500000), 499999)")}"))
        .withColumn("mags", expr(
          s"${lnQ("1000000")} - ${lnQ("1000000 - 2 * LEAST(abs(us - 500000), 499999)")}"))
        // count: Δ=1, ε=1 → scale 1; sum: Δ=ClipCents, ε=1 → scale ClipCents
        .withColumn("released_n", expr(
          "n_true + (CASE WHEN uc < 500000 THEN -1 ELSE 1 END) * (magc DIV 10000)"))
        .withColumn("released_cents", expr(
          s"sum_true + (CASE WHEN us < 500000 THEN -1 ELSE 1 END) * (($DpClipCents * mags) DIV 10000)"))
        .select(col("seg"), col("n_true"), col("released_n"),
          abs(col("released_n") - col("n_true")).as("count_abs_err"),
          col("sum_true"), col("n_clipped"), col("released_cents"),
          abs(col("released_cents") - col("sum_true")).as("sum_abs_err"),
          lit(2000000L).as("eps_ppm"))
        .orderBy(col("seg"))
    },
    Some(s"""WITH stats AS (
      SELECT c_mktsegment AS seg, COUNT(*) AS n_true,
        SUM(LEAST(GREATEST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT),
                           -$DpClipCents), $DpClipCents)) AS sum_true,
        SUM(CASE WHEN abs(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                      > $DpClipCents THEN 1 ELSE 0 END) AS n_clipped
      FROM customer GROUP BY 1),
    draws AS (
      SELECT seg, n_true, sum_true, n_clipped,
        (${strHashSql("concat('count|', seg)")} * 2654435761) % $HashMod % 1000000 AS uc,
        (${strHashSql("concat('sum|', seg)")} * 2654435761) % $HashMod % 1000000 AS us
      FROM stats),
    noise AS (
      SELECT seg, n_true, sum_true, n_clipped, uc, us,
        ${lnQ("1000000")} - ${lnQ("1000000 - 2 * LEAST(abs(uc - 500000), 499999)")} AS magc,
        ${lnQ("1000000")} - ${lnQ("1000000 - 2 * LEAST(abs(us - 500000), 499999)")} AS mags
      FROM draws),
    rel AS (
      SELECT seg, n_true,
        n_true + (CASE WHEN uc < 500000 THEN -1 ELSE 1 END) * (magc // 10000) AS released_n,
        sum_true, n_clipped,
        sum_true + (CASE WHEN us < 500000 THEN -1 ELSE 1 END)
                   * (($DpClipCents * mags) // 10000) AS released_cents
      FROM noise)
    SELECT seg, CAST(n_true AS BIGINT) AS n_true,
      CAST(released_n AS BIGINT) AS released_n,
      CAST(abs(released_n - n_true) AS BIGINT) AS count_abs_err,
      CAST(sum_true AS BIGINT) AS sum_true,
      CAST(n_clipped AS BIGINT) AS n_clipped,
      CAST(released_cents AS BIGINT) AS released_cents,
      CAST(abs(released_cents - sum_true) AS BIGINT) AS sum_abs_err,
      CAST(2000000 AS BIGINT) AS eps_ppm
    FROM rel ORDER BY seg"""))

  // --------------------------------------------------------------- q191
  // CRYPTO-SHREDDING — the right-to-be-forgotten mechanism that never
  // rewrites the data lake: payloads are stored encrypted under a
  // PER-SUBJECT key (here an additive cipher mod p as the deterministic
  // stand-in for AES — invertible, oracle-replayable), and forgetting a
  // subject = deleting one KEY row; the payload bytes stay on disk but
  // are unreadable. This turns q138's lake-wide deletion sweep into an
  // O(|request|) key-table delete — the design that makes RTBF feasible
  // when the subject's rows are scattered across 100 TB of immutable
  // files. The audit proves all three contract points in one row:
  // unreadable rows == exactly the shredded subjects' rows (no
  // over/under-shred), surviving rows decrypt EXACTLY to the source
  // (checksum equality through the encrypt→decrypt cycle), and a
  // wrong-key negative control decrypts to garbage (checksum differs) —
  // key possession, not data access, is what gates readability. Read
  // path = one key-table join (request-bounded broadcast at scale).
  private val ShredOffset = 10000000L // lift signed cents into [0, 2e7)

  private val q191 = QueryDef(
    "q191_crypto_shred",
    (s, dir) => {
      val enc = rd(s, dir, "customer").select(col("c_custkey").as("subject"),
          expr(s"CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + $ShredOffset")
            .as("plain"))
        .withColumn("key", expr(
          s"(${strHashExpr("concat('k|', CAST(subject AS STRING))")} * 2654435761) % $HashMod"))
        .withColumn("enc", expr(s"(plain + key) % $HashMod"))
        .localCheckpoint() // the immutable encrypted lake
      // the key table AFTER the shred request (subject % 1000 = 7 forgotten)
      val keys = enc.filter(col("subject") % 1000 =!= 7)
        .select(col("subject"), col("key").as("k2"))
      val read = enc.select(col("subject"), col("plain"), col("enc"))
        .join(keys, Seq("subject"), "left")
        .withColumn("dec", expr(s"(enc - k2 + $HashMod) % $HashMod"))
        .withColumn("dec_wrong", expr(s"(enc - (k2 + 1) + $HashMod) % $HashMod"))
      read.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("subject") % 1000 === 7, 1L).otherwise(0L)).as("n_requested"),
          sum(when(col("k2").isNull, 1L).otherwise(0L)).as("n_unreadable"),
          (sum(when(col("k2").isNotNull, col("dec") % HashMod).otherwise(0L)) % HashMod)
            .as("readable_ck"),
          (sum(when(col("subject") % 1000 =!= 7, col("plain") % HashMod).otherwise(0L))
            % HashMod).as("source_kept_ck"),
          (sum(when(col("k2").isNotNull, col("dec_wrong") % HashMod).otherwise(0L))
            % HashMod).as("wrong_key_ck"))
        .select(col("n_rows"), col("n_requested"), col("n_unreadable"),
          (col("n_unreadable") === col("n_requested")).as("shred_exact"),
          col("readable_ck"), col("source_kept_ck"),
          (col("readable_ck") === col("source_kept_ck")).as("decrypt_exact"),
          (col("wrong_key_ck") =!= col("source_kept_ck")).as("wrong_key_garbage"))
    },
    Some(s"""WITH enc AS (
      SELECT c_custkey AS subject,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + $ShredOffset AS plain,
        (${strHashSql("concat('k|', CAST(c_custkey AS VARCHAR))")} * 2654435761)
          % $HashMod AS key
      FROM customer),
    enc2 AS (SELECT subject, plain, key, (plain + key) % $HashMod AS enc FROM enc),
    keys AS (SELECT subject, key AS k2 FROM enc2 WHERE subject % 1000 <> 7),
    rd AS (SELECT e.subject, e.plain, e.enc, k.k2,
             (e.enc - k.k2 + $HashMod) % $HashMod AS dec,
             (e.enc - (k.k2 + 1) + $HashMod) % $HashMod AS dec_wrong
           FROM enc2 e LEFT JOIN keys k ON e.subject = k.subject),
    agg AS (SELECT COUNT(*) AS n_rows,
      SUM(CASE WHEN subject % 1000 = 7 THEN 1 ELSE 0 END) AS n_requested,
      SUM(CASE WHEN k2 IS NULL THEN 1 ELSE 0 END) AS n_unreadable,
      SUM(CASE WHEN k2 IS NOT NULL THEN dec % $HashMod ELSE 0 END) % $HashMod AS readable_ck,
      SUM(CASE WHEN subject % 1000 <> 7 THEN plain % $HashMod ELSE 0 END) % $HashMod AS source_kept_ck,
      SUM(CASE WHEN k2 IS NOT NULL THEN dec_wrong % $HashMod ELSE 0 END) % $HashMod AS wrong_key_ck
    FROM rd)
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
      CAST(n_requested AS BIGINT) AS n_requested,
      CAST(n_unreadable AS BIGINT) AS n_unreadable,
      n_unreadable = n_requested AS shred_exact,
      CAST(readable_ck AS BIGINT) AS readable_ck,
      CAST(source_kept_ck AS BIGINT) AS source_kept_ck,
      readable_ck = source_kept_ck AS decrypt_exact,
      wrong_key_ck <> source_kept_ck AS wrong_key_garbage
    FROM agg"""))

  // --------------------------------------------------------------- q192
  // WRITE-AUDIT-PUBLISH GATE — the lakehouse ingestion discipline that
  // keeps bad batches out of production tables: a staged batch (here
  // with three planted fault classes: duplicate primary keys, FK
  // orphans, and negative money — m16's contrast discipline) runs a
  // rule battery; ANY violation blocks the publish. The quarantine
  // policy then drops exactly the violating rows and the battery
  // re-runs on the repaired batch, which must come out clean — so the
  // output carries per-(stage, rule) violation counts with id
  // checksums, both publish verdicts, and the published/quarantined
  // digests that make the repair auditable. One battery, run twice
  // (shared frame, rule predicates are per-row codegen except the
  // PK-dup window and the FK anti-join — both keyed, never quadratic);
  // the FK dimension side is file-size-gated broadcast.
  private val q192 = QueryDef(
    "q192_wap_gate",
    (s, dir) => {
      val clean = rd(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_custkey").as("cust"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      // the staged batch: three deterministic fault plants
      val staged = clean
        .withColumn("cents",
          expr("CASE WHEN k % 97 = 0 THEN -cents ELSE cents END"))
        .withColumn("cust",
          expr("CASE WHEN k % 83 = 0 THEN -1 ELSE cust END"))
        .unionByName(clean.filter(col("k") % 89 === 0)
          .select(col("k"), col("cust"), (col("cents") + 1L).as("cents")))
        .localCheckpoint()
      val custKeys = bcastIfSmall(
        rd(s, dir, "customer").select(col("c_custkey").as("cust")), dir, "customer")
      def audit(batch: org.apache.spark.sql.DataFrame, stage: String) = {
        val dupKeys = batch.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > 1).select(col("k"))
        val pkViol = batch.join(dupKeys, Seq("k"), "left_semi")
        val fkViol = batch.join(custKeys, Seq("cust"), "left_anti")
        val negViol = batch.filter(col("cents") <= 0)
        def row(rule: String, v: org.apache.spark.sql.DataFrame) =
          v.agg(count(lit(1)).as("n"),
              coalesce(sum(col("k") % HashMod) % HashMod, lit(0L)).as("ck"))
            .select(lit(stage).as("stage"), lit(rule).as("rule"), col("n"), col("ck"),
              lit(null).cast("boolean").as("publish"))
        val verdict = pkViol.select(col("k")).unionAll(fkViol.select(col("k")))
          .unionAll(negViol.select(col("k")))
          .agg(count(lit(1)).as("n_viol"))
          .crossJoin(batch.agg(count(lit(1)).as("n"),
            (sum((col("k") * 1000003L + col("cents")) % HashMod) % HashMod).as("ck")))
          .select(lit(stage).as("stage"), lit("zz_verdict").as("rule"),
            col("n"), col("ck"), (col("n_viol") === 0).as("publish"))
        row("fk_orphan", fkViol)
          .unionByName(row("neg_money", negViol))
          .unionByName(row("pk_dup", pkViol))
          .unionByName(verdict)
      }
      // quarantine policy: drop every row any rule flagged, re-audit
      val dupKeys = staged.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1).select(col("k"))
      val repaired = staged
        .join(dupKeys, Seq("k"), "left_anti")
        .join(custKeys, Seq("cust"), "left_semi")
        .filter(col("cents") > 0)
        .localCheckpoint()
      audit(staged, "a_staged").unionByName(audit(repaired, "b_repaired"))
        .orderBy(col("stage"), col("rule"))
    },
    Some(s"""WITH clean AS (
      SELECT o_orderkey AS k, o_custkey AS cust,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders),
    staged AS (
      SELECT k, CASE WHEN k % 83 = 0 THEN -1 ELSE cust END AS cust,
        CASE WHEN k % 97 = 0 THEN -cents ELSE cents END AS cents
      FROM clean
      UNION ALL
      SELECT k, cust, cents + 1 FROM clean WHERE k % 89 = 0),
    dupk AS (SELECT k FROM staged GROUP BY k HAVING COUNT(*) > 1),
    repaired AS (
      SELECT * FROM staged
      WHERE k NOT IN (SELECT k FROM dupk)
        AND cust IN (SELECT c_custkey FROM customer)
        AND cents > 0),
    ${Seq("staged" -> "a_staged", "repaired" -> "b_repaired").map { case (b, tag) =>
        s"""pk_$b AS (SELECT s.* FROM $b s WHERE s.k IN
             (SELECT k FROM $b GROUP BY k HAVING COUNT(*) > 1)),
    fk_$b AS (SELECT * FROM $b WHERE cust NOT IN (SELECT c_custkey FROM customer)),
    ng_$b AS (SELECT * FROM $b WHERE cents <= 0),
    out_$b AS (
      SELECT '$tag' AS stage, 'fk_orphan' AS rule, COUNT(*) AS n,
        COALESCE(SUM(k % $HashMod) % $HashMod, 0) AS ck,
        CAST(NULL AS BOOLEAN) AS publish FROM fk_$b
      UNION ALL
      SELECT '$tag', 'neg_money', COUNT(*),
        COALESCE(SUM(k % $HashMod) % $HashMod, 0), NULL FROM ng_$b
      UNION ALL
      SELECT '$tag', 'pk_dup', COUNT(*),
        COALESCE(SUM(k % $HashMod) % $HashMod, 0), NULL FROM pk_$b
      UNION ALL
      SELECT '$tag', 'zz_verdict',
        (SELECT COUNT(*) FROM $b),
        (SELECT SUM((k * 1000003 + cents) % $HashMod) % $HashMod FROM $b),
        ((SELECT COUNT(*) FROM pk_$b) + (SELECT COUNT(*) FROM fk_$b)
          + (SELECT COUNT(*) FROM ng_$b)) = 0)"""
      }.mkString(",\n    ")}
    SELECT stage, rule, CAST(n AS BIGINT) AS n, CAST(ck AS BIGINT) AS ck, publish
    FROM (SELECT * FROM out_staged UNION ALL SELECT * FROM out_repaired)
    ORDER BY stage, rule"""))

  // --------------------------------------------------------------- q200
  // ROW-LEVEL SECURITY + COLUMN MASKING AUDIT — the per-role policy
  // layer the governance family still lacked (q137 k-anonymizes a
  // release, q153 checks diversity, q191 shreds keys; this: what each
  // ROLE actually sees). Two roles over customer: admin reads raw;
  // analyst gets a row filter (even nation keys only), a segment mask
  // (constant literal — unlinkable), a name HASH (joinable pseudonym,
  // q191's determinism), and a column deny (acctbal → NULL). The audit
  // proves each role's contract in-result (`policy_ok`: analyst sees
  // zero raw segments and zero balances, admin zero masked ones) and
  // emits the name checksums whose inequality shows pseudonymization
  // actually transformed the column. Scale: policies are row-local
  // projections — the filter pushes to the scan, masks are
  // codegen'd CASEs, and the audit is one aggregate per role.
  private val q200 = QueryDef(
    "q200_rls_mask",
    (s, dir) => {
      val cust = rd(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_nationkey"), col("c_acctbal"))
      def view(role: String) = {
        val base = if (role == "analyst") cust.filter(col("c_nationkey") % 2 === 0)
        else cust
        val masked =
          if (role == "analyst")
            base.select(
              lit(role).as("role"),
              expr(s"CAST(${strHashExpr("c_name")} AS STRING)").as("name_out"),
              lit("XXX-MASKED").as("seg_out"),
              lit(null).cast("decimal(18,2)").as("bal_out"))
          else
            base.select(lit(role).as("role"), col("c_name").as("name_out"),
              col("c_mktsegment").as("seg_out"),
              col("c_acctbal").cast("decimal(18,2)").as("bal_out"))
        masked
      }
      view("admin").unionByName(view("analyst"))
        .groupBy(col("role"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("seg_out") === "XXX-MASKED", 1L).otherwise(0L))
            .as("masked_segments"),
          sum(when(col("bal_out").isNull, 1L).otherwise(0L)).as("null_balances"),
          (sum(expr(s"${strHashExpr("name_out")}")) % HashMod).as("name_ck"))
        .withColumn("policy_ok",
          when(col("role") === "analyst",
            col("masked_segments") === col("n_rows") &&
              col("null_balances") === col("n_rows"))
            .otherwise(col("masked_segments") === 0L && col("null_balances") === 0L))
        .orderBy(col("role"))
    },
    Some(s"""WITH adm AS (
      SELECT 'admin' AS role, c_name AS name_out, c_mktsegment AS seg_out,
        CAST(c_acctbal AS DECIMAL(18,2)) AS bal_out
      FROM customer),
    ana AS (
      SELECT 'analyst' AS role,
        CAST(${strHashSql("c_name")} AS VARCHAR) AS name_out,
        'XXX-MASKED' AS seg_out, CAST(NULL AS DECIMAL(18,2)) AS bal_out
      FROM customer WHERE c_nationkey % 2 = 0),
    v AS (SELECT * FROM adm UNION ALL SELECT * FROM ana)
    SELECT role, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN seg_out = 'XXX-MASKED' THEN 1 ELSE 0 END) AS BIGINT)
        AS masked_segments,
      CAST(SUM(CASE WHEN bal_out IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_balances,
      CAST(SUM(${strHashSql("name_out")}) % $HashMod AS BIGINT) AS name_ck,
      CASE WHEN role = 'analyst'
           THEN SUM(CASE WHEN seg_out = 'XXX-MASKED' THEN 1 ELSE 0 END) = COUNT(*)
            AND SUM(CASE WHEN bal_out IS NULL THEN 1 ELSE 0 END) = COUNT(*)
           ELSE SUM(CASE WHEN seg_out = 'XXX-MASKED' THEN 1 ELSE 0 END) = 0
            AND SUM(CASE WHEN bal_out IS NULL THEN 1 ELSE 0 END) = 0 END AS policy_ok
    FROM v GROUP BY role ORDER BY role"""))

  // --------------------------------------------------------------- q202
  // DSAR EXPORT (subject access request) — the read-side twin of q191's
  // right-to-be-forgotten and q181's cascade DELETE plan: gather ONE
  // subject's rows across the FK closure (customer → orders →
  // lineitem), with sensitive payloads pseudonymized per the q200
  // policy (names hashed, money reduced to exact cents checksums —
  // auditable without shipping raw values). Completeness is proven
  // in-data, not assumed: the lineitem rows are fetched through the
  // orders bundle, and `complete` checks both that no fetched lineitem
  // is an orphan of the bundle (structural) and that re-counting
  // orders directly from the fact table matches the bundle — the same
  // two-path discipline q181 uses for deletes. Scale: one broadcast of
  // the 1-row subject key, two FK-pruned scans, manifest-sized output.
  private val q202 = QueryDef(
    "q202_dsar_export",
    (s, dir) => {
      val subject = rd(s, dir, "customer").agg(min(col("c_custkey")).as("k"))
      // cust has ONE consumer (its digest row) — no checkpoint needed;
      // ords/li are read 2-3 times inside the one final action, so lazy
      // checkpoints truncate the plan without a serialized job each (r22)
      val cust = rd(s, dir, "customer")
        .join(broadcast(subject), col("c_custkey") === col("k"))
      val ords = rd(s, dir, "orders")
        .join(broadcast(subject), col("o_custkey") === col("k"))
        .select(col("o_orderkey"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .localCheckpoint(eager = false)
      val li = rd(s, dir, "lineitem")
        .join(ords.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
        .localCheckpoint(eager = false)
      val custRow = cust.agg(count(lit(1)).as("n_rows"),
          (sum(col("c_custkey") % HashMod) % HashMod).as("key_checksum"),
          (sum(expr(strHashExpr("c_name"))) % HashMod).as("payload_checksum"))
        .select(lit("a_customer").as("table_name"), col("n_rows"),
          col("key_checksum"), col("payload_checksum"),
          lit(null).cast("boolean").as("complete"))
      // two-path order count: through the bundle vs directly off the scan
      val direct = rd(s, dir, "orders")
        .join(broadcast(subject), col("o_custkey") === col("k"))
        .agg(count(lit(1)).as("n_direct"))
      val ordRow = ords.agg(count(lit(1)).as("n_rows"),
          (sum(col("o_orderkey") % HashMod) % HashMod).as("key_checksum"),
          (sum(col("cents") % HashMod) % HashMod).as("payload_checksum"))
        .crossJoin(broadcast(direct))
        .select(lit("b_orders").as("table_name"), col("n_rows"),
          col("key_checksum"), col("payload_checksum"),
          (col("n_rows") === col("n_direct")).as("complete"))
      val orphans = li.join(ords.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      val liRow = li.agg(count(lit(1)).as("n_rows"),
          (sum((col("l_orderkey") * 7 + col("l_linenumber")) % HashMod) % HashMod)
            .as("key_checksum"),
          (sum(col("qty") % HashMod) % HashMod).as("payload_checksum"))
        .crossJoin(broadcast(orphans))
        .select(lit("c_lineitem").as("table_name"), col("n_rows"),
          col("key_checksum"), col("payload_checksum"),
          (col("n_orphans") === 0L).as("complete"))
      custRow.unionByName(ordRow).unionByName(liRow).orderBy(col("table_name"))
    },
    Some(s"""WITH subj AS (SELECT MIN(c_custkey) AS k FROM customer),
    cust AS (SELECT c.* FROM customer c JOIN subj ON c.c_custkey = subj.k),
    ords AS (SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
             FROM orders JOIN subj ON o_custkey = subj.k),
    li AS (SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
           FROM lineitem JOIN ords ON l_orderkey = o_orderkey),
    orph AS (SELECT COUNT(*) AS n_orphans FROM li
             WHERE NOT EXISTS (SELECT 1 FROM ords WHERE o_orderkey = l_orderkey)),
    direct AS (SELECT COUNT(*) AS n_direct
               FROM orders JOIN subj ON o_custkey = subj.k)
    SELECT 'a_customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(c_custkey % $HashMod) % $HashMod AS BIGINT) AS key_checksum,
      CAST(SUM(${strHashSql("c_name")}) % $HashMod AS BIGINT) AS payload_checksum,
      CAST(NULL AS BOOLEAN) AS complete
    FROM cust
    UNION ALL
    SELECT 'b_orders', COUNT(*),
      CAST(SUM(o_orderkey % $HashMod) % $HashMod AS BIGINT),
      CAST(SUM(cents % $HashMod) % $HashMod AS BIGINT),
      COUNT(*) = MAX(direct.n_direct)
    FROM ords CROSS JOIN direct
    UNION ALL
    SELECT 'c_lineitem', COUNT(*),
      CAST(SUM((l_orderkey * 7 + l_linenumber) % $HashMod) % $HashMod AS BIGINT),
      CAST(SUM(qty % $HashMod) % $HashMod AS BIGINT), MAX(orph.n_orphans) = 0
    FROM li CROSS JOIN orph
    ORDER BY table_name"""))

  val defs: Seq[QueryDef] =
    Seq(q137, q138, q139, q141, q143, q146, q153, q159, q160, q163, q168,
      q171, q172, q174, q176, q177, q181, q184, q191, q192, q200, q202)
}
