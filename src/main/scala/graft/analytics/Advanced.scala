package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * Advanced relational operators (round-3 widening of SURVEY §2.8):
 * PIVOT, LAG/LEAD offset windows, AS-OF join, range (non-equi interval)
 * join, and exact interpolated percentiles.
 *
 * Scale notes (100 TB): q25 pivots onto a FIXED value list (5 columns), so
 * it compiles to one hash aggregate with 5 conditional sums — no extra pass
 * to discover pivot values and no shuffle beyond the groupBy. q26/q27
 * window/partition on `user_id` (high cardinality — no skew funnel). q27 is
 * the sort-merge AS-OF shape: one union + one window instead of a
 * per-purchase range probe, so cost is O(n log n) in the partition, not
 * O(clicks × purchases). q28 broadcasts a constant 4-row tier table — a
 * nested-loop join against a broadcast side of 4 rows is a per-row map.
 * q29 is one partial/final aggregate; exact percentiles buffer per-group
 * values, which is fine for bounded groups (3 flags × bounded quantity
 * domain) — the unbounded-domain scale path is approx_percentile (q18's
 * sketch family).
 */
object Advanced {

  // ---------------------------------------------------------------- q25
  // PIVOT: order revenue by status × priority, priorities as columns.
  // The value list is explicit, so Catalyst skips the distinct-values
  // discovery job and emits one aggregate with 5 conditional sums.
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val q25 = QueryDef(
    "q25_pivot_priority",
    (s, dir) =>
      rd(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", priorities)
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderstatus")),
    Some(s"""SELECT o_orderstatus,
      ${priorities.map(p => s"""CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderpriority = '$p') AS DOUBLE) AS "$p"""").mkString(",\n      ")}
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q26
  // LAG/LEAD offset windows: per-user inter-event gaps in exact integer
  // microseconds, rolled up per event type. Deterministic tie-break via
  // (ts, event_id); all arithmetic on BIGINT micros — no float drift.
  private val q26 = QueryDef(
    "q26_event_gaps",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      events(s, dir)
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .filter(col("prev_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_gaps"),
          sum(col("ts_us") - col("prev_us")).as("sum_gap_us"),
          max(col("ts_us") - col("prev_us")).as("max_gap_us"),
          sum(when(col("next_us").isNull, 1L).otherwise(0L)).as("n_last"))
        .orderBy(col("event_type"))
    },
    Some("""WITH g AS (
      SELECT event_type, epoch_us(ts) AS ts_us,
        lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us,
        lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
      FROM events)
    SELECT event_type, COUNT(*) AS n_gaps,
      CAST(SUM(ts_us - prev_us) AS BIGINT) AS sum_gap_us,
      MAX(ts_us - prev_us) AS max_gap_us,
      CAST(SUM(CASE WHEN next_us IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_last
    FROM g WHERE prev_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q27
  // AS-OF join: each purchase matched to the latest click at-or-before it
  // by the same user. Spark lacks a native AS-OF operator, so this is the
  // scale-safe union+window form: tag both sides, sort once per user, and
  // carry the last-seen click forward — clicks sort before purchases at
  // equal ts (kind 0 < 1), giving inclusive `<=` semantics. Clicks are
  // pre-deduped to one row per (user, instant) so the match is
  // deterministic. The DuckDB oracle is an independent formulation:
  // a native ASOF LEFT JOIN.
  private val q27 = QueryDef(
    "q27_asof_click_purchase",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts_us"), lit(0).as("kind"),
          col("ts_us").as("click_ts_us"), col("click_id"),
          lit(null).cast("long").as("purchase_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), lit(1).as("kind"),
          lit(null).cast("long").as("click_ts_us"),
          lit(null).cast("long").as("click_id"),
          col("event_id").as("purchase_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("m_click_ts_us", last(col("click_ts_us"), ignoreNulls = true).over(w))
        .withColumn("m_click_id", last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("purchase_id"), col("user_id"),
          col("ts_us").as("purchase_ts_us"),
          col("m_click_ts_us").as("click_ts_us"),
          col("m_click_id").as("click_id"),
          (col("ts_us") - col("m_click_ts_us")).as("gap_us"))
        .orderBy(col("purchase_id"))
    },
    Some("""WITH c AS (
      SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
    p AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us
      FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id, p.ts_us AS purchase_ts_us,
      c.ts_us AS click_ts_us, c.click_id, p.ts_us - c.ts_us AS gap_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    ORDER BY purchase_id"""))

  // ---------------------------------------------------------------- q28
  // Range (interval containment) join: events bucketed into value tiers.
  // The tier table is 4 constant rows — broadcast, so the non-equi join
  // is a per-row comparison, not a shuffle.
  private val tiers = Seq(
    ("t1_micro", 0.0, 50.0), ("t2_small", 50.0, 150.0),
    ("t3_medium", 150.0, 300.0), ("t4_large", 300.0, 1000.0))

  private val q28 = QueryDef(
    "q28_value_tier_rangejoin",
    (s, dir) => {
      import s.implicits._
      val t = tiers.toDF("tier", "lo", "hi")
      events(s, dir)
        .join(broadcast(t), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("tier"))
    },
    Some(s"""SELECT tier, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
    FROM events e JOIN (VALUES ${tiers.map { case (n, lo, hi) => s"('$n', $lo, $hi)" }.mkString(", ")}) t(tier, lo, hi)
      ON e.value >= t.lo AND e.value < t.hi
    GROUP BY tier ORDER BY tier"""))

  // ---------------------------------------------------------------- q29
  // Exact interpolated percentiles (Spark `percentile` vs DuckDB
  // `quantile_cont` — same index = p·(n−1) linear-interpolation rule).
  // l_quantity is integer-valued, so interpolated values land on exact
  // binary fractions; round(6) guards the comparison regardless.
  private val q29 = QueryDef(
    "q29_quantity_percentiles",
    (s, dir) =>
      rd(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    Some("""SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      round(quantile_cont(l_quantity, 0.75), 6) AS p75,
      COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q31
  // Distribution window functions: quartile (NTILE), PERCENT_RANK and
  // CUME_DIST over a unique sort key (price, orderkey — no ties, so both
  // engines' tie rules are moot), rolled up per (status, quartile).
  //
  // Scale note: `partitionBy(o_orderstatus)` has only 3 distinct values,
  // so the per-partition sort runs at 3-way parallelism regardless of
  // cluster size — a genuine ceiling for distribution windows over
  // low-cardinality partitions. Acceptable here (a distribution query is
  // run occasionally, not per-record), but the 100×-scale rewrite is
  // two-pass: per-status approximate quantile boundaries (one partial/
  // final agg, fully parallel) → broadcast the tiny boundary table →
  // one scan classifies each row into its quartile and computes
  // rank-free stats — no global per-status sort anywhere. NTILE's exact
  // equal-count tie-break is what forces the sort; approx boundaries
  // relax exactly that, which is why the exact form stays the oracle
  // here and the two-pass form runs as its own verified query (q94).
  private val q31 = QueryDef(
    "q31_price_distribution",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      rd(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("o_orderstatus"), col("quartile"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("pr")), 6).as("min_pr"),
          round(max(col("cd")), 6).as("max_cd"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"), col("quartile"))
    },
    Some(s"""WITH wq AS (
      SELECT o_orderstatus, o_totalprice,
        CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        PERCENT_RANK() OVER w AS pr,
        CUME_DIST() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey))
    SELECT o_orderstatus, quartile, COUNT(*) AS n,
      round(MIN(pr), 6) AS min_pr, round(MAX(cd), 6) AS max_cd,
      ${dsumSql("o_totalprice")} AS total
    FROM wq GROUP BY o_orderstatus, quartile
    ORDER BY o_orderstatus, quartile"""))

  // ---------------------------------------------------------------- q32
  // FULL OUTER join: high-balance customers against all orders — rows
  // classified by which side matched. The aggregate keys on match class
  // and segment (NULL segment = order whose customer missed the filter).
  private val q32 = QueryDef(
    "q32_full_outer_join",
    (s, dir) => {
      val c = rd(s, dir, "customer")
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_mktsegment"))
      val o = rd(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .withColumn("match_type",
          when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
            .when(col("c_custkey").isNotNull, "customer_only")
            .otherwise("order_only"))
        .groupBy(col("match_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("match_type"), col("c_mktsegment"))
    },
    Some(s"""SELECT
      CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL THEN 'both'
           WHEN c_custkey IS NOT NULL THEN 'customer_only'
           ELSE 'order_only' END AS match_type,
      c_mktsegment, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
    FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
    FULL OUTER JOIN orders o ON c_custkey = o_custkey
    GROUP BY 1, 2 ORDER BY match_type, c_mktsegment"""))

  // ---------------------------------------------------------------- q33
  // UNPIVOT (melt): three per-flag aggregates rotated into (flag, metric,
  // value) rows — the inverse of q25. Spark's unpivot is a zero-shuffle
  // Expand over the already-aggregated table; the oracle replays it as
  // UNION ALL.
  private val q33 = QueryDef(
    "q33_unpivot_metrics",
    (s, dir) => {
      val agg = rd(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"),
          dsum(col("l_discount"), 4).as("sum_disc"))
      agg.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },
    Some(s"""WITH agg AS (
      SELECT l_returnflag,
        ${dsumSql("l_quantity")} AS sum_qty,
        ${dsumSql("l_extendedprice")} AS sum_price,
        ${dsumSql("l_discount", 4)} AS sum_disc
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, metric, value FROM (
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM agg
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM agg
      UNION ALL
      SELECT l_returnflag, 'sum_disc', sum_disc FROM agg)
    ORDER BY l_returnflag, metric"""))

  // ---------------------------------------------------------------- q34
  // RANGE window frame: per-event trailing 1-hour sum of value over the
  // user's own event stream — a time-based frame (RANGE BETWEEN), not a
  // row-count frame like q05. Frame arithmetic runs on exact BIGINT
  // micros; the per-event money sum is DECIMAL cents so the trailing sum
  // is order-independent. Rolled up per type to keep output bounded.
  private val q34 = QueryDef(
    "q34_trailing_hour_sum",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      events(s, dir)
        .select(col("event_type"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("v"))
        .withColumn("trail", sum(col("v")).over(w))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          max(col("trail")).cast("double").as("max_trailing"),
          dsum(col("trail")).as("sum_trailing"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH t AS (
      SELECT event_type, user_id, epoch_us(ts) AS ts_us,
        CAST(value AS DECIMAL(18,2)) AS v
      FROM events),
    f AS (
      SELECT event_type,
        SUM(v) OVER (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS trail
      FROM t)
    SELECT event_type, COUNT(*) AS n,
      CAST(MAX(trail) AS DOUBLE) AS max_trailing,
      CAST(SUM(CAST(trail AS DECIMAL(18,2))) AS DOUBLE) AS sum_trailing
    FROM f GROUP BY event_type ORDER BY event_type"""))

  // ---------------------------------------------------------------- q35
  // Correlated scalar subquery (Catalyst rewrites it into an aggregate +
  // join): orders strictly below their own customer's maximum order
  // value. MAX is exact, so membership is float-deterministic — the
  // comparison never sits on an accumulation-order boundary.
  private val q35 = QueryDef(
    "q35_below_customer_max",
    (s, dir) => {
      rd(s, dir, "orders").createOrReplaceTempView("q35_orders")
      val out = s.sql(s"""
        SELECT o_custkey, COUNT(*) AS n_below,
          ${Tables.dsumSql("o_totalprice")} AS total_below
        FROM q35_orders o
        WHERE o_totalprice < (SELECT MAX(o2.o_totalprice)
                              FROM q35_orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey
        ORDER BY o_custkey""")
      // the analyzed plan holds the resolved subtree; drop the view so the
      // session catalog stays clean for callers that assert its contents
      s.catalog.dropTempView("q35_orders")
      out
    },
    Some(s"""SELECT o_custkey, COUNT(*) AS n_below,
      ${dsumSql("o_totalprice")} AS total_below
    FROM orders o
    WHERE o_totalprice < (SELECT MAX(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_custkey ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q36
  // GROUPING SETS with grouping_id — the general form of q03's ROLLUP /
  // q14's CUBE: exactly the requested combinations, one Expand pass.
  private val q36 = QueryDef(
    "q36_grouping_sets",
    (s, dir) => {
      rd(s, dir, "orders").createOrReplaceTempView("q36_orders")
      val out = s.sql(s"""
        SELECT o_orderstatus, o_orderpriority,
          CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
          CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
          COUNT(*) AS n, ${Tables.dsumSql("o_totalprice")} AS total
        FROM q36_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""")
      s.catalog.dropTempView("q36_orders")
      out
    },
    Some(s"""SELECT o_orderstatus, o_orderpriority,
      CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
      COUNT(*) AS n, ${dsumSql("o_totalprice")} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority"""))

  // ---------------------------------------------------------------- q39
  // Seeded stratified sampling — the corpus-downsampling op every
  // training-data pipeline runs (per-class fractions, reproducible via a
  // fixed seed; Bernoulli per row, so it's a narrow scan with no shuffle
  // until the final rollup). Sampling RNGs differ across engines by
  // construction, so the emitted columns are the exact per-stratum
  // totals and target fractions plus a rate boolean — frac=1.0 strata
  // must sample EVERY row (Bernoulli p=1 is deterministic), fractional
  // strata must land within 6σ binomial bounds of n·p (seed-fixed, so
  // the draw is deterministic and the bound either holds forever or
  // never) — which the oracle replays as exact counts + literal TRUE.
  // AdvancedOpsSpec additionally pins same-seed → identical rows.
  private val q39 = QueryDef(
    "q39_stratified_sample",
    (s, dir) => {
      val fractions = Map("click" -> 0.5, "view" -> 0.1, "purchase" -> 1.0,
        "signup" -> 1.0, "error" -> 0.25)
      val ev = events(s, dir)
      val sampled = ev.stat.sampleBy("event_type", fractions, seed = 42L)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_sampled"))
      val frac = coalesce(
        map(fractions.toSeq.sortBy(_._1)
          .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)(col("event_type")),
        lit(0.0))
      ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_total"))
        .join(sampled, Seq("event_type"), "left")
        .na.fill(0L, Seq("n_sampled"))
        .withColumn("frac", frac)
        .select(col("event_type"), col("n_total"), col("frac"),
          when(col("frac") === 1.0, col("n_sampled") === col("n_total"))
            .otherwise(
              abs(col("n_sampled") - col("n_total") * col("frac")) <=
                lit(6.0) * sqrt(col("n_total") * col("frac") * (lit(1.0) - col("frac"))) + 1.0)
            .as("rate_ok"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n_total,
      CAST(CASE event_type WHEN 'click' THEN 0.5 WHEN 'view' THEN 0.1
           WHEN 'purchase' THEN 1.0 WHEN 'signup' THEN 1.0 ELSE 0.25 END
           AS DOUBLE) AS frac,
      TRUE AS rate_ok
    FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q44
  // Custom typed UDAF: bounded top-k prices per flag via
  // graft.functions.TopKAggregator (Aggregator[IN,BUF,OUT] + udaf()).
  // The skew-structural alternative to q04's salted window: the top-3
  // live in an O(k) buffer merged map-side, so the 3-group key funnels
  // k doubles per partition into the final aggregate, not 600 K rows.
  private val q44 = QueryDef(
    "q44_topk_udaf",
    (s, dir) => {
      val top3 = graft.functions.TopKAggregator.topK(3) _
      rd(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(top3(col("l_extendedprice")).as("tops"), count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          element_at(col("tops"), 1).as("p1"),
          element_at(col("tops"), 2).as("p2"),
          element_at(col("tops"), 3).as("p3"),
          col("n"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH r AS (
      SELECT l_returnflag, l_extendedprice,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice DESC) AS rn
      FROM lineitem)
    SELECT l_returnflag,
      MAX(CASE WHEN rn = 1 THEN l_extendedprice END) AS p1,
      MAX(CASE WHEN rn = 2 THEN l_extendedprice END) AS p2,
      MAX(CASE WHEN rn = 3 THEN l_extendedprice END) AS p3,
      COUNT(*) AS n
    FROM r GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q45
  // Data-quality audit: the constraint checks every production pipeline
  // runs before publishing a table — row count, null-rate on a required
  // column, primary-key uniqueness, and referential integrity against the
  // dimension — in two scans (nulls + dup-keys fused into one aggregate
  // over the fact; orphans are one left-anti join with the dim broadcast).
  // At 100 TB this is the cheapest possible shape: no check adds a pass
  // beyond the one scan + one join you'd already pay for the audit.
  private val q45 = QueryDef(
    "q45_dq_checks",
    (s, dir) => {
      val o = rd(s, dir, "orders")
      val c = rd(s, dir, "customer")
      val base = o.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_null_custkey"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_dup_orderkey"))
      // customer is SF-proportional (the d09 hazard class): the hint is
      // gated on the dim's on-disk size, not applied unconditionally
      val orphans = o.join(bcastIfSmall(c, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_fk_orphans"))
      base.crossJoin(orphans)
    },
    Some("""SELECT
      (SELECT COUNT(*) FROM orders) AS n_rows,
      (SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         FROM orders) AS n_null_custkey,
      (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS n_dup_orderkey,
      (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
         ON o.o_custkey = c.c_custkey
       WHERE c.c_custkey IS NULL) AS n_fk_orphans"""))

  // ---------------------------------------------------------------- q46
  // Time-series densification: zero-fill missing hours on a complete
  // (hour × event_type) grid, then forward-fill the last observed hourly
  // revenue across the gaps — the resample/ffill operator of time-series
  // stores. The grid is sequence()+explode (no generator table needed);
  // the fill is one window per type ordered by hour. The carried metric
  // is an exact DECIMAL sum (no division → no cross-engine tie risk).
  // At 100 TB the grid is |hours|×|types| (tiny vs events) and the
  // window key (event_type, hour-ordered) is the natural partitioning.
  private val q46 = QueryDef(
    "q46_gap_fill",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"), col("value"))
      val hourly = ev.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      val span = ev.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      val grid = span
        .select(explode(expr("sequence(h0, h1, INTERVAL 1 HOUR)")).as("hr"))
        .crossJoin(ev.select(col("event_type")).distinct())
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hr"), "left")
        .select(
          date_format(col("hr"), "yyyy-MM-dd HH:00:00").as("hour"),
          col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sum_value"), ignoreNulls = true).over(w).as("ffill_sum"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some(s"""WITH ev AS (
      SELECT event_type, date_trunc('hour', ts) AS hr, value FROM events),
    hourly AS (SELECT event_type, hr, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
               FROM ev GROUP BY 1, 2),
    span AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM ev),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr, event_type
             FROM span CROSS JOIN (SELECT DISTINCT event_type FROM ev))
    SELECT strftime(g.hr, '%Y-%m-%d %H:00:00') AS hour, g.event_type,
      COALESCE(h.n, 0) AS n,
      last_value(h.sum_value IGNORE NULLS) OVER (
        PARTITION BY g.event_type ORDER BY g.hr
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_sum
    FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    ORDER BY hour, g.event_type"""))

  // ---------------------------------------------------------------- q47
  // Cohort retention: users grouped by first-activity day, counted again
  // on each of the next three days — the product-analytics staple. Days
  // are PURE INTEGER arithmetic on epoch microseconds (us DIV 1 day),
  // not date_trunc, so both engines agree without sharing a calendar
  // dialect. Two aggregates + one broadcast join (first-day table is
  // |users|-small relative to events); conditional distinct counts roll
  // the offsets up without a second shuffle per offset.
  private val q47 = QueryDef(
    "q47_cohort_retention",
    (s, dir) => {
      val dayUs = 24L * 3600 * 1000000L
      val ev = events(s, dir)
        .select(col("user_id"), expr(s"unix_micros(ts) DIV $dayUs").as("d"))
      val firstDay = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
      ev.dropDuplicates("user_id", "d")
        .join(broadcast(firstDay), "user_id")
        .withColumn("offset", col("d") - col("cohort"))
        .groupBy(col("cohort"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("offset") === 1, col("user_id"))).as("d1"),
          countDistinct(when(col("offset") === 2, col("user_id"))).as("d2"),
          countDistinct(when(col("offset") === 3, col("user_id"))).as("d3"))
        .orderBy(col("cohort"))
    },
    Some("""WITH ev AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events),
    fw AS (SELECT user_id, MIN(d) AS cohort FROM ev GROUP BY user_id),
    aw AS (SELECT DISTINCT user_id, d FROM ev)
    SELECT cohort,
      COUNT(DISTINCT aw.user_id) AS n_users,
      COUNT(DISTINCT CASE WHEN d - cohort = 1 THEN aw.user_id END) AS d1,
      COUNT(DISTINCT CASE WHEN d - cohort = 2 THEN aw.user_id END) AS d2,
      COUNT(DISTINCT CASE WHEN d - cohort = 3 THEN aw.user_id END) AS d3
    FROM aw JOIN fw ON aw.user_id = fw.user_id
    GROUP BY cohort ORDER BY cohort"""))

  // ---------------------------------------------------------------- q48
  // Ordered funnel: view → first click AFTER the view → first purchase
  // AFTER that click, per user — the multi-stage conversion operator
  // (ordering matters: a purchase before the click does not count).
  // Three stage aggregates, each a shuffle on user_id; every join is
  // user_id-equi so at scale all stages co-partition on the same key
  // (bucket the events table by user_id and no stage reshuffles).
  // Timestamps compare as exact epoch microseconds. Each stage's
  // |users|-bounded aggregate is localCheckpoint'd: without it the next
  // stage's lineage re-derives every predecessor and the fact scan runs
  // O(K²) times (the q116 Explain-sweep lesson; q116 is the one-scan
  // collected-sets form of this operator, this keeps the cascade form).
  private val q48 = QueryDef(
    "q48_funnel",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
        .localCheckpoint()
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("us") > col("v_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
        .localCheckpoint()
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("us") > col("c_us"))
        .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    v AS (SELECT user_id, MIN(us) AS v_us FROM ev WHERE event_type = 'view'
          GROUP BY user_id),
    c AS (SELECT ev.user_id, MIN(us) AS c_us FROM ev JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > v_us GROUP BY ev.user_id),
    p AS (SELECT ev.user_id, MIN(us) AS p_us FROM ev JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > c_us GROUP BY ev.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase"""))

  // ---------------------------------------------------------------- q50
  // CONSISTENT (hash-threshold) sampling: keep an entity iff
  // hash(key) mod 100 < rate. Unlike per-row random sampling (q39),
  // the decision is a pure function of the key, so independently
  // sampling two tables by the same key yields JOIN-COMPATIBLE samples
  // — every sampled customer arrives with ALL of their orders, which is
  // what makes downstream ratios (orders/customer below) unbiased.
  // Pure per-row predicate: pushes to the scan, no shuffle beyond the
  // final aggregate, trivially identical on a 1000-executor cluster.
  private val q50 = QueryDef(
    "q50_consistent_sample",
    (s, dir) => {
      graft.functions.PolyHash.register(s)
      val custS = rd(s, dir, "customer")
        .filter(expr(s"${strHashExpr("CAST(c_custkey AS STRING)")} % 100") < 20)
      val ordS = rd(s, dir, "orders")
        .filter(expr(s"${strHashExpr("CAST(o_custkey AS STRING)")} % 100") < 20)
      custS.join(ordS, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""WITH cs AS (
      SELECT * FROM customer
      WHERE ${strHashSql("CAST(c_custkey AS VARCHAR)")} % 100 < 20),
    os AS (
      SELECT * FROM orders
      WHERE ${strHashSql("CAST(o_custkey AS VARCHAR)")} % 100 < 20)
    SELECT c_mktsegment,
      COUNT(DISTINCT c_custkey) AS n_customers,
      COUNT(o_orderkey) AS n_orders,
      ${dsumSql("o_totalprice")} AS sum_price
    FROM cs LEFT JOIN os ON c_custkey = o_custkey
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q70
  // Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the dim-lookup
  // shape where NULL is a real key (the "unknown" bucket) — a plain `=`
  // join silently drops every NULL-keyed fact row; the null-safe form
  // keeps them matched to the NULL dim row. Catalyst plans `<=>` as a
  // hash-join key exactly like `=` (NULL hashes to a regular bucket),
  // so the null-safe semantics cost nothing at scale — same broadcast,
  // same single shuffle shape.
  private val q70 = QueryDef(
    "q70_nullsafe_join",
    (s, dir) => {
      val facts = rd(s, dir, "orders")
        .select(expr("nullif(o_orderpriority, '3-MEDIUM')").as("fk"),
          col("o_totalprice"))
      val dim = rd(s, dir, "orders")
        .select(expr("nullif(o_orderpriority, '3-MEDIUM')").as("pk")).distinct()
        .select(col("pk"), coalesce(col("pk"), lit("UNKNOWN")).as("label"))
      facts.join(broadcast(dim), col("fk") <=> col("pk"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("label"))
    },
    Some(s"""WITH f AS (
      SELECT nullif(o_orderpriority, '3-MEDIUM') AS fk, o_totalprice FROM orders),
    d AS (SELECT pk, COALESCE(pk, 'UNKNOWN') AS label FROM (
      SELECT DISTINCT nullif(o_orderpriority, '3-MEDIUM') AS pk FROM orders))
    SELECT label, COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
    FROM f JOIN d ON f.fk IS NOT DISTINCT FROM d.pk
    GROUP BY label ORDER BY label"""))

  // ---------------------------------------------------------------- q73
  // DYNAMIC pivot: the value list is discovered with a first pass
  // (distinct + collect) and fed to the second-pass pivot — the
  // production form when the column domain isn't known at plan time
  // (q25 is the fixed-list form). The collect is safe exactly because a
  // pivot's value domain must be driver-bounded anyway (every value
  // becomes a COLUMN); at 100 TB the discovery pass is a cheap
  // distinct over a low-cardinality key, and pivoting a high-cardinality
  // key is wrong in any engine.
  private val q73 = QueryDef(
    "q73_dynamic_pivot",
    (s, dir) => {
      val ev = events(s, dir)
      // null-safe discovery: a NULL event_type must not NPE the sort (it
      // simply isn't pivoted — FILTER counts in the oracle skip it too)
      val types = ev.select(col("event_type")).distinct()
        .collect().flatMap(r => Option(r.getString(0))).sorted.toSeq
      // pivot+count leaves NULL (not 0) in a (day, type) cell with no
      // rows — coalesce every dynamic column so sparse days agree with
      // the oracle's FILTER counts
      ev.select(to_date(col("ts")).cast("string").as("day"),
          col("event_type"), col("value"))
        .groupBy(col("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day") +: types.map(t => coalesce(col(s"`$t`"), lit(0L)).as(t)): _*)
        .orderBy(col("day"))
    },
    // FILTER list derived from the shared generator constant — if the
    // events domain ever drifts, Spark's discovery pass grows a column the
    // oracle lacks and the compare fails loudly (schema mismatch), instead
    // of silently desynchronizing.
    Some(s"""SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      ${graft.sources.SynthSource.Types.sorted
        .map(t => s"""COUNT(*) FILTER (WHERE event_type = '$t') AS "$t"""")
        .mkString(",\n      ")}
    FROM events GROUP BY 1 ORDER BY day"""))

  // ---------------------------------------------------------------- q74
  // Schema-drift union (unionByName + allowMissingColumns): two vintages
  // of the same feed — an old projection missing a column and a new one
  // with an extra column in a different order — unioned BY NAME with
  // NULL fill, then audited per vintage. Positional unionAll would
  // silently misalign columns here; at 100 TB schema evolution is the
  // norm and the by-name union is the only safe merge of mixed-vintage
  // partitions.
  private val q74 = QueryDef(
    "q74_union_by_name",
    (s, dir) => {
      val o = rd(s, dir, "orders")
      val oldFeed = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          lit("v1").as("vintage"))
      val newFeed = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderstatus"), col("o_totalprice"),
          col("o_orderkey"), lit("v2").as("vintage"))
      oldFeed.unionByName(newFeed, allowMissingColumns = true)
        .groupBy(col("vintage"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("n_null_price"),
          dsum(coalesce(col("o_totalprice"), lit(0.0))).as("sum_price"))
        .orderBy(col("vintage"), col("o_orderstatus"))
    },
    Some(s"""WITH u AS (
      SELECT o_orderkey, o_orderstatus, NULL::DOUBLE AS o_totalprice, 'v1' AS vintage
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderstatus, o_totalprice, o_orderkey, 'v2' AS vintage
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT vintage, o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_price,
      ${dsumSql("COALESCE(o_totalprice, 0.0)")} AS sum_price
    FROM u GROUP BY 1, 2 ORDER BY vintage, o_orderstatus"""))

  // ---------------------------------------------------------------- q77
  // TPC-H Q21 shape (waiting-supplier analysis): for each supplier, count
  // late lineitems in MULTI-supplier orders where that supplier was the
  // ONLY late one ("late" = shipped > 60 days after order date; this
  // dataset has no commit/receipt dates). The textbook formulation is a
  // correlated EXISTS + NOT EXISTS — two self-joins of the fact table.
  // At 100 TB that is three shuffles of lineitem; the scale-correct
  // rewrite used here replaces both self-joins with per-order aggregates
  // computed UNDER THE JOIN'S OWN PARTITIONING: lineitem⋈orders shuffles
  // on orderkey, and both the (orderkey, suppkey) aggregate and the
  // order-level window reuse that distribution (hash(orderkey) satisfies
  // clustering on its superset — zero extra exchanges on fact data; the
  // only new shuffle is the tiny per-supplier rollup). The oracle runs
  // the EXISTS/NOT-EXISTS form — two independently derived formulations
  // must agree.
  private val q77 = QueryDef(
    "q77_waiting_supplier",
    (s, dir) => {
      val li = rd(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val o = rd(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      // one explicit hash(orderkey) exchange feeds BOTH the composite-key
      // aggregate (hash(ok) satisfies ClusteredDistribution(ok, sk)) and
      // the order-level window — without it the plan shuffles twice, once
      // on (ok, sk) and again on ok for the window
      val perOrderSupp = li
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("late",
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .repartition(col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(sum(when(col("late"), 1L).otherwise(0L)).as("n_late_items"))
      val w = Window.partitionBy(col("l_orderkey"))
      val qualified = perOrderSupp
        // both window functions in ONE select → a single Window operator
        // (withColumn chains interleave Projects that defeat
        // CollapseWindow)
        .select(col("l_orderkey"), col("l_suppkey"), col("n_late_items"),
          count(lit(1)).over(w).as("n_supp"),
          sum(when(col("n_late_items") > 0, 1L).otherwise(0L)).over(w)
            .as("n_late_supp"))
        .filter(col("n_late_items") > 0 &&
          col("n_supp") >= 2 && col("n_late_supp") === 1)
        .groupBy(col("l_suppkey"))
        .agg(sum(col("n_late_items")).as("numwait"))
      val supNation = rd(s, dir, "supplier")
        .join(rd(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
      qualified.join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("n_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
    Some("""WITH li AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
    SELECT s_name, n_name, numwait FROM (
      SELECT l1.l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
      FROM li l1
      WHERE l1.late
        AND EXISTS (SELECT 1 FROM li l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM li l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      GROUP BY 1) w
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    ORDER BY numwait DESC, s_name LIMIT 20"""))

  // ---------------------------------------------------------------- q78
  // Per-group least-squares regression + correlation (price vs quantity)
  // from EXACT integer moment sums — the cross-engine-deterministic (and
  // 100 TB-safe) form of regr_slope/regr_intercept/corr: a float SUM's
  // value depends on partition order, so the builtin aggregates can never
  // hash-match across engines; instead every per-row term is exact int64
  // (price in cents, integral quantity), the five moment sums are exact
  // (DECIMAL(38) where x² sums exceed int64), and the closed-form slope/
  // intercept/corr are scalar IEEE arithmetic over those exact sums —
  // bit-identical on both engines. One partial+final hash aggregate, no
  // extra pass.
  private val q78 = QueryDef(
    "q78_regression_stats",
    (s, dir) =>
      rd(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(l_quantity AS BIGINT)").as("x"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(expr("CAST(x * x AS DECIMAL(38,0))")).as("sxx"),
          // y² ≤ 1e14 never overflows int64 per row, but its SUM does; the
          // (19,0)×(19,0)→(38,0) product is the widest decimal multiply
          // both engines accept without width overflow
          sum(expr("CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0))")).as("syy"),
          sum(expr("CAST(x * y AS DECIMAL(38,0))")).as("sxy"))
        .select(col("l_returnflag"),
          col("n"),
          expr("""CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  AS DOUBLE)""").as("slope_cents"),
          expr("""(CAST(sy AS DOUBLE)
                   - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)""").as("intercept_cents"),
          expr("""(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""").as("corr_xy"))
        .orderBy(col("l_returnflag")),
    Some("""WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
        SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))
                 * CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DECIMAL(19,0))
                 AS DECIMAL(38,0))) AS syy,
        SUM(CAST(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)
            AS DECIMAL(38,0))) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS DOUBLE) AS slope_cents,
      (CAST(sy AS DOUBLE)
       - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents,
      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
    FROM m ORDER BY l_returnflag"""))

  // ---------------------------------------------------------------- q79
  // Cumulative distinct users by day. COUNT(DISTINCT) OVER a growing
  // frame is unbounded per-row state (every engine either refuses it or
  // materializes the full prefix per day); the scale-safe identity is
  // cumulative_distinct(day) = Σ new_users(day), where a user is "new" on
  // their MIN(day) — one shuffle keyed by user (high cardinality, no
  // skew), one day-level rollup, and a window over the ~|days| aggregate
  // rows. The daily distinct count rides the same pass for comparison.
  private val q79 = QueryDef(
    "q79_cumulative_distinct",
    (s, dir) => {
      val ev = events(s, dir)
        .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_daily_users"))
      val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_new_users"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.join(firstSeen, Seq("day"), "left")
        .withColumn("n_new_users", coalesce(col("n_new_users"), lit(0L)))
        .withColumn("n_cum_users", sum(col("n_new_users")).over(w))
        .orderBy(col("day"))
    },
    Some("""WITH ev AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id FROM events),
    daily AS (SELECT day, COUNT(*) AS n_events,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_daily_users
              FROM ev GROUP BY day),
    fs AS (SELECT MIN(day) AS day FROM ev GROUP BY user_id),
    news AS (SELECT day, COUNT(*) AS n_new_users FROM fs GROUP BY day)
    SELECT day, n_events, n_daily_users,
      COALESCE(n_new_users, 0) AS n_new_users,
      CAST(SUM(COALESCE(n_new_users, 0)) OVER (ORDER BY day
        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum_users
    FROM daily LEFT JOIN news USING (day) ORDER BY day"""))

  // ---------------------------------------------------------------- q83
  // Salted skew join as a first-class query: 70% of the fact lands on ONE
  // key (the hot-key shape that funnels a plain hash join into a single
  // straggler task), and [[graft.operators.SaltedJoin]] spreads it across
  // 16 deterministic shards by replicating the small dim side — the
  // manual form of AQE's skew handling for the places AQE can't reach
  // (post-transform skew, streaming, pinned physical shapes). The oracle
  // is the UNSALTED join: salting must never change the answer.
  private val q83 = QueryDef(
    "q83_salted_skew_join",
    (s, dir) => {
      val fact = rd(s, dir, "lineitem")
        .select(
          expr("CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_orderkey % 1000 END")
            .as("k"),
          col("l_partkey"), col("l_linenumber"), col("l_extendedprice"))
      val dim = fact.select(col("k")).distinct()
        .select(col("k").as("dk"), concat(lit("seg_"), col("k") % 7).as("segment"))
      graft.operators.SaltedJoin.join(
          fact, dim, factKey = "k", dimKey = "dk",
          saltSource = Seq("l_partkey", "l_linenumber"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("segment"))
    },
    Some(s"""WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 1 ELSE l_orderkey % 1000 END AS k,
             l_extendedprice
      FROM lineitem),
    dim AS (SELECT k AS dk, concat('seg_', k % 7) AS segment
            FROM (SELECT DISTINCT k FROM fact))
    SELECT segment, COUNT(*) AS n, ${dsumSql("l_extendedprice")} AS sum_price
    FROM fact JOIN dim ON k = dk
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q82
  // Business-day (Mon–Fri) shipping latency: calendar arithmetic as a
  // closed-form O(1) expression per row — weekdays in [order, ship) =
  // 5·⌊Δ/7⌋ + the weekday count of the partial week, via a Monday-based
  // day-of-week normalized IDENTICALLY on both engines (Spark dayofweek
  // is 1=Sun..7=Sat; DuckDB's is 0=Sun..6=Sat — both map to Mon=0 with
  // one mod). No calendar table join, no per-day explode (the naive
  // sequence()+filter form materializes Δ rows per row — a non-starter
  // when Δ can be hundreds of days across 100 TB of facts).
  private def bizDays(mondayDow: String, delta: String): String =
    // weekdays among the `rem` days starting at weekday `dow` (Mon=0):
    // count i in [dow, dow+rem) with (i mod 7) < 5
    s"""(5 * ($delta DIV 7)
        + LEAST($delta % 7, GREATEST(0, 5 - $mondayDow))
        + GREATEST(0, ($delta % 7) - (7 - $mondayDow)))"""
  private val q82 = QueryDef(
    "q82_business_days",
    (s, dir) => {
      val li = rd(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val o = rd(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          // the synthetic data has ship-before-order rows; clamp those to
          // 0 business days (and count them) rather than extend the
          // closed form to negative Δ, where DIV/% truncate-vs-floor
          // semantics diverge between engines
          expr("GREATEST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)), 0)").as("delta"),
          expr("CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) < 0 AS INT)").as("early"),
          expr("(dayofweek(CAST(o_orderdate AS DATE)) + 5) % 7").as("dow"))
        .withColumn("bdays", expr(bizDays("dow", "delta")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("early").cast("long")).as("n_early"),
          sum(col("bdays")).as("total_bdays"),
          expr("CAST(SUM(bdays) AS DOUBLE) / COUNT(*)").as("avg_bdays"),
          max(col("bdays")).cast("long").as("max_bdays"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""WITH j AS (
      SELECT o_orderpriority,
        GREATEST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)), 0) AS delta,
        CAST(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 0 AS INT) AS early,
        (dayofweek(CAST(o_orderdate AS DATE)) + 6) % 7 AS dow
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    b AS (SELECT o_orderpriority, early,
            ${bizDays("dow", "delta").replace("DIV", "//")} AS bdays FROM j)
    SELECT o_orderpriority, COUNT(*) AS n,
      CAST(SUM(early) AS BIGINT) AS n_early,
      CAST(SUM(bdays) AS BIGINT) AS total_bdays,
      CAST(SUM(bdays) AS DOUBLE) / COUNT(*) AS avg_bdays,
      CAST(MAX(bdays) AS BIGINT) AS max_bdays
    FROM b GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q91
  // Session variables (Spark 4 SQL scripting surface): DECLARE a typed
  // variable, SET it from a scalar subquery, reference it in a later
  // statement — the parameterized-SQL workflow (compute a threshold
  // once, reuse it across statements) without string interpolation or a
  // driver round-trip per value. The oracle inlines the same scalar as a
  // subquery: variables must never change WHAT is computed.
  private val q91 = QueryDef(
    "q91_session_variables",
    (s, dir) => {
      rd(s, dir, "orders").createOrReplaceTempView("graft_q91_orders")
      s.sql("DECLARE OR REPLACE VARIABLE graft_q91_cut DOUBLE")
      s.sql("""SET VAR graft_q91_cut =
        (SELECT percentile(o_totalprice, 0.9) FROM graft_q91_orders)""")
      s.sql("""
        SELECT o_orderpriority, COUNT(*) AS n_above,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
        FROM graft_q91_orders
        WHERE o_totalprice > graft_q91_cut
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n_above,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_above
    FROM orders
    WHERE o_totalprice > (SELECT quantile_cont(o_totalprice, 0.9) FROM orders)
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // ---------------------------------------------------------------- q92
  // Equi-depth histogram — the statistic behind every range partitioner,
  // sort-spill estimator, and CBO selectivity model. The naive form is
  // ntile() over a GLOBAL sort (one task sees everything — the operation
  // range partitioning exists to avoid); the scale-safe exact form used
  // here is one aggregate pass for the 7 interior percentile boundaries
  // (price in exact cents) + one broadcast-CASE pass for the bucket
  // counts. Boundaries are computed over integer cents AND the quantiles
  // are all multiples of 1/8 — that pair makes the cross-engine coupling
  // EXACT, not approximately-agreeing: both engines use the same linear
  // interpolation rule (pos = q·(n−1); v = a + frac·(b−a)), and with
  // q = k/8 every intermediate is an exact binary float (k·(n−1) is an
  // exact small integer, /8 is a power of two, frac is a multiple of
  // 1/8, b−a is an integer ≪ 2^50), so the boundary vectors are
  // bit-identical by construction — no divergent last bit can flip a
  // `c <= bound` bucket. Changing the quantile list to non-dyadic
  // fractions (e.g. deciles) would break this; keep it dyadic or switch
  // the oracle to literal injected bounds.
  private val q92 = QueryDef(
    "q92_equi_depth_histogram",
    (s, dir) => {
      val cents = rd(s, dir, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
      val bounds = cents.agg(
        expr("percentile(c, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))")
          .as("bs")).head.getSeq[Double](0)
      val bucketExpr = bounds.zipWithIndex
        .map { case (b, i) => s"WHEN c <= $b THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${bounds.length} END")
      cents
        .withColumn("bucket", expr(bucketExpr).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          (min(col("c")).cast("double") / 100.0).as("lo_price"),
          (max(col("c")).cast("double") / 100.0).as("hi_price"))
        .orderBy(col("bucket"))
    },
    Some("""WITH cents AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
    b AS (SELECT quantile_cont(c, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bs
          FROM cents),
    a AS (SELECT c,
            CASE WHEN c <= bs[1] THEN 0 WHEN c <= bs[2] THEN 1
                 WHEN c <= bs[3] THEN 2 WHEN c <= bs[4] THEN 3
                 WHEN c <= bs[5] THEN 4 WHEN c <= bs[6] THEN 5
                 WHEN c <= bs[7] THEN 6 ELSE 7 END AS bucket
          FROM cents CROSS JOIN b)
    SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n,
      CAST(MIN(c) AS DOUBLE) / 100.0 AS lo_price,
      CAST(MAX(c) AS DOUBLE) / 100.0 AS hi_price
    FROM a GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q90
  // Nested-collection analytics: per customer, the order history becomes
  // an ARRAY<STRUCT> — sorted by the struct's NATURAL ordering (both
  // engines compare structs/ROWs field-by-field left to right, so the
  // (epoch_day, orderkey, cents) field order IS the sort key), sliced to
  // the 3 most recent, then folded with higher-order functions. This is
  // the denormalized-document shape (one row per entity, history nested)
  // that replaces a self-join per question at 100 TB: state is bounded
  // by the slice, the shuffle is one groupBy(custkey), and every
  // follow-up metric is per-row array math instead of another pass.
  // All-integer struct fields keep the comparison exact.
  private val q90 = QueryDef(
    "q90_nested_collections",
    (s, dir) => {
      val o = rd(s, dir, "orders")
        .filter(col("o_custkey") % 97 === 0)
        .select(col("o_custkey"),
          struct(
            expr("datediff(CAST(o_orderdate AS DATE), DATE '1990-01-01')").as("d"),
            col("o_orderkey").as("k"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")).as("rec"))
      o.groupBy(col("o_custkey"))
        .agg(expr("reverse(array_sort(collect_list(rec)))").as("hist"))
        .select(col("o_custkey"),
          size(col("hist")).cast("long").as("n_orders"),
          expr("slice(hist, 1, 3)").as("recent"))
        .select(col("o_custkey"), col("n_orders"),
          expr("element_at(recent, 1).cents").as("last_cents"),
          expr("""CASE WHEN size(recent) >= 2
                  THEN element_at(recent, 1).d - element_at(recent, 2).d
                  ELSE -1 END""").cast("long").as("gap_days"),
          expr("aggregate(recent, CAST(0 AS BIGINT), (acc, r) -> acc + r.cents)")
            .as("recent_cents"))
        .orderBy(col("o_custkey"))
    },
    Some("""WITH o AS (
      SELECT o_custkey,
        {'d': datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)),
         'k': o_orderkey,
         'cents': CAST(round(o_totalprice * 100) AS BIGINT)} AS rec
      FROM orders WHERE o_custkey % 97 = 0),
    h AS (SELECT o_custkey,
            list_reverse(list_sort(list(rec))) AS hist
          FROM o GROUP BY o_custkey),
    r AS (SELECT o_custkey,
            CAST(len(hist) AS BIGINT) AS n_orders,
            hist[1:3] AS recent
          FROM h)
    SELECT o_custkey, n_orders,
      recent[1].cents AS last_cents,
      CAST(CASE WHEN len(recent) >= 2 THEN recent[1].d - recent[2].d
                ELSE -1 END AS BIGINT) AS gap_days,
      CAST(list_reduce(list_transform(recent, x -> x.cents),
                       (acc, c) -> acc + c) AS BIGINT) AS recent_cents
    FROM r ORDER BY o_custkey"""))

  // ---------------------------------------------------------------- q89
  // Null-aware anti join — NOT IN over a NULLABLE subquery, which is NOT
  // the anti join q07 runs: under ANSI three-valued logic a single NULL
  // in the subquery makes `x NOT IN (...)` never-true for every row, and
  // a NULL probe value is likewise never kept. Spark plans this as a
  // BroadcastHashJoin with isNullAwareAntiJoin=true (single-column case)
  // rather than a plain LeftAnti; getting it wrong silently returns the
  // NOT EXISTS answer instead. The build side is NULLABLE BY TYPE
  // (nullif with no IS NOT NULL guard — adding one lets Catalyst
  // simplify to a plain anti join and the null-aware machinery never
  // runs) but null-free in fact, so the result is non-empty while
  // probe-side NULLs still flow through the three-valued-logic path.
  private val q89 = QueryDef(
    "q89_null_aware_anti_join",
    (s, dir) => {
      s.sql("DROP VIEW IF EXISTS graft_q89_orders")
      rd(s, dir, "orders").createOrReplaceTempView("graft_q89_orders")
      // urgent-ish priorities present in lineitem-heavy orders, nulls
      // stripped by the IS NOT NULL the ANSI semantics force you to write
      s.sql("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM (SELECT *, nullif(o_orderpriority, '3-MEDIUM') AS prio
              FROM graft_q89_orders)
        WHERE prio NOT IN (
          SELECT nullif(o_orderpriority, '3-MEDIUM')
          FROM graft_q89_orders
          WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM (SELECT *, nullif(o_orderpriority, '3-MEDIUM') AS prio FROM orders)
    WHERE prio NOT IN (
      SELECT nullif(o_orderpriority, '3-MEDIUM')
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
    GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // ---------------------------------------------------------------- q87
  // Exponentially-weighted moving average per user — the smoothing
  // operator SQL windows cannot express (each term multiplies the
  // previous state; no built-in frame aggregate composes that way).
  // α = 1/2 makes it EXACT integer arithmetic: over the trailing 20
  // events, ewma·2^20 = Σ value_i·2^(19-i) (newest first) — a fixed-
  // point fold in int64 (terms ≤ 1e6·2^19, sums < 2^53), identical on
  // both engines, no float-power drift. The fold runs over a bounded
  // slice of a per-user collected list: state is O(20) per user, the
  // shuffle is one user-keyed aggregate — at 100 TB this is the
  // mapGroups-free form of per-entity smoothing (the unbounded-history
  // form is q40's transformWithState).
  private val EwmaN = 20
  private val q87 = QueryDef(
    "q87_ewma_fixed_point",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      // newest-first ordered list per user, then a positional fold over
      // the first 20 entries
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          expr("""transform(
              slice(array_sort(collect_list(struct(ts, cents)),
                      (a, b) -> CASE WHEN a.ts > b.ts THEN -1
                                     WHEN a.ts < b.ts THEN 1
                                     WHEN a.cents > b.cents THEN -1
                                     WHEN a.cents < b.cents THEN 1
                                     ELSE 0 END),
                    1, 20),
              x -> x.cents)""").as("recent"))
        .select(col("user_id"), col("n_events"),
          expr(s"""aggregate(
              zip_with(recent,
                       sequence(${EwmaN - 1}, ${EwmaN - 1} - size(recent) + 1),
                       (v, e) -> v * CAST(pow(2, e) AS BIGINT)),
              CAST(0 AS BIGINT), (acc, t) -> acc + t)""").as("ewma_fp"))
        .withColumn("ewma_cents",
          expr(s"CAST(ewma_fp AS DOUBLE) / ${1L << EwmaN}"))
        .select(col("user_id"), col("n_events"), col("ewma_fp"), col("ewma_cents"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH ev AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    r AS (SELECT user_id, cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, cents DESC) AS rn
          FROM ev),
    f AS (SELECT user_id,
            CAST(SUM(cents * CAST(pow(2, ${EwmaN - 1} - (rn - 1)) AS BIGINT)) AS BIGINT)
              AS ewma_fp
          FROM r WHERE rn <= $EwmaN GROUP BY user_id),
    n AS (SELECT user_id, COUNT(*) AS n_events FROM ev GROUP BY user_id)
    SELECT n.user_id, n.n_events, f.ewma_fp,
      CAST(f.ewma_fp AS DOUBLE) / ${1L << EwmaN} AS ewma_cents
    FROM n JOIN f ON n.user_id = f.user_id
    ORDER BY n.user_id"""))

  // ---------------------------------------------------------------- q94
  // The q31 scale path, running and verified: TWO-PASS quartile
  // classification with NO per-status sort anywhere. Pass 1 computes
  // per-status approximate quartile boundaries (approx_percentile — a
  // GK sketch, one partial/final agg at full parallelism, constant
  // state per group); the tiny 3-row boundary table broadcasts; pass 2
  // is a single scan classifying every row against its status's
  // boundaries. This is what replaces q31's NTILE when the partition
  // count (3 statuses) caps the sort's parallelism at 100× data.
  //
  // Verification (the q37 discipline): sketch boundaries are
  // implementation-specific, so the emitted columns are the exact
  // per-status facts (n, DECIMAL-exact price sum) plus rank-space
  // booleans the oracle asserts as literal TRUE — approx_percentile at
  // accuracy 10000 guarantees rank error ≤ n·1e-4, and each cumulative
  // bucket count is the rank (count ≤) of a returned boundary, so it
  // must land within [q − ε, q + ε]·n at ε = 1e-3 (10× the guarantee).
  // Boundary monotonicity rides along. Deterministic because the GK
  // sketch on fixed input is deterministic.
  private val q94 = QueryDef(
    "q94_two_pass_quartiles",
    (s, dir) => {
      val orders = rd(s, dir, "orders")
      val bounds = orders
        .groupBy(col("o_orderstatus"))
        .agg(expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 10000)")
          .as("b"))
        .select(col("o_orderstatus"),
          element_at(col("b"), 1).as("b1"),
          element_at(col("b"), 2).as("b2"),
          element_at(col("b"), 3).as("b3"))
      val eps = 0.001
      // ±1 row of absolute slack on top of the relative bound: q·n is
      // fractional while ranks are integers, so the returned element's
      // rank may legitimately be floor or ceil of the target even when
      // the sketch is exact (small n). The relative term dominates at
      // scale; the +1 keeps the check correct at sf0.001.
      def rankOk(q: Double, cum: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (cum >= (lit(q) - eps) * n - 1) && (cum <= (lit(q) + eps) * n + 1)
      orders.join(broadcast(bounds), "o_orderstatus")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"),
          sum(when(col("o_totalprice") <= col("b1"), 1L).otherwise(0L)).as("cum1"),
          sum(when(col("o_totalprice") <= col("b2"), 1L).otherwise(0L)).as("cum2"),
          sum(when(col("o_totalprice") <= col("b3"), 1L).otherwise(0L)).as("cum3"),
          first(col("b1") <= col("b2") && col("b2") <= col("b3")).as("mono"))
        .select(col("o_orderstatus"), col("n"), col("total"),
          rankOk(0.25, col("cum1"), col("n")).as("ok25"),
          rankOk(0.50, col("cum2"), col("n")).as("ok50"),
          rankOk(0.75, col("cum3"), col("n")).as("ok75"),
          col("mono"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS total,
      TRUE AS ok25, TRUE AS ok50, TRUE AS ok75, TRUE AS mono
    FROM orders GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q104
  // SQL PIPE syntax (Spark 4 `|>` operators): the TPC-H Q1 shape written
  // as a linear pipeline — FROM |> WHERE |> EXTEND |> AGGREGATE |> ORDER
  // BY. Pipe syntax is surface only: it parses to the SAME Catalyst
  // logical plan as the nested-SELECT form (one pruned scan with the
  // pushed filter, one partial/final hash aggregate), so it inherits q01's
  // scale profile unchanged. The money terms keep the shared
  // DECIMAL-cast discipline ([[Tables.dsumSql]]/[[Tables.discPriceSql]]
  // are engine-shared syntax), so the pipe result hash-matches the
  // oracle's classic-SQL twin exactly.
  private val q104 = QueryDef(
    "q104_pipe_syntax",
    (s, dir) => {
      rd(s, dir, "lineitem").createOrReplaceTempView("graft_q104_lineitem")
      val out = s.sql(s"""FROM graft_q104_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |> EXTEND ${discPriceSql("l_extendedprice", "l_discount")} AS disc_price
        |> AGGREGATE
             ${dsumSql("l_quantity")} AS sum_qty,
             CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price,
             COUNT(*) AS count_order
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus""")
      // analysis is eager, so the resolved plan survives the view drop
      // (Streams.drainToMemory drops its sink view the same way) — a
      // leaked temp view would otherwise pollute SHOW TABLES for every
      // later caller in the session
      s.catalog.dropTempView("graft_q104_lineitem")
      out
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity")} AS sum_qty,
      CAST(SUM(${discPriceSql("l_extendedprice", "l_discount")}) AS DOUBLE) AS sum_disc_price,
      COUNT(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))

  // --------------------------------------------------------------- q105
  // SQL SCRIPTING (Spark 4 BEGIN…END compound statements): a driver-side
  // WHILE loop doubles a price threshold until at most 100 orders remain
  // above it — the exponential-probe shape of a log-range search. Each
  // iteration is ONE distributed aggregate (a count at the current
  // threshold); the loop variable lives on the driver, so the script runs
  // O(log range) full scans — fine when each probe is a cheap
  // pre-aggregated or indexed lookup, and the documented trade-off here:
  // at 100 TB you precompute one equi-depth histogram (q92) and read the
  // answer off it in a single pass instead. The oracle replays the same
  // recurrence declaratively: thresholds 1000·2^k are enumerated, each
  // count evaluated, and the first k meeting the bound selected — loop
  // and closed form agree exactly because doubling a power of two is
  // float-exact.
  private val q105 = QueryDef(
    "q105_sql_scripting",
    (s, dir) => {
      rd(s, dir, "orders").createOrReplaceTempView("graft_q105_orders")
      val out = s.sql("""BEGIN
        DECLARE t DOUBLE = 1000.0;
        WHILE (SELECT COUNT(*) FROM graft_q105_orders WHERE o_totalprice > t) > 100 DO
          SET t = t * 2;
        END WHILE;
        SELECT t AS threshold,
          (SELECT COUNT(*) FROM graft_q105_orders WHERE o_totalprice > t) AS n_above;
      END""")
      s.catalog.dropTempView("graft_q105_orders")
      out
    },
    Some("""WITH ks AS (SELECT k FROM generate_series(0, 40) AS g(k)),
      cand AS (SELECT k, 1000.0 * power(2.0, k) AS t FROM ks),
      counted AS (SELECT k, t,
        (SELECT COUNT(*) FROM orders WHERE o_totalprice > cand.t) AS n_above
        FROM cand)
    SELECT t AS threshold, n_above FROM counted
    WHERE n_above <= 100 ORDER BY k LIMIT 1"""))

  // --------------------------------------------------------------- q109
  // SQL-DEFINED FUNCTIONS (Spark 4 CREATE FUNCTION … RETURN): the revenue
  // term and the quantity band live as named SQL UDFs, then drive an
  // aggregation. Unlike Scala/Python UDFs these INLINE into the plan as
  // plain Catalyst expressions — full whole-stage codegen, pushdown, and
  // constant folding survive, so the named abstraction costs nothing at
  // 100 TB (the resolved plan is identical to writing the expressions
  // out). The oracle inlines the same definitions by hand.
  private val q109 = QueryDef(
    "q109_sql_udf",
    (s, dir) => {
      rd(s, dir, "lineitem").createOrReplaceTempView("graft_q109_lineitem")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
        p DECIMAL(18,2), d DECIMAL(18,2)) RETURNS DECIMAL(18,4)
        RETURN CAST(p * (1 - d) AS DECIMAL(18,4))""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_band(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q < 10 THEN 'low' WHEN q < 30 THEN 'mid'
                    ELSE 'high' END""")
      val out = s.sql("""SELECT graft_qty_band(l_quantity) AS band, COUNT(*) AS n,
          CAST(SUM(graft_disc_price(CAST(l_extendedprice AS DECIMAL(18,2)),
                                    CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        FROM graft_q109_lineitem GROUP BY 1 ORDER BY 1""")
      s.catalog.dropTempView("graft_q109_lineitem")
      out
    },
    Some(s"""SELECT CASE WHEN l_quantity < 10 THEN 'low'
                 WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS band,
      COUNT(*) AS n,
      CAST(SUM(${discPriceSql("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q110
  // COLLATED string semantics (Spark 4 collations): per-source distinct
  // vocabulary under binary vs case-insensitive (UTF8_LCASE) collation —
  // collation-aware DISTINCT/grouping without materializing a lower()'d
  // copy of the column. At scale the win is the same hash-aggregate plan
  // with a collation-aware key comparator instead of a second full-width
  // derived column through every shuffle. Oracle twin: DuckDB
  // COUNT(DISTINCT lower(w)) — equivalent on this corpus.
  private val q110 = QueryDef(
    "q110_collated_distinct",
    (s, dir) => {
      docs(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(
          countDistinct(col("w")).as("n_words_cs"),
          countDistinct(expr("collate(w, 'UTF8_LCASE')")).as("n_words_ci"))
        .orderBy(col("source"))
    },
    Some("""SELECT source,
      COUNT(DISTINCT w) AS n_words_cs,
      COUNT(DISTINCT lower(w)) AS n_words_ci
    FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) > 0 GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q114
  // The remaining SQL-standard rank-function family in one query: ntile
  // (equi-count bucketing), percent_rank ((rank−1)/(n−1)), cume_dist
  // (rows≤current / n) — all over one window per order priority, then
  // rolled up per (priority, quartile). Determinism: the window order
  // includes o_orderkey so tied totalprices have a total order (ntile's
  // bucket assignment at ties is order-dependent by definition);
  // percent_rank/cume_dist are ratios of exact ints — one IEEE divide,
  // identical on both engines, rounded at 6. Scale: one window over a
  // high-cardinality-partitioned shuffle + one hash aggregate — no
  // global sort, no single-partition funnel.
  private val q114 = QueryDef(
    "q114_rank_functions",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      rd(s, dir, "orders")
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(
          count(lit(1)).as("n"),
          round(min(col("pr")), 6).as("min_pr"),
          round(max(col("cd")), 6).as("max_cd"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("quartile"))
    },
    Some(s"""SELECT o_orderpriority, quartile, COUNT(*) AS n,
      round(MIN(pr), 6) AS min_pr, round(MAX(cd), 6) AS max_cd,
      ${dsumSql("o_totalprice")} AS sum_price
    FROM (
      SELECT o_orderpriority, o_totalprice,
        CAST(NTILE(4) OVER win AS BIGINT) AS quartile,
        PERCENT_RANK() OVER win AS pr,
        CUME_DIST() OVER win AS cd
      FROM orders
      WINDOW win AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey))
    GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile"""))

  // ---------------------------------------------------------------- q124
  // SKYLINE / PARETO FRONTIER — multi-objective filtering (cheapest price
  // vs largest size, per brand): a part is on the skyline iff no other
  // part of the brand is at-most-as-expensive AND at-least-as-large with
  // at least one strict. The naive formulation is a quadratic dominance
  // anti-join; the scalable plan collapses rows to PRICE LEVELS first
  // (one hash aggregate: per (brand, price) the max size — map-side
  // combined, |levels| ≤ |distinct prices| ≪ |rows|), takes a strict-
  // prefix running max over the small per-brand level table (window over
  // aggregated data, not raw rows), and keeps a level iff its max size
  // strictly exceeds every cheaper level's — then one broadcast join back
  // tags the surviving rows (equal (price, size) duplicates are both
  // non-dominated and both kept). The DuckDB oracle is the INDEPENDENT
  // quadratic NOT-EXISTS dominance formulation, so the level/prefix-max
  // rewrite is proven equivalent, not mirrored. At 100 TB the level
  // table itself can bucket by price range (the q122/q123 two-level
  // prefix), but it is already |distinct prices|-sized — aggregation
  // before ordering is the skyline scale lever.
  private val q124 = QueryDef(
    "q124_skyline",
    (s, dir) => {
      val base = rd(s, dir, "part").select(
        col("p_brand").as("brand"), col("p_partkey").as("key"),
        expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("price"),
        col("p_size").as("size"))
      val levels = base.groupBy(col("brand"), col("price"))
        .agg(max(col("size")).as("lmax"))
      val wPrev = Window.partitionBy(col("brand")).orderBy(col("price"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val front = levels
        .withColumn("prevmax", max(col("lmax")).over(wPrev))
        .filter(col("prevmax").isNull || col("lmax") > col("prevmax"))
        .select(col("brand").as("fb"), col("price").as("fp"), col("lmax"))
      // front ≤ |brands| × |distinct prices| — bounded by the VALUE
      // DOMAIN (cents in a generator-fixed range), not by row count, so
      // the hint is scale-safe unlike the d09/dimension class
      base.join(broadcast(front),
          col("brand") === col("fb") && col("price") === col("fp") &&
            col("size") === col("lmax"))
        .select(col("brand"), col("key"), col("price"), col("size"))
        .orderBy(col("brand"), col("price"), col("key"))
    },
    Some("""WITH b AS (
      SELECT p_brand AS brand, p_partkey AS key,
        CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
        p_size AS size
      FROM part)
    SELECT brand, key, price, size FROM b r
    WHERE NOT EXISTS (
      SELECT 1 FROM b s WHERE s.brand = r.brand
        AND s.price <= r.price AND s.size >= r.size
        AND (s.price < r.price OR s.size > r.size))
    ORDER BY brand, price, key"""))

  // ---------------------------------------------------------------- q127
  // MARKOV TRANSITION MATRIX — per-user next-event transition counts and
  // row-normalized probabilities: the path-analysis primitive behind
  // "where do users go after X" product questions and behavioral
  // anomaly scoring (q26's lag window measures WHEN the next event
  // comes; this measures WHAT it is). One user-keyed window derives
  // (prev → cur) pairs — the only fact-sized shuffle; the transition
  // matrix itself is |states|² rows (25 here, bounded by the event-type
  // domain at any SF), so the row totals broadcast back and
  // probabilities are integer-exact ppm. Destination rank within each
  // source state is a window over the tiny matrix, not the fact.
  private val q127 = QueryDef(
    "q127_markov_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val trans = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("prev")).agg(sum(col("n")).as("tot"))
      val wRank = Window.partitionBy(col("prev"))
        .orderBy(col("n").desc, col("cur"))
      trans
        .join(broadcast(totals), Seq("prev"))
        .select(col("prev"), col("cur"), col("n"),
          expr("n * 1000000 DIV tot").as("p_ppm"))
        .withColumn("dest_rank", row_number().over(wRank).cast("long"))
        .orderBy(col("prev"), col("cur"))
    },
    Some(s"""WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    tr AS (
      SELECT prev, event_type AS cur, COUNT(*) AS n FROM (
        SELECT event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        FROM ev)
      WHERE prev IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS tot FROM tr GROUP BY 1)
    SELECT tr.prev, tr.cur, tr.n,
      -- CAST: DuckDB SUM(BIGINT) is HUGEINT and HUGEINT // propagates —
      -- the r13 driver hashed HUGEINT p_ppm vs Spark's int64 (values
      -- identical, hash red). BIGINT on both sides closes it.
      CAST(tr.n * 1000000 // tot.tot AS BIGINT) AS p_ppm,
      CAST(ROW_NUMBER() OVER (PARTITION BY tr.prev ORDER BY tr.n DESC, tr.cur)
        AS BIGINT) AS dest_rank
    FROM tr JOIN tot ON tot.prev = tr.prev
    ORDER BY tr.prev, tr.cur"""))

  // ---------------------------------------------------------------- q129
  // SLIDING-WINDOW DISTINCT (7-day rolling active users) — the metric
  // SQL cannot express as a window function at all (COUNT(DISTINCT)
  // OVER is unsupported in Spark, and unlike q79's CUMULATIVE distinct
  // there is no first-appearance trick: a user leaves the window when
  // their last activity ages out). The scale rewrite is the COVER SET:
  // collapse events to distinct (user, day) pairs once, explode each
  // pair to the 7 window ends it covers (a bounded ×7 fan-out of the
  // already-distinct pairs, not of raw events), and count distinct per
  // covered day — two map-side-combinable aggregates, no window state,
  // no per-day rescans. Same-day actives ride along as a conditional
  // distinct in the same pass. The oracle is the naive per-day
  // range-join recount — an independent quadratic formulation.
  private val q129 = QueryDef(
    "q129_sliding_distinct",
    (s, dir) => {
      val p = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("ed"))
        .distinct()
      val days = p.select(col("ed").as("d")).distinct()
      p.select(col("user_id"), col("ed"),
          explode(expr("sequence(ed, ed + 6)")).as("d"))
        .join(days, Seq("d"), "left_semi")
        .groupBy(col("d"))
        .agg(
          countDistinct(col("user_id")).as("users_7d"),
          countDistinct(when(col("ed") === col("d"), col("user_id")))
            .as("users_1d"))
        .orderBy(col("d"))
    },
    Some("""WITH p AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS ed FROM events),
    days AS (SELECT DISTINCT ed AS d FROM p)
    SELECT d,
      (SELECT COUNT(DISTINCT user_id) FROM p
       WHERE p.ed BETWEEN days.d - 6 AND days.d) AS users_7d,
      (SELECT COUNT(DISTINCT user_id) FROM p WHERE p.ed = days.d) AS users_1d
    FROM days ORDER BY d"""))

  // ---------------------------------------------------------------- q130
  // TIME-WEIGHTED AVERAGE (TWAP) — the duration-weighted mean plain AVG
  // silently gets wrong on irregular event streams: a value HOLDS until
  // the next observation, so its weight is the interval it was live, not
  // 1. Each event's hold time comes from one lead() over the user's
  // stream (the only fact-sized shuffle); the weighted sums are exact —
  // value in DECIMAL(18,6) × integer microseconds stays decimal, so
  // partial aggregation is partition-order-independent and the single
  // IEEE division happens once per group. The last observation per user
  // has no successor and is excluded by contract (its hold time is
  // unknown — at scale you'd close it against a watermark). AVG rides
  // along to show the gap TWAP exists to fix.
  private val q130 = QueryDef(
    "q130_time_weighted_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dur", col("next_us") - col("us"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dur")).as("sum_dur_us"),
          round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
            * col("dur")).cast("double") /
            sum(col("dur")).cast("double"), 6).as("twap"),
          round(dsum(col("value"), 6) / count(lit(1)), 6).as("plain_avg"))
        .orderBy(col("event_type"))
    },
    Some("""WITH ev AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
      FROM events),
    d AS (SELECT event_type, value,
            lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dur
          FROM ev)
    SELECT event_type,
      COUNT(*) AS n_intervals,
      CAST(SUM(dur) AS BIGINT) AS sum_dur_us,
      round(CAST(SUM(CAST(value AS DECIMAL(18,6)) * dur) AS DOUBLE)
        / CAST(SUM(dur) AS DOUBLE), 6) AS twap,
      round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS plain_avg
    FROM d WHERE dur IS NOT NULL
    GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q132
  // MAD OUTLIER DETECTION — robust per-group anomaly flagging via the
  // median absolute deviation (|x − med| > 3·MAD), the data-quality
  // screen that mean/stddev z-scores fail on skewed data (q45's DQ
  // checks are rule-based; this is the distributional one). EXACT
  // medians, no sketch (q94 is the sketch path): the scale design is the
  // VALUE HISTOGRAM — one map-side-combined count per (group, cents)
  // collapses the fact table to its value domain, the median then falls
  // out of a cumulative window over the HISTOGRAM (|distinct values|
  // rows, not |facts|), and the MAD repeats the same trick on the
  // deviation histogram. Integer throughout: med2 = 2·median (the
  // even-count midpoint sum, no .5), mad4 = 2·median of 2·deviations,
  // and the flag 2·|2x − med2| > 3·mad4 is the exact 3-MAD rule. The
  // per-group med/mad tables are group-count-sized and broadcast back.
  private val q132 = QueryDef(
    "q132_mad_outliers",
    (s, dir) => {
      def medianOf(hist: org.apache.spark.sql.DataFrame, v: String, out: String) = {
        // midpoint ranks lo = (n+1) DIV 2 and hi = n DIV 2 + 1 (equal for
        // odd n, so that value contributes twice → out = 2·median)
        val w = Window.partitionBy(col("g")).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy(col("g"))
        hist
          .withColumn("cum", sum(col("c")).over(w))
          .withColumn("n", sum(col("c")).over(wAll))
          .groupBy(col("g"))
          .agg(max(col("n")).as("n"),
            sum(col(v) * when(col("cum") - col("c") < expr("(n + 1) DIV 2") &&
                expr("(n + 1) DIV 2") <= col("cum"), 1L).otherwise(0L)
              + col(v) * when(col("cum") - col("c") < expr("n DIV 2 + 1") &&
                expr("n DIV 2 + 1") <= col("cum"), 1L).otherwise(0L)).as(out))
      }
      // three passes read `base` (value histogram, deviation histogram,
      // flagging) but it stays UNMATERIALIZED: re-scanning the 2-column
      // pruned parquet beat caching in the r14 A/B (1.7 s vs 3.9 s
      // cached / 4.3 s cached+widened at sf0.1 — the cache write and its
      // single-split read cost more than the vectorized re-scan; at real
      // scale the same holds, a columnar re-scan of 2 columns is cheaper
      // than materializing the fact projection)
      def base = events(s, dir)
        .select(col("event_type").as("g"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"))
      val hist = base.groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
      val med = medianOf(hist, "x", "med2")
      val devHist = base.join(broadcast(med), "g")
        .select(col("g"), expr("abs(2 * x - med2)").as("d2"))
        .groupBy(col("g"), col("d2")).agg(count(lit(1)).as("c"))
      val mad = medianOf(devHist, "d2", "mad4").select(col("g"), col("mad4"))
      val out = base
        .join(broadcast(med), "g").join(broadcast(mad), "g")
        .withColumn("is_out",
          when(expr("2 * abs(2 * x - med2) > 3 * mad4"), 1L).otherwise(0L))
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"), max(col("med2")).as("med2"),
          max(col("mad4")).as("mad4"),
          sum(col("is_out")).as("n_outliers"),
          (sum(when(col("is_out") === 1L, col("x") % lit(HashMod))
            .otherwise(lit(0L))) % lit(HashMod)).as("out_checksum"))
        .orderBy(col("g"))
      out
    },
    Some(s"""WITH base AS (
      SELECT event_type AS g,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      FROM events),
    h AS (SELECT g, x, COUNT(*) AS c FROM base GROUP BY 1, 2),
    cum AS (SELECT g, x, c,
        SUM(c) OVER (PARTITION BY g ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY g) AS n
      FROM h),
    med AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
        CAST(SUM(x * (CASE WHEN cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN 1 ELSE 0 END)
               + x * (CASE WHEN cum - c < n // 2 + 1 AND n // 2 + 1 <= cum THEN 1 ELSE 0 END)) AS BIGINT) AS med2
      FROM cum GROUP BY g),
    dh AS (SELECT b.g, abs(2 * b.x - m.med2) AS d2, COUNT(*) AS c
           FROM base b JOIN med m ON m.g = b.g GROUP BY 1, 2),
    dcum AS (SELECT g, d2, c,
        SUM(c) OVER (PARTITION BY g ORDER BY d2
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY g) AS n
      FROM dh),
    mad AS (SELECT g,
        CAST(SUM(d2 * (CASE WHEN cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN 1 ELSE 0 END)
               + d2 * (CASE WHEN cum - c < n // 2 + 1 AND n // 2 + 1 <= cum THEN 1 ELSE 0 END)) AS BIGINT) AS mad4
      FROM dcum GROUP BY g),
    fl AS (SELECT b.g, b.x, m.n, m.med2, d.mad4,
             CASE WHEN 2 * abs(2 * b.x - m.med2) > 3 * d.mad4 THEN 1 ELSE 0 END AS is_out
           FROM base b JOIN med m ON m.g = b.g JOIN mad d ON d.g = b.g)
    SELECT fl.g, MAX(n) AS n, MAX(med2) AS med2, MAX(mad4) AS mad4,
      CAST(SUM(is_out) AS BIGINT) AS n_outliers,
      CAST(SUM(CASE WHEN is_out = 1 THEN x % $HashMod ELSE 0 END) % $HashMod AS BIGINT) AS out_checksum
    FROM fl GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q133
  // PSI DRIFT — population stability index between two time windows of a
  // numeric feature, the standard ML-serving drift monitor (the tabular
  // sibling of t21/t30's text shift and s19's vector drift): decile-bin
  // the REFERENCE window, count both windows into those bins, and sum
  // (p−q)·ln(p/q). Windows are even vs odd epoch days (deterministic,
  // data-independent). Scale design inherits q132's histogram trick —
  // decile edges come from a cumulative window over the map-side-combined
  // (group, cents) VALUE histogram, never a fact sort; bin counts avoid
  // any per-row bin search: one broadcast join against the 9 edges per
  // group counts cumulative ≤-edge masses and a lag window differences
  // them (bin 10 = total − cum9, so values above the reference max are
  // never dropped). Arithmetic is exact: add-one-smoothed proportions in
  // integer ppm, logs in t19's quantized 1e-4 units, PSI as an int64 in
  // 1e-10 units (0.2 alert threshold = 2e9 here).
  private val q133 = QueryDef(
    "q133_psi_drift",
    (s, dir) => {
      def base = events(s, dir)
        .select(col("event_type").as("g"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"),
          expr("(unix_micros(ts) DIV 86400000000) % 2").as("w"))
      // The ≤-edge masses join the 9 broadcast edges against the FACT —
      // a 9× per-row expansion that feeds straight into a map-side
      // partial aggregate (9 extra codegen'd comparisons per event, NO
      // shuffle of the expanded rows — partials are 10 rows per (g, w)
      // per task at any scale). The "obvious" fix of pre-aggregating a
      // (g, w, cents) histogram first and joining edges against that
      // measured SLOWER (r14 A/B at sf0.1: 3.7 s fact-join vs 6.3-6.8 s
      // histogram: the extra full-fact shuffle + cache + checkpoint
      // stages cost more than the streamed comparisons they save); only
      // the decile-edge derivation uses the value histogram, where the
      // cumulative window genuinely needs it.
      val wCum = Window.partitionBy(col("g")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      val edges = base.filter(col("w") === 0)
        .groupBy(col("g"), col("x")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .select(col("g"), col("cum"), col("n"), col("x"),
          explode(expr("sequence(1, 9)")).as("k"))
        .filter(col("cum") >= expr("(k * n + 9) DIV 10"))
        .groupBy(col("g"), col("k")).agg(min(col("x")).as("edge"))
      val tot = base.groupBy(col("g"), col("w")).agg(count(lit(1)).as("n"))
      val le = base.join(broadcast(edges), "g")
        .groupBy(col("g"), col("w"), col("k"))
        .agg(sum(when(col("x") <= col("edge"), 1L).otherwise(0L)).as("cle"))
      val wLag = Window.partitionBy(col("g"), col("w")).orderBy(col("k"))
      val bins = le
        .withColumn("c", col("cle") - coalesce(lag(col("cle"), 1).over(wLag), lit(0L)))
        .select(col("g"), col("w"), col("k"), col("c"))
        .union(tot.join(le.filter(col("k") === 9)
            .select(col("g"), col("w"), col("cle")), Seq("g", "w"))
          .select(col("g"), col("w"), lit(10).as("k"), (col("n") - col("cle")).as("c")))
      val pq = bins.filter(col("w") === 0)
        .select(col("g"), col("k"), col("c").as("c0"))
        .join(bins.filter(col("w") === 1)
          .select(col("g"), col("k"), col("c").as("c1")), Seq("g", "k"))
        .join(tot.filter(col("w") === 0).select(col("g"), col("n").as("n0")), "g")
        .join(tot.filter(col("w") === 1).select(col("g"), col("n").as("n1")), "g")
        // greatest(1, …): past ~1M rows per group an empty bin's smoothed
        // ppm floors to 0 and ln(0) diverges cross-engine (Spark casts
        // -Inf→NULL, DuckDB errors) — clamp to 1 ppm on BOTH engines
        .select(col("g"), col("k"),
          expr("greatest(1L, ((c0 + 1) * 1000000) DIV (n0 + 10))").as("p_ppm"),
          expr("greatest(1L, ((c1 + 1) * 1000000) DIV (n1 + 10))").as("q_ppm"),
          col("n0"), col("n1"))
      val out = pq.groupBy(col("g"))
        .agg(max(col("n0")).as("n_ref"), max(col("n1")).as("n_cur"),
          sum((col("p_ppm") - col("q_ppm")) *
            (expr(lnQ("p_ppm")) - expr(lnQ("q_ppm")))).as("psi_scaled"),
          max(abs(col("p_ppm") - col("q_ppm"))).as("max_bin_shift_ppm"),
          count(lit(1)).as("n_bins"))
        .orderBy(col("g"))
      out
    },
    Some(s"""WITH base AS (
      SELECT event_type AS g,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        (epoch_us(ts) // 86400000000) % 2 AS w
      FROM events),
    rh AS (SELECT g, x, COUNT(*) AS c FROM base WHERE w = 0 GROUP BY 1, 2),
    rc AS (SELECT g, x, c,
        SUM(c) OVER (PARTITION BY g ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(c) OVER (PARTITION BY g) AS n
      FROM rh),
    edges AS (SELECT g, k, MIN(x) AS edge
              FROM rc, unnest(range(1, 10)) AS t(k)
              WHERE cum >= (k * n + 9) // 10
              GROUP BY g, k),
    tot AS (SELECT g, w, COUNT(*) AS n FROM base GROUP BY 1, 2),
    le AS (SELECT b.g, b.w, e.k,
             CAST(COUNT(CASE WHEN b.x <= e.edge THEN 1 END) AS BIGINT) AS cle
           FROM base b JOIN edges e ON e.g = b.g GROUP BY 1, 2, 3),
    bins AS (
      SELECT g, w, k,
        cle - COALESCE(LAG(cle) OVER (PARTITION BY g, w ORDER BY k), 0) AS c
      FROM le
      UNION ALL
      SELECT t.g, t.w, 10 AS k, t.n - l.cle AS c
      FROM tot t JOIN le l ON l.g = t.g AND l.w = t.w AND l.k = 9),
    pq AS (SELECT b0.g, b0.k,
        greatest(1, ((b0.c + 1) * 1000000) // (t0.n + 10)) AS p_ppm,
        greatest(1, ((b1.c + 1) * 1000000) // (t1.n + 10)) AS q_ppm,
        t0.n AS n0, t1.n AS n1
      FROM bins b0 JOIN bins b1 ON b1.g = b0.g AND b1.k = b0.k
        AND b0.w = 0 AND b1.w = 1
      JOIN tot t0 ON t0.g = b0.g AND t0.w = 0
      JOIN tot t1 ON t1.g = b0.g AND t1.w = 1)
    SELECT g, CAST(MAX(n0) AS BIGINT) AS n_ref, CAST(MAX(n1) AS BIGINT) AS n_cur,
      CAST(SUM((p_ppm - q_ppm) * (${lnQ("p_ppm")} - ${lnQ("q_ppm")})) AS BIGINT)
        AS psi_scaled,
      CAST(MAX(abs(p_ppm - q_ppm)) AS BIGINT) AS max_bin_shift_ppm,
      COUNT(*) AS n_bins
    FROM pq GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q134
  // SESSION PATH MINING — the top complete user journeys (ordered
  // event-type sequences per user-day, truncated to the first 5 steps),
  // the Sankey/path-analysis primitive: q127 aggregates pairwise
  // TRANSITIONS and loses sequence identity; this keeps the whole path
  // as the unit of counting. One (user, day)-keyed aggregate collects
  // each journey's events and `array_sort` of (us, event_id, type)
  // structs imposes the total order INSIDE the group — collect_list's
  // arrival order is nondeterministic, the sort makes the path
  // deterministic without any window or global sort; per-group state is
  // bounded by per-user-day activity (q52's session-state class, keyed
  // high-cardinality). The path frequency count is a second
  // map-side-combined aggregate over |journeys| rows, and the top-20 is
  // a TakeOrdered. The DuckDB oracle uses ordered list aggregation —
  // an independent formulation of the same total order.
  private val q134 = QueryDef(
    "q134_path_mining",
    (s, dir) => {
      val paths = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 86400000000").as("day"),
          unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
        .groupBy(col("user_id"), col("day"))
        .agg(array_sort(collect_list(
          struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
        .select(col("user_id"),
          expr("concat_ws('>', transform(slice(evs, 1, 5), e -> e.event_type))")
            .as("path"))
      paths.groupBy(col("path"))
        .agg(count(lit(1)).as("n_journeys"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_journeys").desc, col("path"))
        .limit(20)
    },
    Some("""WITH ev AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS us,
        event_id, event_type FROM events),
    paths AS (
      SELECT user_id, day,
        array_to_string(list(event_type ORDER BY us, event_id)[1:5], '>') AS path
      FROM ev GROUP BY 1, 2)
    SELECT path, COUNT(*) AS n_journeys,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM paths GROUP BY 1 ORDER BY n_journeys DESC, path LIMIT 20"""))

  // --------------------------------------------------------------- q136
  // CUPED VARIANCE REDUCTION — the experimentation-platform estimator:
  // adjust each user's experiment-window metric by θ·(covariate − mean)
  // where the covariate is the user's PRE-period activity and θ =
  // Cov(X,Y)/Var(X), shrinking metric variance without biasing the
  // treatment contrast. Everything reduces to MOMENTS: per-user (x, y)
  // from one conditional aggregate, then pooled and per-arm sums of
  // x, y, x², xy, y² in DECIMAL(38,0) (exact at any scale — the s19
  // discipline), so θ, adjusted means, and the variance-reduction ratio
  // are pure arithmetic on a handful of exact numbers; no per-user
  // adjusted values ever materialize (linearity of the adjustment).
  // The only fact-sized ops are the event→user rollup and the user→arm
  // rollup, both map-side combined. Doubles appear ONLY in the final
  // ratios, written in the same operation order as the oracle (IEEE-
  // deterministic) and rounded at 6 decimals; the exact BIGINT sums ride
  // along so the hash pins the integer state too.
  private val q136 = QueryDef(
    "q136_cuped",
    (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val u = events(s, dir)
        .select(col("user_id"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"),
          expr("(unix_micros(ts) DIV 86400000000) % 2").as("w"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("w") === 0, col("cents")).otherwise(0L)).as("x"),
          sum(when(col("w") === 1, col("cents")).otherwise(0L)).as("y"))
        .withColumn("arm", col("user_id") % 2)
      val mom = u.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
        .select(col("n"), col("sx"),
          expr("""(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0D)""").as("theta"),
          expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("mx"))
      val arm = u.groupBy(col("arm")).agg(
        count(lit(1)).as("n_users"),
        sum(col("x").cast(dec)).as("ax"), sum(col("y").cast(dec)).as("ay"),
        sum(col("y").cast(dec) * col("y")).as("ayy"),
        sum(col("x").cast(dec) * col("x")).as("axx"),
        sum(col("x").cast(dec) * col("y")).as("axy"))
      arm.crossJoin(broadcast(mom))
        .select(col("arm"), col("n_users"),
          col("ax").cast("long").as("sum_x"), col("ay").cast("long").as("sum_y"),
          expr("round(CAST(ay AS DOUBLE) / n_users, 6)").as("mean_y"),
          expr("""round(CAST(ay AS DOUBLE) / n_users
                  - theta * (CAST(ax AS DOUBLE) / n_users - mx), 6)""").as("mean_y_adj"),
          expr("""round(1.0D - (CAST(ayy AS DOUBLE) - 2.0D * theta * CAST(axy AS DOUBLE)
                   + theta * theta * CAST(axx AS DOUBLE)
                   - n_users * (CAST(ay AS DOUBLE) / n_users - theta * CAST(ax AS DOUBLE) / n_users)
                     * (CAST(ay AS DOUBLE) / n_users - theta * CAST(ax AS DOUBLE) / n_users))
                  / nullif(CAST(ayy AS DOUBLE)
                     - n_users * (CAST(ay AS DOUBLE) / n_users) * (CAST(ay AS DOUBLE) / n_users), 0.0D), 6)""")
            .as("var_reduction"))
        .orderBy(col("arm"))
    },
    Some("""WITH ev AS (
      SELECT user_id, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        (epoch_us(ts) // 86400000000) % 2 AS w
      FROM events),
    u AS (SELECT user_id,
            CAST(SUM(CASE WHEN w = 0 THEN cents ELSE 0 END) AS BIGINT) AS x,
            CAST(SUM(CASE WHEN w = 1 THEN cents ELSE 0 END) AS BIGINT) AS y,
            user_id % 2 AS arm
          FROM ev GROUP BY user_id),
    mom AS (SELECT COUNT(*) AS n,
            CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
            CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
            CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
            CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
          FROM u),
    th AS (SELECT n,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS theta,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
          FROM mom),
    arm AS (SELECT arm, COUNT(*) AS n_users,
            CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ax,
            CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ay,
            CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS ayy,
            CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS axx,
            CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS axy
          FROM u GROUP BY arm)
    SELECT a.arm, a.n_users,
      CAST(a.ax AS BIGINT) AS sum_x, CAST(a.ay AS BIGINT) AS sum_y,
      round(CAST(a.ay AS DOUBLE) / a.n_users, 6) AS mean_y,
      round(CAST(a.ay AS DOUBLE) / a.n_users
            - t.theta * (CAST(a.ax AS DOUBLE) / a.n_users - t.mx), 6) AS mean_y_adj,
      round(1.0 - (CAST(a.ayy AS DOUBLE) - 2.0 * t.theta * CAST(a.axy AS DOUBLE)
                   + t.theta * t.theta * CAST(a.axx AS DOUBLE)
                   - a.n_users * (CAST(a.ay AS DOUBLE) / a.n_users - t.theta * CAST(a.ax AS DOUBLE) / a.n_users)
                     * (CAST(a.ay AS DOUBLE) / a.n_users - t.theta * CAST(a.ax AS DOUBLE) / a.n_users))
            / nullif(CAST(a.ayy AS DOUBLE)
               - a.n_users * (CAST(a.ay AS DOUBLE) / a.n_users) * (CAST(a.ay AS DOUBLE) / a.n_users), 0.0), 6)
        AS var_reduction
    FROM arm a, th t ORDER BY a.arm"""))

  // --------------------------------------------------------------- q140
  // AUTOCORRELATION (lags 1–7) — the seasonality diagnostic over the
  // daily activity series per event type: a weekly cycle shows as an
  // ACF spike at lag 7, trend as slow decay — the check run before any
  // forecasting/anomaly model. The fact table collapses to the |days|-
  // bounded daily series in ONE map-side-combined aggregate; the lag
  // pairing is a self-join of that bounded series (never the fact), and
  // ACF reduces to q136's exact-moment discipline: DECIMAL(38,0) sums
  // (Σx, Σy, Σxy per lag; Σc, Σc², n per series), with doubles only in
  // the final ratio, oracle-identical operation order, rounded at 6.
  private val q140 = QueryDef(
    "q140_autocorrelation",
    (s, dir) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = events(s, dir)
        .groupBy(col("event_type").as("g"),
          expr("unix_micros(ts) DIV 86400000000").as("day"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // |days|-bounded; read by both sides of the lag join
      val st = daily.groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(col("c").cast(dec)).as("sc"),
        sum(col("c").cast(dec) * col("c")).as("scc"))
      val pr = daily
        .select(col("g"), col("day"), col("c"),
          explode(expr("sequence(1, 7)")).as("lag"))
        .join(daily.select(col("g"), col("day").as("day2"), col("c").as("c2")),
          Seq("g"))
        .filter(col("day2") === col("day") + col("lag"))
        .groupBy(col("g"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c").cast(dec)).as("sx"),
          sum(col("c2").cast(dec)).as("sy"),
          sum(col("c").cast(dec) * col("c2")).as("sxy"))
      pr.join(broadcast(st), "g")
        .select(col("g"), col("lag").cast("long").as("lag"), col("n_pairs"),
          expr("""round((CAST(sxy AS DOUBLE)
                   - (CAST(sc AS DOUBLE) / n) * CAST(sx AS DOUBLE)
                   - (CAST(sc AS DOUBLE) / n) * CAST(sy AS DOUBLE)
                   + n_pairs * (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n))
                  / nullif(CAST(scc AS DOUBLE)
                     - n * (CAST(sc AS DOUBLE) / n) * (CAST(sc AS DOUBLE) / n), 0.0D), 6)""")
            .as("acf"))
        .orderBy(col("g"), col("lag"))
    },
    Some("""WITH daily AS (
      SELECT event_type AS g, epoch_us(ts) // 86400000000 AS day,
        CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    st AS (SELECT g, COUNT(*) AS n,
            CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sc,
            CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS scc
          FROM daily GROUP BY 1),
    pr AS (SELECT a.g, k.lag, COUNT(*) AS n_pairs,
            CAST(SUM(CAST(a.c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
            CAST(SUM(CAST(b.c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
            CAST(SUM(CAST(a.c AS DECIMAL(38,0)) * b.c) AS DECIMAL(38,0)) AS sxy
          FROM daily a
          JOIN (SELECT unnest(range(1, 8)) AS lag) k ON TRUE
          JOIN daily b ON b.g = a.g AND b.day = a.day + k.lag
          GROUP BY 1, 2)
    SELECT p.g, CAST(p.lag AS BIGINT) AS lag, p.n_pairs,
      round((CAST(p.sxy AS DOUBLE)
             - (CAST(s.sc AS DOUBLE) / s.n) * CAST(p.sx AS DOUBLE)
             - (CAST(s.sc AS DOUBLE) / s.n) * CAST(p.sy AS DOUBLE)
             + p.n_pairs * (CAST(s.sc AS DOUBLE) / s.n) * (CAST(s.sc AS DOUBLE) / s.n))
            / nullif(CAST(s.scc AS DOUBLE)
               - s.n * (CAST(s.sc AS DOUBLE) / s.n) * (CAST(s.sc AS DOUBLE) / s.n), 0.0), 6) AS acf
    FROM pr p JOIN st s ON s.g = p.g
    ORDER BY p.g, p.lag"""))

  // --------------------------------------------------------------- q142
  // WEIGHTED MEDIAN / PERCENTILE — quantity-weighted price quantiles,
  // the market/billing statistic where each row counts by its volume
  // (unweighted medians over-represent small lots; q29/q94/q132 are all
  // unweighted). Same scale design as q132's exact-median machinery
  // with WEIGHT MASS in place of row counts: one map-side-combined
  // (group, cents) histogram summing weights, a cumulative-weight window
  // over the value domain (never the fact), and quantile positions
  // located by the cum−w < rank ≤ cum containment test — the weighted
  // median uses the even/odd midpoint-sum (wmed2 = 2·median, integer),
  // the weighted p90 the ceil-rank ⌈0.9·W⌉. Everything int64-exact.
  private val q142 = QueryDef(
    "q142_weighted_median",
    (s, dir) => {
      val wCum = Window.partitionBy(col("g")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      rd(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"),
          expr("CAST(l_quantity AS BIGINT)").as("wt"))
        .groupBy(col("g"), col("x")).agg(sum(col("wt")).as("w"))
        .withColumn("cum", sum(col("w")).over(wCum))
        .withColumn("tw", sum(col("w")).over(wAll))
        .groupBy(col("g"))
        .agg(max(col("tw")).as("total_weight"),
          (sum(when(col("cum") - col("w") < expr("(tw + 1) DIV 2") &&
              expr("(tw + 1) DIV 2") <= col("cum"), col("x")).otherwise(0L))
            + sum(when(col("cum") - col("w") < expr("tw DIV 2 + 1") &&
              expr("tw DIV 2 + 1") <= col("cum"), col("x")).otherwise(0L))).as("wmed2"),
          sum(when(col("cum") - col("w") < expr("(tw * 9 + 9) DIV 10") &&
              expr("(tw * 9 + 9) DIV 10") <= col("cum"), col("x")).otherwise(0L))
            .as("wp90"))
        .orderBy(col("g"))
    },
    Some("""WITH base AS (
      SELECT l_returnflag AS g,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem),
    h AS (SELECT g, x, CAST(SUM(wt) AS BIGINT) AS w FROM base GROUP BY 1, 2),
    c AS (SELECT g, x, w,
        SUM(w) OVER (PARTITION BY g ORDER BY x
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        SUM(w) OVER (PARTITION BY g) AS tw
      FROM h)
    SELECT g, CAST(MAX(tw) AS BIGINT) AS total_weight,
      CAST(SUM(CASE WHEN cum - w < (tw + 1) // 2 AND (tw + 1) // 2 <= cum THEN x ELSE 0 END)
         + SUM(CASE WHEN cum - w < tw // 2 + 1 AND tw // 2 + 1 <= cum THEN x ELSE 0 END) AS BIGINT) AS wmed2,
      CAST(SUM(CASE WHEN cum - w < (tw * 9 + 9) // 10 AND (tw * 9 + 9) // 10 <= cum THEN x ELSE 0 END) AS BIGINT) AS wp90
    FROM c GROUP BY g ORDER BY g"""))

  // --------------------------------------------------------------- q149
  // EXACT KOLMOGOROV–SMIRNOV DRIFT TEST — the distribution-shape
  // complement of q133's binned PSI: per event_type, the KS statistic
  // D = max |F_a(x) − F_b(x)| between the early and late halves of the
  // window, computed EXACTLY on the cent-quantized value domain with no
  // floats until nothing is left to compare: per distinct value the
  // cross-multiplied gap |cum_a·n_b − cum_b·n_a| is exact int64, D
  // ships as that max gap in ppm of n_a·n_b, and the argmax value
  // (smallest x attaining it) ships beside it — the "where does the
  // distribution tear" diagnostic PSI's bins blur. Scale: q132's
  // discipline — one map-side-combined (group, value) histogram
  // collapses the fact to its value domain, every window after that
  // runs over the bounded histogram (cents quantization bounds the
  // domain independently of row count). The verdict uses the proper
  // SIZE-SCALED critical value, not a fixed ppm knob: reject at α=0.05
  // iff D > 1.358·√((n_a+n_b)/(n_a·n_b)), squared and cross-multiplied
  // into exact integers — gmax²·1000 > 1844·(n_a+n_b)·n_a·n_b (1.358² ≈
  // 1.8442; gmax = D·n_a·n_b). gmax² needs 128 bits at scale, so the
  // compare runs in DECIMAL(38,0) / HUGEINT (m13's discipline).

  private val q149 = QueryDef(
    "q149_ks_drift",
    (s, dir) => {
      val splitUs = 1705363200000000L // window midpoint (q146's epoch cut)
      val hist = events(s, dir)
        .select(col("event_type").as("g"),
          when(unix_micros(col("ts")) < splitUs, 1L).otherwise(0L).as("ea"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("x"))
        .groupBy(col("g"), col("x"))
        .agg(sum(col("ea")).as("ca"), sum(lit(1L) - col("ea")).as("cb"))
      val w = Window.partitionBy(col("g")).orderBy(col("x"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("g"))
      hist
        .withColumn("cum_a", sum(col("ca")).over(w))
        .withColumn("cum_b", sum(col("cb")).over(w))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .withColumn("gap", expr("abs(cum_a * nb - cum_b * na)"))
        .withColumn("gmax", max(col("gap")).over(wAll))
        .groupBy(col("g").as("event_type"))
        .agg(
          max(col("na")).as("n_a"),
          max(col("nb")).as("n_b"),
          expr("max(gap) * 1000000 DIV (max(na) * max(nb))").as("d_ppm"),
          min(when(col("gap") === col("gmax"), col("x"))).as("x_at_max"),
          max(col("gmax")).as("gmax"))
        .withColumn("drifted",
          expr("CAST(gmax AS DECIMAL(38,0)) * gmax * 1000 " +
            "> CAST(1844 AS DECIMAL(38,0)) * (n_a + n_b) * n_a * n_b"))
        .drop("gmax")
        .orderBy(col("event_type"))
    },
    Some(s"""WITH h AS (
      SELECT event_type AS g,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
        CAST(SUM(CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(SUM(CASE WHEN epoch_us(ts) < 1705363200000000 THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM events GROUP BY 1, 2),
    c AS (SELECT g, x,
        SUM(ca) OVER (PARTITION BY g ORDER BY x
          ROWS UNBOUNDED PRECEDING) AS cum_a,
        SUM(cb) OVER (PARTITION BY g ORDER BY x
          ROWS UNBOUNDED PRECEDING) AS cum_b,
        SUM(ca) OVER (PARTITION BY g) AS na,
        SUM(cb) OVER (PARTITION BY g) AS nb
      FROM h),
    gp AS (SELECT g, x, na, nb, abs(cum_a * nb - cum_b * na) AS gap,
        MAX(abs(cum_a * nb - cum_b * na)) OVER (PARTITION BY g) AS gmax
      FROM c)
    SELECT g AS event_type,
      CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
      CAST(MAX(gap) * 1000000 // (MAX(na) * MAX(nb)) AS BIGINT) AS d_ppm,
      CAST(MIN(CASE WHEN gap = gmax THEN x END) AS BIGINT) AS x_at_max,
      CAST(MAX(gmax) AS HUGEINT) * MAX(gmax) * 1000
        > CAST(1844 AS HUGEINT) * (MAX(na) + MAX(nb)) * MAX(na) * MAX(nb)
        AS drifted
    FROM gp GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q158
  // SAMPLE-RATIO MISMATCH (SRM) AUDIT — the first gate every experiment
  // readout runs BEFORE q136's CUPED analysis is allowed to mean
  // anything: if the 50/50 assignment didn't land 50/50 over exposed
  // units, the randomization is broken (bot filtering, redirect loss,
  // logging bias) and the experiment is invalid regardless of effect
  // size. Per experiment (event_type here), distinct exposed users per
  // arm (user-id parity = the deterministic hash assignment), and the
  // 2-arm χ² statistic — which collapses to (a−b)²/n exactly, so the
  // α = 0.05 verdict is the pure integer cross-multiply
  // (a−b)²·100 > 384·n (χ²₁ critical 3.841 rounded down: a conservative
  // gate is the right direction for an invalidation test). One distinct
  // aggregate per (experiment, arm) — map-side combined on the
  // high-cardinality user key — then a bounded per-experiment rollup.
  private val q158 = QueryDef(
    "q158_srm_audit",
    (s, dir) => {
      events(s, dir)
        .select(col("event_type").as("experiment"), col("user_id"),
          (col("user_id") % 2).as("arm"))
        .groupBy(col("experiment"), col("arm"))
        .agg(countDistinct(col("user_id")).as("n"))
        .groupBy(col("experiment"))
        .agg(
          sum(when(col("arm") === 0, col("n")).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, col("n")).otherwise(0L)).as("n_b"))
        .withColumn("chi2_ppm",
          expr("((n_a - n_b) * (n_a - n_b) * 1000000) DIV (n_a + n_b)"))
        .withColumn("srm",
          expr("(n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b)"))
        .select(col("experiment"), col("n_a"), col("n_b"), col("chi2_ppm"),
          col("srm"))
        .orderBy(col("experiment"))
    },
    Some("""WITH arms AS (
      SELECT event_type AS experiment, user_id % 2 AS arm,
        COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY 1, 2),
    g AS (SELECT experiment,
            CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b
          FROM arms GROUP BY 1)
    SELECT experiment, n_a, n_b,
      CAST((n_a - n_b) * (n_a - n_b) * 1000000 // (n_a + n_b) AS BIGINT) AS chi2_ppm,
      (n_a - n_b) * (n_a - n_b) * 100 > 384 * (n_a + n_b) AS srm
    FROM g ORDER BY experiment"""))

  // --------------------------------------------------------------- q161
  // JOIN-CARDINALITY ESTIMATOR AUDIT — the CBO-statistics operator: for
  // each join edge, build an end-biased histogram per side (exact heavy
  // hitters at the 1/500-frequency threshold + a uniform residual
  // summary) and compare the System-R-style estimate against the exact
  // join cardinality Σ_k cA(k)·cB(k), computed from the same per-key
  // count tables WITHOUT materializing the join. The estimate is
  //   Σ_{hitter∩hitter} cA·cB                        (exact skew mass)
  //   + (ΣcA_unmatched-hitters · rowsB_res) DIV ndvB_res   (containment)
  //   + symmetric                                        + residual²:
  //   + (rowsA_res · rowsB_res) DIV max(ndvA_res, ndvB_res)
  // — all BIGINT, single floor-division per term, so both engines agree
  // bitwise. The threshold hitter set (a pure filter on the count
  // table) replaces a top-k rank window on purpose: it needs no global
  // order, so the plan holds at any key cardinality. Scale: per side
  // one map-side-combined count aggregate; everything after runs on
  // key-cardinality tables (the hitter frames are ≤ 500 rows by
  // construction). The four audited edges span the regimes that break
  // naive estimators: FK–PK fan-out, near-uniform FK, a mildly skewed
  // self-join, and a 5-value heavy-skew self-join where the hitter term
  // carries everything and the uniform assumption alone would be off
  // by orders of magnitude.
  private def estEdge(a: org.apache.spark.sql.DataFrame, ka: String,
                      b: org.apache.spark.sql.DataFrame, kb: String,
                      name: String): org.apache.spark.sql.DataFrame = {
    def counts(df: org.apache.spark.sql.DataFrame, k: String, cn: String) =
      df.select(col(k).as("k")).filter(col("k").isNotNull)
        .groupBy(col("k")).agg(count(lit(1)).as(cn))
    // the count tables are cached (key-cardinality-sized, LRU-evicted —
    // the d05 discipline); each is consumed twice below (its total + the
    // full-outer join). A self-join edge reuses one table for both sides.
    val ca = counts(a, ka, "ca").cache()
    val cb = if ((a eq b) && ka == kb) ca.withColumnRenamed("ca", "cb")
             else counts(b, kb, "cb").cache()
    // r22 restructure (VERDICT r21 item 5): every per-key fact both sides
    // carry lives in ONE full-outer join on k (keys are distinct per
    // side, so each key is exactly one row), and every downstream term —
    // exact Σ cA·cB, hitter/hitter mass, residual summaries, the two
    // containment anti-joins — is a conditional sum over it. That one
    // aggregate replaces the 6-frame fan (exact + hh + resA + resB +
    // haum + hbum ≈ 24 stages across the 4 edges) the r21 plan carried.
    // Value-identical by construction: hit is the same integer compare,
    // each term sums the same rows, and the final est_rows/err_ppm
    // expressions below are untouched (same DIV order, same DECIMAL
    // promotion) — oracle-gated at sf0.001 and sf0.01.
    val j = ca.join(cb, Seq("k"), "full_outer")
    val tots = ca.agg(sum(col("ca")).as("rows_a"))
      .crossJoin(cb.agg(sum(col("cb")).as("rows_b")))
    val agg = j.crossJoin(broadcast(tots))
      .withColumn("hita", col("ca").isNotNull && col("ca") * 500 >= col("rows_a"))
      .withColumn("hitb", col("cb").isNotNull && col("cb") * 500 >= col("rows_b"))
      .agg(
        coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_rows"),
        coalesce(sum(when(col("hita") && col("hitb"), col("ca") * col("cb"))),
          lit(0L)).as("t_hh"),
        coalesce(sum(when(col("ca").isNotNull && !col("hita"), col("ca"))),
          lit(0L)).as("rows_a_res"),
        coalesce(sum(when(col("ca").isNotNull && !col("hita"), 1L)), lit(0L))
          .as("ndv_a_res"),
        coalesce(sum(when(col("cb").isNotNull && !col("hitb"), col("cb"))),
          lit(0L)).as("rows_b_res"),
        coalesce(sum(when(col("cb").isNotNull && !col("hitb"), 1L)), lit(0L))
          .as("ndv_b_res"),
        coalesce(sum(when(col("hita") && !col("hitb"), col("ca"))), lit(0L))
          .as("ca_hit_um"),
        coalesce(sum(when(col("hitb") && !col("hita"), col("cb"))), lit(0L))
          .as("cb_hit_um"))
    agg
      .select(lit(name).as("edge"), col("exact_rows"),
        expr("""t_hh
          + CASE WHEN ndv_b_res > 0 THEN (ca_hit_um * rows_b_res) DIV ndv_b_res ELSE 0 END
          + CASE WHEN ndv_a_res > 0 THEN (cb_hit_um * rows_a_res) DIV ndv_a_res ELSE 0 END
          + CASE WHEN greatest(ndv_a_res, ndv_b_res) > 0
                 THEN (rows_a_res * rows_b_res) DIV greatest(ndv_a_res, ndv_b_res)
                 ELSE 0 END""").as("est_rows"))
      // error term promoted before the ×1e6 (q170's quota_share_ppm
      // pattern): a low-cardinality self-join edge at large SF can be
      // mis-estimated by > 9e12 rows, where BIGINT×1e6 wraps silently in
      // Spark (non-ANSI) while DuckDB raises — the engines would diverge
      // exactly where the estimator is most stressed
      .withColumn("err_ppm", expr(
        """CASE WHEN exact_rows > 0
           THEN CAST(CAST(abs(est_rows - exact_rows) AS DECIMAL(38,0)) * 1000000
                     DIV CAST(exact_rows AS DECIMAL(38,0)) AS BIGINT) END"""))
  }

  private def estEdgeSql(ta: String, ka: String, tb: String, kb: String,
                         name: String, sfx: String): (String, String) = {
    val cte = s"""ca_$sfx AS (SELECT $ka AS k, COUNT(*) AS ca FROM $ta
             WHERE $ka IS NOT NULL GROUP BY 1),
    cb_$sfx AS (SELECT $kb AS k, COUNT(*) AS cb FROM $tb
             WHERE $kb IS NOT NULL GROUP BY 1),
    ta_$sfx AS (SELECT k, ca, ca * 500 >= (SELECT SUM(ca) FROM ca_$sfx) AS hit FROM ca_$sfx),
    tb_$sfx AS (SELECT k, cb, cb * 500 >= (SELECT SUM(cb) FROM cb_$sfx) AS hit FROM cb_$sfx),
    ex_$sfx AS (SELECT COALESCE(SUM(ca * cb), 0) AS exact_rows
             FROM ca_$sfx JOIN cb_$sfx USING (k)),
    hh_$sfx AS (SELECT COALESCE(SUM(a.ca * b.cb), 0) AS t_hh
             FROM ta_$sfx a JOIN tb_$sfx b USING (k) WHERE a.hit AND b.hit),
    ra_$sfx AS (SELECT COALESCE(SUM(ca), 0) AS rows_a_res, COUNT(*) AS ndv_a_res
             FROM ta_$sfx WHERE NOT hit),
    rb_$sfx AS (SELECT COALESCE(SUM(cb), 0) AS rows_b_res, COUNT(*) AS ndv_b_res
             FROM tb_$sfx WHERE NOT hit),
    ha_$sfx AS (SELECT COALESCE(SUM(a.ca), 0) AS ca_hit_um FROM ta_$sfx a
             WHERE a.hit AND NOT EXISTS (
               SELECT 1 FROM tb_$sfx b WHERE b.k = a.k AND b.hit)),
    hb_$sfx AS (SELECT COALESCE(SUM(b.cb), 0) AS cb_hit_um FROM tb_$sfx b
             WHERE b.hit AND NOT EXISTS (
               SELECT 1 FROM ta_$sfx a WHERE a.k = b.k AND a.hit))"""
    val sel = s"""SELECT '$name' AS edge,
      CAST(exact_rows AS BIGINT) AS exact_rows,
      CAST(t_hh
        + CASE WHEN ndv_b_res > 0 THEN (ca_hit_um * rows_b_res) // ndv_b_res ELSE 0 END
        + CASE WHEN ndv_a_res > 0 THEN (cb_hit_um * rows_a_res) // ndv_a_res ELSE 0 END
        + CASE WHEN greatest(ndv_a_res, ndv_b_res) > 0
               THEN (rows_a_res * rows_b_res) // greatest(ndv_a_res, ndv_b_res)
               ELSE 0 END AS BIGINT) AS est_rows,
      CAST(CASE WHEN exact_rows > 0 THEN CAST(abs(t_hh
        + CASE WHEN ndv_b_res > 0 THEN (ca_hit_um * rows_b_res) // ndv_b_res ELSE 0 END
        + CASE WHEN ndv_a_res > 0 THEN (cb_hit_um * rows_a_res) // ndv_a_res ELSE 0 END
        + CASE WHEN greatest(ndv_a_res, ndv_b_res) > 0
               THEN (rows_a_res * rows_b_res) // greatest(ndv_a_res, ndv_b_res)
               ELSE 0 END - exact_rows) AS HUGEINT) * 1000000 // exact_rows END AS BIGINT) AS err_ppm
    FROM ex_$sfx CROSS JOIN hh_$sfx CROSS JOIN ra_$sfx CROSS JOIN rb_$sfx
      CROSS JOIN ha_$sfx CROSS JOIN hb_$sfx"""
    (cte, sel)
  }

  private val q161 = QueryDef(
    "q161_join_estimate",
    (s, dir) => {
      val ev = events(s, dir)
      Seq(
        estEdge(rd(s, dir, "lineitem"), "l_orderkey", rd(s, dir, "orders"),
          "o_orderkey", "e1_lineitem_orders_orderkey"),
        estEdge(rd(s, dir, "orders"), "o_custkey", rd(s, dir, "customer"),
          "c_custkey", "e2_orders_customer_custkey"),
        estEdge(ev, "user_id", ev, "user_id", "e3_events_self_user_id"),
        estEdge(ev, "event_type", ev, "event_type", "e4_events_self_event_type"))
        .reduce(_.unionByName(_))
        .orderBy(col("edge"))
    },
    Some {
      val edges = Seq(
        estEdgeSql("lineitem", "l_orderkey", "orders", "o_orderkey",
          "e1_lineitem_orders_orderkey", "e1"),
        estEdgeSql("orders", "o_custkey", "customer", "c_custkey",
          "e2_orders_customer_custkey", "e2"),
        estEdgeSql("events", "user_id", "events", "user_id",
          "e3_events_self_user_id", "e3"),
        estEdgeSql("events", "event_type", "events", "event_type",
          "e4_events_self_event_type", "e4"))
      edges.map(_._1).mkString("WITH ", ",\n    ", "\n") +
        edges.map(_._2).mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY edge")
    })

  // --------------------------------------------------------------- q162
  // RFM SEGMENTATION — the classic customer-value operator: per user,
  // Recency (last event time), Frequency (event count), Monetary (exact
  // DECIMAL value sum), each scored 1–5 against its own exact quintile
  // boundaries, rolled up per "R-F-M" segment. The quintile boundaries
  // come from ONE exact interpolated-percentile aggregate over the
  // per-user table (the q29/q94 cross-engine percentile discipline —
  // `percentile` ≡ `quantile_cont`, identical lower+(upper−lower)·f
  // interpolation), broadcast as a 1-row frame; scoring is then a pure
  // per-row expression (count of boundaries strictly below the value),
  // so no rank/ntile window and no global sort anywhere. Scale: the
  // per-user aggregate is map-side combined; the percentile buffers the
  // USER-cardinality table (the documented exact-percentile trade,
  // q29) — at 100 TB you'd swap in approx_percentile for boundary
  // discovery and keep the same scoring plan.
  private val q162 = QueryDef(
    "q162_rfm_segments",
    (s, dir) => {
      val per = events(s, dir).groupBy(col("user_id")).agg(
        expr("unix_micros(max(ts))").as("rec_us"),
        count(lit(1)).as("freq"),
        dsum(col("value")).as("monetary"))
      val qs = "array(0.2D, 0.4D, 0.6D, 0.8D)"
      val bounds = per.agg(
        expr(s"percentile(rec_us, $qs)").as("rb"),
        expr(s"percentile(freq, $qs)").as("fb"),
        expr(s"percentile(monetary, $qs)").as("mb"))
      per.crossJoin(bounds)
        .select(
          expr("1 + size(filter(rb, x -> rec_us > x))").cast("long").as("r"),
          expr("1 + size(filter(fb, x -> freq > x))").cast("long").as("f"),
          expr("1 + size(filter(mb, x -> monetary > x))").cast("long").as("m"),
          col("monetary"))
        .groupBy(concat_ws("-", col("r"), col("f"), col("m")).as("segment"))
        .agg(count(lit(1)).as("n_users"),
          dsum(col("monetary")).as("total_monetary"))
        .orderBy(col("segment"))
    },
    Some("""WITH per AS (
      SELECT user_id, epoch_us(max(ts)) AS rec_us, COUNT(*) AS freq,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id),
    bounds AS (SELECT
      quantile_cont(rec_us, [0.2, 0.4, 0.6, 0.8]) AS rb,
      quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
      quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM per),
    scored AS (SELECT
      1 + len(list_filter(rb, x -> rec_us > x)) AS r,
      1 + len(list_filter(fb, x -> freq > x)) AS f,
      1 + len(list_filter(mb, x -> monetary > x)) AS m,
      monetary
      FROM per CROSS JOIN bounds)
    SELECT CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-' || CAST(m AS VARCHAR)
        AS segment,
      COUNT(*) AS n_users,
      CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1 ORDER BY segment"""))

  // --------------------------------------------------------------- q165
  // SEMI-ADDITIVE SNAPSHOT — the warehouse balance fact: a measure that
  // sums across ACCOUNTS but not across TIME (account balances,
  // inventory levels). Daily total = Σ over accounts of each account's
  // LAST reported level, carried forward over silent days from the day
  // the account first appears. q46 forward-fills a per-group measure on
  // a grid; the semi-additive twist is last-not-sum within the day, a
  // per-account activation edge, and the cross-account rollup. Days are
  // integer epoch arithmetic (us DIV 1 day — the q47 discipline, no
  // shared calendar dialect needed). Scale: the close-of-day window and
  // the forward-fill both partition on user_id (high cardinality); the
  // grid is |users| × |days| rows built from a 1-row span frame — the
  // operator's inherent output shape, never corpus-sized.
  private val q165 = QueryDef(
    "q165_semi_additive",
    (s, dir) => {
      val dayUs = 24L * 3600 * 1000000L
      val ev = events(s, dir)
        .select(col("user_id"), expr(s"unix_micros(ts) DIV $dayUs").as("d"),
          expr("unix_micros(ts)").as("us"), col("event_id"), col("value"))
      val wLast = Window.partitionBy(col("user_id"), col("d"))
        .orderBy(col("us").desc, col("event_id").desc)
      val close = ev.withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("d"), col("value").as("close"))
      val span = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      val firstDay = ev.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
      val grid = span.select(explode(expr("sequence(d0, d1)")).as("d"))
        .crossJoin(firstDay)
        .filter(col("d") >= col("fd"))
      val wFill = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(close, Seq("user_id", "d"), "left")
        .withColumn("bal", last(col("close"), ignoreNulls = true).over(wFill))
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("n_accounts"), dsum(col("bal")).as("total_balance"))
        .orderBy(col("day"))
    },
    Some(s"""WITH ev AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS d, epoch_us(ts) AS us,
        event_id, value
      FROM events),
    close AS (SELECT user_id, d, value AS close FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, d
          ORDER BY us DESC, event_id DESC) AS rn FROM ev)
      WHERE rn = 1),
    span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev),
    fd AS (SELECT user_id, MIN(d) AS fd FROM ev GROUP BY user_id),
    grid AS (SELECT g.d, fd.user_id, fd.fd
             FROM (SELECT unnest(generate_series(d0, d1)) AS d FROM span) g
             CROSS JOIN fd
             WHERE g.d >= fd.fd),
    filled AS (SELECT grid.user_id, grid.d,
        last_value(close.close IGNORE NULLS) OVER (
          PARTITION BY grid.user_id ORDER BY grid.d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal
      FROM grid LEFT JOIN close ON grid.user_id = close.user_id AND grid.d = close.d)
    SELECT d AS day, COUNT(*) AS n_accounts, ${dsumSql("bal")} AS total_balance
    FROM filled GROUP BY d ORDER BY day"""))

  // --------------------------------------------------------------- q167
  // CUSUM CHANGEPOINT — sequential level-shift detection over each
  // event type's daily revenue: the page-Hinkley/CUSUM statistic
  // C_t = max(0, C_{t-1} + (x_t − target)) is a RECURSION, which looks
  // window-hostile — but with the drawup identity C_t = S_t − min_{s≤t}
  // S_s (S = running sum of deviations) it becomes two keyed running
  // windows and a max: fully parallel per type, no fold, no UDF. The
  // complement to q149 (KS tests the DISTRIBUTION; CUSUM finds WHEN the
  // level moved, and argmax-day is the changepoint estimate). Exact
  // integer cents throughout (target = total DIV n_days, the house
  // integer-division rule), so both engines agree bitwise. Scale: the
  // daily rollup is map-side combined; every window partitions on
  // event_type over a CALENDAR-bounded series, not raw events.
  private val q167 = QueryDef(
    "q167_cusum_changepoint",
    (s, dir) => {
      val dayUs = 24L * 3600 * 1000000L
      val daily = events(s, dir)
        .select(col("event_type"), expr(s"unix_micros(ts) DIV $dayUs").as("d"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
        .groupBy(col("event_type"), col("d"))
        .agg(sum(col("cents")).as("cents"))
      val target = daily.groupBy(col("event_type"))
        .agg(expr("sum(cents) DIV count(1)").as("target"),
          count(lit(1)).as("n_days"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cus = daily.join(target, Seq("event_type"))
        .withColumn("s", sum(col("cents") - col("target")).over(wRun))
        .withColumn("cusum", col("s") - min(col("s")).over(wRun))
      cus.withColumn("rnk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("cusum").desc, col("d"))))
        .filter(col("rnk") === 1)
        .select(col("event_type"), col("n_days"),
          col("cusum").as("max_cusum_cents"), col("d").as("cp_day"))
        .orderBy(col("event_type"))
    },
    Some("""WITH daily AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS d,
        SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    tgt AS (SELECT event_type, SUM(cents) // COUNT(*) AS target,
              COUNT(*) AS n_days
            FROM daily GROUP BY 1),
    runs AS (SELECT d.event_type, d.d, t.n_days,
        SUM(d.cents - t.target) OVER (PARTITION BY d.event_type ORDER BY d.d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM daily d JOIN tgt t USING (event_type)),
    cus AS (SELECT event_type, d, n_days,
        s - MIN(s) OVER (PARTITION BY event_type ORDER BY d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM runs)
    SELECT event_type, n_days,
      CAST(max_cusum_cents AS BIGINT) AS max_cusum_cents, cp_day
    FROM (SELECT event_type, n_days, cusum AS max_cusum_cents, d AS cp_day,
            ROW_NUMBER() OVER (PARTITION BY event_type
              ORDER BY cusum DESC, d) AS rnk
          FROM cus)
    WHERE rnk = 1 ORDER BY event_type"""))

  // --------------------------------------------------------------- q178
  // RECURSIVE CTE HIERARCHY WALK — Spark 4's `WITH RECURSIVE` (new API
  // surface the catalog's iterative operators have until now expressed
  // as driver loops): a 10-ary ownership tree over customers
  // (parent = custkey DIV 10), walked from the sub-10 roots, rolling up
  // per depth the node count and account-balance mass. Both engines
  // evaluate the SAME recursive semantics natively — Spark's recursion
  // executes as one iterative union per level (|levels| = log₁₀ N
  // joins, each pruned to the frontier), which is exactly the CC-loop
  // shape but planned by the engine instead of the driver. The closed
  // form (depth = digit count − 1) exists, and the oracle deliberately
  // does NOT use it: DuckDB runs the identical recursion, so the gate
  // checks the recursive evaluation itself.
  private val q178 = QueryDef(
    "q178_recursive_hierarchy",
    (s, dir) => {
      rd(s, dir, "customer").createOrReplaceTempView("graft_q178_customer")
      s.sql(s"""WITH RECURSIVE h(ck, depth, cents) AS (
        SELECT c_custkey, 0,
          CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM graft_q178_customer WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, h.depth + 1,
          CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        FROM graft_q178_customer c JOIN h ON c.c_custkey DIV 10 = h.ck
        WHERE c.c_custkey >= 10)
      SELECT depth, COUNT(*) AS n_nodes,
        CAST(SUM(cents) AS BIGINT) AS cents,
        CAST(SUM(ck % $HashMod) % $HashMod AS BIGINT) AS node_checksum
      FROM h GROUP BY depth ORDER BY depth""")
    },
    Some(s"""WITH RECURSIVE h(ck, depth, cents) AS (
      SELECT c_custkey, 0,
        CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, h.depth + 1,
        CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      FROM customer c JOIN h ON c.c_custkey // 10 = h.ck
      WHERE c.c_custkey >= 10)
    SELECT depth, COUNT(*) AS n_nodes,
      CAST(SUM(cents) AS BIGINT) AS cents,
      CAST(SUM(ck % $HashMod) % $HashMod AS BIGINT) AS node_checksum
    FROM h GROUP BY depth ORDER BY depth"""))

  val defs: Seq[QueryDef] =
    Seq(q25, q26, q27, q28, q29, q31, q32, q33, q34, q35, q36, q39, q44, q45,
      q46, q47, q48, q50, q70, q73, q74, q77, q78, q79, q82, q83, q87, q89,
      q90, q91, q92, q94, q104, q105, q109, q110, q114, q124, q127, q129,
      q130, q132, q133, q134, q136, q140, q142, q149, q158, q161, q162, q165,
      q167, q178)
}
