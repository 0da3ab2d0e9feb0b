package graft.analytics

import org.apache.spark.sql.functions._
import Tables._

/**
 * Semi-structured and sketch operators beyond the reference's JSON
 * parse (SURVEY §2.2): the Spark 4 VARIANT type (parse → shredded
 * parquet storage → typed extraction), iterative SQL via a recursive
 * CTE, and mergeable distinct sketches — exact (bucketed bitmaps) and
 * approximate (HLL partials unioned across groups).
 *
 * Scale notes (100 TB): q55 writes its VARIANT column with
 * `spark.sql.variant.writeShredding.enabled` + `inferShreddingSchema`
 * set for the write, so the parquet files store shredded typed
 * subcolumns and `PushVariantIntoScan` turns `variant_get` paths into
 * scan-level struct field reads — semi-structured data keeps columnar
 * pruning instead of degrading to per-row JSON string parsing (the
 * reference re-parses its JSON per query). q57/q58 are the
 * partial-aggregation story for COUNT(DISTINCT): per-partition sketch,
 * merge, finalize — one shuffle of constant-size state per group
 * instead of q09's Expand over the raw keys.
 */
object Semi {

  // ---------------------------------------------------------------- q55
  // VARIANT round-trip: orders serialized to JSON text (the ingest
  // interchange shape), parsed to VARIANT, written to parquet (shredded
  // storage), read back, and extracted with typed variant_get paths.
  // The aggregate over the extracted fields must hash-match the oracle
  // computed on the ORIGINAL table, so any loss in
  // to_json → parse_json → parquet → variant_get fails the gate.
  private val q55 = QueryDef(
    "q55_variant_shred",
    (s, dir) => {
      val out = tmp("graft-variant")
      // Shredded storage is opt-in in Spark 4.1; scope the confs to the
      // write so the parquet files actually carry typed subcolumns.
      withConfs(s,
        "spark.sql.variant.writeShredding.enabled" -> "true",
        "spark.sql.variant.inferShreddingSchema" -> "true") {
        rd(s, dir, "orders")
          .select(
            col("o_orderkey"),
            parse_json(to_json(struct(
              col("o_totalprice").as("price"),
              struct(col("o_orderstatus").as("status"),
                col("o_orderpriority").as("prio")).as("meta")))).as("v"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out)
        .select(
          expr("variant_get(v, '$.meta.prio', 'string')").as("prio"),
          expr("variant_get(v, '$.meta.status', 'string')").as("status"),
          expr("variant_get(v, '$.price', 'double')").as("price"))
        .groupBy(col("prio"), col("status"))
        .agg(count(lit(1)).as("n"), dsum(col("price")).as("sum_price"))
        .orderBy(col("prio"), col("status"))
    },
    Some(s"""SELECT o_orderpriority AS prio, o_orderstatus AS status,
      COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q56
  // Recursive CTE (iterate-until-condition SQL): walk each customer's
  // orders in date order, accumulating exact DECIMAL spend, stopping
  // when the next order would exceed the budget cap — recursion depth
  // is data-dependent per customer, which no fixed-length join chain or
  // window frame expresses. Spark executes the CTE as an iterative
  // UnionLoop bounded by spark.sql.cteRecursionRowLimit (1M rows total
  // across iterations, default) and cteRecursionLevelLimit (100 levels):
  // the anchor emits one row per customer, so this is explicitly a
  // small-scale SQL-surface demo — raise those confs or, for the real
  // 100 TB deep-recursion path (graph closure), use the Pregel-style
  // loop in operators/ConnectedComponents.
  private val budgetCap = "500000.00"
  private val seqSql = """
      SELECT o_custkey AS ck,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price2
      FROM %s"""
  // `%s` = the name of the ordered-sequence relation; prefix with either
  // `WITH RECURSIVE` (oracle: seq as a leading CTE) or build the sequence
  // as a materialized view first (Spark side).
  private val walkBodySql = s"""walk(ck, rn, cum) AS (
      SELECT ck, rn, price2 FROM %1$$s WHERE rn = 1
      UNION ALL
      SELECT /*+ BROADCAST(n) */ n.ck, n.rn, CAST(w.cum + n.price2 AS DECIMAL(18,2))
      FROM walk w JOIN %1$$s n ON n.ck = w.ck AND n.rn = w.rn + 1
      WHERE CAST(w.cum + n.price2 AS DECIMAL(18,2)) <= $budgetCap
    ),
    fin AS (
      SELECT ck, CAST(MAX(rn) AS BIGINT) AS n_orders, MAX(cum) AS spent
      FROM walk GROUP BY ck
    )
    SELECT n_orders, COUNT(*) AS n_customers,
      CAST(SUM(spent) AS DOUBLE) AS sum_spent
    FROM fin GROUP BY n_orders ORDER BY n_orders"""

  private val q56 = QueryDef(
    "q56_recursive_walk",
    (s, dir) => {
      // A CTE referenced inside the recursive branch is re-expanded on
      // EVERY UnionLoop iteration — for the order walk that meant one
      // full scan + window per recursion level. Materialize the ordered
      // sequence ONCE (localCheckpoint truncates lineage so each level
      // joins a in-memory table), then recurse over it. The per-level
      // state is tiny (≤ one row per customer), so the loop runs at
      // few-partition shuffle parallelism.
      rd(s, dir, "orders").createOrReplaceTempView("q56_orders")
      s.sql(seqSql.format("q56_orders")).localCheckpoint()
        .createOrReplaceTempView("q56_seq")
      val out = Tables.withShuffle(s, 8) {
        s.sql("WITH RECURSIVE " + walkBodySql.format("q56_seq")).localCheckpoint()
      }
      s.catalog.dropTempView("q56_orders")
      s.catalog.dropTempView("q56_seq")
      out
    },
    Some(s"""WITH RECURSIVE seq AS (${seqSql.format("orders")}),
    ${walkBodySql.format("seq")}"""))

  // ---------------------------------------------------------------- q57
  // Exact distinct via bucketed bitmap aggregates: each key sets one bit
  // in a fixed 4 KB bitmap per (group, bucket); per-bucket popcounts sum
  // to the exact distinct count. Unlike COUNT(DISTINCT) the partial
  // state is mergeable with OR — re-aggregable across days/partitions
  // without keeping raw keys, and never Expands the input.
  private val q57 = QueryDef(
    "q57_bitmap_distinct",
    (s, dir) => {
      rd(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          expr("bitmap_bucket_number(o_custkey)").as("bucket"))
        .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey)))").as("cnt"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("cnt")).cast("long").as("n_custs"))
        .orderBy(col("o_orderpriority"))
    },
    Some("""SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
    FROM orders GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q58
  // Mergeable HLL sketches (Datasketches): build one sketch per
  // (event_type, day) partial, then union partials per event_type and
  // estimate — the re-aggregation pattern q18's one-shot
  // approx_count_distinct can't do (its sketch is not exposed). At
  // 100 TB you persist the per-day sketch table once and answer any
  // date-range distinct query by unioning a handful of kilobyte blobs.
  // DuckDB's sketch differs, so the emitted columns are the exact
  // distinct twin plus a within-bound boolean (|merged-estimate − exact|
  // ≤ 3·rsd·exact; lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%, bound 5%);
  // the oracle recomputes the exact count and asserts TRUE. The sketch
  // path (partial per day → union per type) still runs in full.
  private val q58 = QueryDef(
    "q58_sketch_merge",
    (s, dir) => {
      val merged = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"), count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"),
          sum(col("n")).cast("long").as("n_events"))
      val exact = events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_users"), col("n_events"),
          (abs(col("approx") - col("n_users")) <= col("n_users") * 0.05).as("merge_ok"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      COUNT(*) AS n_events, TRUE AS merge_ok
    FROM events GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q71
  // Theta sketches (Datasketches): the distinct-count algebra HLL can't
  // do — union AND intersection AND difference over sketch blobs. Two
  // priority cohorts of customers are sketched once; every set estimate
  // is then computed from the two kilobyte-scale sketches, no re-scan.
  // lgNomEntries=16 keeps the sketches in exact mode below 64k distinct
  // keys, so estimates ARE the exact cardinalities here and the oracle
  // replays them with set SQL; production at 100 TB accepts the ~2%
  // estimation error above k in exchange for constant-size state.
  private val q71 = QueryDef(
    "q71_theta_set_algebra",
    (s, dir) =>
      // ONE scan: both cohort sketches build as conditional aggregates of
      // the same pass (aggs skip the NULLs the `when` leaves), so the
      // fact table is read once and an empty cohort still yields its
      // empty sketch (estimate 0) instead of dropping the result row —
      // the two-branch filter+crossJoin form re-scans orders per cohort
      rd(s, dir, "orders").agg(
        expr("theta_sketch_agg(CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END, 16)").as("sk_a"),
        expr("theta_sketch_agg(CASE WHEN o_orderpriority = '2-HIGH' THEN o_custkey END, 16)").as("sk_b"))
        .select(
        expr("theta_sketch_estimate(sk_a)").cast("long").as("n_urgent"),
        expr("theta_sketch_estimate(sk_b)").cast("long").as("n_high"),
        // theta_union takes its OWN lgNomEntries (default 12) — leaving it
        // unset silently down-samples k=16 inputs back into estimation mode
        expr("theta_sketch_estimate(theta_union(sk_a, sk_b, 16))").cast("long").as("n_union"),
        expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))").cast("long").as("n_inter"),
        expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))").cast("long").as("n_only_urgent")),
    Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
    b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
    SELECT
      (SELECT COUNT(*) FROM a) AS n_urgent,
      (SELECT COUNT(*) FROM b) AS n_high,
      (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union,
      (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_inter,
      (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_only_urgent"""))

  // ---------------------------------------------------------------- q72
  // Mergeable frequency sketch (approx_top_k family): per-day
  // accumulate → combine → estimate, the q58 re-aggregation pattern for
  // FREQUENT-ITEMS instead of distinct counts. maxItemsTracked bounds
  // the tracked domain (event_type has 5 values, so counts are exact);
  // the output is re-sorted by item, not rank, so equal-count ties
  // cannot perturb the hash. At 100 TB the per-day sketch table answers
  // any date-range top-k by combining constant-size states.
  private val q72 = QueryDef(
    "q72_approx_top_k",
    (s, dir) =>
      events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("approx_top_k_accumulate(event_type, 64)").as("acc"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(acc, 64), 5)").as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("event_type"), col("e.count").as("n"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q107
  // Count-Min sketch point-frequency probes: the builtin
  // `count_min_sketch` aggregate builds ONE mergeable binary sketch over
  // every event's type (counter matrices sum — partial/final combine is
  // exact and partition-order-independent; seed fixed for determinism),
  // the one-row result is collected and embedded as a literal (the q51
  // bloom pattern — driver-bounded, a sketch is ~KBs at any corpus
  // size), and each type's frequency is probed with the native codegen'd
  // [[graft.functions.CmsEstimate]] `cms_estimate` expression. The CMS
  // guarantee — exact ≤ estimate ≤ exact + ε·N with confidence δ — is
  // emitted as booleans against the EXACT per-type counts, which is what
  // the DuckDB twin (no CMS) can verify; the estimates themselves stay
  // out of the hash. At 100 TB the per-partition sketch is the
  // constant-size answer to "how often does THIS value occur" without a
  // second scan — the frequency twin of q58's HLL distinct.
  private val q107 = QueryDef(
    "q107_cms_frequency",
    (s, dir) => {
      val ev = events(s, dir)
      val head = ev.agg(
        call_function("count_min_sketch",
          col("event_type"), lit(0.001d), lit(0.99d), lit(42)).as("sk"),
        count(lit(1)).as("total")).head
      val (sketch, total) = (head.getAs[Array[Byte]]("sk"), head.getAs[Long]("total"))
      val bound = math.ceil(0.001 * total).toLong
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("est", call_function("cms_estimate", lit(sketch), col("event_type")))
        .select(col("event_type"), col("n"),
          (col("est") >= col("n")).as("ok_lower"),
          (col("est") <= col("n") + lit(bound)).as("ok_upper"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, COUNT(*) AS n, TRUE AS ok_lower, TRUE AS ok_upper
    FROM events GROUP BY event_type ORDER BY event_type"""))

  // --------------------------------------------------------------- q180
  // KMV (k-minimum-values) DISTINCT SKETCH — the fourth sketch family
  // (q18/q58 HLL, q71 theta, q72 top-k, q107 CMS) and the only one whose
  // estimate is DETERMINISTIC given the house hash, so the estimator
  // itself is oracle-checkable, not just bounds: keep the k=64 smallest
  // distinct poly_hash values per group; if fewer than k exist the
  // sketch IS the exact count, else est = (k−1)·M / h_(k) (Bar-Yossef et
  // al.). The sketch is a true monoid — the k smallest of a union are
  // each among the k smallest of their own group (a subset has no extra
  // smaller elements), so merging per-group sketches reproduces the raw
  // global sketch EXACTLY; the merged row checks that identity for real
  // on both engines (merged kth == raw-global kth) rather than assuming
  // it. Scale: one distinct shuffle on (grp, h); the per-group top-k
  // rank is WindowGroupLimit-pushed (per-partition top-64 before the
  // exchange); partials are 64 rows per group, the merge folds
  // 64·|groups| rows — the per-shard sketch table answers any group
  // combination's distinct count without rescanning 100 TB.
  private val q180 = QueryDef(
    "q180_kmv_sketch",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val base = rd(s, dir, "orders").select(
        col("o_orderpriority").as("grp"),
        // poly_hash of a short numeric string is clustered near 0 — the
        // KMV estimator needs uniformity over [0, M), so the Knuth
        // multiplicative step (a bijection mod the prime M; h ≤ 1e9+6 so
        // h·2654435761 fits BIGINT) spreads it, same scramble as q123
        expr(s"(${strHashExpr("CAST(o_custkey AS STRING)")} * 2654435761) % $HashMod").as("h"),
        col("o_custkey"))
      val dist = base.select(col("grp"), col("h")).distinct()
      val sk = dist
        .withColumn("rnk", row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
        .filter(col("rnk") <= k)
        .cache()
      def estCol = when(col("n_sk") < k, col("n_sk"))
        .otherwise(expr(s"(${k - 1} * CAST($HashMod AS BIGINT)) DIV kth"))
      val perGrp = sk.groupBy(col("grp"))
        .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
        .join(base.groupBy(col("grp"))
          .agg(countDistinct(col("o_custkey")).as("n_exact")), Seq("grp"))
        .withColumn("est_distinct", estCol)
        .withColumn("merged_matches_raw", lit(null).cast("boolean"))
      // the merged sketch (fold of the 5 partials) vs the raw global one
      val mergedSk = sk.select(col("h")).distinct()
        .withColumn("rnk", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rnk") <= k)
        .agg(count(lit(1)).as("n_sk"), max(col("h")).as("kth"))
      val rawSk = base.select(col("h")).distinct()
        .withColumn("rnk", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rnk") <= k)
        .agg(count(lit(1)).as("n_raw"), max(col("h")).as("kth_raw"))
      val merged = mergedSk.crossJoin(rawSk)
        .crossJoin(base.agg(countDistinct(col("o_custkey")).as("n_exact")))
        .withColumn("grp", lit("__merged__"))
        .withColumn("est_distinct", estCol)
        .withColumn("merged_matches_raw",
          col("n_sk") === col("n_raw") && col("kth") === col("kth_raw"))
        .select(col("grp"), col("n_sk"), col("kth"), col("n_exact"),
          col("est_distinct"), col("merged_matches_raw"))
      perGrp.select(col("grp"), col("n_sk"), col("kth"), col("n_exact"),
          col("est_distinct"), col("merged_matches_raw"))
        .unionByName(merged)
        .withColumn("err_ppm", expr(
          """CAST(CAST(abs(est_distinct - n_exact) AS DECIMAL(38,0)) * 1000000
             DIV CAST(n_exact AS DECIMAL(38,0)) AS BIGINT)"""))
        .orderBy(col("grp"))
    },
    Some(s"""WITH base AS (
      SELECT o_orderpriority AS grp,
        (${strHashSql("CAST(o_custkey AS VARCHAR)")} * 2654435761) % $HashMod AS h, o_custkey
      FROM orders),
    dist AS (SELECT DISTINCT grp, h FROM base),
    sk AS (SELECT grp, h FROM (
        SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rnk FROM dist)
      WHERE rnk <= 64),
    per_grp AS (SELECT s.grp, COUNT(*) AS n_sk, MAX(s.h) AS kth, e.n_exact
      FROM sk s JOIN (SELECT grp, COUNT(DISTINCT o_custkey) AS n_exact
                      FROM base GROUP BY 1) e ON s.grp = e.grp
      GROUP BY s.grp, e.n_exact),
    merged_sk AS (SELECT COUNT(*) AS n_sk, MAX(h) AS kth FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk FROM (SELECT DISTINCT h FROM sk))
      WHERE rnk <= 64),
    raw_sk AS (SELECT COUNT(*) AS n_raw, MAX(h) AS kth_raw FROM (
        SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnk FROM (SELECT DISTINCT h FROM base))
      WHERE rnk <= 64),
    unioned AS (
      SELECT grp, n_sk, kth, n_exact,
        CASE WHEN n_sk < 64 THEN n_sk ELSE (63 * CAST($HashMod AS BIGINT)) // kth END AS est_distinct,
        CAST(NULL AS BOOLEAN) AS merged_matches_raw
      FROM per_grp
      UNION ALL
      SELECT '__merged__', m.n_sk, m.kth,
        (SELECT COUNT(DISTINCT o_custkey) FROM base),
        CASE WHEN m.n_sk < 64 THEN m.n_sk ELSE (63 * CAST($HashMod AS BIGINT)) // m.kth END,
        m.n_sk = r.n_raw AND m.kth = r.kth_raw
      FROM merged_sk m, raw_sk r)
    SELECT grp, CAST(n_sk AS BIGINT) AS n_sk, kth, CAST(n_exact AS BIGINT) AS n_exact,
      CAST(est_distinct AS BIGINT) AS est_distinct, merged_matches_raw,
      CAST((CAST(abs(est_distinct - n_exact) AS HUGEINT) * 1000000)
           // CAST(n_exact AS HUGEINT) AS BIGINT) AS err_ppm
    FROM unioned ORDER BY grp"""))

  val defs: Seq[QueryDef] = Seq(q55, q56, q57, q58, q71, q72, q107, q180)
}
