package graft.analytics

import org.apache.spark.sql.functions._
import Tables._

/**
 * Storage-format coverage (SURVEY §2.1/§2.5 sources & sinks beyond
 * parquet): each query writes a table out through a different
 * DataFrameWriter format and reads it back through the matching source,
 * proving the full write→read cycle — schema fidelity, partition
 * pruning, and type round-tripping — not just a happy-path scan. The
 * aggregate over the round-tripped data must hash-match the DuckDB
 * oracle computed on the ORIGINAL parquet, so any loss in the cycle
 * fails the gate.
 *
 * Scale notes (100 TB): the write is partitioned (q41 partitions by the
 * filter column, so the read-back scan prunes to 2 of 5 directories —
 * visible as partitionFilters in the plan); CSV/JSON are row formats
 * with no pushdown, which is exactly why the queries project only the
 * needed columns before writing — at scale you keep columnar until the
 * boundary that requires otherwise.
 */
object Formats {

  // ---------------------------------------------------------------- q41
  // ORC sink + source, partitioned write, pruned read-back.
  private val q41 = QueryDef(
    "q41_orc_roundtrip",
    (s, dir) => {
      val out = tmp("graft-orc")
      graft.BenchSplit.setup {
        rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"), col("o_orderpriority"))
          .write.mode("overwrite").partitionBy("o_orderpriority").orc(out)
      }
      s.read.orc(out)
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))
    },
    Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS sum_price
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ---------------------------------------------------------------- q42
  // CSV sink + source with an explicit schema on read (no inference —
  // schema inference is an extra full pass at scale and type-unstable).
  private val q42 = QueryDef(
    "q42_csv_roundtrip",
    (s, dir) => {
      val out = tmp("graft-csv")
      graft.BenchSplit.setup {
        rd(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .write.mode("overwrite").option("header", "true").csv(out)
      }
      s.read
        .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
        .option("header", "true")
        .csv(out)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""SELECT c_mktsegment, COUNT(*) AS n, ${dsumSql("c_acctbal")} AS sum_bal
    FROM customer GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q43
  // JSON-lines sink + source (the interchange format of the billing
  // pipeline itself), explicit schema on read; nulls and strings must
  // survive the cycle byte-identically for the hash gate to pass.
  private val q43 = QueryDef(
    "q43_json_roundtrip",
    (s, dir) => {
      val out = tmp("graft-json")
      graft.BenchSplit.setup {
        rd(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"), col("p_size"), col("p_retailprice"))
          .write.mode("overwrite").json(out)
      }
      s.read
        .schema("p_partkey BIGINT, p_brand STRING, p_size INT, p_retailprice DOUBLE")
        .json(out)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), avg(col("p_size")).cast("double").as("avg_size"),
          dsum(col("p_retailprice")).as("sum_price"))
        .orderBy(col("p_brand"))
    },
    Some(s"""SELECT p_brand, COUNT(*) AS n,
      CAST(AVG(p_size) AS DOUBLE) AS avg_size,
      ${dsumSql("p_retailprice")} AS sum_price
    FROM part GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q49
  // Range-clustered write: repartitionByRange + sortWithinPartitions on
  // the filter column before the parquet write — the "CLUSTER BY" layout
  // pattern. Each output file then covers a narrow l_shipdate range, so
  // a date-range scan prunes almost every row group via parquet min/max
  // stats (hive-style partitioning by day would create too many dirs at
  // this granularity; range clustering gets the same pruning from file
  // and row-group statistics). The read-back aggregate must hash-match
  // the oracle on the ORIGINAL table, proving the relayout is lossless.
  private val q49 = QueryDef(
    "q49_clustered_write",
    (s, dir) => {
      val out = tmp("graft-clustered")
      graft.BenchSplit.setup {
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"),
            col("l_quantity"), col("l_extendedprice"), col("l_returnflag"))
          .repartitionByRange(8, col("l_shipdate"))
          .sortWithinPartitions(col("l_shipdate"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n,
      ${dsumSql("l_quantity")} AS sum_qty,
      ${dsumSql("l_extendedprice")} AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q63
  // XML sink + source (Spark 4 built-in XML datasource, the spark-xml
  // merge): rowTag-framed write, explicit-schema read-back (inference is
  // an extra full pass and type-unstable at scale). The money column is
  // cast DECIMAL(18,2) BEFORE writing so the text round-trip is exact by
  // construction on both engines.
  private val q63 = QueryDef(
    "q63_xml_roundtrip",
    (s, dir) => {
      val out = tmp("graft-xml")
      graft.BenchSplit.setup {
        rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(18,2)").as("price2"),
            col("o_orderpriority"))
          .write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
      }
      s.read
        .schema("o_orderkey BIGINT, o_orderstatus STRING, price2 DECIMAL(18,2), o_orderpriority STRING")
        .option("rowTag", "order")
        .format("xml").load(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("price2")).cast("double").as("sum_price"),
          countDistinct(col("o_orderpriority")).as("n_prio"))
        .orderBy(col("o_orderstatus"))
    },
    Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
      ${dsumSql("o_totalprice")} AS sum_price,
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
    FROM orders GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q68
  // Custom DataSource V2 scan ([[graft.sources.SynthSource]]): the id
  // range predicate is pushed into the connector's partition PLANNING
  // (pruned splits never schedule), columns are pruned at generation,
  // and the scan reports post-pushdown statistics. The oracle replays
  // the generator's int64 formulas over range() — checking that pushdown
  // changed WHERE work happens, never WHAT is computed.
  private val q68 = QueryDef(
    "q68_dsv2_pushdown",
    (s, _) =>
      s.read.format(classOf[graft.sources.SynthSource].getName)
        .option("rows", 200000).option("parts", 16).load()
        .filter(col("id") >= 50000 && col("id") < 150000)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value")).as("sum_value"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type")),
    Some(s"""WITH g AS (
      SELECT range AS id FROM range(200000) WHERE range >= 50000 AND range < 150000)
    SELECT ${graft.sources.SynthSource.typeSql("id")} AS event_type,
      COUNT(*) AS n,
      CAST(SUM(${graft.sources.SynthSource.valueSql("id")}) AS BIGINT) AS sum_value,
      MIN(id) AS min_id, MAX(id) AS max_id,
      CAST(COUNT(DISTINCT ${graft.sources.SynthSource.userIdSql("id")}) AS BIGINT) AS n_users
    FROM g GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q80
  // Z-order (Morton-curve) clustered layout: bucket two query dimensions
  // (quantity, price-band), interleave them with the native codegen'd
  // z_interleave expression, range-partition + sort the write on the
  // Z-code — the Delta/Iceberg OPTIMIZE ZORDER layout built from Spark
  // primitives. A 2-D box predicate on the read-back then prunes parquet
  // row groups in BOTH dimensions at once (a lexicographic sort is only
  // selective in its leading column — `ZOrderSpec` proves the scan-metric
  // difference); this query pins the SEMANTIC side: the z-clustered
  // round-trip box aggregate hash-matches the oracle computing the same
  // Morton codes with plain integer arithmetic on the original table.
  private val q80 = QueryDef(
    "q80_zorder_layout",
    (s, dir) => {
      val out = tmp("graft-zorder")
      graft.BenchSplit.setup {
        rd(s, dir, "lineitem")
          .select(col("l_extendedprice"),
            expr("CAST(l_quantity AS BIGINT)").as("xb"),
            expr("CAST(floor(l_extendedprice / 1000) AS BIGINT)").as("yb"))
          .withColumn("z", expr("z_interleave(xb, yb)"))
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions(col("z"))
          .write.mode("overwrite").parquet(out)
      }
      s.read.parquet(out)
        .filter(col("xb").between(10, 20) && col("yb").between(20, 40))
        .groupBy(expr("z DIV 256").as("z_block"))
        .agg(count(lit(1)).as("n"),
          min(col("xb")).as("min_q"), max(col("xb")).as("max_q"),
          min(col("yb")).as("min_band"), max(col("yb")).as("max_band"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("z_block"))
    },
    Some(s"""WITH b AS (
      SELECT l_extendedprice,
        CAST(l_quantity AS BIGINT) AS xb,
        CAST(floor(l_extendedprice / 1000) AS BIGINT) AS yb
      FROM lineitem),
    z AS (SELECT ${graft.functions.ZInterleave.mortonSql("xb", "yb")} AS z,
            xb, yb, l_extendedprice
          FROM b WHERE xb BETWEEN 10 AND 20 AND yb BETWEEN 20 AND 40)
    SELECT z // 256 AS z_block, COUNT(*) AS n,
      CAST(MIN(xb) AS BIGINT) AS min_q, CAST(MAX(xb) AS BIGINT) AS max_q,
      CAST(MIN(yb) AS BIGINT) AS min_band, CAST(MAX(yb) AS BIGINT) AS max_band,
      ${dsumSql("l_extendedprice")} AS sum_price
    FROM z GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q85
  // Dynamic partition pruning: the fact lands hive-partitioned by day;
  // the dim carries a predicate the optimizer can't see statically (it
  // filters the DIM side), so Catalyst injects a DynamicPruningExpression
  // subquery into the fact scan's partitionFilters and only the matching
  // day directories are ever listed/read — the mechanism that makes
  // star-schema joins viable on 100 TB partitioned facts (without it,
  // the fact scan reads every partition and the join discards 80% of the
  // I/O after the fact). `DppSpec` pins the plan shape and the pruned
  // scan metrics; this query pins the semantics against the plain join.
  private val q85 = QueryDef(
    "q85_dpp_join",
    (s, dir) => withConfs(s,
      // keep the partition column STRING on read-back — type inference
      // would surface it as DATE and wedge a cast between the join key
      // and the partition column, which disqualifies DPP
      "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false") {
      val out = tmp("graft-dpp")
      graft.BenchSplit.setup {
        events(s, dir)
          .withColumn("day", to_date(col("ts")).cast("string"))
          .select(col("day"), col("event_type"), col("user_id"), col("value"))
          // NOT repartition(day)-ed before the write: one-file-per-day
          // serializes into |days| writer tasks plus a full shuffle —
          // measured 3.3x slower here than the parallel |tasks|-files-
          // per-day write. At cluster scale, file-count control belongs to
          // AQE rebalance / maxRecordsPerFile, not a hard repartition.
          .write.mode("overwrite").partitionBy("day").parquet(out)
      }
      val dim = events(s, dir)
        .select(to_date(col("ts")).cast("string").as("d")).distinct()
        // the dim-side predicate: odd last digit of the day-of-month —
        // opaque to the fact scan until runtime
        .filter(expr("CAST(substring(d, 10, 1) AS INT) % 2 = 1"))
        .withColumn("tag", concat(lit("day_"), col("d")))
      s.read.parquet(out)
        .join(dim, col("day") === col("d"))
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("tag"))
    },
    Some(s"""WITH ev AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type, user_id, value
      FROM events),
    dim AS (SELECT d, concat('day_', d) AS tag FROM (
        SELECT DISTINCT day AS d FROM ev)
      WHERE CAST(substring(d, 10, 1) AS INT) % 2 = 1)
    SELECT tag, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM ev JOIN dim ON day = d
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q88
  // Bucketed co-located join: both sides written `bucketBy(8, orderkey)`
  // + `sortBy` as EXTERNAL tables (data under a scratch path), then
  // joined with broadcast disabled — the plan has NO Exchange and NO
  // Sort on either side (bucket files are the shuffle, done once at
  // write time; `BucketingSpec` pins that plan shape). At 100 TB this is
  // the amortization play for every repeated fact⋈fact join key: pay the
  // partitioning once, join shuffle-free forever after. The oracle runs
  // the plain join — bucketing must never change the answer.
  private val q88 = QueryDef(
    "q88_bucketed_join",
    (s, dir) => {
      graft.BenchSplit.setup {
        // explicit scratch LOCATION — the default would drop a
        // graft_q88.db dir under ./spark-warehouse in the caller's cwd
        s.sql(s"CREATE DATABASE IF NOT EXISTS graft_q88 LOCATION '${tmp("graft-q88-db")}'")
        s.sql("DROP TABLE IF EXISTS graft_q88.orders_b")
        s.sql("DROP TABLE IF EXISTS graft_q88.lineitem_b")
        rd(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", tmp("graft-bucket-o"))
          .saveAsTable("graft_q88.orders_b")
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", tmp("graft-bucket-l"))
          .saveAsTable("graft_q88.lineitem_b")
      }
      withConfs(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        s.table("graft_q88.lineitem_b")
          .join(s.table("graft_q88.orders_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(discPrice(col("l_extendedprice"), col("l_discount")))
              .cast("double").as("revenue"))
          .orderBy(col("o_orderpriority"))
      }
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
      CAST(SUM(${discPriceSql("l_extendedprice", "l_discount")}) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------------------- q128
  // HIDDEN FILE-METADATA LINEAGE AUDIT — Spark's `_metadata` struct
  // (file_path / file_name / file_size / file_block_*) surfaces per-ROW
  // physical provenance without a UDF or a second listing: the audit
  // every large ingest runs after a partitioned publish ("did each
  // partition land in the expected layout, with rows where they
  // belong?"). The layout partitions by a DERIVED copy (`rf`) while the
  // original column stays in the file CONTENT, so the audit can
  // cross-check the path-derived partition against per-row content — a
  // mismatch means a misplaced file, the failure partition-column reads
  // can never show (the partition column's value IS the directory; only
  // a content column can contradict it — `AdvancedOpsSpec` plants a
  // misplaced file and proves this derivation catches it). `_metadata`
  // is generated at scan time from the file index the reader already
  // holds — no extra IO; constant per file, so the audit aggregate is
  // map-side combined. The oracle states the invariants independently
  // from the logical table: per-flag row counts, exactly one file per
  // partition (coalesce(1) publish), zero misplaced rows, positive
  // physical sizes.
  private val q128 = QueryDef(
    "q128_file_lineage_audit",
    (s, dir) => {
      val out = tmp("graft-lineage")
      graft.BenchSplit.setup {
        rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .withColumn("rf", col("l_returnflag"))
          .coalesce(1)
          .write.mode("overwrite").partitionBy("rf").parquet(out)
      }
      s.read.parquet(out)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          col("_metadata.file_path").as("fp"),
          col("_metadata.file_name").as("fn"),
          col("_metadata.file_size").as("fs"))
        .withColumn("path_flag", regexp_extract(col("fp"), "rf=([^/]+)/", 1))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("fn")).as("n_files"),
          sum(when(col("path_flag") =!= col("l_returnflag"), 1L).otherwise(0L))
            .as("n_misplaced"),
          (min(col("fs")) > 0L).as("sizes_positive"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
      CAST(1 AS BIGINT) AS n_files,
      CAST(0 AS BIGINT) AS n_misplaced,
      TRUE AS sizes_positive,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q147
  // COMPACTION-PLANNER AUDIT — the analytics-layer twin of the
  // reference's operational core (`run_compact_tables.py`: day
  // partitions accumulate small streaming files until a compactor
  // rewrites them). The audit answers "which partitions need compaction"
  // from the `_metadata` hidden columns alone — no listing RPC storm,
  // the planner input IS a query. The fixture layout is engineered
  // deterministically (q128's discipline): one single-file write of the
  // whole table, then a single-file APPEND of only the 'A' partition, so
  // 'A' holds exactly two files (and twice its rows) while 'N'/'R' hold
  // one — the verdict column flags exactly 'A'. The oracle replays the
  // layout arithmetic (base ∪ appended-'A') without seeing files, so
  // file counts, row masses, and the verdict are all cross-checked.
  // At 100 TB: the audit is one pruned scan of (partition cols +
  // _metadata) with a map-side-combined aggregate per partition —
  // the same shape whatever the partition count.
  private val q147 = QueryDef(
    "q147_compaction_planner",
    (s, dir) => {
      val out = tmp("graft-compactplan")
      graft.BenchSplit.setup {
        val base = rd(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
          .withColumn("rf", col("l_returnflag"))
        base.coalesce(1).write.mode("overwrite").partitionBy("rf").parquet(out)
        base.filter(col("l_returnflag") === "A")
          .coalesce(1).write.mode("append").partitionBy("rf").parquet(out)
      }
      s.read.parquet(out)
        .select(col("l_returnflag"), col("l_quantity"),
          col("_metadata.file_name").as("fn"))
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("fn")).as("n_files"),
          count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"))
        .withColumn("needs_compaction", col("n_files") > 1L)
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH layout AS (
      SELECT l_returnflag, l_quantity, 0 AS gen FROM lineitem
      UNION ALL
      SELECT l_returnflag, l_quantity, 1 FROM lineitem WHERE l_returnflag = 'A')
    SELECT l_returnflag,
      CAST(COUNT(DISTINCT gen) AS BIGINT) AS n_files,
      COUNT(*) AS n_rows,
      ${dsumSql("l_quantity")} AS sum_qty,
      COUNT(DISTINCT gen) > 1 AS needs_compaction
    FROM layout GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------------------- q175
  // Z-ORDER LAYOUT AUDIT — the storage-layout lever behind multi-column
  // scan pruning (Delta/Iceberg OPTIMIZE ZORDER): a table range-laid-out
  // by ONE key prunes perfectly on that key and not at all on any other,
  // while interleaving the key bits (Morton/Z curve) spreads BOTH keys'
  // locality across files so min/max zone maps prune on either. This
  // audit measures that trade EXACTLY, in-engine: assign every order a
  // 20-bit z-value (bit-interleave of the 10-bit customer and order-day
  // coordinates), lay the table out 16 ways twice (linear = top custkey
  // bits, zorder = top z bits — both pure arithmetic, no global sort, the
  // same range-by-prefix a real OPTIMIZE job shuffles by), compute each
  // file's (min, max) zone map per coordinate in ONE aggregate, and
  // replay a two-column probe against the zone maps. Reported per
  // layout: files admitted by each column's zone map alone, by both
  // (what a real scan reads), rows scanned vs rows actually matching —
  // the false-positive IO the layout choice costs. All integer; the
  // oracle mirrors the arithmetic. At 100 TB this is one scan + a
  // |files|-row rollup; the probe never touches data rows except the
  // final scanned/matching masses (one semi-join on the 16-row admit
  // list, broadcast).
  private val q175 = QueryDef(
    "q175_zorder_layout",
    (s, dir) => {
      def coords = rd(s, dir, "orders").select(
        expr("o_custkey & 1023").as("x"),
        expr("(unix_date(CAST(o_orderdate AS DATE))) & 1023").as("y"))
        .withColumn("z", expr("z_interleave(x, y)"))
      val (xLo, xHi, yLo, yHi) = (256L, 383L, 256L, 383L)
      // BOTH layouts' zone maps from ONE pass: each row contributes to
      // its (layout, file) cell via a 2-element generator explode, then
      // a single map-side-combined aggregate — no full-table
      // materialization (the earlier localCheckpoint here would be a
      // |table|-sized executor cache at 100 TB), no second shuffle
      val zones = coords
        .select(col("x"), col("y"), explode(array(
          struct(lit("linear").as("layout"), expr("x >> 6").as("f")),
          struct(lit("zorder").as("layout"), expr("z >> 16").as("f")))).as("a"))
        .select(col("x"), col("y"), col("a.layout").as("layout"), col("a.f").as("f"))
        .groupBy(col("layout"), col("f"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .withColumn("adm_x", (col("min_x") <= xHi && col("max_x") >= xLo).cast("long"))
        .withColumn("adm_y", (col("min_y") <= yHi && col("max_y") >= yLo).cast("long"))
      // rows actually matching the probe: one pruned re-scan (predicate
      // pushes to the parquet reader; identical for both layouts)
      val matching = coords.filter(
          col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
        .agg(count(lit(1)).as("rows_matching"))
      zones.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("adm_x")).as("files_adm_x"),
          sum(col("adm_y")).as("files_adm_y"),
          sum(col("adm_x") * col("adm_y")).as("files_adm_both"),
          sum(col("adm_x") * col("adm_y") * col("n_rows")).as("rows_scanned"))
        .crossJoin(broadcast(matching))
        .select(col("layout"), col("n_files"), col("files_adm_x"),
          col("files_adm_y"), col("files_adm_both"), col("rows_scanned"),
          col("rows_matching"))
        .orderBy(col("layout"))
    },
    Some {
      val zbits = (0 until 10).map(b =>
        s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
        .mkString(" + ")
      s"""WITH coords AS (
      SELECT o_custkey & 1023 AS x,
        (epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000) & 1023 AS y
      FROM orders),
    zc AS (SELECT x, y, $zbits AS z FROM coords),
    fc AS (SELECT x, y, x >> 6 AS f_lin, z >> 16 AS f_z FROM zc),
    m AS (SELECT COUNT(*) AS rows_matching FROM fc
          WHERE x BETWEEN 256 AND 383 AND y BETWEEN 256 AND 383),
    lin AS (SELECT f_lin AS f, COUNT(*) AS n_rows,
              MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
            FROM fc GROUP BY 1),
    zo AS (SELECT f_z AS f, COUNT(*) AS n_rows,
             MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
           FROM fc GROUP BY 1),
    a_lin AS (SELECT COUNT(*) AS n_files,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 THEN 1 ELSE 0 END) AS files_adm_x,
        SUM(CASE WHEN min_y <= 383 AND max_y >= 256 THEN 1 ELSE 0 END) AS files_adm_y,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 AND min_y <= 383 AND max_y >= 256 THEN 1 ELSE 0 END) AS files_adm_both,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 AND min_y <= 383 AND max_y >= 256 THEN n_rows ELSE 0 END) AS rows_scanned
      FROM lin),
    a_zo AS (SELECT COUNT(*) AS n_files,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 THEN 1 ELSE 0 END) AS files_adm_x,
        SUM(CASE WHEN min_y <= 383 AND max_y >= 256 THEN 1 ELSE 0 END) AS files_adm_y,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 AND min_y <= 383 AND max_y >= 256 THEN 1 ELSE 0 END) AS files_adm_both,
        SUM(CASE WHEN min_x <= 383 AND max_x >= 256 AND min_y <= 383 AND max_y >= 256 THEN n_rows ELSE 0 END) AS rows_scanned
      FROM zo)
    SELECT * FROM (
      SELECT 'linear' AS layout, n_files, CAST(files_adm_x AS BIGINT) AS files_adm_x,
        CAST(files_adm_y AS BIGINT) AS files_adm_y,
        CAST(files_adm_both AS BIGINT) AS files_adm_both,
        CAST(rows_scanned AS BIGINT) AS rows_scanned, m.rows_matching
      FROM a_lin, m
      UNION ALL
      SELECT 'zorder', n_files, CAST(files_adm_x AS BIGINT),
        CAST(files_adm_y AS BIGINT), CAST(files_adm_both AS BIGINT),
        CAST(rows_scanned AS BIGINT), m.rows_matching
      FROM a_zo, m
    ) ORDER BY layout"""
    })

  // --------------------------------------------------------------- q166
  // PERMISSIVE-PARSE QUARANTINE — the malformed-input half of the CSV
  // source q42's clean round-trip never exercises: real feeds arrive
  // with type garbage and truncated lines, and the production pattern
  // is schema-on-read under mode=PERMISSIVE with a corrupt-record
  // column, then triage. The feed is staged deterministically from
  // events with two planted fault channels (id ≡ 0 mod 17: the value
  // field becomes 'oops' — a type error that still parses the OTHER
  // fields; id ≡ 0 mod 19, not 17: the line is truncated to one field —
  // a row-shape error that nulls everything). The query classifies each
  // row from what the parser actually recovered (corrupt column + which
  // fields survived), so the oracle can reproduce the verdicts from id
  // arithmetic without parsing CSV. Scale: parse + classify is a pure
  // per-row map; one aggregate. The parsed-id checksum pins that
  // PERMISSIVE really does recover well-formed fields of a bad row.
  private val q166 = QueryDef(
    "q166_csv_quarantine",
    (s, dir) => {
      val out = tmp("graft-csv-dirty")
      graft.BenchSplit.setup {
        events(s, dir)
          .select(expr("""CASE
              WHEN event_id % 17 = 0
                THEN concat(event_id, ',oops,', event_type)
              WHEN event_id % 19 = 0
                THEN CAST(event_id AS STRING)
              ELSE concat(event_id, ',', CAST(value AS STRING), ',', event_type)
            END""").as("value"))
          .write.mode("overwrite").text(out)
      }
      s.read
        .schema("event_id BIGINT, value DOUBLE, event_type STRING, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
        .select(expr("""CASE
            WHEN _corrupt IS NULL THEN 'ok'
            WHEN event_type IS NOT NULL THEN 'bad_value'
            ELSE 'short_row' END""").as("class"),
          coalesce(col("event_id"), lit(0L)).as("id0"),
          col("value"))
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n"),
          (sum(col("id0") % HashMod) % HashMod).as("id_checksum"),
          dsum(coalesce(col("value"), lit(0.0))).as("sum_value"))
        .orderBy(col("class"))
    },
    Some(s"""WITH cls AS (
      SELECT event_id, value,
        CASE WHEN event_id % 17 = 0 THEN 'bad_value'
             WHEN event_id % 19 = 0 THEN 'short_row'
             ELSE 'ok' END AS class
      FROM events),
    v AS (SELECT class, event_id AS id0,
        CASE WHEN class = 'ok' THEN value ELSE 0.0 END AS v0
      FROM cls)
    SELECT class, COUNT(*) AS n,
      CAST(SUM(id0 % $HashMod) % $HashMod AS BIGINT) AS id_checksum,
      ${dsumSql("v0")} AS sum_value
    FROM v GROUP BY 1 ORDER BY class"""))

  // --------------------------------------------------------------- q188
  // PARTITION-SPEC EVOLUTION — the Iceberg "hidden partitioning" read
  // problem: a table's early files were laid out under spec v1
  // (partitioned by ISO week), then the spec evolved to v2 (by day),
  // and a time-range query must prune under BOTH specs — which means
  // the read path derives each generation's PARTITION predicate from
  // the one logical predicate (day ∈ [lo, hi] ⇒ wk ∈ [week(lo),
  // week(hi)] for v1, d ∈ [lo, hi] for v2), because a data-column
  // filter alone prunes nothing on the week layout. Output per
  // generation: partitions total / matching plus row digests, and the
  // combined row proves the two-generation read equals a straight
  // filter of the source (no boundary loss, no double-read). The
  // partition totals here are data-derived (at scale they're a catalog
  // lookup, not a scan); the actual pushdown is pinned by
  // PartitionFilterGuardSpec's discipline — both scans carry
  // PartitionFilters, q41's pattern.
  private val q188 = QueryDef(
    "q188_partition_evolution",
    (s, dir) => {
      val cut = "2024-01-16"
      val (lo, hi) = ("2024-01-10", "2024-01-20")
      val ev = Tables.events(s, dir).select(col("event_id"),
        expr("CAST(ts AS DATE)").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val lakeV1 = tmp("graft-q188-v1")
      val lakeV2 = tmp("graft-q188-v2")
      graft.BenchSplit.setup {
        ev.filter(col("day") < lit(cut))
          .withColumn("wk", weekofyear(col("day")))
          .write.mode("overwrite").partitionBy("wk").parquet(lakeV1)
        ev.filter(col("day") >= lit(cut))
          .withColumn("d", col("day"))
          .write.mode("overwrite").partitionBy("d").parquet(lakeV2)
      }
      // spec-aware predicate derivation: the one logical day range maps
      // onto each generation's own partition columns
      val v1All = s.read.parquet(lakeV1)
      val v2All = s.read.parquet(lakeV2)
      val v1Part = v1All.filter(
        col("wk") >= weekofyear(to_date(lit(lo))) &&
          col("wk") <= weekofyear(to_date(lit(hi))))
      val v1Rows = v1Part.filter(col("day") >= lit(lo) && col("day") <= lit(hi))
      val v2Part = v2All.filter(col("d") >= lit(lo) && col("d") <= lit(hi))
      val v2Rows = v2Part.filter(col("day") >= lit(lo) && col("day") <= lit(hi))
      def gen(tag: String, all: org.apache.spark.sql.DataFrame, partCol: String,
          part: org.apache.spark.sql.DataFrame, rows: org.apache.spark.sql.DataFrame) =
        all.agg(countDistinct(col(partCol)).as("n_parts_total"))
          .crossJoin(part.agg(countDistinct(col(partCol)).as("n_parts_matching")))
          .crossJoin(rows.agg(count(lit(1)).as("n_rows"),
            coalesce(sum(col("cents")), lit(0L)).as("cents"),
            coalesce(sum(col("event_id") % HashMod) % HashMod, lit(0L)).as("ck")))
          .select(lit(tag).as("gen"), col("n_parts_total"), col("n_parts_matching"),
            col("n_rows"), col("cents"), col("ck"))
      val combinedRows = v1Rows.select(col("event_id"), col("cents"))
        .unionByName(v2Rows.select(col("event_id"), col("cents")))
      val source = ev.filter(col("day") >= lit(lo) && col("day") <= lit(hi))
      val combined = combinedRows
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"),
          (sum(col("event_id") % HashMod) % HashMod).as("ck"))
        .crossJoin(source.agg(count(lit(1)).as("s_rows"), sum(col("cents")).as("s_cents"),
          (sum(col("event_id") % HashMod) % HashMod).as("s_ck")))
        .select(lit("combined").as("gen"),
          lit(null).cast("long").as("n_parts_total"),
          lit(null).cast("long").as("n_parts_matching"),
          col("n_rows"), col("cents"), col("ck"),
          (col("n_rows") === col("s_rows") && col("cents") === col("s_cents") &&
            col("ck") === col("s_ck")).as("matches_source"))
      gen("v1_week", v1All, "wk", v1Part, v1Rows)
        .unionByName(gen("v2_day", v2All, "d", v2Part, v2Rows))
        .withColumn("matches_source", lit(null).cast("boolean"))
        .unionByName(combined)
        .orderBy(col("gen"))
    },
    Some(s"""WITH ev AS (
      SELECT event_id, CAST(ts AS DATE) AS day,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events),
    v1 AS (SELECT *, weekofyear(day) AS wk FROM ev WHERE day < DATE '2024-01-16'),
    v2 AS (SELECT *, day AS d FROM ev WHERE day >= DATE '2024-01-16'),
    v1p AS (SELECT * FROM v1
            WHERE wk BETWEEN weekofyear(DATE '2024-01-10') AND weekofyear(DATE '2024-01-20')),
    v1r AS (SELECT * FROM v1p WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'),
    v2p AS (SELECT * FROM v2
            WHERE d BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'),
    v2r AS (SELECT * FROM v2p WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'),
    src AS (SELECT * FROM ev WHERE day BETWEEN DATE '2024-01-10' AND DATE '2024-01-20')
    SELECT * FROM (
      SELECT 'v1_week' AS gen,
        (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) FROM v1) AS n_parts_total,
        (SELECT CAST(COUNT(DISTINCT wk) AS BIGINT) FROM v1p) AS n_parts_matching,
        COUNT(*) AS n_rows, CAST(COALESCE(SUM(cents), 0) AS BIGINT) AS cents,
        CAST(COALESCE(SUM(event_id % $HashMod) % $HashMod, 0) AS BIGINT) AS ck,
        CAST(NULL AS BOOLEAN) AS matches_source
      FROM v1r
      UNION ALL
      SELECT 'v2_day',
        (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM v2),
        (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM v2p),
        COUNT(*), CAST(COALESCE(SUM(cents), 0) AS BIGINT),
        CAST(COALESCE(SUM(event_id % $HashMod) % $HashMod, 0) AS BIGINT), NULL
      FROM v2r
      UNION ALL
      SELECT 'combined', NULL, NULL,
        u.n_rows, CAST(u.cents AS BIGINT), CAST(u.ck AS BIGINT),
        u.n_rows = s.n_rows AND u.cents = s.cents AND u.ck = s.ck
      FROM (SELECT COUNT(*) AS n_rows, SUM(cents) AS cents,
              SUM(event_id % $HashMod) % $HashMod AS ck
            FROM (SELECT event_id, cents FROM v1r UNION ALL SELECT event_id, cents FROM v2r)) u
      CROSS JOIN (SELECT COUNT(*) AS n_rows, SUM(cents) AS cents,
              SUM(event_id % $HashMod) % $HashMod AS ck FROM src) s
    ) ORDER BY gen"""))

  // --------------------------------------------------------------- q195
  // SCHEMA-EVOLUTION READS — q188's partner problem: the table's early
  // files lack a column the later files carry (a `channel` added
  // mid-stream), and the read must union both generations with the
  // missing column as NULL — Spark's parquet `mergeSchema` path, which
  // is OFF by default because footer-merging every file is a listing
  // cost (at scale the merged schema comes from the catalog; the
  // per-file projection-with-null is the same machinery either way).
  // The audit row proves the three contract points: the merged read's
  // digests equal the source-derived union, the NULL channel count is
  // exactly the old generation's row count (no null bleed into new
  // rows), and the channel value checksum over the new generation
  // round-trips. q146 DETECTS drift; this is the read path that
  // SERVES it.
  private val q195 = QueryDef(
    "q195_schema_evolution",
    (s, dir) => {
      val base = rd(s, dir, "orders").select(col("o_orderkey").as("k"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      val lake = tmpDir("graft-q195-lake")
      graft.BenchSplit.setup {
        base.filter(col("k") % 2 === 0)
          .write.mode("overwrite").parquet(lake.resolve("gen_a").toString)
        base.filter(col("k") % 2 === 1)
          .withColumn("channel", expr("concat('ch', k % 3)"))
          .write.mode("overwrite").parquet(lake.resolve("gen_b").toString)
      }
      val merged = s.read.option("mergeSchema", "true")
        .parquet(lake.resolve("gen_a").toString, lake.resolve("gen_b").toString)
      val src = base
        .withColumn("channel",
          expr("CASE WHEN k % 2 = 1 THEN concat('ch', k % 3) END"))
      def digest(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents_sum"),
          sum(when(col("channel").isNull, 1L).otherwise(0L)).as("n_null_channel"),
          (sum(when(col("channel").isNotNull,
            expr(s"${strHashExpr("channel")} % $HashMod")).otherwise(0L)) % HashMod)
            .as("channel_ck"))
      digest(merged)
        .crossJoin(digest(src).select(col("n_rows").as("sn"), col("cents_sum").as("sc"),
          col("n_null_channel").as("snn"), col("channel_ck").as("sck")))
        .select(col("n_rows"), col("cents_sum"), col("n_null_channel"), col("channel_ck"),
          (col("n_rows") === col("sn") && col("cents_sum") === col("sc") &&
            col("n_null_channel") === col("snn") && col("channel_ck") === col("sck"))
            .as("matches_source"))
    },
    Some(s"""WITH base AS (
      SELECT o_orderkey AS k,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        CASE WHEN o_orderkey % 2 = 1
             THEN concat('ch', CAST(o_orderkey % 3 AS VARCHAR)) END AS channel
      FROM orders)
    SELECT COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS cents_sum,
      CAST(SUM(CASE WHEN channel IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_channel,
      CAST(SUM(CASE WHEN channel IS NOT NULL
                    THEN ${strHashSql("channel")} % $HashMod ELSE 0 END)
           % $HashMod AS BIGINT) AS channel_ck,
      TRUE AS matches_source
    FROM base"""))

  val defs: Seq[QueryDef] =
    Seq(q41, q42, q43, q49, q63, q68, q80, q85, q88, q128, q147, q166, q175,
      q188, q195)
}
