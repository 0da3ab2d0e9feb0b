package graft

import org.apache.spark.sql.functions._
import graft.analytics.{Registry, Tables}

/** Semantic invariants of the round-3 operators (q25–q30, d06, m03) that
  * the value-hash oracle can't express: as-of ordering/inclusivity, range
  * bounds, dedup partition arithmetic, frame stride. Runs on sf0.001. */
class AdvancedOpsSpec extends SparkSuite {
  private val dir = "/root/testdata/sf0.001"
  private def run(name: String) = Registry.queries(name)(spark, dir)

  test("q27 as-of: every match is at-or-before the purchase, gaps non-negative") {
    val out = run("q27_asof_click_purchase").cache()
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    out.count() shouldBe purchases // left join: one row per purchase
    out.filter(col("click_ts_us") > col("purchase_ts_us")).count() shouldBe 0
    out.filter(col("gap_us") < 0).count() shouldBe 0
    // a purchase with no prior click keeps NULL match columns
    out.filter(col("click_ts_us").isNull && col("click_id").isNotNull)
      .count() shouldBe 0
    out.unpersist()
  }

  test("q27 as-of matches a per-row subquery on a sampled user") {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val someUser = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).orderBy(col("user_id")).first().getLong(0)
    val clicks = ev.filter(col("event_type") === "click" && col("user_id") === someUser)
      .select(col("ts_us")).collect().map(_.getLong(0)).sorted
    val got = run("q27_asof_click_purchase")
      .filter(col("user_id") === someUser)
      .select(col("purchase_ts_us"), col("click_ts_us")).collect()
    got.foreach { r =>
      val expected = clicks.takeWhile(_ <= r.getLong(0)).lastOption
      val actual = if (r.isNullAt(1)) None else Some(r.getLong(1))
      actual shouldBe expected
    }
  }

  test("q28 range join: tiers partition the events whose value falls in a tier") {
    val out = run("q28_value_tier_rangejoin").cache()
    val inRange = Tables.events(spark, dir)
      .filter(col("value") >= 0.0 && col("value") < 1000.0).count()
    out.agg(sum(col("n"))).first().getLong(0) shouldBe inRange
    out.unpersist()
  }

  test("q25 pivot: one row per status, pivot columns are the 5 priorities") {
    val out = run("q25_pivot_priority")
    out.columns.toSeq shouldBe Seq("o_orderstatus",
      "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val statuses = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderstatus")).distinct().count()
    out.count() shouldBe statuses
  }

  test("d06 dedup arithmetic: kept + dropped = total, totals cover the table") {
    val out = run("d06_embedding_neardup").cache()
    out.filter(col("n_kept") + col("n_dropped") =!= col("n_total"))
      .count() shouldBe 0
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    out.agg(sum(col("n_total"))).first().getLong(0) shouldBe vecs
    out.unpersist()
  }

  test("m03 frame sampling: stride-4 indices, hashes within poly_hash modulus") {
    val out = run("m03_frame_sample").cache()
    out.filter(col("frame_idx") % 4 =!= 0).count() shouldBe 0
    out.filter(col("frame_hash") < 0 ||
      col("frame_hash") >= graft.functions.PolyHash.Mod).count() shouldBe 0
    // every document long enough to hold one 32-byte frame contributes
    val eligible = spark.read.parquet(s"$dir/documents.parquet")
      .filter(octet_length(col("text")) >= 32).count()
    out.select(col("media_id")).distinct().count() shouldBe eligible
    out.unpersist()
  }

  test("q26 gaps: per-type gap counts equal events minus first-per-user rows") {
    val out = run("q26_event_gaps")
    // every user's first event has no predecessor; all others produce one
    // gap attributed to their own event_type
    val ev = Tables.events(spark, dir)
    val total = ev.count()
    val users = ev.select(col("user_id")).distinct().count()
    out.agg(sum(col("n_gaps"))).first().getLong(0) shouldBe (total - users)
  }

  test("d07 clusters: reps are their own minimum, members cover all paired docs") {
    val out = run("d07_dup_clusters").cache()
    // every clustered node is counted exactly once across components
    val pairedDocs = run("d05_simhash_pairs")
      .select(explode(array(col("id1"), col("id2"))).as("d"))
      .distinct().count()
    out.agg(sum(col("n_members"))).first().getLong(0) shouldBe pairedDocs
    // a representative is the minimum of its component, so it can never
    // appear as the larger side of a near-dup pair with a smaller rep
    out.filter(col("n_members") < 2).count() should be >= 0L
    out.unpersist()
  }

  test("m04 resize: fixed 16-byte thumbnail regardless of input size") {
    val out = run("m04_resize_thumbnail").cache()
    out.filter(expr("length(thumb_hex)") =!= 32).count() shouldBe 0L
    val eligible = spark.read.parquet(s"$dir/documents.parquet")
      .filter(octet_length(col("text")) >= 16).count()
    out.count() shouldBe eligible
    out.unpersist()
  }

  test("q37 approx percentiles bound the exact q29 values") {
    val exact = run("q29_quantity_percentiles")
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = run("q37_approx_percentiles")
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75")).collect()
    approx.foreach { r =>
      val (p25, p50, p75) = exact(r.getString(0))
      // GK sketch at accuracy 10000 on these group sizes: within one
      // quantity step of the exact interpolated percentile
      math.abs(r.getDouble(1) - p25) should be <= 1.0
      math.abs(r.getDouble(2) - p50) should be <= 1.0
      math.abs(r.getDouble(3) - p75) should be <= 1.0
    }
  }

  test("s05 int8-quantized top-5 mostly agrees with full-precision s01") {
    val fine = run("s01_cosine_topk")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val coarse = run("s05_quantized_cosine")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    coarse.keySet shouldBe fine.keySet
    // 127-level quantization keeps neighborhood structure: require ≥ 3 of
    // the 5 exact neighbors per query on average
    val overlap = fine.keys.toSeq.map(q => (fine(q) & coarse(q)).size).sum
    overlap.toDouble / fine.size should be >= 3.0
  }

  test("d08 keep-best: kept counts bounded and the best duplicate survives") {
    val out = run("d08_keep_best_dedup").cache()
    out.filter(col("n_kept") > col("n_docs")).count() shouldBe 0
    val total = Tables.docs(spark, dir).count()
    out.agg(sum(col("n_docs"))).first().getLong(0) shouldBe total
    // keep-best policy: within any fingerprint group the kept doc has the
    // group-max n_chars (longest text wins, not an arbitrary first)
    val fp = Tables.docs(spark, dir)
      .withColumn("fp", expr(Tables.strHashExpr("substring(text, 1, 40)")))
    val best = fp.groupBy(col("fp")).agg(max(col("n_chars")).as("best_chars"))
    val keptChars = out.agg(sum(col("kept_chars"))).first().getLong(0)
    best.agg(sum(col("best_chars"))).first().getLong(0) shouldBe keptChars
    out.unpersist()
  }

  test("t08 redaction: chars removed consistent with term lengths") {
    val out = run("t08_redaction_stats").cache()
    // every redacted term is 'value' (5 chars) or 'customer' (8 chars)
    out.filter(col("chars_removed") < col("n_redacted") * 5).count() shouldBe 0
    out.filter(col("chars_removed") > col("n_redacted") * 8).count() shouldBe 0
    out.agg(sum(col("n_docs"))).first().getLong(0) shouldBe
      Tables.docs(spark, dir).count()
    out.unpersist()
  }

  test("q40 transformWithState equals the batch per-user aggregate") {
    val got = run("q40_transform_with_state")
    val expected = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        max(unix_micros(col("ts"))).as("last_us"))
    got.exceptAll(expected).count() shouldBe 0
    expected.exceptAll(got).count() shouldBe 0
  }

  test("q46 gap-fill: complete grid, zero-filled gaps, ffill non-null after first hour") {
    val out = run("q46_gap_fill").cache()
    val ev = Tables.events(spark, dir)
    val nTypes = ev.select(col("event_type")).distinct().count()
    val span = ev.select(date_trunc("hour", col("ts")).as("hr"))
      .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      .select(((unix_timestamp(col("h1")) - unix_timestamp(col("h0"))) / 3600 + 1).cast("long"))
      .first().getLong(0)
    out.count() shouldBe span * nTypes // every (hour, type) cell exists
    out.filter(col("n").isNull).count() shouldBe 0 // gaps are zero, not null
    // after a type's first observed hour, the forward-fill never goes null
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour"))
    out.withColumn("seen", max(when(col("n") > 0, 1).otherwise(0)).over(w))
      .filter(col("seen") === 1 && col("ffill_sum").isNull)
      .count() shouldBe 0
    out.unpersist()
  }

  test("q48 funnel stages are monotonically non-increasing") {
    val r = run("q48_funnel").first()
    val (v, c, p) = (r.getLong(0), r.getLong(1), r.getLong(2))
    v should be >= c
    c should be >= p
    v should be > 0L
  }

  test("q39 sampling is seed-deterministic and respects per-stratum rates") {
    val a = run("q39_stratified_sample").collect().toSeq
    val b = run("q39_stratified_sample").collect().toSeq
    a shouldBe b // same seed -> identical sample, identical rollup
    // the per-stratum rate check (frac=1.0 ⇒ every row; else 6σ binomial
    // band) is computed in-query as rate_ok; totals verified independently
    val totals = Tables.events(spark, dir).groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    a should have size totals.size.toLong
    a.foreach { r =>
      r.getAs[Long]("n_total") shouldBe totals(r.getAs[String]("event_type"))
      assert(r.getAs[Boolean]("rate_ok"),
        s"sample rate out of bounds for ${r.getAs[String]("event_type")}")
    }
  }

  test("s04 IVF search recalls most of s01's exact top-5") {
    val exact = run("s01_cosine_topk")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = run("s04_ivf_topk")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    approx.keySet shouldBe exact.keySet
    val recalls = exact.map { case (q, ids) =>
      approx(q).intersect(ids).size.toDouble / ids.size
    }
    // probing 2 of 10 inverted lists: measured mean recall is 0.40 at
    // sf0.001 (tiny lists) and rises with list size — the documented
    // speed/recall trade; the bound guards against a broken probe path
    // (recall ~0), not the trade itself
    (recalls.sum / recalls.size) should be >= 0.25
  }

  test("s09 matryoshka prefix retrieval recalls most of s01's exact top-5") {
    val exact = run("s01_cosine_topk")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mrl = run("s09_matryoshka_rerank")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    mrl.keySet shouldBe exact.keySet
    val recalls = exact.map { case (q, ids) =>
      mrl(q).intersect(ids).size.toDouble / ids.size
    }
    // the 16-dim prefix of these synthetic 64-dim embeddings carries 1/4
    // of the signal (unlike true MRL vectors, which front-load it):
    // measured mean recall is 0.375 at sf0.001 and rises with real nested
    // embeddings; the bound guards a broken slice/rerank path (recall ~0),
    // not the trade itself
    (recalls.sum / recalls.size) should be >= 0.25
  }

  test("t17 BPE pair counts match an independent driver-side recount") {
    val expected = Tables.docs(spark, dir)
      .select(col("text")).collect().iterator
      .flatMap(_.getString(0).split(" ", -1))
      .filter(w => w.length >= 2 && w.forall(c => c >= 'a' && c <= 'z'))
      .flatMap(w => w.sliding(2))
      .foldLeft(Map.empty[String, Long]) { case (m, p) => m.updated(p, m.getOrElse(p, 0L) + 1) }
      .toSeq.sortBy { case (p, n) => (-n, p) }.take(30)
    val got = run("t17_bpe_pair_counts")
      .select(col("pair"), col("cnt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    got shouldBe expected
  }

  test("t24 chunk windows tile every document: contiguous ids, exact sizes") {
    val n = Tables.docs(spark, dir)
      .selectExpr("doc_id", "CAST(size(split(text, ' ')) AS BIGINT) AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunks = run("t24_chunk_windows")
      .select(col("doc_id"), col("chunk_idx"), col("n_tok")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    chunks.keySet shouldBe n.keySet // every doc chunks (split is never empty)
    chunks.foreach { case (doc, cs) =>
      val idxs = cs.map(_._2).sorted.toSeq
      idxs shouldBe (0L until idxs.length.toLong) // contiguous from 0
      assert(idxs.length.toLong == (n(doc) - 1) / 48 + 1) // stride coverage
      cs.foreach { case (_, idx, nTok) =>
        assert(nTok == math.min(64L, n(doc) - 48L * idx)) // window vs tail
      }
    }
  }

  test("q51's bloom probe is the native expression, not a UDF") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    val plan = run("q51_bloom_join").queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    exprs.exists(_.exists(_.isInstanceOf[BloomFilterMightContain])) shouldBe true
    // the whole point of the swap: no codegen-breaking UDF in the probe
    exprs.exists(_.exists(_.isInstanceOf[ScalaUDF])) shouldBe false
  }

  test("q66 listagg is ordered, complete, and slice-consistent") {
    val out = run("q66_ordered_set_aggs").cache()
    out.collect().foreach { r =>
      val n = r.getLong(r.fieldIndex("n"))
      val keys = r.getString(r.fieldIndex("key_list")).split(",").map(_.toLong)
      keys.length.toLong shouldBe n
      keys.toSeq shouldBe keys.sorted.toSeq // WITHIN GROUP ordering held
      keys.foreach(k => k % 101 shouldBe 0) // the slice predicate held
      val med = r.getDouble(r.fieldIndex("median_price"))
      med should be > 0.0
    }
    out.unpersist()
  }

  test("q30 stream-stream join pairs lie within the 30-minute window") {
    val out = run("q30_stream_stream_join").cache()
    out.filter(col("n_pairs") <= 0).count() shouldBe 0
    // sum of gaps per user bounded by n_pairs * 30min in micros
    out.filter(col("sum_gap_us") > col("n_pairs") * 1800000000L)
      .count() shouldBe 0
    out.unpersist()
  }

  test("q18/q58 sketch estimates bound the exact distinct counts") {
    // accuracy contract, now computed in-query as within-bound booleans
    // (q18: HLL++ within 3·rsd; q58: union-merged Datasketches HLL
    // partials within 5% — merging per-day partials must not degrade
    // the estimate class); the exact twins are verified independently
    val exact = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    run("q18_approx_distinct").collect().foreach { r =>
      r.getAs[Long]("n_users") shouldBe exact(r.getAs[String]("event_type"))
      assert(r.getAs[Boolean]("users_ok") && r.getAs[Boolean]("props_ok"),
        s"q18(${r.getAs[String]("event_type")}): sketch out of bound")
    }
    run("q58_sketch_merge").collect().foreach { r =>
      r.getAs[Long]("n_users") shouldBe exact(r.getAs[String]("event_type"))
      assert(r.getAs[Boolean]("merge_ok"),
        s"q58(${r.getAs[String]("event_type")}): merged sketch out of bound")
    }
  }

  test("q89's NOT IN compiles null-AWARE: one build-side NULL empties the result") {
    // the behavioral distinction q89's oracle can't see on null-free
    // data: under ANSI three-valued logic `x NOT IN (S)` is never true
    // once S contains a NULL; a mistakenly-plain anti equi-join (where a
    // NULL key simply never matches) would keep every non-member row
    val spark2 = spark
    import spark2.implicits._
    Seq("a", "b", "c").toDF("x").createOrReplaceTempView("q89_probe")
    Seq(Some("a"), None).toDF("y").createOrReplaceTempView("q89_build")
    spark.sql("SELECT x FROM q89_probe WHERE x NOT IN (SELECT y FROM q89_build)")
      .count() shouldBe 0L
    // and with the NULL filtered away, the plain-anti answer returns
    spark.sql("""SELECT x FROM q89_probe
                 WHERE x NOT IN (SELECT y FROM q89_build WHERE y IS NOT NULL)""")
      .count() shouldBe 2L
    spark.catalog.dropTempView("q89_probe")
    spark.catalog.dropTempView("q89_build")
  }

  test("q94 two-pass quartiles: broadcast classify, no sort or window in the plan") {
    // the whole point of q94 vs q31 is the plan SHAPE: boundary table
    // broadcast into a single scan, no per-status global sort, no
    // window operator — that's what survives a 100× scale-up where
    // partitionBy(o_orderstatus) caps q31 at 3-way parallelism
    val df = run("q94_two_pass_quartiles")
    val plan = df.queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    (plan should not).include("Window")
    // the only Sort allowed is the final 3-row presentation orderBy;
    // no Sort may feed the join or the aggregates below it
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    (plan.substring(joinIdx) should not).include("Sort")
    // and the classification itself is right: quartile counts sum to n
    val r = df.collect()
    r.length should be >= 1
    all(r.map(_.getBoolean(3))) shouldBe true  // ok25
    all(r.map(_.getBoolean(4))) shouldBe true  // ok50
    all(r.map(_.getBoolean(5))) shouldBe true  // ok75
    all(r.map(_.getBoolean(6))) shouldBe true  // mono
  }

  test("q104: filter and projection reach the parquet scan (PushedFilters + pruned ReadSchema)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = run("q104_pipe_syntax")
    df.collect()
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case other                 => unwrap(other).flatMap(scans)
    }
    val scan = scans(df.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScanExec in q104's plan"))
    // the WHERE must be pushed into the scan, not applied post-read
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed: $pushed")
    // only 6 of lineitem's 11 columns may be read: the 5 projected ones
    // plus l_shipdate, which the pushed filter references
    scan.schema.fieldNames.toSet shouldBe Set(
      "l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_shipdate")
  }

  test("q60's decorrelated top-k runs under WindowGroupLimit (rank pushdown)") {
    val df = run("q60_lateral_topk")
    df.collect().length should be > 0
    // Catalyst turns the rank<=k filter over the row_number window into a
    // WindowGroupLimit: each partition keeps only k rows per key BEFORE
    // the full sort/window — the difference between shuffling k rows per
    // group and shuffling the whole table at 100 TB
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter did not push down to WindowGroupLimit:\n$plan")
  }

  test("q109 SQL UDFs inline as expressions: no UDF node, codegen intact") {
    val df = run("q109_sql_udf")
    df.collect().length shouldBe 3
    val plan = df.queryExecution.executedPlan.toString
    // a SQL-defined function must resolve to its body (CASE WHEN /
    // decimal arithmetic), never to a black-box UDF invocation — that is
    // the whole scale argument for q109 (pushdown + whole-stage codegen
    // survive the named abstraction)
    // (the function NAME may survive as a projected attribute alias; what
    // must not appear is a black-box invocation node)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"SQL UDF did not inline:\n$plan")
    val logical = df.queryExecution.optimizedPlan.toString
    assert(logical.contains("CASE WHEN"), s"inlined band expression missing:\n$logical")
    // `*(n)` prefixes are whole-stage-codegen stages in the executed plan
    assert(plan.contains("*("), s"codegen lost:\n$plan")
    // equality with the hand-inlined form, row for row
    import org.apache.spark.sql.functions._
    val inline = graft.analytics.Tables.rd(spark, dir, "lineitem")
      .groupBy(when(col("l_quantity") < 10, "low")
        .when(col("l_quantity") < 30, "mid").otherwise("high").as("band"))
      .agg(count(lit(1)).as("n"),
        sum(graft.analytics.Tables.discPrice(col("l_extendedprice"), col("l_discount")))
          .cast("double").as("revenue"))
      .orderBy(col("band"))
    df.collect().map(_.toString).toSeq shouldBe inline.collect().map(_.toString).toSeq
  }

  test("q106 typed path keeps column pruning and partial aggregation") {
    val df = run("q106_typed_dataset")
    df.collect().length shouldBe 3
    val plan = df.queryExecution.executedPlan.toString
    // the .as[TypedLine] projection must reach the scan: two columns read
    val readSchema = "ReadSchema: struct<l_quantity:double,l_returnflag:string>"
    assert(plan.contains(readSchema),
      s"typed projection did not prune the parquet scan:\n$plan")
    // partial-merge preserved: the typed Aggregator runs as a
    // partial/final ObjectHashAggregate pair around one exchange —
    // the shuffle carries |groups| buffers, not rows
    plan.split("ObjectHashAggregate").length - 1 should be >= 2
    assert(plan.contains("partial_typedlinestats"),
      s"no partial typed aggregate before the exchange:\n$plan")
  }

  test("t26 survives a word fully collapsing to one unit (r12 advice)") {
    // "ab" collapses to a single unit after round 1's merge; the pair
    // explode must skip it (sequence(1, size(u)-1) with size(u)=1 would
    // evaluate as sequence(1, 0) = [1, 0] and element_at(u, 0) throws)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t26guard").toString
    Seq(
      (1L, "ab ab ab", "en", "web", 8L),
      (2L, "xyz", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Registry.queries("t26_bpe_merge_rounds")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // round 1 merges "a b" (weight 3, collapsing "ab"); rounds 2-3 keep
    // training on the surviving "xyz" word instead of crashing
    out shouldBe Seq((1L, "ab", 3L), (2L, "xy", 1L), (3L, "xyz", 1L))
  }

  test("BPE merge application is literal-safe for quote/metachar tokens (r13 advice)") {
    import spark.implicits._
    // the trainer's corpus filter is ^[a-z]+$ so these never reach it
    // today, but the merge step must not assume that: a pair bearing a
    // single quote, a backslash, or a regex metachar has to merge as a
    // plain string (the former expr-interpolated replace('$pair') broke
    // the SQL on the quote)
    val df = Seq(" d ' n t ", " a \\ b ", " x . * y ").toDF("units")
    val pairs = Seq("' n" -> " d 'n t ", "a \\" -> " a\\ b ", ". *" -> " x .* y ")
    pairs.zipWithIndex.foreach { case ((pair, expected), i) =>
      val got = df.select(graft.analytics.Text.applyMerge(col("units"), pair).as("u"))
        .collect().map(_.getString(0))
      got(i) shouldBe expected
    }
    // chain case: 4 passes settle shared-separator runs of the same pair
    val chain = Seq(" q ' q ' q ' q ' q ").toDF("units")
      .select(graft.analytics.Text.applyMerge(col("units"), "q '").as("u"))
      .collect().head.getString(0)
    chain shouldBe " q' q' q' q' q "
  }

  test("t28 encodes with the t26-trained merges, exact token accounting") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t28enc").toString
    Seq(
      (1L, "abab abab cd", "en", "web", 12L),
      (2L, "abab cd cd", "en", "wiki", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // trainer: r1 "a b" (6) -> abab = "ab ab"; r2 ties "ab ab"=3 vs
    // "c d"=3, lexicographic tie-break picks "ab ab" -> abab collapses;
    // r3 merges "c d" -> both words encode to a single token
    val merges = Registry.queries("t26_bpe_merge_rounds")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    merges shouldBe Seq((1L, "ab", 6L), (2L, "abab", 3L), (3L, "cd", 3L))
    val out = Registry.queries("t28_bpe_encode")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // (source, n_words, n_chars, n_tokens, n_token_types)
    out shouldBe Seq(
      ("web", 3L, 10L, 3L, 2L),
      ("wiki", 3L, 8L, 3L, 2L))
  }

  test("q116 funnel takes the earliest strictly-later continuation only") {
    import spark.implicits._
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val tmp = java.nio.file.Files.createTempDirectory("q116funnel").toString
    Seq(
      // user 1 reaches all 4 stages; the click@15 BEFORE its view@20 must
      // not count, so click resolves to 25 and purchase to 30
      (1L, ts(10), 1L, "signup", 0.0, ""), (2L, ts(20), 1L, "view", 0.0, ""),
      (3L, ts(15), 1L, "click", 0.0, ""), (4L, ts(25), 1L, "click", 0.0, ""),
      (5L, ts(30), 1L, "purchase", 0.0, ""),
      // user 2: purchase precedes signup — stops after view
      (6L, ts(10), 2L, "signup", 0.0, ""), (7L, ts(5), 2L, "purchase", 0.0, ""),
      (8L, ts(12), 2L, "view", 0.0, ""),
      // user 3 never signs up — not in the funnel at all
      (9L, ts(10), 3L, "view", 0.0, ""), (10L, ts(20), 3L, "click", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Registry.queries("q116_funnel_conversion")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    out shouldBe Seq(
      ("1_signup", 2L, 0L),
      ("2_view", 2L, 12L * 1000000L),  // gaps 10s + 2s
      ("3_click", 1L, 15L * 1000000L),
      ("4_purchase", 1L, 20L * 1000000L))
  }

  test("q118 streaming funnel equals q116 on the adversarial ordering case") {
    import spark.implicits._
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val tmp = java.nio.file.Files.createTempDirectory("q118funnel").toString
    // same trap set as the q116 spec: a click BEFORE its unlocking view,
    // a purchase before signup, a user with no signup — the streaming
    // state machine sees them in FILE order (not time order) and must
    // still resolve the greedy trajectory
    Seq(
      (1L, ts(10), 1L, "signup", 0.0, ""), (2L, ts(20), 1L, "view", 0.0, ""),
      (3L, ts(15), 1L, "click", 0.0, ""), (4L, ts(25), 1L, "click", 0.0, ""),
      (5L, ts(30), 1L, "purchase", 0.0, ""),
      (6L, ts(10), 2L, "signup", 0.0, ""), (7L, ts(5), 2L, "purchase", 0.0, ""),
      (8L, ts(12), 2L, "view", 0.0, ""),
      (9L, ts(10), 3L, "view", 0.0, ""), (10L, ts(20), 3L, "click", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/_evdir")
    // the streaming source symlinks <dir>/events.parquet as a FILE (the
    // testdata layout); a Spark-written directory would list empty there
    val part = new java.io.File(s"$tmp/_evdir").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$tmp/events.parquet"))
    def result(name: String) = Registry.queries(name)(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = result("q118_stream_funnel")
    streamed shouldBe result("q116_funnel_conversion")
    streamed shouldBe Seq(
      ("1_signup", 2L, 0L), ("2_view", 2L, 12L * 1000000L),
      ("3_click", 1L, 15L * 1000000L), ("4_purchase", 1L, 20L * 1000000L))
  }

  test("m12 shots partition exactly m03's sampled frames, in order") {
    val shots = run("m12_keyframe_select").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val framesPerMedia = run("m03_frame_sample").collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    shots.keySet shouldBe framesPerMedia.keySet
    shots.foreach { case (m, ss) =>
      val byShot = ss.sortBy(_._2)
      byShot.map(_._2).toSeq shouldBe (1L to byShot.length.toLong) // contiguous ids
      byShot.head._3 shouldBe 0L // first keyframe is frame 0
      // keyframes strictly ordered and frame counts partition the stream
      byShot.map(_._3).toSeq shouldBe byShot.map(_._3).sorted.toSeq
      byShot.map(_._4).sum shouldBe framesPerMedia(m)
    }
  }

  test("q120 grid-cell join equals the brute-force all-pairs spatial join") {
    // the brute force the cell join must reproduce — every pair within the
    // radius, found EXACTLY once (a double-counted candidate would inflate
    // n_pairs; a missed neighbor cell would drop one)
    val pts = Tables.rd(spark, dir, "customer").selectExpr(
      "c_custkey AS id", "c_mktsegment AS seg",
      "(c_custkey*c_custkey*3271 + c_custkey*1007 + 12345) % 10000 AS x",
      "(c_custkey*c_custkey*7919 + c_custkey*6151 + 54321) % 10000 AS y")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val mod = 1000000007L
    val brute = for {
      a <- pts; b <- pts
      if a._1 < b._1
      d2 = (a._3 - b._3) * (a._3 - b._3) + (a._4 - b._4) * (a._4 - b._4)
      if d2 <= 10000L
    } yield (a._2, d2, (a._1 * 100003L + b._1) % mod)
    brute.length should be > 0 // the quadratic mix must actually make near-pairs
    val expected = brute.groupBy(_._1).map { case (seg, g) =>
      (seg, g.length.toLong, g.map(_._2).sum, g.map(_._3).sum % mod)
    }.toSet
    val out = run("q120_geo_cell_join").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    out shouldBe expected
  }

  test("q121 attribution conserves total purchase value exactly") {
    val out = run("q121_attribution").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val totalCredit = out.map(_._3).sum
    val purchaseCents = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .selectExpr("CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)")
      .first().getLong(0)
    totalCredit shouldBe purchaseCents // DIV + MOD-to-last loses no cent
  }

  test("q121 attribution lookahead window, split, and direct rules") {
    import spark.implicits._
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val wk = 604800L // 7 days in seconds
    val tmp = java.nio.file.Files.createTempDirectory("q121attr").toString
    Seq(
      // user 1: two touches split 101 cents — DIV gives 50 each, the LAST
      // touch (the click, later ts) takes the odd cent
      (1L, ts(100), 1L, "view", 0.0, ""), (2L, ts(200), 1L, "click", 0.0, ""),
      (3L, ts(300), 1L, "purchase", 1.01, ""),
      // user 2: touch exactly AT the 7-day boundary — still attributed
      (4L, ts(1000), 2L, "view", 0.0, ""),
      (5L, ts(1000 + wk), 2L, "purchase", 2.0, ""),
      // user 3: touch one second BEYOND the window — purchase goes direct
      (6L, ts(2000), 3L, "click", 0.0, ""),
      (7L, ts(2000 + wk + 1), 3L, "purchase", 3.0, ""),
      // user 4: the only touch comes AFTER the purchase — direct, touch dropped
      (8L, ts(50), 4L, "purchase", 4.0, ""), (9L, ts(60), 4L, "view", 0.0, ""),
      // user 5: each touch attributes to its NEXT purchase only
      (10L, ts(100), 5L, "view", 0.0, ""), (11L, ts(200), 5L, "purchase", 5.0, ""),
      (12L, ts(250), 5L, "click", 0.0, ""), (13L, ts(400), 5L, "purchase", 6.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Registry.queries("q121_attribution")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    out shouldBe Seq(
      ("click", 2L, 51L + 600L),         // user1 remainder cent + user5 e13
      ("direct", 2L, 300L + 400L),       // user3 beyond-window + user4 no-prior
      ("view", 3L, 50L + 200L + 500L))   // user1 even half, user2 boundary, user5 e11
  }

  test("q122 two-level prefix sum equals a serial driver-side sweep") {
    // independent re-derivation: sessionize in Scala, sweep the global
    // point list serially — the two-level (day-offset + within-day) prefix
    // must reproduce the single-ordered-pass result exactly
    val gapUs = 30L * 60 * 1000000L
    val padUs = 60L * 1000000L
    val dayUs = 86400L * 1000000L
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).values.flatMap { g =>
      val sorted = g.sortBy(e => (e._3, e._2)).map(_._3)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (us <- sorted) {
        if (bounds.nonEmpty && us - bounds.last._2 <= gapUs)
          bounds(bounds.size - 1) = (bounds.last._1, us)
        else bounds += ((us, us))
      }
      bounds.map { case (s0, e0) => (s0, e0 + padUs) }
    }.toSeq
    val pts = (sessions.map(s => (s._1, 1L)) ++ sessions.map(s => (s._2, -1L)))
      .sortBy(identity)
    var conc = 0L
    val byDay = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
    for ((us, d) <- pts) {
      conc += d
      val day = us / dayUs
      val (starts, peak, peakUs) = byDay.getOrElse(day, (0L, Long.MinValue, 0L))
      val s2 = starts + (if (d == 1L) 1L else 0L)
      if (conc > peak) byDay(day) = (s2, conc, us)
      else byDay(day) = (s2, peak, peakUs)
    }
    val expected = byDay.toSeq.map { case (day, (s0, p, pu)) => (day, s0, p, pu) }
      .sortBy(_._1)
    val out = run("q122_peak_concurrency").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    out shouldBe expected
  }

  test("q122 carries open sessions across midnight into the next day's peak") {
    import spark.implicits._
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val day = 86400L
    val tmp = java.nio.file.Files.createTempDirectory("q122mid").toString
    // users 1-3 open sessions 10 min before midnight and keep them alive
    // 10 min after; user 4 starts alone the next day — day 2's peak must
    // count the three carried-over sessions (peak 4), which only happens
    // if the day-offset level of the prefix sum is correct
    val rows = (1L to 3L).flatMap { u =>
      Seq((u * 10, ts(day - 600), u, "click", 0.0, ""),
        (u * 10 + 1, ts(day + 600), u, "click", 0.0, ""))
    } ++ Seq((100L, ts(day + 600), 4L, "click", 0.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = Registry.queries("q122_peak_concurrency")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    out(0L) shouldBe 3L              // day 1: the three open sessions
    out(1L) shouldBe 4L              // day 2: 3 carried over + user 4
  }

  test("q123 draws exactly n samples per stratum and the PPS estimator lands near the true count") {
    val out = run("q123_systematic_sample").collect()
    out.length shouldBe 5 // the five order priorities
    out.foreach { r =>
      // telescoping: sum of multiplicities is exactly the point count n
      r.getAs[Long]("n_samples") shouldBe 10L
      // Horvitz-Thompson count estimate from 10 PPS draws: unbiased, but
      // the order weights span ~300x (1.5k..500k), so a 10-draw estimate
      // of COUNT has wide variance (measured up to ~2x at sf0.001). The
      // bound guards a broken estimator — wrong by orders of magnitude,
      // e.g. a step/offset mixup — not sampling variance.
      val est = r.getAs[Long]("est_count_ppm").toDouble / 1e6
      val np = r.getAs[Long]("n_pop").toDouble
      assert(est > np / 5 && est < np * 5, s"estimate $est vs population $np")
    }
  }

  test("q123 selection matches a serial cumulative-weight scan") {
    // re-derive one stratum's systematic selection serially and compare
    // the checksum — catches an off-by-one in the interval rule or a
    // bucket-offset error in the two-level cumsum
    val rows = Tables.rd(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .selectExpr("o_orderkey", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val t = rows.map(_._2).sum
    val step = math.max(t / 10, 1L)
    val off = step / 2
    var cum = 0L
    val mod = graft.functions.PolyHash.Mod
    var checksum = 0L
    var nSel = 0L
    for ((key, w) <- rows) {
      val m = (cum + w + step - off) / step - (cum + step - off) / step
      if (m > 0) { checksum = (checksum + key * m % mod) % mod; nSel += m }
      cum += w
    }
    val r = run("q123_systematic_sample")
      .filter(col("stratum") === "1-URGENT").collect().head
    r.getAs[Long]("n_samples") shouldBe nSel
    r.getAs[Long]("key_checksum") shouldBe checksum
  }

  test("d22 label propagation matches a driver-side synchronous LPA and partitions the corpus") {
    val nDocs = Tables.docs(spark, dir).count()
    val out = run("d22_label_propagation").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out.map(_._2).sum shouldBe nDocs // every doc in exactly one community
    // independent re-derivation: collect the simhash candidate edges and
    // run 3 synchronous rounds with the same (max count, min label) rule
    val edges = graft.analytics.Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ids = Tables.docs(spark, dir).select("doc_id").collect().map(_.getLong(0))
    var labels = ids.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      labels = ids.map { v =>
        val votes = (nbrs.getOrElse(v, Array.empty[Long]).map(labels) :+ labels(v))
          .groupBy(identity).view.mapValues(_.length).toSeq
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val expected = labels.values.groupBy(identity).map { case (l, g) =>
      val members = labels.collect { case (v, lv) if lv == l => v }
      (l, g.size.toLong, members.sum)
    }.toSet
    out.toSet shouldBe expected
  }

  test("q124 level/prefix-max skyline equals the brute-force dominance filter") {
    val pts = Tables.rd(spark, dir, "part")
      .selectExpr("p_brand", "p_partkey",
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)", "p_size")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val expected = pts.filter { r =>
      !pts.exists(s => s._1 == r._1 && s._3 <= r._3 && s._4 >= r._4 &&
        (s._3 < r._3 || s._4 > r._4))
    }.map(r => (r._1, r._2, r._3, r._4)).toSet
    expected.size should be > 0
    val out = run("q124_skyline").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    out shouldBe expected
  }

  test("q125 bucketed interval-overlap join equals the all-pairs overlap join") {
    // brute force: sessionize serially, compare every session pair
    val gapUs = 30L * 60 * 1000000L
    val dayUs = 86400L * 1000000L
    val mod = graft.functions.PolyHash.Mod
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, g) =>
      val sorted = g.sortBy(e => (e._3, e._2)).map(_._3)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (us <- sorted) {
        if (bounds.nonEmpty && us - bounds.last._2 <= gapUs)
          bounds(bounds.size - 1) = (bounds.last._1, us)
        else bounds += ((us, us))
      }
      bounds.zipWithIndex.map { case ((s0, e0), i) => (u, i.toLong, s0, e0) }
    }
    val pairs = for {
      a <- sessions; b <- sessions
      if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) &&
        a._3 <= b._4 && b._3 <= a._4
    } yield (math.max(a._3, b._3) / dayUs,
      math.min(a._4, b._4) - math.max(a._3, b._3),
      (a._1 * 1000003L + b._1) % mod)
    pairs.length should be > 0
    val expected = pairs.groupBy(_._1).map { case (day, g) =>
      (day, g.length.toLong, g.map(_._2).sum, g.map(_._3).sum % mod)
    }.toSet
    val out = run("q125_interval_overlap_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    out shouldBe expected
  }

  test("s17 hamming shortlist recalls most of s01's exact top-5 and packs signs faithfully") {
    val exact = run("s01_cosine_topk")
      .select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val ham = run("s17_hamming_rerank").cache()
    val approx = ham.select(col("q_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    approx.keySet shouldBe exact.keySet
    val recalls = exact.map { case (q, ids) =>
      approx(q).intersect(ids).size.toDouble / ids.size
    }
    // 16-deep Hamming shortlist over 64 sign bits: the bound guards a
    // broken pack/popcount path (recall ~0), not the compression trade
    (recalls.sum / recalls.size) should be >= 0.25
    // the packed-word hamming must equal a direct sign-mismatch count
    val vecs = Tables.embs(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    ham.select("q_id", "c_id", "hamming").collect().foreach { r =>
      val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
      val direct = a.zip(b).count { case (x, y) => (x > 0) != (y > 0) }
      r.getLong(2) shouldBe direct.toLong
    }
    ham.unpersist()
  }

  test("q126 association rules equal a brute-force basket recount") {
    val bi = Tables.rd(spark, dir, "lineitem")
      .join(Tables.rd(spark, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val baskets = bi.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val n = baskets.size.toLong
    val supp = bi.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairCounts = baskets.values.toSeq
      .flatMap(bs => bs.toSeq.sorted.combinations(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expected = pairCounts.toSeq.flatMap { case (Seq(a, b), nab) =>
      Seq((a, b, nab), (b, a, nab))
    }.collect { case (ante, cons, nab) if nab >= 20 =>
      (ante, cons, nab,
        nab * 1000000L / supp(ante),
        nab * n * 1000000L / (supp(ante) * supp(cons)))
    }.toSet
    val out = run("q126_assoc_rules").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    out shouldBe expected
  }

  test("d23 frontier BFS equals a driver-side full-relaxation BFS") {
    val mod = graft.functions.PolyHash.Mod
    val edges = graft.analytics.Dedup.simhashPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = adj.keySet.filter(_ % 7 == 0).map(_ -> 0L).toMap
    for (k <- 1 to 4) {
      val reached = dist.keys.flatMap(v => adj.getOrElse(v, Array.empty[Long])
        .map(_ -> (dist(v) + 1))).groupBy(_._1).view.mapValues(_.map(_._2).min)
      dist = (dist.toSeq ++ reached.toSeq).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
      assert(k < 4 || dist.nonEmpty)
    }
    val srcOf = Tables.docs(spark, dir).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = dist.toSeq.map { case (v, d) => (srcOf(v), d, v) }
      .groupBy(t => (t._1, t._2)).map { case ((s0, d), g) =>
        (s0, d, g.size.toLong, g.map(t => BigInt(t._3)).sum.mod(BigInt(mod)).toLong)
      }.toSet
    val out = run("d23_bfs_hops").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    out shouldBe expected
  }

  test("q127 transition matrix rows are complete and ppm-normalized") {
    val out = run("q127_markov_transitions").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // serial re-derivation from the raw events
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val seq0 = g.sortBy(e => (e._4, e._2)).map(_._3)
      seq0.zip(seq0.drop(1))
    }
    val counts = trans.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val totals = trans.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = counts.map { case ((p, c), n) =>
      (p, c, n, n * 1000000L / totals(p))
    }.toSet
    out.map(t => (t._1, t._2, t._3, t._4)).toSet shouldBe expected
    // per source state the ranks are a permutation of 1..|destinations|
    out.groupBy(_._1).foreach { case (_, g) =>
      g.map(_._5).sorted shouldBe (1L to g.size.toLong).toVector
      // rank 1 carries the max count
      g.minBy(_._5)._3 shouldBe g.map(_._3).max
    }
    // probabilities within a row sum to ~1e6 (floor-division remainder)
    out.groupBy(_._1).foreach { case (_, g) =>
      val s0 = g.map(_._4).sum
      s0 should be <= 1000000L
      s0 should be > 1000000L - g.size.toLong
    }
  }

  test("m13 byte-histogram near-dup equals a brute-force in-bucket recount") {
    val mod = graft.functions.PolyHash.Mod
    val base = Tables.docs(spark, dir)
      .filter(col("n_chars") > 0).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val feats = base.map { case (id, text) =>
      val h = new Array[Long](16)
      text.foreach(ch => h(ch.toInt % 16) += 1)
      val len = text.length.toLong
      val kind = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val shape = h.map(v => v * 16 / len).mkString(",")
      (id, kind, h, h.map(v => v * v).sum, shape)
    }
    val pairs: Seq[(String, Boolean, Long)] =
      feats.toSeq.groupBy(f => (f._2, f._5)).toSeq.flatMap { case (_, g) =>
        for {
          a <- g; b <- g; if a._1 < b._1
        } yield {
          val dot = a._3.zip(b._3).map { case (x, y) => x * y }.sum
          (a._2, dot * dot * 10000L >= 9604L * a._4 * b._4,
            (a._1 * 1000003L + b._1) % mod)
        }
      }
    val expected = pairs.groupBy(_._1).map { case (kind, g) =>
      (kind, g.size.toLong, g.count(_._2).toLong,
        g.collect { case (_, true, c) => BigInt(c) }.sum.mod(BigInt(mod)).toLong)
    }.toSet
    val out = run("m13_byte_hist_neardup").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    out shouldBe expected
  }

  test("t30 bigram LM shift equals a serial add-one re-derivation") {
    def h(s0: String): Long =
      graft.functions.PolyHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s0))
    val base = Tables.docs(spark, dir).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(text: String): Seq[(String, String)] = {
      val ws = text.split(" ", -1)
      if (ws.length < 2) Seq.empty else ws.zip(ws.tail).toSeq
    }
    val train = base.filter(d => h(d._1.toString) % 10 < 8)
    val test0 = base.filter(d => h(d._1.toString) % 10 >= 8)
    val bc = train.flatMap(d => bigrams(d._3))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cc = train.flatMap(d => bigrams(d._3).map(_._1))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val v = train.flatMap(_._3.split(" ", -1)).distinct.length.toLong
    def lq(p: Double): Long =
      (BigDecimal(math.log(p))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
    val expected = test0.flatMap(d => bigrams(d._3).map(b => (d._2, b)))
      .groupBy(_._1).map { case (src, g) =>
        val n = g.size.toLong
        val oov = g.count(t => !cc.contains(t._2._1)).toLong
        val sq = g.map { case (_, b) =>
          lq((bc.getOrElse(b, 0L) + 1).toDouble / (cc.getOrElse(b._1, 0L) + v))
        }.sum
        (src, n, oov, oov.toDouble / n, -sq.toDouble / n / 10000.0)
      }.toSet
    val out = run("t30_bigram_lm_shift").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    out shouldBe expected
  }

  test("t31 Heaps fit equals a serial growth-curve re-derivation") {
    val base = Tables.docs(spark, dir).select("source", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def lq(x: Double): Long =
      (BigDecimal(math.log(x))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) * 10000).toLongExact
    val expected = base.groupBy(_._1).map { case (src, g) =>
      val docs0 = g.sortBy(_._2)
      val seen = scala.collection.mutable.Set.empty[String]
      var n = 0L
      val pts = docs0.map { case (_, _, text) =>
        val ws = text.split(" ", -1)
        n += ws.length
        seen ++= ws
        (n, seen.size.toLong)
      }
      val lx = pts.map(p => lq(p._1.toDouble))
      val ly = pts.map(p => lq(p._2.toDouble))
      val m = pts.length.toDouble
      val beta = (m * lx.zip(ly).map { case (a, b) => a * b }.sum -
        lx.sum.toDouble * ly.sum) /
        (m * lx.map(a => a * a).sum - lx.sum.toDouble * lx.sum)
      (src, pts.length.toLong, pts.last._1, pts.last._2, beta)
    }.toSet
    val out = run("t31_heaps_law").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    out shouldBe expected
    // growth exponents land in a sane band (a tiny source whose docs
    // share one vocabulary legitimately fits beta = 0 exactly)
    out.foreach { case (_, _, n, v, beta) =>
      v should be <= n
      beta should be >= 0.0
      beta should be <= 1.0
    }
  }

  test("q128's _metadata path derivation detects a deliberately misplaced file") {
    import java.nio.file._
    import scala.jdk.CollectionConverters._
    // clean layout: audit reports zero misplaced, one file per partition
    run("q128_file_lineage_audit").collect().foreach { r =>
      r.getAs[Long]("n_misplaced") shouldBe 0L
      r.getAs[Long]("n_files") shouldBe 1L
      r.getAs[Boolean]("sizes_positive") shouldBe true
    }
    // plant the failure: publish the same layout, then copy partition
    // rf=A's file into rf=N's directory — its rows' CONTENT still says A
    // while the path says N; the audit's path-vs-content cross-check is
    // the only read-side signal that can catch this
    val out = Files.createTempDirectory("graft-q128-spec").toString
    Tables.rd(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"))
      .withColumn("rf", col("l_returnflag"))
      .coalesce(1)
      .write.mode("overwrite").partitionBy("rf").parquet(out)
    val aFile = Files.list(Paths.get(out, "rf=A")).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val aRows = spark.read.parquet(Paths.get(out, "rf=A").toString).count()
    Files.copy(aFile, Paths.get(out, "rf=N", "part-misplaced.parquet"))
    val audited = spark.read.parquet(out)
      .select(col("l_returnflag"),
        regexp_extract(col("_metadata.file_path"), "rf=([^/]+)/", 1).as("pf"))
      .filter(col("pf") =!= col("l_returnflag"))
    audited.count() shouldBe aRows // every smuggled row is flagged
    audited.select("pf").distinct().collect().map(_.getString(0)) shouldBe Array("N")
  }

  test("q129 cover-set sliding distinct equals a serial window recount") {
    val pairs = Tables.events(spark, dir)
      .selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS ed")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val days = pairs.map(_._2).distinct.sorted
    val expected = days.map { d =>
      (d,
        pairs.collect { case (u, e) if e >= d - 6 && e <= d => u }.distinct.length.toLong,
        pairs.collect { case (u, e) if e == d => u }.distinct.length.toLong)
    }.toSet
    val out = run("q129_sliding_distinct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    out shouldBe expected
    // the rolling window genuinely exceeds same-day actives somewhere
    out.count { case (_, w7, w1) => w7 > w1 } should be > 0
  }

  test("d25 clustering coefficients equal a brute-force per-node recount") {
    val li = Tables.rd(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val pks = g.map(_._2).distinct.sorted
      pks.combinations(2).map { case Array(a, b) => (a, b) }
    }.toSeq.distinct
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val srcOf = Tables.rd(spark, dir, "part").select("p_partkey", "p_brand")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val perNode = adj.toSeq.collect { case (v, nb) if nb.size >= 2 =>
      val t = nb.toSeq.combinations(2)
        .count { case Seq(a, b) => adj(a).contains(b) }.toLong
      (srcOf(v), t, 2L * t * 1000000L / (nb.size.toLong * (nb.size - 1)))
    }
    val expected = perNode.groupBy(_._1).map { case (src, g) =>
      (src, g.size.toLong, g.count(_._2 > 0).toLong, g.map(_._2).sum,
        g.map(_._3).sum / g.size)
    }.toSet
    val out = run("d25_clustering_coeff").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    out shouldBe expected
  }

  test("q130 TWAP equals a serial hold-time recount and diverges from plain AVG") {
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "value",
        "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getLong(4)))
    val weighted = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val s0 = g.sortBy(e => (e._5, e._2))
      s0.zip(s0.drop(1)).map { case (a, b) => (a._3, a._4, b._5 - a._5) }
    }
    def dec6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = weighted.groupBy(_._1).map { case (et, g) =>
      val sd = g.map(_._3).sum
      val num = g.map(t => dec6(t._2) * BigDecimal(t._3)).sum
      (et, g.size.toLong, sd,
        BigDecimal(num.toDouble / sd.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(g.map(t => dec6(t._2)).sum.toDouble / g.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val out = run("q130_time_weighted_avg").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSet
    out shouldBe expected
    // on an irregular stream the two means genuinely differ somewhere
    out.count { case (_, _, _, twap, avg) => twap != avg } should be > 0
  }

  test("q131 interval coalesce equals a serial merge and never double-counts") {
    val gapUs = 30L * 60 * 1000000L
    val ev = Tables.events(spark, dir)
      .selectExpr("user_id", "event_id", "event_type", "unix_micros(ts) AS us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val intervals = ev.groupBy(e => (e._1, e._3)).values.toSeq.flatMap { g =>
      val ts = g.sortBy(e => (e._4, e._2)).map(_._4)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for (us <- ts) {
        if (bounds.nonEmpty && us - bounds.last._2 <= gapUs)
          bounds(bounds.size - 1) = (bounds.last._1, us)
        else bounds += ((us, us))
      }
      bounds.map { case (a, b) => (g.head._1, a, b) }
    }
    val expected = intervals.groupBy(_._1).map { case (u, g) =>
      val sorted = g.map(t => (t._2, t._3)).sortBy(identity)
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      for ((s0, e0) <- sorted) {
        if (merged.nonEmpty && s0 <= merged.last._2)
          merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e0))
        else merged += ((s0, e0))
      }
      (u, merged.size.toLong, merged.map(m => m._2 - m._1).sum, g.size.toLong)
    }.toSet
    val out = run("q131_interval_coalesce").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    out shouldBe expected
    // union never exceeds the naive per-interval sum (at sf0.001 no
    // user's channels happen to overlap — the non-vacuous case is
    // covered by the sf0.01 oracle match, where overlaps exist)
    val naive = intervals.groupBy(_._1).view.mapValues(_.map(t => t._3 - t._2).sum)
    out.foreach { case (u, _, cov, _) => cov should be <= naive(u) }
  }

  test("s19 centroid drift equals a serial common-denominator recount") {
    def h(s0: String): Long =
      graft.functions.PolyHash.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s0))
    val mod = graft.functions.PolyHash.Mod
    val scale = Tables.QuantScale
    val vecs = Tables.embs(spark, dir).select("vec_id", "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * scale).toLong).toArray))
    val expected = vecs.groupBy(_._2).map { case (label, g) =>
      val (as, bs) = g.partition(v => h(v._1.toString) % 10 < 8)
      val n1 = as.length.toLong; val n2 = bs.length.toLong
      val num = (0 until 64).map { i =>
        val t = BigInt(as.map(_._3(i)).sum) * n2 - BigInt(bs.map(_._3(i)).sum) * n1
        t * t
      }.sum
      (label.toLong, n1, n2,
        num.toDouble / (n1 * n2).toDouble / (n1 * n2).toDouble,
        num.mod(BigInt(mod)).toLong)
    }.toSet
    val out = run("s19_centroid_drift").collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSet
    out shouldBe expected
  }

  test("d24 streaming-maintained k-core equals d18's batch recompute exactly") {
    val maintained = run("d24_stream_kcore").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batch = run("d18_kcore_peel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    maintained shouldBe batch
    maintained.size should be > 0
  }

  test("s18 greedy k-center trajectory and assignment match a serial re-derivation") {
    val mod = graft.functions.PolyHash.Mod
    val scale = Tables.QuantScale
    val vecs = Tables.embs(spark, dir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * scale).toLong).toArray)
      .sortBy(_._1)
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var centers = List((0L, 0L, 0L)) // (rnd, id, radius)
    var dmin = vecs.map { case (id, v) => id -> sq(v, vecs(0)._2) }.toMap
    var cid = vecs.map(_._1 -> 0L).toMap
    val byId = vecs.toMap
    for (k <- 1L to 7L) {
      val far = dmin.toSeq.minBy { case (id, d) => (-d, id) }
      centers ::= (k, far._1, far._2)
      vecs.foreach { case (id, v) =>
        val dn = sq(v, byId(far._1))
        if (dn < dmin(id)) { dmin += id -> dn; cid += id -> far._1 }
      }
    }
    val expected = centers.map { case (rnd, c, radius) =>
      val assigned = cid.collect { case (v, cv) if cv == c => v }
      (rnd, c, radius, assigned.size.toLong,
        assigned.map(BigInt(_)).sum.mod(BigInt(mod)).toLong)
    }.toSet
    val out = run("s18_kcenter_coreset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    out shouldBe expected
  }
}
