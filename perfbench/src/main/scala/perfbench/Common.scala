package perfbench

import graft.ddl.BillingTables

/** Pieces shared by the workloads. */
object Common {

  /** Read latency: the median, the tail and per-read medians. These are
    * per-layer numbers: short reads track host CPU steal so closely that
    * their run-to-run spread is wider than any regression bound. */
  def reads(ctx: Ctx, samples: Seq[(String, Double)]): Unit = {
    val secs = samples.map(_._2)
    ctx.report.layer("read.p50_s", "s", Stats.median(secs))
    tail(ctx, "read.tail_s", secs)
    samples.groupBy(_._1).foreach { case (name, xs) =>
      ctx.report.layer(s"read.${name}_s", "s", Stats.median(xs.map(_._2)))
    }
  }

  /** The tail of `xs` as a per-layer number, when the run has enough
    * samples for a tail at or above the median. */
  def tail(ctx: Ctx, name: String, xs: Seq[Double]): Unit =
    Stats.tail(xs).filter(_._2 >= 50).foreach { case (v, pct) =>
      ctx.report.layer(name, "s", v)
      ctx.report.layer(name.stripSuffix("_s") + "_percentile", "%", pct)
    }

  /** Tracing overhead: a traced run alternates tracing on and off per
    * timed operation; the ratio of the two medians, less one. */
  def overhead(ctx: Ctx, ops: Seq[(Double, Boolean)]): Unit = if (ctx.traced) {
    val (on, off) = ops.partition(_._2)
    if (on.nonEmpty && off.nonEmpty)
      ctx.report.layer("trace.overhead_ratio", "ratio",
        Stats.median(on.map(_._1)) / Stats.median(off.map(_._1)) - 1)
  }

  /** `BillingTables.createAll` on tables that already exist, which every
    * cron window pays. Median of three. */
  def ddlProbe(ctx: Ctx, db: String): Unit = {
    val tables = new BillingTables(ctx.spark, db)
    val s = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.span("ddl:createAll")(tables.createAll())
      (System.nanoTime() - t0) / 1e9
    }
    ctx.report.layer("ddl.create_all_s", "s", Stats.median(s))
  }

  /** Per-layer numbers derived from the spans of a traced run: each
    * layer's self time and the listener counters at its boundaries. */
  def spanLayers(ctx: Ctx): Unit = {
    val r = ctx.report
    val spans = ctx.tracer.all
    r.layer("trace.spans", "count", spans.size.toDouble)
    Tracer.selfSeconds(spans.map(s =>
      if (s.layer.startsWith("analytics.")) s.copy(name = "analytics") else s))
      .foreach { case (layer, s) => r.layer(s"self.${layer}_s", "s", s) }

    def perOp(names: Set[String]): Map[String, Double] = {
      val ss = spans.filter(s => names(s.name))
      if (ss.isEmpty) Map.empty
      else ss.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, v) => k -> v.toDouble / ss.size }
    }
    // the backlog drain (the first cron window) and the steady windows
    val drain = perOp(Set("cli:first_window"))
    Seq("ingest.addBatch_ms" -> "stream_addBatch_ms", "ingest.jobs" -> "jobs",
      "ingest.tasks" -> "tasks", "ingest.shuffle_write_bytes" -> "shuffle_write_bytes",
      "ingest.output_bytes" -> "output_bytes")
      .foreach { case (name, k) => drain.get(k).foreach(v => r.layer(name, unit(name), v)) }
    val window = perOp(Set("cli:RunIngest.run"))
    Seq("sources.latestOffset_ms" -> "stream_latestOffset_ms",
      "sources.getBatch_ms" -> "stream_getBatch_ms",
      "stream.walCommit_ms" -> "stream_walCommit_ms",
      "stream.commitOffsets_ms" -> "stream_commitOffsets_ms",
      "stream.queryPlanning_ms" -> "stream_queryPlanning_ms",
      "stream.triggerExecution_ms" -> "stream_triggerExecution_ms",
      "cli.addBatch_ms" -> "stream_addBatch_ms", "cli.jobs" -> "jobs")
      .foreach { case (name, k) => window.get(k).foreach(v => r.layer(name, unit(name), v)) }

    val compact = perOp(Set("compact:RunCompact.run"))
    compact.get("jobs").foreach(v => r.layer("compact.jobs", "count", v))

    val read = perOp(spans.filter(_.layer == "read").map(_.name).toSet)
    read.get("files_scanned").foreach(v => r.layer("read.files_scanned", "files", v))
    read.get("input_bytes").foreach(v => r.layer("read.bytes_read", "bytes", v))

    // one warm catalog pass
    val pass = perOp(Set("catalog:warm_pass"))
    Seq("catalog.jobs" -> "jobs", "catalog.tasks" -> "tasks",
      "catalog.shuffle_read_bytes" -> "shuffle_read_bytes",
      "catalog.shuffle_write_bytes" -> "shuffle_write_bytes",
      "catalog.spill_bytes" -> "spill_bytes",
      "stream.state_rows" -> "state_rows",
      "stream.state_memory_bytes" -> "state_memory_bytes",
      "stream.state_commit_ms" -> "state_commit_ms")
      .foreach { case (name, k) => pass.get(k).foreach(v => r.layer(name, unit(name), v)) }
    val cold = perOp(Set("catalog:cold_pass"))
    Seq("analysis", "optimization", "planning").foreach { ph =>
      cold.get(s"${ph}_us").foreach(v => r.layer(s"catalog.${ph}_s", "s", v / 1e6))
    }
  }

  private def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("bytes")) "bytes"
    else if (name.endsWith("_rows")) "rows"
    else "count"
}
