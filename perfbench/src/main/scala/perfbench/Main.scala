package perfbench

import java.nio.file.{Files, Paths}

/** Runs one workload and writes its record as JSON to `--out`.
  *
  * Usage: perfbench.Main --workload <cron_windows|catalog_sample>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> --out <file>
  *
  * `perfbench/run.py` builds the classes, runs this, adds the DuckDB oracle
  * check for catalog results, and prints the benchmark's result line. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "cron_windows" -> CronWindows.run,
    "catalog_sample" -> CatalogSample.run,
    // not a benchmark workload: measures the rate the window loop sustains
    "cron_capacity" -> CronWindows.capacity)

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val run = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val ctx = new Ctx(name, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      Paths.get(a("work")), Paths.get(a("data")), Runtime.getRuntime.availableProcessors)
    val r = ctx.report
    val steal0 = Host.stealSeconds()
    val error = try { run(ctx); None } catch { case e: Throwable => Some(e) }
    error.foreach { e =>
      r.failed += 1
      r.failures += s"workload aborted: $e"
      e.printStackTrace()
    }
    val steal = Host.stealSeconds() - steal0
    val calib = Seq(
      "host.steal_s" -> steal,
      // the share of the run's CPU capacity the hypervisor took
      "host.steal_share" -> steal / (ctx.elapsed * ctx.cpus),
      "host.loadavg_1m" -> Host.loadAvg1m(),
      "host.par_spin_start_s" -> ctx.parSpinStart,
      "host.par_spin_end_s" -> (if (ctx.spark == null) 0.0 else Host.parSpinSeconds(ctx.spark)),
      "jvm.gc_s" -> Host.gcSeconds(),
      "jvm.peak_rss_mb" -> Host.peakRssMb(),
      "spark.codegen_compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
    if (ctx.traced && ctx.spark != null) {
      Common.spanLayers(ctx)
      Files.writeString(Paths.get(a("out") + ".spans.json"), Tracer.toJson(ctx.tracer.all))
    }
    ctx.mark("end")
    if (ctx.spark != null) ctx.spark.stop()

    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def js(s: String) = Json.str(s)
    val e2e = r.endToEnd.map { case (k, (v, u, n)) =>
      s"""${js(k)}:{"value":${num(v)},"unit":${js(u)},"samples":$n}"""
    }.mkString("{", ",", "}")
    val layers = r.layers.map { case (k, (v, u)) =>
      s"""${js(k)}:{"value":${num(v)},"unit":${js(u)}}"""
    }.mkString("{", ",", "}")
    val cal = calib.map { case (k, v) => s"${js(k)}:${num(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(a("out")),
      s"""{"workload":${js(name)},"seed":${ctx.seed},"traced":${ctx.traced},""" +
        s""""attempted":${r.attempted},"failed":${math.min(r.failed, math.max(r.attempted, 1L))},""" +
        s""""end_to_end":$e2e,"per_layer":$layers,"calibration":$cal,""" +
        s""""timeline_s":${r.timeline.map { case (k, v) => s"${js(k)}:${num(v)}" }.mkString("{", ",", "}")},""" +
        s""""failures":${r.failures.take(20).map(js).mkString("[", ",", "]")}}""" + "\n")
    // non-daemon threads of a stopped session must not keep the JVM alive
    sys.exit(0)
  }
}

object Json {
  /** A JSON string literal: quotes, backslashes and control characters escaped. */
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
