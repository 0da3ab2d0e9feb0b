package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Counts operations attempted and failed. A failed correctness check
  * counts as a failed operation, never as a fast success. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** end-to-end metric name -> (value, unit, samples) */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  /** per-layer metric name -> (value, unit) */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** Run one operation; an exception marks it failed and yields None. */
  def op[T](label: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)}"
        None
    }
  }

  /** A correctness check on the operation just run; outside timed regions. */
  def check(label: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) { failed += 1; failures += s"check $label failed $detail" }

  def e2e(name: String, unit: String, samples: Seq[Double])(stat: Seq[Double] => Double): Unit =
    if (samples.nonEmpty) endToEnd(name) = (stat(samples), unit, samples.size)

  def layer(name: String, unit: String, value: Double): Unit = layers(name) = (value, unit)

  /** Seconds since the run started at which each phase ended. */
  val timeline = mutable.LinkedHashMap.empty[String, Double]
}

/** One benchmark run: its arguments, scratch space and session. */
final class Ctx(
    val workload: String, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: Path, val data: Path, val cpus: Int) {
  val report = new Report
  var spark: SparkSession = _
  var counters: Option[Counters] = None
  val tracer = new Tracer(s"$workload-$seed",
    () => counters.filter(_ => traceOn).map { c => Counters.settle(spark); c.snapshot() }
      .getOrElse(Map.empty))
  /** A traced run alternates tracing on and off per timed operation, so
    * the two halves give the tracing overhead within one run. */
  private var traceOn = traced
  def setTracing(on: Boolean): Unit = if (traced && on != traceOn) {
    counters.foreach(c => if (on) c.attach(spark) else c.detach(spark))
    traceOn = on
  }
  def span[T](name: String)(body: => T): T =
    if (traceOn) tracer.span(name)(body) else body

  private val t0 = System.nanoTime()
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
  def mark(phase: String): Unit = report.timeline(phase) = elapsed

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Open a session over a fresh warehouse. Every run uses local[cpus],
    * one shuffle partition per core, UTC, and the program's extensions. */
  def openSession(warehouse: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", dir(warehouse).toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Set-up time: SparkSession creation plus the workload's one-time
    * set-up, done `reps` times (each in a fresh session and warehouse).
    * The last session stays open for the run. Reports `setup_s`, the
    * median, and `setup.cold_s`, the first set-up in the fresh JVM, which
    * is what a cron-started JVM pays. */
  def setup(reps: Int)(oneTime: SparkSession => Unit): Unit = {
    val secs = (0 until reps).map { r =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = openSession(s"warehouse-$r")
      spark.sparkContext.setLogLevel("ERROR")
      oneTime(spark)
      (System.nanoTime() - t0) / 1e9
    }
    report.e2e("setup_s", "s", secs)(Stats.median)
    report.layer("setup.cold_s", "s", secs.head)
  }

  var parSpinStart = 0.0
  /** Once the session is final: the start calibration probe, and the
    * listeners of a traced run. */
  def ready(): Unit = {
    Host.parSpinSeconds(spark) // the first call also JIT-compiles the kernel
    parSpinStart = Host.parSpinSeconds(spark)
    counters = Counters(spark, traced)
    mark("setup")
  }
}
