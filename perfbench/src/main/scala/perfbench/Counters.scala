package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's public listener counters, summed since registration. Only a
  * traced run registers them; `snapshot` is what spans record at their
  * boundaries. Times are kept in microseconds or milliseconds, as named. */
final class Counters private () extends AdaptiveSparkPlanHelper {
  private val m = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  def snapshot(): Map[String, Long] =
    m.asScala.map { case (k, v) => k -> v.get }.toMap +
      ("codegen_compile_us" -> CodeGenerator.compileTime / 1000)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val tm = e.taskMetrics
      if (tm != null) {
        add("shuffle_write_bytes", tm.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", tm.shuffleReadMetrics.totalBytesRead)
        add("spill_bytes", tm.memoryBytesSpilled + tm.diskBytesSpilled)
        add("output_bytes", tm.outputMetrics.bytesWritten)
        add("input_bytes", tm.inputMetrics.bytesRead)
      }
    }
  }

  private val phases = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"${phase}_us", (p.endTimeMs - p.startTimeMs) * 1000)
      }
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        s.metrics.get("numFiles").foreach(mt => add("files_scanned", mt.value))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val progress = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("batches", 1)
      p.durationMs.asScala.foreach { case (k, v) => add(s"stream_${k}_ms", v.longValue) }
      p.stateOperators.foreach { s =>
        add("state_rows", s.numRowsTotal)
        add("state_memory_bytes", s.memoryUsedBytes)
        add("state_commit_ms", s.commitTimeMs)
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(phases)
    spark.streams.addListener(progress)
  }

  def detach(spark: SparkSession): Unit = {
    Counters.settle(spark)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(phases)
    spark.streams.removeListener(progress)
  }
}

object Counters {
  /** Listeners attached to `spark` when `enabled` (a traced run). */
  def apply(spark: SparkSession, enabled: Boolean): Option[Counters] =
    Option.when(enabled) { val c = new Counters(); c.attach(spark); c }

  /** Listener events arrive asynchronously; wait for them to be delivered
    * before reading counters that a finished job or stream produced. */
  def settle(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
}
