package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.SparkSession

/** Host and JVM calibration. These numbers move with the machine, never
  * with the program, so a judge can tell host noise from a code change
  * without re-running. */
object Host {

  private def read(p: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).toOption

  /** Cumulative CPU steal seconds over all CPUs, from /proc/stat (the 8th
    * field of the aggregate `cpu` line, in USER_HZ = 1/100 s). */
  def stealSeconds(): Double = read("/proc/stat").flatMap { s =>
    s.linesIterator.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }
  }.getOrElse(0.0)

  def loadAvg1m(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(0.0)

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
  }.getOrElse(0.0)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** Fixed parallel spin: one xorshift task per core of the local[N]
    * stage. Its wall time is a host property; contention for the cores
    * inflates it the same way it inflates every stage of the program. */
  def parSpinSeconds(spark: SparkSession): Double = {
    val n = spark.sparkContext.defaultParallelism
    val t0 = System.nanoTime()
    val r = spark.sparkContext.parallelize(1 to n, n).map { i =>
      var x = 0x9E3779B97F4A7C15L + i
      var j = 0
      while (j < 60000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; j += 1 }
      x
    }.reduce(_ + _)
    val dt = (System.nanoTime() - t0) / 1e9
    // the sum keeps the loop live; it is never this constant
    if (r == 42L) -1.0 else dt
  }
}
