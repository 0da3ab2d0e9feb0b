package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object JobCount {

  /** `body`'s result and the number of jobs it started. Listener events
    * arrive asynchronously but in order, so the count is complete once a
    * marker job submitted after `body` has been seen. */
  def jobsIn[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    @volatile var done = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.marker") == marker) done = true
        else if (!done) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty("graft.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.marker", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!done && System.nanoTime() < deadline) Thread.sleep(10)
      assert(done, "the marker job was not seen within 30 s")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
