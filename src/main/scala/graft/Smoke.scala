package graft

/** Local smoke runner: exercises SparkEntry.entry (the driver's t1 gate). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session("graft-smoke", Session.scratchWarehouse("graft-wh"))
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(50, truncate = false)
    println(s"[smoke] entry rows = ${df.count()}")
    spark.stop()
  }
}
