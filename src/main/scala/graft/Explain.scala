package graft

/** Plan-audit tool: print `explain("formatted")` for the named queries
  * (default: every registry query) against an sf dir. Usage:
  *   runMain graft.Explain [sfDir] [queryName ...]
  * Queries that run a stream inside their builder run it here too. For
  * the plan without AQE or broadcast joins, add
  * `-Dspark.sql.adaptive.enabled=false -Dspark.sql.autoBroadcastJoinThreshold=-1`. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else analytics.Registry.all.map(_.name).sorted
    val spark = Session("graft-explain", Session.scratchWarehouse("graft-explain-wh"))
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
