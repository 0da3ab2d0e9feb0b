package graft

/** Runs a main class in a FORKED JVM on this JVM's classpath, for checks
  * that need a fresh process: static confs the shared test session has
  * already fixed, or a main that must start its own session. */
object ForkedJvm {

  /** Exit code and combined stdout/stderr of `mainClass args`. */
  def run(mainClass: String, jvmArgs: Seq[String], args: Seq[String]): (Int, String) = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    // Spark 4 on Java 17 needs the exact module opens sbt forked THIS
    // JVM with — pass the current JVM's --add-opens straight through
    // instead of maintaining a second copy of build.sbt's list
    import scala.jdk.CollectionConverters._
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    // accept both the combined --add-opens=pkg form and the split
    // ("--add-opens", "pkg") pair form, whichever the launcher used
    val opens = raw.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case (a, i) if a == "--add-opens" && i + 1 < raw.length =>
        Seq(s"--add-opens=${raw(i + 1)}")
      case _ => Nil
    }
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path")) ++
      opens ++ Seq(mainClass) ++ args
    val out = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    scala.io.Source.fromInputStream(proc.getInputStream)
      .getLines().foreach(l => out.append(l).append('\n'))
    (proc.waitFor(), out.toString)
  }

  /** The last lines of a forked run's output, for a failure clue. */
  def tail(out: String): String = out.linesIterator.toSeq.takeRight(30).mkString("\n")
}
