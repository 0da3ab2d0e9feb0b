package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Reads the project's Scala sources, for checks that pin a mechanism to
  * the one place that defines it. Paths are relative to the project
  * root, which is the working directory of the forked test JVM. */
object SourceScan {

  /** Every `.scala` file under `root`, with its lines. */
  def files(root: String): Seq[(Path, IndexedSeq[String])] = {
    val st = Files.walk(Paths.get(root))
    val paths =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally st.close()
    paths.map(p => p -> Files.readAllLines(p).asScala.toIndexedSeq)
  }
}
