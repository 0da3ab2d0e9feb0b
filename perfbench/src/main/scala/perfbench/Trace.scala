package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the enclosing span
  * (-1 at top level); `counters` holds the listener counter deltas over
  * the span. All spans of one benchmark run share `run`. */
final case class Span(
    id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    run: String, counters: Map[String, Long]) {
  /** The layer a span belongs to: its name up to the first ':' */
  def layer: String = name.takeWhile(_ != ':')
}

/** In-memory span recorder for the benchmark's own code. Spans are
  * recorded around every call into a program layer, on the calling
  * thread; nothing is written until the run ends. */
final class Tracer(run: String, counters: () => Map[String, Long]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = counters()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val after = counters()
      stack = stack.tail
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
      synchronized { spans += Span(id, name, parent, t0, t1, run, delta) }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Tracer {

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its direct children (overlapping children count
    * once), summed over the spans of the layer. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (a, b) =>
          if (a > curB) {
            if (curB > curA) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    val cs = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"run":"${s.run}","counters":$cs}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
