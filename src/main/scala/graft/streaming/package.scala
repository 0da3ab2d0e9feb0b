package graft

import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}

package object streaming {

  /** Run a streaming write to completion, the program's one
    * run-to-completion trigger: `Trigger.AvailableNow` processes
    * everything the source holds at start (in as many micro-batches as
    * its admission control asks for, plus the final no-data batch that
    * advances the watermark and flushes evictions), then the query ends.
    * A failure surfaces here as the query's exception, and the query is
    * stopped either way.
    *
    * Returns the drained query's progress, one entry per micro-batch in
    * order (`durationMs` phases, `stateOperators`, source offsets), read
    * after the stop. Spark keeps the last
    * `spark.sql.streaming.numRecentProgressUpdates` (default 100). */
  def drain(writer: DataStreamWriter[_]): Seq[StreamingQueryProgress] = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    q.recentProgress.toSeq
  }
}
