package graft

import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

package object streaming {

  /** Run a streaming write to completion, the program's one
    * run-to-completion trigger: `Trigger.AvailableNow` processes
    * everything the source holds at start (in as many micro-batches as
    * its admission control asks for, plus the final no-data batch that
    * advances the watermark and flushes evictions), then the query ends.
    * A failure surfaces here as the query's exception, and the query is
    * stopped either way. */
  def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
  }
}
