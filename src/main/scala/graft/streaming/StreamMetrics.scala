package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Operator-vs-harness cost split for the streaming benchmark records:
  * a `q_stream_*` SparkEntry query's wall time is dominated by the replay
  * harness `PipelineQueries.replayStream` (temp-dir setup, file-source
  * listing, `processAllAvailable` polling, memory-sink collect) — ~14 s of
  * a 64 s round-5 suite — while the OPERATOR cost is the micro-batch
  * processing time Structured Streaming itself reports. The harness
  * records the sum of each query's `triggerExecution` durations here just
  * before `stop()`, and Bench publishes it per query alongside the wall
  * number, with the budget gate tracking the operator number (the thing
  * a regression would move — harness cost is constant-per-invocation and
  * scale-free).
  */
object StreamMetrics {

  @volatile var lastOpSeconds: Double = -1.0

  /** Sum the completed micro-batches' `triggerExecution` durations (ms)
    * from the query's progress ring. Call after the final
    * `processAllAvailable()`, before `stop()` — stopping clears nothing,
    * but recording before the last batch would undercount.
    */
  def record(q: StreamingQuery): Unit =
    lastOpSeconds = q.recentProgress.iterator.map { p =>
      val d = p.durationMs.get("triggerExecution")
      if (d == null) 0L else d.longValue()
    }.sum / 1000.0
}
