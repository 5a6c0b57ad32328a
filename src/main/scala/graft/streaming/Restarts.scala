package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import scala.util.control.NonFatal

/** Driver-side restart policies for streaming queries — the Spark
  * analog of the reference's
  * `env.setRestartStrategy(RestartStrategies.fixedDelayRestart/
  * failureRateRestart)` (reference CheckpointTest/CheckPointTest.scala:33-36).
  * Flink restarts the job graph from the last checkpoint; in Spark
  * the same contract is: rebuild + restart the query against the SAME
  * checkpointLocation, which resumes offsets and state exactly-once
  * (proved by CheckpointSpec). These helpers run that loop. */
object Restarts {

  /** Fixed-delay restart: rebuild+start the query via `start`, await
    * termination; on failure retry up to `maxRestarts` times with
    * `delayMs` between attempts. Returns the number of restarts used;
    * throws the last failure once attempts are exhausted. This is
    * [[failureRate]] with a window that never forgets a failure. */
  def fixedDelay(maxRestarts: Int, delayMs: Long)(start: () => StreamingQuery): Int =
    failureRate(maxRestarts, Long.MaxValue, delayMs)(start)

  /** Failure-rate restart: give up only if more than `maxFailures`
    * failures land inside a sliding `intervalMs` window (Flink's
    * failureRateRestart). */
  def failureRate(maxFailures: Int, intervalMs: Long, delayMs: Long)(
      start: () => StreamingQuery): Int = {
    var restarts = 0
    var failures = List.empty[Long]
    while (true) {
      try {
        // start() inside the try: a failure while rebuilding/starting
        // the query (checkpoint dir hiccup, source listing error) is
        // retried too, matching Flink's restart-from-checkpoint loop
        start().awaitTermination()
        return restarts
      } catch {
        case NonFatal(e) =>
          val now = System.nanoTime() / 1000000L
          failures = now :: failures.filter(now - _ <= intervalMs)
          if (failures.length > maxFailures) throw e
          restarts += 1
          Thread.sleep(delayMs)
      }
    }
    restarts
  }
}
