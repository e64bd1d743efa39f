package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Synchronous micro-batch accounting for bench telemetry.
  *
  * ADVICE r6: the previous count came from a `StreamingQueryListener`, whose
  * progress events are delivered asynchronously on the listener bus — a
  * rep's last events could land after the rep's delta was read and get
  * attributed to the next rep or next query. This counter is bumped by
  * [[EventsStream.runAvailableNow]] ITSELF, from the terminated query's own
  * `recentProgress` history, before the call returns — so a caller that
  * takes a delta around a synchronous query run sees exactly that run's
  * batches, with no async window. (`recentProgress` retains the last 100
  * progress updates by default; AvailableNow snapshot runs commit 2–5
  * micro-batches, far under the cap.)
  *
  * [[streamPhaseSnapshot]] splits the same runs' time by micro-batch phase, summed
  * from the same progress history: the per-batch commit floor (SCALE.md)
  * shows up as `walCommit`/`latestOffset`/`queryPlanning` against the data
  * work in `addBatch`.
  */
object StreamTelemetry {
  /** Total micro-batches committed by completed [[EventsStream.runAvailableNow]]
    * invocations in this JVM; read-delta around a query run for its count.
    */
  val microBatchesCompleted = new AtomicLong(0L)

  /** The micro-batch phases [[streamPhaseSnapshot]] sums, named as in
    * `StreamingQueryProgress.durationMs`.
    */
  val StreamPhases: Seq[String] =
    Seq("latestOffset", "queryPlanning", "addBatch", "walCommit")

  private val streamPhaseMs: Map[String, AtomicLong] =
    StreamPhases.map(_ -> new AtomicLong(0L)).toMap

  /** Add `progress`'s per-phase durations to the totals. */
  private[streaming] def addPhases(progress: Seq[StreamingQueryProgress]): Unit =
    for (p <- progress; (phase, total) <- streamPhaseMs)
      total.addAndGet(p.durationMs.getOrDefault(phase, 0L))

  /** Total ms per phase over every progress entry of completed
    * [[EventsStream.runAvailableNow]] invocations in this JVM; read-delta
    * around a query run like [[microBatchesCompleted]].
    */
  def streamPhaseSnapshot(): Map[String, Long] =
    streamPhaseMs.view.mapValues(_.get()).toMap
}
