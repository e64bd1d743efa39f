package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The profiler: per-interval accounting of Spark activity — shuffle bytes
  * moved, bytes spilled, tasks launched and stages completed (all
  * load-INDEPENDENT, VERDICT r6 Next #2), executor run/CPU time, and the
  * driver's analysis/optimization/planning time per completed query.
  *
  * Wall time on a contended host measures the HOST, not the plan — r5/r6
  * both produced official bench artifacts whose times were 10–20× inflated
  * by machine load. The byte, task and stage counters are invariant under
  * load: a plan regression (a new exchange, a lost broadcast, a lost
  * pushdown) changes them on ANY host, thrashed or idle, so the bench
  * artifact carries them per rep alongside wall time. `WorkMetricsSpec`
  * proves the property by A/B-ing a broadcast join against the same join
  * with broadcast disabled and asserting on the shuffle-bytes delta while
  * ignoring wall time entirely. The time counters are NOT load-proof; they
  * split a rep's wall into executor work vs driver planning.
  *
  * Every counter is a cumulative sum for the listener's lifetime; callers
  * take [[snapshot]] deltas around the interval of interest. Driver phases
  * arrive through the session's [[QueryExecutionListener]] hook, delivered
  * on the same listener bus as task ends, so `snapshot` drains the bus
  * first (see [[org.apache.spark.graftbench.BusFlush]]) and a snapshot
  * taken after an action has completed includes all of that action's task
  * ends and its query's phases. Register with [[WorkMetricsListener.attach]].
  */
final class WorkMetricsListener extends SparkListener with QueryExecutionListener {
  private val shuffleRead = new AtomicLong(0L)
  private val shuffleWrite = new AtomicLong(0L)
  private val spillMem = new AtomicLong(0L)
  private val spillDisk = new AtomicLong(0L)
  private val taskCount = new AtomicLong(0L)
  private val stageCount = new AtomicLong(0L)
  private val runMs = new AtomicLong(0L)
  private val cpuNs = new AtomicLong(0L)
  private val phaseMs: Map[String, AtomicLong] =
    WorkSnapshot.DriverPhases.map(_ -> new AtomicLong(0L)).toMap

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      taskCount.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      ()
    }
  }

  override def onStageCompleted(stage: SparkListenerStageCompleted): Unit = {
    stageCount.incrementAndGet()
    ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = addPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = addPhases(qe)

  private def addPhases(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, summary) =>
      phaseMs.get(name).foreach(_.addAndGet(summary.durationMs))
    }

  /** Drain the listener bus, then read the cumulative counters. */
  def snapshot(sc: SparkContext): WorkSnapshot = {
    org.apache.spark.graftbench.BusFlush.flush(sc)
    WorkSnapshot(shuffleRead.get(), shuffleWrite.get(),
      spillMem.get(), spillDisk.get(), taskCount.get(), stageCount.get(),
      runMs.get(), cpuNs.get() / 1000000L,
      phaseMs.view.mapValues(_.get()).toMap)
  }

  /** Stop counting: the inverse of [[WorkMetricsListener.attach]]. */
  def detach(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }
}

object WorkMetricsListener {
  /** A fresh listener counting `spark`'s tasks and stages (context-wide)
    * and its queries' driver phases (this session's query executions).
    */
  def attach(spark: SparkSession): WorkMetricsListener = {
    val l = new WorkMetricsListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Cumulative counter values; subtract two to get an interval's work.
  * `driverPhasesMs` is keyed by [[WorkSnapshot.DriverPhases]].
  */
final case class WorkSnapshot(shuffleReadBytes: Long, shuffleWriteBytes: Long,
                              spillMemBytes: Long, spillDiskBytes: Long,
                              tasks: Long, stages: Long,
                              executorRunMs: Long, executorCpuMs: Long,
                              driverPhasesMs: Map[String, Long]) {
  def -(prev: WorkSnapshot): WorkSnapshot = WorkSnapshot(
    shuffleReadBytes - prev.shuffleReadBytes,
    shuffleWriteBytes - prev.shuffleWriteBytes,
    spillMemBytes - prev.spillMemBytes,
    spillDiskBytes - prev.spillDiskBytes,
    tasks - prev.tasks,
    stages - prev.stages,
    executorRunMs - prev.executorRunMs,
    executorCpuMs - prev.executorCpuMs,
    driverPhasesMs.map { case (k, v) => k -> (v - prev.driverPhasesMs.getOrElse(k, 0L)) })
}

object WorkSnapshot {
  /** The driver phases a query execution's planning tracker times. */
  val DriverPhases: Seq[String] = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  /** No work: the delta of an idle interval. */
  val zero: WorkSnapshot =
    WorkSnapshot(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, DriverPhases.map(_ -> 0L).toMap)
}
