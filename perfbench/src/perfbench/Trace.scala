package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `pass` groups the spans of one pass; `parent` is the
  * enclosing span's id, or -1 for a pass's root.
  */
final case class Span(id: Int, pass: Int, name: String, parent: Int,
                      startNanos: Long, endNanos: Long) {
  def seconds: Double = (endNanos - startNanos) / 1e9
}

object Span {

  /** Duration minus the time covered by `children` (overlaps counted once,
    * parts outside the parent ignored).
    */
  def selfNanos(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNanos, parent.startNanos), math.min(c.endNanos, parent.endNanos)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (parent.endNanos - parent.startNanos) - covered
  }
}

/** Spans kept in memory for the whole run. While a span is open its id is
  * the only benchmark job tag on the calling thread, so every Spark job it
  * starts is attributed to it by [[TaskAttribution]].
  */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  @volatile var pass: Int = -1

  def spans: Seq[Span] = done.toSeq

  /** Wait until the listeners have seen every event posted so far. */
  def flush(): Unit = org.apache.spark.graftbench.BusFlush.flush(sc)

  /** Run `body` as traced pass `n` under a `pass` span. The listeners'
    * queue is drained on both sides, and outside this call `pass` is -1, so
    * events of untraced passes never count towards a traced one.
    */
  def inPass[A](n: Int)(body: => A): A = {
    flush()
    pass = n
    try span("pass")(body)
    finally {
      flush()
      pass = -1
    }
  }

  /** Run `body` under a `bench.` span with untagged jobs kept out of the
    * current pass (they go to pass -1), for the benchmark's own jobs.
    */
  def aside[A](name: String)(body: => A): A = {
    val current = pass
    flush()
    pass = -1
    try span(s"bench.$name")(body)
    finally {
      flush()
      pass = current
    }
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    open.headOption.foreach(p => sc.removeJobTag(Tracer.tag(p._1)))
    sc.addJobTag(Tracer.tag(id))
    open.push((id, name, System.nanoTime()))
    try body
    finally {
      val (_, _, start) = open.pop()
      done += Span(id, pass, name, open.headOption.map(_._1).getOrElse(-1), start, System.nanoTime())
      sc.removeJobTag(Tracer.tag(id))
      open.headOption.foreach(p => sc.addJobTag(Tracer.tag(p._1)))
    }
  }
}

object Tracer {
  val prefix = "perfbench-span-"
  def tag(id: Int): String = prefix + id
}

/** Task metrics summed for one span (or for the untagged jobs of a pass). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; input += o.input
  }
}

/** Spark listener that attributes jobs, stages and task metrics to the span
  * whose tag the job carries. A job with no benchmark tag is kept under the
  * key `-(pass + 2)` of the pass during which it started, never dropped.
  */
final class TaskAttribution(tracer: Tracer) extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, Int]()
  val work = new ConcurrentHashMap[Int, Work]()

  private def of(key: Int): Work = work.computeIfAbsent(key, _ => new Work)

  private def keyOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(',')).find(_.startsWith(Tracer.prefix))
      .map(_.stripPrefix(Tracer.prefix).toInt)
      .getOrElse(TaskAttribution.untagged(tracer.pass))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, key))
    val w = of(key)
    w.synchronized(w.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = of(stageKey.getOrDefault(e.stageInfo.stageId, TaskAttribution.untagged(tracer.pass)))
    w.synchronized(w.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val w = of(stageKey.getOrDefault(e.stageId, TaskAttribution.untagged(tracer.pass)))
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.diskBytesSpilled
        w.input += m.inputMetrics.bytesRead
      }
    }
  }
}

object TaskAttribution {
  def untagged(pass: Int): Int = -(pass + 2)
}

/** Micro-batch lifecycle totals from `StreamingQueryProgress.durationMs`,
  * per pass.
  */
final class StreamPhases(tracer: Tracer) extends StreamingQueryListener {
  val byPass = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val m = byPass.computeIfAbsent(tracer.pass, _ => mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m.synchronized {
      m("batches") += 1
      e.progress.durationMs.forEach((k, v) => m(k) += v.doubleValue / 1000.0)
    }
  }
}
