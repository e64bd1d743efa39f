package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass, from its spans, the task metrics
  * attributed to them, the stream progress events and the workload's own
  * numbers.
  */
object Layers {

  private val etl: Seq[(String, String)] = Seq(
    "sources.discovery_s" -> "s", "sources.driver_fetch_s" -> "s", "sources.scan_s" -> "s",
    "sources.gets" -> "count", "sources.pages_per_get" -> "ratio",
    "sources.conns_per_get" -> "ratio", "sources.bytes_in_mb" -> "MB",
    "operators.transform_s" -> "s", "operators.rows_in" -> "count",
    "operators.rows_exploded" -> "count", "operators.rows_out" -> "count") ++
    PageGen.droppableTypes.map(t => s"operators.rows_dropped.$t" -> "count") ++ Seq(
    "sinks.fc_s" -> "s", "sinks.post_s" -> "s", "sinks.posts" -> "count",
    "sinks.rows_per_post" -> "ratio", "sinks.conns_per_post" -> "ratio",
    "sinks.bytes_out_mb" -> "MB", "sinks.non2xx" -> "count",
    "peer.busy_s" -> "s", "peer.busy_share" -> "ratio")

  private val engine: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.eager_jobs" -> "count",
    "engine.plan_s" -> "s", "engine.exec_s" -> "s", "engine.jobs" -> "count",
    "engine.untagged_jobs" -> "count", "engine.stages" -> "count",
    "engine.tasks" -> "count", "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s", "engine.core_util" -> "ratio",
    "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB",
    "engine.spill_mb" -> "MB", "engine.input_mb" -> "MB")

  /** Stream progress `durationMs` keys behind the streaming metrics. */
  private val streamKeys: Seq[(String, String)] = Seq(
    "streaming.batches" -> "batches",
    "streaming.latest_offset_s" -> "latestOffset",
    "streaming.query_planning_s" -> "queryPlanning",
    "streaming.add_batch_s" -> "addBatch",
    "streaming.wal_commit_s" -> "walCommit",
    "streaming.trigger_s" -> "triggerExecution")

  /** The per-layer metrics computed for each traced pass, with their units. */
  val names: Seq[(String, String)] = etl ++ engine ++
    streamKeys.map { case (n, _) => n -> (if (n == "streaming.batches") "count" else "s") }

  /** The metrics of a traced run: [[names]] and two whole-run numbers. */
  val printed: Seq[(String, String)] = names ++ Seq(
    "bench.first_pass_s" -> "s", "bench.trace_overhead" -> "ratio")

  /** Spans whose jobs are the engine's execution of a layer boundary. */
  private val execSpans = Set("engine.exec", "sources.parse", "sources.scan",
    "operators.transform", "sinks.fc", "sinks.post")

  def pass(p: Int, r: PassResult, spans: Seq[Span], work: TaskAttribution,
           phases: StreamPhases, cores: Int): Map[String, Double] = {
    val mine = spans.filter(_.pass == p)
    val byId = mine.map(s => s.id -> s).toMap
    // the benchmark's own bookkeeping spans and everything under them
    def bookkeeping(s: Span): Boolean =
      s.name.startsWith("bench.") || byId.get(s.parent).exists(bookkeeping)
    val counted = mine.filterNot(bookkeeping)
    val total = new Work
    (counted.map(_.id) :+ TaskAttribution.untagged(p))
      .flatMap(id => Option(work.work.get(id))).foreach(total.add)
    def secs(name: String) = counted.filter(_.name == name).map(_.seconds).sum
    def jobs(name: String) = counted.filter(_.name == name)
      .flatMap(s => Option(work.work.get(s.id))).map(_.jobs).sum
    val exec = counted.filter(s => execSpans(s.name)).map(_.seconds).sum
    val mb = 1024.0 * 1024.0
    val stream = Option(phases.byPass.get(p)).map(_.toMap).getOrElse(Map.empty[String, Double])
    r.layers ++ Map(
      "queries.build_s" -> secs("queries.build"),
      "queries.eager_jobs" -> jobs("queries.build").toDouble,
      "engine.plan_s" -> secs("engine.plan"),
      "engine.exec_s" -> exec,
      "engine.jobs" -> total.jobs.toDouble,
      "engine.untagged_jobs" -> Option(work.work.get(TaskAttribution.untagged(p)))
        .map(_.jobs.toDouble).getOrElse(0.0),
      "engine.stages" -> total.stages.toDouble,
      "engine.tasks" -> total.tasks.toDouble,
      "engine.task_run_s" -> total.runMs / 1e3,
      "engine.task_cpu_s" -> total.cpuNs / 1e9,
      "engine.gc_s" -> total.gcMs / 1e3,
      "engine.core_util" -> (if (exec > 0) total.runMs / 1e3 / (exec * cores) else 0.0),
      "engine.shuffle_write_mb" -> total.shuffleWrite / mb,
      "engine.shuffle_read_mb" -> total.shuffleRead / mb,
      "engine.spill_mb" -> total.spill / mb,
      "engine.input_mb" -> total.input / mb) ++
      streamKeys.map { case (n, k) => n -> stream.getOrElse(k, 0.0) }
  }

  /** All spans with their self time and attributed task metrics, as JSON. */
  def writeTrace(f: File, spans: Seq[Span], work: TaskAttribution): Unit = {
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val w = Option(work.work.get(s.id)).getOrElse(new Work)
      val self = Span.selfNanos(s, children.getOrElse(s.id, Nil)) / 1e9
      s"""{"id":${s.id},"pass":${s.pass},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNanos},"end_ns":${s.endNanos},"self_s":$self,""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_run_ms":${w.runMs},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},"shuffle_read_bytes":${w.shuffleRead}}"""
    }
    val untagged = work.work.asScala.toSeq.filter(_._1 < 0).sortBy(-_._1).map { case (k, w) =>
      s"""{"pass":${-k - 2},"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks}}"""
    }
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath,
      lines.mkString("{\"spans\":[\n", ",\n", "\n],\n") +
        untagged.mkString("\"untagged\":[", ",", "]}\n"))
  }
}
