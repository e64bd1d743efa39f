package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's own checks, run with `python3 perfbench/run.py
  * --selftest`: generator determinism, span self-time arithmetic, that the
  * printed metric names are the declared ones, and that load-independent
  * counts repeat exactly across two warm traced passes with an untraced
  * pass between them.
  */
object SelfTest {

  /** Counts seen to differ between two warm passes on the same inputs,
    * with the reason; reported, not failed.
    */
  val knownVariable: Map[String, String] = Map(
    "corpus_x10/engine.shuffle_write_mb" -> shuffleBytes,
    "corpus_x10/engine.shuffle_read_mb" -> shuffleBytes)

  private def shuffleBytes = "compressed shuffle blocks vary by tens of bytes in " +
    "about 29 MB between warm passes; row and task counts repeat"

  /** Per-layer counts that must not depend on load. */
  val counts: Seq[String] = Seq("engine.jobs", "engine.untagged_jobs", "engine.stages",
    "engine.tasks", "engine.shuffle_write_mb", "engine.shuffle_read_mb", "engine.spill_mb",
    "queries.eager_jobs", "streaming.batches", "sources.gets", "sinks.posts",
    "operators.rows_in", "operators.rows_exploded", "operators.rows_out") ++
    PageGen.droppableTypes.map(t => s"operators.rows_dropped.$t")

  private var failures = 0

  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def generatorIsDeterministic(): Unit = {
    val a = PageGen.generate(7, 12, 40)
    val b = PageGen.generate(7, 12, 40)
    val c = PageGen.generate(8, 12, 40)
    check("generator: same seed gives the same bytes",
      a.bodies.zip(b.bodies).forall { case (x, y) => java.util.Arrays.equals(x, y) } &&
        a.tokens.sameElements(b.tokens) && a.expected == b.expected)
    check("generator: another seed gives other bytes",
      !a.bodies.zip(c.bodies).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    val e = a.expected
    check("generator: every droppable type occurs and is dropped",
      PageGen.droppableTypes.forall(t => e.droppedByType(t) > 0), e.droppedByType.toString)
    check("generator: rows out = sum of rows per type",
      e.rowsOut == e.outByType.values.sum && e.rowsOut > 0)
  }

  def selfTimeArithmetic(): Unit = {
    def s(id: Int, parent: Int, a: Long, b: Long) = Span(id, 0, s"s$id", parent, a, b)
    val p = s(0, -1, 0, 100)
    check("self time: no children = duration", Span.selfNanos(p, Nil) == 100)
    // [10,30] ∪ [20,50] = 40, [60,70] = 10, [90,120] clipped to 10
    val kids = Seq(s(1, 0, 10, 30), s(2, 0, 20, 50), s(3, 0, 60, 70), s(4, 0, 90, 120))
    check("self time: overlapping and overhanging children",
      Span.selfNanos(p, kids) == 40, Span.selfNanos(p, kids).toString)
    check("self time: a child covering the parent leaves 0",
      Span.selfNanos(p, Seq(s(1, 0, -5, 105))) == 0)
    check("self time: children outside the parent are ignored",
      Span.selfNanos(p, Seq(s(1, 0, 100, 140), s(2, 0, -40, 0))) == 100)
  }

  /** The metric names and units a run prints equal those BENCHMARK.json
    * declares, and a workload's own per-layer numbers all have a name there.
    */
  def namesMatch(benchmarkJson: File): Unit = {
    val b = new ObjectMapper().readTree(benchmarkJson)
    def declared(key: String) = b.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    check("names: end-to-end metrics printed = BENCHMARK.json end_to_end",
      Main.endToEnd == declared("end_to_end"), s"${Main.endToEnd} vs ${declared("end_to_end")}")
    check("names: per-layer metrics printed = BENCHMARK.json per_layer",
      Layers.printed == declared("per_layer"), s"${Layers.printed} vs ${declared("per_layer")}")
  }

  /** A traced, an untraced and a traced warm pass of `workload`: every
    * count must repeat between the two traced passes, so nothing of the
    * untraced pass between them leaks into either.
    */
  def countsRepeat(a: Args, workload: String): Unit = {
    val args = a.copy(workload = workload)
    val w = Main.workload(args)
    val dir = new File(a.work, s"selftest-$workload")
    val spark = Main.session(dir)
    try {
      Main.warmUp(spark, a.warmDir)
      w.setup(spark, dir)
      w.pass(spark, None)
      val tracer = new Tracer(spark.sparkContext)
      val work = new TaskAttribution(tracer)
      val phases = new StreamPhases(tracer)
      spark.sparkContext.addSparkListener(work)
      spark.streams.addListener(phases)
      val results = Seq(0, 2).map { p =>
        if (p > 0)
          check(s"$workload: untraced pass output correct", w.pass(spark, None).failed == 0)
        val r = tracer.inPass(p)(w.pass(spark, Some(tracer)))
        check(s"$workload: traced pass $p output correct", r.failed == 0)
        val unnamed = r.layers.keySet -- Layers.names.map(_._1)
        check(s"$workload: every layer number has a declared name", unnamed.isEmpty,
          unnamed.mkString(", "))
        p -> r
      }
      // totals taken after all passes, as a run takes them: work of the
      // untraced pass counted towards pass 0 would show as a difference
      tracer.flush()
      val passes = results.map { case (p, r) =>
        Layers.pass(p, r, tracer.spans, work, phases, Main.cores)
      }
      counts.foreach { c =>
        val (x, y) = (passes(0).getOrElse(c, 0.0), passes(1).getOrElse(c, 0.0))
        knownVariable.get(s"$workload/$c") match {
          case Some(why) => println(s"note $workload/$c: $x vs $y ($why)")
          case None => check(s"$workload: $c repeats ($x)", x == y, s"$x vs $y")
        }
      }
      // per query: tasks of each query's spans, to name a moving count
      val perQuery = tracer.spans.filter(s => s.parent >= 0 &&
          tracer.spans.exists(p => p.id == s.parent && p.name == "pass"))
        .groupBy(_.name).filter(_._2.size == 2)
      perQuery.toSeq.sortBy(_._1).foreach { case (q, Seq(s0, s1)) =>
        def tasks(root: Span) = {
          val ids = descendants(tracer.spans, root.id) + root.id
          ids.toSeq.flatMap(id => Option(work.work.get(id))).map(_.tasks).sum
        }
        val (t0, t1) = (tasks(s0), tasks(s1))
        if (t0 != t1) println(s"note $workload/$q tasks: $t0 vs $t1")
      }
    } finally {
      w.close()
      spark.stop()
    }
  }

  private def descendants(spans: Seq[Span], id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id).toSet
    kids ++ kids.flatMap(descendants(spans, _))
  }

  def run(a: Args): Int = {
    generatorIsDeterministic()
    selfTimeArithmetic()
    namesMatch(a.benchmarkJson)
    Main.workloads.foreach(countsRepeat(a, _))
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
