package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see `perfbench/run.py`). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      sfDir: String, warmDir: String, work: File, out: File,
                      expected: File, record: Boolean, benchmarkJson: File)

/** The repo benchmark: set up a workload several times, time one first
  * pass, then warm passes for `--seconds`, and print one JSON line — the
  * end-to-end metrics untraced, the per-layer metrics with `--trace 1`.
  */
object Main {

  val setupReps = 3
  val minPasses = 5
  val etlPages = 100
  val etlFeaturesPerPage = 1000
  val corpusFactor = 10

  val workloads: Seq[String] = Seq("etl_loopback", "corpus_x10", "suite_sf01")

  val corpusQueries: Seq[String] = Seq("d04_dedup_simhash", "t08_tfidf_topterms")

  val suiteQueries: Seq[String] = Seq("q03_join_agg_nation", "q30_grouping_sets",
    "s10_ivf_pq", "d04_dedup_simhash", "c05_cotrip_stream")

  /** The session settings `graft.Bench` runs with, pinned here and echoed
    * in the run's config line.
    */
  def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1048576",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.ui.enabled" -> "false")

  def cores: Int = Runtime.getRuntime.availableProcessors

  /** The metrics of an untraced run, with their units. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "features_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  /** A session whose warehouse, local and checkpoint directories are fresh
    * directories under `dir`.
    */
  def session(dir: File): SparkSession = {
    def sub(name: String) = { val d = new File(dir, name); d.mkdirs(); d.getAbsolutePath }
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.warehouse.dir", sub("warehouse"))
      .config("spark.local.dir", sub("local"))
      .config("spark.sql.streaming.checkpointLocation", sub("checkpoints"))
    val spark = sessionConf(cores).foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("sf-dir"), need("warm-dir"), new File(need("work-dir")),
      new File(need("out")), new File(need("expected")), m.get("record").contains("1"),
      new File(need("benchmark-json")))
    require(workloads.contains(a.workload) || a.workload == "selftest",
      s"unknown workload ${a.workload}; one of ${workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def loadExpected(f: File): Map[String, Map[String, (Long, String)]] =
    if (!f.isFile) Map.empty
    else new ObjectMapper().readTree(f).properties().asScala.map { w =>
      w.getKey -> w.getValue.properties().asScala.map { q =>
        q.getKey -> (q.getValue.get("rows").asLong, q.getValue.get("fingerprint").asText)
      }.toMap
    }.toMap

  def saveExpected(f: File, all: Map[String, Map[String, (Long, String)]]): Unit = {
    val text = all.toSeq.sortBy(_._1).map { case (w, qs) =>
      qs.toSeq.sortBy(_._1).map { case (q, (n, fp)) =>
        s"""    "$q": {"rows": $n, "fingerprint": "$fp"}"""
      }.mkString(s"""  "$w": {\n""", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(f.toPath, text)
  }

  def workload(a: Args): Workload = {
    val exp = loadExpected(a.expected)
    a.workload match {
      case "etl_loopback" => new EtlWorkload(a.seed, etlPages, etlFeaturesPerPage, cores)
      case "corpus_x10" => new QueryWorkload(corpusQueries, a.seed,
        exp.getOrElse(a.workload, Map.empty), QueryWorkload.scaled(a.sfDir, corpusFactor))
      case "suite_sf01" => new QueryWorkload(suiteQueries, a.seed,
        exp.getOrElse(a.workload, Map.empty), QueryWorkload.inPlace(a.sfDir))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Process high-water resident memory, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Warm shared machinery (parquet reader, codegen, shuffle) the way
    * `graft.Bench` does before it measures.
    */
  def warmUp(spark: SparkSession, warmDir: String): Unit =
    graft.SparkEntry.queries("q01_agg_pricing")(spark, warmDir).count()

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      if (a.workload == "selftest") SelfTest.run(a)
      else { run(a); 0 }
    sys.exit(code)
  }

  def run(a: Args): Unit = {
    val w = workload(a)
    var spark: SparkSession = null
    val setups = (0 until setupReps).map { i =>
      if (spark != null) spark.stop()
      val dir = new File(a.work, s"setup-$i")
      val (s, t) = Workload.time {
        val s = session(dir)
        warmUp(s, a.warmDir)
        w.setup(s, dir)
        s
      }
      spark = s
      t
    }
    var attempted = 0L
    var failed = 0L
    def count(r: PassResult): PassResult = {
      attempted += r.attempted
      failed += r.failed
      r
    }
    val first = count(w.pass(spark, None))
    if (a.record) {
      saveExpected(a.expected, loadExpected(a.expected) + (a.workload -> w.lastFingerprints))
      Workload.log(s"recorded ${w.lastFingerprints.size} fingerprints for ${a.workload}")
    }

    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val attribution = tracer.map(new TaskAttribution(_))
    val phases = tracer.map(new StreamPhases(_))
    attribution.foreach(spark.sparkContext.addSparkListener)
    phases.foreach(spark.streams.addListener)

    val plain = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[(Int, PassResult)]
    val start = System.nanoTime()
    var n = 0
    def enough = (System.nanoTime() - start) / 1e9 >= a.seconds &&
      plain.size >= (if (a.trace) 2 else minPasses) && (!a.trace || traced.size >= 2)
    while (!enough) {
      tracer match {
        case Some(t) if n % 2 == 0 => traced += n -> count(t.inPass(n)(w.pass(spark, tracer)))
        case _ => plain += count(w.pass(spark, None))
      }
      n += 1
    }
    w.close()

    val values: Map[String, Double] = tracer match {
      case None => Map(
        "setup_s" -> median(setups),
        "pass_s" -> median(plain.map(_.wall).toSeq),
        "features_per_s" -> median(plain.map(r => r.outputs / r.wall).toSeq),
        "peak_rss_mb" -> peakRssMb())
      case Some(t) =>
        val perPass = traced.toSeq.map { case (p, r) =>
          Layers.pass(p, r, t.spans, attribution.get, phases.get, cores)
        }
        Layers.names.map { case (name, _) =>
          name -> median(perPass.map(_.getOrElse(name, 0.0)))
        }.toMap ++ Map("bench.first_pass_s" -> first.wall, "bench.trace_overhead" ->
          median(traced.map(_._2.wall).toSeq) / median(plain.map(_.wall).toSeq))
    }
    val metrics = (if (a.trace) Layers.printed else endToEnd).map { case (k, u) =>
      (k, values(k), u)
    }
    tracer.foreach(t => Layers.writeTrace(new File(a.out, s"trace-${a.workload}-seed${a.seed}.json"),
      t.spans, attribution.get))
    spark.stop()

    val conf = (sessionConf(cores) ++ Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "master" -> s"local[$cores]", "nproc" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "setup_reps" -> setupReps.toString,
      "setup_s_all" -> setups.map(num).mkString(" "),
      "pass_s_all" -> plain.map(r => num(r.wall)).mkString(" "),
      "traced_pass_s_all" -> traced.map(r => num(r._2.wall)).mkString(" "),
      "pass_samples" -> plain.size.toString,
      "error_rate" -> num(failed.toDouble / math.max(1L, attempted))))
      .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    println(s"""{"perfbench_config":$conf}""")
    val ms = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
  }
}
