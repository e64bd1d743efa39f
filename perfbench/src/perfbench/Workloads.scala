package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CotripPipeline, ScaledCorpus, SparkEntry}
import graft.operators.CotripOps
import graft.sinks.FeatureCollectionSink
import graft.sources.{CotripSource, HttpPageClient}

/** Outcome of one pass. `wall` excludes the benchmark's own output checks;
  * `layers` holds the pass's per-layer numbers (traced passes only).
  */
final case class PassResult(wall: Double, attempted: Int, failed: Int,
                            outputs: Long, layers: Map[String, Double] = Map.empty)

/** One workload: fresh inputs per set-up, then passes over them. A pass
  * runs untraced when `tracer` is None.
  */
trait Workload {
  def setup(spark: SparkSession, dir: java.io.File): Unit
  def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult
  def close(): Unit = ()
  /** Query name -> (rows, fingerprint) of the last pass, for recording. */
  def lastFingerprints: Map[String, (Long, String)] = Map.empty
}

object Workload {
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def span[A](tracer: Option[Tracer], name: String)(body: => A): A =
    tracer.fold(body)(_.span(name)(body))

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** The COTrip ETL over loopback HTTP. Each pass runs two paths over the
  * same generated chain:
  *  - reference: driver-side `PagedFetcher` walk (inside
  *    `CotripPipeline.run`) → P1/E1/P2 → one FeatureCollection `submit`;
  *  - scale: a discovery walk for the offset tokens → `cotrip-pages` http
  *    scan (executor-parallel fetch) → `CotripOps.pipeline` →
  *    `featureJson` → `jsonl-http` batched POSTs.
  * The peer checks both outputs against the generator's expectation.
  */
final class EtlWorkload(seed: Long, pages: Int, perPage: Int, cores: Int) extends Workload {
  import Workload._

  private var chain: PageChain = _
  private var peer: Peer = _
  private val config = PageGen.config
  private val pipeline = CotripPipeline(config)

  override def setup(spark: SparkSession, dir: java.io.File): Unit = {
    close()
    chain = PageGen.generate(seed, pages, perPage)
    peer = new Peer(chain, cores, Set("ref", "scale"))
  }

  override def close(): Unit = if (peer != null) { peer.stop(); peer = null }

  private def discover(key: String): Seq[String] = {
    val client = new HttpPageClient(peer.baseUrl, key)
    val tokens = mutable.ArrayBuffer.empty[String]
    var offset: Option[String] = None
    var more = true
    while (more) client.fetch(offset).nextOffset match {
      case Some(next) if next.nonEmpty && next != "None" =>
        tokens += next
        offset = Some(next)
      case _ => more = false
    }
    tokens.toSeq
  }

  private def scan(spark: SparkSession, tokens: Seq[String]): DataFrame =
    CotripSource.fromDsv2(spark, Map(
      "mode" -> "http", "baseUrl" -> peer.baseUrl, "apiKey" -> "scale",
      "offsets" -> tokens.mkString(",")))

  private def writeLines(out: DataFrame): Unit =
    FeatureCollectionSink.featureJson(out).toDF("json").write.format("jsonl-http")
      .option("endpoint", s"${peer.baseUrl}/jsonl").mode("append").save()

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    (p, p.count())
  }

  private def attempt(what: String)(body: => Unit): Int =
    try { body; 0 } catch {
      case NonFatal(e) => log(s"$what failed: $e"); 1
    }

  override def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    val traced = tracer.isDefined
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def boundary(df: DataFrame): DataFrame =
      if (!traced) df else { val (p, _) = materialize(df); cached += p; p }
    var scaleIn: DataFrame = null
    var scaleOut: DataFrame = null
    val layerTimes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def layer[A](name: String)(body: => A): A = {
      val (a, s) = time(span(tracer, name)(body))
      layerTimes(name) += s
      a
    }
    val (failures, wall) = time {
      val ref = attempt("reference path")(span(tracer, "etl.reference") {
        val client = new HttpPageClient(peer.baseUrl, "ref")
        if (!traced)
          FeatureCollectionSink.submit(pipeline.run(spark, client), s"${peer.baseUrl}/fc")
        else {
          // the program's own fetch: the page walk is eager, the parse lazy
          val pages = layer("sources.driver_fetch")(CotripSource.fetch(spark, client))
          val in = layer("sources.parse")(boundary(pages))
          val out = layer("operators.transform")(boundary(pipeline.transform(in)))
          layer("sinks.fc")(FeatureCollectionSink.submit(out, s"${peer.baseUrl}/fc"))
        }
      })
      val scale = attempt("scale path")(span(tracer, "etl.scale") {
        val tokens = layer("sources.discovery")(discover("scale"))
        val in = layer("sources.scan")(boundary(scan(spark, tokens)))
        val out = layer("operators.transform")(boundary(CotripOps.pipeline(in, config)))
        layer("sinks.post")(writeLines(out))
        scaleIn = in
        scaleOut = out
      })
      ref + scale
    }
    val stats = peer.drain()
    val e = chain.expected
    val fc = checked("FeatureCollection", stats.received.getOrElse("/fc", Nil), e,
      Fingerprint.featureCollections)
    val lines = checked("jsonl", stats.received.getOrElse("/jsonl", Nil), e,
      Fingerprint.jsonLines)
    val wrongPosts = if (stats.received.getOrElse("/fc", Nil).size == 1) 0 else 1
    val failed = math.min(2, failures + fc._2 + lines._2 + wrongPosts +
      (if (stats.non2xx > 0) 1 else 0))
    val layers =
      if (!traced || scaleOut == null) Map.empty[String, Double]
      else tracer.get.aside("rowcount")(etlLayers(stats, wall, scaleIn, scaleOut, layerTimes.toMap))
    cached.foreach(_.unpersist(blocking = true))
    PassResult(wall, 2, failed, fc._1 + lines._1, layers)
  }

  /** Output summary and 0/1 failure of one sink's received bodies. */
  private def checked(what: String, bodies: Seq[Array[Byte]], e: Expected,
                      summarize: Seq[Array[Byte]] => Fingerprint.Features): (Long, Int) =
    try {
      val s = summarize(bodies)
      if (s.matches(e)) (s.count, 0)
      else {
        log(s"$what output mismatch: got ${s.count} rows fp=${Fingerprint.hex(s.fingerprint)} " +
          s"${s.byType}; want ${e.rowsOut} fp=${Fingerprint.hex(e.fingerprint)} ${e.outByType}")
        (s.count, 1)
      }
    } catch { case NonFatal(ex) => log(s"$what output unreadable: $ex"); (0L, 1) }

  private def etlLayers(stats: PeerStats, wall: Double, in: DataFrame, out: DataFrame,
                        times: Map[String, Double]): Map[String, Double] = {
    val allowed = config.allowedTypes
    val exploded = CotripOps.explodeMulti(
      CotripOps.prefilterGeometryTypes(CotripOps.projectIdGeometry(in), allowed)).count()
    val outIds = out.select(substring_index(col("id"), "-", 1).as("id")).distinct()
    val dropped = in.select(col("properties.id").as("id"), col("geometry.type").as("t"))
      .join(outIds, Seq("id"), "left_anti").groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val rowsOut = out.count().toDouble
    val scaleGets = stats.getsByKey.getOrElse("scale", 0L).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "sources.discovery_s" -> times("sources.discovery"),
      "sources.driver_fetch_s" -> times("sources.driver_fetch"),
      "sources.scan_s" -> times("sources.scan"),
      "sources.gets" -> stats.gets.toDouble,
      "sources.pages_per_get" -> chain.pages / math.max(1.0, scaleGets),
      "sources.conns_per_get" -> stats.getConns / math.max(1.0, stats.gets.toDouble),
      "sources.bytes_in_mb" -> stats.bytesServed / mb,
      "operators.transform_s" -> times("operators.transform"),
      "operators.rows_in" -> in.count().toDouble,
      "operators.rows_exploded" -> exploded.toDouble,
      "operators.rows_out" -> rowsOut,
      "sinks.fc_s" -> times("sinks.fc"),
      "sinks.post_s" -> times("sinks.post"),
      "sinks.posts" -> stats.posts.toDouble,
      "sinks.rows_per_post" -> 2 * rowsOut / math.max(1.0, stats.posts.toDouble),
      "sinks.conns_per_post" -> stats.postConns / math.max(1.0, stats.posts.toDouble),
      "sinks.bytes_out_mb" -> stats.bytesReceived / mb,
      "sinks.non2xx" -> stats.non2xx.toDouble,
      "peer.busy_s" -> stats.busyNanos / 1e9,
      "peer.busy_share" -> stats.busyNanos / 1e9 / wall) ++
      PageGen.droppableTypes.map(t => s"operators.rows_dropped.$t" -> dropped.getOrElse(t, 0.0))
  }
}

/** A list of registry queries over one data directory, in a seed-permuted
  * order. Each query is built, then collected; the collected rows are
  * checked against the committed count and fingerprint.
  */
final class QueryWorkload(queries: Seq[String], seed: Long,
                          expected: Map[String, (Long, String)],
                          data: (SparkSession, java.io.File) => String) extends Workload {
  import Workload._

  private val order = new scala.util.Random(seed).shuffle(queries)
  private var dir: String = _
  private val last = mutable.Map.empty[String, (Long, String)]

  override def setup(spark: SparkSession, work: java.io.File): Unit =
    dir = data(spark, work)

  override def lastFingerprints: Map[String, (Long, String)] = last.toMap

  override def pass(spark: SparkSession, tracer: Option[Tracer]): PassResult = {
    var wall = 0.0
    var failed = 0
    var outputs = 0L
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    order.foreach { q =>
      val fn = SparkEntry.queries(q)
      // a query that throws is timed too, so a failing pass cannot read faster
      val (res, s) = time(try Some(span(tracer, q) {
        val df = span(tracer, "queries.build")(fn(spark, dir))
        if (tracer.isDefined) span(tracer, "engine.plan")(df.queryExecution.executedPlan)
        span(tracer, "engine.exec")(df.collect())
      }) catch { case NonFatal(e) => log(s"$q failed: $e"); None })
      wall += s
      times += q -> s
      res match {
        case None => failed += 1
        case Some(rows) =>
          val (n, fp) = Fingerprint.rows(rows)
          last(q) = (n, Fingerprint.hex(fp))
          outputs += n
          if (!expected.get(q).contains(last(q))) {
            log(s"$q output mismatch: got ${last(q)}, want ${expected.get(q)}")
            failed += 1
          }
      }
    }
    log(f"pass ${wall}%.3f " + times.map { case (q, t) => f"$q=$t%.3f" }.mkString(" "))
    PassResult(wall, order.size, failed, outputs)
  }
}

object QueryWorkload {
  /** The sf directory itself: queries read it in place. */
  def inPlace(sf: String): (SparkSession, java.io.File) => String = (_, _) => sf

  /** ScaledCorpus ×`factor` of the tables the corpus queries read, written
    * under the set-up's work directory.
    */
  def scaled(sf: String, factor: Int): (SparkSession, java.io.File) => String =
    (spark, work) => {
      val out = new java.io.File(work, s"corpus_x$factor").getPath
      ScaledCorpus.scaleDocuments(spark.read.parquet(s"$sf/documents.parquet"), factor)
        .write.parquet(s"$out/documents.parquet")
      ScaledCorpus.scaleEmbeddings(spark.read.parquet(s"$sf/embeddings.parquet"), factor)
        .write.parquet(s"$out/embeddings.parquet")
      out
    }
}
