package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What the peer saw in one interval (see [[Peer.drain]]). Connections are
  * counted as distinct client socket addresses.
  */
final case class PeerStats(getsByKey: Map[String, Long], getConns: Long,
                           posts: Long, postConns: Long, bytesServed: Long,
                           bytesReceived: Long, non2xx: Long, busyNanos: Long,
                           received: Map[String, Seq[Array[Byte]]]) {
  def gets: Long = getsByKey.values.sum
}

/** Loopback stand-in for both ends of the ETL: the paged COTrip API
  * (`GET /api/v1/signs?apiKey=…&offset=…`, `next-offset` header, literal
  * `None` after the last page) and the receivers of the two sinks
  * (`POST /fc` for FeatureCollections, `POST /jsonl` for feature lines).
  * Bodies are kept for the output check. Runs on at most `threads`
  * threads and records its own busy time, so a run can show the peer was
  * not the bottleneck.
  */
final class Peer(chain: PageChain, threads: Int, apiKeys: Set[String]) {
  // Without TCP_NODELAY the JDK server's small header writes wait on
  // delayed ACKs: about 40 ms per request over loopback.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val pageOf: Map[String, Int] =
    chain.tokens.zipWithIndex.collect { case (t, i) if t != null => t -> i }.toMap
  private val gets = new ConcurrentHashMap[String, AtomicLong]()
  private val getConns = ConcurrentHashMap.newKeySet[InetSocketAddress]()
  private val postConns = ConcurrentHashMap.newKeySet[InetSocketAddress]()
  private val posts = new AtomicLong
  private val served = new AtomicLong
  private val receivedBytes = new AtomicLong
  private val non2xx = new AtomicLong
  private val busy = new AtomicLong
  private val received = new ConcurrentLinkedQueue[(String, Array[Byte])]()

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 512)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    try handle(ex)
    finally {
      ex.close()
      busy.addAndGet(System.nanoTime() - t0)
    }
  })
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def respond(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    if (status / 100 != 2) non2xx.incrementAndGet()
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    ex.getRequestMethod match {
      case "GET" if path == "/api/v1/signs" =>
        getConns.add(ex.getRemoteAddress)
        val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
          .filter(_.contains('=')).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            k -> java.net.URLDecoder.decode(v, "UTF-8")
          }.toMap
        val key = params.getOrElse("apiKey", "")
        gets.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
        val page = params.get("offset") match {
          case None => Some(0)
          case Some(t) => pageOf.get(t)
        }
        if (!apiKeys.contains(key)) respond(ex, 401, Array.emptyByteArray)
        else page match {
          case Some(i) =>
            ex.getResponseHeaders.add("next-offset", chain.nextOffset(i))
            ex.getResponseHeaders.add("Content-Type", "application/json")
            served.addAndGet(chain.bodies(i).length.toLong)
            respond(ex, 200, chain.bodies(i))
          case None => respond(ex, 404, Array.emptyByteArray)
        }
      case "POST" if path == "/fc" || path == "/jsonl" =>
        postConns.add(ex.getRemoteAddress)
        posts.incrementAndGet()
        val body = ex.getRequestBody.readAllBytes()
        receivedBytes.addAndGet(body.length.toLong)
        received.add(path -> body)
        respond(ex, 200, Array.emptyByteArray)
      case _ => respond(ex, 404, Array.emptyByteArray)
    }
  }

  /** Counters and received bodies since the last drain; resets them. */
  def drain(): PeerStats = synchronized {
    val bodies = Iterator.continually(received.poll()).takeWhile(_ != null).toSeq
    val s = PeerStats(
      gets.asScala.map { case (k, v) => k -> v.getAndSet(0L) }.toMap,
      getConns.size.toLong, posts.getAndSet(0L), postConns.size.toLong,
      served.getAndSet(0L), receivedBytes.getAndSet(0L), non2xx.getAndSet(0L),
      busy.getAndSet(0L), bodies.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) })
    getConns.clear()
    postConns.clear()
    s
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
