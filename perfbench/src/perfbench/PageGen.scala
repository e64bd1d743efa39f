package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

import graft.model.TaskConfig

/** What the ETL must deliver for one generated chain: output features,
  * their order-insensitive id/type/coordinate fingerprint, and the input
  * features of each geometry type that yield no output row.
  */
final case class Expected(rowsOut: Long, fingerprint: Long,
                          outByType: Map[String, Long],
                          droppedByType: Map[String, Long])

/** A generated page chain as the COTrip API would serve it: page `i` is
  * fetched with offset token `tokens(i)` (page 0 with no offset) and
  * answers with `next-offset` = `tokens(i + 1)`, or the literal `None`
  * after the last page.
  */
final case class PageChain(bodies: Array[Array[Byte]], tokens: Array[String],
                           expected: Expected) {
  def pages: Int = bodies.length
  def nextOffset(i: Int): String = if (i + 1 < pages) tokens(i + 1) else "None"
}

/** Seeded generator of sign pages with all 16 declared properties and a
  * geometry mix that includes multi-part `Multi*` features (some with no
  * parts at all) and `GeometryCollection`s. The same seed gives the same
  * bytes.
  */
object PageGen {

  /** The task configuration the benchmark runs: Polygon geometries off, so
    * the P2 type filter drops whole geometry types as well as passing them.
    */
  val config: TaskConfig = TaskConfig("perfbench-token", polygonGeometries = false)

  val geometryTypes: Seq[String] = Seq("Point", "LineString", "Polygon",
    "MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection")

  /** Types whose inputs can produce no output row under [[config]]. */
  val droppableTypes: Seq[String] = Seq("Polygon", "MultiPoint", "MultiPolygon",
    "GeometryCollection")

  // cumulative weights (per 100) for geometryTypes, in order: a synthetic
  // mix chosen so every type and every drop occurs, not measured traffic
  private val typeWeights = Array(30, 50, 60, 72, 84, 95, 100)

  private val directions = Array("North", "South", "East", "West")

  private val words = Array("CRASH", "AHEAD", "LEFT", "RIGHT", "LANE", "CLOSED",
    "EXPECT", "DELAYS", "CHAIN", "LAW", "IN", "EFFECT", "ROAD", "WORK", "NEXT",
    "MILES", "USE", "CAUTION", "ICY", "BRIDGE", "TRAVEL", "TIME", "TO", "DENVER",
    "VAIL", "MIN", "PASS", "OPEN", "TRUCKS", "ONLY")

  def generate(seed: Long, pages: Int, perPage: Int): PageChain = {
    val rnd = new SplittableRandom(seed)
    val tokens = Array.tabulate(pages)(i =>
      if (i == 0) null else java.lang.Long.toHexString(rnd.nextLong() | (1L << 60)))
    val allowed = config.allowedTypes.toSet
    var fp = 0L
    var rowsOut = 0L
    val outByType = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val dropped = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val bodies = Array.tabulate(pages) { p =>
      val sb = new java.lang.StringBuilder(perPage * 420)
      sb.append("{\"features\":[")
      var j = 0
      while (j < perPage) {
        if (j > 0) sb.append(',')
        val id = s"sign${p}x$j"
        val w = rnd.nextInt(100)
        val typ = geometryTypes(typeWeights.indexWhere(w < _))
        sb.append("{\"type\":\"Feature\",\"properties\":")
        properties(sb, rnd, id)
        sb.append(",\"geometry\":{\"type\":\"").append(typ).append('"')
        // parts: the coordinate texts one output row each would carry
        val parts: Seq[String] = typ match {
          case "GeometryCollection" =>
            sb.append(",\"geometries\":[{\"type\":\"Point\",\"coordinates\":")
              .append(point(rnd)).append("}]")
            Nil
          case t if t.startsWith("Multi") =>
            val n = if (t == "MultiPoint" && rnd.nextInt(8) == 0) 0 else 1 + rnd.nextInt(4)
            val ps = Seq.fill(n)(single(t.stripPrefix("Multi"), rnd))
            sb.append(",\"coordinates\":[").append(ps.mkString(",")).append(']')
            ps
          case t =>
            val c = single(t, rnd)
            sb.append(",\"coordinates\":").append(c)
            Seq(c)
        }
        sb.append("}}")
        val outType = typ.stripPrefix("Multi")
        if (parts.isEmpty || !allowed.contains(outType)) dropped(typ) += 1
        else {
          val multi = typ.startsWith("Multi")
          parts.zipWithIndex.foreach { case (c, i) =>
            fp += Fingerprint.feature(if (multi) s"$id-$i" else id, outType,
              Fingerprint.canonicalJson(c))
          }
          rowsOut += parts.size
          outByType(outType) += parts.size
        }
        j += 1
      }
      sb.append("]}").toString.getBytes(UTF_8)
    }
    PageChain(bodies, tokens, Expected(rowsOut, fp,
      outByType.toMap, droppableTypes.map(t => t -> dropped(t)).toMap))
  }

  private def coord(rnd: SplittableRandom): String = {
    val lon = (-109000000 + rnd.nextInt(7000000)) / 1e6
    val lat = (37000000 + rnd.nextInt(4000000)) / 1e6
    s"[$lon,$lat]"
  }

  private def point(rnd: SplittableRandom): String = coord(rnd)

  private def line(rnd: SplittableRandom): String =
    Seq.fill(2 + rnd.nextInt(4))(coord(rnd)).mkString("[", ",", "]")

  private def ring(rnd: SplittableRandom): String = {
    val pts = Seq.fill(3 + rnd.nextInt(3))(coord(rnd))
    (pts :+ pts.head).mkString("[", ",", "]")
  }

  private def single(typ: String, rnd: SplittableRandom): String = typ match {
    case "Point" => point(rnd)
    case "LineString" => line(rnd)
    case "Polygon" => Seq.fill(1 + rnd.nextInt(2))(ring(rnd)).mkString("[", ",", "]")
  }

  private def str(sb: java.lang.StringBuilder, k: String, v: String): Unit =
    sb.append('"').append(k).append("\":\"").append(v).append("\",")

  private def message(rnd: SplittableRandom, n: Int): String =
    Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")

  private def properties(sb: java.lang.StringBuilder, rnd: SplittableRandom, id: String): Unit = {
    val text = message(rnd, 2 + rnd.nextInt(3))
    val minute = rnd.nextInt(60 * 24 * 28)
    val ts = f"2026-05-${1 + minute / 1440}%02dT${minute / 60 % 24}%02d:${minute % 60}%02d:00Z"
    sb.append('{')
    str(sb, "communicationStatus", if (rnd.nextInt(10) == 0) "Offline" else "Online")
    sb.append("\"marker\":").append(rnd.nextInt(5000) / 10.0).append(',')
    str(sb, "messageText", text)
    str(sb, "direction", directions(rnd.nextInt(directions.length)))
    str(sb, "lastUpdated", ts)
    str(sb, "messagePreview", text.take(8))
    str(sb, "displayStatus", if (rnd.nextBoolean()) "DisplayingMessage" else "Blank")
    str(sb, "name", s"VMS $id")
    str(sb, "id", id)
    sb.append("\"speed\":").append(5 * rnd.nextInt(16)).append(".0,")
    str(sb, "routeName", s"I-${rnd.nextInt(100)}")
    str(sb, "messageMarkup", s"[p1]$text[/p1]")
    str(sb, "publicName", s"I-70 EB @ MM ${rnd.nextInt(450)}")
    str(sb, "submittedBy", "cdot-ops")
    str(sb, "nativeId", s"CDOT-$id")
    sb.append("\"activationTime\":\"").append(ts).append("\"}")
  }
}
