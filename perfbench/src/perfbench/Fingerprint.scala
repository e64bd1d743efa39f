package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Order-insensitive fingerprints: a 64-bit hash per record, summed with
  * wrap-around, so any permutation of the same multiset of records gives the
  * same value and a dropped, duplicated or altered record changes it.
  */
object Fingerprint {

  private val mapper = new ObjectMapper()

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x2f1b3c4d).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x7a5e9d01).toLong & 0xffffffffL)

  def hex(fp: Long): String = f"$fp%016x"

  /** One output feature: id, geometry type and canonical coordinates. */
  def feature(id: String, geometryType: String, canonicalCoordinates: String): Long =
    hash64(s"$id\u0001$geometryType\u0001$canonicalCoordinates")

  /** Coordinates re-serialized through one JSON writer, so number spelling
    * (`37.0` vs `37`) cannot decide a match.
    */
  def canonicalJson(text: String): String = mapper.readTree(text).toString

  /** Feature count, fingerprint and per-type counts of GeoJSON features. */
  final case class Features(count: Long, fingerprint: Long, byType: Map[String, Long]) {
    def matches(e: Expected): Boolean =
      count == e.rowsOut && fingerprint == e.fingerprint && byType == e.outByType
  }

  /** Fold `features` (GeoJSON Feature nodes) into a [[Features]] summary. */
  def features(nodes: Iterator[JsonNode]): Features = {
    var n = 0L
    var fp = 0L
    val byType = mutable.Map.empty[String, Long].withDefaultValue(0L)
    nodes.foreach { f =>
      val g = f.get("geometry")
      val t = g.get("type").asText()
      fp += feature(f.get("id").asText(), t, g.get("coordinates").toString)
      byType(t) += 1
      n += 1
    }
    Features(n, fp, byType.toMap)
  }

  /** Summary of FeatureCollection documents. */
  def featureCollections(bodies: Seq[Array[Byte]]): Features = {
    import scala.jdk.CollectionConverters._
    features(bodies.iterator.flatMap { b =>
      val root = mapper.readTree(b)
      require(root.get("type").asText() == "FeatureCollection", "not a FeatureCollection")
      root.get("features").elements().asScala
    })
  }

  /** Summary of newline-delimited feature documents. */
  def jsonLines(bodies: Seq[Array[Byte]]): Features =
    features(bodies.iterator.flatMap { b =>
      new String(b, java.nio.charset.StandardCharsets.UTF_8).split('\n')
        .iterator.filter(_.nonEmpty).map(l => mapper.readTree(l))
    })

  /** Row count and fingerprint of a query result. Floating-point values are
    * compared to 6 significant digits, so a summation order that moves the
    * last bits does not count as a wrong answer.
    */
  def rows(rs: Array[Row]): (Long, Long) = {
    var fp = 0L
    rs.foreach(r => fp += hash64(canonical(r)))
    (rs.length.toLong, fp)
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def canonical(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => double(b.doubleValue)
    case r: Row => r.toSeq.map(canonical).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case other => other.toString
  }
}
