package graft.core

import graft.core.Geom._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** RFC 7946 GeoJSON geometry encode/decode
  * (reference encoding/geojson/geojson.go:52-446).
  *
  * Ring-closure convention: the internal model stores UNCLOSED rings
  * (reference polygon.go:16-20); polygons are CLOSED on encode
  * (closePolygon, geojson.go:316-327) and the closing point is stripped
  * on decode. Uses the Jackson shipped with Spark (no extra deps).
  */
object GeoJson {

  private val mapper = new ObjectMapper()

  // ---------- encode (StringBuilder — the hot path in span extraction) ----

  private def coords(b: StringBuilder, p: Pt): Unit = {
    b.append('[').append(p._1).append(',').append(p._2).append(']')
  }

  private def coordSeq(b: StringBuilder, pts: IndexedSeq[Pt]): Unit = {
    b.append('[')
    var i = 0
    while (i < pts.length) {
      if (i > 0) b.append(',')
      coords(b, pts(i))
      i += 1
    }
    b.append(']')
  }

  private def closedRing(b: StringBuilder, ring: IndexedSeq[Pt]): Unit = {
    b.append('[')
    var i = 0
    while (i < ring.length) {
      if (i > 0) b.append(',')
      coords(b, ring(i))
      i += 1
    }
    if (ring.nonEmpty && ring.head != ring.last) { b.append(','); coords(b, ring.head) }
    b.append(']')
  }

  private def ringSeq(b: StringBuilder, rings: IndexedSeq[IndexedSeq[Pt]]): Unit = {
    b.append('[')
    var i = 0
    while (i < rings.length) {
      if (i > 0) b.append(',')
      closedRing(b, rings(i))
      i += 1
    }
    b.append(']')
  }

  private def encodeInto(b: StringBuilder, g: Geometry): Unit = g match {
    case GPoint(p) =>
      b.append("""{"type":"Point","coordinates":""")
      coords(b, p); b.append('}')
    case GMultiPoint(ps) =>
      b.append("""{"type":"MultiPoint","coordinates":""")
      coordSeq(b, ps); b.append('}')
    case GLineString(ps) =>
      b.append("""{"type":"LineString","coordinates":""")
      coordSeq(b, ps); b.append('}')
    case GMultiLineString(ls) =>
      b.append("""{"type":"MultiLineString","coordinates":[""")
      for (i <- ls.indices) { if (i > 0) b.append(','); coordSeq(b, ls(i)) }
      b.append("]}")
    case GPolygon(rs) =>
      b.append("""{"type":"Polygon","coordinates":""")
      ringSeq(b, rs); b.append('}')
    case GMultiPolygon(mp) =>
      b.append("""{"type":"MultiPolygon","coordinates":[""")
      for (i <- mp.indices) { if (i > 0) b.append(','); ringSeq(b, mp(i)) }
      b.append("]}")
    case GCollection(gs) =>
      b.append("""{"type":"GeometryCollection","geometries":[""")
      for (i <- gs.indices) { if (i > 0) b.append(','); encodeInto(b, gs(i)) }
      b.append("]}")
  }

  def encode(g: Geometry): String = {
    val b = new StringBuilder(64)
    encodeInto(b, g)
    b.toString
  }

  // ---------- decode ----------

  final class GeoJsonException(msg: String) extends RuntimeException(msg)

  private def pt(n: JsonNode): Pt = {
    if (!n.isArray || n.size < 2) throw new GeoJsonException(s"bad coordinate $n")
    (n.get(0).asDouble, n.get(1).asDouble)
  }

  private def ptSeq(n: JsonNode): IndexedSeq[Pt] =
    (0 until n.size).map(i => pt(n.get(i)))

  /** closing point stripped when present. */
  private def ring(n: JsonNode): IndexedSeq[Pt] = {
    val pts = ptSeq(n)
    if (pts.length >= 2 && pts.head == pts.last) pts.dropRight(1) else pts
  }

  def decodeNode(n: JsonNode): Geometry = {
    val tpe = Option(n.get("type")).map(_.asText).getOrElse(
      throw new GeoJsonException("missing type"))
    def c: JsonNode = Option(n.get("coordinates")).getOrElse(
      throw new GeoJsonException("missing coordinates"))
    tpe match {
      case "Point"           => GPoint(pt(c))
      case "MultiPoint"      => GMultiPoint(ptSeq(c))
      case "LineString"      => GLineString(ptSeq(c))
      case "MultiLineString" => GMultiLineString((0 until c.size).map(i => ptSeq(c.get(i))))
      case "Polygon"         => GPolygon((0 until c.size).map(i => ring(c.get(i))))
      case "MultiPolygon" =>
        GMultiPolygon((0 until c.size).map { i =>
          val poly = c.get(i)
          (0 until poly.size).map(j => ring(poly.get(j)))
        })
      case "GeometryCollection" =>
        val gs = Option(n.get("geometries")).getOrElse(
          throw new GeoJsonException("missing geometries"))
        GCollection((0 until gs.size).map(i => decodeNode(gs.get(i))))
      case other => throw new GeoJsonException(s"unknown type $other")
    }
  }

  def decode(s: String): Geometry = decodeNode(mapper.readTree(s))

  // ---------- Feature / FeatureCollection (geojson.go:297-319, 44-123) --

  /** reference Feature struct: type, optional uint64 id, nullable
    * geometry, nullable properties map.
    */
  final case class Feature(geometry: Option[Geometry],
                           id: Option[Long] = None,
                           properties: Option[Map[String, Any]] = None)

  /** Go encoding/json string escaping: quotes, backslash, control chars,
    * and the HTML set (< > &) as \u00XX — json.Marshal's default
    * SetEscapeHTML(true) behavior, for byte parity with the reference.
    */
  private def jsonString(b: StringBuilder, s: String): Unit = {
    b.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case '<'  => b.append("\\u003c")
        case '>'  => b.append("\\u003e")
        case '&'  => b.append("\\u0026")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c    => b.append(c)
      }
      i += 1
    }
    b.append('"')
  }

  /** Go encoding/json float form (encode.go appendFloat): shortest
    * round-tripping digits (strconv prec −1), 'f' (plain) format unless
    * abs < 1e-6 or abs >= 1e21, in which case 'e' with the exponent
    * cleaned Go-style (explicit sign, no leading zero: "1e+21",
    * "1.2e-7"); -0.0 emits "-0". Digit selection canNOT delegate to
    * JDK 17's Double.toString (pre-Ryu it emits non-shortest digits,
    * e.g. 1.25e22 → "1.2499999999999999E22" — JDK-4511638); instead the
    * minimal precision whose HALF_EVEN rounding round-trips is searched
    * directly — the closest shortest decimal, which is what Ryu picks.
    * `digits` is the significand digit string of abs(x) (trailing zeros
    * stripped below), `exp` its decimal exponent: abs(x) = d.dd… × 10^exp.
    */
  private def goFloatInto(b: StringBuilder, neg: Boolean, digits0: String,
                          exp0: Int, eNotation: Boolean): Unit = {
    var digits = digits0
    // strip trailing zeros (a prec-3 rounding of 100 keeps unscaled "100")
    var last = digits.length
    while (last > 1 && digits.charAt(last - 1) == '0') last -= 1
    digits = digits.substring(0, last)
    if (neg) b.append('-')
    if (eNotation) {
      b.append(digits.charAt(0))
      if (digits.length > 1) b.append('.').append(digits.substring(1))
      b.append('e')
      if (exp0 >= 0) b.append('+').append(exp0) else b.append(exp0)
    } else if (exp0 >= digits.length - 1) { // integer, no trailing ".0"
      b.append(digits)
      var i = digits.length - 1
      while (i < exp0) { b.append('0'); i += 1 }
    } else if (exp0 >= 0) { // point inside the digits
      b.append(digits.substring(0, exp0 + 1)).append('.')
        .append(digits.substring(exp0 + 1))
    } else { // 0.00ddd
      b.append("0.")
      var i = exp0
      while (i < -1) { b.append('0'); i += 1 }
      b.append(digits)
    }
  }

  /** shortest round-tripping (digits, decimal exponent) of a positive
    * finite value: smallest significant-digit count whose correctly-
    * rounded (HALF_EVEN) decimal parses back to the identical bits.
    * `maxPrec` 17 for binary64, 9 for binary32.
    */
  private def shortestRepr(parseBack: java.math.BigDecimal => Boolean,
                           exact: java.math.BigDecimal, maxPrec: Int): (String, Int) = {
    var prec = 1
    var bd: java.math.BigDecimal = null
    var found = false
    while (!found && prec <= maxPrec) {
      bd = exact.round(new java.math.MathContext(prec, java.math.RoundingMode.HALF_EVEN))
      if (parseBack(bd)) found = true else prec += 1
    }
    if (!found) bd = exact // unreachable: maxPrec digits always round-trip
    val unscaled = bd.unscaledValue.abs.toString
    (unscaled, unscaled.length - 1 - bd.scale)
  }

  private def goDouble(b: StringBuilder, x: Double): Unit = {
    if (x == 0.0) { b.append(if (1.0 / x < 0) "-0" else "0"); return }
    val a = math.abs(x)
    val (digits, exp) = shortestRepr(_.doubleValue() == a, new java.math.BigDecimal(a), 17)
    goFloatInto(b, x < 0, digits, exp, a < 1e-6 || a >= 1e21)
  }

  private def goFloat(b: StringBuilder, x: Float): Unit = {
    if (x == 0.0f) { b.append(if (1.0f / x < 0) "-0" else "0"); return }
    val a = math.abs(x)
    val (digits, exp) = shortestRepr(_.floatValue() == a,
      new java.math.BigDecimal(a.toDouble), 9)
    goFloatInto(b, x < 0, digits, exp, a < 1e-6f || a >= 1e21f)
  }

  /** property values per Go json type-default encoding; maps emit keys
    * SORTED (Go marshals map[string]interface{} in key order).
    */
  private def jsonValue(b: StringBuilder, v: Any): Unit = v match {
    case null            => b.append("null")
    case s: String       => jsonString(b, s)
    case x: Long         => b.append(x)
    case x: Int          => b.append(x)
    case x: Double =>
      // Go json.Marshal errors on non-finite floats (unsupported value)
      if (x.isNaN || x.isInfinite)
        throw new GeoJsonException(s"unsupported property value: $x")
      goDouble(b, x)
    case x: Float =>
      if (x.isNaN || x.isInfinite)
        throw new GeoJsonException(s"unsupported property value: $x")
      goFloat(b, x)
    case x: Boolean      => b.append(x)
    case m: Map[_, _] =>
      b.append('{')
      val entries = m.toSeq.map { case (k, vv) => (String.valueOf(k), vv) }.sortBy(_._1)
      var first = true
      entries.foreach { case (k, vv) =>
        if (!first) b.append(','); first = false
        jsonString(b, k); b.append(':'); jsonValue(b, vv)
      }
      b.append('}')
    case xs: Seq[_] =>
      b.append('[')
      var first = true
      xs.foreach { x => if (!first) b.append(','); first = false; jsonValue(b, x) }
      b.append(']')
    case other => jsonString(b, String.valueOf(other))
  }

  private def encodeFeatureInto(b: StringBuilder, f: Feature): Unit = {
    b.append("{\"type\":\"Feature\"")
    f.id.foreach(i => b.append(",\"id\":").append(i))
    b.append(",\"geometry\":")
    f.geometry match {
      case Some(g) => encodeInto(b, g)
      case None    => b.append("null")
    }
    b.append(",\"properties\":")
    f.properties match {
      case Some(p) => jsonValue(b, p)
      case None    => b.append("null")
    }
    b.append('}')
  }

  def encodeFeature(f: Feature): String = {
    val b = new StringBuilder(128)
    encodeFeatureInto(b, f)
    b.toString
  }

  private def anyOf(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isTextual) n.asText
    else if (n.isBoolean) n.asBoolean
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isArray) (0 until n.size).map(i => anyOf(n.get(i))).toVector
    else if (n.isObject) {
      val it = n.properties().iterator()
      val mb = scala.collection.immutable.ListMap.newBuilder[String, Any]
      while (it.hasNext) { val e = it.next(); mb += ((e.getKey, anyOf(e.getValue))) }
      mb.result()
    } else n.toString

  /** Go json.Unmarshal matches struct fields case-insensitively (exact
    * match preferred) — mirror that for the Feature-level keys.
    */
  private def fieldCI(n: JsonNode, name: String): Option[JsonNode] =
    Option(n.get(name)).orElse {
      val it = n.properties().iterator()
      var found: Option[JsonNode] = None
      while (found.isEmpty && it.hasNext) {
        val e = it.next()
        if (e.getKey.equalsIgnoreCase(name)) found = Some(e.getValue)
      }
      found
    }

  private def featureOf(n: JsonNode): Feature = {
    val g = fieldCI(n, "geometry").filterNot(_.isNull).map(decodeNode)
    // Go Unmarshal errors on a non-integer id (string→uint64 is a type
    // error) — never silently coerce to 0
    val id = fieldCI(n, "id").filterNot(_.isNull).map { v =>
      if (!v.isIntegralNumber)
        throw new GeoJsonException(s"feature id must be an integer, got $v")
      // Jackson asLong silently WRAPS integral values outside int64 (Go
      // errors past uint64; our Long narrows at int64 — error, never wrap)
      if (!v.canConvertToLong)
        throw new GeoJsonException(s"feature id out of int64 range: $v")
      v.asLong
    }
    val props = fieldCI(n, "properties").filterNot(_.isNull).map { p =>
      if (!p.isObject)
        throw new GeoJsonException(s"feature properties must be an object, got $p")
      anyOf(p).asInstanceOf[Map[String, Any]]
    }
    Feature(g, id, props)
  }

  /** reference Unmarshal (geojson.go:97-123): dispatch on the lowercased
    * type field; Feature and FeatureCollection only, anything else is
    * ErrUnknownFeatureType.
    */
  def decodeFeatureOrCollection(s: String): Either[Feature, Seq[Feature]] = {
    val n = mapper.readTree(s)
    val tpe = fieldCI(n, "type").map(_.asText.toLowerCase).getOrElse(
      throw new GeoJsonException("missing type"))
    tpe match {
      case "feature" => Left(featureOf(n))
      case "featurecollection" =>
        val fs = fieldCI(n, "features").getOrElse(
          throw new GeoJsonException("missing features"))
        Right((0 until fs.size).map(i => featureOf(fs.get(i))))
      case other => throw new GeoJsonException(s"unknown feature type $other")
    }
  }
}
