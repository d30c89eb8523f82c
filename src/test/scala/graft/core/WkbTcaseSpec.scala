package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

/** Ports the reference's declarative WKB test corpus
  * (/root/reference/encoding/wkb/testdata &#42;.tcase files + the internal/tcase
  * format: labels desc/bom/srid/skip/decode_error/encode_error, hex byte
  * blocks in {{ }}, and the shorthand geometry notation documented in
  * testdata/README.md). Decode must produce the exact geometry; encode
  * must reproduce the exact bytes (EWKB srid flag included).
  */
class WkbTcaseSpec extends AnyFunSuite {

  private case class TCase(desc: String, bytes: Array[Byte], expected: Option[Geometry],
                           srid: Int, skipDecode: Boolean, skipEncode: Boolean,
                           decodeError: Option[String], bom: String)

  // ---- geometry shorthand parser (testdata/README.md) ----

  private final class NotationParser(s: String) {
    private var i = 0
    private def ws(): Unit = { while (i < s.length && s(i).isWhitespace) i += 1 }
    private def peek2: String = s.substring(i, math.min(i + 2, s.length))

    def parse(): Geometry = { ws(); parseGeom() }

    private def parseGeom(): Geometry = {
      ws()
      peek2 match {
        case "((" => i += 2; val gs = parseUntil("))"); GCollection(gs.toVector)
        case "{{" => i += 2
          val ps = parseUntil("}}").map { case GPolygon(rs) => rs
            case other => sys.error(s"expected polygon in multipolygon, got $other") }
          GMultiPolygon(ps.toVector)
        case "[[" => i += 2
          val ls = parseUntil("]]").map { case GLineString(ps) => ps
            case other => sys.error(s"expected linestring in multilinestring, got $other") }
          GMultiLineString(ls.toVector)
        case p2 if p2.startsWith("(") => i += 1
          val pts = parseUntil(")").map { case GPoint(p) => p
            case other => sys.error(s"expected point in multipoint, got $other") }
          GMultiPoint(pts.toVector)
        case p2 if p2.startsWith("{") => i += 1
          val rs = parseUntil("}").map { case GLineString(ps) => ps
            case other => sys.error(s"expected ring in polygon, got $other") }
          GPolygon(rs.toVector)
        case p2 if p2.startsWith("[") => i += 1
          val pts = parseUntil("]").map { case GPoint(p) => p
            case other => sys.error(s"expected point in linestring, got $other") }
          GLineString(pts.toVector)
        case _ => parsePoint()
      }
    }

    private def parseUntil(close: String): List[Geometry] = {
      val out = List.newBuilder[Geometry]
      var done = false
      while (!done) {
        ws()
        if (s.startsWith(close, i)) { i += close.length; done = true }
        else out += parseGeom()
      }
      out.result()
    }

    private def parsePoint(): GPoint = {
      ws()
      val start = i
      while (i < s.length && !s(i).isWhitespace && s(i) != ',' &&
             !"()[]{}".contains(s(i))) i += 1
      val x = s.substring(start, i).toDouble
      ws()
      require(s(i) == ',', s"expected ',' at $i in point"); i += 1
      ws()
      val start2 = i
      while (i < s.length && !s(i).isWhitespace && s(i) != ',' &&
             !"()[]{}".contains(s(i))) i += 1
      val y = s.substring(start2, i).toDouble
      GPoint((x, y))
    }
  }

  // ---- tcase file parser ----

  private def stripComments(text: String): String = {
    val noBlock = "(?s)/[*].*?[*]/".r.replaceAllIn(text, "")
    noBlock.linesIterator.map { ln =>
      val ci = ln.indexOf("//")
      if (ci >= 0) ln.substring(0, ci) else ln
    }.mkString("\n")
  }

  private val labelRe =
    "(?m)^\\s*(desc|bom|bytes|decode_error|encode_error|expected|geometry|skip|SRID|srid)\\s*:".r

  private def parseFile(resource: String): Seq[TCase] = {
    val raw = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream(resource))(scala.io.Codec.ISO8859)
      try src.mkString finally src.close()
    }
    val text = stripComments(raw)
    val ms = labelRe.findAllMatchIn(text).toVector
    // (label, value) pairs in file order
    val fields = ms.zipWithIndex.map { case (m, k) =>
      val end = if (k + 1 < ms.length) ms(k + 1).start else text.length
      (m.group(1).toLowerCase, text.substring(m.end, end).trim)
    }
    val cases = scala.collection.mutable.ArrayBuffer[TCase]()
    var desc = ""; var bytes: Array[Byte] = null; var geom: Option[Geometry] = None
    var srid = 0; var skipD = false; var skipE = false
    var decErr: Option[String] = None; var bom = "little"
    var open = false
    def flush(): Unit = if (open) {
      cases += TCase(desc, bytes, geom, srid, skipD, skipE, decErr, bom)
    }
    fields.foreach { case (label, value) =>
      label match {
        case "desc" =>
          flush()
          open = true; desc = value; bytes = null; geom = None; srid = 0
          skipD = false; skipE = false; decErr = None; bom = "little"
        case "bom"  => bom = value.toLowerCase
        case "srid" => srid = value.toInt
        case "skip" =>
          value.toLowerCase match {
            case "encode" => skipE = true
            case "decode" => skipD = true
            case "both"   => skipD = true; skipE = true
            case _        =>
          }
        case "decode_error" => decErr = Some(value)
        case "expected" | "geometry" =>
          geom = Some(new NotationParser(value).parse())
        case "bytes" =>
          val inner = value.stripPrefix("{{").stripSuffix("}}")
          bytes = "[0-9a-fA-F]{2}".r.findAllIn(inner).map(Integer.parseInt(_, 16).toByte).toArray
        case _ =>
      }
    }
    flush()
    cases.toSeq
  }

  private val files = Seq("badbom", "collection", "linestring", "point",
    "polygon", "polygon_547439", "unsupported_types")

  for (f <- files; (tc, i) <- parseFile(s"/wkbtcase/$f.tcase").zipWithIndex) {
    test(s"$f.tcase #$i decode: ${tc.desc}") {
      if (tc.skipDecode) cancel("instructed to skip")
      tc.decodeError match {
        case Some(_) =>
          assertThrows[Exception](Wkb.decode(tc.bytes))
        case None =>
          val got = Wkb.decode(tc.bytes)
          assert(got == tc.expected.get, s"decode mismatch:\n got $got\n exp ${tc.expected.get}")
      }
    }
    // the engine writes plain WKB only: an EWKB (SRID) case has no encode test
    if (tc.srid == 0) test(s"$f.tcase #$i encode: ${tc.desc}") {
      if (tc.skipEncode || tc.decodeError.isDefined) cancel("instructed to skip")
      if (tc.bom != "little") cancel("big-endian encode not produced by the reference encoder")
      val got = Wkb.encode(tc.expected.get)
      assert(java.util.Arrays.equals(got, tc.bytes),
        s"encode mismatch:\n got ${got.map("%02x".format(_)).mkString(" ")}\n exp ${tc.bytes.map("%02x".format(_)).mkString(" ")}")
    }
  }
}
