package graft.core

import graft.core.Geom._
import scala.collection.mutable.ArrayBuffer

/** WKT encode/decode.
  *
  * Semantics from /root/reference/encoding/wkt/{wkt_encode,wkt_decode}.go:
  *   - 2-D only; EWKT `SRID=n;` prefix accepted on decode (and dropped —
  *     we carry SRID separately, wkt_decode.go:381-446)
  *   - polygons are CLOSED in text; the closing point is stripped on
  *     decode (wkt_decode.go:560-566) and re-added on encode
  *   - numbers encoded in Go strconv 'g'/-1 (shortest round-trip) style
  */
object Wkt {

  // ---------- encode ----------

  /** Go strconv.FormatFloat(v, 'g', -1, 64)-style shortest formatting for
    * the value range geometry coordinates live in.
    */
  def formatDouble(v: Double): String = {
    if (v.isNaN) return "NaN"
    if (v.isPosInfinity) return "+Inf"
    if (v.isNegInfinity) return "-Inf"
    if (v == math.rint(v) && math.abs(v) < 1e15) {
      val l = v.toLong
      return if (l == 0L && 1.0 / v < 0) "-0" else l.toString
    }
    // shortest round-trip digits from Java, reshaped Go-style
    val s = java.lang.Double.toString(v)
    if (!s.contains("E")) return s
    // Go 'g': exponent format is "1.5e+07"
    val Array(mant, ex) = s.split("E")
    val exp = ex.toInt
    // plain decimal when -4 <= exp < 21 (Go 'g' threshold for shortest)
    if (exp >= -4 && exp < 21) {
      java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
    } else {
      val m = if (mant.endsWith(".0")) mant.dropRight(2) else mant
      val sign = if (exp < 0) "-" else "+"
      val e = math.abs(exp)
      val epad = if (e < 10) s"0$e" else e.toString
      s"${m}e$sign$epad"
    }
  }

  private def fmtPt(p: Pt): String = s"${formatDouble(p._1)} ${formatDouble(p._2)}"

  private def fmtSeq(pts: IndexedSeq[Pt]): String =
    pts.map(fmtPt).mkString("(", ",", ")")

  /** close the ring on output (first point repeated). */
  private def fmtRing(ring: IndexedSeq[Pt]): String =
    (ring :+ ring.head).map(fmtPt).mkString("(", ",", ")")

  def encode(g: Geometry): String = g match {
    case GPoint(p) =>
      if (isEmptyPt(p)) "POINT EMPTY" else s"POINT (${fmtPt(p)})"
    case GMultiPoint(ps) =>
      if (ps.isEmpty) "MULTIPOINT EMPTY" else s"MULTIPOINT ${fmtSeq(ps)}"
    case GLineString(ps) =>
      if (ps.isEmpty) "LINESTRING EMPTY" else s"LINESTRING ${fmtSeq(ps)}"
    case GMultiLineString(ls) =>
      if (ls.isEmpty) "MULTILINESTRING EMPTY"
      else ls.map(fmtSeq).mkString("MULTILINESTRING (", ",", ")")
    case GPolygon(rs) =>
      if (rs.isEmpty) "POLYGON EMPTY"
      else rs.filter(_.nonEmpty).map(fmtRing).mkString("POLYGON (", ",", ")")
    case GMultiPolygon(mp) =>
      if (mp.isEmpty) "MULTIPOLYGON EMPTY"
      else mp.map(p => p.filter(_.nonEmpty).map(fmtRing).mkString("(", ",", ")"))
        .mkString("MULTIPOLYGON (", ",", ")")
    case GCollection(gs) =>
      if (gs.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else gs.map(encode).mkString("GEOMETRYCOLLECTION (", ",", ")")
  }

  // ---------- decode ----------

  final class ParseException(msg: String, pos: Int)
      extends RuntimeException(s"wkt parse error at $pos: $msg")

  /** Decode one geometry; accepts an `SRID=n;` EWKT prefix. Returns
    * (srid, geometry); srid 0 when absent.
    */
  def decodeWithSrid(s: String): (Int, Geometry) = {
    val p = new Parser(s)
    p.skipWs()
    val srid = p.trySrid()
    val g = p.geometry()
    p.skipWs()
    if (!p.eof) throw new ParseException("trailing content", p.pos)
    (srid, g)
  }

  def decode(s: String): Geometry = decodeWithSrid(s)._2

  private final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length

    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1

    def trySrid(): Int = {
      if (s.regionMatches(true, pos, "SRID", 0, 4)) {
        pos += 4
        skipWs(); expect('='); skipWs()
        val st = pos
        while (!eof && s.charAt(pos).isDigit) pos += 1
        val v = s.substring(st, pos).toInt
        skipWs(); expect(';'); skipWs()
        v
      } else 0
    }

    def expect(c: Char): Unit = {
      if (eof || s.charAt(pos) != c) throw new ParseException(s"expected '$c'", pos)
      pos += 1
    }

    private def keyword(): String = {
      skipWs()
      val st = pos
      while (!eof && s.charAt(pos).isLetter) pos += 1
      if (st == pos) throw new ParseException("expected geometry type", pos)
      s.substring(st, pos).toUpperCase
    }

    private def tryEmpty(): Boolean = {
      skipWs()
      if (s.regionMatches(true, pos, "EMPTY", 0, 5)) { pos += 5; true } else false
    }

    private def number(): Double = {
      skipWs()
      val st = pos
      if (!eof && (s.charAt(pos) == '-' || s.charAt(pos) == '+')) pos += 1
      var seen = false
      while (!eof && (s.charAt(pos).isDigit || s.charAt(pos) == '.')) { pos += 1; seen = true }
      if (!eof && (s.charAt(pos) == 'e' || s.charAt(pos) == 'E')) {
        pos += 1
        if (!eof && (s.charAt(pos) == '-' || s.charAt(pos) == '+')) pos += 1
        while (!eof && s.charAt(pos).isDigit) pos += 1
      }
      if (!seen) throw new ParseException("expected number", pos)
      java.lang.Double.parseDouble(s.substring(st, pos))
    }

    private def point(): Pt = {
      val x = number()
      val y = number()
      (x, y)
    }

    private def pointSeq(): IndexedSeq[Pt] = {
      skipWs(); expect('(')
      val out = new ArrayBuffer[Pt]()
      out += point()
      skipWs()
      while (!eof && s.charAt(pos) == ',') { pos += 1; out += point(); skipWs() }
      expect(')')
      out.toIndexedSeq
    }

    /** MULTIPOINT accepts both (1 2, 3 4) and ((1 2),(3 4)) forms. */
    private def multiPointSeq(): IndexedSeq[Pt] = {
      skipWs(); expect('(')
      val out = new ArrayBuffer[Pt]()
      def one(): Unit = {
        skipWs()
        if (!eof && s.charAt(pos) == '(') { pos += 1; out += point(); skipWs(); expect(')') }
        else out += point()
      }
      one(); skipWs()
      while (!eof && s.charAt(pos) == ',') { pos += 1; one(); skipWs() }
      expect(')')
      out.toIndexedSeq
    }

    /** polygon ring: must be closed in text; closing point stripped
      * (reference wkt_decode.go:560-566).
      */
    private def ring(): IndexedSeq[Pt] = {
      val pts = pointSeq()
      if (pts.length < 4)
        throw new ParseException(s"polygon ring needs >= 4 points, got ${pts.length}", pos)
      if (pts.head._1 != pts.last._1 || pts.head._2 != pts.last._2)
        throw new ParseException("polygon ring not closed", pos)
      pts.dropRight(1)
    }

    private def ringSeq(): IndexedSeq[IndexedSeq[Pt]] = {
      skipWs(); expect('(')
      val out = new ArrayBuffer[IndexedSeq[Pt]]()
      out += ring()
      skipWs()
      while (!eof && s.charAt(pos) == ',') { pos += 1; out += ring(); skipWs() }
      expect(')')
      out.toIndexedSeq
    }

    private def lineSeq(): IndexedSeq[IndexedSeq[Pt]] = {
      skipWs(); expect('(')
      val out = new ArrayBuffer[IndexedSeq[Pt]]()
      out += pointSeq()
      skipWs()
      while (!eof && s.charAt(pos) == ',') { pos += 1; out += pointSeq(); skipWs() }
      expect(')')
      out.toIndexedSeq
    }

    def geometry(): Geometry = keyword() match {
      case "POINT" =>
        if (tryEmpty()) GPoint(EmptyPt)
        else { skipWs(); expect('('); val p = point(); skipWs(); expect(')'); GPoint(p) }
      case "MULTIPOINT" =>
        if (tryEmpty()) GMultiPoint(Vector.empty) else GMultiPoint(multiPointSeq())
      case "LINESTRING" =>
        if (tryEmpty()) GLineString(Vector.empty) else GLineString(pointSeq())
      case "MULTILINESTRING" =>
        if (tryEmpty()) GMultiLineString(Vector.empty) else GMultiLineString(lineSeq())
      case "POLYGON" =>
        if (tryEmpty()) GPolygon(Vector.empty) else GPolygon(ringSeq())
      case "MULTIPOLYGON" =>
        if (tryEmpty()) GMultiPolygon(Vector.empty)
        else {
          skipWs(); expect('(')
          val out = new ArrayBuffer[IndexedSeq[IndexedSeq[Pt]]]()
          out += ringSeq()
          skipWs()
          while (!eof && s.charAt(pos) == ',') { pos += 1; out += ringSeq(); skipWs() }
          expect(')')
          GMultiPolygon(out.toIndexedSeq)
        }
      case "GEOMETRYCOLLECTION" =>
        if (tryEmpty()) GCollection(Vector.empty)
        else {
          skipWs(); expect('(')
          val out = new ArrayBuffer[Geometry]()
          out += geometry()
          skipWs()
          while (!eof && s.charAt(pos) == ',') { pos += 1; out += geometry(); skipWs() }
          expect(')')
          GCollection(out.toIndexedSeq)
        }
      case other => throw new ParseException(s"unknown geometry type $other", pos)
    }
  }
}
