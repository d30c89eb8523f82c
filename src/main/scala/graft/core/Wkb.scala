package graft.core

import graft.core.Geom._
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer

/** WKB encode/decode — the engine's internal geometry storage format
  * (geometry columns are BinaryType holding WKB).
  *
  * Semantics from /root/reference/encoding/wkb/wkb.go and its
  * internal/{decode,encode} packages:
  *   - both little and big endian accepted on decode (per-geometry BOM,
  *     nested sub-geometries carry their own BOM)
  *   - encode always little-endian (reference encode.go default)
  *   - EWKB SRID flag bit 0x20000000 accepted on decode
  *   - 7 types: Point=1 … GeometryCollection=7; 2-D only
  *   - polygon rings are CLOSED on the wire; closing point stripped on
  *     decode, re-added on encode (matching the reference geometry model
  *     of unclosed rings, polygon.go:16-20)
  */
object Wkb {

  final val PointT = 1
  final val LineStringT = 2
  final val PolygonT = 3
  final val MultiPointT = 4
  final val MultiLineStringT = 5
  final val MultiPolygonT = 6
  final val CollectionT = 7
  final val SridFlag = 0x20000000

  final class WkbException(msg: String) extends RuntimeException(msg)

  // ---------- encode ----------

  private def sizeOf(g: Geometry): Int = g match {
    case GPoint(_)            => 1 + 4 + 16
    case GMultiPoint(ps)      => 1 + 4 + 4 + ps.length * (1 + 4 + 16)
    case GLineString(ps)      => 1 + 4 + 4 + ps.length * 16
    case GMultiLineString(ls) => 1 + 4 + 4 + ls.map(l => 1 + 4 + 4 + l.length * 16).sum
    case GPolygon(rs)         => 1 + 4 + 4 + rs.map(r => 4 + (r.length + 1) * 16).sum
    case GMultiPolygon(mp) =>
      1 + 4 + 4 + mp.map(p => 1 + 4 + 4 + p.map(r => 4 + (r.length + 1) * 16).sum).sum
    case GCollection(gs) => 1 + 4 + 4 + gs.map(sizeOf).sum
  }

  def encode(g: Geometry): Array[Byte] = {
    val buf = ByteBuffer.allocate(sizeOf(g)).order(ByteOrder.LITTLE_ENDIAN)
    write(buf, g)
    buf.array()
  }

  private def writePts(buf: ByteBuffer, pts: IndexedSeq[Pt]): Unit = {
    var i = 0
    while (i < pts.length) {
      buf.putDouble(pts(i)._1); buf.putDouble(pts(i)._2)
      i += 1
    }
  }

  private def writeRing(buf: ByteBuffer, ring: IndexedSeq[Pt]): Unit = {
    buf.putInt(ring.length + 1)
    writePts(buf, ring)
    buf.putDouble(ring.head._1); buf.putDouble(ring.head._2) // close
  }

  private def write(buf: ByteBuffer, g: Geometry, srid: Int = 0): Unit = {
    buf.put(1.toByte) // little-endian BOM
    def hdr(t: Int): Unit = {
      if (srid != 0) { buf.putInt(t | SridFlag); buf.putInt(srid) }
      else buf.putInt(t)
    }
    g match {
      case GPoint(p) =>
        hdr(PointT); buf.putDouble(p._1); buf.putDouble(p._2)
      case GLineString(ps) =>
        hdr(LineStringT); buf.putInt(ps.length); writePts(buf, ps)
      case GPolygon(rs) =>
        hdr(PolygonT); buf.putInt(rs.length); rs.foreach(writeRing(buf, _))
      case GMultiPoint(ps) =>
        hdr(MultiPointT); buf.putInt(ps.length)
        ps.foreach { p =>
          buf.put(1.toByte); buf.putInt(PointT)
          buf.putDouble(p._1); buf.putDouble(p._2)
        }
      case GMultiLineString(ls) =>
        hdr(MultiLineStringT); buf.putInt(ls.length)
        ls.foreach { l =>
          buf.put(1.toByte); buf.putInt(LineStringT)
          buf.putInt(l.length); writePts(buf, l)
        }
      case GMultiPolygon(mp) =>
        hdr(MultiPolygonT); buf.putInt(mp.length)
        mp.foreach { p =>
          buf.put(1.toByte); buf.putInt(PolygonT)
          buf.putInt(p.length); p.foreach(writeRing(buf, _))
        }
      case GCollection(gs) =>
        hdr(CollectionT); buf.putInt(gs.length)
        gs.foreach(write(buf, _))
    }
  }

  // ---------- decode ----------

  def decode(bytes: Array[Byte]): Geometry = decodeWithSrid(bytes)._2

  /** returns (srid, geometry); srid 0 when no EWKB flag present. */
  def decodeWithSrid(bytes: Array[Byte]): (Int, Geometry) = {
    val buf = ByteBuffer.wrap(bytes)
    val r = readGeom(buf, topLevel = true)
    r
  }

  private def readHeader(buf: ByteBuffer): (Int, Int) = {
    val bom = buf.get()
    bom match {
      case 0 => buf.order(ByteOrder.BIG_ENDIAN)
      case 1 => buf.order(ByteOrder.LITTLE_ENDIAN)
      case b => throw new WkbException(s"invalid byte-order marker $b")
    }
    val rawType = buf.getInt()
    var srid = 0
    var tpe = rawType
    if ((rawType & SridFlag) != 0) {
      tpe = rawType & ~SridFlag
      srid = buf.getInt()
    }
    (tpe, srid)
  }

  private def readPts(buf: ByteBuffer, n: Int): IndexedSeq[Pt] = {
    val out = new ArrayBuffer[Pt](n)
    var i = 0
    while (i < n) {
      val x = buf.getDouble(); val y = buf.getDouble()
      out += ((x, y))
      i += 1
    }
    out.toIndexedSeq
  }

  /** ring on the wire is closed; strip the closing point when it matches */
  private def readRing(buf: ByteBuffer): IndexedSeq[Pt] = {
    val n = buf.getInt()
    val pts = readPts(buf, n)
    if (pts.length >= 2 && pts.head._1 == pts.last._1 && pts.head._2 == pts.last._2)
      pts.dropRight(1)
    else pts
  }

  private def readGeom(buf: ByteBuffer, topLevel: Boolean): (Int, Geometry) = {
    val (tpe, srid) = readHeader(buf)
    val g = tpe match {
      case PointT => GPoint((buf.getDouble(), buf.getDouble()))
      case LineStringT =>
        val n = buf.getInt(); GLineString(readPts(buf, n))
      case PolygonT =>
        val n = buf.getInt(); GPolygon((0 until n).map(_ => readRing(buf)))
      case MultiPointT =>
        val n = buf.getInt()
        GMultiPoint((0 until n).map { _ =>
          readGeom(buf, topLevel = false)._2 match {
            case GPoint(p) => p
            case other     => throw new WkbException(s"multipoint holds $other")
          }
        })
      case MultiLineStringT =>
        val n = buf.getInt()
        GMultiLineString((0 until n).map { _ =>
          readGeom(buf, topLevel = false)._2 match {
            case GLineString(ps) => ps
            case other           => throw new WkbException(s"multilinestring holds $other")
          }
        })
      case MultiPolygonT =>
        val n = buf.getInt()
        GMultiPolygon((0 until n).map { _ =>
          readGeom(buf, topLevel = false)._2 match {
            case GPolygon(rs) => rs
            case other        => throw new WkbException(s"multipolygon holds $other")
          }
        })
      case CollectionT =>
        val n = buf.getInt()
        GCollection((0 until n).map(_ => readGeom(buf, topLevel = false)._2))
      case other => throw new WkbException(s"unsupported geometry type $other")
    }
    (srid, g)
  }
}
