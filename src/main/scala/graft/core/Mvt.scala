package graft.core

import graft.core.Geom._
import scala.collection.mutable.ArrayBuffer

/** MVT tile-geometry preparation + command-stream encoding.
  *
  * Semantics from /root/reference/encoding/mvt/{prepare,feature}.go:
  *   - PrepareGeo projects into tile pixel space:
  *       px = int64((x − minx)/xspan · ext), py = int64((maxy − y)/yspan · ext)
  *     (y-flip, truncation toward zero, prepare.go:73-78); consecutive
  *     points that collapse under the 1e-9 comparator are deduped; rings
  *     lose their closing point; degenerate lines/rings dropped; polygons
  *     rectified with the y-UP order (prepare.go:130-134).
  *   - geometry encode: MoveTo/LineTo/ClosePath commands, zigzag
  *     `(i<<1)^(i>>31)` (feature.go:119 — 31, not 63, replicated), cursor
  *     deltas in int64; ring winding enforced AFTER int64 truncation with
  *     the Y-DOWN order: exterior ring Clockwise, holes CounterClockwise;
  *     colinear rings dropped (feature.go:172-216).
  */
object Mvt {

  val TileExtent = 4096.0

  // ---- prepare ----

  def preparePt(p: Pt, tile: Extent, pixelExtent: Double): Pt = {
    val px = ((p._1 - tile.minx) / tile.xSpan * pixelExtent).toLong
    val py = ((tile.maxy - p._2) / tile.ySpan * pixelExtent).toLong
    (px.toDouble, py.toDouble)
  }

  def prepareLineString(pts: IndexedSeq[Pt], tile: Extent,
                        pixelExtent: Double): IndexedSeq[Pt] = {
    if (pts.length < 2) return Vector.empty
    val out = new ArrayBuffer[Pt](pts.length)
    var i = 0
    while (i < pts.length) {
      val npt = preparePt(pts(i), tile, pixelExtent)
      if (i == 0 || !Cmp.HiCmp.pointEqual(out.last, npt)) out += npt
      i += 1
    }
    if (out.length < 2) Vector.empty else out.toIndexedSeq
  }

  def preparePolygon(rings: IndexedSeq[IndexedSeq[Pt]], tile: Extent,
                     pixelExtent: Double): IndexedSeq[IndexedSeq[Pt]] = {
    val p = Vector.newBuilder[IndexedSeq[Pt]]
    var i = 0
    while (i < rings.length) {
      val ring = rings(i)
      if (ring.length >= 2) {
        var ln = prepareLineString(ring, tile, pixelExtent)
        if (ln.length >= 2 && Cmp.HiCmp.pointEqual(ln.head, ln.last))
          ln = ln.dropRight(1)
        if (ln.length >= 2) p += ln
      }
      i += 1
    }
    Winding.rectifyPolygon(yPositiveDown = false, p.result()).getOrElse(Vector.empty)
  }

  /** reference prepare.go:13-70 PrepareGeo dispatch. */
  def prepareGeo(g: Geometry, tile: Extent, pixelExtent: Double = TileExtent): Geometry =
    g match {
      case GPoint(p)       => GPoint(preparePt(p, tile, pixelExtent))
      case GMultiPoint(ps) => GMultiPoint(ps.map(preparePt(_, tile, pixelExtent)))
      case GLineString(ps) => GLineString(prepareLineString(ps, tile, pixelExtent))
      case GMultiLineString(ls) =>
        GMultiLineString(ls.map(prepareLineString(_, tile, pixelExtent)).filter(_.nonEmpty))
      case GPolygon(rs) => GPolygon(preparePolygon(rs, tile, pixelExtent))
      case GMultiPolygon(mp) =>
        GMultiPolygon(mp.map(preparePolygon(_, tile, pixelExtent)).filter(_.nonEmpty))
      case GCollection(gs) => GCollection(gs.map(prepareGeo(_, tile, pixelExtent)))
    }

  // ---- command-stream encode ----

  final val CmdMoveTo = 1
  final val CmdLineTo = 2
  final val CmdClosePath = 7

  @inline def command(cmd: Int, count: Int): Long =
    ((cmd & 0x7) | (count << 3)).toLong & 0xFFFFFFFFL

  /** reference feature.go:119 — note the 31-bit arithmetic shift. */
  @inline def zigzag(i: Long): Long = ((i << 1) ^ (i >> 31)) & 0xFFFFFFFFL

  /** growable primitive command buffer (ArrayBuffer[Long] boxed every
    * element — measured hot); pooled per thread, copied out per geometry.
    */
  private final class LongBuf {
    var a = new Array[Long](256)
    var n = 0
    def clear(): Unit = n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def result(): IndexedSeq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(resultArray())

    def resultArray(): Array[Long] = java.util.Arrays.copyOf(a, n)
  }

  private val encodeBuf = new ThreadLocal[LongBuf] {
    override def initialValue(): LongBuf = new LongBuf
  }

  /** reference winding/winding.go:176-190 OfInt64Points (yDown=true) over
    * the int64-truncated points (identical FP fold, no tuple vector).
    */
  private def windingOfTruncatedYDown(pts: IndexedSeq[Pt]): Int = {
    val n = pts.length
    if (n < 3) return Winding.Colinear
    val p0 = pts(0)
    val p0x = p0._1.toLong.toDouble; val p0y = p0._2.toLong.toDouble
    var sum = 0.0
    var li = n - 1
    var i = 0
    while (i < n) {
      val lp = pts(li); val cp = pts(i)
      val lx = lp._1.toLong.toDouble - p0x; val ly = lp._2.toLong.toDouble - p0y
      val cx = cp._1.toLong.toDouble - p0x; val cy = cp._2.toLong.toDouble - p0y
      sum += (lx * cy) - (cx * ly)
      li = i
      i += 1
    }
    if (sum == 0.0) Winding.Colinear
    else if (java.lang.Double.doubleToRawLongBits(sum) < 0) Winding.CounterClockwise // −(−1)
    else Winding.Clockwise // yDown mul = −1
  }

  /** geometry → (commands, geomType) where type 1=POINT 2=LINESTRING
    * 3=POLYGON (vector_tile.proto enum).
    */
  def encodeGeometry(g: Geometry): (IndexedSeq[Long], Int) = {
    val (arr, tpe) = encodeGeometryRaw(g)
    (scala.collection.immutable.ArraySeq.unsafeWrapArray(arr), tpe)
  }

  /** raw-array variant for the Spark kernels (GenericArrayData wraps the
    * long[] directly — the IndexedSeq form cost a second copy per row).
    */
  def encodeGeometryRaw(g: Geometry): (Array[Long], Int) = {
    var curX = 0L
    var curY = 0L
    val out = encodeBuf.get()
    out.clear()

    def emitDelta(px: Long, py: Long): Unit = {
      out.add(zigzag(px - curX)); out.add(zigzag(py - curY))
      curX = px; curY = py
    }

    def moveTo(pts: IndexedSeq[Pt]): Unit = {
      if (pts.isEmpty) return
      out.add(command(CmdMoveTo, pts.length))
      pts.foreach(p => emitDelta(p._1.toLong, p._2.toLong))
    }
    def lineTo(pts: IndexedSeq[Pt]): Unit = {
      if (pts.isEmpty) return
      out.add(command(CmdLineTo, pts.length))
      pts.foreach(p => emitDelta(p._1.toLong, p._2.toLong))
    }

    /** reference feature.go:172-216 encodeLinearRing — reversal handled by
      * iteration direction; deltas/zigzag identical to the materialized
      * round-2 form.
      */
    def ring(wo: Int, pts0: IndexedSeq[Pt]): Unit = {
      val ringWinding = windingOfTruncatedYDown(pts0)
      if (ringWinding == Winding.Colinear) return
      val rev = ringWinding != wo
      val n = pts0.length
      out.add(command(CmdMoveTo, 1))
      var k = 0
      while (k < n) {
        val p = pts0(if (rev) n - 1 - k else k)
        emitDelta(p._1.toLong, p._2.toLong)
        if (k == 0) out.add(command(CmdLineTo, n - 1))
        k += 1
      }
      out.add(command(CmdClosePath, 1))
    }

    def polygon(rings: IndexedSeq[IndexedSeq[Pt]]): Boolean = {
      var i = 0
      while (i < rings.length) {
        if (rings(i).length < 2) {
          if (i == 0) return false // reference bails out of the polygon
        } else {
          val wo = if (i == 0) Winding.Clockwise else Winding.CounterClockwise
          ring(wo, rings(i))
        }
        i += 1
      }
      true
    }

    val tpe = g match {
      case GPoint(p)            => moveTo(Vector(p)); 1
      case GMultiPoint(ps)      => moveTo(ps); 1
      case GLineString(ps)      => moveTo(ps.take(1)); lineTo(ps.drop(1)); 2
      case GMultiLineString(ls) =>
        ls.foreach { l => moveTo(l.take(1)); lineTo(l.drop(1)) }; 2
      case GPolygon(rs)      => polygon(rs); 3
      case GMultiPolygon(mp) => mp.foreach(polygon); 3
      case GCollection(_)    => return (Array.emptyLongArray, 0)
    }
    (out.resultArray(), tpe)
  }

  // ---- decode (reference encoding/mvt/decode.go:86-304) ----

  /** reference decode.go:302-304 — zigzag in uint32 space. */
  @inline def decodeZigZag(i: Long): Int = {
    val u = i & 0xFFFFFFFFL
    (((u >>> 1) ^ (-(u & 1L))) & 0xFFFFFFFFL).toInt
  }

  private final class DecodeCursor {
    var x = 0.0
    var y = 0.0
    def decodePoint(px: Long, py: Long): Pt = {
      x += decodeZigZag(px).toDouble
      y += decodeZigZag(py).toDouble
      (x, y)
    }
    /** decode.go:275-293 decodeNPoints — optionally prepend the cursor. */
    def decodeN(n: Int, buf: IndexedSeq[Long], off: Int, encHere: Boolean): IndexedSeq[Pt] = {
      val out = Vector.newBuilder[Pt]
      if (encHere) out += ((x, y))
      var i = 0
      while (i < n) {
        out += decodePoint(buf(off + i * 2), buf(off + i * 2 + 1))
        i += 1
      }
      out.result()
    }
  }

  @inline private def cmdId(c: Long): Int = (c & 0x7L).toInt
  @inline private def cmdCount(c: Long): Int = (c >>> 3).toInt

  /** reference decode.go:86-98 DecodeGeometry: command stream → geometry.
    * Right(None) = nil geometry with nil error (empty POINT stream);
    * Left = the reference's error/panic messages.
    */
  def decodeGeometry(gtype: Int, buf: IndexedSeq[Long]): Either[String, Option[Geometry]] =
    gtype match {
      case 1 => decodePoint(buf)
      case 2 => decodeLineString(buf)
      case 3 => decodePoly(buf)
      case _ => Left("unreachable")
    }

  /** decode.go:100-136 decodePoint. */
  private def decodePoint(buf: IndexedSeq[Long]): Either[String, Option[Geometry]] = {
    val curs = new DecodeCursor
    var ret: IndexedSeq[Pt] = Vector.empty
    var i = 0
    if (buf.nonEmpty) {
      val cmd = buf(0); i = 1
      val n = cmdCount(cmd)
      if (buf.length - i < n * 2) return Left(s"not enough integers (${buf.length - i}) for command")
      if (cmdId(cmd) != CmdMoveTo) return Left("invalid command for POINT")
      ret = curs.decodeN(n, buf, i, encHere = false)
      i += n * 2
    }
    if (i != buf.length) return Left("mvt: invalid extra data")
    ret.length match {
      case 0 => Right(None)
      case 1 => Right(Some(GPoint(ret.head)))
      case _ => Right(Some(GMultiPoint(ret)))
    }
  }

  /** decode.go:140-198 decodeLineString. */
  private def decodeLineString(buf: IndexedSeq[Long]): Either[String, Option[Geometry]] = {
    val curs = new DecodeCursor
    val ret = ArrayBuffer[IndexedSeq[Pt]]()
    var lastCmd = 0L
    var i = 0
    while (i < buf.length) {
      val cmd = buf(i); i += 1
      val n = cmdCount(cmd)
      if (buf.length - i < n * 2) return Left(s"not enough integers (${buf.length - i}) for command")
      cmdId(cmd) match {
        case CmdMoveTo =>
          if (lastCmd != 0 && cmdId(lastCmd) != CmdLineTo)
            return Left("MoveTo cannot follow this command for LINESTRING")
          curs.decodePoint(buf(i), buf(i + 1))
          i += 2
        case CmdLineTo =>
          if (cmdId(lastCmd) != CmdMoveTo)
            return Left("LineTo cannot follow this command for LINESTRING")
          if (n <= 0) return Left("LineTo must have count > 0 for LINESTRING")
          ret += curs.decodeN(n, buf, i, encHere = true)
          i += n * 2
        case _ => return Left("invalid command for LINESTRING")
      }
      lastCmd = cmd
    }
    ret.length match {
      case 0 => Left("unreachable")
      case 1 => Right(Some(GLineString(ret.head)))
      case _ => Right(Some(GMultiLineString(ret.toIndexedSeq)))
    }
  }

  /** decode.go:200-268 decodePoly — ring → polygon grouping decided by the
    * Y-DOWN winding of the decoded ring (clockwise starts a new polygon).
    */
  private def decodePoly(buf: IndexedSeq[Long]): Either[String, Option[Geometry]] = {
    val curs = new DecodeCursor
    val ret = ArrayBuffer[ArrayBuffer[IndexedSeq[Pt]]]()
    var lastCmd = 0L
    var i = 0
    while (i < buf.length) {
      val cmd = buf(i); i += 1
      val n = cmdCount(cmd)
      if (cmdId(cmd) != CmdClosePath && buf.length - i < n * 2)
        return Left(s"not enough integers (${buf.length - i}) for command")
      cmdId(cmd) match {
        case CmdMoveTo =>
          if (lastCmd != 0 && cmdId(lastCmd) != CmdClosePath)
            return Left("MoveTo cannot follow this command for POLYGON")
          curs.decodePoint(buf(i), buf(i + 1))
          i += 2
        case CmdLineTo =>
          if (cmdId(lastCmd) != CmdMoveTo)
            return Left("LineTo cannot follow this command for POLYGON")
          if (n <= 1) return Left("LineTo must have count > 1 for POLYGON")
          val ln = curs.decodeN(n, buf, i, encHere = true)
          i += n * 2
          if (Winding.orientation(yPositiveDown = true, ln) == Winding.Clockwise)
            ret += ArrayBuffer.empty
          else if (ret.isEmpty)
            return Left("first ring of POLYGON must be an exterior ring")
          ret.last += ln
        case CmdClosePath =>
          if (cmdId(lastCmd) != CmdLineTo)
            return Left("ClosePath cannot follow this command for POLYGON")
        case _ => return Left("invalid command for POLYGON")
      }
      lastCmd = cmd
    }
    ret.length match {
      case 0 => Left("unreachable")
      case 1 => Right(Some(GPolygon(ret.head.toIndexedSeq)))
      case _ => Right(Some(GMultiPolygon(ret.map(_.toIndexedSeq).toIndexedSeq)))
    }
  }
}
