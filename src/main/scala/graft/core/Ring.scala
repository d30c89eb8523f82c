package graft.core

import graft.core.Geom._

/** Ray-cast point-in-ring kernel + polygon hitmap labeling.
  *
  * Semantics from /root/reference/planar/intersect/ring.go:21-154 and
  * /root/reference/planar/makevalid/hitmap/{ring,polygon_hitmap,hitmap}.go:
  *   - ray from (bbox.minx − 1, pt.y) to pt, counting segment crossings
  *   - colinear segments: the point on the segment ⇒ border
  *   - intersection exactly at the query point ⇒ border
  *   - endpoint crossings counted only when the OTHER vertex of the segment
  *     is not above the ray (ring.go:131-145)
  *   - hitmap: exterior rings are labeled Inside (border-inclusive), holes
  *     Outside (border-exclusive); first containing ring wins after sorting
  *     rings Outside-first then by ascending bbox area; query points are
  *     pre-rounded to a 20-bit mantissa; outside the clip bbox ⇒ Outside.
  */
final class Ring private (n: Int,
                          x1s: Array[Double], y1s: Array[Double],
                          x2s: Array[Double], y2s: Array[Double],
                          val includeBorder: Boolean, val cmp: Cmp) {

  /** segment view (compat; the hot path reads the packed arrays). */
  def segs: IndexedSeq[Seg] =
    (0 until n).map(i => Seg(x1s(i), y1s(i), x2s(i), y2s(i)))

  val bbox: Extent = if (n == 0) Extent(0, 0, 0, 0) else {
    var mnx = x1s(0); var mny = y1s(0)
    var mxx = x1s(0); var mxy = y1s(0)
    var i = 0
    while (i < n) {
      mnx = math.min(math.min(mnx, x1s(i)), x2s(i))
      mny = math.min(math.min(mny, y1s(i)), y2s(i))
      mxx = math.max(math.max(mxx, x1s(i)), x2s(i))
      mxy = math.max(math.max(mxy, y1s(i)), y2s(i))
      i += 1
    }
    Extent(mnx, mny, mxx, mxy)
  }

  /** reference planar/intersect/ring.go:73-154. The per-segment
    * segmentIntersect + endpoint checks are inlined scalar (identical FP
    * ops) — the tuple-per-test form was a measured allocation source in
    * the hitmap labeling loop.
    */
  def containsPoint(pt: Pt): Boolean = containsPointXY(pt._1, pt._2)

  def containsPointXY(ptX: Double, ptY: Double): Boolean = {
    if (!bbox.containsPoint(ptX, ptY)) return false
    // ray: (bbox.minx - 1, ptY) → (ptX, ptY)
    val rx1 = bbox.minx - 1; val ry1 = ptY; val rx2 = ptX; val ry2 = ptY
    var count = 0
    var i = 0
    while (i < n) {
      val sx1 = x1s(i); val sy1 = y1s(i); val sx2 = x2s(i); val sy2 = y2s(i)
      // reference AreLinesColinear(ray, seg), line_intersect.go:18-42
      val cdenom = ((rx1 - rx2) * (sy1 - sy2)) - ((ry1 - ry2) * (sx1 - sx2))
      if (cdenom == 0) {
        val xmin = if (rx1 > rx2) rx2 else rx1; val xmax = if (rx1 > rx2) rx1 else rx2
        val ymin = if (ry1 > ry2) ry2 else ry1; val ymax = if (ry1 > ry2) ry1 else ry2
        val colinearContains =
          (xmin <= sx1 && sx1 <= xmax && ymin <= sy1 && sy1 <= ymax) ||
            (xmin <= sx2 && sx2 <= xmax && ymin <= sy2 && sy2 <= ymax)
        if (colinearContains) {
          // seg.bboxContains(pt) inline
          val smnx = if (sx1 > sx2) sx2 else sx1; val smxx = if (sx1 > sx2) sx1 else sx2
          val smny = if (sy1 > sy2) sy2 else sy1; val smxy = if (sy1 > sy2) sy1 else sy2
          if (smnx <= ptX && ptX <= smxx && smny <= ptY && ptY <= smxy)
            return includeBorder
          // colinear but not containing: skip
        }
        // (not colinear by bbox test: segmentIntersect's denom==0 counts nothing)
      } else {
        // segmentIntersect(ray, seg) inline — same ops, no allocation
        val deltaX12 = rx1 - rx2
        val deltaX13 = rx1 - sx1
        val deltaX34 = sx1 - sx2
        val deltaY12 = ry1 - ry2
        val deltaY13 = ry1 - sy1
        val deltaY34 = sy1 - sy2
        val denom = (deltaX12 * deltaY34) - (deltaY12 * deltaX34)
        if (denom != 0) {
          val cross1 = (rx1 * ry2) - (ry1 * rx2)
          val cross2 = (sx1 * sy2) - (sy1 * sx2)
          val xnom = (cross1 * deltaX34) - (deltaX12 * cross2)
          val ynom = (cross1 * deltaY34) - (deltaY12 * cross2)
          var bx = xnom / denom
          var by = ynom / denom
          if (bx == 0.0) bx = 0.0
          if (by == 0.0) by = 0.0
          val t = ((deltaX13 * deltaY34) - (deltaY13 * deltaX34)) / denom
          val u = -((deltaX12 * deltaY13) - (deltaY12 * deltaX13)) / denom
          if (u >= 0.0 && u <= 1.0 && t >= 0.0 && t <= 1.0) {
            if (cmp.float(bx, ptX) && cmp.float(by, ptY)) return includeBorder
            var skip = false
            if (cmp.float(sx1, bx) && cmp.float(sy1, by)) {
              if (sy2 > ptY) skip = true
            } else if (cmp.float(sx2, bx) && cmp.float(sy2, by)) {
              if (sy1 > ptY) skip = true
            }
            if (!skip) count += 1
          }
        }
      }
      i += 1
    }
    count % 2 != 0
  }
}

object Ring {

  /** reference planar/intersect/ring.go:49-60 NewRingFromPoints — segments
    * with the closing edge {pts(last), pts(0)} first, packed straight into
    * primitive arrays (same order as ringSegments).
    */
  def fromPoints(pts: IndexedSeq[Pt], includeBorder: Boolean = false,
                 cmp: Cmp = Cmp.Default): Ring = {
    // reference NewRingFromPoints builds a segment per point for ANY count
    // (1-2 points yield degenerate segments, never a panic); the bbox of an
    // empty ring is the Go zero-value Extent.
    val n = pts.length
    val x1s = new Array[Double](n); val y1s = new Array[Double](n)
    val x2s = new Array[Double](n); val y2s = new Array[Double](n)
    var prev = n - 1
    var i = 0
    while (i < n) {
      val p = pts(prev); val c = pts(i)
      x1s(i) = p._1; y1s(i) = p._2
      x2s(i) = c._1; y2s(i) = c._2
      prev = i
      i += 1
    }
    new Ring(n, x1s, y1s, x2s, y2s, includeBorder, cmp)
  }

  /** Round a double to a 20-bit mantissa, to-nearest-even — emulates the
    * reference's big.NewFloat(x).SetPrec(20).Float64()
    * (hitmap/polygon_hitmap.go:93-95).
    */
  def roundPrec20(v: Double): Double = {
    if (v == 0.0 || v.isNaN || v.isInfinite) return v
    val e = java.lang.Math.getExponent(v)
    val scaled = java.lang.Math.scalb(v, 19 - e)
    java.lang.Math.scalb(java.lang.Math.rint(scaled), e - 19)
  }
}

/** planar.HitMapper (reference planar/planar.go + hitmap/hitmap.go):
  * Inside/Outside labeling with an extent + area used for ordering
  * heterogeneous hitmap collections.
  */
sealed trait Hitmap {
  def labelInside(pt: Pt): Boolean
  /** scalar fast path (no tuple); overridden where it matters. */
  def labelInsideXY(x: Double, y: Double): Boolean = labelInside((x, y))
  def extent: Extent
  def area: Double
}

/** Polygon hitmap: labels points Inside/Outside a (multi)polygon.
  * reference planar/makevalid/hitmap/polygon_hitmap.go:33-127.
  */
final class PolygonHitmap private (rings: IndexedSeq[(Ring, Boolean)], clipBox: Extent)
    extends Hitmap {

  /** reference polygon_hitmap.go:130-133 — extent/area of the clip box
    * (which carries the origin-unioned quirk).
    */
  def extent: Extent = clipBox
  def area: Double = clipBox.area

  /** True = Inside. reference LabelFor (polygon_hitmap.go:90-127). */
  def labelInside(pt0: Pt): Boolean = labelInsideXY(pt0._1, pt0._2)

  override def labelInsideXY(x0: Double, y0: Double): Boolean = {
    val x = Ring.roundPrec20(x0)
    val y = Ring.roundPrec20(y0)
    if (!clipBox.containsPoint(x, y)) return false
    var i = 0
    while (i < rings.length) {
      if (rings(i)._1.containsPointXY(x, y)) return rings(i)._2
      i += 1
    }
    false
  }
}

object PolygonHitmap {

  /** Build from (multi)polygon rings. Ring 0 of each polygon is Inside
    * (border-inclusive); subsequent rings are holes, Outside
    * (border-exclusive). Rings sorted Outside-first, then ascending bbox
    * area (reference bySmallestBBArea, hitmap/ring.go:73-84).
    * The clip bbox replicates the reference quirk of unioning ring extents
    * into a zero-initialized extent (so it always includes the origin).
    */
  def apply(polys: IndexedSeq[IndexedSeq[IndexedSeq[Pt]]]): PolygonHitmap = {
    val rings = Vector.newBuilder[(Ring, Boolean)]
    polys.foreach { ply =>
      if (ply.nonEmpty && ply.head.nonEmpty) {
        rings += ((Ring.fromPoints(ply.head, includeBorder = true), true))
        var h = 1
        while (h < ply.length) {
          if (ply(h).nonEmpty)
            rings += ((Ring.fromPoints(ply(h), includeBorder = false), false))
          h += 1
        }
      }
    }
    val rs = rings.result()
    var clip = Extent(0, 0, 0, 0) // reference: new(geom.Extent) zero value
    rs.foreach { case (r, _) => clip = clip.add(r.bbox) }
    val sorted = rs.sortWith { case ((ra, la), (rb, lb)) =>
      if (la != lb) !la // Outside (false) rings first
      else ra.bbox.area < rb.bbox.area
    }
    new PolygonHitmap(sorted, clip)
  }

  def ofPolygon(rings: IndexedSeq[IndexedSeq[Pt]]): PolygonHitmap = apply(Vector(rings))
}

/** reference hitmap/hitmap.go:42-77 OrderedHM — first Inside wins; extent
  * accumulates across members; area is the area of the combined extent.
  */
final case class OrderedHitmap(hms: IndexedSeq[Hitmap]) extends Hitmap {
  def labelInside(pt: Pt): Boolean = hms.exists(_.labelInside(pt))
  def extent: Extent = {
    // reference: accumulate into a zero-value extent (origin-unioned quirk)
    var e = Extent(0, 0, 0, 0)
    hms.foreach(h => e = e.add(h.extent))
    e
  }
  def area: Double = extent.area
}

object Hitmap {

  /** reference hitmap/hitmap.go:89-136 New — heterogeneous dispatch:
    * (multi)polygons get a PolygonHitmap; collections recurse, skip the
    * nil members, sort ascending by area (ByAreaDec's Less is `<` despite
    * the name) then reverse into the OrderedHM so the LARGEST area is
    * tried first; points/lines yield no hitmap.
    */
  def forGeometry(geo: Geometry): Option[Hitmap] = geo match {
    case GPolygon(rings)   => Some(PolygonHitmap.ofPolygon(rings))
    case GMultiPolygon(mp) => Some(PolygonHitmap(mp))
    case GCollection(gs) =>
      val hms = gs.flatMap(forGeometry)
      Some(OrderedHitmap(hms.sortBy(_.area).reverse))
    case GPoint(_) | GMultiPoint(_) | GLineString(_) | GMultiLineString(_) =>
      None
  }
}
