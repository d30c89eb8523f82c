package graft.core

import graft.core.Geom._

/** Planar predicates & measures.
  *
  * Semantics (and floating-point operation order, which matters for
  * bit-parity) from /root/reference/planar/planar.go, distance.go and
  * line_intersect.go.
  */
object Planar {

  /** reference planar/planar.go:19-32 — point to infinite line;
    * degenerate line ⇒ 0.
    */
  def perpendicularDistance(l: Seg, px: Double, py: Double): Double = {
    val deltaX = l.x2 - l.x1
    val deltaY = l.y2 - l.y1
    val num = math.abs((deltaY * px) - (deltaX * py) + (l.x2 * l.y1) - (l.y2 * l.x1))
    val denom = math.sqrt(deltaY * deltaY + deltaX * deltaX)
    if (denom == 0) 0 else num / denom
  }

  /** reference planar/planar.go:35-46 — (m, b, defined); horizontal lines
    * report m=0 with defined=true, vertical (dx==0) defined=false.
    */
  def slope(l: Seg): (Double, Double, Boolean) = {
    val dx = l.x2 - l.x1
    val dy = l.y2 - l.y1
    if (dx == 0 || dy == 0) (0, l.y1, dx != 0)
    else {
      val m = dy / dx
      (m, l.y1 - (m * l.x1), true)
    }
  }

  /** reference planar/planar.go:49-63 */
  def isPointOnLine(cmp: Cmp, pt: Pt, l1: Pt, l2: Pt): Boolean = {
    val (m, b, defined) = slope(Seg(l1, l2))
    if (!defined) cmp.float(pt._1, l1._1)
    else if (m == 0) cmp.float(pt._2, l1._2)
    else cmp.float(pt._2, (m * pt._1) + b)
  }

  /** reference planar/planar.go:66-79 IsPointOnLineSegment, allocation-free
    * (no Seg/tuple construction) — same branch structure as slope +
    * isPointOnLine + the segment bbox test.
    */
  def isPointOnLineSegmentXY(cmp: Cmp, px: Double, py: Double,
                             x1: Double, y1: Double, x2: Double, y2: Double): Boolean = {
    val minx = if (x1 > x2) x2 else x1; val maxx = if (x1 > x2) x1 else x2
    val miny = if (y1 > y2) y2 else y1; val maxy = if (y1 > y2) y1 else y2
    if (!(minx <= px && px <= maxx && miny <= py && py <= maxy)) return false
    val dx = x2 - x1; val dy = y2 - y1
    if (dx == 0) cmp.float(px, x1) // slope undefined
    else if (dy == 0) cmp.float(py, y1) // m == 0 (incl. the dy==0 early slope)
    else {
      val m = dy / dx
      if (m == 0) cmp.float(py, y1) // dy/dx underflowed: original m==0 branch
      else {
        val b = y1 - (m * x1)
        cmp.float(py, (m * px) + b)
      }
    }
  }

  /** reference planar/distance.go:19-24 */
  def pointDistance2(p1: Pt, p2: Pt): Double = {
    val v1 = p1._1 - p2._1
    val v2 = p1._2 - p2._2
    v1 * v1 + v2 * v2
  }

  def pointDistance(p1: Pt, p2: Pt): Double = math.sqrt(pointDistance2(p1, p2))

  /** reference planar/distance.go:32-50 — clamped-projection distance. */
  def distanceToLineSegment(p: Pt, v: Pt, w: Pt): Double = {
    val l2 = pointDistance2(v, w)
    if (l2 == 0) return pointDistance(p, v)
    var t = ((p._1 - v._1) * (w._1 - v._1) + (p._2 - v._2) * (w._2 - v._2)) / l2
    t = math.max(0, math.min(1, t))
    pointDistance(p, (v._1 + t * (w._1 - v._1), v._2 + t * (w._2 - v._2)))
  }

  /** reference planar/centriod.go:4-22 — NOTE: reproduces the reference's
    * quirk verbatim: iterates the OPEN ring (no closing edge) and divides by
    * `3*aa` where `aa` is the LAST cross product, not the accumulated sum.
    * Kept for output parity; documented as `ST_CentroidRef`.
    */
  def pointsCentroidRef(pts: IndexedSeq[Pt]): Pt = {
    if (pts.isEmpty) return (0.0, 0.0)
    if (pts.length == 1) return pts.head
    var aa = 0.0
    var cx = 0.0
    var cy = 0.0
    var i = 0
    while (i < pts.length - 1) {
      val pt = pts(i); val npt = pts(i + 1)
      aa = (pt._1 * npt._2) - (npt._1 * pt._2)
      cx += (pt._1 + npt._1) * aa
      cy += (pt._2 + npt._2) * aa
      i += 1
    }
    (cx / (3 * aa), cy / (3 * aa))
  }

  /** reference planar/line_intersect.go:141-178 SegmentIntersect:
    * returns the infinite-line intersection point plus whether it lies on
    * both segments (u, t ∈ [0, 1]).
    */
  def segmentIntersect(l1: Seg, l2: Seg): (Pt, Boolean) = {
    val deltaX12 = l1.x1 - l1.x2
    val deltaX13 = l1.x1 - l2.x1
    val deltaX34 = l2.x1 - l2.x2
    val deltaY12 = l1.y1 - l1.y2
    val deltaY13 = l1.y1 - l2.y1
    val deltaY34 = l2.y1 - l2.y2
    val denom = (deltaX12 * deltaY34) - (deltaY12 * deltaX34)
    if (denom == 0) return ((0.0, 0.0), false)

    val cross1 = (l1.x1 * l1.y2) - (l1.y1 * l1.x2)
    val cross2 = (l2.x1 * l2.y2) - (l2.y1 * l2.x2)
    val xnom = (cross1 * deltaX34) - (deltaX12 * cross2)
    val ynom = (cross1 * deltaY34) - (deltaY12 * cross2)
    var bx = xnom / denom
    var by = ynom / denom
    if (bx == 0.0) bx = 0.0
    if (by == 0.0) by = 0.0

    val t = ((deltaX13 * deltaY34) - (deltaY13 * deltaX34)) / denom
    val u = -((deltaX12 * deltaY13) - (deltaY12 * deltaX13)) / denom
    ((bx, by), u >= 0.0 && u <= 1.0 && t >= 0.0 && t <= 1.0)
  }

  /** reference triangle.go:34-38 — centroid = mean of 3 vertices. */
  def triangleCenter(a: Pt, b: Pt, c: Pt): Pt =
    ((a._1 + b._1 + c._1) / 3, (a._2 + b._2 + c._2) / 3)
}
