package graft.core

import graft.core.Geom._

/** Winding-order (ring orientation) kernel.
  *
  * Semantics from /root/reference/winding/winding.go:
  *   - Orient sums cross products around the ring (the shoelace sum) with
  *     the previous-index starting at the LAST point; the SIGN BIT of the
  *     sum decides (so -0.0 counts as negative) — winding.go:108-147.
  *   - Orientation translates all points so the first is the origin before
  *     summing, and flips the sign when the y axis points down —
  *     winding.go:151-168.
  *   - Constants: Clockwise = -1, Colinear = 0, CounterClockwise = 1
  *     for the default y-up axis (winding.go:16-71 with yPositiveDown=false).
  */
object Winding {

  val Clockwise: Int = -1
  val Colinear: Int = 0
  val CounterClockwise: Int = 1

  /** reference winding/winding.go:108-133 xprod — exact summation order. */
  def xprod(pts: IndexedSeq[Pt]): Double = {
    var sum = 0.0
    var li = pts.length - 1
    var i = 0
    while (i < pts.length) {
      sum += (pts(li)._1 * pts(i)._2) - (pts(i)._1 * pts(li)._2)
      li = i
      i += 1
    }
    sum
  }

  /** reference winding/winding.go:135-147 Orient:
    * 0 colinear, -1 when sign bit set, else 1.
    */
  def orient(pts: IndexedSeq[Pt]): Int = {
    if (pts.length < 3) return 0
    val sum = xprod(pts)
    if (sum == 0.0) 0
    else if (java.lang.Double.doubleToRawLongBits(sum) < 0) -1
    else 1
  }

  /** reference winding/winding.go:151-168 Orientation. The translated
    * copy is computed inline (identical FP ops in identical order to the
    * round-2 `pts.map` + xprod — each adjusted point is just recomputed at
    * its two uses) instead of materializing an adjusted Vector per call.
    */
  def orientation(yPositiveDown: Boolean, pts: IndexedSeq[Pt]): Int = {
    if (pts.length < 3) return Colinear
    val mul = if (yPositiveDown) -1 else 1
    val p0 = pts(0)
    val p0x = p0._1; val p0y = p0._2
    var sum = 0.0
    var li = pts.length - 1
    var i = 0
    while (i < pts.length) {
      val lp = pts(li); val cp = pts(i)
      val lx = lp._1 - p0x; val ly = lp._2 - p0y
      val cx = cp._1 - p0x; val cy = cp._2 - p0y
      sum += (lx * cy) - (cx * ly)
      li = i
      i += 1
    }
    if (sum == 0.0) Colinear
    else if (java.lang.Double.doubleToRawLongBits(sum) < 0) -mul
    else mul
  }

  def ofPoints(pts: IndexedSeq[Pt]): Int = orientation(yPositiveDown = false, pts)

  /** Allocation-free 3-point orientation — bit-for-bit the operations of
    * `orientation(yDown, Vector(p1, p2, p3))`: translate every point by p1,
    * then the xprod shoelace with the previous-index starting at the LAST
    * point, sign-bit decide (so −0.0 counts negative). The hot quad-edge
    * predicates (rightOf, resolveEdge, setOfThreeAreColinear) run this tens
    * of times per inserted site; the Vector+tuple version was the dominant
    * allocation source behind the round-2 q33 DRAM wall.
    */
  def orientation3(yPositiveDown: Boolean,
                   x1: Double, y1: Double, x2: Double, y2: Double,
                   x3: Double, y3: Double): Int = {
    val mul = if (yPositiveDown) -1 else 1
    val ax = x1 - x1; val ay = y1 - y1 // kept: identical FP ops to the map
    val bx = x2 - x1; val by = y2 - y1
    val cx = x3 - x1; val cy = y3 - y1
    var sum = (cx * ay) - (ax * cy) // li = last, i = 0
    sum += (ax * by) - (bx * ay)
    sum += (bx * cy) - (cx * by)
    if (sum == 0.0) Colinear
    else if (java.lang.Double.doubleToRawLongBits(sum) < 0) -mul
    else mul
  }

  /** reference winding/winding.go:203-236 RectifyPolygon:
    * ring 0 forced clockwise, others counter-clockwise; colinear rings are
    * dropped; a colinear ring 0 nullifies the polygon.
    */
  def rectifyPolygon(yPositiveDown: Boolean,
                     rings: IndexedSeq[IndexedSeq[Pt]]): Option[IndexedSeq[IndexedSeq[Pt]]] = {
    val out = Vector.newBuilder[IndexedSeq[Pt]]
    var i = 0
    while (i < rings.length) {
      val wo = orientation(yPositiveDown, rings(i))
      if (wo == Colinear) {
        if (i == 0) return None
      } else {
        val wantReverse =
          (i == 0 && wo == CounterClockwise) || (i != 0 && wo == Clockwise)
        out += (if (wantReverse) rings(i).reverse else rings(i))
      }
      i += 1
    }
    Some(out.result())
  }

  def rectifyPolygon(rings: IndexedSeq[IndexedSeq[Pt]]): Option[IndexedSeq[IndexedSeq[Pt]]] =
    rectifyPolygon(yPositiveDown = false, rings)

  /** reference winding/winding.go:250-267 — triangle-area colinearity with
    * the default tolerance compare.
    */
  def threePointsAreColinear(p1: Pt, p2: Pt, p3: Pt): Boolean = {
    val a = p1._1 - p2._1
    val b = p2._1 - p3._1
    val c = p1._2 - p2._2
    val d = p2._2 - p3._2
    val area = 0.5 * (a * d - b * c)
    Cmp.Default.float(area, 0.0)
  }
}
