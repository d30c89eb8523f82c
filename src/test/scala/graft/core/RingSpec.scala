package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

/** Point-in-ring / hitmap semantics
  * (reference planar/intersect/ring.go, makevalid/hitmap).
  */
class RingSpec extends AnyFunSuite {

  private def P(ps: (Double, Double)*): IndexedSeq[Pt] = ps.toVector

  private val square = P((0, 0), (10, 0), (10, 10), (0, 10))

  test("ray-cast containment basic") {
    val r = Ring.fromPoints(square)
    assert(r.containsPoint((5, 5)))
    assert(!r.containsPoint((15, 5)))
    assert(!r.containsPoint((-5, 5)))
    assert(!r.containsPoint((5, 15)))
  }

  test("border points honor IncludeBorder") {
    val incl = Ring.fromPoints(square, includeBorder = true)
    val excl = Ring.fromPoints(square, includeBorder = false)
    for (pt <- Seq[Pt]((0, 5), (10, 5), (5, 0), (5, 10), (0, 0), (10, 10))) {
      assert(incl.containsPoint(pt), s"incl $pt")
      assert(!excl.containsPoint(pt), s"excl $pt")
    }
  }

  test("vertex-crossing ray counts correctly (ring.go:131-145 endpoint rule)") {
    // diamond: ray through vertex y must not double-count
    val diamond = P((5, 0), (10, 5), (5, 10), (0, 5))
    val r = Ring.fromPoints(diamond)
    assert(r.containsPoint((5, 5)))
    assert(!r.containsPoint((0.5, 0.5)))  // inside bbox, outside ring
    assert(!r.containsPoint((9.5, 0.5)))
    assert(r.containsPoint((5.0, 9.0)))
    // point at the same y as the top vertex but left of it (outside)
    assert(!r.containsPoint((1.0, 9.0)))
  }

  test("concave ring") {
    // U shape
    val u = P((0, 0), (10, 0), (10, 10), (7, 10), (7, 3), (3, 3), (3, 10), (0, 10))
    val r = Ring.fromPoints(u)
    assert(r.containsPoint((1, 5)))   // left arm
    assert(r.containsPoint((9, 5)))   // right arm
    assert(!r.containsPoint((5, 5)))  // the notch
    assert(r.containsPoint((5, 1)))   // bottom bar
  }

  test("hitmap: exterior inclusive, holes exclusive, hole wins inside") {
    val hm = PolygonHitmap.ofPolygon(Vector(
      square,
      P((3, 3), (7, 3), (7, 7), (3, 7)).reverse // hole (CCW as stored)
    ))
    assert(hm.labelInside((1, 1)))
    assert(!hm.labelInside((5, 5)))   // in the hole
    assert(hm.labelInside((0, 5)))    // on exterior border ⇒ Inside
    assert(!hm.labelInside((50, 50)))
    // on the hole border: hole ring is border-exclusive, so the point falls
    // through to the exterior ring ⇒ Inside
    assert(hm.labelInside((3, 5)))
  }

  test("hitmap multi-polygon: smallest ring is checked first") {
    val small = P((20, 20), (22, 20), (22, 22), (20, 22))
    val hm = PolygonHitmap(Vector(Vector(square), Vector(small)))
    assert(hm.labelInside((21, 21)))
    assert(hm.labelInside((5, 5)))
    assert(!hm.labelInside((15, 15)))
  }

  test("prec-20 rounding emulates big.Float SetPrec(20)") {
    // 20-bit mantissa keeps ~6 significant decimal digits
    val v = 123.456789012
    val r = Ring.roundPrec20(v)
    assert(math.abs(r - v) < 1e-3)
    assert(Ring.roundPrec20(0.0) == 0.0)
    // exact powers of two unchanged
    assert(Ring.roundPrec20(1024.0) == 1024.0)
    // values needing > 20 bits are rounded to nearest even
    val x = 1.0 + math.pow(2, -21)
    assert(Ring.roundPrec20(x) == 1.0)
  }

  test("collection hitmap dispatch (hitmap.go:89-136 New + OrderedHM)") {
    def box(minx: Double, miny: Double, maxx: Double, maxy: Double) =
      Vector(Vector[Pt]((minx, miny), (minx, maxy), (maxx, maxy), (maxx, miny)))
    val small = GPolygon(box(0, 0, 2, 2))
    val big = GPolygon(box(10, 10, 30, 30))
    // points/lines yield no hitmap (nil in the reference) and are skipped
    val coll = GCollection(Vector(
      small, GPoint((5.0, 5.0)), GLineString(Vector[Pt]((0, 0), (9, 9))), big))
    val hm = Hitmap.forGeometry(coll).get.asInstanceOf[OrderedHitmap]
    assert(hm.hms.length == 2)
    // largest area first (ascending sort reversed by NewOrderedHM)
    assert(hm.hms.head.area >= hm.hms(1).area)
    // first-inside-wins across members; outside all -> Outside
    assert(hm.labelInside((1.0, 1.0)))
    assert(hm.labelInside((20.0, 20.0)))
    assert(!hm.labelInside((5.0, 5.0)))
    // extent accumulates member extents into the zero-origin quirk box
    assert(hm.extent == Geom.Extent(0, 0, 30, 30))
    assert(hm.area == 900.0)
    // single geometries dispatch directly
    assert(Hitmap.forGeometry(small).get.isInstanceOf[PolygonHitmap])
    assert(Hitmap.forGeometry(GPoint((0.0, 0.0))).isEmpty)
  }
}
