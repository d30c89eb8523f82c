package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._

/** Ports of the reference's planar + simplify + cmp unit tables. */
class PlanarSpec extends AnyFunSuite {

  private def P(ps: (Double, Double)*): IndexedSeq[Pt] = ps.toVector

  test("cmp.Float tolerance semantics (cmp/compare.go:39-60)") {
    val c = Cmp.Default
    assert(c.float(1.0, 1.0000001))
    assert(!c.float(1.0, 1.0001))
    assert(c.float(0.0, 1e-7))
    assert(!c.float(0.0, 1e-5))
    assert(c.float(Double.PositiveInfinity, Double.PositiveInfinity))
    assert(!c.float(Double.PositiveInfinity, Double.NegativeInfinity))
    assert(!c.float(Double.PositiveInfinity, 1.0))
    // -0.0 == 0.0 branch
    assert(c.float(-0.0, 0.0))
  }

  test("rotateToLeftMostPoint + lineStringEqual normalization") {
    val a = P((1, 1), (2, 2), (0, 0))
    val b = P((0, 0), (1, 1), (2, 2))
    assert(Cmp.Default.lineStringEqual(a, b))
    assert(!Cmp.Default.lineStringEqual(a, P((0, 0), (2, 2), (1, 1))))
  }

  test("perpendicular distance (planar.go:19-32)") {
    val l = Seg(0, 0, 10, 0)
    assert(Planar.perpendicularDistance(l, 5, 5) == 5.0)
    assert(Planar.perpendicularDistance(l, 5, -5) == 5.0)
    assert(Planar.perpendicularDistance(Seg(0, 0, 0, 0), 3, 4) == 0.0) // degenerate
  }

  test("slope (planar.go:35-46)") {
    assert(Planar.slope(Seg(0, 0, 2, 2)) == ((1.0, 0.0, true)))
    assert(Planar.slope(Seg(0, 5, 10, 5)) == ((0.0, 5.0, true)))  // horizontal
    assert(Planar.slope(Seg(3, 0, 3, 10)) == ((0.0, 0.0, false))) // vertical: undefined
  }

  test("point on line / segment with tolerance") {
    val c = Cmp.Default
    assert(Planar.isPointOnLine(c, (5, 5), (0, 0), (10, 10)))
    assert(Planar.isPointOnLine(c, (50, 50), (0, 0), (10, 10))) // infinite line
    assert(Planar.isPointOnLine(c, (3, 7), (3, 0), (3, 10))) // vertical
  }

  test("distances (distance.go)") {
    assert(Planar.pointDistance((0, 0), (3, 4)) == 5.0)
    assert(Planar.pointDistance2((0, 0), (3, 4)) == 25.0)
    assert(Planar.distanceToLineSegment((5, 5), (0, 0), (10, 0)) == 5.0)
    assert(Planar.distanceToLineSegment((-3, 4), (0, 0), (10, 0)) == 5.0) // clamps to v
    assert(Planar.distanceToLineSegment((13, 4), (10, 0), (10, 0)) == 5.0) // degenerate
  }

  test("segment intersect (line_intersect.go:141-178)") {
    val ((x, y), ok) = Planar.segmentIntersect(Seg(0, 0, 10, 10), Seg(0, 10, 10, 0))
    assert(ok && x == 5.0 && y == 5.0)
    // parallel
    assert(!Planar.segmentIntersect(Seg(0, 0, 10, 0), Seg(0, 1, 10, 1))._2)
    // lines cross but off-segment
    val (_, ok2) = Planar.segmentIntersect(Seg(0, 0, 1, 1), Seg(5, 0, 6, -1))
    assert(!ok2)
  }

  test("centroid quirk replicated verbatim (centriod.go:4-22)") {
    // unit square, open ring: aa is the LAST cross product — the reference
    // divides by 3*aa, not the ring area sum
    val pts = P((0, 0), (1, 0), (1, 1), (0, 1))
    val (cx, cy) = Planar.pointsCentroidRef(pts)
    // manual trace: aa values 0,1,1 → sum cx=(1+1)*1? compute explicitly:
    // i=0: aa=0*0-1*0=0 cx+=0 cy+=0 ; i=1: aa=1*1-1*0=1 cx+=2 cy+=1
    // i=2: aa=1*1-0*1=1 cx+=1 cy+=2 → cx=3/(3*1)=1, cy=3/3=1
    assert(cx == 1.0 && cy == 1.0)
  }

  test("Douglas-Peucker reference table (douglaspeucker_test.go:70-110)") {
    def check(in: IndexedSeq[Pt], tol: Double, want: IndexedSeq[Pt]): Unit = {
      val got = Simplify.douglasPeucker(in, tol)
      assert(Cmp.Default.lineStringEqual(got, want), s"got=$got want=$want")
    }
    // simple box: nothing to drop
    check(P((0, 0), (0, 1), (1, 1), (1, 0)), 0.001, P((0, 0), (0, 1), (1, 1), (1, 0)))
    // x axis: 100 colinear points → endpoints
    val xaxis = (0 to 100).map(i => (i.toDouble, 0.0))
    check(xaxis, 0.001, P((0, 0), (100, 0)))
    // diagonal
    val diag = (0 to 100).map(i => (i.toDouble, i.toDouble))
    check(diag, 0.001, P((0, 0), (100, 100)))
    // sin wave sampled 9 points over [0, 2π], tolerance .5 → zigzag
    val n = 9
    val sin = (0 until n).map { i =>
      val t = 0 + (2 * math.Pi - 0) * (i.toDouble / (n - 1))
      (t, math.sin(t))
    }
    check(sin, 0.5, P((0, 0), (math.Pi / 2, 1), (3 * math.Pi / 2, -1), (2 * math.Pi, 0)))
    // tolerance <= 0 is identity
    check(P((0, 0), (0.0001, 17), (2, 2)), 0.0, P((0, 0), (0.0001, 17), (2, 2)))
  }

  test("simplify geometry dispatch drops collapsed closed rings") {
    val poly = GPolygon(Vector(
      P((0, 0), (10, 0), (10, 10), (0, 10)),  // keeps 4 corners
      P((1, 1), (1.001, 1.001), (1.002, 1.0)) // collapses ⇒ dropped (≤2 pts)
    ))
    val got = Simplify.geometry(poly, 0.01).asInstanceOf[GPolygon]
    assert(got.rings.length == 2 && got.rings(1).isEmpty)
    assert(got.rings.head.length == 4)
  }

  test("extent algebra (bbox.go)") {
    val e = Extent(0, 0, 10, 10)
    assert(e.containsPoint(0, 0) && e.containsPoint(10, 10) && !e.containsPoint(10.1, 5))
    assert(e.intersect(Extent(5, 5, 15, 15)) == Some(Extent(5, 5, 10, 10)))
    assert(e.intersect(Extent(10, 0, 20, 10)).isEmpty) // open interval: touch ⇒ disjoint
    assert(e.intersect(Extent(20, 20, 30, 30)).isEmpty)
    assert(Extent.ofPoints(P((3, 7), (1, 9), (5, 2))) == Some(Extent(1, 2, 5, 9)))
    assert(e.area == 100.0)
    assert(e.edges.length == 4 && e.edges.head == Seg(0, 0, 10, 0))
  }

  test("Douglas-Peucker natural-earth golden (douglaspeucker_test.go:104-110)") {
    // gtesting.NaturalEarthLineStrings[0] at tolerance 500 — expected WKT
    // copied from the reference test (coordinates rounded to mm there, so
    // compare with the default comparator)
    def load(name: String): Geometry = {
      val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(name))
      try Wkt.decode(src.mkString.trim) finally src.close()
    }
    val GLineString(in) = load("/naturalearth/parks_line0.wkt"): @unchecked
    val got = Simplify.douglasPeucker(in, 500.0)
    val expected = Vector[Pt](
      (-7785560.894, 5112305.653), (-7784854.276, 5122268.298),
      (-7786050.091, 5139676.21), (-7790380.39, 5154033.469),
      (-7793922.539, 5160820.971), (-7798053.535, 5166936.297),
      (-7805482.082, 5172042.522), (-7813762.194, 5173879.48),
      (-7817897.72, 5173061.654))
    assert(got.length == expected.length, s"got ${got.length} points: $got")
    got.zip(expected).foreach { case (g, e) =>
      assert(Cmp.Default.pointEqual(g, e), s"$g != $e")
    }
  }

  test("natural-earth SouthAfrica (hole) codec + hitmap stress (natural_earth_picked.go)") {
    def load(name: String): Geometry = {
      val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(name))
      try Wkt.decode(src.mkString.trim) finally src.close()
    }
    val g = load("/naturalearth/south_africa.wkt")
    val GPolygon(rings) = g: @unchecked
    assert(rings.length == 2 && rings.head.length == 81 && rings(1).length == 11)
    // WKT round trip is exact
    assert(Wkt.decode(Wkt.encode(g)) == g)
    // WKB round trip is byte-exact on re-encode
    val wkb = Wkb.encode(g)
    assert(Wkb.encode(Wkb.decode(wkb)) sameElements wkb)
    // hitmap: a point inside the shell but in the Lesotho hole is Outside
    val hm = Hitmap.forGeometry(g).get
    val hole = rings(1)
    val hx = hole.map(_._1).sum / hole.length
    val hy = hole.map(_._2).sum / hole.length
    assert(!hm.labelInside((hx, hy)), "hole centroid must be Outside")
    // shell centroid-ish point away from the hole is Inside
    assert(hm.labelInside((2200000.0, -3900000.0)))
    // makevalid on the valid polygon returns a polygon with the hole intact
    val repaired = MakeValid.makeValid(Vector(rings), None)
    assert(repaired.isDefined && repaired.get.nonEmpty)
    assert(repaired.get.head.length == 2, s"hole lost: ${repaired.get.head.length} rings")
  }

  test("applyToPoints preserves structure (utils.go:6-110)") {
    val g = GCollection(Vector(
      GPoint((1.0, 2.0)),
      GPolygon(Vector(Vector[Pt]((0, 0), (0, 1), (1, 1), (1, 0)))),
      GMultiLineString(Vector(Vector[Pt]((0, 0), (2, 2)), Vector[Pt]((3, 3), (4, 4))))))
    val shifted = Geom.applyToPoints(g)(p => (p._1 + 10, p._2 * 2))
    val GCollection(gs) = shifted: @unchecked
    assert(gs(0) == GPoint((11.0, 4.0)))
    val GPolygon(rs) = gs(1): @unchecked
    assert(rs.head == Vector[Pt]((10, 0), (10, 2), (11, 2), (11, 0)))
    val GMultiLineString(ls) = gs(2): @unchecked
    assert(ls(1) == Vector[Pt]((13, 6), (14, 8)))
  }
}
