package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Winding._

/** Ports of /root/reference/winding/winding_test.go (TestOfPoints and
  * TestRectifyPolygon tables).
  */
class WindingSpec extends AnyFunSuite {

  private def P(ps: (Double, Double)*): IndexedSeq[(Double, Double)] = ps.toVector

  test("OfPoints reference table (winding_test.go:113+)") {
    val cases: Seq[(IndexedSeq[(Double, Double)], Int)] = Seq(
      (P((0, 0), (10, 0), (10, 10), (0, 10)), CounterClockwise),
      (P((0, 10), (10, 10), (10, 0), (0, 0)), Clockwise),
      (P((20, 10), (20, 0), (0, 10)), Clockwise),
      (P((0, 0), (10, 0), (0, 10)), CounterClockwise),
      (P((0, 0), (1, 0), (0, 1)), CounterClockwise),
      (P((0, 0), (0, 10), (10, 0)), Clockwise),
      (P((0, 0), (0, 1), (1, 0)), Clockwise),
      (P((10, 0), (10, 10), (0, 10)), CounterClockwise),
      (P((0, 10), (10, 10), (10, 0)), Clockwise),
      // degenerate inputs
      (P((0, 0), (1, 1)), Colinear),
      (P((0, 0), (5, 5), (10, 10)), Colinear)
    )
    for ((pts, want) <- cases) {
      assert(ofPoints(pts) == want, s"pts=$pts")
      // y-down flips non-colinear orientations
      assert(orientation(yPositiveDown = true, pts) == -want, s"y-down pts=$pts")
    }
  }

  test("signbit convention: tiny negative sums are clockwise-side") {
    // the reference uses math.Signbit, so -1e-300 counts as negative
    val pts = P((0, 0), (1e-150, 0), (0, 1e-150))
    assert(ofPoints(pts) == CounterClockwise)
  }

  test("RectifyPolygon (winding_test.go:338+)") {
    val cw = P((0, 10), (10, 10), (10, 0), (0, 0))
    val ccw = P((0, 0), (10, 0), (10, 10), (0, 10))
    val holeCcw = P((2, 2), (8, 2), (8, 8), (2, 8))
    val holeCw = holeCcw.reverse
    val colinear = P((0, 0), (5, 5), (10, 10))

    // already-correct polygon unchanged
    assert(rectifyPolygon(Vector(cw, holeCcw)) == Some(Vector(cw, holeCcw)))
    // reversed exterior is flipped to CW
    assert(rectifyPolygon(Vector(ccw)) == Some(Vector(ccw.reverse)))
    // reversed hole flipped to CCW
    assert(rectifyPolygon(Vector(cw, holeCw)) == Some(Vector(cw, holeCw.reverse)))
    // colinear hole dropped
    assert(rectifyPolygon(Vector(cw, colinear)) == Some(Vector(cw)))
    // colinear exterior nullifies polygon
    assert(rectifyPolygon(Vector(colinear, holeCcw)).isEmpty)
  }

  test("threePointsAreColinear uses tolerance compare") {
    assert(threePointsAreColinear((0, 0), (5, 5), (10, 10)))
    assert(!threePointsAreColinear((0, 0), (5, 6), (10, 10)))
  }
}
