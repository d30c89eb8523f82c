package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.Geom._
import graft.core.QuadEdge.Edge

/** Constrained insertion — ports the reference's golden tests:
  *
  *  - TestFindIntersectingEdges (subdivision_constrained_test.go:15-232):
  *    build a subdivision from a .lines corpus, force EVERY line in as a
  *    constraint (insertion must not error), then compare
  *    FindIntersectingEdges against golden expected edge lists.
  *  - the constrained case corpus (constrained_cases_test.go): "First Test"
  *    + "natural earth cities 2.0.1" (8522 constraints) run through the
  *    production GeomConstrained flow (constrained.go:84-96) where
  *    individual insert failures are skipped, exactly as the reference
  *    does; the subdivision must stay traversable throughout.
  *  - constrained parity: forcing the bow-tie's segments in as constraints
  *    must not change the triangulation its repair is built from.
  */
class ConstrainedSpec extends AnyFunSuite {

  private val cmp = Cmp.HiCmp

  private def readLines(resource: String): IndexedSeq[Seg] = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(resource))
    val text = try src.mkString finally src.close()
    Wkt.decode(text) match {
      case GMultiLineString(ls) => ls.map(l => Seg(l(0), l(1)))
      case other                => fail(s"expected MULTILINESTRING in $resource, got $other")
    }
  }

  /** subdivision_constrained_test.go:34-77: points from line endpoints,
    * then every line inserted as a constraint (must not error).
    */
  private def constrainedSubdivision(lines: IndexedSeq[Seg])
      : (Subdivision, SubdivisionConstrained.VertexIndex) = {
    val pts = lines.flatMap(l => Seq(l.p1, l.p2))
    val sd = Subdivision.forPoints(pts).getOrElse(fail("NewForPoints failed"))
    val vx = SubdivisionConstrained.vertexIndex(sd)
    lines.zipWithIndex.foreach { case (ln, i) =>
      SubdivisionConstrained.resolveStartingEndingEdges(vx, ln.p1, ln.p2) match {
        case Right(None) => // already present
        case _ =>
          SubdivisionConstrained.insertConstraint(sd, vx, ln.p1, ln.p2) match {
            case Left(err) => fail(s"insert constraint $i (${ln.p1} -> ${ln.p2}): $err")
            case Right(()) =>
          }
      }
    }
    (sd, vx)
  }

  /** subdivision_constrained_test.go:79-132: first edge found in walk order
    * whose orig/dest matches.
    */
  private def findEdge(sd: Subdivision, at: Pt, dest: Option[Pt]): Edge = {
    var found: Edge = null
    sd.walkAllEdges { ee =>
      if (found == null) {
        if (cmp.pointEqual(at, ee.orig) &&
            dest.forall(d => cmp.pointEqual(d, ee.dest))) found = ee
        else if (cmp.pointEqual(at, ee.dest) &&
            dest.forall(d => cmp.pointEqual(d, ee.orig))) found = ee.sym
      }
      found == null
    }
    assert(found != null, s"no edge at $at")
    found
  }

  private def runFindIntersecting(resource: String, start: Pt, end: Pt,
                                  expected: IndexedSeq[Seg],
                                  startDest: Option[Pt] = None,
                                  endDest: Option[Pt] = None): Unit = {
    val lines = readLines(resource)
    val (sd, _) = constrainedSubdivision(lines)
    val startingEdge = findEdge(sd, start, startDest)
    val endingEdge = findEdge(sd, end, endDest)
    val got = SubdivisionConstrained.findIntersectingEdges(startingEdge, endingEdge) match {
      case Left(err) => fail(s"FindIntersectingEdges error: $err")
      case Right(es) => es
    }
    val gotSegs = got.map(_.asSeg)
    assert(gotSegs.length == expected.length,
      s"expected ${expected.length} edges, got ${gotSegs.length}: $gotSegs")
    // golden lists are unordered per edge direction — compare as unordered
    // multisets of normalized segments
    def norm(s: Seg): (Pt, Pt) =
      if (Cmp.pointLess(s.p1, s.p2)) (s.p1, s.p2) else (s.p2, s.p1)
    assert(gotSegs.map(norm).sorted == expected.map(norm).sorted,
      s"edge sets differ:\n got: ${gotSegs.map(norm).sorted}\n exp: ${expected.map(norm).sorted}")
  }

  test("FindIntersectingEdges: find_intersects_test_02 (no intersections)") {
    runFindIntersecting("/constrained/find_intersects_test_02.lines",
      (4080.0, 312.0), (4082.0, 310.0), Vector.empty)
  }

  test("FindIntersectingEdges: find_intersects_test_02 (one intersection)") {
    runFindIntersecting("/constrained/find_intersects_test_02.lines",
      (4081.0, 310.0), (4083.0, 312.0), Vector(Seg((4082.0, 310.0), (4080.0, 312.0))))
  }

  test("FindIntersectingEdges: first_issue (intersecting_lines_97_trucated)") {
    // KNOWN DIVERGENCE from the reference golden (documented, like the
    // makevalid issue#70 fixture): the golden's graph walks the edge
    // (2676.168,3439.72)-(2678.653,3446.005) TWICE and lacks the edge
    // (2676.168,3439.72)-(2684.923,3439.233) — even though the latter IS
    // constraint line #7 of the corpus, i.e. the reference's own
    // constrained flow LOST a forced constraint edge to a later removal
    // pass. Our graph preserves every constraint (asserted below for all
    // 55), so the query's channel crosses the preserved constraint edge
    // instead of revisiting the doubled one. The other three golden edges
    // match exactly.
    runFindIntersecting("/constrained/intersecting_lines_97_trucated.lines",
      (2674.923, 3448.779), (2687.408, 3432.536),
      startDest = Some((2676.168, 3439.720)), endDest = Some((2685.657, 3436.985)),
      expected = Vector(
        Seg((2676.168, 3439.720), (2678.653, 3446.005)),
        Seg((2676.168, 3439.720), (2684.923, 3439.233)),
        Seg((2676.168, 3439.720), (2685.657, 3436.985)),
        Seg((2680.390, 3431.154), (2685.657, 3436.985))))
  }

  test("first_issue: every constraint edge is preserved in the final graph") {
    val lines = readLines("/constrained/intersecting_lines_97_trucated.lines")
    val (_, vx) = constrainedSubdivision(lines)
    lines.zipWithIndex.foreach { case (ln, i) =>
      val s = Subdivision.roundPoint(ln.p1)
      val e = Subdivision.roundPoint(ln.p2)
      val edge = vx.get(s).getOrElse(fail(s"constraint $i: start vertex missing"))
      assert(edge.findONextDest(e) != null, s"constraint $i (${ln.p1} -> ${ln.p2}) lost")
    }
  }

  test("FindIntersectingEdges: asia issue") {
    runFindIntersecting("/constrained/asia_issue.lines",
      (1469.542, 3159.987), (1492.312, 3183.492),
      startDest = Some((1482.934, 3156.923)), endDest = Some((1484.801, 3180.385)),
      expected = Vector(
        Seg((1470.727, 3163.057), (1482.934, 3156.923)),
        Seg((1471.468, 3164.378), (1482.934, 3156.923)),
        Seg((1471.468, 3164.378), (1483.423, 3157.457)),
        Seg((1472.934, 3168.822), (1483.423, 3157.457)),
        Seg((1473.957, 3170.003), (1483.423, 3157.457)),
        Seg((1473.957, 3170.003), (1483.912, 3157.698)),
        Seg((1475.934, 3171.850), (1483.912, 3157.698)),
        Seg((1475.934, 3171.850), (1488.957, 3164.796)),
        Seg((1478.786, 3173.961), (1488.957, 3164.796)),
        Seg((1478.786, 3173.961), (1489.897, 3166.707)),
        Seg((1482.134, 3176.436), (1489.897, 3166.707)),
        Seg((1482.934, 3177.233), (1489.897, 3166.707)),
        Seg((1483.497, 3178.046), (1489.897, 3166.707)),
        Seg((1483.497, 3178.046), (1498.379, 3177.820)),
        Seg((1484.268, 3179.580), (1498.379, 3177.820)),
        Seg((1484.801, 3180.385), (1498.379, 3177.820))))
  }

  /** the production flow (constrained.go:84-96): failures are skipped. */
  private def runProductionFlow(points: IndexedSeq[Pt],
                                constraints: IndexedSeq[(Pt, Pt)]): (Int, Int, Int) = {
    val pts = points ++ constraints.flatMap(c => Seq(c._1, c._2))
    val sd = Subdivision.forPoints(pts).getOrElse(fail("NewForPoints failed"))
    val vx = SubdivisionConstrained.vertexIndex(sd)
    var inserted = 0; var existed = 0; var failed = 0
    constraints.foreach { case (s, e) =>
      SubdivisionConstrained.resolveStartingEndingEdges(vx, s, e) match {
        case Right(None) => existed += 1
        case _ =>
          SubdivisionConstrained.insertConstraint(sd, vx, s, e) match {
            case Left(_)   => failed += 1
            case Right(()) => inserted += 1
          }
      }
    }
    assert(sd.triangles(includeFrame = false).nonEmpty)
    (inserted, existed, failed)
  }

  test("First Test (constrained_cases_test.go:8-11) — production flow") {
    val points = Vector[Pt]((516, 661), (369, 793), (426, 539), (273, 525),
      (204, 694), (747, 750), (454, 390))
    val (ins, ex, fail_) = runProductionFlow(points, Vector(((204.0, 694.0), (516.0, 661.0))))
    assert(ins + ex + fail_ == 1)
  }

  test("natural earth cities 2.0.1 (8522 constraints) — production flow") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/constrained/ne_cities_constraints.txt"))
    val constraints =
      try src.getLines().map { ln =>
        val a = ln.trim.split("\\s+").map(_.toDouble)
        ((a(0), a(1)), (a(2), a(3)))
      }.toVector
      finally src.close()
    assert(constraints.length == 8522)
    val (inserted, existed, failed) = runProductionFlow(Vector.empty, constraints)
    info(s"inserted=$inserted existed=$existed failed=$failed")
    assert(inserted + existed + failed == 8522)
    assert(failed == 0, s"constraint insertions failed: $failed")
  }

  private def loadWkt(resource: String): Geometry = {
    val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(resource))
    val text = try src.mkString finally src.close()
    Wkt.decode(text)
  }

  /** constrained.go:33-113 Triangles with constrained insertion on
    * (constrained.go:84-96): the points of the non-zero-length segments,
    * deduped in first-seen order, triangulated, then every segment forced
    * in as a constraint, individual failures skipped as the reference does.
    */
  private def constrainedTriangles(segs: IndexedSeq[Seg]): IndexedSeq[(Pt, Pt, Pt)] = {
    val kept = segs.filterNot(s => Cmp.Default.float(math.sqrt(s.lengthSquared), 0.0))
    val pts = kept.flatMap(s => Seq(s.p1, s.p2)).distinct
    Subdivision.forPoints(pts) match {
      case Some(sd) =>
        val vx = SubdivisionConstrained.vertexIndex(sd)
        kept.foreach(ct => SubdivisionConstrained.insertConstraint(sd, vx, ct.p1, ct.p2))
        sd.triangles(includeFrame = false)
      case None => Vector.empty
    }
  }

  /** constrained_test.go:176-198 "issue#70": the 4-ring web-mercator polygon
    * run through the GeomConstrained flow (constraints = every ring segment,
    * must.ParseLines semantics) with constraints ENABLED must triangulate to
    * exactly 73 triangles. Note the reference's own TestGeomConstrained is
    * skipped in its CI unless TEGOLA_MAKEVALID=CONSTRAINED is set, so this
    * expectation is only exercised in the experimental mode — same here.
    */
  test("GeomConstrained issue#70 (constrained_test.go) — 73 triangles") {
    val tris = constrainedTriangles(Geom.segments(loadWkt("/constrained/issue70_polygon.wkt")))
    info(s"issue#70 constrained triangles: ${tris.length}")
    assert(tris.length == 73, s"expected 73 triangles, got ${tris.length}")
  }

  /** constrained_test.go:199-210 "issue#70_full": the full multilinestring
    * corpus must run through the flow without invalidating the subdivision.
    * (The reference's expectation list for this case is empty and the test is
    * CI-skipped, so the only portable assertion is that the flow completes
    * and yields a traversable triangulation.)
    */
  test("GeomConstrained issue#70_full — flow completes") {
    val tris = constrainedTriangles(Geom.segments(loadWkt("/constrained/issue70_full.lines")))
    info(s"issue#70_full constrained triangles: ${tris.length}")
    assert(tris.nonEmpty)
  }

  test("constrained insertion keeps the bow-tie repair's triangulation") {
    val bow = Vector(Vector(Vector[Pt]((0, 0), (2, 2), (2, 0), (0, 2))))
    assert(MakeValid.makeValid(bow, None).isDefined)
    val segs = MakeValid.destructure(None, bow)
    val plain = MakeValid.delaunayTriangles(segs)
    assert(plain.nonEmpty)
    assert(constrainedTriangles(segs).toSet == plain.toSet,
      "constraints changed the bow-tie triangulation")
  }
}
