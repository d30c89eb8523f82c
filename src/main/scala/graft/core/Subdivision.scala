package graft.core

import graft.core.Geom._
import graft.core.QuadEdge.{Edge, cmp => qcmp}
import scala.collection.mutable

/** Incremental Delaunay subdivision (Guibas–Stolfi InsertSite).
  *
  * Semantics from /root/reference/planar/triangulate/delaunay/subdivision/
  * subdivision.go: vertices pre-rounded to 1e-3 (RoundingFactor=1000,
  * subdivision_constrained.go:19-25), super-triangle frame
  * (geom.NewTriangleForExtent, triangle.go:91-123, buff=10), locate via the
  * paper's edge walk with a WalkAllEdges fallback, in-circle test via
  * CircleFromPoints + Circle.ContainsPoint (circle.go:25-126, tolerance
  * 1e-9), swap loop with the colinear RETRY guard (subdivision.go:330-420).
  */
final class Subdivision private (var startingEdge: Edge, val frame: (Pt, Pt, Pt)) {
  var ptcount: Int = 3

  import Subdivision._

  // resetPool-contract enforcement: the edges of this subdivision live in
  // the BUILDING thread's pool; after that thread's QuadEdge.resetPool()
  // they are silently recycled, no matter which thread reads them. Record
  // the builder's pool handle + generation at build and fail fast on any
  // read after that pool advanced.
  private val builtPool = QuadEdge.poolHandle
  private val builtGen = QuadEdge.generationOf(builtPool)

  private def checkLive(): Unit =
    if (QuadEdge.generationOf(builtPool) != builtGen)
      throw new IllegalStateException(
        "Subdivision used after QuadEdge.resetPool() recycled its pooled edges " +
          "(e.g. MakeValid.geometry ran on the building thread since it was built); " +
          "read or rebuild the subdivision before the next reset")

  private def locate(x: Pt): Option[Edge] =
    Subdivision.locate(startingEdge, x, ptcount * 2)

  /** reference subdivision.go:207-455 InsertSite (default y-up order). */
  def insertSite(x: Pt): Boolean = {
    checkLive()
    ptcount += 1
    var e = locate(x) match {
      case Some(ed) => ed
      case None     => return false
    }

    if (ptEqual(x, e) || ptEqualDest(x, e)) return true

    if (QuadEdge.onEdge(x, e)) {
      e = e.oPrev
      if (ptEqual(x, e) || ptEqualDest(x, e)) return true
      QuadEdge.delete(e.oNext)
    }

    var base = QuadEdge.newWithEndPoints(e.orig, x)
    QuadEdge.splice(base, e)
    val startEdge = base

    base = QuadEdge.connect(e, base.sym, yPositiveDown = false)
    e = base.oPrev
    while (e.lNext ne startEdge) {
      base = QuadEdge.connect(e, base.sym, yPositiveDown = false)
      e = base.oPrev
    }

    // Delaunay swap loop
    while (true) {
      val t = e.oPrev
      var containsPoint = false
      if (!setOfThreeAreColinear(x, e.orig, e.dest, t.dest)) {
        containsPoint = circumcircleContains(e.orig, t.dest, e.dest, x)
      }
      // RETRY loop: a swap candidate whose neighborhood is colinear resets
      // containsPoint and re-dispatches (subdivision.go RETRY label)
      var retry = true
      while (retry) {
        retry = false
        if (QuadEdge.rightOf(yPositiveDown = false, t.dest, e) && containsPoint) {
          val a = e.oPrev
          val b = e.sym.oPrev
          if (Winding.threePointsAreColinear(e.dest, a.dest, b.dest)) {
            containsPoint = false
            retry = true
          } else {
            QuadEdge.swap(e)
            e = e.oPrev
          }
        } else if (e.oNext eq startEdge) {
          return true
        } else {
          e = e.oNext.lPrev
        }
      }
    }
    true
  }

  /** reference subdivision.go Triangles + WalkAllTriangles, frame excluded. */
  def triangles(includeFrame: Boolean): IndexedSeq[(Pt, Pt, Pt)] = {
    checkLive()
    val out = Vector.newBuilder[(Pt, Pt, Pt)]
    walkAllTriangles(startingEdge) { (start, mid, end) =>
      if (includeFrame || !isFramePoint3(frame, start, mid, end))
        out += ((start, mid, end))
      true
    }
    out.result()
  }

  def walkAllEdges(fn: Edge => Boolean): Unit = {
    checkLive()
    Subdivision.walkAllEdges(startingEdge, fn)
  }
}

object Subdivision {

  val RoundingFactor = 1000.0

  /** reference subdivision_constrained.go:19-25 — Go math.Round is
    * half-away-from-zero; −0 normalized for map-key parity with Go.
    */
  def roundPoint(p: Pt): Pt = {
    var x = Geom.roundHalfAway(p._1 * RoundingFactor) / RoundingFactor
    var y = Geom.roundHalfAway(p._2 * RoundingFactor) / RoundingFactor
    if (x == 0.0) x = 0.0
    if (y == 0.0) y = 0.0
    (x, y)
  }

  private def ptEqual(x: Pt, e: Edge): Boolean =
    e.origDefined && qcmp.pointEqual(x, e.orig)
  private def ptEqualDest(x: Pt, e: Edge): Boolean =
    e.destDefined && qcmp.pointEqual(x, e.dest)

  /** reference subdivision.go:186-196 setOfThreeAreColinear — any of the
    * four triples colinear by WINDING orientation (exact sign), not the
    * area-tolerance test.
    */
  def setOfThreeAreColinear(p1: Pt, p2: Pt, p3: Pt, p4: Pt): Boolean = {
    val C = Winding.Colinear
    Winding.orientation3(false, p1._1, p1._2, p2._1, p2._2, p3._1, p3._2) == C ||
      Winding.orientation3(false, p1._1, p1._2, p2._1, p2._2, p4._1, p4._2) == C ||
      Winding.orientation3(false, p1._1, p1._2, p3._1, p3._2, p4._1, p4._2) == C ||
      Winding.orientation3(false, p2._1, p2._2, p3._1, p3._2, p4._1, p4._2) == C
  }

  /** reference circle.go:25-93 CircleFromPoints — exact branch structure. */
  def circleFromPoints(a: Pt, b: Pt, c: Pt): Option[(Double, Double, Double)] = {
    var xA = a._1; var yA = a._2
    var xB = b._1; var yB = b._2
    var xC = c._1; var yC = c._2
    if (((yB - yA) * (xC - xB)) == ((yC - yB) * (xB - xA))) return None

    var xDeltaA = xB - xA
    var xDeltaB = xC - xB
    var guard = 0
    while ((xDeltaA == 0 || xDeltaB == 0) && guard < 4) {
      val (nxA, nyA, nxB, nyB, nxC, nyC) = (xB, yB, xC, yC, xA, yA)
      xA = nxA; yA = nyA; xB = nxB; yB = nyB; xC = nxC; yC = nyC
      xDeltaA = xB - xA; xDeltaB = xC - xB
      guard += 1
    }
    if (xDeltaA == 0 || xDeltaB == 0) return None // colinear degenerate

    val yDeltaA = yB - yA
    val yDeltaB = yC - yB
    val midABx = (xA + xB) / 2; val midABy = (yA + yB) / 2
    val midBCx = (xB + xC) / 2; val midBCy = (yB + yC) / 2

    var x = 0.0; var y = 0.0
    if (yDeltaA == 0 && xDeltaB == 0) { x = midABx; y = midBCy }
    else if (yDeltaA == 0) {
      val slopeB = yDeltaB / xDeltaB
      x = midABx
      y = midBCy + ((midBCx - x) / slopeB)
    } else if (yDeltaB == 0 && xDeltaA == 0) { x = midBCx; y = midABy }
    else if (yDeltaB == 0) {
      val slopeA = yDeltaA / xDeltaA
      x = midBCx
      y = midABy + (midABx - x) / slopeA
    } else if (xDeltaA == 0) {
      val slopeB = yDeltaB / xDeltaB
      y = midBCy
      x = slopeB * (midBCy - y) + midBCx
    } else if (xDeltaB == 0) {
      val slopeA = yDeltaA / xDeltaA
      y = midBCy
      x = slopeA * (midABy - y) + midABx
    } else {
      val slopeA = yDeltaA / xDeltaA
      val slopeB = yDeltaB / xDeltaB
      x = ((slopeA * slopeB * (yA - yC)) + (slopeB * (xA + xB)) - (slopeA * (xB + xC))) /
        (2 * (slopeB - slopeA))
      y = (-1 / slopeA) * (x - (xA + xB) * 0.5) + ((yA + yB) * 0.5)
    }
    val vA = x - xA; val vB = y - yA
    Some((x, y, math.sqrt(vA * vA + vB * vB)))
  }

  /** reference circle.go:119-126 ContainsPoint (1e-9 tolerance). */
  def circleContainsPoint(c: (Double, Double, Double), pt: Pt): Boolean = {
    val v1 = c._1 - pt._1; val v2 = c._2 - pt._2
    val d = math.sqrt(v1 * v1 + v2 * v2)
    Cmp.HiCmp.float(c._3, d) || c._3 > d
  }

  /** allocation-free CircleFromPoints + ContainsPoint for the insertSite
    * swap loop (the Option + boxed-triple per candidate test was hot):
    * identical branch structure and FP ops; the colinear/degenerate paths
    * that return None map to `false` exactly as the match in insertSite did.
    */
  def circumcircleContains(a: Pt, b: Pt, c: Pt, pt: Pt): Boolean = {
    var xA = a._1; var yA = a._2
    var xB = b._1; var yB = b._2
    var xC = c._1; var yC = c._2
    if (((yB - yA) * (xC - xB)) == ((yC - yB) * (xB - xA))) return false

    var xDeltaA = xB - xA
    var xDeltaB = xC - xB
    var guard = 0
    while ((xDeltaA == 0 || xDeltaB == 0) && guard < 4) {
      val nxA = xB; val nyA = yB; val nxB = xC; val nyB = yC; val nxC = xA; val nyC = yA
      xA = nxA; yA = nyA; xB = nxB; yB = nyB; xC = nxC; yC = nyC
      xDeltaA = xB - xA; xDeltaB = xC - xB
      guard += 1
    }
    if (xDeltaA == 0 || xDeltaB == 0) return false // colinear degenerate

    val yDeltaA = yB - yA
    val yDeltaB = yC - yB
    val midABx = (xA + xB) / 2; val midABy = (yA + yB) / 2
    val midBCx = (xB + xC) / 2; val midBCy = (yB + yC) / 2

    var x = 0.0; var y = 0.0
    if (yDeltaA == 0 && xDeltaB == 0) { x = midABx; y = midBCy }
    else if (yDeltaA == 0) {
      val slopeB = yDeltaB / xDeltaB
      x = midABx
      y = midBCy + ((midBCx - x) / slopeB)
    } else if (yDeltaB == 0 && xDeltaA == 0) { x = midBCx; y = midABy }
    else if (yDeltaB == 0) {
      val slopeA = yDeltaA / xDeltaA
      x = midBCx
      y = midABy + (midABx - x) / slopeA
    } else if (xDeltaA == 0) {
      val slopeB = yDeltaB / xDeltaB
      y = midBCy
      x = slopeB * (midBCy - y) + midBCx
    } else if (xDeltaB == 0) {
      val slopeA = yDeltaA / xDeltaA
      y = midBCy
      x = slopeA * (midABy - y) + midABx
    } else {
      val slopeA = yDeltaA / xDeltaA
      val slopeB = yDeltaB / xDeltaB
      x = ((slopeA * slopeB * (yA - yC)) + (slopeB * (xA + xB)) - (slopeA * (xB + xC))) /
        (2 * (slopeB - slopeA))
      y = (-1 / slopeA) * (x - (xA + xB) * 0.5) + ((yA + yB) * 0.5)
    }
    val vA = x - xA; val vB = y - yA // xA/yA post-rotation, as in circleFromPoints
    val r = math.sqrt(vA * vA + vB * vB)
    val w1 = x - pt._1; val w2 = y - pt._2
    val d = math.sqrt(w1 * w1 + w2 * w2)
    Cmp.HiCmp.float(r, d) || r > d
  }

  /** reference triangle.go:91-123 NewTriangleForExtent, buff = 10. */
  def triangleContaining(ext: Extent): (Pt, Pt, Pt) = {
    val buff = 10.0
    val xlen = ext.maxx - ext.minx
    val ylen = ext.maxy - ext.miny
    val x2len = xlen / 2
    val nx = ext.minx - (x2len * buff) - buff
    val cx = ext.minx + x2len
    val xx = ext.maxx + (x2len * buff) + buff
    val ny = ext.miny - (ylen * buff) - buff
    val xy = ext.maxy + (2 * ylen * buff) + buff
    ((nx, ny), (cx, xy), (xx, ny))
  }

  /** reference subdivision.go New — initial frame triangle. */
  def ofFrame(a: Pt, b: Pt, c: Pt): Subdivision = {
    val ea = QuadEdge.newEdge()
    ea.setEndPoints(a, b)
    val eb = QuadEdge.newEdge()
    QuadEdge.splice(ea.sym, eb)
    eb.setEndPoints(b, c)
    val ec = QuadEdge.newEdge()
    ec.setEndPoints(c, a)
    QuadEdge.splice(eb.sym, ec)
    QuadEdge.splice(ec.sym, ea)
    val center = Planar.triangleCenter(a, b, c)
    val se0 = QuadEdge.resolveEdgeOrNull(yPositiveDown = false, ea, center)
    val se = if (se0 != null) se0 else ea
    new Subdivision(se, (a, b, c))
  }

  /** reference subdivision.go:96-183 NewForPoints: round, frame, insert
    * each unseen point (exact-key dedupe like the Go map on geom.Point).
    */
  private val forPointsSeen = new ThreadLocal[Scratch.PtSet] {
    override def initialValue(): Scratch.PtSet = new Scratch.PtSet(256)
  }

  def forPoints(points: IndexedSeq[Pt]): Option[Subdivision] = {
    if (points.isEmpty) return None
    // round inline (one pass, no intermediate rounded Vector) — the
    // extent fold matches Extent.ofPoints over the rounded stream
    val n = points.length
    val rounded = new Array[Pt](n)
    var mnx = 0.0; var mny = 0.0; var mxx = 0.0; var mxy = 0.0
    var i = 0
    while (i < n) {
      val r = roundPoint(points(i))
      rounded(i) = r
      if (i == 0) { mnx = r._1; mny = r._2; mxx = r._1; mxy = r._2 }
      else {
        mnx = math.min(mnx, r._1); mny = math.min(mny, r._2)
        mxx = math.max(mxx, r._1); mxy = math.max(mxy, r._2)
      }
      i += 1
    }
    val ext = Extent(mnx, mny, mxx, mxy)
    val (a, b, c) = triangleContaining(ext)
    val sd = ofFrame(a, b, c)
    val seen = forPointsSeen.get()
    seen.clear()
    seen.add(a); seen.add(b); seen.add(c)
    i = 0
    while (i < n) {
      val pt = rounded(i)
      if (seen.add(pt)) {
        if (!sd.insertSite(pt)) return None // reference errors out
      }
      i += 1
    }
    Some(sd)
  }

  /** reference subdivision.go locate + testEdge. The walk step is inlined
    * allocation-free (the tuple-returning testEdge was a per-step
    * allocation on the hottest loop in insertSite); the rare WalkAllEdges
    * fallback keeps the closure form.
    */
  private[core] def locate(se0: Edge, x: Pt, limit: Int): Option[Edge] = {
    val seR = QuadEdge.resolveEdgeOrNull(yPositiveDown = false, se0, x)
    val se = if (seR != null) seR else se0

    // returns the next edge; `ok` is signalled by returning the SAME edge
    // (testEdge only reports ok=true with an unchanged edge) — except the
    // rightOf step, which may return e.sym of the same group, never e.
    var e = se
    var ok = false
    var count = -1 // first iteration mirrors the pre-loop testEdge call
    while (!ok) {
      count += 1
      if (count > 0 && ((e eq se) || count > limit)) {
        // fallback: scan every edge (reference locate WalkAllEdges path)
        var found: Edge = null
        walkAllEdges(se, { ee =>
          val ok2 =
            if (ptEqual(x, ee) || ptEqualDest(x, ee)) true
            else if (QuadEdge.rightOf(yPositiveDown = false, x, ee)) false
            else if (!QuadEdge.rightOf(yPositiveDown = false, x, ee.oNext)) false
            else if (!QuadEdge.rightOf(yPositiveDown = false, x, ee.dPrev)) false
            else true
          if (ok2) { found = ee; false } else true
        })
        return Option(found)
      }
      if (ptEqual(x, e) || ptEqualDest(x, e)) ok = true
      else if (QuadEdge.rightOf(yPositiveDown = false, x, e)) e = e.sym
      else if (!QuadEdge.rightOf(yPositiveDown = false, x, e.oNext)) e = e.oNext
      else if (!QuadEdge.rightOf(yPositiveDown = false, x, e.dPrev)) e = e.dPrev
      else ok = true
    }
    Some(e)
  }

  /** reference subdivision.go:558-588 WalkAllEdges (stack DFS over groups);
    * fn returns false to stop.
    */
  def walkAllEdges(se: Edge, fn: Edge => Boolean): Unit = {
    if (se == null) return
    val toProcess = mutable.Stack[Edge](se)
    val visited = new java.util.IdentityHashMap[Edge, Boolean]()
    while (toProcess.nonEmpty) {
      val e = toProcess.pop()
      if (!visited.containsKey(e)) {
        if (!fn(e)) return
        val sym = e.sym
        toProcess.push(e.oNext)
        toProcess.push(sym.oNext)
        visited.put(e, true)
        visited.put(sym, true)
      }
    }
  }

  /** reference IsFramePoint over a triangle's three vertices, without
    * varargs for the per-triangle hot path (the Pt* WrappedArray was a
    * measured allocation source).
    */
  def isFramePoint3(frame: (Pt, Pt, Pt), a: Pt, b: Pt, c: Pt): Boolean = {
    @inline def isF(p: Pt): Boolean =
      qcmp.pointEqual(p, frame._1) || qcmp.pointEqual(p, frame._2) ||
        qcmp.pointEqual(p, frame._3)
    isF(a) || isF(b) || isF(c)
  }

  private val walkSeen = new ThreadLocal[Scratch.PtSet] {
    override def initialValue(): Scratch.PtSet = new Scratch.PtSet(256)
  }

  /** reference subdivision.go:620-684 WalkAllTriangles. */
  def walkAllTriangles(se: Edge)(fn: (Pt, Pt, Pt) => Boolean): Unit = {
    if (se == null) return
    val edgeStack = mutable.ArrayBuffer[Edge](se)
    val seenVertices = walkSeen.get()
    seenVertices.clear()

    while (edgeStack.nonEmpty) {
      val startingEdge = edgeStack.remove(edgeStack.length - 1)
      val startPoint = startingEdge.orig
      if (seenVertices.add(startPoint)) {
        var workingEdge = startingEdge
        var nextEdge = startingEdge.oNext
        if (workingEdge ne nextEdge) {
          var done = false
          while (!done) {
            val endPoint = nextEdge.dest
            val midPoint = workingEdge.dest
            if (!seenVertices.contains(endPoint) && !seenVertices.contains(midPoint)) {
              edgeStack += workingEdge.sym
              if (workingEdge.sym.findONextDest(endPoint) != null &&
                  !fn(startPoint, midPoint, endPoint)) return
            }
            workingEdge = nextEdge
            nextEdge = workingEdge.oNext
            if (workingEdge eq startingEdge) done = true
          }
        }
      }
    }
  }
}
