package graft.core

import graft.core.Geom._
import scala.collection.mutable

/** Pseudo-polygon re-triangulation for constrained edge insertion.
  *
  * Semantics from /root/reference/planar/triangulate/delaunay/subdivision/
  * pseudopolygon/pseudo_polygon.go:13-340 and edgemap.go: when a constraint
  * edge is forced into the subdivision, the edges it crossed are removed and
  * the two point-chains on either side (pseudo-polygons) are re-triangulated
  * recursively — pick the vertex nearest the chord midpoint (in-circle
  * flipped when needed), rotate off polygon-boundary edges, split, recurse.
  *
  * All point comparisons use the high-precision comparator (pseudopolygon/
  * cmp.go: HiCMP); point map keys are exact (Go map semantics).
  */
object PseudoPolygon {

  /** edgemap.go: set of boundary edges keyed by the normalized line
    * (GREATER point first — edgemap.go:31-35 normalizeLine).
    */
  private final class EdgeMap {
    private val set = mutable.HashSet[(Pt, Pt)]()
    private def key(p1: Pt, p2: Pt): (Pt, Pt) =
      if (Cmp.pointLess(p1, p2)) (p2, p1) else (p1, p2)
    def add(p1: Pt, p2: Pt): Unit = set += key(p1, p2)
    def contains(p1: Pt, p2: Pt): Boolean = set.contains(key(p1, p2))
  }

  private def newEdgeMap(points: IndexedSeq[Pt]): EdgeMap = {
    val em = new EdgeMap
    var lp = points.length - 1
    var i = 0
    while (i < points.length) {
      em.add(points(lp), points(i))
      lp = i
      i += 1
    }
    em
  }

  /** pseudo_polygon.go:13-71 triangulateSubRings: split out repeated-point
    * sub-rings, triangulate them separately, keep the outer chain.
    */
  private def triangulateSubRings(oPoints: IndexedSeq[Pt], yPositiveDown: Boolean)
      : Either[String, (IndexedSeq[Pt], IndexedSeq[Seg])] = {
    val points = mutable.ArrayBuffer[Pt]()
    val edges = mutable.ArrayBuffer[Seg]()
    val seenPts = mutable.HashMap[Pt, (Int, Int)]()
    var i = 0
    while (i < oPoints.length) {
      val pt = oPoints(i)
      seenPts.get(pt) match {
        case Some((oi, opi)) =>
          if (oi == i - 1) {
            seenPts(pt) = (i, opi)
          } else {
            val npts = oPoints.slice(oi, i)
            points.remove(opi + 1, points.length - (opi + 1))
            triangulate(npts.toIndexedSeq, yPositiveDown) match {
              case Left(err)       => return Left(err)
              case Right(newEdges) => edges ++= newEdges
            }
            npts.foreach(p => seenPts.remove(p))
            seenPts(pt) = (i, points.length - 1)
          }
        case None =>
          seenPts(pt) = (i, points.length)
          points += pt
      }
      i += 1
    }
    Right((points.toIndexedSeq, edges.toIndexedSeq))
  }

  /** pseudo_polygon.go:75-340 Triangulate. */
  def triangulate(oPoints: IndexedSeq[Pt], yPositiveDown: Boolean)
      : Either[String, IndexedSeq[Seg]] = {
    val (points, subEdges) = triangulateSubRings(oPoints, yPositiveDown) match {
      case Left(err) => return Left(err)
      case Right(r)  => r
    }
    val edges = mutable.ArrayBuffer[Seg]() ++= subEdges

    val plen = points.length
    if (plen <= 1) return Left("invalid pseudo polygon size")
    if (plen == 2) return Right(Vector(Seg(points(0), points(1))))

    if (Winding.orientation(yPositiveDown, points) == Winding.Colinear)
      return Left("all points are colinear")

    if (plen == 3) {
      edges += Seg(points(0), points(1))
      edges += Seg(points(1), points(2))
      edges += Seg(points(2), points(0))
      return Right(edges.toIndexedSeq)
    }

    val em = newEdgeMap(points)

    // nearest non-colinear point to the chord midpoint
    val cpoint = ((points(0)._1 + points(plen - 1)._1) / 2,
                  (points(0)._2 + points(plen - 1)._2) / 2)
    var dist = Double.PositiveInfinity
    var ps = 0
    var p1 = -1
    var p2 = -1
    val pe = plen - 1
    var i = 1
    while (i < pe) {
      val candidate = points(i)
      val d = Planar.pointDistance(cpoint, candidate)
      val cln = Winding.orientation(yPositiveDown, Vector(points(ps), points(i), points(pe)))
      if (d < dist && cln != Winding.Colinear) {
        p2 = p1
        p1 = i
        dist = d
      }
      i += 1
    }

    if (p2 == -1) {
      p2 = p1 - 1
      if (p2 == ps || p2 == pe) p2 = p1 + 1
    }

    // in-circle flip (pseudo_polygon.go:181-227)
    Subdivision.circleFromPoints(points(p1), points(ps), points(pe)) match {
      case Some(circle) =>
        val p2IsCol = Winding.orientation(yPositiveDown,
          Vector(points(ps), points(p2), points(pe))) == Winding.Colinear
        if (!p2IsCol && Subdivision.circleContainsPoint(circle, points(p2))) {
          val (nps, np1, np2, npe) = (pe, p2, p1, ps)
          ps = nps; p1 = np1; p2 = np2
          // pe is val — mirror by swapping through vars below
          return triangulateAfterFlip(points, edges, em, ps, p1, p2, npe, yPositiveDown)
        }
      case None => // colinear degenerate — reference ignores the error
    }
    triangulateAfterFlip(points, edges, em, ps, p1, p2, pe, yPositiveDown)
  }

  /** continuation after the optional flip: rotate off boundary edges,
    * emit (4-point case) or split and recurse.
    */
  private def triangulateAfterFlip(points: IndexedSeq[Pt], edges: mutable.ArrayBuffer[Seg],
                                   em: EdgeMap, ps0: Int, p10: Int, p20: Int, pe0: Int,
                                   yPositiveDown: Boolean): Either[String, IndexedSeq[Seg]] = {
    var ps = ps0; var p1 = p10; var p2 = p20; var pe = pe0
    val plen = points.length

    // rotate while the proposed shared edge lies on the polygon boundary
    // (pseudo_polygon.go:234-265)
    var secondCount = false
    var count = 0
    var continueLoop = true
    while (continueLoop && em.contains(points(pe), points(p1))) {
      val (npe, np1, nps) = (ps, pe, p1)
      pe = npe; p1 = np1; ps = nps
      count += 1
      if (count > 3) {
        if (secondCount) {
          continueLoop = false
        } else {
          val (a, b) = (p2, p1)
          p1 = a; p2 = b
          count = 0
          secondCount = true
        }
      }
    }
    // the reference panics whenever the second rotation cycle was entered,
    // even if a free edge was later found (pseudo_polygon.go:262-264)
    if (secondCount)
      return Left("assumption failed: all triangle edges on polygon")

    if (plen == 4) {
      edges += Seg(points(ps), points(p1))
      edges += Seg(points(pe), points(ps))
      edges += Seg(points(pe), points(p1)) // shared edge
      edges += Seg(points(p1), points(p2))
      edges += Seg(points(p2), points(pe))
      return Right(edges.toIndexedSeq)
    }

    // split pe → p1 and p1 → pe chains, recurse (pseudo_polygon.go:288-339)
    def chain(from: Int, to: Int): IndexedSeq[Pt] = {
      val ply = mutable.ArrayBuffer[Pt](points(from))
      var i = from
      var done = false
      while (!done) {
        i += 1
        if (i >= points.length) i = 0
        ply += points(i)
        if (i == to) done = true
      }
      ply.toIndexedSeq
    }

    triangulate(chain(pe, p1), yPositiveDown) match {
      case Left(err) => return Left(err)
      case Right(es) => edges ++= es
    }
    triangulate(chain(p1, pe), yPositiveDown) match {
      case Left(err) => return Left(err)
      case Right(es) => edges ++= es
    }
    Right(edges.toIndexedSeq)
  }
}
