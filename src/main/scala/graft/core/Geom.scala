package graft.core

/** Core geometry value algebra.
  *
  * A brand-new Scala model of the reference's geometry family
  * (see /root/reference/geom.go, point.go, polygon.go). Semantics preserved:
  *   - coordinates are Double (IEEE binary64), 2-D only on the algorithm path
  *   - polygons are stored with UNCLOSED rings; ring 0 is the exterior and is
  *     clockwise, holes counter-clockwise (reference polygon.go:16-20)
  *   - the empty point is (NaN, NaN) (reference point.go:14, cmp/empty.go:7-9)
  *   - a `null`/absent Extent means "the whole universe"
  *     (reference bbox.go:27-29)
  */
object Geom {

  type Pt = (Double, Double) // (x, y)

  @inline def x(p: Pt): Double = p._1
  @inline def y(p: Pt): Double = p._2

  val EmptyPt: Pt = (Double.NaN, Double.NaN)

  /** reference cmp/empty.go:7-9 — NaN != NaN */
  @inline def isEmptyPt(p: Pt): Boolean = p._1 != p._1 || p._2 != p._2

  /** A 2-point segment; the workhorse of planar algorithms
    * (reference line.go:15).
    */
  final case class Seg(x1: Double, y1: Double, x2: Double, y2: Double) {
    @inline def p1: Pt = (x1, y1)
    @inline def p2: Pt = (x2, y2)

    /** reference line.go:40-47 — bbox containment of a point (closed). */
    def bboxContains(pt: Pt): Boolean = {
      val (minx, maxx) = if (x1 > x2) (x2, x1) else (x1, x2)
      val (miny, maxy) = if (y1 > y2) (y2, y1) else (y1, y2)
      minx <= pt._1 && pt._1 <= maxx && miny <= pt._2 && pt._2 <= maxy
    }

    def lengthSquared: Double = {
      val dx = x2 - x1; val dy = y2 - y1
      dx * dx + dy * dy
    }
  }

  object Seg {
    def apply(a: Pt, b: Pt): Seg = Seg(a._1, a._2, b._1, b._2)
  }

  /** Closed geometry family (tagged). Rings stored unclosed (first != last). */
  sealed trait Geometry extends Serializable
  final case class GPoint(pt: Pt) extends Geometry
  final case class GMultiPoint(pts: IndexedSeq[Pt]) extends Geometry
  final case class GLineString(pts: IndexedSeq[Pt]) extends Geometry
  final case class GMultiLineString(lines: IndexedSeq[IndexedSeq[Pt]]) extends Geometry
  final case class GPolygon(rings: IndexedSeq[IndexedSeq[Pt]]) extends Geometry
  final case class GMultiPolygon(polys: IndexedSeq[IndexedSeq[IndexedSeq[Pt]]]) extends Geometry
  final case class GCollection(geoms: IndexedSeq[Geometry]) extends Geometry

  /** Recursive coordinate walk (reference geom.go:331-406 getCoordinates). */
  def coordinates(g: Geometry): IndexedSeq[Pt] = g match {
    case GPoint(p)            => Vector(p)
    case GMultiPoint(ps)      => ps
    case GLineString(ps)      => ps
    case GMultiLineString(ls) => ls.flatten
    case GPolygon(rs)         => rs.flatten
    case GMultiPolygon(mp)    => mp.flatten.flatten
    case GCollection(gs)      => gs.flatMap(coordinates)
  }

  /** All segments incl. ring-closing edges (reference geom.go:470-546).
    * Linestring: consecutive pairs. Polygon ring: closing edge
    * {pts(last), pts(0)} FIRST, then consecutive (reference polygon.go:38-67
    * AsSegments order: prev→cur starting at last); rings with <3 points
    * are skipped.
    */
  def segments(g: Geometry): IndexedSeq[Seg] = g match {
    case GPoint(_) | GMultiPoint(_) => Vector.empty
    case GLineString(ps)            => lineSegments(ps)
    case GMultiLineString(ls)       => ls.flatMap(lineSegments)
    case GPolygon(rs)               => rs.flatMap(ringSegments)
    case GMultiPolygon(mp)          => mp.flatMap(_.flatMap(ringSegments))
    case GCollection(gs)            => gs.flatMap(segments)
  }

  def lineSegments(pts: IndexedSeq[Pt]): IndexedSeq[Seg] =
    if (pts.length < 2) Vector.empty
    else (1 until pts.length).map(i => Seg(pts(i - 1), pts(i)))

  /** Ring → segments with closing edge first (reference polygon.go:38-67). */
  def ringSegments(ring: IndexedSeq[Pt]): IndexedSeq[Seg] =
    if (ring.length < 3) Vector.empty
    else {
      val arr = new Array[Seg](ring.length)
      var prev = ring.length - 1
      var i = 0
      while (i < ring.length) {
        arr(i) = Seg(ring(prev), ring(i)); prev = i; i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
    }

  /** reference utils.go:6-110 ApplyToPoints — map a coordinate transform
    * over every point of a geometry (the reprojection hook). Structure is
    * preserved; the Go version's error plumbing is unneeded (f is total).
    */
  def applyToPoints(g: Geometry)(f: Pt => Pt): Geometry = g match {
    case GPoint(p)            => GPoint(f(p))
    case GMultiPoint(ps)      => GMultiPoint(ps.map(f))
    case GLineString(ps)      => GLineString(ps.map(f))
    case GMultiLineString(ls) => GMultiLineString(ls.map(_.map(f)))
    case GPolygon(rs)         => GPolygon(rs.map(_.map(f)))
    case GMultiPolygon(mp)    => GMultiPolygon(mp.map(_.map(_.map(f))))
    case GCollection(gs)      => GCollection(gs.map(applyToPoints(_)(f)))
  }

  /** Round half away from zero (Go math.Round semantics; Java Math.round
    * rounds half-up and clamps to Long, so it can't be used here).
    */
  @inline def roundHalfAway(v: Double): Double = {
    val a = math.abs(v)
    val t = math.floor(a)
    // avoid the abs+0.5 double-rounding pitfall (0.49999999999999994+0.5==1.0)
    val r = if (a - t >= 0.5) t + 1.0 else t
    java.lang.Math.copySign(r, v)
  }

  /** Bounding box; reference bbox.go. A `None` box is the universe. */
  final case class Extent(minx: Double, miny: Double, maxx: Double, maxy: Double) {
    def xSpan: Double = maxx - minx
    def ySpan: Double = maxy - miny
    def area: Double = math.abs((maxy - miny) * (maxx - minx))

    /** closed-interval point containment (reference bbox.go:253-262). */
    def containsPoint(px: Double, py: Double): Boolean =
      minx <= px && px <= maxx && miny <= py && py <= maxy
    def containsPoint(p: Pt): Boolean = containsPoint(p._1, p._2)
    def contains(o: Extent): Boolean =
      minx <= o.minx && maxx >= o.maxx && miny <= o.miny && maxy >= o.maxy

    /** open-interval intersection: minx >= maxx ⇒ disjoint
      * (reference bbox.go:347-383).
      */
    def intersect(o: Extent): Option[Extent] = {
      val nminx = if (minx < o.minx) o.minx else minx
      val nmaxx = if (maxx > o.maxx) o.maxx else maxx
      if (nminx >= nmaxx) return None
      val nminy = if (miny < o.miny) o.miny else miny
      val nmaxy = if (maxy > o.maxy) o.maxy else maxy
      if (nminy >= nmaxy) return None
      Some(Extent(nminx, nminy, nmaxx, nmaxy))
    }

    def add(o: Extent): Extent =
      Extent(math.min(minx, o.minx), math.min(miny, o.miny),
             math.max(maxx, o.maxx), math.max(maxy, o.maxy))

    /** 4 CW vertices (reference bbox.go:35-42). */
    def vertices: IndexedSeq[Pt] =
      Vector((minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy))

    /** 4 CW edges (reference bbox.go:44-59). */
    def edges: IndexedSeq[Seg] = {
      val v = vertices
      Vector(Seg(v(0), v(1)), Seg(v(1), v(2)), Seg(v(2), v(3)), Seg(v(3), v(0)))
    }

    def asPolygon: GPolygon = GPolygon(Vector(vertices))
  }

  object Extent {
    def ofPoints(pts: Iterable[Pt]): Option[Extent] = ofPoints(pts.iterator)

    def ofPoints(it: Iterator[Pt]): Option[Extent] = {
      if (!it.hasNext) return None
      val h = it.next()
      // scalar min/max fold — one Extent allocated, not one per point
      // (math.min/max for their NaN propagation and −0.0 ordering)
      var mnx = h._1; var mny = h._2; var mxx = h._1; var mxy = h._2
      while (it.hasNext) {
        val p = it.next()
        mnx = math.min(mnx, p._1)
        mny = math.min(mny, p._2)
        mxx = math.max(mxx, p._1)
        mxy = math.max(mxy, p._2)
      }
      Some(Extent(mnx, mny, mxx, mxy))
    }

    def ofGeometry(g: Geometry): Option[Extent] = ofPoints(coordinates(g))
  }
}
