package graft.core

import graft.core.Geom._
import scala.collection.mutable

/** makevalid — constrained-Delaunay polygon repair
  * (reference planar/makevalid/makevalid.go:87-235 + triangulate.go).
  *
  * Pipeline for (Multi)Polygons:
  *  1. Destructure — polygon→segments; if the clipbox doesn't contain the
  *     geometry bbox its 4 edges are prepended; all pairwise intersections
  *     found with the event-queue sweep; segments split at intersection
  *     points (XY-sorted); sub-segments outside the clipbox dropped;
  *     sorted + deduped.
  *  2. Triangulate — plain Delaunay over the deduped vertices (the
  *     reference's default build: constraint insertion is env-gated OFF,
  *     constrained.go:24-31), vertices rounded to 1e-3.
  *  3. Label — keep triangles whose centroid the hitmap of the ORIGINAL
  *     polygons labels Inside.
  *  4. Walk — merge triangles into rings/polygons, cut slivers, remove
  *     bridges, rectify winding.
  *
  * Points/lines are delegated to the clipper (makevalid.go:195-205).
  * Comparator: HiCMP (makevalid/cmp.go) except the sweep's endpoint
  * matching (default 1e-6, xsweep.go NewEventQueue).
  */
object MakeValid {

  private val cmp = Cmp.HiCmp

  /** reference makevalid.go:87-150 Destructure. */
  def destructure(clipbox: Option[Extent],
                  polys: IndexedSeq[IndexedSeq[IndexedSeq[Pt]]]): IndexedSeq[Seg] = {
    val out = new Scratch.SegBuf
    destructureBuf(clipbox, polys, out)
    val b = Vector.newBuilder[Seg]
    var i = 0
    while (i < out.n) { b += Seg(out.x1(i), out.y1(i), out.x2(i), out.y2(i)); i += 1 }
    b.result()
  }

  /** per-thread scratch for the packed destructure pipeline: the raw
    * segment set, the split output, and the sort order array. Distinct
    * from the caller-owned result buffer.
    */
  private final class MvScratch {
    val raw = new Scratch.SegBuf
    val split = new Scratch.SegBuf
    var order = new Array[Int](256)
    var order2: Array[Int] = new Array[Int](256) // merge-sort scratch
    val result = new Scratch.SegBuf
  }
  private val mvScratch = new ThreadLocal[MvScratch] {
    override def initialValue(): MvScratch = new MvScratch
  }

  /** packed Destructure — identical decisions to the Seg-object form, all
    * coordinates in pooled primitive arrays.
    */
  private def destructureBuf(clipbox: Option[Extent],
                             polys: IndexedSeq[IndexedSeq[IndexedSeq[Pt]]],
                             out: Scratch.SegBuf): Unit = {
    out.clear()
    val sc = mvScratch.get()
    val raw = sc.raw
    raw.clear()

    // clipbox edges are PREPENDED when active, so reserve their slots by
    // deciding hasClipbox first (extent from the same point stream as
    // polys.flatten.flatten)
    val gextOpt = Extent.ofPoints(polys.iterator.flatMap(_.iterator).flatMap(_.iterator))
    if (gextOpt.isEmpty) return
    val gext = gextOpt.get
    val hasClipbox = clipbox.exists(cb => !cb.contains(gext))

    if (hasClipbox) {
      val e = clipbox.get.edges
      var i = 0
      while (i < e.length) { raw.add(e(i).x1, e(i).y1, e(i).x2, e(i).y2); i += 1 }
    }
    var nPolySegs = 0
    polys.foreach(_.foreach { ring =>
      if (ring.length >= 3) {
        var prev = ring.length - 1
        var ri = 0
        while (ri < ring.length) {
          val p = ring(prev); val c = ring(ri)
          raw.add(p._1, p._2, c._1, c._2)
          nPolySegs += 1
          prev = ri; ri += 1
        }
      }
    })
    if (nPolySegs == 0) return

    // split points per segment, indexed by position (sparse bucket array)
    val ipts = new Array[mutable.ArrayBuffer[Pt]](raw.n)
    Sweep.findIntersectsBuf(raw, connected = true) { (src, dest, pt) =>
      if (ipts(src) == null) ipts(src) = mutable.ArrayBuffer.empty
      ipts(src) += pt
      if (ipts(dest) == null) ipts(dest) = mutable.ArrayBuffer.empty
      ipts(dest) += pt
      true
    }

    val nsegs = sc.split
    nsegs.clear()
    @inline def keep(ax: Double, ay: Double, bx: Double, by: Double): Unit =
      if (!hasClipbox || {
        val cb = clipbox.get
        cb.containsPoint(ax, ay) && cb.containsPoint(bx, by)
      }) nsegs.add(ax, ay, bx, by)

    var i = 0
    while (i < raw.n) {
      if (ipts(i) == null) {
        // common case: endpoints only — a 2-element stable sort is one
        // swap; pointLess/pointEqual decisions unchanged
        val less =
          if (raw.x1(i) != raw.x2(i)) raw.x1(i) < raw.x2(i) else raw.y1(i) < raw.y2(i)
        val ax = if (less) raw.x1(i) else raw.x2(i)
        val ay = if (less) raw.y1(i) else raw.y2(i)
        val bx = if (less) raw.x2(i) else raw.x1(i)
        val by = if (less) raw.y2(i) else raw.y1(i)
        if (!(cmp.float(ax, bx) && cmp.float(ay, by))) keep(ax, ay, bx, by)
      } else {
        val pts = (mutable.ArrayBuffer[Pt]((raw.x1(i), raw.y1(i)), (raw.x2(i), raw.y2(i))) ++=
          ipts(i)).sortWith(Cmp.pointLess)
        var j = 1
        while (j < pts.length) {
          if (!cmp.pointEqual(pts(j - 1), pts(j)))
            keep(pts(j - 1)._1, pts(j - 1)._2, pts(j)._1, pts(j)._2)
          j += 1
        }
      }
      i += 1
    }

    // sort + dedupe (reference `unique`). Index sort with an event-index
    // tiebreak — a total order, so the permutation matches the former
    // stable sortWith wherever the comparator is consistent (the oracle-
    // gated fixtures pin the observable behavior).
    if (sc.order.length < nsegs.n)
      sc.order = new Array[Int](Integer.highestOneBit(nsegs.n * 2 - 1) << 1)
    val order = sc.order
    i = 0
    while (i < nsegs.n) { order(i) = i; i += 1 }
    @inline def lt(a: Int, b: Int): Boolean = {
      val r =
        (if (nsegs.x1(a) != nsegs.x1(b)) nsegs.x1(a) < nsegs.x1(b)
         else nsegs.y1(a) < nsegs.y1(b)) ||
          (cmp.float(nsegs.x1(a), nsegs.x1(b)) && cmp.float(nsegs.y1(a), nsegs.y1(b)) &&
            (if (nsegs.x2(a) != nsegs.x2(b)) nsegs.x2(a) < nsegs.x2(b)
             else nsegs.y2(a) < nsegs.y2(b)))
      if (r) true
      else {
        // mirror check for a strict order; fall back to index for ties
        val rr =
          (if (nsegs.x1(b) != nsegs.x1(a)) nsegs.x1(b) < nsegs.x1(a)
           else nsegs.y1(b) < nsegs.y1(a)) ||
            (cmp.float(nsegs.x1(b), nsegs.x1(a)) && cmp.float(nsegs.y1(b), nsegs.y1(a)) &&
              (if (nsegs.x2(b) != nsegs.x2(a)) nsegs.x2(b) < nsegs.x2(a)
               else nsegs.y2(b) < nsegs.y2(a)))
        if (rr) false else a < b
      }
    }
    // Bottom-up index MERGE sort — O(n log n) where the former insertion
    // sort was O(n²) on large split-segment sets (unclipped coastline
    // multipolygons reach 10^4-10^5 segments through the public
    // st_makevalid path). Merge sort, not quicksort, deliberately: `lt`
    // mixes exact (!=) primaries with tolerance-based (cmp.float)
    // fallbacks, so it is not guaranteed antisymmetric on near-coincident
    // split points; a Hoare partition can mis-scan under an inconsistent
    // comparator, while merging only ever reads inside its two runs and
    // stays stable (ties and inconsistent pairs resolve to the left run —
    // the insertion-sort-compatible choice) whatever `lt` answers.
    if (sc.order2 == null || sc.order2.length < order.length)
      sc.order2 = new Array[Int](order.length)
    val buf = sc.order2
    var width = 1
    while (width < nsegs.n) {
      var lo = 0
      while (lo < nsegs.n - width) {
        val mid = lo + width
        val hi = math.min(lo + 2 * width, nsegs.n)
        var a = lo; var b = mid; var o = lo
        while (a < mid && b < hi) {
          if (lt(order(b), order(a))) { buf(o) = order(b); b += 1 }
          else { buf(o) = order(a); a += 1 }
          o += 1
        }
        while (a < mid) { buf(o) = order(a); a += 1; o += 1 }
        while (b < hi) { buf(o) = order(b); b += 1; o += 1 }
        System.arraycopy(buf, lo, order, lo, hi - lo)
        lo += 2 * width
      }
      width *= 2
    }

    var k = 0
    while (k < nsegs.n) {
      val cI = order(k)
      val keepIt = k == 0 || {
        val pI = order(k - 1)
        !(cmp.float(nsegs.x1(cI), nsegs.x1(pI)) && cmp.float(nsegs.y1(cI), nsegs.y1(pI)) &&
          cmp.float(nsegs.x2(cI), nsegs.x2(pI)) && cmp.float(nsegs.y2(cI), nsegs.y2(pI)))
      }
      if (keepIt) out.add(nsegs.x1(cI), nsegs.y1(cI), nsegs.x2(cI), nsegs.y2(cI))
      k += 1
    }
  }

  /** reference constrained.go:33-113 Triangles with the reference's
    * default (constrained insertion off, constrained.go:24-31): dedupe
    * points exactly, drop zero-length segments, plain Delaunay.
    */
  private val delaunaySeen = new ThreadLocal[Scratch.PtSet] {
    override def initialValue(): Scratch.PtSet = new Scratch.PtSet(256)
  }

  def delaunayTriangles(segs: IndexedSeq[Seg]): IndexedSeq[(Pt, Pt, Pt)] = {
    val buf = new Scratch.SegBuf
    segs.foreach(s => buf.add(s.x1, s.y1, s.x2, s.y2))
    delaunayFromBuf(buf)
  }

  private def delaunayFromBuf(segs: Scratch.SegBuf): IndexedSeq[(Pt, Pt, Pt)] = {
    val seen = delaunaySeen.get()
    seen.clear()
    val pts = mutable.ArrayBuffer[Pt]()
    var i = 0
    while (i < segs.n) {
      val dx = segs.x2(i) - segs.x1(i); val dy = segs.y2(i) - segs.y1(i)
      val lnt = math.sqrt(dx * dx + dy * dy)
      if (!Cmp.Default.float(lnt, 0.0)) {
        // tuples only materialized for newly-seen points
        if (seen.addXY(segs.x1(i), segs.y1(i))) pts += ((segs.x1(i), segs.y1(i)))
        if (seen.addXY(segs.x2(i), segs.y2(i))) pts += ((segs.x2(i), segs.y2(i)))
      }
      i += 1
    }
    if (pts.isEmpty) Vector.empty
    else Subdivision.forPoints(pts.toIndexedSeq).map(_.triangles(includeFrame = false))
      .getOrElse(Vector.empty)
  }

  /** reference makevalid.go:167-235 — full repair of a multipolygon.
    * Returns None when nothing remains inside the clipbox.
    */
  def makeValid(polys: IndexedSeq[IndexedSeq[IndexedSeq[Pt]]],
                clipbox: Option[Extent]): Option[IndexedSeq[IndexedSeq[IndexedSeq[Pt]]]] = {
    val hm = PolygonHitmap(polys)
    val segs = mvScratch.get().result
    destructureBuf(clipbox, polys, segs)
    if (segs.n == 0) return None
    val tris = delaunayFromBuf(segs).filter { t =>
      hm.labelInsideXY((t._1._1 + t._2._1 + t._3._1) / 3,
        (t._1._2 + t._2._2 + t._3._2) / 3)
    }
    if (tris.isEmpty) return None
    val mp = Walker.multiPolygon(tris)
    if (mp.isEmpty) None else Some(mp)
  }

  /** geometry-level dispatch (reference makevalid.go:190-235): polygons
    * repaired, points/lines clipped, everything else passed through.
    */
  def geometry(g: Geometry, clipbox: Option[Extent]): Option[Geometry] = g match {
    case GPolygon(rs) =>
      QuadEdge.resetPool() // row boundary: prior rows' subdivisions are dead
      makeValid(Vector(rs), clipbox).map(GMultiPolygon.apply)
    case GMultiPolygon(mp) =>
      QuadEdge.resetPool()
      makeValid(mp, clipbox).map(GMultiPolygon.apply)
    case other => Clip.geometry(other, clipbox)
  }
}
