package graft.core

import graft.core.Geom._

/** Segment-intersection event queue
  * (reference planar/intersect/xsweep.go:66-179): two events per segment
  * (LEFT/RIGHT by x-then-y), sorted by (x, type, y); active set keyed by
  * segment index; on each RIGHT event the closing segment is tested against
  * every active segment (in ascending index order); `connected=true` skips
  * pairs sharing an endpoint (default-tolerance equality).
  *
  * Round-3 allocation-free rework (same visit order, same results): events
  * live in pooled per-thread primitive arrays sorted via an index array
  * whose comparator ends with the event index — a total order that
  * reproduces the former stable sortWith exactly; the active set is a
  * pooled bitmap iterated ascending (the boxed TreeSet[Int] red-black
  * nodes and iterators were a measured allocation source); the pair test
  * allocates a point only on an actual hit.
  */
object Sweep {

  private final class SweepScratch {
    var edge = new Array[Int](128)
    var left = new Array[Boolean](128)
    var ex = new Array[Double](128)
    var ey = new Array[Double](128)
    var order = new Array[Int](128)
    var bitmap = new Array[Long](16)

    def ensure(events: Int, segs: Int): Unit = {
      if (edge.length < events) {
        val cap = Integer.highestOneBit(events * 2 - 1) << 1
        edge = new Array[Int](cap)
        left = new Array[Boolean](cap)
        ex = new Array[Double](cap)
        ey = new Array[Double](cap)
        order = new Array[Int](cap)
      }
      val words = (segs >> 6) + 1
      if (bitmap.length < words)
        bitmap = new Array[Long](Integer.highestOneBit(words * 2 - 1) << 1)
      java.util.Arrays.fill(bitmap, 0, words, 0L)
    }

    /** (x asc, LEFT before RIGHT, y asc, event-index asc) — the last key
      * makes the order total, i.e. identical to a stable sort on the
      * first three.
      */
    def lt(a: Int, b: Int): Boolean = {
      if (ex(a) != ex(b)) return ex(a) < ex(b)
      if (left(a) != left(b)) return left(a)
      if (ey(a) != ey(b)) return ey(a) < ey(b)
      a < b
    }

    def sortOrder(n: Int): Unit = quick(0, n - 1)

    private def quick(lo: Int, hi: Int): Unit = {
      var l = lo; var h = hi
      while (l < h) {
        if (h - l < 12) { insertion(l, h); return }
        val p = order((l + h) >>> 1)
        var i = l; var j = h
        while (i <= j) {
          while (lt(order(i), p)) i += 1
          while (lt(p, order(j))) j -= 1
          if (i <= j) {
            val t = order(i); order(i) = order(j); order(j) = t
            i += 1; j -= 1
          }
        }
        // recurse smaller side, loop the larger
        if (j - l < h - i) { quick(l, j); l = i } else { quick(i, h); h = j }
      }
    }

    private def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        val v = order(i)
        var j = i - 1
        while (j >= lo && lt(v, order(j))) { order(j + 1) = order(j); j -= 1 }
        order(j + 1) = v
        i += 1
      }
    }
  }

  private val scratch = new ThreadLocal[SweepScratch] {
    override def initialValue(): SweepScratch = new SweepScratch
  }

  /** core sweep over a packed segment buffer. */
  def findIntersectsBuf(segs: Scratch.SegBuf, connected: Boolean)
                       (fn: (Int, Int, Pt) => Boolean): Unit = {
    val nSegs = segs.n
    val sx1 = segs.x1; val sy1 = segs.y1; val sx2 = segs.x2; val sy2 = segs.y2
    val nEv = nSegs * 2
    val s = scratch.get()
    s.ensure(nEv, nSegs)

    var i = 0
    while (i < nSegs) {
      val leftFirst = sx1(i) < sx2(i) || (sx1(i) == sx2(i) && sy1(i) < sy2(i))
      val a = 2 * i; val b = 2 * i + 1
      s.edge(a) = i; s.left(a) = leftFirst; s.ex(a) = sx1(i); s.ey(a) = sy1(i)
      s.edge(b) = i; s.left(b) = !leftFirst; s.ex(b) = sx2(i); s.ey(b) = sy2(i)
      s.order(a) = a; s.order(b) = b
      i += 1
    }
    s.sortOrder(nEv)

    val cmp = Cmp.Default
    var k = 0
    while (k < nEv) {
      val ev = s.order(k)
      val e = s.edge(ev)
      if (s.left(ev)) s.bitmap(e >> 6) |= (1L << (e & 63))
      else {
        s.bitmap(e >> 6) &= ~(1L << (e & 63))
        val words = (nSegs >> 6) + 1
        var w = 0
        while (w < words) {
          var bitsW = s.bitmap(w)
          while (bitsW != 0) {
            val other = (w << 6) + java.lang.Long.numberOfTrailingZeros(bitsW)
            bitsW &= bitsW - 1
            // scalar endpoint-match (the Seg.p1/p2 tuples were measured hot)
            val skip = connected && {
              val matchStart =
                (cmp.float(sx1(e), sx1(other)) && cmp.float(sy1(e), sy1(other))) ||
                  (cmp.float(sx1(e), sx2(other)) && cmp.float(sy1(e), sy2(other)))
              val matchEnd =
                (cmp.float(sx2(e), sx1(other)) && cmp.float(sy2(e), sy1(other))) ||
                  (cmp.float(sx2(e), sx2(other)) && cmp.float(sy2(e), sy2(other)))
              matchStart || matchEnd
            }
            if (!skip) {
              // Planar.segmentIntersect(seg(e), seg(other)) inline over arrays,
              // the point built only on a hit
              val deltaX12 = sx1(e) - sx2(e)
              val deltaX13 = sx1(e) - sx1(other)
              val deltaX34 = sx1(other) - sx2(other)
              val deltaY12 = sy1(e) - sy2(e)
              val deltaY13 = sy1(e) - sy1(other)
              val deltaY34 = sy1(other) - sy2(other)
              val denom = (deltaX12 * deltaY34) - (deltaY12 * deltaX34)
              if (denom != 0) {
                val t = ((deltaX13 * deltaY34) - (deltaY13 * deltaX34)) / denom
                val u = -((deltaX12 * deltaY13) - (deltaY12 * deltaX13)) / denom
                if (u >= 0.0 && u <= 1.0 && t >= 0.0 && t <= 1.0) {
                  val cross1 = (sx1(e) * sy2(e)) - (sy1(e) * sx2(e))
                  val cross2 = (sx1(other) * sy2(other)) - (sy1(other) * sx2(other))
                  val xnom = (cross1 * deltaX34) - (deltaX12 * cross2)
                  val ynom = (cross1 * deltaY34) - (deltaY12 * cross2)
                  var bx = xnom / denom
                  var by = ynom / denom
                  if (bx == 0.0) bx = 0.0
                  if (by == 0.0) by = 0.0
                  if (!fn(e, other, (bx, by))) return
                }
              }
            }
          }
          w += 1
        }
      }
      k += 1
    }
  }
}
