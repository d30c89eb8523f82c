package graft.core

import graft.core.Geom._

/** Guibas–Stolfi quad-edge structure + topology operators.
  *
  * Semantics from /root/reference/planar/triangulate/delaunay/quadedge/
  * {quadedge,edge,topo,resolve_edge}.go. All point comparisons in this
  * package use the high-precision comparator (tolerance 1e-9 — quadedge
  * cmp.go:7 `cmp = pkg.HiCMP`).
  */
object QuadEdge {

  val cmp: Cmp = Cmp.HiCmp

  final class Edge private[QuadEdge] (val num: Int) {
    var next: Edge = _
    private[QuadEdge] var qe: Array[Edge] = _
    var v: Pt = null.asInstanceOf[Pt] // orig vertex; null = unset

    var hasV: Boolean = false

    def orig: Pt = v
    def dest: Pt = sym.v
    def origDefined: Boolean = hasV
    def destDefined: Boolean = sym.hasV

    def setEndPoints(o: Pt, d: Pt): Unit = {
      v = o; hasV = true
      sym.v = d; sym.hasV = true
    }

    def rot: Edge = if (num == 3) qe(0) else qe(num + 1)
    def invRot: Edge = if (num == 0) qe(3) else qe(num - 1)
    def sym: Edge = if (num < 2) qe(num + 2) else qe(num - 2)
    def oNext: Edge = next
    def oPrev: Edge = rot.oNext.rot
    def dPrev: Edge = invRot.oNext.invRot
    def lNext: Edge = invRot.oNext.rot
    def lPrev: Edge = oNext.sym

    def asSeg: Seg = Seg(orig, dest)

    /** reference edge.go:222-232 IsEqual: `e == &e1.qe.e[e.num]` — true
      * whenever the other edge belongs to the SAME quad-edge group (so the
      * sym matches too); FindIntersectingEdges' termination relies on this.
      */
    def isEqual(o: Edge): Boolean = o != null && (qe eq o.qe)

    /** reference edge.go FindONextDest (HiCMP equality). */
    def findONextDest(d: Pt): Edge = {
      if (cmp.pointEqual(d, dest)) return this
      var ne = oNext
      while (ne ne this) {
        if (cmp.pointEqual(d, ne.dest)) return ne
        ne = ne.oNext
      }
      null
    }

  }

  // ---- per-thread quad-group pool ----
  //
  // Round-2 finding (results/scaling_r2.json runs 4-6): the makevalid/tile kernels
  // anti-scale above ~8 workers because every row allocates a fresh graph
  // (Array[4] + 4 Edge objects per edge, thousands per polygon) — the
  // allocation traffic saturates the DRAM bus before the cores do. The
  // kernels are single-row sequential, so quad groups are pooled per
  // thread and recycled at row boundaries (MakeValid.geometry resets).
  // Groups beyond PoolCap fall back to plain allocation (GC'd), bounding
  // retained memory at ~6 MB/thread while keeping the steady state
  // allocation-free for any realistic polygon.

  private final val PoolCap = 32768

  private def mkGroup(): Array[Edge] = {
    val es = Array(new Edge(0), new Edge(1), new Edge(2), new Edge(3))
    es(0).qe = es; es(1).qe = es; es(2).qe = es; es(3).qe = es
    es
  }

  private def initGroup(es: Array[Edge]): Unit = {
    es(0).next = es(0)
    es(1).next = es(3)
    es(2).next = es(2)
    es(3).next = es(1)
    var i = 0
    while (i < 4) { es(i).v = null.asInstanceOf[Pt]; es(i).hasV = false; i += 1 }
  }

  private final class EdgePool {
    private var groups = new Array[Array[Edge]](256)
    private var n = 0 // high-water of pooled groups
    private var idx = 0 // next pooled group to hand out
    @volatile var gen = 0L // bumped on reset; read cross-thread by checkLive
    def reset(): Unit = { idx = 0; gen += 1 }
    def take(): Edge = {
      val es =
        if (idx < n) { val g = groups(idx); idx += 1; g }
        else if (n < PoolCap) {
          if (n == groups.length) groups = java.util.Arrays.copyOf(groups, groups.length * 2)
          val g = mkGroup(); groups(n) = g; n += 1; idx = n; g
        } else mkGroup() // pool exhausted: plain allocation, GC reclaims
      initGroup(es)
      es(0)
    }
  }

  private val pool = new ThreadLocal[EdgePool] {
    override def initialValue(): EdgePool = new EdgePool
  }

  /** Recycle this thread's pooled quad groups. ONLY safe at a row boundary:
    * every Subdivision built since the previous reset must be dead.
    * MakeValid.geometry (the per-row kernel entry) calls this.
    */
  def resetPool(): Unit = pool.get().reset()

  /** The building thread's pool as an opaque handle + its generation —
    * lets a Subdivision detect recycling from ANY reading thread (the
    * edges live in the BUILDER's pool, so the builder thread's reset
    * poisons them no matter who reads).
    */
  private[core] def poolHandle: AnyRef = pool.get()
  private[core] def generationOf(handle: AnyRef): Long =
    handle.asInstanceOf[EdgePool].gen

  /** 4-edge group (reference quadedge.go Init) — pooled per thread. */
  def newEdge(): Edge = pool.get().take()

  def newWithEndPoints(o: Pt, d: Pt): Edge = {
    val e = newEdge()
    e.setEndPoints(o, d)
    e
  }

  /** reference topo.go:13-28 Splice. */
  def splice(a: Edge, b: Edge): Unit = {
    if (a == null || b == null) return
    val alpha = a.oNext.rot
    val beta = b.oNext.rot
    val t1 = b.oNext
    val t2 = a.oNext
    val t3 = beta.oNext
    val t4 = alpha.oNext
    a.next = t1
    b.next = t2
    alpha.next = t3
    beta.next = t4
  }

  /** reference topo.go Connect: resolve b around a.Dest then hook up. */
  def connect(a: Edge, b: Edge, yPositiveDown: Boolean): Edge = {
    if (a == null || b == null) return null
    val bb = resolveEdgeOrNull(yPositiveDown, b, a.dest) // reference ignores the error here
    val e = newEdge()
    if (bb != null) e.setEndPoints(a.dest, bb.orig)
    else { e.v = a.dest; e.hasV = true } // degenerate resolve: orig only
    splice(e, a.lNext)
    if (bb != null) splice(e.sym, bb)
    e
  }

  /** reference topo.go Swap. */
  def swap(e: Edge): Unit = {
    val a = e.oPrev
    val b = e.sym.oPrev
    splice(e, a)
    splice(e.sym, b)
    splice(e, a.lNext)
    splice(e.sym, b.lNext)
    e.setEndPoints(a.dest, b.dest)
  }

  /** reference topo.go Delete. */
  def delete(e: Edge): Unit = {
    if (e == null) return
    val sym = e.sym
    splice(e, e.oPrev)
    splice(sym, sym.oPrev)
  }

  /** reference topo.go OnEdge: point-on-segment with HiCMP. */
  def onEdge(pt: Pt, e: Edge): Boolean = {
    if (!e.origDefined || !e.destDefined) return false
    val o = e.orig; val d = e.dest
    Planar.isPointOnLineSegmentXY(cmp, pt._1, pt._2, o._1, o._2, d._1, d._2)
  }

  /** reference topo.go RightOf: x is clockwise of (orig, dest). */
  def rightOf(yPositiveDown: Boolean, x: Pt, e: Edge): Boolean = {
    if (!e.origDefined || !e.destDefined) return false
    val o = e.orig; val d = e.dest
    Winding.orientation3(yPositiveDown, o._1, o._2, d._1, d._2, x._1, x._2) ==
      Winding.Clockwise
  }

  // ---- ResolveEdge (reference resolve_edge.go:71-277) ----

  private final class REdge {
    var destAbs: Pt = _
    var e: Edge = _
    var ab, da, db: Int = 0
    var candidate: Edge = _
    var err: String = _
    def ccwAB = ab == Winding.CounterClockwise
    def cwAB = ab == Winding.Clockwise
    def zAB = ab == Winding.Colinear
    def ccwDA = da == Winding.CounterClockwise
    def cwDA = da == Winding.Clockwise
    def zDA = da == Winding.Colinear
    def ccwDB = db == Winding.CounterClockwise
    def cwDB = db == Winding.Clockwise
    def zDB = db == Winding.Colinear
    def doNext(): Unit = { candidate = null; err = null }
    def a(): Unit = { candidate = e }
    def errA(): Unit = { candidate = e; err = "colinear" }
    def errB(): Unit = { candidate = e.oNext; err = "colinear" }
    def errEdge(): Unit = { candidate = e; err = "coincident" }
    def containsDest: Boolean = e.asSeg.bboxContains(destAbs)
  }

  private val rEdgeScratch = new ThreadLocal[REdge] {
    override def initialValue(): REdge = new REdge
  }

  /** Returns Right(edge) on clean resolve, Left((edge, reason)) when the
    * reference would return (candidate, error).
    */
  def resolveEdge(yPositiveDown: Boolean, gse: Edge, odest: Pt): Either[(Edge, String), Edge] = {
    val re = resolveCore(yPositiveDown, gse, odest)
    if (re == null) Left((null, "invalid end vertex"))
    else if (re.err != null) Left((re.candidate, re.err))
    else if (re.candidate != null) Right(re.candidate)
    else Right(gse) // walked all with Next() everywhere: fall back
  }

  /** allocation-free resolve for the internal hot callers (connect, locate,
    * ofFrame), which all use the candidate edge and ignore the error: on a
    * clean resolve the resolved edge; on an error the candidate (possibly
    * null); null on the invalid-end-vertex case. Exactly the edge the
    * Either form carries.
    */
  def resolveEdgeOrNull(yPositiveDown: Boolean, gse: Edge, odest: Pt): Edge = {
    val re = resolveCore(yPositiveDown, gse, odest)
    if (re == null) null
    else if (re.err != null || re.candidate != null) re.candidate
    else gse
  }

  private def resolveCore(yPositiveDown: Boolean, gse: Edge, odest: Pt): REdge = {
    val orig = gse.orig
    if (cmp.pointEqual(orig, odest)) return null
    val origX = orig._1; val origY = orig._2
    val destX = odest._1 - origX; val destY = odest._2 - origY
    val re = rEdgeScratch.get() // resolveEdge never self-nests
    re.destAbs = odest
    re.e = null; re.candidate = null; re.err = null

    // inline walkAllONext: the oNext ring around orig cycles back to the
    // starting group; the seen-IdentityHashMap of the generic walker exists
    // only to terminate corrupted topologies, which the iteration cap
    // covers here without a per-call map allocation (round-3 hot path).
    var e = gse
    var iter = 0
    var walking = true
    while (walking && e != null) {
      val apt = e.dest
      val bpt = e.oNext.dest
      re.err = null
      re.candidate = null
      val aoX = apt._1 - origX; val aoY = apt._2 - origY
      val boX = bpt._1 - origX; val boY = bpt._2 - origY
      re.ab = Winding.orientation3(yPositiveDown, aoX, aoY, boX, boY, 0.0, 0.0)
      re.da = Winding.orientation3(yPositiveDown, destX, destY, aoX, aoY, 0.0, 0.0)
      re.db = Winding.orientation3(yPositiveDown, destX, destY, boX, boY, 0.0, 0.0)
      re.e = e
      if (yPositiveDown) tableYDown(re) else tableYUp(re)
      if (re.candidate != null || re.err != null) walking = false
      else {
        e = e.oNext
        iter += 1
        // first-repeat semantics of the original seen-set walker: only the
        // STARTING edge terminates the ring (on degenerate topologies the
        // group's sym edge can appear in the same origin ring and must be
        // walked through, not treated as the cycle end); the iteration cap
        // covers corrupted topologies.
        if ((e eq gse) || iter > (1 << 20)) walking = false
      }
    }
    re
  }

  /** reference resolveEdgeYUp (resolve_edge.go:108-157). */
  private def tableYUp(re: REdge): Unit = {
    if (re.ccwAB) {
      if (re.ccwDA) re.doNext()
      else if (re.cwDA && re.ccwDB) re.a()
      else if (re.cwDA && re.cwDB) re.doNext()
      else if (re.cwDA && re.zDB) re.errB()
      else if (re.zDA && re.ccwDB) re.errA()
      else if (re.zDA && re.cwDB) re.doNext()
    } else if (re.cwAB) {
      if (re.cwDA) re.a()
      else if (re.ccwDA && re.ccwDB) re.a()
      else if (re.ccwDA && re.cwDB) re.doNext()
      else if (re.ccwDA && re.zDB) re.errB()
      else if (re.zDA && re.ccwDB) re.a()
      else if (re.zDA && re.cwDB) re.errA()
    } else if (re.zAB) {
      if (re.ccwDA && re.cwDB) re.doNext()
      else if (re.cwDA && re.ccwDB) re.a()
      else if ((re.cwDA && re.cwDB) || (re.ccwDA && re.ccwDB)) re.a()
      else if (re.zDA && re.zDB) { if (re.containsDest) re.errA() else re.errB() }
    } else re.errEdge()
  }

  /** reference resolveEdgeYDown (resolve_edge.go:159-210). */
  private def tableYDown(re: REdge): Unit = {
    if (re.ccwAB && re.ccwDA) re.doNext()
    else if (re.ccwAB && re.cwDA && re.cwDB) re.doNext()
    else if (re.ccwAB && re.cwDA && re.ccwDB) re.a()
    else if (re.ccwAB && re.cwDA && re.zDB) re.errB()
    else if (re.ccwAB && re.zDA && re.ccwDB) re.errA()
    else if (re.ccwAB && re.zDA && re.cwDB) re.doNext()
    else if (re.cwAB && re.ccwDA && re.ccwDB) re.a()
    else if (re.cwAB && re.ccwDA && re.cwDB) re.doNext()
    else if (re.cwAB && re.ccwDA && re.zDB) re.errB()
    else if (re.cwAB && re.cwDA) re.a()
    else if (re.cwAB && re.zDA && re.ccwDB) re.a()
    else if (re.cwAB && re.zDA && re.cwDB) re.errA()
    else if (re.zAB && re.ccwDA && re.cwDB) re.doNext()
    else if (re.zAB && re.cwDA && re.ccwDB) re.a()
    else if (re.zAB && re.zDA && re.zDB) { if (re.containsDest) re.errA() else re.errB() }
    else if (re.zAB && re.ccwDA && re.ccwDB) re.a()
    else if (re.zAB && re.cwDA && re.cwDB) re.a()
    else re.errEdge()
  }
}
