package graft.operators

import org.apache.spark.sql.DataFrame

/** Lifecycle registry for operator-persisted frames (today Dedup's
  * `materialize`). Those persists are MEMORY_AND_DISK, so NOT evicted by
  * block-manager LRU once spilled; unreleased, they accumulate for the
  * life of the SparkContext in a long-lived session running many
  * operators.
  *
  * Operators register every persist here at plan-BUILD time; the frame
  * must stay cached until the caller's consuming ACTION finishes (the
  * whole point of the persist is that two join sides read it), so the
  * operator itself can never unpersist. The CALLER owns the release:
  * `CacheBin.drain()` after the action — Verify drains per query,
  * Bench's `clearCache()` is the blunt equivalent, and a production
  * session drains between operator invocations. Draining is always safe:
  * an in-flight plan re-computes the frame instead of crashing.
  */
object CacheBin {

  // THREAD-SCOPED bins (round-6 advice): the registry was JVM-global, so
  // one session's post-action drain() also unpersisted frames a
  // CONCURRENT session (another thread sharing the SparkContext) was
  // still mid-action on — silently forcing full recomputation of its
  // twice-read frames. Operators register at plan-BUILD time on the
  // calling thread and the owning caller drains on that same thread
  // (Verify's per-query loop, the specs, a production session between
  // operator invocations), so thread identity IS the session scope here.
  // No operator registers from executor or micro-batch threads (the
  // streaming family does not persist through CacheBin).
  private val bins = new java.util.concurrent.ConcurrentHashMap[
    Thread, java.util.concurrent.ConcurrentLinkedQueue[DataFrame]]

  private def myBin = bins.computeIfAbsent(Thread.currentThread(),
    _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame])

  /** register a frame the operator just persisted; returns it. */
  def track(df: DataFrame): DataFrame = { myBin.add(df); df }

  /** unpersist (non-blocking) every frame tracked BY THIS THREAD. */
  def drain(): Int = {
    val q = bins.remove(Thread.currentThread())
    if (q == null) return 0
    var n = 0
    var df = q.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      n += 1
      df = q.poll()
    }
    n
  }

  /** unpersist every tracked frame across ALL threads — the shutdown /
    * single-session-owner escape hatch (a long-lived multi-session
    * deployment uses per-thread drain()).
    */
  def drainAll(): Int = {
    var n = 0
    val it = bins.keySet().iterator()
    while (it.hasNext) {
      val t = it.next()
      val q = bins.remove(t)
      if (q != null) {
        var df = q.poll()
        while (df != null) { df.unpersist(blocking = false); n += 1; df = q.poll() }
      }
    }
    n
  }

  /** this thread's tracked-but-not-yet-drained count (spec hook). */
  def pending: Int = {
    val q = bins.get(Thread.currentThread())
    if (q == null) 0 else q.size
  }
}
