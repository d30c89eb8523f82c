package graft.operators

/** No operator persists a frame: each Dedup operator reads its twice-used
  * frame through one exchange that AQE reuses, so nothing outlives an
  * action and there is nothing to release. `drain()` stays because
  * Verify's per-query loop and the perfbench harness call it after every
  * action; it releases nothing.
  */
object CacheBin {

  /** a no-op kept for callers that release after each action; returns 0. */
  def drain(): Int = 0
}
