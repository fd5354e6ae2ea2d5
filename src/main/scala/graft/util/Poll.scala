package graft.util

/** Settle-polling for gauges fed by Spark's ASYNCHRONOUS listener bus: an
  * action can return while its last TaskEnd events are still queued, so a
  * read-once consumer misses exactly the straggler it wants to observe
  * (or leaks it into the next measurement window). Polling until the
  * value stops moving is the one discipline every listener consumer —
  * [[TaskStats]] and the perfbench tracer — shares; one definition so a
  * future change to the heuristic (or a switch to a deterministic bus
  * drain) happens once.
  */
object Poll {
  def settled(get: () => Long, maxIters: Int, sleepMs: Long): Long = {
    var prev = -1L
    var cur = get()
    var i = 0
    while (cur != prev && i < maxIters) {
      Thread.sleep(sleepMs)
      prev = cur
      cur = get()
      i += 1
    }
    cur
  }
}
