package graft

/** Shared drain heuristic for counters fed by Spark's async listener
  * bus (Bench's and ProfQ's per-query job counters): posting an event is
  * synchronous but DELIVERY is not — an action can return while its
  * last JobStart still sits in the AsyncEventQueue — so a counter is
  * read only once it has been stable across one quiet window, capped
  * by a wall-clock deadline. One implementation, two harnesses: the
  * two inline copies had already diverged on the cap semantics.
  */
private[graft] object ListenerSettle {
  def settled(counter: java.util.concurrent.atomic.AtomicInteger,
      capMs: Long = 500L, windowMs: Long = 25L): Int = {
    var last = counter.get()
    val deadline = System.nanoTime() + capMs * 1000000L
    while (System.nanoTime() < deadline) {
      Thread.sleep(windowMs)
      val cur = counter.get()
      if (cur == last) return cur
      last = cur
    }
    last
  }
}
