package graft

/** Bounded access-ordered memo for staged intermediates (checkpointed
  * DataFrames, corpus indexes): inserting past capacity evicts the
  * least-recently-used entry only, so a long-running multi-tenant server
  * keeps the other sessions' staged signatures warm instead of
  * clear()-ing the world. Evicted entries just recompute; dropping the
  * strong reference lets the ContextCleaner reclaim checkpoint blocks.
  *
  * The map lock guards only map operations: each entry is a lazy cell,
  * so a multi-second staging compute blocks ONLY callers of its own key
  * (they share the cell's result), never other keys — one tenant's
  * cold-start must not serialize every other tenant's lookup.
  */
private[graft] final class LruMemo[K, V](capacity: Int) {
  // Memo builds run pinned: frames checkpointed during the compute are
  // build-once-serve-many artifacts whose blocks must survive across
  // queries (they are NOT registered in Staging's transient ledger; an
  // evicted entry is still reclaimed by the ContextCleaner as before).
  // Outermost builds also record their seconds in the memo ledger so the
  // bench can report family-artifact build cost separately from the
  // first consumer's own time (nested memo builds are covered by the
  // outer timing).
  private final class Cell(compute: () => V) {
    lazy val value: V = {
      val outermost = !Staging.inPinnedScope
      val t0 = if (outermost) System.nanoTime() else 0L
      val v = Staging.pinned(compute())
      if (outermost) Staging.memoLedgerAdd(System.nanoTime() - t0)
      v
    }
  }

  private val map = new java.util.LinkedHashMap[K, Cell](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Cell]): Boolean =
      size() > capacity
  }

  def getOrElseUpdate(key: K)(compute: => V): V = {
    val cell = map.synchronized {
      val hit = map.get(key)
      if (hit != null) hit
      else { val c = new Cell(() => compute); map.put(key, c); c }
    }
    cell.value // first caller computes outside the map lock
  }

  /** Drop a key (e.g. a memoized computation that turned out broken, so
    * the next caller retries instead of sharing the cached failure).
    */
  def remove(key: K): Unit = map.synchronized { map.remove(key); () }

  /** Test probes. */
  private[graft] def contains(key: K): Boolean = map.synchronized(map.containsKey(key))
  private[graft] def size: Int = map.synchronized(map.size())
}
