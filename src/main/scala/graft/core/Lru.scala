package graft.core

/** Access-ordered bounded registry for session-scoped caches (plan
  * fragments, file indexes, side-store handles). Overflow evicts ONLY
  * the least-recently-used entry — never the hot ones, so a working set
  * one larger than the bound degrades by one rebuild instead of an
  * eviction storm rebuilding everything. `onEvict` releases whatever
  * the entry holds (unpersist a cached frame, nothing for reopenable
  * handles). Synchronized: these registries see a handful of accesses
  * per statement, never per row. */
final class Lru[K, V](cap: Int, onEvict: V => Unit = (_: V) => ()) {
  require(cap > 0, "Lru capacity must be positive")
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (this.size > cap) { onEvict(e.getValue); true } else false
  }
  /** `mk` runs OUTSIDE the lock, so builds of different keys (frame
    * analysis, file stats) proceed concurrently. Values must be pure per
    * key: two threads racing on one key may both build, and the first
    * value inserted wins — the loser is dropped without `onEvict`,
    * since it may share state (e.g. a cached plan) with the winner. */
  def getOrElseUpdate(k: K)(mk: => V): V = {
    val got = synchronized(m.get(k))
    if (got != null) got
    else {
      val v = mk
      synchronized {
        val raced = m.get(k)
        if (raced != null) raced else { m.put(k, v); v }
      }
    }
  }
  def size: Int = synchronized(m.size)
  /** Drop everything, running `onEvict` on each entry (explicit
    * invalidation after in-place source rewrites). */
  def invalidateAll(): Unit = synchronized {
    m.values.forEach(v => onEvict(v)); m.clear()
  }
}
