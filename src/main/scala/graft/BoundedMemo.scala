package graft

/** Bounded access-order LRU memo — the one shape behind the table-plan
  * caches and every [[Artifact]]: a value is computed at
  * most once per live key, the map never outgrows `max` (values pin
  * their SparkSession, so an unbounded map would keep every session
  * that ever touched it alive for the JVM lifetime), and eviction only
  * drops the memoized reference — materialized checkpoint blocks behind
  * it are freed by the ContextCleaner once unreferenced.
  *
  * Concurrency: get and put synchronize on the map; two racing callers
  * may both compute (idempotent by construction at every call site) and
  * the later put wins — same semantics the three hand-rolled memos had.
  */
final class BoundedMemo[K, V <: AnyRef](max: Int) {
  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f,
    /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      size > max
  }

  def getOrCompute(k: K)(compute: => V): V = {
    val hit = map.synchronized(map.get(k))
    if (hit ne null) hit
    else {
      val v = compute
      map.synchronized(map.put(k, v))
      v
    }
  }

  /** Presence check that leaves the access order alone. */
  def contains(k: K): Boolean = map.synchronized(map.containsKey(k))
}
