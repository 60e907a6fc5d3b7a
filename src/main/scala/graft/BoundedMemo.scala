package graft

/** Bounded access-order LRU memo — the one shape behind the table-plan
  * caches and every [[Artifact]]: a value is computed at
  * most once per live key, the map never outgrows `max` (values pin
  * their SparkSession, so an unbounded map would keep every session
  * that ever touched it alive for the JVM lifetime), and eviction only
  * drops the memoized reference — materialized checkpoint blocks behind
  * it are freed by the ContextCleaner once unreferenced.
  *
  * Concurrency: single-flight. The first caller of a key computes it
  * outside the map's lock; a racing caller of the same key waits for
  * that build and gets its value (or its failure) instead of building
  * it a second time, so a concurrent artifact warm-up never runs one
  * build twice. A failed build leaves no entry: the next call computes
  * again. A build that asks for its own key on its own thread fails
  * fast instead of waiting on itself.
  */
final class BoundedMemo[K, V <: AnyRef](max: Int) {
  /** One key's build: done once `latch` opens, with a value or a failure. */
  private final class Slot {
    val owner: Thread = Thread.currentThread()
    val latch = new java.util.concurrent.CountDownLatch(1)
    var value: V = _
    var failure: Throwable = _
  }

  private val map = new java.util.LinkedHashMap[K, Slot](16, 0.75f,
    /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Slot]): Boolean =
      size > max
  }

  def getOrCompute(k: K)(compute: => V): V = {
    val (slot, mine) = map.synchronized {
      val hit = map.get(k)
      if (hit ne null) (hit, false)
      else { val s = new Slot; map.put(k, s); (s, true) }
    }
    if (mine) {
      try slot.value = compute
      catch { case e: Throwable =>
        slot.failure = e
        map.synchronized(if (map.get(k) eq slot) map.remove(k))
      }
      // the latch publishes value/failure to the waiters
      slot.latch.countDown()
    } else if (slot.latch.getCount > 0) {
      if (slot.owner eq Thread.currentThread())
        throw new IllegalStateException(s"recursive build of memo key $k")
      slot.latch.await()
    }
    if (slot.failure ne null) throw slot.failure
    slot.value
  }

  /** Presence check (built or being built) that leaves the access order
    * alone. */
  def contains(k: K): Boolean = map.synchronized(map.containsKey(k))
}
