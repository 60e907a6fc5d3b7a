package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** One memoized per-(session, dir) artifact: a derived table that every
  * consumer reads instead of re-deriving it — locally a localCheckpoint,
  * at 100 TB a written table. Declared once in its owner object as
  * `val x = Artifact(group, name) { (s, d) => ... }`; the declaration
  * registers the entry, so warm-up walks the registry instead of a
  * hand-kept list. Each entry owns a [[BoundedMemo]] of 8 live keys,
  * so concurrent callers of one key share a single build.
  */
final class Artifact[V <: AnyRef](val group: String, val name: String)(
    build: (SparkSession, String) => V) {
  private val memo = new BoundedMemo[(SparkSession, String), V](8)

  def key: String = s"$group.$name"
  def apply(s: SparkSession, d: String): V =
    memo.getOrCompute((s, d))(build(s, d))
  private[graft] def isBuilt(s: SparkSession, d: String): Boolean =
    memo.contains((s, d))
}

object Artifact {
  private val registered =
    new java.util.concurrent.CopyOnWriteArrayList[Artifact[_ <: AnyRef]]()

  /** Declares and registers an entry. Owner objects register when they
    * initialise, so read [[all]] only after touching
    * `SparkEntry.queries`, which initialises every owner. */
  def apply[V <: AnyRef](group: String, name: String)(
      build: (SparkSession, String) => V): Artifact[V] = {
    val a = new Artifact(group, name)(build)
    require(!all.exists(_.key == a.key), s"duplicate artifact ${a.key}")
    registered.add(a)
    a
  }

  /** Every registered entry, in registration order. */
  def all: Seq[Artifact[_ <: AnyRef]] = registered.asScala.toSeq

  /** Builds one group's entries concurrently (see [[build]]); once all
    * have run, the first failure in registration order propagates. */
  def warm(group: String, s: SparkSession, d: String): Unit =
    build(all.filter(_.group == group), s, d)
      .collectFirst { case (_, Left(e)) => throw e }

  /** Builds the entries concurrently and times each. A failure is
    * returned under the entry's key instead of thrown, and the other
    * entries still build — at scale an out-of-memory build must name its
    * artifact. Results come back in `entries` order.
    *
    * Entries declare no dependencies: a build that reads another entry
    * calls it, and the single-flight [[BoundedMemo]] makes it wait for a
    * build already running instead of starting a second one, so any
    * order and any overlap is safe. The pool is sized to the entries,
    * capped at the session's `defaultParallelism` (each build is a chain
    * of Spark jobs; more builds than task slots would only queue). Its
    * threads are created per call, on the calling thread, so they
    * inherit its Spark local properties (job group, scheduler pool, the
    * tags that attribute jobs) and its active session. An entry's
    * seconds include any wait on an entry it reads, so per-entry times
    * overlap; the wall time of the whole call is the caller's to take. */
  def build(entries: Seq[Artifact[_ <: AnyRef]], s: SparkSession,
      d: String): Seq[(String, Either[Throwable, Double])] =
    if (entries.isEmpty) Nil
    else {
      val threads = math.min(entries.size,
        math.max(1, s.sparkContext.defaultParallelism))
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
        (r: Runnable) => {
          val t = new Thread(r, s"graft-artifact-warm-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      try entries.map(a => pool.submit(() => timed(a.key)(a(s, d))))
        .map(_.get())
      finally pool.shutdown()
    }

  /** Runs one warm-up step and times it; a failure is returned under
    * `key` instead of thrown. */
  def timed(key: String)(body: => Unit): (String, Either[Throwable, Double]) = {
    val t0 = System.nanoTime()
    key -> (try { body; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) })
  }

  def warmAll(s: SparkSession, d: String)
      : Seq[(String, Either[Throwable, Double])] = build(all, s, d)

  /** Eager localCheckpoint sized to the artifact: in-heap while `size`
    * is within the caller's measured `inHeapMax`, DISK_ONLY beyond it.
    * Past the boundary the 32-way concurrent unroll of deserialized row
    * copies overflows one JVM (the sf30 probes OOM'd in
    * `MemoryStore.putIteratorAsValues`); DISK_ONLY streams the blocks
    * with no unroll phase, and the page cache keeps re-reads fast —
    * also the closer analogue of the stored-table contract. */
  def checkpoint(df: DataFrame, size: Long, inHeapMax: Long): DataFrame =
    if (size <= inHeapMax) df.localCheckpoint()
    else df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
}
