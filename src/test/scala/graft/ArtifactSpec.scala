package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import graft.ops.{Dedup, Events, Relational, Similarity}

/** The declared artifact registry: what is registered, that warming is
  * idempotent, that each module warms only its own group, and that a
  * failing build is named without stopping the others. */
class ArtifactSpec extends SparkSpec {

  private val declared = Set(
    "dedup" -> "shingles", "dedup" -> "ranked_sets",
    "dedup" -> "corpus_sigs", "dedup" -> "pos_kgrams",
    "dedup" -> "dup_kgram_starts", "dedup" -> "cluster_labels",
    "relational" -> "basket", "relational" -> "copurchase_pairs",
    "relational" -> "lpa_labels",
    "similarity" -> "kmeans_assign", "similarity" -> "pq_dist",
    "similarity" -> "pca_parts", "similarity" -> "ivf_cells_ranked",
    "events" -> "session_frame")

  /** The registry after every owner object has initialised. */
  private def registry: Seq[Artifact[_ <: AnyRef]] = {
    assert(SparkEntry.queries.nonEmpty)
    Artifact.all
  }

  test("the registry holds exactly the declared artifacts, once each") {
    val entries = registry.map(a => a.group -> a.name)
    assert(entries.toSet === declared)
    assert(entries.size === declared.size)
  }

  test("a second warmAll runs zero Spark jobs") {
    assert(registry.nonEmpty)
    val first = Artifact.warmAll(spark, sf)
    assert(first.collect { case (k, Left(e)) => s"$k: $e" }.isEmpty)
    var second: Seq[(String, Either[Throwable, Double])] = Nil
    assert(jobsDuring { second = Artifact.warmAll(spark, sf) } === 0)
    assert(second.map(_._1) === first.map(_._1))
    assert(second.forall(_._2.isRight))
  }

  test("each module's warm entry point builds exactly its own group") {
    val warms: Seq[(String, (SparkSession, String) => Unit)] = Seq(
      "dedup" -> Dedup.warmArtifacts,
      "relational" -> Relational.warmArtifacts,
      "similarity" -> Similarity.warmArtifacts,
      "events" -> ((s, d) => { Events.sessionFrame(s, d); () }))
    assert(warms.map(_._1).toSet === declared.map(_._1))
    warms.foreach { case (group, warm) =>
      // a fresh session is a fresh memo key for every entry
      val s = spark.newSession()
      warm(s, sf)
      val built = registry.filter(_.isBuilt(s, sf)).map(_.key).toSet
      assert(built === registry.filter(_.group == group).map(_.key).toSet,
        s"warming $group")
    }
  }

  test("a throwing entry is reported by name and the others still build") {
    val before = new Artifact[DataFrame]("spec", "before")((s, _) =>
      s.range(3).toDF())
    val boom = new Artifact[DataFrame]("spec", "boom")((_, _) =>
      throw new IllegalStateException("boom"))
    val after = new Artifact[DataFrame]("spec", "after")((s, _) =>
      s.range(5).toDF().localCheckpoint())
    val out = Artifact.build(Seq(before, boom, after), spark, sf)
    assert(out.map(_._1) === Seq("spec.before", "spec.boom", "spec.after"))
    assert(out.collect { case (k, Left(e)) => k -> e.getMessage } ===
      Seq("spec.boom" -> "boom"))
    assert(before.isBuilt(spark, sf) && after.isBuilt(spark, sf))
    assert(!boom.isBuilt(spark, sf))
    // the registry only holds declared entries
    assert(!registry.exists(_.group == "spec"))
  }

  test("a concurrent warm builds each entry exactly once, overlapping") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val builds = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    def count(k: String): Unit =
      builds.computeIfAbsent(k, _ => new AtomicInteger()).incrementAndGet()
    // two entries that can only finish if they run at the same time
    val together = new CountDownLatch(2)
    val base = new Artifact[DataFrame]("spec", "base")((s, _) => {
      count("base")
      together.countDown()
      assert(together.await(60, TimeUnit.SECONDS), "builds did not overlap")
      s.range(4).toDF().localCheckpoint()
    })
    // every reader of `base` waits for the one running build
    def reader(name: String) = new Artifact[DataFrame]("spec", name)((s, d) => {
      count(name)
      base(s, d).toDF("id")
    })
    val first = new Artifact[DataFrame]("spec", "first")((s, _) => {
      count("first")
      together.countDown()
      assert(together.await(60, TimeUnit.SECONDS), "builds did not overlap")
      s.range(2).toDF()
    })
    val entries = Seq(base, first, reader("r1"), reader("r2"), reader("r3"))
    val out = Artifact.build(entries, spark, sf)
    assert(out.map(_._1) === entries.map(_.key))
    assert(out.collect { case (k, Left(e)) => s"$k: $e" }.isEmpty)
    assert(builds.asScala.map { case (k, n) => k -> n.get }.toMap ===
      Map("base" -> 1, "first" -> 1, "r1" -> 1, "r2" -> 1, "r3" -> 1))
    assert(entries.forall(_.isBuilt(spark, sf)))
  }

  test("warm threads inherit the caller's Spark local properties") {
    val tag = "graft.artifactSpec.inherit"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val entries = (1 to 3).map(i => new Artifact[DataFrame]("spec", s"p$i")(
      (s, _) => {
        seen.add(String.valueOf(s.sparkContext.getLocalProperty(tag)))
        s.range(i).toDF()
      }))
    val sc = spark.sparkContext
    sc.setLocalProperty(tag, "caller")
    try assert(Artifact.build(entries, spark, sf).forall(_._2.isRight))
    finally sc.setLocalProperty(tag, null)
    assert(seen.asScala.toSeq === Seq("caller", "caller", "caller"))
  }

  test("BoundedMemo: a racing caller waits for the running build") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val memo = new BoundedMemo[String, AnyRef](4)
    val computes = new AtomicInteger()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    def call(): Unit = results.add(memo.getOrCompute("k") {
      computes.incrementAndGet()
      started.countDown()
      assert(release.await(60, TimeUnit.SECONDS))
      new Object
    })
    val a = new Thread(() => call())
    a.start()
    assert(started.await(60, TimeUnit.SECONDS))
    val b = new Thread(() => call())
    b.start()
    // b is parked on the running build before it is released
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (b.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(b.getState === Thread.State.WAITING)
    release.countDown()
    a.join(); b.join()
    assert(computes.get === 1)
    assert(results.size === 2 && results.asScala.toSet.size === 1)
    // a failed build is shared with its waiters and leaves no entry
    val err = intercept[IllegalStateException](
      memo.getOrCompute("bad")(throw new IllegalStateException("nope")))
    assert(err.getMessage === "nope" && !memo.contains("bad"))
    assert(memo.getOrCompute("bad")("ok") === "ok")
    // a build asking for its own key fails instead of waiting on itself
    intercept[IllegalStateException](
      memo.getOrCompute("self")(memo.getOrCompute("self")("inner")))
    assert(!memo.contains("self"))
  }

  test("checkpoint stores in heap up to the caller's boundary and " +
      "DISK_ONLY past it") {
    def level(df: DataFrame): StorageLevel =
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD =>
        r.rdd.getStorageLevel }.get
    val df = spark.range(10).toDF()
    assert(level(Artifact.checkpoint(df, 5L, 5L)).useMemory)
    assert(level(Artifact.checkpoint(df, 6L, 5L)) === StorageLevel.DISK_ONLY)
    // the callers' measured boundaries (DedupSpec / SimilaritySpec pin
    // the shipped corpora against them)
    assert(Dedup.MemoInHeapMaxDocs === 600000L)
    assert(Similarity.PqInHeapMaxRows === 600000000L)
  }
}
