package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    val tag = "graft.artifactSpec"
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "second")
      val second = Artifact.warmAll(spark, sf)
      assert(second.map(_._1) === first.map(_._1))
      assert(second.forall(_._2.isRight))
      // listener events arrive asynchronously and in order: once the
      // sentinel job is seen, every job the second warm ran is counted
      sc.setLocalProperty(tag, "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!tags.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(tags.contains("sentinel"), "listener never saw the sentinel")
      assert(tags.asScala.count(_ == "second") === 0)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
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
