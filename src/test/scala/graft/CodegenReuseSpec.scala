package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code compiles once per JVM: a repeated request set hits
  * Spark's codegen cache, sized by [[GraftSession]] to the engine's
  * working set. With Spark's default of 100 entries, every pass of this
  * set compiled most of its classes with Janino again. */
class CodegenReuseSpec extends SparkSpec {

  // the spray workload's queries plus the session workload's twelve
  private val requests = Seq(
    "wnv_zones", "wnv_target_report", "wnv_erase_concave_sub_rings",
    "dedup_minhash_lsh", "dedup_clusters", "text_cooc_lift",
    "curate_gate", "mm_decode_image", "sim_topk_bruteforce",
    "q1_agg", "events_sessions", "events_asof_join",
    "stream_tumbling_batch", "sql_cte_window", "agg_minmax_by")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session builder sizes the codegen cache, not a JVM flag") {
    assert(sys.props.get("spark.sql.codegen.cache.maxEntries").isEmpty)
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries")
      === GraftSession.CodegenCacheEntries.toString)
  }

  test("the third pass of a repeated request set compiles no class") {
    val perPass = (1 to 3).map { _ =>
      requests.map { name =>
        val c0 = compiles
        SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count()
        name -> (compiles - c0)
      }
    }
    info(perPass.zipWithIndex.map { case (p, i) =>
      s"pass ${i + 1}: ${p.map(_._2).sum} compiled" }.mkString(", "))
    assert(perPass.head.map(_._2).sum > 0, "the first pass compiled nothing")
    assert(perPass(2).filter(_._2 > 0) === Seq.empty)
  }
}
