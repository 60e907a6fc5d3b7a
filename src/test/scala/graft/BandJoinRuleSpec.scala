package graft

import org.apache.spark.sql.functions._

class BandJoinRuleSpec extends SparkSpec {

  // AQE wraps the physical plan in AdaptiveSparkPlanExec; materialize
  // first, then read the (final) plan rendering.
  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  test("pure band join is rewritten: no cartesian / BNLJ in the plan") {
    val p = planString(SparkEntry.queries("events_range_join_auto")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the rewrite introduces the bucket explode
    assert(p.contains("Generate"), p)
  }

  test("rewritten band join matches a driver-side brute force") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.BandJoinRule)
    val l = Seq((1L, 0L), (2L, 95L), (3L, 200L), (4L, -40L)).toDF("id", "a")
    val r = Seq(10L, 90L, 105L, 250L, -11L, -39L).toDF("b")
    val got = l.join(r, abs(col("a") - col("b")) <= 10L)
      .select(col("id"), col("b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val expect = (for {
      (id, a) <- Seq((1L, 0L), (2L, 95L), (3L, 200L), (4L, -40L))
      b <- Seq(10L, 90L, 105L, 250L, -11L, -39L)
      if math.abs(a - b) <= 10
    } yield (id, b)).toSet
    assert(got === expect)
    assert(expect.nonEmpty)
  }

  test("band join WITH an equi key is left to the regular hash join") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.BandJoinRule)
    val l = Seq((1L, 0L), (1L, 50L), (2L, 0L)).toDF("k", "a")
    val r = Seq((1L, 5L), (2L, 100L)).toDF("k2", "b")
    val df = l.join(r, col("k") === col("k2") &&
      abs(col("a") - col("b")) <= 10L)
    // no bucket-explode Generate — the guard refused the rewrite
    assert(!planString(df).contains("Generate"), planString(df))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("strict < band predicates are rewritten losslessly too") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.BandJoinRule)
    val l = Seq(0L, 100L).toDF("a")
    val r = Seq(10L, 110L, 12L).toDF("b")
    val got = l.join(r, abs(col("a") - col("b")) < 11L)
      .select(col("a"), col("b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((0L, 10L), (100L, 110L)))
  }
}
