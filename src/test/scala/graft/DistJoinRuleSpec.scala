package graft

import org.apache.spark.sql.functions._

class DistJoinRuleSpec extends SparkSpec {

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.toString
  }

  private def d2(ax: String, ay: String, bx: String, by: String) =
    (col(ax) - col(bx)) * (col(ax) - col(bx)) +
      (col(ay) - col(by)) * (col(ay) - col(by))

  test("pure distance join is rewritten: no cartesian / BNLJ in the plan") {
    val df = SparkEntry.queries("wnv_point_pairs_auto")(spark, sf)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the 3×3 cover = two chained cell explodes
    assert("Generate".r.findAllIn(p).length >= 2, p)
  }

  test("rewritten distance join matches a driver-side brute force") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.DistJoinRule)
    val pts = Seq((1L, 0.0, 0.0), (2L, 9.0, 0.0), (3L, 7.0, 7.0),
      (4L, -9.9, 0.1), (5L, 100.0, 100.0), (6L, 0.0, -10.0))
    val l = pts.toDF("i", "axf", "ayf")
    val r = pts.map { case (i, x, y) => (i, x, y) }.toDF("j", "bxf", "byf")
    val got = l.join(r, col("i") < col("j") &&
        d2("axf", "ayf", "bxf", "byf") <= lit(100.0))
      .select(col("i"), col("j")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val expect = (for {
      (i, ax, ay) <- pts; (j, bx, by) <- pts
      if i < j && (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 100.0
    } yield (i, j)).toSet
    // boundary pairs included: (1,6) at exactly distance 10
    assert(expect.contains((1L, 6L)))
    assert(got === expect)
    assert(expect.nonEmpty)
  }

  test("distance join WITH an equi key is left to the regular hash join") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.DistJoinRule)
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0)).toDF("k", "axf", "ayf")
    val r = Seq((1L, 3.0, 4.0), (2L, 500.0, 0.0)).toDF("k2", "bxf", "byf")
    val df = l.join(r, col("k") === col("k2") &&
      d2("axf", "ayf", "bxf", "byf") <= lit(100.0))
    assert(!planString(df).contains("Generate"), planString(df))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("negative coordinates and cell boundaries stay lossless") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.DistJoinRule)
    // points straddling cell boundary 0 and the negative side: floor
    // cells differ, the 3×3 cover must still find every pair
    val l = Seq((1L, -0.5, -0.5), (2L, -10.0, -10.0)).toDF("i", "axf", "ayf")
    val r = Seq((10L, 0.5, 0.5), (20L, -10.1, -9.9), (30L, 12.0, 0.0))
      .toDF("j", "bxf", "byf")
    val got = l.join(r, d2("axf", "ayf", "bxf", "byf") <= lit(4.0))
      .select(col("i"), col("j")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((1L, 10L), (2L, 20L)))
  }

  // ---- semi / anti joins: only the right side fans out -------------

  /** (i, x, y) left rows: exact-r pairs, negative coordinates, cell
    * boundaries (multiples of the cell size 10), a duplicate row and
    * NULL coordinates. */
  private val leftRows: Seq[(Long, Option[Double], Option[Double])] = Seq(
    (1L, Some(0.0), Some(0.0)), (1L, Some(0.0), Some(0.0)),
    (2L, Some(-10.0), Some(-10.0)), (3L, Some(9.999), Some(-0.001)),
    (4L, Some(30.0), Some(40.0)), (5L, Some(-25.0), Some(5.0)),
    (6L, None, Some(0.0)), (7L, Some(0.0), None), (8L, Some(100.0), Some(100.0)))
  private val rightRows: Seq[(Option[Double], Option[Double])] = Seq(
    (Some(0.0), Some(-10.0)), (Some(-10.0), Some(0.0)),
    (Some(30.0), Some(50.0)), (Some(-35.0), Some(5.0)),
    (None, Some(100.0)), (Some(200.0), None))

  private def within(l: (Option[Double], Option[Double]),
      r: (Option[Double], Option[Double])): Boolean = (for {
    ax <- l._1; ay <- l._2; bx <- r._1; by <- r._2
  } yield (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 100.0)
    .getOrElse(false)

  private def existential(how: String) = {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.DistJoinRule)
    val l = leftRows.toDF("i", "ax", "ay")
    val r = rightRows.toDF("bx", "by")
    l.join(r, d2("ax", "ay", "bx", "by") <= lit(100.0), how)
  }

  Seq("left_semi" -> false, "left_anti" -> true).foreach { case (how, anti) =>
    test(s"$how distance join matches a driver-side brute force") {
      val df = existential(how)
      val p = planString(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert("Generate".r.findAllIn(p).length >= 2, p)
      val got = df.select("i").collect().map(_.getLong(0)).sorted.toSeq
      val want = leftRows.filter { case (_, x, y) =>
        rightRows.exists(within((x, y), _)) != anti
      }.map(_._1).sorted
      assert(got === want)
      // pairs at exactly r: row 1 (twice, multiplicity kept) lies 10
      // from (0, -10) and row 4 lies 10 from (30, 50); NULL rows 6 and
      // 7 match nothing, so only the anti join keeps them
      if (anti) assert(got.contains(6L) && got.contains(7L) &&
        !got.contains(1L) && !got.contains(4L))
      else assert(got.count(_ == 1L) === 2 && got.contains(4L) &&
        !got.contains(6L) && !got.contains(7L))
    }
  }

  test("an equi-keyed anti distance join is left to the regular hash join") {
    import spark.implicits._
    graft.plans.register(spark, graft.plans.DistJoinRule)
    val l = Seq((1L, 0.0, 0.0), (2L, 50.0, 0.0)).toDF("k", "axf", "ayf")
    val r = Seq((1L, 3.0, 4.0), (2L, 500.0, 0.0)).toDF("k2", "bxf", "byf")
    val df = l.join(r, col("k") === col("k2") &&
      d2("axf", "ayf", "bxf", "byf") <= lit(100.0), "left_anti")
    assert(!planString(df).contains("Generate"), planString(df))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }
}
