package graft.tools

import org.apache.spark.sql.functions._

/** Count-only scale instrument for the proximity self-join
  * (`wnv_point_pairs_auto`): runs the IDENTICAL rule-planned theta
  * join (graft.plans.DistJoinRule's 3×3 grid-cell rewrite with the
  * exact squared-distance residual) but reduces to ONE aggregate row
  * instead of materializing + globally sorting the quadratic pair
  * output. At sf30 the full query's OUTPUT (~400M pairs × 3 columns
  * through an exchange + range sort) is what overflows the host's
  * ~70 GB scratch (BENCH_PART_sf30's named wall) — the JOIN itself is
  * grid-local and scales linearly in occupied cells. This instrument
  * measures exactly that claim: the count aggregate consumes the join
  * map-side, so a clean run at sf30 is evidence the PLAN survives the
  * scale and only the result-set does not fit one host (on a cluster
  * the sorted output shards across executors and the wall does not
  * exist).
  *
  * Usage: runMain graft.tools.PairCount <sfDir> — prints one JSON line
  * {"metric":"point_pairs_count","pairs":N,"zones_max_pairs":M,...}.
  * `zones_max_pairs` (the largest single 1500-ft-cell pair count)
  * bounds the worst task; a skew explosion would show here first.
  */
object PairCount {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.register(spark, graft.plans.DistJoinRule)
    val pts = graft.ops.Wnv.points(spark, dir)
    val a = pts.select(col("c_custkey").as("i"), col("x_ft").as("axf"),
      col("y_ft").as("ayf"))
    val b = pts.select(col("c_custkey").as("j"), col("x_ft").as("bxf"),
      col("y_ft").as("byf"))
    val d2 = (col("axf") - col("bxf")) * (col("axf") - col("bxf")) +
      (col("ayf") - col("byf")) * (col("ayf") - col("byf"))
    val joined = a.join(b, col("i") < col("j") &&
      d2 <= lit(1500.0 * 1500.0))
    // warm the table scan once (untimed — the Bench convention)
    pts.queryExecution.toRdd.count()
    val t0 = System.nanoTime()
    val n = joined.count()
    val sec = (System.nanoTime() - t0) / 1e9
    // per-cell skew readout: pairs per 1500-ft grid cell of the LEFT
    // point (count-shaped, no pair materialization past the agg)
    val t1 = System.nanoTime()
    val perCell = joined
      .groupBy(floor(col("axf") / 1500.0).as("gx"),
        floor(col("ayf") / 1500.0).as("gy"))
      .agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), count(lit(1)).as("cells"))
      .head()
    val sec2 = (System.nanoTime() - t1) / 1e9
    def r3(v: Double) =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"metric":"point_pairs_count","pairs":$n,""" +
      s""""count_sec":${r3(sec)},"cell_agg_sec":${r3(sec2)},""" +
      s""""max_cell_pairs":${perCell.getLong(0)},""" +
      s""""occupied_cells":${perCell.getLong(1)},"sf":"$dir"}""")
    spark.stop()
  }
}
