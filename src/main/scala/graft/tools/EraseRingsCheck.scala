package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{EraseArcs, Geo}
import graft.ops.Wnv

/** Correctness check of the polygon-zone erase outputs in a
  * `graft.Verify` dump, at any scale:
  *
  *   - each area query: the distributed areas vs a driver-side replay
  *     of an independent area kernel on each zone's candidates —
  *     `wnv_erase_poly` / `wnv_erase_concave`: `erasedAreaPoly` /
  *     `erasedAreaConcave` on the zone's candidate disks;
  *     `wnv_erase_poly_sub` / `wnv_erase_concave_sub`:
  *     `erasedAreaPolySub` / `erasedAreaConcaveSub` on its candidate
  *     footprints;
  *   - each ring query: `piece_seq` dense per (zone, ring); every ring
  *     endpoint-closed (each piece ends where the next starts, last →
  *     first) within the r6 output quantum; Σ ring signed areas per
  *     zone == its paired area query (`poly_sub_rings` ↔ `poly_sub`,
  *     `concave_sub_rings` ↔ `concave_sub`, `poly_disk_rings` ↔
  *     `concave`). Rings and areas sum the same boundary pieces, so
  *     this checks the stitch; the replays above check the geometry.
  *
  * Usage: runMain graft.tools.EraseRingsCheck <sfDir> <verifyOutDir>
  * Prints one JSON line per query; exits 1 on any failure.
  */
object EraseRingsCheck {
  private type Ring = Seq[(Double, Double)]
  /** A candidate member: (ox, oy, vertices) — a disk's center, or a
    * footprint's bounding-circle center and its ring. */
  private type Cand = (Double, Double, Ring)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    def read(q: String): DataFrame = spark.read.parquet(s"$outDir/$q")
    def areas(q: String): Map[Int, Double] =
      read(q).select(col("zone_id"), col("area_sqft")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val diamonds = zoneCat(spark, Wnv.polygonZones(spark, sfDir))
    val stars = zoneCat(spark, Wnv.starZones(spark, sfDir))
    val r = Wnv.BufferFt
    val disks = EraseArcs.diskMembers(
      Wnv.optOut(spark, sfDir).select(col("x_ft"), col("y_ft")), r)
    val subs = EraseArcs.ringMembers(Wnv.parcelFootprints(spark, sfDir))
    def centers(ms: Seq[Cand]) = ms.map(m => (m._1, m._2))
    def footprints(ms: Seq[Cand]) = ms.map(_._3)
    val results = Seq(
      replay("wnv_erase_poly", areas("wnv_erase_poly"), diamonds,
        near(spark, diamonds, disks))(
        (vs, _, ms) => EraseArcs.erasedAreaPoly(vs, centers(ms), r)),
      replay("wnv_erase_concave", areas("wnv_erase_concave"), stars,
        near(spark, stars, disks))(
        (vs, hs, ms) => EraseArcs.erasedAreaConcave(vs, hs, centers(ms), r)),
      replay("wnv_erase_poly_sub", areas("wnv_erase_poly_sub"), diamonds,
        near(spark, diamonds, subs))(
        (vs, _, ms) => EraseArcs.erasedAreaPolySub(vs, footprints(ms))),
      replay("wnv_erase_concave_sub", areas("wnv_erase_concave_sub"), stars,
        near(spark, stars, subs))(
        (vs, hs, ms) => EraseArcs.erasedAreaConcaveSub(vs, hs, footprints(ms))),
      rings("wnv_erase_poly_sub_rings", read("wnv_erase_poly_sub_rings"),
        areas("wnv_erase_poly_sub")),
      rings("wnv_erase_concave_sub_rings",
        read("wnv_erase_concave_sub_rings"), areas("wnv_erase_concave_sub")),
      rings("wnv_erase_poly_disk_rings", read("wnv_erase_poly_disk_rings"),
        areas("wnv_erase_concave")))
    results.foreach { case (q, ok, rows, note) =>
      println(s"""{"query": "$q", "status": "${if (ok) "ok" else "fail"}", """ +
        s""""rows": $rows, "note": "${note.replace("\"", "'")}"}""")
    }
    spark.stop()
    if (!results.forall(_._2)) sys.exit(1)
  }

  /** (zone_id, outer ring, holes) of a zone catalog. */
  private def zoneCat(spark: SparkSession, zones: DataFrame)
      : Seq[(Int, Ring, Seq[Ring])] = {
    import spark.implicits._
    zones.select(col("zone_id").cast("int"), col("vertices"),
        if (zones.columns.contains("holes")) col("holes")
        else typedLit(Seq.empty[Ring]))
      .as[(Int, Ring, Seq[Ring])].collect().toSeq
  }

  /** Members per zone as (ox, oy, vertices), under the plans'
    * bounding-circle candidate rule, assigned distributed: only
    * zone-local members reach the driver. */
  private def near(spark: SparkSession, zs: Seq[(Int, Ring, Seq[Ring])],
      members: DataFrame): Map[Int, Seq[Cand]] = {
    import spark.implicits._
    val bound = zs.map { case (z, vs, _) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      (z, cx, cy, vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max)
    }.toDF("z", "bcx", "bcy", "brad")
    members.join(broadcast(bound),
        Geo.dist2(col("ox"), col("oy"), col("bcx"), col("bcy"))
          < (col("brad") + col("rad")) * (col("brad") + col("rad")))
      .select(col("z"), col("ox"), col("oy"), col("vertices"))
      .as[(Int, Double, Double, Ring)].collect()
      .groupBy(_._1).map { case (z, ms) =>
        z -> ms.map(m => (m._2, m._3, m._4)).toSeq
      }
  }

  /** Distributed area per zone == the driver kernel's replay, within
    * 1e-9 relative + the r6 output quantum. */
  private def replay(q: String, got: Map[Int, Double],
      zs: Seq[(Int, Ring, Seq[Ring])], near: Map[Int, Seq[Cand]])(
      kernel: (Ring, Seq[Ring], Seq[Cand]) => Double)
      : (String, Boolean, Long, String) = {
    val bad = zs.flatMap { case (z, vs, hs) =>
      val want = kernel(vs, hs, near.getOrElse(z, Nil))
      val g = got.getOrElse(z, Double.NaN)
      if (math.abs(g - want) <= 1e-9 * math.max(1.0, want) + 1e-5) None
      else Some(s"zone $z: got $g want $want")
    }
    val ok = bad.isEmpty && got.keySet == zs.map(_._1).toSet
    (q, ok, got.size.toLong,
      if (ok) s"distributed == driver kernel replay on ${zs.size} zones"
      else bad.take(3).mkString("; "))
  }

  /** Density, closure and conservation of one ring query's rows. */
  private def rings(q: String, df: DataFrame, areas: Map[Int, Double])
      : (String, Boolean, Long, String) = {
    val rows = df.select(col("zone_id"), col("ring_id"), col("piece_seq"),
        col("x1_ft"), col("y1_ft"), col("x2_ft"), col("y2_ft"),
        col("ring_area_sqft")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        (r.getDouble(3), r.getDouble(4)), (r.getDouble(5), r.getDouble(6)),
        r.getDouble(7)))
    val byRing = rows.groupBy(r => (r._1, r._2))
    val seqBad = byRing.collect { case (k, rs)
      if rs.map(_._3).sorted.toSeq != (0L until rs.size.toLong) => s"seq $k" }
    // endpoints are r6-rounded independently: two quanta of slack
    val openBad = byRing.collect { case (k, rs) if {
        val ord = rs.sortBy(_._3)
        ord.indices.exists { i =>
          val (ex, ey) = ord(i)._5
          val (sx, sy) = ord((i + 1) % ord.size)._4
          math.abs(ex - sx) > 2e-6 || math.abs(ey - sy) > 2e-6
        }
      } => s"open $k" }
    val ringArea = byRing.map { case (k, rs) => k -> rs.head._6 }
    val sums = ringArea.groupBy(_._1._1).map { case (z, rs) => z -> rs.values.sum }
    val nRings = ringArea.keys.groupBy(_._1).map { case (z, ks) => z -> ks.size }
    // per-ring r6 rounding accumulates: one quantum per ring
    val consBad = areas.collect { case (z, a) if math.abs(
        sums.getOrElse(z, 0.0) - a) > 1e-9 * math.max(1.0, a) +
        5e-7 * (nRings.getOrElse(z, 0) + 1) =>
      s"zone $z: ringsum ${sums.getOrElse(z, 0.0)} vs $a" } ++
      (sums.keySet -- areas.keySet).map(z => s"extra zone $z")
    // zero rings is the true answer only when every zone is erased
    val emptyOk = rows.nonEmpty || areas.values.forall(_ == 0.0)
    val bad = (consBad ++ seqBad ++ openBad).toSeq
    val ok = bad.isEmpty && emptyOk
    (q, ok, rows.length.toLong,
      if (ok) s"${ringArea.size} rings: piece_seq dense, endpoint-closed, " +
        "sum of ring areas == paired area query per zone"
      else if (!emptyOk) "no rings but nonzero areas"
      else bad.take(3).mkString("; "))
  }
}
