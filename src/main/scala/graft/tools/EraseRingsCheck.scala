package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.{Geo, SlabArea}
import graft.ops.Wnv

/** Correctness check of the nine erase-geometry outputs in a
  * `graft.Verify` dump, at any scale:
  *
  *   - each area query: the distributed areas vs a local
  *     [[SlabArea]] of each zone (diamond or star-with-hole) minus its
  *     candidate disks (`wnv_erase_poly` / `wnv_erase_concave`) or its
  *     candidate footprints (`wnv_erase_poly_sub` /
  *     `wnv_erase_concave_sub`), within 1e-9 relative + the r6 output
  *     quantum;
  *   - each ring query: `piece_seq` dense per (zone, ring); every ring
  *     endpoint-closed (each piece ends where the next starts, last →
  *     first) within the r6 output quantum; Σ ring signed areas per
  *     zone == its paired area query (`poly_sub_rings` ↔ `poly_sub`,
  *     `concave_sub_rings` ↔ `concave_sub`, `poly_disk_rings` ↔
  *     `concave`). Rings and areas sum the same boundary pieces, so
  *     this checks the stitch; the replays above check the geometry.
  *     The circle-zone `wnv_erase_rings` has no area query: its Σ ring
  *     area per zone is checked against [[SlabArea]] of the zone circle
  *     minus its candidate disks, and its arc endpoints are computed
  *     from center, radius, angle window and traversal direction;
  *   - `wnv_erase_arcs`: each zone's arcs == the `zone` pieces of
  *     `wnv_erase_rings`.
  *
  * Every [[SlabArea]] value is computed at 64 and at 128 nodes per
  * slab; a step above 1e-12 relative fails the query, since a
  * reference that has not converged checks nothing.
  *
  * Usage: runMain graft.tools.EraseRingsCheck <sfDir> <verifyOutDir>
  * Prints one JSON line per query — status, rows, `max_abs_err` and
  * `max_rel_err` (the largest absolute and relative error of a checked
  * value; dumped floats are r6, so absolute errors up to 5e-7 are
  * output rounding) and `node_step` (the largest relative 64- vs
  * 128-node step of its reference, null where none is used); exits 1
  * on any failure.
  */
object EraseRingsCheck {
  private type Ring = Seq[(Double, Double)]
  /** A candidate member: (ox, oy, vertices) — a disk's center, or a
    * footprint's bounding-circle center and its ring. */
  private type Cand = (Double, Double, Ring)
  /** One ring piece of a dump: zone, ring, seq, start point, end
    * point, ring area, and the endpoints' r6 rounding slack. */
  private type Piece =
    (Int, Long, Long, (Double, Double), (Double, Double), Double, Double)
  /** Per query: name, ok, rows, (max absolute, max relative) error,
    * reference node step, note. */
  type Result =
    (String, Boolean, Long, (Double, Double), Option[Double], String)
  /** Per zone: the reference area and its 64- vs 128-node step. */
  private type Ref = Map[Int, (Double, Double)]

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val results = check(spark, sfDir, outDir)
    results.foreach { case (q, ok, rows, (abs, rel), step, note) =>
      println(s"""{"query": "$q", "status": "${if (ok) "ok" else "fail"}", """ +
        s""""rows": $rows, "max_abs_err": $abs, "max_rel_err": $rel, """ +
        s""""node_step": ${step.getOrElse("null")}, """ +
        s""""note": "${note.replace("\"", "'")}"}""")
    }
    spark.stop()
    if (!results.forall(_._2)) sys.exit(1)
  }

  /** The nine checks over the dump in `outDir` of the queries run on
    * the tables in `sfDir`, one [[Result]] per query. */
  def check(spark: SparkSession, sfDir: String, outDir: String)
      : Seq[Result] = {
    import spark.implicits._
    def read(q: String): DataFrame = spark.read.parquet(s"$outDir/$q")
    def areas(q: String): Map[Int, Double] =
      read(q).select(col("zone_id"), col("area_sqft")).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val diamonds = zoneCat(spark, Wnv.polygonZones(spark, sfDir))
    val stars = zoneCat(spark, Wnv.starZones(spark, sfDir))
    val circles = Wnv.zones(spark, sfDir).select(col("zone_id").cast("int"),
        col("cx_ft"), col("cy_ft"), col("radius_ft"))
      .as[(Int, Double, Double, Double)].collect().toSeq
    val r = Wnv.BufferFt
    // members as (ox, oy, rad, vertices): a circle enclosing the member
    // and its ring (none for a disk)
    val disks = Wnv.optOut(spark, sfDir).select(col("x_ft").as("ox"),
      col("y_ft").as("oy"), lit(r).as("rad"),
      typedLit(Seq.empty[(Double, Double)]).as("vertices"))
    val fx = transform(col("vertices"), _.getField("_1"))
    val fy = transform(col("vertices"), _.getField("_2"))
    val subs = Wnv.parcelFootprints(spark, sfDir).select(
      ((array_min(fx) + array_max(fx)) / 2).as("ox"),
      ((array_min(fy) + array_max(fy)) / 2).as("oy"),
      (hypot(array_max(fx) - array_min(fx), array_max(fy) - array_min(fy))
        / 2).as("rad"),
      col("vertices"))
    /** [[SlabArea]] per zone of `zs`, each minus its candidates (a
      * member with no vertices is a disk). */
    def reference(zs: Seq[(Int, SlabArea.Zone)], near: Map[Int, Seq[Cand]])
        : Ref =
      zs.map { case (z, zone) =>
        val ms = near.getOrElse(z, Nil)
        def at(nodes: Int) = SlabArea.area(zone,
          subs = ms.collect { case (_, _, vs) if vs.nonEmpty => vs },
          disks = ms.collect { case (x, y, vs) if vs.isEmpty => (x, y) },
          r = r, nodes = nodes)
        val a = at(64)
        z -> (a, math.abs(at(128) - a) / math.max(1.0, a))
      }.toMap
    def polygons(zs: Seq[(Int, Ring, Seq[Ring])]) =
      zs.map { case (z, vs, hs) => z -> SlabArea.Polygon(vs, hs) }
    val circleRef = reference(
      circles.map { case (z, cx, cy, bigR) =>
        z -> SlabArea.Circle(cx, cy, bigR) },
      near(spark, circles, disks))
    Seq(
      replay("wnv_erase_poly", areas("wnv_erase_poly"), reference(
        polygons(diamonds), near(spark, bounds(diamonds), disks))),
      replay("wnv_erase_concave", areas("wnv_erase_concave"), reference(
        polygons(stars), near(spark, bounds(stars), disks))),
      replay("wnv_erase_poly_sub", areas("wnv_erase_poly_sub"), reference(
        polygons(diamonds), near(spark, bounds(diamonds), subs))),
      replay("wnv_erase_concave_sub", areas("wnv_erase_concave_sub"),
        reference(polygons(stars), near(spark, bounds(stars), subs))),
      rings("wnv_erase_poly_sub_rings",
        linePieces(read("wnv_erase_poly_sub_rings")),
        areas("wnv_erase_poly_sub"), None),
      rings("wnv_erase_concave_sub_rings",
        linePieces(read("wnv_erase_concave_sub_rings")),
        areas("wnv_erase_concave_sub"), None),
      rings("wnv_erase_poly_disk_rings",
        linePieces(read("wnv_erase_poly_disk_rings")),
        areas("wnv_erase_concave"), None),
      rings("wnv_erase_rings", arcPieces(read("wnv_erase_rings")),
        circleRef.map { case (z, (a, _)) => z -> a },
        Some(circleRef.values.map(_._2).max)),
      arcs(read("wnv_erase_arcs"), read("wnv_erase_rings")))
  }

  /** (max absolute, max relative) error over (got, want) pairs. */
  private def errors(pairs: Iterable[(Double, Double)]): (Double, Double) = {
    val abs = pairs.map { case (g, w) => math.abs(g - w) }
    val rel = pairs.map { case (g, w) => math.abs(g - w) / math.max(1.0, w) }
    ((abs ++ Seq(0.0)).max, (rel ++ Seq(0.0)).max)
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

  /** (zone_id, cx, cy, rad): a circle enclosing each polygon zone's
    * outer ring. */
  private def bounds(zs: Seq[(Int, Ring, Seq[Ring])])
      : Seq[(Int, Double, Double, Double)] =
    zs.map { case (z, vs, _) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      (z, cx, cy, vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max)
    }

  /** Members per zone as (ox, oy, vertices): those whose enclosing
    * circle meets the zone's bounding circle, a superset of the members
    * that touch the zone. Assigned distributed: only zone-local members
    * are collected. */
  private def near(spark: SparkSession,
      bound: Seq[(Int, Double, Double, Double)],
      members: DataFrame): Map[Int, Seq[Cand]] = {
    import spark.implicits._
    members.join(broadcast(bound.toDF("z", "bcx", "bcy", "brad")),
        Geo.dist2(col("ox"), col("oy"), col("bcx"), col("bcy"))
          < (col("brad") + col("rad")) * (col("brad") + col("rad")))
      .select(col("z"), col("ox"), col("oy"), col("vertices"))
      .as[(Int, Double, Double, Ring)].collect()
      .groupBy(_._1).map { case (z, ms) =>
        z -> ms.map(m => (m._2, m._3, m._4)).toSeq
      }
  }

  /** Distributed area per zone == the reference, within 1e-9 relative
    * + the r6 output quantum. */
  private def replay(q: String, got: Map[Int, Double], ref: Ref): Result = {
    val bad = ref.toSeq.sortBy(_._1).flatMap { case (z, (want, _)) =>
      val g = got.getOrElse(z, Double.NaN)
      if (math.abs(g - want) <= 1e-9 * math.max(1.0, want) + 1e-5) None
      else Some(s"zone $z: got $g want $want")
    }
    val step = ref.values.map(_._2).max
    val ok = bad.isEmpty && got.keySet == ref.keySet && step <= 1e-12
    (q, ok, got.size.toLong, errors(ref.map { case (z, (want, _)) =>
        (got.getOrElse(z, Double.NaN), want) }), Some(step),
      if (ok) s"distributed == SlabArea on ${ref.size} zones"
      else if (bad.isEmpty) s"SlabArea 64- vs 128-node step $step"
      else bad.take(3).mkString("; "))
  }

  /** The pieces of a line-piece ring query: endpoints as dumped, each
    * coordinate r6-rounded on its own. */
  private def linePieces(df: DataFrame): Seq[Piece] =
    df.select(col("zone_id"), col("ring_id"), col("piece_seq"),
        col("x1_ft"), col("y1_ft"), col("x2_ft"), col("y2_ft"),
        col("ring_area_sqft")).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        (r.getDouble(3), r.getDouble(4)), (r.getDouble(5), r.getDouble(6)),
        r.getDouble(7), 1e-6))

  /** The pieces of the circle-zone ring query: traversal endpoints from
    * the r6 center, radius and degree window (a CCW piece runs start →
    * end, a CW piece end → start); the slack adds the angle quantum's
    * reach along the arc. */
  private def arcPieces(df: DataFrame): Seq[Piece] =
    df.select(col("zone_id"), col("ring_id"), col("piece_seq"), col("ccw"),
        col("cx_ft"), col("cy_ft"), col("rho_ft"), col("start_deg"),
        col("end_deg"), col("ring_area_sqft")).collect().toSeq
      .map { r =>
        val (cx, cy, rho) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
        def at(deg: Double) = (cx + rho * math.cos(math.toRadians(deg)),
          cy + rho * math.sin(math.toRadians(deg)))
        val (s, e) = (at(r.getDouble(7)), at(r.getDouble(8)))
        val (from, to) = if (r.getBoolean(3)) (s, e) else (e, s)
        (r.getInt(0), r.getLong(1), r.getLong(2), from, to, r.getDouble(9),
          1e-6 + rho * math.toRadians(1e-6))
      }

  /** Density, closure and conservation of one ring query's pieces
    * against per-zone areas (with `step`, the node step of a
    * [[SlabArea]] reference). */
  private def rings(q: String, rows: Seq[Piece], areas: Map[Int, Double],
      step: Option[Double]): Result = {
    val byRing = rows.groupBy(r => (r._1, r._2))
    val seqBad = byRing.collect { case (k, rs)
      if rs.map(_._3).sorted != (0L until rs.size.toLong) => s"seq $k" }
    // endpoints are r6-rounded independently: one slack per side
    val openBad = byRing.collect { case (k, rs) if {
        val ord = rs.sortBy(_._3)
        ord.indices.exists { i =>
          val (ex, ey) = ord(i)._5
          val next = ord((i + 1) % ord.size)
          val (sx, sy) = next._4
          val tol = ord(i)._7 + next._7
          math.abs(ex - sx) > tol || math.abs(ey - sy) > tol
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
    val ok = bad.isEmpty && emptyOk && step.forall(_ <= 1e-12)
    (q, ok, rows.length.toLong,
      errors(areas.map { case (z, a) => (sums.getOrElse(z, 0.0), a) }), step,
      if (ok) s"${ringArea.size} rings: piece_seq dense, endpoint-closed, " +
        "sum of ring areas == the zone's area per zone"
      else if (!emptyOk) "no rings but nonzero areas"
      else if (bad.isEmpty) s"SlabArea 64- vs 128-node step ${step.get}"
      else bad.take(3).mkString("; "))
  }

  /** Each zone's surviving arcs == the `zone` pieces of its rings. */
  private def arcs(arcDf: DataFrame, ringDf: DataFrame): Result = {
    def perZone(df: DataFrame): Map[Int, Seq[(Double, Double)]] =
      df.select(col("zone_id"), col("start_deg"), col("end_deg")).collect()
        .groupBy(_.getInt(0)).map { case (z, rs) =>
          z -> rs.map(r => (r.getDouble(1), r.getDouble(2))).toSeq.sorted
        }
    val got = perZone(arcDf)
    val want = perZone(ringDf.filter(col("kind") === "zone"))
    val bad = (got.keySet ++ want.keySet).toSeq.sorted.collect {
      case z if got.get(z) != want.get(z) =>
        s"zone $z: arcs ${got.get(z)} vs ring zone pieces ${want.get(z)}"
    }
    ("wnv_erase_arcs", bad.isEmpty, got.values.map(_.size).sum.toLong,
      if (bad.isEmpty) (0.0, 0.0) else (Double.NaN, Double.NaN), None,
      if (bad.isEmpty) s"${got.size} zones: arcs == zone pieces of " +
        "wnv_erase_rings"
      else bad.take(3).mkString("; "))
  }
}
