package graft

import org.apache.spark.sql.functions._
import graft.ops.Wnv

class WnvSpec extends SparkSpec {

  private val fixture =
    getClass.getResource("/opt_out_addresses.csv").getPath

  test("csvPipeline reproduces the reference x,y,Type output shape") {
    val out = Wnv.csvPipeline(spark, fixture).cache()
    assert(out.columns.toSeq === Seq("x", "y", "Type"))
    val rows = out.collect()
    // 10 fixture rows; the mock geocoder drops ~5% — all misses are
    // deterministic, so the count is stable run-to-run.
    assert(rows.length >= 8 && rows.length <= 10)
    assert(rows.forall(_.getString(2) == "Residential"))
    assert(rows.forall { r =>
      val x = r.getDouble(0); val y = r.getDouble(1)
      x >= -105.5 && x <= -105.0 && y >= 39.9 && y <= 40.2
    })
    // duplicate address geocodes identically (pure function of string)
    val dup = out.groupBy(col("x"), col("y")).count()
      .filter(col("count") > 1).count()
    assert(dup >= 1, "duplicate fixture address should collide exactly")
    out.unpersist()
  }

  test("geocode matches an independent JVM-side md5 implementation") {
    // Cross-check the Column-expression geocoder against plain-JVM math —
    // the same role the DuckDB oracle plays, without Spark expressions.
    val addr = "825 Walnut St, Boulder, CO Boulder CO"
    def h32(s: String, off: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(off - 1, off - 1 + 8), 16)
    }
    val expLon = -105.5 + (h32(addr, 9) % 100000).toDouble / 200000.0
    val expLat = 39.9 + (h32(addr, 17) % 100000).toDouble / 333333.0
    import spark.implicits._
    // Geo.geocode appends the " Boulder CO" suffix itself
    val got = graft.geo.Geo.geocode(
        Seq(addr.stripSuffix(" Boulder CO")).toDF("street"), col("street"), Nil)
      .select(col("lon"), col("lat")).head()
    assert(got.getDouble(0) === expLon)
    assert(got.getDouble(1) === expLat)
  }

  test("erase selection = in-risk minus opt-out buffers (brute force)") {
    val pts = Wnv.points(spark, sf).select("c_custkey", "x_ft", "y_ft")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zones = Wnv.zones(spark, sf)
      .filter(col("high_risk"))
      .select("cx_ft", "cy_ft", "radius_ft")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val optOut = pts.filter(_._1 % 10 == 0)
    def d2(ax: Double, ay: Double, bx: Double, by: Double) =
      (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
    val expected = pts.filter { case (_, x, y) =>
      zones.exists { case (cx, cy, r) => d2(x, y, cx, cy) <= r * r } &&
        !optOut.exists { case (_, ox, oy) =>
          d2(x, y, ox, oy) <= Wnv.BufferFt * Wnv.BufferFt }
    }.map(_._1).toSet
    val got = Wnv.eraseSelection(spark, sf)
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got === expected)
  }

  test("polygon-footprint erase selection: brute force parity and hash-join plan") {
    val pts = Wnv.points(spark, sf).select("c_custkey", "x_ft", "y_ft")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zones = Wnv.zones(spark, sf)
      .filter(col("high_risk"))
      .select("cx_ft", "cy_ft", "radius_ft")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val optOut = pts.filter(_._1 % 10 == 0)
    def d2(ax: Double, ay: Double, bx: Double, by: Double) =
      (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
    // brute-force rotated-L1 membership, same 3-4-5 rotation
    def inFootprint(x: Double, y: Double, ox: Double, oy: Double) = {
      val dx = x - ox; val dy = y - oy
      math.abs(dx * 0.8 + dy * 0.6) + math.abs(dy * 0.8 - dx * 0.6) <=
        Wnv.ParcelHalfDiag
    }
    val expected = pts.filter { case (_, x, y) =>
      zones.exists { case (cx, cy, r) => d2(x, y, cx, cy) <= r * r } &&
        !optOut.exists { case (_, ox, oy) => inFootprint(x, y, ox, oy) }
    }.map(_._1).toSet
    val sel = Wnv.erasePolySubSelection(spark, sf)
    val got = sel.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    assertGridAnti(sel)
  }

  /** The corpus-scale Erase ANTI join must plan as a grid-cell HASH join
    * (the 100 TB shape) — never a nested loop over points × members.
    * The zone SEMI join against the 25-row catalog is the intended
    * broadcast theta join and MAY be a nested loop. */
  private def assertGridAnti(df: org.apache.spark.sql.DataFrame): Unit = {
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.linesIterator.filter(_.contains("LeftAnti"))
      .forall(l => l.contains("HashJoin")), p.take(1500))
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("erase selection and the ETL finalAnalysis plan grid hash anti-joins") {
    assertGridAnti(Wnv.eraseSelection(spark, sf))
    val out = java.nio.file.Files.createTempDirectory("wnv_etl").toString
    val etl = new graft.api.OptOutEtl(spark, fixture, "", s"$out/pts")
    etl.process()
    assertGridAnti(etl.finalAnalysis(Wnv.zones(spark, sf)))
  }

  test("spatial join_count equals brute-force zone membership count") {
    val pts = Wnv.points(spark, sf).select("c_custkey", "x_ft", "y_ft")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val zones = Wnv.zones(spark, sf).filter(col("high_risk"))
      .select("cx_ft", "cy_ft", "radius_ft")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val expected = pts.map { case (k, x, y) =>
      k -> zones.count { case (cx, cy, r) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) <= r * r }
    }.filter(_._2 > 0).toMap
    val got = Wnv.spatialJoinCount(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got === expected)
  }

  test("hex density replays JVM cube rounding; bins partition the points") {
    val pts = Wnv.points(spark, sf)
      .select(col("x_ft"), col("y_ft")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    def round0(v: Double): Double = // HALF_UP like Spark's round()
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = pts.map { case (x, y) =>
      val xc = (0.5773502691896257 * x - 0.3333333333333333 * y) / 10000.0
      val zc = (0.6666666666666666 * y) / 10000.0
      val yc = -xc - zc
      val (rx, ry, rz) = (round0(xc), round0(yc), round0(zc))
      val (dx, dy, dz) = (math.abs(rx - xc), math.abs(ry - yc), math.abs(rz - zc))
      if (dx > dy && dx > dz) ((-(ry + rz)).toLong, rz.toLong)
      else if (dy > dz) (rx.toLong, rz.toLong)
      else (rx.toLong, (-(rx + ry)).toLong)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("wnv_hex_density")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    // the binning is a partition of the point set
    assert(got.values.sum === pts.length.toLong)
    // repaired coordinates satisfy the cube constraint by construction:
    // q + r + s = 0 with s = -q - r, so just sanity-check spread
    assert(got.size > 1, "all points in one hex — size too large")
  }
}
