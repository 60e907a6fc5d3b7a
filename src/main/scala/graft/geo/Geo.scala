package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.XF

/** Geospatial primitives for the WNV pipeline rebuild.
  *
  * The reference geocodes street addresses through the Nominatim REST API
  * one row at a time (reference Lab2ETL.py:22-45) and hands geometry to
  * arcpy (Buffer "1500 feet" GSheetsETL_Lab2.py:129, SpatialJoin
  * final_project2.py:226-231, DefineProjection to EPSG:2876
  * final_project2.py:175). Here:
  *
  *   - geocoding is a deterministic pure function of the address string
  *     (hash → coordinate), with a ~5% miss rate reproducing the empty
  *     Nominatim result observed in the reference run log (Nonewnv.log:10).
  *     Live-mode geocoding belongs in `mapPartitions` with a rate-limited
  *     HTTP client and is intentionally NOT part of the correctness surface.
  *   - projection to a planar feet grid uses an equirectangular scale
  *     (pure *,+ — IEEE-exact across engines, so the DuckDB oracle matches
  *     bit-for-bit). A faithful Lambert Conformal Conic (the actual family
  *     of EPSG:2876, NAD83 / Colorado North ftUS) lives in [[Lcc]] for
  *     library use; its transcendentals make it unsuitable for
  *     hash-compared oracle queries.
  *   - buffers stay implicit (center + radius): `within(buffer(p, r))`
  *     ≡ `dist(p, c) <= r`, so Buffer+SpatialJoin/Erase become distance
  *     predicates — no polygon materialization, which is the scalable form.
  */
object Geo {

  val Lon0 = -105.5
  val Lat0 = 39.9
  /** feet per degree at ~40°N (equirectangular; documented approximation) */
  val FtPerDegX = 280000.0
  val FtPerDegY = 364000.0

  // ---- mock geocoder (P1 + P2 + P4) -----------------------------------
  /** The geocode step: `frame`'s `keep` columns with the `lon`/`lat` of
    * `street` + " Boulder CO" (the P1 enrichment, Lab2ETL.py:69),
    * geocode misses dropped (P4) — a 5% deterministic miss, mirroring
    * the 1-of-6 empty result in the reference trace (Nonewnv.log:10).
    *
    * The miss test and both coordinates are slices of one md5 digest,
    * bound once per row by a one-element generator: Catalyst would inline a projected digest
    * into the miss filter and into the `isnotnull` filters it infers
    * from a later join on the coordinates, while no filter on a
    * generator's output moves below it.
    */
  def geocode(frame: DataFrame, street: Column, keep: Seq[String])
      : DataFrame = {
    def h32(off: Int) = XF.h32Hex(col("digest"), off)
    val addr = concat(street, lit(" Boulder CO"))
    frame.select(keep.map(col) :+ explode(array(md5(addr))).as("digest"): _*)
      .filter(h32(1) % 20 =!= 0)
      .select(keep.map(col) ++ Seq(
        (lit(Lon0) + (h32(9) % 100000).cast(DoubleType) / lit(200000.0))
          .as("lon"),
        (lit(Lat0) + (h32(17) % 100000).cast(DoubleType) / lit(333333.0))
          .as("lat")): _*)
  }

  /** DuckDB twins of [[geocode]]'s miss test and coordinates over the
    * address expression `e`. */
  def geocodeHitSql(e: String): String = s"(${XF.h32Sql(e, 1)} % 20) <> 0"
  def geocodeLonSql(e: String): String =
    s"(CAST(-105.5 AS DOUBLE) + CAST(${XF.h32Sql(e, 9)} % 100000 AS DOUBLE) / CAST(200000 AS DOUBLE))"
  def geocodeLatSql(e: String): String =
    s"(CAST(39.9 AS DOUBLE) + CAST(${XF.h32Sql(e, 17)} % 100000 AS BIGINT) / CAST(333333 AS DOUBLE))"

  // ---- planar projection (G1) ----------------------------------------
  def xFt(lon: Column): Column = (lon - lit(Lon0)) * lit(FtPerDegX)
  def xFtSql(lon: String): String =
    s"(($lon) - CAST(-105.5 AS DOUBLE)) * CAST(280000 AS DOUBLE)"

  def yFt(lat: Column): Column = (lat - lit(Lat0)) * lit(FtPerDegY)
  def yFtSql(lat: String): String =
    s"(($lat) - CAST(39.9 AS DOUBLE)) * CAST(364000 AS DOUBLE)"

  // ---- distance predicate (J1-J3) -------------------------------------
  /** Squared planar distance — avoids sqrt in join predicates. */
  def dist2(x1: Column, y1: Column, x2: Column, y2: Column): Column =
    (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)
  def dist2Sql(x1: String, y1: String, x2: String, y2: String): String =
    s"((($x1)-($x2))*(($x1)-($x2)) + (($y1)-($y2))*(($y1)-($y2)))"
}

/** Lambert Conformal Conic (2SP), the projection family of EPSG:2876
  * (NAD83(HARN) / Colorado North, US survey feet) that the reference pins
  * with `arcpy.SpatialReference(2876)` (final_project2.py:175).
  *
  * Formulas follow the public EPSG Guidance Note 7-2 / Snyder (1987),
  * "Map Projections — A Working Manual", USGS PP 1395, eq. 14-1..15-11.
  * Used by the library API and unit tests; NOT by oracle-compared queries
  * (transcendental functions are not bit-stable across engines).
  */
object Lcc {
  private val a = 6378137.0               // GRS80 semi-major (m)
  private val f = 1.0 / 298.257222101
  private val e2 = f * (2 - f)
  private val e = math.sqrt(e2)
  private val MPerFtUs = 1200.0 / 3937.0  // US survey foot

  // EPSG:2876 parameters (Colorado North zone)
  private val lat1 = math.toRadians(39.0 + 43.0 / 60 + 0.0 / 3600 + 0.0166667 / 60) // 39°43'
  private val lat2 = math.toRadians(40.0 + 47.0 / 60)                               // 40°47'
  private val lat0 = math.toRadians(39.0 + 20.0 / 60)                               // 39°20'
  private val lon0 = math.toRadians(-105.5)
  private val fe = 914401.8289          // false easting (m)
  private val fn = 304800.6096          // false northing (m)

  private def mOf(lat: Double): Double = {
    val s = math.sin(lat)
    math.cos(lat) / math.sqrt(1 - e2 * s * s)
  }
  private def tOf(lat: Double): Double = {
    val s = math.sin(lat)
    math.tan(math.Pi / 4 - lat / 2) /
      math.pow((1 - e * s) / (1 + e * s), e / 2)
  }

  private val m1 = mOf(lat1)
  private val m2 = mOf(lat2)
  private val t0 = tOf(lat0)
  private val t1 = tOf(lat1)
  private val t2 = tOf(lat2)
  private val n = (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
  private val bigF = m1 / (n * math.pow(t1, n))
  private val rho0 = a * bigF * math.pow(t0, n)

  /** lon/lat degrees → (easting, northing) in US survey feet. */
  def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
    val lon = math.toRadians(lonDeg)
    val lat = math.toRadians(latDeg)
    val t = tOf(lat)
    val rho = a * bigF * math.pow(t, n)
    val theta = n * (lon - lon0)
    val eM = fe + rho * math.sin(theta)
    val nM = fn + rho0 - rho * math.cos(theta)
    (eM / MPerFtUs, nM / MPerFtUs)
  }
}
