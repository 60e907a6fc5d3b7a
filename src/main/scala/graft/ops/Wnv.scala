package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.XF
import graft.geo.Geo
import graft.sources.Tables.t

/** The reference's WNV ETL surface (SURVEY.md §2.1-2.5), re-expressed as
  * lazy DataFrame plans over the driver testdata.
  *
  * Mapping of reference stages → operators here (file:line into
  * /root/reference):
  *   - P1 concat enrichment (Lab2ETL.py:69)              → `addr` column
  *   - P2 geocode (Lab2ETL.py:22-45)                     → [[Geo]] mock
  *   - P3 clean/cast/drop (Lab2ETL.py:76-80)             → wnv_clean_cast
  *   - P4 null filter (Lab2ETL.py:74)                    → geocodeHit filter
  *   - P6 constant Type tag (Lab2ETL.py:78)              → lit("Residential")
  *   - S4 XY→point load (Lab2ETL.py:83-94)               → x/y columns
  *   - J3 Buffer 1500ft (GSheetsETL_Lab2.py:129)         → implicit radius
  *   - J1 SpatialJoin+Join_Count (final_project2.py:226) → wnv_spatial_join_count
  *   - J2 Erase (GSheetsETL_Lab2.py:133)                 → wnv_erase_selection
  *   - P8 definition query Join_Count=1 (final_project.py:202)
  *                                                       → wnv_target_report
  *   - S5 report export (final_project2.py:244-265)      → wnv_target_report
  *
  * Scale design: the zone side is a tiny dimension (25 rows; it stays tiny
  * even at 100 TB of facts) → broadcast theta join. The opt-out buffer side
  * grows with the data → the Erase anti-join is a grid-cell equi-join
  * (cell = buffer radius; each buffer is exploded to its 3×3 covering
  * cells) so Catalyst plans a hash anti-join on (gx, gy) with the exact
  * distance predicate as a residual filter — no O(N·M) theta join.
  */
object Wnv {

  val BufferFt = 1500.0 // GSheetsETL_Lab2.py:129 "1500 feet"

  /** Geocoded customer points (the opt-out-address analogue on testdata):
    * concat enrichment → deterministic geocode → miss-drop → constant tag
    * → planar feet projection. One lazy plan, no stage materialization
    * (the reference writes a CSV between each step). `carry` names
    * further `customer` columns to keep after `c_custkey`.
    */
  def points(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): DataFrame = {
    val addr = concat(col("c_name"), lit(" Boulder CO"))
    val kept = col("c_custkey") +: carry.map(col)
    t(spark, dir, "customer")
      .select(kept :+ addr.as("addr"): _*)
      .filter(Geo.geocodeHit(col("addr")))
      .select(kept ++ Seq(
        Geo.geocodeLon(col("addr")).as("lon"),
        Geo.geocodeLat(col("addr")).as("lat"),
        lit("Residential").as("addr_type")): _*)
      .withColumn("x_ft", Geo.xFt(col("lon")))
      .withColumn("y_ft", Geo.yFt(col("lat")))
  }

  /** SQL twin of [[points]] as a WITH-clause body (DuckDB dialect). */
  private val addrSql = "(c_name || ' Boulder CO')"
  private val pointsSql: String =
    s"""SELECT c_custkey,
       |       ${Geo.geocodeLonSql(addrSql)} AS lon,
       |       ${Geo.geocodeLatSql(addrSql)} AS lat,
       |       'Residential' AS addr_type,
       |       ${Geo.xFtSql(Geo.geocodeLonSql(addrSql))} AS x_ft,
       |       ${Geo.yFtSql(Geo.geocodeLatSql(addrSql))} AS y_ft
       |FROM customer
       |WHERE ${Geo.geocodeHitSql(addrSql)}""".stripMargin

  /** The reference's E3 slice (extract → transform, Lab2ETL.py:104-106)
    * over an actual header-CSV extract: [[graft.api.OptOutEtl]]'s
    * `extract` and `transform` — read with the declared opt-out schema,
    * P1 concat enrichment (faithful to the reference's double-append of
    * city/state, Lab2ETL.py:69), mock geocode with miss-drop, constant
    * Type tag — emitting the exact 3-column `x,y,Type` schema the
    * reference writes (Lab2ETL.py:64,78). Nothing is loaded, so the ETL
    * gets no local dir or destination.
    */
  def csvPipeline(spark: SparkSession, csvPath: String): DataFrame = {
    val etl = new graft.api.OptOutEtl(spark, csvPath, "", "")
    etl.transform(etl.extract())
  }

  /** S5 + J1 + P8 over an address table with the reference's exact
    * 7-column report schema (final_project2.py:252): spatial-join the
    * addresses against selection zones (KEEP_COMMON), keep Join_Count=1,
    * project the 7 attribute fields — the `export_target_addresses_report`
    * analogue as a reusable library function.
    *
    * @param addresses frame with the 7 report columns + x/y (degrees)
    * @param zones     frame with cx_ft/cy_ft/radius_ft
    */
  def targetAddressReport(addresses: DataFrame, zones: DataFrame): DataFrame = {
    val reportCols = Seq("FULLADDR", "ADDRNUM", "UNITID", "PREDIR",
      "STREETNAME", "STREETSUFF", "POSTDIR")
    addresses
      .withColumn("x_ft", Geo.xFt(col("x")))
      .withColumn("y_ft", Geo.yFt(col("y")))
      .join(broadcast(zones), inZone(col("x_ft"), col("y_ft")), "inner")
      .groupBy(reportCols.map(col): _*)
      .agg(count(lit(1)).as("join_count"))
      .filter(col("join_count") === 1)
      .select(reportCols.map(col): _*)
  }

  /** Spray-planning zones derived from `nation` (the High_Risk_Intersect
    * analogue): implicit-buffer form, center + radius feet.
    */
  def zones(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation").select(
      col("n_nationkey").as("zone_id"),
      ((col("n_nationkey") % 5).cast(DoubleType) * lit(28000.0) + lit(14000.0)).as("cx_ft"),
      (floor(col("n_nationkey") / lit(5.0)).cast(DoubleType) * lit(21000.0) + lit(10000.0)).as("cy_ft"),
      (col("n_nationkey").cast(DoubleType) * lit(400.0) + lit(5280.0)).as("radius_ft"),
      (col("n_nationkey") % 3 =!= 1).as("high_risk"))

  private val zonesSql: String =
    """SELECT n_nationkey AS zone_id,
      |       CAST(n_nationkey % 5 AS DOUBLE) * CAST(28000 AS DOUBLE) + CAST(14000 AS DOUBLE) AS cx_ft,
      |       CAST(FLOOR(n_nationkey / CAST(5 AS DOUBLE)) AS DOUBLE) * CAST(21000 AS DOUBLE) + CAST(10000 AS DOUBLE) AS cy_ft,
      |       CAST(n_nationkey AS DOUBLE) * CAST(400 AS DOUBLE) + CAST(5280 AS DOUBLE) AS radius_ft,
      |       (n_nationkey % 3) <> 1 AS high_risk
      |FROM nation""".stripMargin

  /** Opt-out subset: every 10th customer (deterministic stand-in for the
    * Google-Sheet opt-out list), buffered implicitly at 1500 ft.
    */
  def optOut(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir).filter(col("c_custkey") % 10 === 0)

  private def inZone(px: Column, py: Column): Column =
    Geo.dist2(px, py, col("cx_ft"), col("cy_ft")) <= col("radius_ft") * col("radius_ft")

  private def inZoneSql(px: String, py: String): String =
    s"${Geo.dist2Sql(px, py, "z.cx_ft", "z.cy_ft")} <= z.radius_ft * z.radius_ft"

  /** J1: spatial inner join (KEEP_COMMON) + per-address Join_Count,
    * keeping the `carry` columns of [[points]] (which c_custkey, the
    * customer key, determines). */
  def spatialJoinCount(spark: SparkSession, dir: String,
      carry: Seq[String] = Nil): DataFrame =
    points(spark, dir, carry)
      .join(
        broadcast(zones(spark, dir).filter(col("high_risk"))),
        inZone(col("x_ft"), col("y_ft")),
        "inner")
      .groupBy((col("c_custkey") +: carry.map(col)): _*)
      .agg(count(lit(1)).as("join_count"))

  /** J2 as a pure frame transform: in-risk points minus 1500-ft opt-out
    * buffers, planned as a grid-cell hash anti-join (see header). This
    * is the ONE downstream DAG every acquisition path feeds — the
    * fixture/mock path ([[eraseSelection]], the oracle-checked surface)
    * and the live HTTP path (downloadSheet + geocodeLive, LiveSpec's
    * stub-served e2e) differ only in how `pts` was produced.
    *
    * @param pts    frame with c_custkey/x_ft/y_ft (plus carried columns)
    * @param zn     zone catalog ([[zones]] shape)
    * @param optPts opt-out point frame with x_ft/y_ft
    */
  def eraseSelectionFrom(pts: DataFrame, zn: DataFrame,
      optPts: DataFrame): DataFrame = {
    val cell = BufferFt
    val inRisk = pts
      .join(broadcast(zn.filter(col("high_risk"))),
        inZone(col("x_ft"), col("y_ft")), "left_semi")
      .withColumn("gx", floor(col("x_ft") / cell))
      .withColumn("gy", floor(col("y_ft") / cell))
    val bufCells = optPts
      .select(col("x_ft").as("ox"), col("y_ft").as("oy"))
      .withColumn("gx", explode(sequence(
        floor((col("ox") - BufferFt) / cell), floor((col("ox") + BufferFt) / cell))))
      .withColumn("gy", explode(sequence(
        floor((col("oy") - BufferFt) / cell), floor((col("oy") + BufferFt) / cell))))
    inRisk.join(
        bufCells,
        inRisk("gx") === bufCells("gx") && inRisk("gy") === bufCells("gy") &&
          (Geo.dist2(col("x_ft"), col("y_ft"), col("ox"), col("oy"))
            <= lit(BufferFt * BufferFt)),
        "left_anti")
      .drop("gx", "gy")
  }

  /** J2 over the testdata fixture path (mock geocode). */
  def eraseSelection(spark: SparkSession, dir: String): DataFrame =
    eraseSelectionFrom(points(spark, dir), zones(spark, dir),
      optOut(spark, dir))

  /** Per-zone target counts (zone_id, n_targets) over an
    * erase-selection frame, unsorted: the core of `wnv_pipeline_e2e`,
    * `wnv_symbology` and `wnv_map_export`. */
  private def zoneCounts(sel: DataFrame, zn: DataFrame): DataFrame =
    sel.join(broadcast(zn.filter(col("high_risk"))),
        inZone(col("x_ft"), col("y_ft")), "inner")
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_targets"))

  /** Flagship tail: [[zoneCounts]] by zone_id — `wnv_pipeline_e2e` and
    * the live path's e2e test.
    */
  def zoneTargetCounts(sel: DataFrame, zn: DataFrame): DataFrame =
    zoneCounts(sel, zn).orderBy(col("zone_id"))

  // ------------------------------------------------------------------
  // driver-contract query surface
  // ------------------------------------------------------------------

  /** Checked-in opt-out fixture (FIXTURES.md §1.1) — the S1 extract
    * snapshot. Resolved to an ABSOLUTE path (the DuckDB oracle reads the
    * same bytes by path): `-Dgraft.optout.csv` override, else the copy on
    * the classpath (sbt puts resources under target/.../classes), else
    * the source-tree layout relative to the working directory.
    */
  val FixtureCsv: String =
    sys.props.get("graft.optout.csv")
      .orElse(Option(getClass.getResource("/opt_out_addresses.csv"))
        .filter(_.getProtocol == "file")
        .map(u => new java.io.File(u.toURI).getAbsolutePath))
      .getOrElse(new java.io.File(
        "src/main/resources/opt_out_addresses.csv").getAbsolutePath)

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // S1-S3: header-CSV extract → transform, the reference's E3 slice
    // over the real CSV source (sfDir unused; fixture is the snapshot).
    "wnv_csv_extract" -> ((s: SparkSession, _: String) =>
      csvPipeline(s, FixtureCsv).orderBy(col("x"), col("y"))),

    "wnv_geocode_points" -> ((s: SparkSession, d: String) =>
      points(s, d)
        .select(col("c_custkey"), col("lon").as("x"), col("lat").as("y"), col("addr_type"))
        .orderBy(col("c_custkey"))),

    // HEX-GRID DENSITY — the H3/hex-bin aggregation every geospatial
    // heat map runs at scale: each point maps to its pointy-top hexagon
    // (size 10 000 ft) on the planar state-plane grid via axial
    // fractional coordinates + cube rounding (round each cube axis,
    // then repair the axis with the largest rounding error so
    // x+y+z = 0 holds — the standard algorithm, e.g. Red Blob Games'
    // hexagon reference; H3 swaps in a geodesic grid, same plan). The
    // binning is pure narrow math (map-side, codegen'd), the count is
    // one groupBy on the (q, r) key with map-side partials — the
    // canonical density plan at 100 TB: no join, no window, key space
    // = occupied hexes. Every float step is a fixed IEEE chain with
    // literal constants, mirrored verbatim in the oracle; rounding
    // (HALF away from zero) agrees between engines.
    "wnv_hex_density" -> ((s: SparkSession, d: String) => {
      val size = 10000.0
      val qf = (lit(0.5773502691896257) * col("x_ft") -
        lit(0.3333333333333333) * col("y_ft")) / size
      val rf = (lit(0.6666666666666666) * col("y_ft")) / size
      val hex = points(s, d)
        .withColumn("xc", qf).withColumn("zc", rf)
        .withColumn("yc", -col("xc") - col("zc"))
        .withColumn("rx", round(col("xc")))
        .withColumn("ry", round(col("yc")))
        .withColumn("rz", round(col("zc")))
        .withColumn("dx", abs(col("rx") - col("xc")))
        .withColumn("dy", abs(col("ry") - col("yc")))
        .withColumn("dz", abs(col("rz") - col("zc")))
        .withColumn("hexq",
          when(col("dx") > col("dy") && col("dx") > col("dz"),
            -(col("ry") + col("rz"))).otherwise(col("rx"))
            .cast(LongType))
        .withColumn("hexr",
          when(!(col("dx") > col("dy") && col("dx") > col("dz")) &&
              !(col("dy") > col("dz")),
            -(col("rx") + col("ry"))).otherwise(col("rz"))
            .cast(LongType))
      hex.groupBy(col("hexq"), col("hexr"))
        .agg(count(lit(1)).as("n_points"))
        .orderBy(col("hexq"), col("hexr"))
    }),

    // SPATIAL PROXIMITY SELF-JOIN, RULE-PLANNED: point pairs within the
    // reference's 1500 ft buffer radius (GSheetsETL_Lab2.py:129),
    // written as the PLAIN theta join — no hand bucketing. Catalyst
    // alone would plan a CartesianProduct (no equi key);
    // [[graft.plans.DistJoinRule]] — the 2-D twin of the band-join
    // rule — rewrites it to the 3×3 grid-cell equi-join with the exact
    // squared-distance predicate as residual (cell size = the radius,
    // one ulp up). The oracle stays the naive theta join: the rewrite
    // must be lossless pair for pair. This is the automated form of
    // the hand-written WNV erase grid — the operator a user writes
    // naively and the planner fixes.
    "wnv_point_pairs_auto" -> ((s: SparkSession, d: String) => {
      graft.plans.DistJoinRule.register(s)
      val a = points(s, d)
        .select(col("c_custkey").as("i"), col("x_ft").as("axf"),
          col("y_ft").as("ayf"))
      val b = points(s, d)
        .select(col("c_custkey").as("j"), col("x_ft").as("bxf"),
          col("y_ft").as("byf"))
      val d2 = (col("axf") - col("bxf")) * (col("axf") - col("bxf")) +
        (col("ayf") - col("byf")) * (col("ayf") - col("byf"))
      a.join(b, col("i") < col("j") && d2 <= lit(1500.0 * 1500.0))
        .select(col("i"), col("j"),
          graft.functions.XF.r6(sqrt(d2)).as("dist_ft"))
        // sampling barrier before the global sort (BASELINE.md
        // round-11 rule): here the trade is output-volume exchange vs
        // re-running the theta join, and the measurements split by
        // scale — at sf1 the barrier wins clearly (25.2 -> 13.9 s);
        // at sf10 the line is variance-dominated either way (isolated
        // readings 43.6-78.0 s across five runs, both forms — the
        // answer is ~46M pairs and the global sort of it wobbles with
        // memory state). Barrier kept: it wins where the signal is
        // readable and is inside the noise band where it is not.
        .repartition(col("i"))
        .orderBy(col("i"), col("j"))
    }),

    "wnv_clean_cast" -> ((s: SparkSession, d: String) => {
      // P3: strip quotes/whitespace, try_cast, drop failures (ANSI-safe).
      val dirty = when(col("c_custkey") % 7 === 0, lit(" N/A "))
        .otherwise(concat(lit(" \""),
          floor(col("c_acctbal") * 100).cast(LongType).cast(StringType), lit("\" ")))
      t(s, d, "customer")
        .select(col("c_custkey"), dirty.as("dirty"))
        .withColumn("cleaned",
          regexp_replace(trim(col("dirty")), "['\"]", "").try_cast("double"))
        .filter(col("cleaned").isNotNull)
        .select(col("c_custkey"), (col("cleaned") / 100.0).as("acctbal_cents"))
        .orderBy(col("c_custkey"))
    }),

    // the catalog has one row per nation, 25 at every scale: it sorts
    // in one partition, with no exchange
    "wnv_zones" -> ((s: SparkSession, d: String) =>
      zones(s, d).coalesce(1).orderBy(col("zone_id"))),

    "wnv_spatial_join_count" -> ((s: SparkSession, d: String) =>
      spatialJoinCount(s, d).orderBy(col("c_custkey"))),

    "wnv_erase_selection" -> ((s: SparkSession, d: String) =>
      eraseSelection(s, d)
        .select(col("c_custkey"), col("x_ft"), col("y_ft"))
        .orderBy(col("c_custkey"))),

    "wnv_target_report" -> ((s: SparkSession, d: String) =>
      // J1's Join_Count with the report fields carried through, then P8
      // definition query Join_Count = 1 and the S5 report projection: no
      // second customer scan and join.
      spatialJoinCount(s, d, Seq("c_name", "c_mktsegment"))
        .filter(col("join_count") === 1)
        .select(col("c_custkey"), col("c_name").as("fulladdr"),
          col("c_mktsegment").as("segment"))
        .orderBy(col("c_custkey"))),

    // per-zone extent + centroid via the typed Aggregator (§2.7): the
    // layer-extent summary, one pass, merge-order-independent.
    "wnv_zone_extent" -> ((s: SparkSession, d: String) => {
      val extent = udaf(graft.functions.ExtentAgg)
      points(s, d)
        .join(broadcast(zones(s, d).filter(col("high_risk"))),
          inZone(col("x_ft"), col("y_ft")), "inner")
        .groupBy(col("zone_id"))
        .agg(extent(col("x_ft"), col("y_ft")).as("e"))
        .select(col("zone_id"), col("e.min_x"), col("e.max_x"),
          col("e.min_y"), col("e.max_y"),
          col("e.centroid_x"), col("e.centroid_y"), col("e.n_points"))
        .orderBy(col("zone_id"))
    }),

    "wnv_pipeline_e2e" -> ((s: SparkSession, d: String) => {
      // flagship: zones × erase-selection → per-zone target counts
      zoneTargetCounts(eraseSelection(s, d), zones(s, d))
    }),

    // G2 analogue (apply_renderer, reference final_project.py:169-184:
    // SimpleRenderer "Red fill with black outline", transparency 50 on
    // the final_analysis layer): symbology as DATA — one style row per
    // rendered zone carrying the reference's constants plus a graduated
    // density class (quartile of target count, the classification a
    // graduated renderer computes), so any front end can draw the map
    // the reference styles by hand. Pure projection over the e2e counts.
    "wnv_symbology" -> ((s: SparkSession, d: String) => {
      zoneCounts(eraseSelection(s, d), zones(s, d))
        .select(col("zone_id"), col("n_targets"),
          lit("#FF0000").as("fill"), lit("#000000").as("outline"),
          lit(0.5).as("opacity"),
          // bounded global window BY DESIGN: the frame is the zone
          // catalog (25 rows; ~10^5 even nationwide — see SCALE.md), a
          // cluster-constant-sized dimension, never corpus-scaled. The
          // corpus-scaled orderings use ops/Scan.runningOver instead.
          ntile(4).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("n_targets"), col("zone_id")))
            .cast(LongType).as("density_class"))
        .orderBy(col("zone_id"))
    }),

    // S7 analogue (the exportMap PDF, reference Lab3ETL.py:112-127 /
    // final_project2.py:146-168, re-expressed as data): the rendered
    // per-zone summary table the map's legend communicates — one
    // formatted line per high-risk zone. The presentation wrapper
    // (title + subtitle header, single-file write) is
    // [[exportSummaryReport]]; the subtitle is a PARAMETER where the
    // reference blocks on interactive input() (Lab3ETL.py:118).
    "wnv_map_export" -> ((s: SparkSession, d: String) => {
      zoneCounts(eraseSelection(s, d), zones(s, d))
        .select(col("zone_id"),
          concat(lit("Zone "), col("zone_id").cast(StringType),
            lit(": "), col("n_targets").cast(StringType),
            lit(" target addresses")).as("line"))
        .orderBy(col("zone_id"))
    }),

    // The erase-geometry family: the GEOMETRY of the reference's one
    // arcpy Erase (opt-out buffers removed from the high-risk zones,
    // GSheetsETL_Lab2.py:129-133) on circle, convex (diamond) and
    // concave star-with-hole zones, erased by the 1500 ft buffer disks
    // or by rotated-square parcel footprints (arcpy Erase accepts any
    // erase features). None has a DuckDB twin: the arc terms are
    // transcendental, and the clipping/stitching algorithms have no SQL
    // form. GeoSpec/GeoPropertySpec pin the kernels (hand cases, grid
    // sampling, winding invariance, n-gon convergence, Σ ring area ==
    // the independent area kernels) and each distributed area against
    // a driver replay of an independent area kernel;
    // perfbench/reference.json pins the outputs. The polygon-zone area
    // and ring queries sum and stitch the same pieces, so their
    // agreement checks only the stitch. Floats are r6.

    // Surviving boundary arcs of each zone circle, degrees.
    "wnv_erase_arcs" -> ((s: SparkSession, d: String) =>
      graft.geo.EraseArcs.circleZoneArcsPerZone(zones(s, d),
          diskMembers(s, d))
        .select(col("zone_id"),
          XF.r6(col("start") * 180.0 / math.Pi).as("start_deg"),
          XF.r6(col("end") * 180.0 / math.Pi).as("end_deg"),
          XF.r6(col("len") * 180.0 / math.Pi).as("arc_deg"))
        // a local sort: the plan is already range-partitioned on zone_id
        .orderBy(col("zone_id"), col("start_deg"))),

    // Surviving area of each diamond zone under the buffer disks.
    "wnv_erase_poly" -> ((s: SparkSession, d: String) =>
      zoneAreas(polygonZones(s, d), diskMembers(s, d))),

    // Surviving area of each diamond zone under the parcel footprints.
    "wnv_erase_poly_sub" -> ((s: SparkSession, d: String) =>
      zoneAreas(polygonZones(s, d), footprintMembers(s, d))),

    // SELECTION semantics of the same polygon-subtrahend erase —
    // oracle-checked (rational rotation, see erasePolySubSelection).
    "wnv_erase_poly_sub_selection" -> ((s: SparkSession, d: String) =>
      erasePolySubSelection(s, d)
        .select(col("c_custkey"), col("x_ft"), col("y_ft"))
        .orderBy(col("c_custkey"))),

    // Output rings of (diamond zone − parcel footprints): per zone,
    // ordered rings of directed segments (zone edges CCW / footprint
    // edges reversed).
    "wnv_erase_poly_sub_rings" -> ((s: SparkSession, d: String) =>
      lineRings(graft.geo.EraseArcs.polyZoneRingsPerZone(
        polygonZones(s, d), footprintMembers(s, d)))),

    // Surviving area of each star-with-hole zone under the buffer disks.
    "wnv_erase_concave" -> ((s: SparkSession, d: String) =>
      zoneAreas(starZones(s, d), diskMembers(s, d))),

    // Surviving area of each star-with-hole zone under the parcel
    // footprints.
    "wnv_erase_concave_sub" -> ((s: SparkSession, d: String) =>
      zoneAreas(starZones(s, d), footprintMembers(s, d))),

    // Output rings of (star − hole − parcel footprints): the zone's
    // hole is one more ring member, so its edges appear reversed.
    "wnv_erase_concave_sub_rings" -> ((s: SparkSession, d: String) =>
      lineRings(graft.geo.EraseArcs.polyZoneRingsPerZone(
        starZones(s, d), footprintMembers(s, d)))),

    // Output rings of (star − hole − buffer disks) — the reference's
    // literal Erase shape: rings alternate straight pieces and CW arcs.
    "wnv_erase_poly_disk_rings" -> ((s: SparkSession, d: String) =>
      graft.geo.EraseArcs.polyZoneRingsPerZone(starZones(s, d),
          diskMembers(s, d))
        .select(col("zone_id"), col("ring_id"), col("piece_seq"),
          col("kind"), XF.r6(col("x1_ft")).as("x1_ft"),
          XF.r6(col("y1_ft")).as("y1_ft"),
          XF.r6(col("x2_ft")).as("x2_ft"),
          XF.r6(col("y2_ft")).as("y2_ft"),
          XF.r6(col("cx_ft")).as("cx_ft"),
          XF.r6(col("cy_ft")).as("cy_ft"),
          XF.r6(col("start_deg")).as("start_deg"),
          XF.r6(col("end_deg")).as("end_deg"),
          XF.r6(col("ring_area_sqft")).as("ring_area_sqft"))
        // a local sort: the plan is already range-partitioned on zone_id
        .orderBy(col("zone_id"), col("ring_id"), col("piece_seq"))),

    // Output rings of (zone circle − buffer disks): arc pieces (zone
    // arcs CCW / buffer arcs CW).
    "wnv_erase_rings" -> ((s: SparkSession, d: String) =>
      graft.geo.EraseArcs.circleZoneRingsPerZone(zones(s, d),
          diskMembers(s, d))
        .select(col("zone_id"), col("ring_id"), col("piece_seq"),
          col("kind"), col("ccw"), XF.r6(col("cx_ft")).as("cx_ft"),
          XF.r6(col("cy_ft")).as("cy_ft"),
          XF.r6(col("rho_ft")).as("rho_ft"),
          XF.r6(col("start_deg")).as("start_deg"),
          XF.r6(col("end_deg")).as("end_deg"),
          XF.r6(col("ring_area_sqft")).as("ring_area_sqft"))
        // a local sort: the plan is already range-partitioned on zone_id
        .orderBy(col("zone_id"), col("ring_id"), col("piece_seq")))
  )

  /** The opt-out buffer disks as erase members. */
  private def diskMembers(s: SparkSession, d: String): DataFrame =
    graft.geo.EraseArcs.diskMembers(
      optOut(s, d).select(col("x_ft"), col("y_ft")), BufferFt)

  /** The parcel footprints as erase members. */
  private def footprintMembers(s: SparkSession, d: String): DataFrame =
    graft.geo.EraseArcs.ringMembers(parcelFootprints(s, d))

  /** Surviving area per polygon zone, r6, ordered by zone — a local
    * sort: the plan is already range-partitioned on zone_id. */
  private def zoneAreas(zones: DataFrame, members: DataFrame): DataFrame =
    graft.geo.EraseArcs.polyZoneAreaPerZone(zones, members)
      .select(col("zone_id"), XF.r6(col("area_sqft")).as("area_sqft"))
      .orderBy(col("zone_id"))

  /** The 9 columns of a line-only ring query (no arc columns), r6,
    * ordered by zone, ring and piece. */
  private def lineRings(rings: DataFrame): DataFrame =
    rings.select(col("zone_id"), col("ring_id"), col("piece_seq"),
        col("kind"), XF.r6(col("x1_ft")).as("x1_ft"),
        XF.r6(col("y1_ft")).as("y1_ft"),
        XF.r6(col("x2_ft")).as("x2_ft"),
        XF.r6(col("y2_ft")).as("y2_ft"),
        XF.r6(col("ring_area_sqft")).as("ring_area_sqft"))
      // a local sort: the plan is already range-partitioned on zone_id
      .orderBy(col("zone_id"), col("ring_id"), col("piece_seq"))

  /** Concave star-with-hole form of the zone catalog: an 8-vertex
    * 4-point star (axis tips at ±R, diagonal inner vertices at ±0.35R
    * — concave at every inner vertex) and ONE square hole of
    * half-width 0.15R at the center (inside the star's 0.474R
    * inradius). Rational coordinates throughout. The general-polygon
    * Erase input ([[graft.geo.EraseArcs.polyZoneAreaPerZone]]).
    */
  def starZones(spark: SparkSession, dir: String): DataFrame = {
    def v(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      struct(x.as("_1"), y.as("_2"))
    val cx = col("cx_ft"); val cy = col("cy_ft"); val r = col("radius_ft")
    zones(spark, dir).select(col("zone_id"),
      array(
        v(cx + r, cy),
        v(cx + r * 0.35, cy + r * 0.35),
        v(cx, cy + r),
        v(cx - r * 0.35, cy + r * 0.35),
        v(cx - r, cy),
        v(cx - r * 0.35, cy - r * 0.35),
        v(cx, cy - r),
        v(cx + r * 0.35, cy - r * 0.35)).as("vertices"),
      array(array(
        v(cx + r * 0.15, cy + r * 0.15),
        v(cx - r * 0.15, cy + r * 0.15),
        v(cx - r * 0.15, cy - r * 0.15),
        v(cx + r * 0.15, cy - r * 0.15))).as("holes"))
  }

  /** Polygon ERASE FEATURES (round 12): a rotated-square "parcel
    * footprint" per opt-out address — the general-subtrahend analogue
    * of the 1500 ft buffer disk (arcpy Erase takes arbitrary erase
    * features; the reference's only actual subtrahend is the circular
    * buffer, GSheetsETL_Lab2.py:129-133). Half-diagonal 1200 ft,
    * rotated by the RATIONAL 3-4-5 angle (cos 0.8, sin 0.6): the
    * squares are not axis-aligned (the kernel sees generic edge
    * orientations), and every constant is an exactly-representable
    * double — so the SELECTION companion query's membership predicate
    * evaluates bit-identically in Spark and DuckDB and stays on the
    * hash-compared oracle surface.
    */
  val ParcelHalfDiag = 1200.0
  private val RotC = 0.8
  private val RotS = 0.6
  def parcelFootprints(spark: SparkSession, dir: String): DataFrame = {
    val hd = lit(ParcelHalfDiag)
    val c = lit(RotC); val s = lit(RotS)
    def v(dx: org.apache.spark.sql.Column, dy: org.apache.spark.sql.Column) =
      struct((col("x_ft") + dx * c - dy * s).as("_1"),
        (col("y_ft") + dx * s + dy * c).as("_2"))
    optOut(spark, dir).select(
      col("c_custkey").as("sub_id"),
      array(v(hd, lit(0.0)), v(lit(0.0), hd),
        v(-hd, lit(0.0)), v(lit(0.0), -hd)).as("vertices"))
  }

  /** J2 SELECTION semantics under POLYGON subtrahends (the
    * oracle-checked companion of `wnv_erase_poly_sub`): in-risk points
    * minus the points inside any parcel footprint. Same grid-cell
    * hash anti-join shape as [[eraseSelectionFrom]]; the residual
    * predicate is rotated-L1 square membership |u| + |v| ≤ hd with
    * (u, v) the point offset in the footprint's frame — rational
    * rotation, so the DuckDB twin computes the bit-identical IEEE
    * expression (the area queries' clipping has no SQL form; the
    * selection predicate does).
    */
  def erasePolySubSelection(spark: SparkSession, dir: String): DataFrame = {
    val cell = BufferFt
    val bbox = ParcelHalfDiag // footprint bbox half-extent hd·max(c,s) < hd
    val inRisk = points(spark, dir)
      .join(broadcast(zones(spark, dir).filter(col("high_risk"))),
        inZone(col("x_ft"), col("y_ft")), "left_semi")
      .withColumn("gx", floor(col("x_ft") / cell))
      .withColumn("gy", floor(col("y_ft") / cell))
    val footCells = optOut(spark, dir)
      .select(col("x_ft").as("ox"), col("y_ft").as("oy"))
      .withColumn("gx", explode(sequence(
        floor((col("ox") - bbox) / cell), floor((col("ox") + bbox) / cell))))
      .withColumn("gy", explode(sequence(
        floor((col("oy") - bbox) / cell), floor((col("oy") + bbox) / cell))))
    val dx = col("x_ft") - col("ox"); val dy = col("y_ft") - col("oy")
    val u = dx * lit(RotC) + dy * lit(RotS)
    val v = dy * lit(RotC) - dx * lit(RotS)
    inRisk.join(footCells,
        inRisk("gx") === footCells("gx") && inRisk("gy") === footCells("gy") &&
          (abs(u) + abs(v) <= lit(ParcelHalfDiag)),
        "left_anti")
      .drop("gx", "gy")
  }

  /** Diamond (4-vertex convex ring) form of the zone catalog: vertices
    * at (cx±R, cy), (cx, cy±R) — rational coordinates, inscribed in
    * the circular zone. The convex polygon-Erase input
    * ([[graft.geo.EraseArcs.polyZoneAreaPerZone]]).
    */
  def polygonZones(spark: SparkSession, dir: String): DataFrame =
    zones(spark, dir).select(col("zone_id"),
      array(
        struct((col("cx_ft") + col("radius_ft")).as("_1"),
          col("cy_ft").as("_2")),
        struct(col("cx_ft").as("_1"),
          (col("cy_ft") + col("radius_ft")).as("_2")),
        struct((col("cx_ft") - col("radius_ft")).as("_1"),
          col("cy_ft").as("_2")),
        struct(col("cx_ft").as("_1"),
          (col("cy_ft") - col("radius_ft")).as("_2"))).as("vertices"))

  /** S7 presentation sink: writes the [[queries wnv_map_export]] summary
    * table under a title/subtitle header to ONE local text file — the
    * non-interactive analogue of the reference's exportToPDF. The body
    * is ≤ |zones| rows (a presentation artifact, like Verify's dump), so
    * the driver-side collect here is the correct shape — this is not a
    * data-plane operator.
    */
  def exportSummaryReport(spark: SparkSession, dir: String,
      out: java.nio.file.Path, subtitle: String): java.nio.file.Path = {
    val lines = queries.toMap.apply("wnv_map_export")(spark, dir)
      .select(col("line")).collect().map(_.getString(0))
    val body = (Seq("West Nile Virus Outbreak — Target Addresses",
      subtitle, "") ++ lines).mkString("\n") + "\n"
    java.nio.file.Files.createDirectories(out.toAbsolutePath.getParent)
    java.nio.file.Files.write(out,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out
  }

  private val px = "p.x_ft"
  private val py = "p.y_ft"

  /** `wnv_erase_selection` over the `pts` and `z` CTEs: the points in
    * a high-risk zone outside every opt-out buffer. */
  private val selSql: String =
    s"""SELECT p.c_custkey, p.x_ft, p.y_ft
       |FROM pts p
       |WHERE EXISTS (SELECT 1 FROM z WHERE z.high_risk AND ${inZoneSql(px, py)})
       |  AND NOT EXISTS (
       |    SELECT 1 FROM pts o
       |    WHERE o.c_custkey % 10 = 0
       |      AND ${Geo.dist2Sql(px, py, "o.x_ft", "o.y_ft")}
       |          <= CAST(2250000 AS DOUBLE))""".stripMargin

  /** The CTEs of [[zoneCounts]]: pts, z, the erase selection `sel` and
    * the per-zone target `counts`. */
  private val countsSql: String =
    s"""WITH pts AS ($pointsSql), z AS ($zonesSql),
       |sel AS ($selSql),
       |counts AS (
       |  SELECT z.zone_id, COUNT(*) AS n_targets
       |  FROM sel p JOIN z ON z.high_risk AND ${inZoneSql(px, py)}
       |  GROUP BY z.zone_id)""".stripMargin

  val oracles: Seq[(String, String)] = Seq(
    "wnv_csv_extract" -> {
      val a = """("Street Address" || ' Boulder CO')"""
      s"""SELECT ${Geo.geocodeLonSql(a)} AS x,
         |       ${Geo.geocodeLatSql(a)} AS y,
         |       'Residential' AS "Type"
         |FROM read_csv('$FixtureCsv', header=true,
         |  columns={'Timestamp':'VARCHAR','Street Address':'VARCHAR','Zipcode':'VARCHAR'})
         |WHERE ${Geo.geocodeHitSql(a)}
         |ORDER BY x, y""".stripMargin
    },

    "wnv_geocode_points" ->
      s"""WITH pts AS ($pointsSql)
         |SELECT c_custkey, lon AS x, lat AS y, addr_type
         |FROM pts ORDER BY c_custkey""".stripMargin,

    // the naive theta join — the rewrite must be lossless pair for pair
    "wnv_point_pairs_auto" -> {
      val d2 = "(a.x_ft - b.x_ft) * (a.x_ft - b.x_ft) + " +
        "(a.y_ft - b.y_ft) * (a.y_ft - b.y_ft)"
      s"""WITH pts AS ($pointsSql)
         |SELECT a.c_custkey AS i, b.c_custkey AS j,
         |  ROUND(sqrt($d2), 6) AS dist_ft
         |FROM pts a JOIN pts b
         |  ON a.c_custkey < b.c_custkey
         | AND $d2 <= CAST(2250000 AS DOUBLE)
         |ORDER BY i, j""".stripMargin
    },

    // identical IEEE chain and cube-round repair rule
    "wnv_hex_density" ->
      s"""WITH pts AS ($pointsSql),
         |frac AS (
         |  SELECT (0.5773502691896257 * x_ft - 0.3333333333333333 * y_ft)
         |           / CAST(10000 AS DOUBLE) AS xc,
         |         (0.6666666666666666 * y_ft) / CAST(10000 AS DOUBLE) AS zc
         |  FROM pts),
         |cube AS (
         |  SELECT xc, zc, -xc - zc AS yc,
         |    ROUND(xc) AS rx, ROUND(-xc - zc) AS ry, ROUND(zc) AS rz
         |  FROM frac),
         |fix AS (
         |  SELECT *,
         |    ABS(rx - xc) AS dx, ABS(ry - yc) AS dy, ABS(rz - zc) AS dz
         |  FROM cube)
         |SELECT
         |  CAST(CASE WHEN dx > dy AND dx > dz THEN -(ry + rz) ELSE rx END
         |    AS BIGINT) AS hexq,
         |  CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz)
         |       THEN -(rx + ry) ELSE rz END AS BIGINT) AS hexr,
         |  COUNT(*) AS n_points
         |FROM fix GROUP BY 1, 2 ORDER BY hexq, hexr""".stripMargin,

    "wnv_clean_cast" ->
      s"""SELECT c_custkey,
         |       TRY_CAST(replace(replace(trim(dirty), '''', ''), '"', '') AS DOUBLE)
         |         / CAST(100 AS DOUBLE) AS acctbal_cents
         |FROM (
         |  SELECT c_custkey,
         |         CASE WHEN c_custkey % 7 = 0 THEN ' N/A '
         |              ELSE ' "' || CAST(CAST(FLOOR(c_acctbal * CAST(100 AS DOUBLE)) AS BIGINT) AS VARCHAR) || '" '
         |         END AS dirty
         |  FROM customer)
         |WHERE TRY_CAST(replace(replace(trim(dirty), '''', ''), '"', '') AS DOUBLE) IS NOT NULL
         |ORDER BY c_custkey""".stripMargin,

    "wnv_zones" ->
      s"""$zonesSql ORDER BY zone_id""",

    "wnv_spatial_join_count" ->
      s"""WITH pts AS ($pointsSql), z AS ($zonesSql)
         |SELECT p.c_custkey, COUNT(*) AS join_count
         |FROM pts p JOIN z ON z.high_risk AND ${inZoneSql(px, py)}
         |GROUP BY p.c_custkey
         |ORDER BY p.c_custkey""".stripMargin,

    "wnv_erase_selection" ->
      s"""WITH pts AS ($pointsSql), z AS ($zonesSql)
         |$selSql
         |ORDER BY p.c_custkey""".stripMargin,

    // rotated-L1 membership with the RATIONAL 3-4-5 rotation: both
    // engines evaluate the bit-identical IEEE expression (same
    // operand order as erasePolySubSelection's Column tree)
    "wnv_erase_poly_sub_selection" ->
      s"""WITH pts AS ($pointsSql), z AS ($zonesSql)
         |SELECT p.c_custkey, p.x_ft, p.y_ft
         |FROM pts p
         |WHERE EXISTS (SELECT 1 FROM z WHERE z.high_risk AND ${inZoneSql(px, py)})
         |  AND NOT EXISTS (
         |    SELECT 1 FROM pts o
         |    WHERE o.c_custkey % 10 = 0
         |      AND abs((p.x_ft - o.x_ft) * CAST(0.8 AS DOUBLE)
         |              + (p.y_ft - o.y_ft) * CAST(0.6 AS DOUBLE))
         |        + abs((p.y_ft - o.y_ft) * CAST(0.8 AS DOUBLE)
         |              - (p.x_ft - o.x_ft) * CAST(0.6 AS DOUBLE))
         |          <= CAST(1200 AS DOUBLE))
         |ORDER BY p.c_custkey""".stripMargin,

    "wnv_target_report" ->
      s"""WITH pts AS ($pointsSql), z AS ($zonesSql),
         |jc AS (
         |  SELECT p.c_custkey, COUNT(*) AS join_count
         |  FROM pts p JOIN z ON z.high_risk AND ${inZoneSql(px, py)}
         |  GROUP BY p.c_custkey)
         |SELECT c.c_custkey, c.c_name AS fulladdr, c.c_mktsegment AS segment
         |FROM jc JOIN customer c ON jc.c_custkey = c.c_custkey
         |WHERE jc.join_count = 1
         |ORDER BY c.c_custkey""".stripMargin,

    "wnv_zone_extent" ->
      s"""WITH pts AS ($pointsSql), z AS ($zonesSql)
         |SELECT z.zone_id,
         |  MIN(p.x_ft) AS min_x, MAX(p.x_ft) AS max_x,
         |  MIN(p.y_ft) AS min_y, MAX(p.y_ft) AS max_y,
         |  CAST(SUM(CAST(round(p.x_ft * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE) / COUNT(*) AS centroid_x,
         |  CAST(SUM(CAST(round(p.y_ft * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE) / COUNT(*) AS centroid_y,
         |  COUNT(*) AS n_points
         |FROM pts p JOIN z ON z.high_risk AND ${inZoneSql(px, py)}
         |GROUP BY z.zone_id
         |ORDER BY z.zone_id""".stripMargin,

    "wnv_pipeline_e2e" ->
      s"""$countsSql
         |SELECT zone_id, n_targets FROM counts ORDER BY zone_id""".stripMargin,

    "wnv_symbology" ->
      s"""$countsSql
         |SELECT zone_id, n_targets,
         |  '#FF0000' AS fill, '#000000' AS outline,
         |  CAST(0.5 AS DOUBLE) AS opacity,
         |  CAST(ntile(4) OVER (ORDER BY n_targets, zone_id) AS BIGINT)
         |    AS density_class
         |FROM counts ORDER BY zone_id""".stripMargin,

    "wnv_map_export" ->
      s"""$countsSql
         |SELECT zone_id,
         |  'Zone ' || CAST(zone_id AS VARCHAR) || ': ' ||
         |  CAST(n_targets AS VARCHAR) || ' target addresses' AS line
         |FROM counts ORDER BY zone_id""".stripMargin
  )
}
