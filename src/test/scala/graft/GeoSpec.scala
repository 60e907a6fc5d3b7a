package graft

import org.apache.spark.sql.functions._
import org.locationtech.jts.algorithm.Orientation
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
import graft.geo.{Geo, Lcc, SlabArea}

class GeoSpec extends SparkSpec {

  private type Ring = Seq[(Double, Double)]

  /** [[SlabArea]] of a polygon zone: the reference the erase kernels
    * are checked against. */
  private def slab(outer: Ring, holes: Seq[Ring] = Nil, subs: Seq[Ring] = Nil,
      disks: Seq[(Double, Double)] = Nil, r: Double = 0.0): Double =
    SlabArea.area(SlabArea.Polygon(outer, holes), subs, disks, r)

  /** [[SlabArea]] of a circle zone of radius `bigR` centred at the
    * origin, minus disks of radius `r`. */
  private def slabCircle(bigR: Double, disks: Seq[(Double, Double)],
      r: Double): Double =
    SlabArea.area(SlabArea.Circle(0.0, 0.0, bigR), disks = disks, r = r)

  test("Lcc forward projects the EPSG:2876 origin to the false origin") {
    // At (lat0=39°20'N, lon0=105°30'W) easting/northing equal the false
    // easting/northing (3,000,000.00032 / 999,999.99996 ftUS per the
    // published EPSG:2876 parameter set).
    val (e, n) = Lcc.forward(-105.5, 39.0 + 20.0 / 60)
    assert(math.abs(e - 3000000.0) < 0.01, s"easting $e")
    assert(math.abs(n - 1000000.0) < 0.01, s"northing $n")
  }

  test("Lcc forward is monotone east and north near Boulder") {
    val (e1, n1) = Lcc.forward(-105.3, 40.0)
    val (e2, n2) = Lcc.forward(-105.2, 40.0)
    val (_, n3) = Lcc.forward(-105.3, 40.1)
    assert(e2 > e1)
    assert(n3 > n1)
    assert(math.abs(n2 - n1) < 2000) // same latitude ≈ same northing
  }

  test("Lcc degree of longitude near 40N is ~280k ftUS") {
    // cos(40°)·111.32 km ≈ 85.28 km ≈ 280k US survey feet
    val (e1, _) = Lcc.forward(-106.0, 40.0)
    val (e2, _) = Lcc.forward(-105.0, 40.0)
    assert(math.abs((e2 - e1) - 280150) < 1000, s"got ${e2 - e1}")
  }

  test("mock geocoder is deterministic and misses ~5%") {
    import spark.implicits._
    // Geo.geocode appends " Boulder CO": the addresses are "<i> Main St Boulder CO"
    val streets = (1 to 2000).map(i => s"$i Main St").toDF("street")
    val out = Geo.geocode(streets, col("street"), Seq("street")).cache()
    val hitRate = out.count().toDouble / 2000
    assert(hitRate > 0.92 && hitRate < 0.98, s"hit rate $hitRate")
    // coordinates land in the documented synthetic bounding box
    val bad = out.filter(col("lon") < -105.5 || col("lon") > -105.0 ||
      col("lat") < 39.9 || col("lat") > 40.2).count()
    assert(bad === 0)
    // determinism: identical second evaluation
    val again = Geo.geocode(streets, col("street"), Nil).select("lon")
    assert(out.select("lon").except(again).count() === 0)
    out.unpersist()
  }

  test("dist2 is symmetric and zero iff same point") {
    import spark.implicits._
    val df = Seq((0.0, 0.0, 3.0, 4.0)).toDF("x1", "y1", "x2", "y2")
    val d = df.select(
      Geo.dist2(col("x1"), col("y1"), col("x2"), col("y2")).as("d12"),
      Geo.dist2(col("x2"), col("y2"), col("x1"), col("y1")).as("d21"),
      Geo.dist2(col("x1"), col("y1"), col("x1"), col("y1")).as("d11"))
      .head()
    assert(d.getDouble(0) === 25.0)
    assert(d.getDouble(1) === 25.0)
    assert(d.getDouble(2) === 0.0)
  }

  test("erase arcs: hand-built circle-circle cases") {
    import spark.implicits._
    import graft.geo.EraseArcs
    val tau = 2 * math.Pi
    // one zone: unit-ish circle R=1000 at origin
    val zones = Seq((1, 0.0, 0.0, 1000.0)).toDF(
      "zone_id", "cx_ft", "cy_ft", "radius_ft")
    def arcsFor(bufs: (Double, Double)*): Seq[(Double, Double)] =
      EraseArcs.circleZoneArcsPerZone(zones,
          EraseArcs.diskMembers(bufs.toDF("x_ft", "y_ft"), 300.0))
        .select("start", "end").as[(Double, Double)].collect().toSeq
    // no buffers → the whole circle survives
    assert(arcsFor() === Seq((0.0, tau)))
    // buffer far away → untouched
    assert(arcsFor((5000.0, 0.0)) === Seq((0.0, tau)))
    // buffer strictly interior (d + r < R) → boundary untouched
    assert(arcsFor((100.0, 0.0)) === Seq((0.0, tau)))
    // buffer centered ON the boundary at bearing 0: covers ±α with
    // cos α = (d²+R²−r²)/(2dR) at d=R=1000, r=300
    val alpha = math.acos((1000.0 * 1000 + 1000.0 * 1000 - 300.0 * 300) /
      (2 * 1000.0 * 1000))
    val one = arcsFor((1000.0, 0.0))
    assert(one.length === 1)
    assert(math.abs(one.head._1 - alpha) < 1e-12)
    assert(math.abs(one.head._2 - (tau - alpha)) < 1e-12)
    // two overlapping boundary buffers at bearings 0 and ~α merge into
    // ONE covered interval → still one surviving arc
    val px = 1000.0 * math.cos(alpha); val py = 1000.0 * math.sin(alpha)
    val two = arcsFor((1000.0, 0.0), (px, py))
    assert(two.length === 1, two)
    // a huge buffer swallowing the whole boundary → nothing survives
    assert(EraseArcs.circleZoneArcsPerZone(zones,
        EraseArcs.diskMembers(Seq((0.0, 0.0)).toDF("x_ft", "y_ft"), 2500.0))
      .collect().isEmpty)
  }

  test("erased area: closed form matches hand cases and grid sampling") {
    // the closed forms check the slab reference itself
    val R = 1000.0; val r = 300.0
    def area(bufs: (Double, Double)*): Double = slabCircle(R, bufs, r)
    val full = math.Pi * R * R
    // no buffers / far buffer → full disk
    assert(math.abs(area() - full) < 1e-6)
    assert(math.abs(area((5000.0, 0.0)) - full) < 1e-6)
    // concentric interior hole → annulus
    assert(math.abs(area((0.0, 0.0)) - (full - math.Pi * r * r)) < 1e-6)
    // duplicate centers erase once, not twice
    assert(math.abs(area((100.0, 50.0), (100.0, 50.0)) -
      (full - math.Pi * r * r)) < 1e-6)
    // zone swallowed by a huge buffer → empty region
    assert(slabCircle(R, Seq((0.0, 0.0)), 2500.0) === 0.0)
    // straddling buffer → full − exact lens area
    val d = 1000.0
    def lens(rr: Double, dd: Double): Double =
      R * R * math.acos((dd * dd + R * R - rr * rr) / (2 * dd * R)) +
        rr * rr * math.acos((dd * dd + rr * rr - R * R) / (2 * dd * rr)) -
        0.5 * math.sqrt((-dd + rr + R) * (dd + rr - R) *
          (dd - rr + R) * (dd + rr + R))
    assert(math.abs(area((d, 0.0)) - (full - lens(r, d))) < 1e-6)
    // deterministic pseudo-random configuration vs grid sampling
    val bufs = (1 to 12).map { i =>
      val a = i * 2.399963229728653 // golden angle: spread bearings
      val rad = 150.0 + (i * 173) % 1100
      (rad * math.cos(a), rad * math.sin(a))
    }
    val got = slabCircle(R, bufs, r)
    val n = 600
    var in = 0; var tot = 0
    for (ix <- -n to n; iy <- -n to n) {
      val x = ix * R / n; val y = iy * R / n
      if (x * x + y * y <= R * R) {
        tot += 1
        val hit = bufs.exists { case (bx, by) =>
          (x - bx) * (x - bx) + (y - by) * (y - by) < r * r }
        if (!hit) in += 1
      }
    }
    val sampled = full * in / tot
    assert(math.abs(got - sampled) / full < 2e-3,
      s"slab $got vs grid $sampled")
  }

  test("erase arcs: covered + surviving is 360 degrees on real frames") {
    import spark.implicits._
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.zones(spark, sf)
    val buffers = graft.ops.Wnv.optOut(spark, sf)
      .select(col("x_ft"), col("y_ft"))
    case class Arc(zone_id: Int, start: Double, end: Double, len: Double)
    val arcs = EraseArcs.circleZoneArcsPerZone(zones,
        EraseArcs.diskMembers(buffers, graft.ops.Wnv.BufferFt))
      .as[(Int, Double, Double, Double)].collect()
      .map { case (z, s, e, l) => Arc(z, s, e, l) }
    assert(arcs.nonEmpty)
    // per zone: surviving total ∈ [0, 2π], arcs disjoint and ordered
    arcs.groupBy(_.zone_id).foreach { case (z, as) =>
      val sorted = as.sortBy(_.start)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.end <= b.start + 1e-12, s"zone $z")
        case _ =>
      }
      val total = as.map(_.len).sum
      assert(total >= -1e-9 && total <= 2 * math.Pi + 1e-9, s"zone $z")
    }
    // consistency with the selection semantics: a zone whose boundary
    // is fully erased must still be a zone (arcs absent != zone absent
    // in the selection outputs) — here we only require some zone
    // retains a full untouched circle OR a partial arc exists
    assert(arcs.exists(_.len > 0))
  }

  test("erase rings: closure, orientation, area conservation, determinism") {
    import graft.geo.EraseArcs
    val R = 1000.0; val r = 300.0
    def checkRings(bufs: Seq[(Double, Double)])
        : Seq[Seq[EraseArcs.RingPiece]] = {
      val rings = EraseArcs.eraseRings(R, bufs, r)
      val tol = 1e-6 * (R + r)
      rings.foreach { ring =>
        // closure: each piece's end is the next piece's start (cyclic)
        ring.indices.foreach { i =>
          val a = ring(i); val b = ring((i + 1) % ring.size)
          val (ex, ey) = a.end; val (sx, sy) = b.start
          assert(math.hypot(ex - sx, ey - sy) <= tol,
            s"open ring at piece $i of $ring")
        }
        // orientation: hole-only loops are CW (negative signed area),
        // loops containing a zone arc are CCW-positive
        val area = ring.map(_.signedArea).sum
        if (ring.exists(_.ccw)) assert(area > 0, s"outer ring CW: $ring")
        else assert(area < 0, s"hole ring CCW: $ring")
      }
      // area conservation: Σ ring signed areas == the slab reference
      val sum = rings.flatten.map(_.signedArea).sum
      val want = slabCircle(R, bufs, r)
      assert(math.abs(sum - want) <= 1e-6 * math.max(1.0, want),
        s"rings $sum vs SlabArea $want")
      rings
    }
    // untouched zone: one full-circle CCW ring of area πR²
    val r0 = checkRings(Nil)
    assert(r0.size === 1 && r0.head.size === 1 && r0.head.head.ccw)
    assert(math.abs(r0.head.head.signedArea - math.Pi * R * R) < 1e-6)
    // strictly interior buffer: CCW outer circle + CW full-circle hole
    val r1 = checkRings(Seq((0.0, 0.0)))
    assert(r1.size === 2)
    assert(r1.head.head.ccw && !r1(1).head.ccw)
    assert(math.abs(r1(1).head.signedArea + math.Pi * r * r) < 1e-6)
    // straddling buffer: ONE mixed two-piece ring (zone arc + hole arc)
    val r2 = checkRings(Seq((1000.0, 0.0)))
    assert(r2.size === 1 && r2.head.size === 2)
    assert(r2.head.map(_.ccw).toSet === Set(true, false))
    // two overlapping interior buffers: outer + ONE hole loop (3 arc
    // pieces — the right circle's surviving arc crosses angle 0 and
    // splits under the [0,2π) convention, but chains back into one
    // closed CW loop)
    val r3 = checkRings(Seq((-200.0, 0.0), (200.0, 0.0)))
    assert(r3.size === 2)
    assert(r3(1).size === 3 && r3(1).forall(p => !p.ccw))
    // the golden-angle 12-buffer configuration (multi-ring, mixed)
    val bufs = (1 to 12).map { i =>
      val a = i * 2.399963229728653
      val rad = 150.0 + (i * 173) % 1100
      (rad * math.cos(a), rad * math.sin(a))
    }
    checkRings(bufs)
    // deterministic output regardless of buffer arrival order
    assert(EraseArcs.eraseRings(R, bufs.reverse, r) ===
      EraseArcs.eraseRings(R, bufs, r))
  }

  test("erase rings: the distributed path equals a driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.zones(spark, sf)
    val buffers = graft.ops.Wnv.optOut(spark, sf)
      .select(col("x_ft"), col("y_ft"))
    val r = graft.ops.Wnv.BufferFt
    val got = EraseArcs.circleZoneRingsPerZone(zones,
        EraseArcs.diskMembers(buffers, r))
      .collect()
      .map(w => (w.getInt(0), w.getLong(1), w.getLong(2)) ->
        (w.getString(3), w.getBoolean(4), w.getDouble(5), w.getDouble(6),
          w.getDouble(7), w.getDouble(8), w.getDouble(9), w.getDouble(10)))
      .toMap
    val zs = zones.select(col("zone_id").cast("int"), col("cx_ft"),
        col("cy_ft"), col("radius_ft"))
      .collect().map(w => (w.getInt(0), w.getDouble(1), w.getDouble(2),
        w.getDouble(3)))
    val bs = buffers.collect().map(w => (w.getDouble(0), w.getDouble(1)))
    assert(got.keys.map(_._1).toSet === zs.map(_._1).toSet)
    zs.foreach { case (z, cx, cy, rr) =>
      val near = bs.toSeq.collect { case (x, y)
          if (x - cx) * (x - cx) + (y - cy) * (y - cy) < (rr + r) * (rr + r) =>
        (x - cx, y - cy)
      }
      val want = if (near.isEmpty)
        Seq(Seq(EraseArcs.RingPiece(ccw = true, 0.0, 0.0, rr, 0.0,
          2 * math.Pi)))
      else EraseArcs.eraseRings(rr, near, r)
      val wantRows = want.zipWithIndex.flatMap { case (ring, ri) =>
        val area = ring.map(_.signedArea).sum
        ring.zipWithIndex.map { case (p, pi) =>
          (z, ri.toLong, pi.toLong) ->
            (p.ccw, p.cx + cx, p.cy + cy, p.rho,
              p.s * 180.0 / math.Pi, p.e * 180.0 / math.Pi, area)
        }
      }
      assert(got.keys.count(_._1 == z) === wantRows.size, s"zone $z")
      wantRows.foreach { case (k, (ccw, wcx, wcy, wrho, ws, we, wa)) =>
        val (kind, gccw, gcx, gcy, grho, gs, ge, ga) = got(k)
        assert(gccw === ccw && kind === (if (ccw) "zone" else "hole"), k)
        Seq(gcx -> wcx, gcy -> wcy, grho -> wrho, gs -> ws, ge -> we)
          .foreach { case (g, w2) => assert(math.abs(g - w2) <= 1e-5, k) }
        assert(math.abs(ga - wa) <= 1e-5 * math.max(1.0, math.abs(wa)), k)
      }
    }
  }

  test("polygon erase: hand cases, winding invariance, grid sampling") {
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val pent = Seq((-900.0, -700.0), (800.0, -1000.0), (1100.0, 200.0),
      (200.0, 1000.0), (-1000.0, 500.0))
    val bufs = (1 to 12).map { i =>
      val a = i * 2.399963229728653
      val rad = 150.0 + (i * 173) % 1000
      (rad * math.cos(a), rad * math.sin(a))
    }
    // the production per-zone area and the slab reference, same cases
    Seq[(Ring, Seq[(Double, Double)], Double) => Double](
        (z, ds, r) => EraseArcs.zoneArea(z, Nil, ds, r),
        (z, ds, r) => slab(z, disks = ds, r = r)).foreach { kernel =>
      val r = 300.0
      def area(bufs: (Double, Double)*): Double = kernel(square, bufs, r)
      val full = 4e6
      assert(math.abs(area() - full) < 1e-6)
      assert(math.abs(area((9000.0, 0.0)) - full) < 1e-6) // disjoint disk
      // interior hole → full − πr²
      assert(math.abs(area((0.0, 0.0)) - (full - math.Pi * r * r)) < 1e-6)
      // duplicate centers erase once, not twice
      assert(math.abs(area((100.0, 50.0), (100.0, 50.0)) -
        (full - math.Pi * r * r)) < 1e-6)
      // winding invariance: CW input normalizes
      assert(math.abs(kernel(square.reverse, Seq((0.0, 0.0)), r) -
        (full - math.Pi * r * r)) < 1e-6)
      // center ON an edge → exactly half the disk erased
      assert(math.abs(area((1000.0, 0.0)) -
        (full - math.Pi * r * r / 2)) < 1e-6)
      // polygon swallowed by a huge disk → empty region
      assert(kernel(Seq((-100.0, -100.0), (100.0, -100.0), (100.0, 100.0),
        (-100.0, 100.0)), Seq((0.0, 0.0)), 500.0) === 0.0)
      // pseudo-random configuration over an irregular convex pentagon
      // vs grid sampling (the same 0.2% gate as the circle case)
      val got = kernel(pent, bufs, r)
      // half-plane point-in-polygon for the sampler (pent is CCW)
      def inside(x: Double, y: Double): Boolean =
        pent.indices.forall { i =>
          val (ax, ay) = pent(i); val (bx, by) = pent((i + 1) % pent.size)
          (bx - ax) * (y - ay) - (by - ay) * (x - ax) >= 0
        }
      val n = 600
      var in = 0; var tot = 0
      for (ix <- -n to n; iy <- -n to n) {
        val x = ix * 1100.0 / n; val y = iy * 1100.0 / n
        if (inside(x, y)) {
          tot += 1
          val hit = bufs.exists { case (bx, by) =>
            (x - bx) * (x - bx) + (y - by) * (y - by) < r * r }
          if (!hit) in += 1
        }
      }
      val pentArea = math.abs(pent.indices.map { i =>
        val (x1, y1) = pent(i); val (x2, y2) = pent((i + 1) % pent.size)
        x1 * y2 - x2 * y1
      }.sum) / 2
      val sampled = pentArea * in / tot
      assert(math.abs(got - sampled) / pentArea < 2e-3,
        s"area $got vs grid $sampled")
    }
  }

  test("polygon erase: a repeated vertex fails loudly, not as NaN area") {
    import graft.geo.EraseArcs
    val bad = Seq((0.0, 0.0), (0.0, 0.0), (1000.0, 0.0), (500.0, 800.0))
    val e = intercept[IllegalArgumentException] {
      EraseArcs.zoneArea(bad, Nil, Seq((100.0, 100.0)), 300.0)
    }
    assert(e.getMessage.contains("degenerate"))
  }

  test("polygon erase: fine regular polygon converges to the circle kernel") {
    import graft.geo.EraseArcs
    val R = 1000.0; val r = 300.0
    val bufs = (1 to 8).map { i =>
      val a = i * 2.399963229728653
      val rad = 200.0 + (i * 211) % 900
      (rad * math.cos(a), rad * math.sin(a))
    }
    val ngon = (0 until 512).map { k =>
      val a = 2 * math.Pi * k / 512
      (R * math.cos(a), R * math.sin(a))
    }
    val got = EraseArcs.zoneArea(ngon, Nil, bufs, r)
    val want = slabCircle(R, bufs, r)
    // the inscribed 512-gon underestimates the disk by ~R²π³/(3·512²)
    // relative ≈ 2e-5 — well inside the 1e-3 gate
    assert(math.abs(got - want) / want < 1e-3, s"ngon $got vs circle $want")
  }

  /** Surviving area of each circle zone ([[SlabArea]] on the buffers
    * within R + r of its center). */
  private def circleAreas(bs: Seq[(Double, Double)], r: Double)
      : Map[Int, Double] =
    graft.ops.Wnv.zones(spark, sf).select(col("zone_id").cast("int"),
        col("cx_ft"), col("cy_ft"), col("radius_ft")).collect()
      .map { w =>
        val (cx, cy, rr) = (w.getDouble(1), w.getDouble(2), w.getDouble(3))
        val near = bs.collect { case (x, y)
            if (x - cx) * (x - cx) + (y - cy) * (y - cy) < (rr + r) * (rr + r) =>
          (x - cx, y - cy)
        }
        w.getInt(0) -> slabCircle(rr, near, r)
      }.toMap

  /** Rings of line pieces only (the polygon-subtrahend cells). */
  private def lineRings(rings: Seq[Seq[graft.geo.EraseArcs.BoundaryPiece]])
      : Seq[Seq[graft.geo.EraseArcs.LinePiece]] =
    rings.map(_.map {
      case lp: graft.geo.EraseArcs.LinePiece => lp
      case p => fail(s"arc piece in a polygon-subtrahend ring: $p")
    })

  /** Each line-only ring's signed area equals ± the JTS area of its
    * vertex chain within 1e-9 relative, + exactly when JTS reads the
    * chain as CCW. */
  private def assertRingAreasMatchJts(
      rings: Seq[Seq[graft.geo.EraseArcs.LinePiece]]): Unit = {
    val gf = new GeometryFactory()
    rings.foreach { ring =>
      val chain = (ring.map(_.start) :+ ring.head.start)
        .map { case (x, y) => new Coordinate(x, y) }.toArray
      val jts = gf.createPolygon(chain).getArea
      val want = if (Orientation.isCCW(chain)) jts else -jts
      val got = ring.map(_.signedArea).sum
      assert(math.abs(got - want) <= 1e-9 * jts,
        s"ring area $got vs JTS $want: $ring")
    }
  }

  test("polygon erase: the distributed path equals a driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.polygonZones(spark, sf)
    val buffers = graft.ops.Wnv.optOut(spark, sf)
      .select(col("x_ft"), col("y_ft"))
    val r = graft.ops.Wnv.BufferFt
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.diskMembers(buffers, r))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"))
      .collect().map { w =>
        (w.getInt(0), w.getSeq[org.apache.spark.sql.Row](1)
          .map(v => (v.getDouble(0), v.getDouble(1))))
      }
    val bs = buffers.collect().map(w => (w.getDouble(0), w.getDouble(1)))
    assert(got.keySet === zs.map(_._1).toSet)
    zs.foreach { case (z, vs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = bs.toSeq.filter { case (x, y) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) < (rad + r) * (rad + r) }
      val want = slab(vs, disks = near, r = r)
      assert(math.abs(got(z) - want) <= 1e-9 * math.max(1.0, want),
        s"zone $z: spark ${got(z)} vs replay $want")
    }
    // the diamond is inscribed in the circle: its surviving area can
    // never exceed the circle zone's
    val circ = circleAreas(bs.toSeq, r)
    got.foreach { case (z, a) =>
      assert(a <= circ(z) + 1e-6, s"zone $z diamond $a > circle ${circ(z)}")
    }
  }

  // ---- round 9: general (concave, holed) polygon Erase ---------------

  private val star = Seq((1000.0, 0.0), (350.0, 350.0), (0.0, 1000.0),
    (-350.0, 350.0), (-1000.0, 0.0), (-350.0, -350.0), (0.0, -1000.0),
    (350.0, -350.0))
  private val holeSq = Seq((150.0, 150.0), (-150.0, 150.0),
    (-150.0, -150.0), (150.0, -150.0))
  private def ringArea(vs: Seq[(Double, Double)]): Double =
    math.abs(vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
      x1 * y2 - x2 * y1
    }.sum) / 2
  // crossing-number point-in-polygon (concave-safe)
  private def inRing(vs: Seq[(Double, Double)], x: Double, y: Double)
      : Boolean = {
    var c = false
    vs.indices.foreach { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
      if ((y1 > y) != (y2 > y) &&
        x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)) c = !c
    }
    c
  }

  test("concave erase: hand cases, hole algebra, winding invariance") {
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val lshape = Seq((0.0, 0.0), (2000.0, 0.0), (2000.0, 1000.0),
      (1000.0, 1000.0), (1000.0, 2000.0), (0.0, 2000.0))
    // the production per-zone area and the slab reference, same cases
    Seq[(Ring, Seq[Ring], Seq[(Double, Double)], Double) => Double](
        (z, hs, ds, r) => EraseArcs.zoneArea(z, hs, ds, r),
        (z, hs, ds, r) => slab(z, hs, disks = ds, r = r)).foreach { area =>
      val r = 300.0
      // the two agree on convex input
      Seq(Seq((0.0, 0.0)), Seq((900.0, 200.0), (-300.0, 700.0)))
        .foreach { bufs =>
          assert(math.abs(area(square, Nil, bufs, r) -
            slab(square, disks = bufs, r = r)) < 1e-6)
        }
      // L-shape minus a disk wholly inside one arm
      assert(math.abs(area(lshape, Nil, Seq((500.0, 500.0)), r) -
        (3e6 - math.Pi * r * r)) < 1e-6)
      // no buffers: outer − hole exactly
      assert(math.abs(area(star, Seq(holeSq), Nil, r) -
        (ringArea(star) - ringArea(holeSq))) < 1e-9 * ringArea(star))
      // a disk strictly inside the hole erases NOTHING: the outer loss
      // and the hole loss cancel exactly (disk ⊆ hole ⊆ outer)
      val tiny = 100.0
      assert(math.abs(area(star, Seq(holeSq), Seq((0.0, 0.0)), tiny) -
        (ringArea(star) - ringArea(holeSq))) < 1e-6)
      // winding invariance: both rings reversed
      assert(math.abs(
        area(star.reverse, Seq(holeSq.reverse), Seq((600.0, 0.0)), r) -
        area(star, Seq(holeSq), Seq((600.0, 0.0)), r)) < 1e-6)
    }
  }

  test("concave erase: grid sampling on the star-with-hole") {
    import graft.geo.EraseArcs
    val r = 300.0
    val bufs = (1 to 10).map { i =>
      val a = i * 2.399963229728653
      val rad = 100.0 + (i * 173) % 900
      (rad * math.cos(a), rad * math.sin(a))
    }
    val got = EraseArcs.zoneArea(star, Seq(holeSq), bufs, r)
    val n = 600
    var in = 0; var tot = 0
    for (ix <- -n to n; iy <- -n to n) {
      val x = ix * 1000.0 / n; val y = iy * 1000.0 / n
      if (inRing(star, x, y) && !inRing(holeSq, x, y)) {
        tot += 1
        val hit = bufs.exists { case (bx, by) =>
          (x - bx) * (x - bx) + (y - by) * (y - by) < r * r }
        if (!hit) in += 1
      }
    }
    val regionArea = ringArea(star) - ringArea(holeSq)
    val sampled = regionArea * in / tot
    Seq(got, slab(star, Seq(holeSq), disks = bufs, r = r)).foreach { a =>
      assert(math.abs(a - sampled) / regionArea < 2e-3,
        s"area $a vs grid $sampled")
    }
  }

  test("concave erase: fine n-gon annulus converges to circle-kernel difference") {
    import graft.geo.EraseArcs
    val R = 1000.0; val rHole = 400.0; val r = 300.0
    val bufs = (1 to 8).map { i =>
      val a = i * 2.399963229728653
      val rad = 200.0 + (i * 211) % 900
      (rad * math.cos(a), rad * math.sin(a))
    }
    def ngon(rad: Double, k: Int): Seq[(Double, Double)] =
      (0 until k).map { j =>
        val a = 2 * math.Pi * j / k
        (rad * math.cos(a), rad * math.sin(a))
      }
    val got = EraseArcs.zoneArea(
      ngon(R, 512), Seq(ngon(rHole, 256)), bufs, r)
    val want = slabCircle(R, bufs, r) - slabCircle(rHole, bufs, r)
    assert(math.abs(got - want) / want < 1e-3,
      s"annulus $got vs circle difference $want")
  }

  test("concave erase: the distributed path equals a driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.starZones(spark, sf)
    val buffers = graft.ops.Wnv.optOut(spark, sf)
      .select(col("x_ft"), col("y_ft"))
    val r = graft.ops.Wnv.BufferFt
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.diskMembers(buffers, r))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"),
        col("holes"))
      .collect().map { w =>
        (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1)),
          w.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](2))
      }
    val bs = buffers.collect().map(w => (w.getDouble(0), w.getDouble(1)))
    assert(got.keySet === zs.map(_._1).toSet)
    zs.foreach { case (z, vs, hsRaw) =>
      val hs = hsRaw.map(h => ring(h.toSeq))
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = bs.toSeq.filter { case (x, y) =>
        (x - cx) * (x - cx) + (y - cy) * (y - cy) < (rad + r) * (rad + r) }
      val want = slab(vs, hs, disks = near, r = r)
      assert(math.abs(got(z) - want) <= 1e-9 * math.max(1.0, want),
        s"zone $z: spark ${got(z)} vs replay $want")
    }
    // the star is inscribed in the circle zone: surviving area can
    // never exceed the circle's
    val circ = circleAreas(bs.toSeq, r)
    got.foreach { case (z, a) =>
      assert(a <= circ(z) + 1e-6, s"zone $z star $a > circle ${circ(z)}")
    }
  }

  // ---- round 12: POLYGON subtrahends (general Erase contract) --------

  test("polygon-subtrahend erase: rectangle algebra is exact") {
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    def sq(cx: Double, cy: Double, hw: Double) = Seq(
      (cx - hw, cy - hw), (cx + hw, cy - hw),
      (cx + hw, cy + hw), (cx - hw, cy + hw))
    // the production per-zone area and the slab reference, same cases
    Seq[Seq[Ring] => Double](subs => EraseArcs.zoneArea(square, subs),
        subs => slab(square, subs = subs)).foreach { kernel =>
      def area(subs: Seq[(Double, Double)]*): Double = kernel(subs)
      val full = 4e6
      assert(math.abs(area() - full) < 1e-6)
      // disjoint subtrahend leaves the zone whole
      assert(math.abs(area(sq(9000, 0, 300)) - full) < 1e-6)
      // centered interior square: a² − b² exactly
      assert(math.abs(area(sq(0, 0, 300)) - (full - 600.0 * 600.0)) < 1e-6)
      // duplicate subtrahends erase once (union semantics)
      assert(math.abs(area(sq(0, 0, 300), sq(0, 0, 300)) -
        (full - 600.0 * 600.0)) < 1e-6)
      // corner overlap: only the intersecting rectangle is erased
      assert(math.abs(area(sq(1000, 1000, 400)) -
        (full - 400.0 * 400.0)) < 1e-6)
      // two OVERLAPPING interior squares: inclusion-exclusion
      val a1 = sq(0, 0, 300); val a2 = sq(200, 0, 300)
      val inter = 400.0 * 600.0
      assert(math.abs(area(a1, a2) -
        (full - (360000.0 + 360000.0 - inter))) < 1e-6)
      // subtrahend covering the zone entirely -> empty
      assert(area(sq(0, 0, 5000)) === 0.0)
      // winding invariance: CW subtrahend input normalizes
      assert(math.abs(area(sq(0, 0, 300).reverse) -
        (full - 600.0 * 600.0)) < 1e-6)
      // subtrahend poking OUT of the zone: only the inside part erases
      assert(math.abs(area(sq(1000, 0, 300)) -
        (full - 300.0 * 600.0)) < 1e-6)
    }
  }

  test("polygon-subtrahend erase: rotated / re-wound duplicates erase once") {
    // r12 ADVICE: representation-level distinct missed a duplicate ring
    // given through a rotated vertex order or opposite winding — each
    // copy then saw the other covering all its edges and the union
    // boundary vanished (area inflated back toward the full zone).
    // canonicalRing (CCW + rotate-to-smallest-vertex) makes them equal.
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val base = Seq((-300.0, -300.0), (300.0, -300.0),
      (300.0, 300.0), (-300.0, 300.0))
    val rotated = base.drop(2) ++ base.take(2)       // same ring, shifted start
    val rewound = base.reverse                       // same ring, CW
    val rotRewound = rotated.reverse
    val want = 4e6 - 600.0 * 600.0
    for (dup <- Seq(rotated, rewound, rotRewound)) {
      val got = EraseArcs.zoneArea(square, Seq(base, dup))
      assert(math.abs(got - want) < 1e-6,
        s"kernel: duplicate variant not canonicalized (got $got, want $want)")
      assert(math.abs(slab(square, subs = Seq(base, dup)) - want) < 1e-6)
    }
    // distributed path: the per-zone kernel canonicalizes and
    // deduplicates the zone's rings
    import spark.implicits._
    val zones = Seq((1, square)).toDF("zone_id", "vertices")
    val subs = Seq(base, rotated, rewound).toDF("vertices")
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1) - want) < 1e-6,
      s"distributed: duplicate variants not canonicalized (got ${got(1)})")
  }

  test("polygon-subtrahend erase: grid sampling over rotated subtrahends") {
    import graft.geo.EraseArcs
    val pent = Seq((-900.0, -700.0), (800.0, -1000.0), (1100.0, 200.0),
      (200.0, 1000.0), (-1000.0, 500.0))
    // rotated squares and triangles in pseudo-random positions
    val subs = (1 to 10).map { i =>
      val a = i * 2.399963229728653
      val rad = 150.0 + (i * 173) % 900
      val cx = rad * math.cos(a); val cy = rad * math.sin(a)
      val rot = i * 0.7; val hw = 120.0 + (i * 37) % 180
      if (i % 2 == 0)
        (0 until 4).map { k =>
          val b = rot + math.Pi / 2 * k
          (cx + hw * math.cos(b), cy + hw * math.sin(b))
        }
      else
        (0 until 3).map { k =>
          val b = rot + 2 * math.Pi / 3 * k
          (cx + hw * math.cos(b), cy + hw * math.sin(b))
        }
    }
    val got = EraseArcs.zoneArea(pent, subs)
    def insideConvex(p: Seq[(Double, Double)], x: Double, y: Double) =
      p.indices.forall { i =>
        val (ax, ay) = p(i); val (bx, by) = p((i + 1) % p.size)
        (bx - ax) * (y - ay) - (by - ay) * (x - ax) >= 0
      }
    val n = 600
    var in = 0; var tot = 0
    for (ix <- -n to n; iy <- -n to n) {
      val x = ix * 1100.0 / n; val y = iy * 1100.0 / n
      if (insideConvex(pent, x, y)) {
        tot += 1
        if (!subs.exists(s => insideConvex(s, x, y))) in += 1
      }
    }
    val pentArea = ringArea(pent)
    val sampled = pentArea * in / tot
    Seq(got, slab(pent, subs = subs)).foreach { a =>
      assert(math.abs(a - sampled) / pentArea < 2e-3,
        s"area $a vs grid $sampled")
    }
  }

  test("polygon-subtrahend erase: fine n-gon subtrahend converges to the disk kernel") {
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val r = 300.0
    val centers = Seq((100.0, 50.0), (-400.0, 300.0), (950.0, -200.0))
    val subs = centers.map { case (cx, cy) =>
      (0 until 512).map { k =>
        val a = 2 * math.Pi * k / 512
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
    }
    val got = EraseArcs.zoneArea(square, subs)
    val want = slab(square, disks = centers, r = r)
    assert(math.abs(got - want) / want < 1e-3, s"ngon $got vs disk $want")
  }

  test("polygon-subtrahend erase: concave zone reduction and hole algebra") {
    import graft.geo.EraseArcs
    // L-shaped (concave) zone: 3000x2000 minus the top-right 1500x1000
    val ell = Seq((0.0, 0.0), (3000.0, 0.0), (3000.0, 1000.0),
      (1500.0, 1000.0), (1500.0, 2000.0), (0.0, 2000.0))
    def sq(cx: Double, cy: Double, hw: Double) = Seq(
      (cx - hw, cy - hw), (cx + hw, cy - hw),
      (cx + hw, cy + hw), (cx - hw, cy + hw))
    val ellArea = 3000.0 * 1000.0 + 1500.0 * 1000.0
    // interior square in the lower arm
    val got = EraseArcs.zoneArea(ell, Seq(sq(2200, 500, 200)))
    assert(math.abs(got - (ellArea - 400.0 * 400.0)) < 1e-6)
    // square straddling the concave notch: only the in-zone half erases
    val got2 = EraseArcs.zoneArea(ell, Seq(sq(1500, 1500, 200)))
    assert(math.abs(got2 - (ellArea - 200.0 * 400.0)) < 1e-6)
    // hole algebra: a hole and a subtrahend in disjoint regions
    val hole = sq(500, 500, 150)
    val got3 = EraseArcs.zoneArea(ell, Seq(hole, sq(2200, 500, 200)))
    assert(math.abs(got3 - (ellArea - 300.0 * 300.0 - 400.0 * 400.0)) < 1e-6)
    // the slab reference on the same cases
    assert(math.abs(slab(ell, subs = Seq(sq(2200, 500, 200))) - got) < 1e-6)
    assert(math.abs(slab(ell, subs = Seq(sq(1500, 1500, 200))) - got2) < 1e-6)
    assert(math.abs(slab(ell, Seq(hole), Seq(sq(2200, 500, 200))) - got3)
      < 1e-6)
    // convex agreement: the production area equals the slab reference
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val subs = Seq(sq(100, 50, 300), sq(-300, 200, 250))
    assert(math.abs(
      EraseArcs.zoneArea(square, subs) - slab(square, subs = subs)) < 1e-6)
  }

  test("polygon-subtrahend erase: the distributed path equals a driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.polygonZones(spark, sf)
    val subs = graft.ops.Wnv.parcelFootprints(spark, sf)
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"))
      .collect().map(w => (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1))))
    val ss = subs.select(col("vertices")).collect()
      .map(w => ring(w.getSeq[org.apache.spark.sql.Row](0)))
    assert(got.keySet === zs.map(_._1).toSet)
    assert(ss.nonEmpty, "no parcel footprints at this sf")
    zs.foreach { case (z, vs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = ss.filter { s =>
        val sx = (s.map(_._1).min + s.map(_._1).max) / 2
        val sy = (s.map(_._2).min + s.map(_._2).max) / 2
        val sr = math.hypot(s.map(_._1).max - s.map(_._1).min,
          s.map(_._2).max - s.map(_._2).min) / 2
        (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) < (rad + sr) * (rad + sr)
      }.toSeq
      val want = slab(vs, subs = near)
      assert(math.abs(got(z) - want) <= 1e-9 * math.max(1.0, want),
        s"zone $z: spark ${got(z)} vs replay $want")
      // monotone: polygon-subtrahend area never exceeds the full zone
      assert(got(z) <= ringArea(vs) + 1e-6)
    }
  }

  test("concave-zone polygon-subtrahend erase: the distributed path " +
      "equals a driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.starZones(spark, sf)
    val subs = graft.ops.Wnv.parcelFootprints(spark, sf)
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"),
        col("holes"))
      .collect().map { w =>
        (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1)),
          w.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](2)
            .map(h => ring(h.toSeq)))
      }
    val ss = subs.select(col("vertices")).collect()
      .map(w => ring(w.getSeq[org.apache.spark.sql.Row](0)))
    assert(got.keySet === zs.map(_._1).toSet)
    assert(ss.nonEmpty, "no parcel footprints at this sf")
    zs.foreach { case (z, vs, hs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = ss.filter { s0 =>
        val sx = (s0.map(_._1).min + s0.map(_._1).max) / 2
        val sy = (s0.map(_._2).min + s0.map(_._2).max) / 2
        val sr = math.hypot(s0.map(_._1).max - s0.map(_._1).min,
          s0.map(_._2).max - s0.map(_._2).min) / 2
        (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) < (rad + sr) * (rad + sr)
      }.toSeq
      val want = slab(vs, hs, near)
      assert(math.abs(got(z) - want) <= 1e-9 * math.max(1.0, want),
        s"zone $z: spark ${got(z)} vs replay $want")
      // monotone: surviving area never exceeds the un-erased region
      assert(got(z) <= ringArea(vs) - hs.map(ringArea).sum + 1e-6)
      assert(got(z) >= -1e-12)
    }
  }

  test("polygon-zone area: a wholly covered zone reads 0, the others " +
      "keep their exact area") {
    import graft.geo.EraseArcs
    import spark.implicits._
    def sq(cx: Double, cy: Double, hw: Double) = Seq(
      (cx - hw, cy - hw), (cx + hw, cy - hw),
      (cx + hw, cy + hw), (cx - hw, cy + hw))
    val zones = Seq(
      (1, sq(0, 0, 1000), Seq(sq(0, 0, 150))),
      (2, sq(20000, 0, 1000), Seq(sq(20000, 0, 150))),
      (3, sq(40000, 0, 1000), Seq.empty[Seq[(Double, Double)]]))
      .toDF("zone_id", "vertices", "holes")
    // one footprint covers zone 1 (and its hole) entirely
    val subs = Seq(sq(0, 0, 1500)).toDF("vertices")
    val got = EraseArcs.polyZoneAreaPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect().map(row => row.getInt(0) -> row.getDouble(1)).toMap
    assert(got.keySet === Set(1, 2, 3))
    assert(got(1) === 0.0)
    assert(math.abs(got(2) - (4e6 - 300.0 * 300.0)) < 1e-6, s"zone 2 ${got(2)}")
    assert(math.abs(got(3) - 4e6) < 1e-6, s"zone 3 ${got(3)}")
  }

  test("concave-zone rings: closure, orientation, conservation vs the " +
      "triangulation kernel, determinism") {
    import graft.geo.EraseArcs
    def sq(cx: Double, cy: Double, hw: Double) = Seq(
      (cx - hw, cy - hw), (cx + hw, cy - hw),
      (cx + hw, cy + hw), (cx - hw, cy + hw))
    def checkRings(outer: Seq[(Double, Double)],
        holes: Seq[Seq[(Double, Double)]],
        subs: Seq[Seq[(Double, Double)]])
        : Seq[Seq[EraseArcs.LinePiece]] = {
      val rings = lineRings(EraseArcs.polyZoneRings(outer, holes ++ subs))
      val scale = (outer ++ holes.flatten ++ subs.flatten)
        .flatMap(p => Seq(p._1.abs, p._2.abs)).max
      val tol = 1e-9 * math.max(1.0, scale)
      rings.foreach { ring =>
        ring.indices.foreach { i =>
          val a = ring(i); val b = ring((i + 1) % ring.size)
          val (ex, ey) = a.end; val (sx, sy) = b.start
          assert(math.hypot(ex - sx, ey - sy) <= tol,
            s"open ring at piece $i of $ring")
        }
        val area = ring.map(_.signedArea).sum
        if (ring.exists(_.kind == "zone"))
          assert(area > 0, s"outer ring CW: $ring")
        else assert(area < 0, s"hole ring CCW: $ring")
      }
      assertRingAreasMatchJts(rings)
      // conservation against the slab reference
      val sum = rings.flatten.map(_.signedArea).sum
      val want = slab(outer, holes, subs)
      assert(math.abs(sum - want) <= 1e-9 * math.max(1.0, want),
        s"rings $sum vs SlabArea $want")
      // determinism under member order and winding
      val again = EraseArcs.polyZoneRings(outer,
        holes.map(_.reverse) ++ subs.reverse.map(_.reverse))
      assert(again === rings, "rings depend on member order/winding")
      rings
    }
    // L-shaped zone: the concave notch splits a straddling square
    val ell = Seq((0.0, 0.0), (3000.0, 0.0), (3000.0, 1000.0),
      (1500.0, 1000.0), (1500.0, 2000.0), (0.0, 2000.0))
    // untouched: one CCW ring of the 6 edges
    val r0 = checkRings(ell, Nil, Nil)
    assert(r0.size === 1 && r0.head.size === 6 &&
      r0.head.forall(_.kind == "zone"))
    // hole only: CCW outer + the hole's CW 4-piece ring
    val r1 = checkRings(ell, Seq(sq(500, 500, 150)), Nil)
    assert(r1.size === 2 && r1(1).forall(_.kind == "sub") &&
      r1(1).size === 4)
    // square straddling the concave notch: ONE mixed outer ring (only
    // the in-zone half of the square erases)
    val r2 = checkRings(ell, Nil, Seq(sq(1500, 1500, 200)))
    assert(r2.size === 1)
    assert(r2.head.map(_.kind).toSet === Set("zone", "sub"))
    // hole + interior subtrahend in disjoint regions: three rings
    val r3 = checkRings(ell, Seq(sq(500, 500, 150)),
      Seq(sq(2200, 500, 200)))
    assert(r3.size === 3)
    // subtrahend OVERLAPPING the hole (offset in BOTH axes — equal
    // extents would make their edges collinear, which is the declared
    // tangency-degenerate domain and fails loudly): one CW cavity
    val r4 = checkRings(ell, Seq(sq(500, 500, 150)),
      Seq(sq(700, 560, 150)))
    assert(r4.size === 2, s"expected outer + one merged cavity: $r4")
    // a member edge crossing the concave notch REGION twice: a thin
    // horizontal bar through x ∈ [1000, 2500] at y ≈ 1500 lies inside
    // the zone only for x < 1500 — entered and left across the notch
    val bar = Seq((1000.0, 1400.0), (2500.0, 1400.0),
      (2500.0, 1600.0), (1000.0, 1600.0))
    checkRings(ell, Nil, Seq(bar))
  }

  test("concave-zone rings: the distributed path equals a driver-side " +
      "replay and conserves the distributed area") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.starZones(spark, sf)
    val subs = graft.ops.Wnv.parcelFootprints(spark, sf)
    val got = EraseArcs.polyZoneRingsPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
        r.getDouble(13)))
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"),
        col("holes"))
      .collect().map { w =>
        (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1)),
          w.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](2)
            .map(h => ring(h.toSeq)))
      }
    val ss = subs.select(col("vertices")).collect()
      .map(w => ring(w.getSeq[org.apache.spark.sql.Row](0)))
    val byZone = got.groupBy(_._1)
    assert(byZone.keySet === zs.map(_._1).toSet)
    val scale = 4e6 // state-plane feet
    zs.foreach { case (z, vs, hs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = ss.filter { s0 =>
        val sx = (s0.map(_._1).min + s0.map(_._1).max) / 2
        val sy = (s0.map(_._2).min + s0.map(_._2).max) / 2
        val sr = math.hypot(s0.map(_._1).max - s0.map(_._1).min,
          s0.map(_._2).max - s0.map(_._2).min) / 2
        (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) < (rad + sr) * (rad + sr)
      }.toSeq
      val want = lineRings(EraseArcs.polyZoneRings(vs, hs ++ near))
      val gotRings = byZone(z).sortBy(r => (r._2, r._3))
        .groupBy(_._2).toSeq.sortBy(_._1).map(_._2)
      assert(gotRings.size === want.size, s"zone $z ring count")
      gotRings.zip(want).foreach { case (g, w) =>
        assert(g.size === w.size, s"zone $z piece count")
        g.zip(w).foreach { case (gp, wp) =>
          assert(gp._4 === wp.kind, s"zone $z kind")
          assert(math.hypot(gp._5 - wp.x1, gp._6 - wp.y1) <= 1e-9 * scale,
            s"zone $z piece start")
          assert(math.hypot(gp._7 - wp.x2, gp._8 - wp.y2) <= 1e-9 * scale,
            s"zone $z piece end")
        }
      }
      // Σ ring signed areas == the distributed AREA plan's value
      val sums = byZone(z).groupBy(_._2).map(_._2.head._9).sum
      val area = slab(vs, hs, near)
      assert(math.abs(sums - area) <= 1e-9 * math.max(1.0, area),
        s"zone $z rings $sums vs area $area")
    }
  }

  test("polygon-subtrahend rings: closure, orientation, area " +
      "conservation, determinism") {
    import graft.geo.EraseArcs
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    def sq(cx: Double, cy: Double, hw: Double) = Seq(
      (cx - hw, cy - hw), (cx + hw, cy - hw),
      (cx + hw, cy + hw), (cx - hw, cy + hw))
    def checkRings(zone: Seq[(Double, Double)],
        subs: Seq[Seq[(Double, Double)]])
        : Seq[Seq[EraseArcs.LinePiece]] = {
      val rings = lineRings(EraseArcs.polyZoneRings(zone, subs))
      val scale = (zone ++ subs.flatten)
        .flatMap(p => Seq(p._1.abs, p._2.abs)).max
      val tol = 1e-9 * math.max(1.0, scale)
      rings.foreach { ring =>
        // closure: each piece's end is the next piece's start (cyclic)
        ring.indices.foreach { i =>
          val a = ring(i); val b = ring((i + 1) % ring.size)
          val (ex, ey) = a.end; val (sx, sy) = b.start
          assert(math.hypot(ex - sx, ey - sy) <= tol,
            s"open ring at piece $i of $ring")
        }
        // orientation: hole-only loops are CW (negative signed area),
        // loops containing a zone piece are CCW-positive
        val area = ring.map(_.signedArea).sum
        if (ring.exists(_.kind == "zone"))
          assert(area > 0, s"outer ring CW: $ring")
        else assert(area < 0, s"hole ring CCW: $ring")
      }
      assertRingAreasMatchJts(rings)
      // area conservation: Σ ring signed areas == the slab reference
      val sum = rings.flatten.map(_.signedArea).sum
      val want = slab(zone, subs = subs)
      assert(math.abs(sum - want) <= 1e-9 * math.max(1.0, want),
        s"rings $sum vs SlabArea $want")
      rings
    }
    // untouched zone: ONE CCW ring of the 4 full edges
    val r0 = checkRings(square, Nil)
    assert(r0.size === 1 && r0.head.size === 4 &&
      r0.head.forall(_.kind == "zone"))
    assert(math.abs(r0.head.map(_.signedArea).sum - 4e6) < 1e-6)
    // strictly interior subtrahend: CCW outer + a CW 4-piece hole of
    // exactly the subtrahend's (reversed) boundary
    val r1 = checkRings(square, Seq(sq(0, 0, 300)))
    assert(r1.size === 2)
    assert(r1.head.forall(_.kind == "zone") &&
      r1(1).forall(_.kind == "sub") && r1(1).size === 4)
    assert(math.abs(r1(1).map(_.signedArea).sum + 600.0 * 600.0) < 1e-6)
    // subtrahend poking OUT across one zone edge: ONE mixed ring
    // (zone-edge pieces + the subtrahend's interior pieces)
    val r2 = checkRings(square, Seq(sq(1000, 0, 300)))
    assert(r2.size === 1)
    assert(r2.head.map(_.kind).toSet === Set("zone", "sub"))
    assert(math.abs(r2.head.map(_.signedArea).sum -
      (4e6 - 300.0 * 600.0)) < 1e-6)
    // two OVERLAPPING interior squares (generic offset — aligned
    // twins would share collinear boundary segments, the declared
    // tangency-degenerate case the stitcher rejects loudly): outer +
    // ONE merged hole of inclusion-exclusion area
    val r3 = checkRings(square, Seq(sq(0, 0, 300), sq(200, 100, 250)))
    assert(r3.size === 2)
    assert(r3(1).forall(_.kind == "sub"))
    assert(math.abs(r3(1).map(_.signedArea).sum +
      (360000.0 + 250000.0 - 350.0 * 450.0)) < 1e-6)
    // a pseudo-random rotated-polygon configuration (multi-ring)
    val pent = Seq((-900.0, -700.0), (800.0, -1000.0), (1100.0, 200.0),
      (200.0, 1000.0), (-1000.0, 500.0))
    val subs = (1 to 10).map { i =>
      val a = i * 2.399963229728653
      val rad = 150.0 + (i * 173) % 900
      val cx = rad * math.cos(a); val cy = rad * math.sin(a)
      val rot = i * 0.7; val hw = 120.0 + (i * 37) % 180
      val n = if (i % 2 == 0) 4 else 3
      (0 until n).map { k =>
        val b = rot + 2 * math.Pi / n * k
        (cx + hw * math.cos(b), cy + hw * math.sin(b))
      }
    }
    checkRings(pent, subs)
    // deterministic output regardless of subtrahend arrival order /
    // winding / vertex rotation
    val canon = EraseArcs.polyZoneRings(pent, subs)
    assert(EraseArcs.polyZoneRings(pent, subs.reverse) === canon)
    assert(EraseArcs.polyZoneRings(pent,
      subs.map(_.reverse)) === canon)
    assert(EraseArcs.polyZoneRings(pent,
      subs.map(s => s.drop(1) ++ s.take(1))) === canon)
  }

  test("polygon-subtrahend rings: the distributed path equals a " +
      "driver-side replay") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.polygonZones(spark, sf)
    val subs = graft.ops.Wnv.parcelFootprints(spark, sf)
    val got = EraseArcs.polyZoneRingsPerZone(zones,
        EraseArcs.ringMembers(subs))
      .collect()
      .map(w => (w.getInt(0), w.getLong(1), w.getLong(2)) ->
        (w.getString(3), w.getDouble(4), w.getDouble(5), w.getDouble(6),
          w.getDouble(7), w.getDouble(13)))
      .toMap
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"))
      .collect()
      .map(w => (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1))))
    val ss = subs.select(col("vertices")).collect()
      .map(w => ring(w.getSeq[org.apache.spark.sql.Row](0)))
    assert(got.keys.map(_._1).toSet === zs.map(_._1).toSet)
    zs.foreach { case (z, vs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      val near = ss.filter { s =>
        val sx = (s.map(_._1).min + s.map(_._1).max) / 2
        val sy = (s.map(_._2).min + s.map(_._2).max) / 2
        val sr = math.hypot(s.map(_._1).max - s.map(_._1).min,
          s.map(_._2).max - s.map(_._2).min) / 2
        (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) < (rad + sr) * (rad + sr)
      }.toSeq
      val want = lineRings(EraseArcs.polyZoneRings(vs, near))
      val wantRows = want.zipWithIndex.flatMap { case (r, ri) =>
        val area = r.map(_.signedArea).sum
        r.zipWithIndex.map { case (p, pi) =>
          (z, ri.toLong, pi.toLong) ->
            (p.kind, p.x1, p.y1, p.x2, p.y2, area)
        }
      }
      assert(got.keys.count(_._1 == z) === wantRows.size, s"zone $z")
      val tol = 1e-9 * math.max(1.0, rad + cx.abs + cy.abs)
      wantRows.foreach { case (k, (kind, x1, y1, x2, y2, area)) =>
        val (gk, gx1, gy1, gx2, gy2, ga) = got(k)
        assert(gk === kind, s"$k kind")
        assert(math.abs(gx1 - x1) <= tol && math.abs(gy1 - y1) <= tol &&
          math.abs(gx2 - x2) <= tol && math.abs(gy2 - y2) <= tol,
          s"$k coords: ($gx1,$gy1)->($gx2,$gy2) vs ($x1,$y1)->($x2,$y2)")
        assert(math.abs(ga - area) <= 1e-9 * math.max(1.0, area.abs),
          s"$k ring area $ga vs $area")
      }
    }
  }

  test("polygon-zone rings, distributed: duplicated, re-wound or " +
      "rotated footprints erase once") {
    import graft.geo.EraseArcs
    import spark.implicits._
    val zones = Seq((7, Seq((0.0, 0.0), (4000.0, 0.0), (4000.0, 4000.0),
      (0.0, 4000.0)))).toDF("zone_id", "vertices")
    // one footprint across the zone's east edge, one strictly inside
    val edge = Seq((3000.0, 1000.0), (5000.0, 1200.0), (4800.0, 3000.0),
      (2900.0, 2800.0))
    val inner = Seq((1000.0, 1000.0), (2000.0, 1200.0), (1500.0, 2100.0))
    def rows(subs: Seq[Seq[(Double, Double)]]) =
      EraseArcs.polyZoneRingsPerZone(zones,
          EraseArcs.ringMembers(subs.toDF("vertices")))
        .orderBy("ring_id", "piece_seq").collect().toSeq
    val once = rows(Seq(edge, inner))
    val copies = rows(Seq(edge, edge.reverse, edge.drop(2) ++ edge.take(2),
      inner, inner, inner.reverse.drop(1) ++ inner.reverse.take(1)))
    assert(copies === once)
    // the outer ring with a notch, and the inner footprint as a hole
    val want = EraseArcs.polyZoneRings(zones.head().getSeq[
      org.apache.spark.sql.Row](1).map(v => (v.getDouble(0), v.getDouble(1))),
      Seq(edge, inner))
    assert(want.size === 2)
    assert(once.map(_.getLong(1)).distinct.size === want.size)
    assert(once.size === want.map(_.size).sum)
  }

  test("polygon-zone rings, distributed: a zone no member touches " +
      "emits its full rings") {
    import graft.geo.EraseArcs
    import spark.implicits._
    val sq = Seq((0.0, 0.0), (4000.0, 0.0), (4000.0, 4000.0), (0.0, 4000.0))
    val hole = Seq((1500.0, 1500.0), (2500.0, 1500.0), (2500.0, 2500.0),
      (1500.0, 2500.0))
    val far = sq.map { case (x, y) => (x + 1e5, y) }
    val zones = Seq((1, sq, Seq(hole)), (2, far, Seq.empty[Seq[(Double,
      Double)]])).toDF("zone_id", "vertices", "holes")
    // one disk on zone 1's west edge; zone 2 is 10^5 ft away
    val buffers = Seq((0.0, 2000.0)).toDF("x_ft", "y_ft")
    def ringsOf(members: org.apache.spark.sql.DataFrame) =
      EraseArcs.polyZoneRingsPerZone(zones, members).collect()
        .groupBy(_.getInt(0)).map { case (z, rs) =>
          z -> rs.groupBy(_.getLong(1)).toSeq.sortBy(_._1)
            .map { case (_, ps) => (ps.map(_.getString(3)).toSeq.sorted,
              ps.head.getDouble(13)) }
        }
    def full(outer: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]])
        = EraseArcs.polyZoneRings(outer, holes).map(r =>
          (r.map(_.asInstanceOf[EraseArcs.LinePiece].kind).sorted,
            r.map(_.signedArea).sum))
    val touched = ringsOf(EraseArcs.diskMembers(buffers, 500.0))
    assert(touched.keySet === Set(1, 2))
    assert(touched(1).flatMap(_._1).contains("arc"))
    assert(touched(2) === full(far, Nil))
    assert(touched(2) === Seq((Seq.fill(4)("zone"), 1.6e7)))
    // no member at all: every zone is still emitted, holes included
    val none = ringsOf(EraseArcs.diskMembers(buffers.limit(0), 500.0))
    assert(none === Map(1 -> full(sq, Seq(hole)), 2 -> full(far, Nil)))
    assert(none(1).map(_._2).sum === 1.6e7 - 1e6)
  }

  test("mixed line+arc rings (disk subtrahends on polygon zones): " +
      "closure, orientation, conservation, determinism") {
    import graft.geo.EraseArcs
    def checkRings(outer: Seq[(Double, Double)],
        holes: Seq[Seq[(Double, Double)]],
        disks: Seq[(Double, Double)], r: Double)
        : Seq[Seq[EraseArcs.BoundaryPiece]] = {
      val rings = EraseArcs.polyZoneRings(outer, holes, disks, r)
      val scale = (outer ++ holes.flatten ++ disks)
        .flatMap(p => Seq(p._1.abs, p._2.abs)).max
      val tol = 1e-9 * math.max(1.0, scale)
      rings.foreach { ring =>
        ring.indices.foreach { i =>
          val a = ring(i); val b = ring((i + 1) % ring.size)
          val (ex, ey) = a.end; val (sx, sy) = b.start
          assert(math.hypot(ex - sx, ey - sy) <= tol,
            s"open ring at piece $i of $ring")
        }
        val area = ring.map(_.signedArea).sum
        val hasZone = ring.exists {
          case lp: EraseArcs.LinePiece => lp.kind == "zone"
          case _ => false
        }
        if (hasZone) assert(area > 0, s"outer ring CW: $ring")
        else assert(area < 0, s"hole ring CCW: $ring")
      }
      // conservation against the slab reference
      val sum = rings.flatten.map(_.signedArea).sum
      val want = slab(outer, holes, disks = disks, r = r)
      assert(math.abs(sum - want) <= 1e-9 * math.max(1.0, want),
        s"rings $sum vs SlabArea $want")
      // determinism under disk order
      val again = EraseArcs.polyZoneRings(outer, holes,
        disks.reverse, r)
      assert(again === rings, "rings depend on disk order")
      rings
    }
    def isArc(p: EraseArcs.BoundaryPiece): Boolean = p match {
      case _: EraseArcs.RingPiece => true
      case _ => false
    }
    val square = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    // untouched: one CCW ring of the 4 edges, no arcs
    val r0 = checkRings(square, Nil, Nil, 300.0)
    assert(r0.size === 1 && r0.head.size === 4 && !r0.head.exists(isArc))
    // one disk straddling an edge: ONE mixed outer ring (line pieces +
    // one arc bridging the bite)
    val r1 = checkRings(square, Nil, Seq((1000.0, 100.0)), 300.0)
    assert(r1.size === 1)
    assert(r1.head.exists(isArc) && r1.head.count(!isArc(_)) >= 4)
    // disk strictly inside: CCW outer + a full-circle CW hole; exact
    // area square − πr²
    val r2 = checkRings(square, Nil, Seq((0.0, 0.0)), 300.0)
    assert(r2.size === 2)
    assert(r2.exists(ring => ring.size == 1 && (ring.head match {
      case rp: EraseArcs.RingPiece => rp.isFullCircle && !rp.ccw
      case _ => false
    })))
    val a2 = r2.flatten.map(_.signedArea).sum
    assert(math.abs(a2 - (4e6 - math.Pi * 9e4)) <= 1e-4)
    // disk covering a corner: both adjacent edges clipped, one arc
    val r3 = checkRings(square, Nil, Seq((1000.0, 1000.0)), 300.0)
    assert(r3.size === 1 && r3.head.count(isArc) === 1)
    // two overlapping interior disks: one merged CW cavity of two arcs
    val r4 = checkRings(square, Nil,
      Seq((-100.0, 0.0), (150.0, 60.0)), 300.0)
    assert(r4.size === 2)
    assert(r4.exists(ring => ring.size == 2 && ring.forall(isArc)))
    // hole + disk overlapping the hole: one merged cavity (hole edges
    // + arcs), plus conservation on the full general input
    val hole = Seq((-200.0, -200.0), (200.0, -200.0),
      (200.0, 200.0), (-200.0, 200.0))
    val r5 = checkRings(square, Seq(hole), Seq((350.0, 80.0)), 300.0)
    assert(r5.size === 2, s"expected outer + merged cavity: ${r5.size}")
    assert(r5.exists(ring => ring.exists(isArc) && ring.exists {
      case lp: EraseArcs.LinePiece => lp.kind == "sub"
      case _ => false
    }))
    // disk strictly inside the hole: erases nothing
    val r6 = checkRings(square, Seq(hole), Seq((0.0, 0.0)), 100.0)
    assert(r6.flatten.count(isArc) === 0)
    // concave star with hole × several disks (the query's shape)
    val star = Seq((1000.0, 0.0), (350.0, 350.0), (0.0, 1000.0),
      (-350.0, 350.0), (-1000.0, 0.0), (-350.0, -350.0),
      (0.0, -1000.0), (350.0, -350.0))
    val hole2 = Seq((150.0, 150.0), (-150.0, 150.0),
      (-150.0, -150.0), (150.0, -150.0))
    checkRings(star, Seq(hole2),
      Seq((700.0, 100.0), (-300.0, 500.0), (50.0, -600.0),
        (1100.0, 300.0)), 280.0)
    // circle-zone convergence: a fine n-gon zone's mixed rings
    // conserve toward the circle zone's area
    val ngon = (0 until 512).map { k =>
      val a = 2 * math.Pi * k / 512
      (1000.0 * math.cos(a), 1000.0 * math.sin(a))
    }
    val disks = Seq((800.0, 150.0), (-200.0, 400.0), (-900.0, -500.0))
    val got = EraseArcs.polyZoneRings(ngon, Nil, disks, 300.0)
      .flatten.map(_.signedArea).sum
    val want = slabCircle(1000.0, disks, 300.0)
    assert(math.abs(got - want) / want < 1e-3,
      s"ngon rings $got vs circle zone $want")
  }

  test("disk arcs: a lattice-covered zone is empty, an arc through " +
      "angle 0 is one piece, and a fixed-seed case keeps its bits") {
    import graft.geo.EraseArcs
    val r = 1500.0
    val tau = 2 * math.Pi
    def arcs(outer: Seq[(Double, Double)], holes: Seq[Seq[(Double, Double)]],
        disks: Seq[(Double, Double)]): Seq[EraseArcs.RingPiece] =
      EraseArcs.polyZonePieces(outer, holes, disks, r).collect {
        case rp: EraseArcs.RingPiece => rp
      }
    // covered by construction: the lattice spans the zone with a
    // margin, and every point it spans lies within 0.95r·√2/2 < r of a
    // centre, so nothing survives
    val rect = Seq((0.0, 0.0), (6000.0, 0.0), (6000.0, 4000.0),
      (0.0, 4000.0))
    val lattice = for (i <- -2 to 7; j <- -2 to 5)
      yield (i * 0.95 * r, j * 0.95 * r)
    assert(EraseArcs.polyZonePieces(rect, Nil, lattice, r).isEmpty)
    assert(EraseArcs.zoneArea(rect, Nil, lattice, r) === 0.0)
    // a kept arc through angle 0 is ONE piece [s, e + 2π), whether a
    // neighbour window (bearing π) or a ring crossing (the left edge)
    // bounds it
    val square = Seq((-3000.0, -3000.0), (3000.0, -3000.0),
      (3000.0, 3000.0), (-3000.0, 3000.0))
    val byWindow = arcs(square, Nil, Seq((0.0, 0.0), (-1000.0, 0.0)))
      .filter(_.cx == 0.0)
    assert(byWindow.size === 1)
    assert(byWindow.head.s < tau && byWindow.head.e > tau)
    assert(math.abs(byWindow.head.e - byWindow.head.s -
      (tau - 2 * math.acos(1.0 / 3))) < 1e-12)
    val byRing = arcs(square, Nil, Seq((-2500.0, 0.0)))
    assert(byRing.size === 1)
    assert(byRing.head.s < tau && byRing.head.e > tau)
    assert(math.abs(byRing.head.e - byRing.head.s -
      2 * math.acos(-1.0 / 3)) < 1e-12)
    assert(math.abs(byRing.head.start._1 + 3000.0) < 1e-9 &&
      math.abs(byRing.head.end._1 + 3000.0) < 1e-9)
    // golden, fixed seed: the star-with-hole zone at state-plane
    // coordinates under six disks. The arc angles and the area are
    // pinned bit for bit, so the piece starting at the smallest crossing
    // angle keeps its (x + 2π) − 2π rounding
    val (cx, cy, bigR) = (3050000.0, 1250000.0, 6000.0)
    val star = Seq((cx + bigR, cy), (cx + bigR * 0.35, cy + bigR * 0.35),
      (cx, cy + bigR), (cx - bigR * 0.35, cy + bigR * 0.35), (cx - bigR, cy),
      (cx - bigR * 0.35, cy - bigR * 0.35), (cx, cy - bigR),
      (cx + bigR * 0.35, cy - bigR * 0.35))
    val hole = Seq((cx + bigR * 0.15, cy + bigR * 0.15),
      (cx - bigR * 0.15, cy + bigR * 0.15),
      (cx - bigR * 0.15, cy - bigR * 0.15),
      (cx + bigR * 0.15, cy - bigR * 0.15))
    val rng = new scala.util.Random(7)
    val disks = Seq.fill(6)((cx + (rng.nextDouble() * 2 - 1) * bigR,
      cy + (rng.nextDouble() * 2 - 1) * bigR))
    def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
    assert(arcs(star, Seq(hole), disks).map(p => (bits(p.s), bits(p.e))) ===
      Seq((0x4013dbd0749f3c4dL, 0x401a748eab9be861L),
        (0x4001f99e76a9c080L, 0x4012e78d4d911df4L),
        (0x3fdb8797ba545a50L, 0x401058879a2adfdcL),
        (0x400f8201acdd7048L, 0x4013dcae6393289cL)))
    assert(bits(EraseArcs.zoneArea(star, Seq(hole), disks, r)) ===
      0x4182b4d776fa0c00L)
  }

  test("mixed line+arc rings: the distributed path equals a " +
      "driver-side replay and conserves the concave area kernel") {
    import graft.geo.EraseArcs
    val zones = graft.ops.Wnv.starZones(spark, sf)
    val buffers = graft.ops.Wnv.optOut(spark, sf)
      .select(col("x_ft"), col("y_ft"))
    val r = graft.ops.Wnv.BufferFt
    val got = EraseArcs.polyZoneRingsPerZone(zones,
        EraseArcs.diskMembers(buffers, r))
      .collect()
      .map(w => (w.getInt(0), w.getLong(1), w.getLong(2)) ->
        (w.getString(3), w.getDouble(4), w.getDouble(5), w.getDouble(6),
          w.getDouble(7), w.getDouble(13)))
      .toMap
    def ring(rows: Seq[org.apache.spark.sql.Row]): Seq[(Double, Double)] =
      rows.map(v => (v.getDouble(0), v.getDouble(1)))
    val zs = zones.select(col("zone_id").cast("int"), col("vertices"),
        col("holes"))
      .collect().map { w =>
        (w.getInt(0), ring(w.getSeq[org.apache.spark.sql.Row](1)),
          w.getSeq[scala.collection.Seq[org.apache.spark.sql.Row]](2)
            .map(h => ring(h.toSeq)))
      }
    val bs = buffers.collect().map(w => (w.getDouble(0), w.getDouble(1)))
    assert(got.keys.map(_._1).toSet === zs.map(_._1).toSet)
    val scale = 4e6 // state-plane feet
    val tol = 1e-9 * scale
    zs.foreach { case (z, vs, hs) =>
      val cx = vs.map(_._1).sum / vs.size
      val cy = vs.map(_._2).sum / vs.size
      val rad = vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max
      // the distributed plan's own candidate rule (bounding circle)
      val near = bs.filter { case (ox, oy) =>
        (ox - cx) * (ox - cx) + (oy - cy) * (oy - cy) < (rad + r) * (rad + r)
      }.toSeq
      val want = EraseArcs.polyZoneRings(vs, hs, near, r)
      val wantRows = want.zipWithIndex.flatMap { case (rg, ri) =>
        val area = rg.map(_.signedArea).sum
        rg.zipWithIndex.map { case (p, pi) =>
          val (kind, x1, y1, x2, y2) = p match {
            case lp: EraseArcs.LinePiece =>
              (lp.kind, lp.x1, lp.y1, lp.x2, lp.y2)
            case rp: EraseArcs.RingPiece =>
              ("arc", rp.start._1, rp.start._2, rp.end._1, rp.end._2)
          }
          (z, ri.toLong, pi.toLong) -> (kind, x1, y1, x2, y2, area)
        }
      }
      assert(got.keys.count(_._1 == z) === wantRows.size, s"zone $z rows")
      wantRows.foreach { case (k, (kind, x1, y1, x2, y2, area)) =>
        val (gk, gx1, gy1, gx2, gy2, ga) = got(k)
        assert(gk === kind, s"$k kind")
        assert(math.abs(gx1 - x1) <= tol && math.abs(gy1 - y1) <= tol &&
          math.abs(gx2 - x2) <= tol && math.abs(gy2 - y2) <= tol,
          s"$k coords: ($gx1,$gy1)->($gx2,$gy2) vs ($x1,$y1)->($x2,$y2)")
        assert(math.abs(ga - area) <= 1e-9 * math.max(1.0, area.abs),
          s"$k ring area $ga vs $area")
      }
      // Σ ring signed areas == the slab reference
      val sums = wantRows.groupBy(_._1._2).map(_._2.head._2._6).sum
      val areaK = slab(vs, hs, disks = near, r = r)
      assert(math.abs(sums - areaK) <= 1e-9 * math.max(1.0, areaK),
        s"zone $z rings $sums vs SlabArea $areaK")
    }
  }
}
