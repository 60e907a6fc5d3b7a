package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.geo.EraseArcs

/** Property-based tests (ScalaCheck, fixed seed) for the round-12
  * polygon-subtrahend erase kernel: GeoSpec pins hand cases and two
  * deterministic pseudo-random configurations; these pin the ALGEBRA
  * over arbitrary generated configurations — the invariants that hold
  * for every input, independent of any reference value:
  *
  *   - bounds: 0 ≤ area(Z ∖ U) ≤ area(Z);
  *   - monotonicity: adding a subtrahend never increases the area;
  *   - union idempotence: duplicating a subtrahend changes nothing;
  *   - order invariance: the subtrahend list is a SET;
  *   - disjointness additivity: subtrahends strictly inside the zone
  *     and pairwise disjoint erase exactly Σ their areas;
  *   - grid cross-check: a coarse sampler agrees within its
  *     discretization error on arbitrary configurations.
  */
class GeoPropertySpec extends org.scalatest.funsuite.AnyFunSuite {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(60)
    .withInitialSeed(Seed(0xB0A7L))

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def ringArea(vs: Seq[(Double, Double)]): Double =
    math.abs(vs.indices.map { i =>
      val (x1, y1) = vs(i); val (x2, y2) = vs((i + 1) % vs.size)
      x1 * y2 - x2 * y1
    }.sum) / 2

  // random convex zone: 5-9 points on a radius-R ellipse, by angle
  private val genZone: Gen[Seq[(Double, Double)]] = for {
    n <- Gen.choose(5, 9)
    rx <- Gen.choose(700.0, 1200.0)
    ry <- Gen.choose(700.0, 1200.0)
    phase <- Gen.choose(0.0, math.Pi)
  } yield (0 until n).map { k =>
    val a = phase + 2 * math.Pi * k / n
    (rx * math.cos(a), ry * math.sin(a))
  }

  // random rotated square or triangle subtrahend near the origin
  private def genSub(spread: Double): Gen[Seq[(Double, Double)]] = for {
    cx <- Gen.choose(-spread, spread)
    cy <- Gen.choose(-spread, spread)
    hw <- Gen.choose(80.0, 350.0)
    rot <- Gen.choose(0.0, math.Pi)
    sides <- Gen.oneOf(3, 4)
  } yield (0 until sides).map { k =>
    val a = rot + 2 * math.Pi * k / sides
    (cx + hw * math.cos(a), cy + hw * math.sin(a))
  }

  private def genSubs(spread: Double): Gen[List[Seq[(Double, Double)]]] =
    Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, genSub(spread)))

  test("bounds, monotonicity, idempotence, order invariance") {
    check("invariants")(Prop.forAll(genZone, genSubs(1300.0)) { (z, subs) =>
      val zoneArea = ringArea(z)
      val areas = subs.inits.toList.reverse // [], [s0], [s0,s1], ...
        .map(ss => EraseArcs.erasedAreaPolySub(z, ss))
      val bounded = areas.forall(a => a >= 0.0 && a <= zoneArea + 1e-6)
      val monotone = areas.sliding(2).forall {
        case Seq(prev, next) => next <= prev + 1e-6
        case _ => true
      }
      val full = areas.last
      val dup = subs match {
        case s :: _ =>
          math.abs(EraseArcs.erasedAreaPolySub(z, subs :+ s) - full) <= 1e-6
        case Nil => true
      }
      val perm = math.abs(
        EraseArcs.erasedAreaPolySub(z, subs.reverse) - full) <= 1e-6
      bounded && monotone && dup && perm
    })
  }

  test("pairwise-disjoint interior subtrahends erase exactly their areas") {
    // fixed square zone; small subtrahends placed on a coarse lattice so
    // they are strictly interior and pairwise disjoint by construction
    val z = Seq((-2000.0, -2000.0), (2000.0, -2000.0),
      (2000.0, 2000.0), (-2000.0, 2000.0))
    val slots = for (ix <- -1 to 1; iy <- -1 to 1) yield (ix * 1100.0, iy * 1100.0)
    val genCase = for {
      picks <- Gen.someOf(slots)
      subs <- Gen.sequence[List[Seq[(Double, Double)]], Seq[(Double, Double)]](
        picks.toList.map { case (cx, cy) =>
          for {
            hw <- Gen.choose(100.0, 380.0)
            rot <- Gen.choose(0.0, math.Pi)
            sides <- Gen.oneOf(3, 4)
          } yield (0 until sides).map { k =>
            val a = rot + 2 * math.Pi * k / sides
            (cx + hw * math.cos(a), cy + hw * math.sin(a))
          }
        })
    } yield subs
    check("disjoint-additivity")(Prop.forAll(genCase) { subs =>
      val want = ringArea(z.toSeq) - subs.map(ringArea).sum
      val got = EraseArcs.erasedAreaPolySub(z, subs)
      math.abs(got - want) <= 1e-6 * math.max(1.0, want)
    })
  }

  test("coarse grid sampler agrees on arbitrary configurations") {
    // fewer cases (the sampler is the slow side), coarse gate sized to
    // the discretization error of a 220x220 grid
    val p = SCTest.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(Seed(0x5EEDL))
    val res = SCTest.check(p, Prop.forAll(genZone, genSubs(900.0)) {
      (z, subs) =>
        val got = EraseArcs.erasedAreaPolySub(z, subs)
        def insideConvex(poly: Seq[(Double, Double)], x: Double, y: Double) = {
          // winding-agnostic convex test: all cross products same sign
          val cs = poly.indices.map { i =>
            val (ax, ay) = poly(i); val (bx, by) = poly((i + 1) % poly.size)
            (bx - ax) * (y - ay) - (by - ay) * (x - ax)
          }
          cs.forall(_ >= 0) || cs.forall(_ <= 0)
        }
        val n = 110
        var in = 0; var tot = 0
        var ix = -n
        while (ix <= n) {
          var iy = -n
          while (iy <= n) {
            val x = ix * 1250.0 / n; val y = iy * 1250.0 / n
            if (insideConvex(z, x, y)) {
              tot += 1
              if (!subs.exists(s => insideConvex(s, x, y))) in += 1
            }
            iy += 1
          }
          ix += 1
        }
        val zoneArea = ringArea(z)
        val sampled = if (tot == 0) 0.0 else zoneArea * in / tot
        math.abs(got - sampled) <= 0.02 * zoneArea + 1e-6
    })
    assert(res.passed, s"grid cross-check: ${res.status}")
  }

  test("tangency-degenerate input: the ring stitcher fails LOUDLY or " +
      "emits conserving rings — never a silently-wrong ring") {
    // adversarial generator: axis-aligned squares on an exact integer
    // grid whose cell edges abut EXACTLY (shared edges between
    // neighbors, shared corners between diagonal neighbors) and whose
    // outer cells' edges lie EXACTLY ON the zone boundary (collinear
    // sub-edge-on-zone-edge overlap) — every coordinate is an integer
    // double, so the tangencies are bit-exact, the worst case for
    // endpoint matching. The stitcher's documented contract (arcpy
    // resolves tangency via cluster tolerance; this engine does NOT —
    // it must throw): either IllegalArgumentException, or closed rings
    // whose Σ signed areas equals the area kernel.
    val grid = 8; val pitch = 250.0; val hw = 125.0
    def cellSq(i: Int, j: Int): Seq[(Double, Double)] = {
      val cx = -1000.0 + pitch * i + hw
      val cy = -1000.0 + pitch * j + hw
      Seq((cx - hw, cy - hw), (cx + hw, cy - hw),
        (cx + hw, cy + hw), (cx - hw, cy + hw))
    }
    val zone = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val genCells: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(2, 12)
      cells <- Gen.listOfN(n,
        Gen.zip(Gen.choose(0, grid - 1), Gen.choose(0, grid - 1)))
    } yield cells.distinct
    val p = SCTest.Parameters.default
      .withMinSuccessfulTests(60)
      .withInitialSeed(Seed(0x7A96L))
    val res = SCTest.check(p, Prop.forAll(genCells) { cells =>
      val subs = cells.map { case (i, j) => cellSq(i, j) }
      scala.util.Try(EraseArcs.polyZoneRings(zone, subs)) match {
        case scala.util.Failure(e) =>
          // LOUD is the contract: the declared failure type only
          e.isInstanceOf[IllegalArgumentException]
        case scala.util.Success(rings) =>
          val tol = 1e-9 * 1000.0
          val closed = rings.forall { ring =>
            ring.indices.forall { i =>
              val a = ring(i); val b = ring((i + 1) % ring.size)
              val (ex, ey) = a.end; val (sx, sy) = b.start
              math.hypot(ex - sx, ey - sy) <= 4e-6 * 2000.0
            }
          }
          val sum = rings.flatten.map(_.signedArea).sum
          val want = EraseArcs.erasedAreaPolySub(zone, subs)
          closed && math.abs(sum - want) <= math.max(tol, 1e-9 * want)
      }
    })
    assert(res.passed, s"tangency posture: ${res.status}")
  }

  test("tangency-degenerate input, MIXED stitcher: disks exactly " +
      "tangent to zone edges / each other fail LOUDLY or conserve") {
    // adversarial generator for the line+arc stitcher: disks of
    // integer radius whose centers sit on an exact integer grid so
    // that (a) a disk at distance EXACTLY r from a zone edge is
    // bit-exactly tangent to it, (b) two disks at distance EXACTLY 2r
    // are bit-exactly tangent to each other, and (c) a disk centered
    // ON the zone boundary crosses it through a vertex-free exact
    // midpoint. Contract as for the line stitcher: either
    // IllegalArgumentException, or closed rings whose Σ signed areas
    // equals the INDEPENDENT area kernel.
    val zone = Seq((-1000.0, -1000.0), (1000.0, -1000.0),
      (1000.0, 1000.0), (-1000.0, 1000.0))
    val r = 250.0
    // grid pitch r: adjacent grid disks are at distance r (overlap),
    // 2r (exact tangency), or farther; disks in the outermost in-zone
    // row sit exactly r from the zone edge (boundary tangency)
    val genDisks: Gen[List[(Int, Int)]] = for {
      n <- Gen.choose(1, 10)
      cells <- Gen.listOfN(n,
        Gen.zip(Gen.choose(-4, 4), Gen.choose(-4, 4)))
    } yield cells.distinct
    val p = SCTest.Parameters.default
      .withMinSuccessfulTests(60)
      .withInitialSeed(Seed(0x5C41L))
    val res = SCTest.check(p, Prop.forAll(genDisks) { cells =>
      val disks = cells.map { case (i, j) => (r * i, r * j) }
      scala.util.Try(EraseArcs.polyZoneRings(zone, Nil, disks, r))
        .map { rings =>
          val closed = rings.forall { ring =>
            ring.indices.forall { i =>
              val a = ring(i); val b = ring((i + 1) % ring.size)
              val (ex, ey) = a.end; val (sx, sy) = b.start
              math.hypot(ex - sx, ey - sy) <= 4e-6 * 2000.0
            }
          }
          val sum = rings.flatten.map(_.signedArea).sum
          val want = EraseArcs.erasedAreaPoly(zone, disks, r)
          closed && math.abs(sum - want) <= 1e-6 * math.max(1.0, want)
        } match {
        case scala.util.Failure(e) =>
          e.isInstanceOf[IllegalArgumentException]
        case scala.util.Success(ok) => ok
      }
    })
    assert(res.passed, s"mixed tangency posture: ${res.status}")
  }
}
