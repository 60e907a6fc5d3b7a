package graft

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.geo.SlabArea

/** [[SlabArea]], the erase outputs' area reference, against JTS 1.20's
  * OverlayNG (ScalaCheck, fixed seeds): an exact polygon overlay for
  * polygon-only configurations, and for disks the bracket of inscribed
  * and circumscribed 2048-gons (disk area is transcendental, so no
  * polygon overlay gives it exactly).
  */
class SlabAreaSpec extends org.scalatest.funsuite.AnyFunSuite {
  private type Ring = Seq[(Double, Double)]

  private val gf = new GeometryFactory()

  private def jtsPolygon(outer: Ring, holes: Seq[Ring] = Nil): Geometry = {
    def ring(vs: Ring) = gf.createLinearRing(
      (vs :+ vs.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    gf.createPolygon(ring(outer), holes.map(ring).toArray)
  }

  /** JTS area of zone − ∪ cutters. */
  private def jtsArea(zone: Geometry, cutters: Seq[Geometry]): Double =
    cutters.foldLeft(zone)((g, c) =>
      OverlayNGRobust.overlay(g, c, OverlayNG.DIFFERENCE)).getArea

  /** Regular `n`-gon around (cx, cy) with circumradius `rad`. */
  private def ngon(cx: Double, cy: Double, rad: Double, n: Int): Ring =
    (0 until n).map { k =>
      val a = 2 * math.Pi * k / n
      (cx + rad * math.cos(a), cy + rad * math.sin(a))
    }

  // a convex zone (5-9 points on an ellipse) or a star with a square hole
  private val genPolygon: Gen[SlabArea.Polygon] = Gen.oneOf(
    for {
      n <- Gen.choose(5, 9)
      rx <- Gen.choose(700.0, 1200.0)
      ry <- Gen.choose(700.0, 1200.0)
      phase <- Gen.choose(0.0, math.Pi)
    } yield SlabArea.Polygon((0 until n).map { k =>
      val a = phase + 2 * math.Pi * k / n
      (rx * math.cos(a), ry * math.sin(a))
    }),
    for {
      rr <- Gen.choose(800.0, 1200.0)
      rot <- Gen.choose(0.0, math.Pi / 2)
    } yield {
      def turn(p: (Double, Double)) =
        (p._1 * math.cos(rot) - p._2 * math.sin(rot),
          p._1 * math.sin(rot) + p._2 * math.cos(rot))
      val star = (0 until 8).map { k =>
        val a = math.Pi / 4 * k
        val rad = if (k % 2 == 0) rr else rr * 0.35 * math.sqrt(2)
        turn((rad * math.cos(a), rad * math.sin(a)))
      }
      val h = 0.15 * rr
      SlabArea.Polygon(star,
        Seq(Seq((h, h), (-h, h), (-h, -h), (h, -h)).map(turn)))
    })

  // rotated squares and triangles near the origin
  private val genSubs: Gen[List[Ring]] = Gen.choose(0, 6).flatMap { n =>
    Gen.listOfN(n, for {
      cx <- Gen.choose(-1200.0, 1200.0)
      cy <- Gen.choose(-1200.0, 1200.0)
      hw <- Gen.choose(80.0, 400.0)
      rot <- Gen.choose(0.0, math.Pi)
      sides <- Gen.oneOf(3, 4)
    } yield (0 until sides).map { k =>
      val a = rot + 2 * math.Pi * k / sides
      (cx + hw * math.cos(a), cy + hw * math.sin(a))
    })
  }

  private val genDisks: Gen[List[(Double, Double)]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(-1300.0, 1300.0), Gen.choose(-1300.0, 1300.0))))

  private def check(cases: Int, seed: Long)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(cases).withInitialSeed(Seed(seed)), p)
    assert(res.passed, res.status.toString)
  }

  test("polygon-only configurations: SlabArea equals the JTS overlay") {
    check(60, 0x51ABL)(Prop.forAll(genPolygon, genSubs) { (zone, subs) =>
      val got = SlabArea.area(zone, subs)
      val want = jtsArea(jtsPolygon(zone.outer, zone.holes),
        subs.map(s => jtsPolygon(s)))
      Prop(math.abs(got - want) <= 1e-9 * math.max(1.0, want)) :|
        s"slab $got vs JTS $want"
    })
  }

  test("configurations with disks: SlabArea lies between the " +
      "inscribed and circumscribed 2048-gon overlays") {
    val n = 2048
    val out = 1 / math.cos(math.Pi / n) // circumradius of the outer n-gon
    val genZone: Gen[SlabArea.Zone] = Gen.oneOf(genPolygon,
      Gen.choose(700.0, 1200.0).map(rr => SlabArea.Circle(0.0, 0.0, rr)))
    check(30, 0xD15CL)(Prop.forAll(genZone, genSubs, genDisks,
        Gen.choose(150.0, 450.0)) { (zone, subs, disks, r) =>
      val got = SlabArea.area(zone, subs, disks, r)
      // zone grown and cutters shrunk bound the area above; the reverse
      // bounds it below
      def bound(zoneScale: Double, diskScale: Double): Double = {
        val z = zone match {
          case SlabArea.Circle(cx, cy, rr) =>
            jtsPolygon(ngon(cx, cy, rr * zoneScale, n))
          case SlabArea.Polygon(outer, holes) => jtsPolygon(outer, holes)
        }
        jtsArea(z, subs.map(s => jtsPolygon(s)) ++
          disks.map { case (x, y) =>
            jtsPolygon(ngon(x, y, r * diskScale, n)) })
      }
      val lo = bound(1.0, out)
      val hi = bound(out, 1.0)
      val eps = 1e-9 * math.max(1.0, hi)
      // the bracket is narrow: ~5e-6 of the zone's area at most
      val narrow = hi - lo <= 1e-5 * SlabArea.area(zone)
      Prop(lo - eps <= got && got <= hi + eps && narrow) :|
        s"slab $got outside [$lo, $hi]"
    })
  }
}
