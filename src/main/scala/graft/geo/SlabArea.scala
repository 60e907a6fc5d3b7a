package graft.geo

import scala.collection.mutable.ArrayBuffer

/** Area of (zone − ∪ polygon subtrahends − ∪ disks) by vertical-slab
  * integration: the reference the erase-geometry outputs are checked
  * against (GeoSpec, GeoPropertySpec, `tools/EraseRingsCheck`). It
  * shares no code and no method with the erase kernels: no boundary
  * pieces, no Green's theorem, no point-in-polygon test.
  *
  * The plane is cut into vertical slabs at every vertex x, every
  * circle's cx ± r and every edge–edge, edge–circle and circle–circle
  * crossing. Inside a slab no boundary curve starts, ends or crosses
  * another, so a vertical line meets the curves in the order it meets
  * them at the slab's midpoint: the region's cross-section is a fixed
  * list of (lower curve, upper curve) pairs — the zone's even-odd
  * intervals minus the union of the subtrahends' even-odd intervals
  * and the disks' chords. Its length is integrated by Gauss–Legendre
  * after the substitution x = a + (b − a)(1 − cos θ)/2, which turns the
  * √ ends of a chord at a slab edge into smooth functions of θ.
  *
  * Rings may wind either way, repeat vertices or duplicate one
  * another, and tangencies need no special case. The work is the slab
  * count times the curves spanning a slab: sized for one zone's
  * candidates in one process, not for a query plan.
  */
object SlabArea {
  type Ring = Seq[(Double, Double)]
  private type Box = (Double, Double, Double, Double)

  sealed trait Zone
  final case class Circle(cx: Double, cy: Double, rad: Double) extends Zone
  final case class Polygon(outer: Ring, holes: Seq[Ring] = Nil) extends Zone

  /** Area of `zone` minus every ring of `subs` and every disk of radius
    * `r` centred at a point of `disks`, by `nodes`-point Gauss–Legendre
    * per slab. */
  def area(zone: Zone, subs: Seq[Ring] = Nil,
      disks: Seq[(Double, Double)] = Nil, r: Double = 0.0,
      nodes: Int = 64): Double = {
    val z = zone match {
      case Circle(cx, cy, rad) => Disk(cx, cy, rad)
      case Polygon(outer, holes) => Rings(outer +: holes)
    }
    val (zx0, zy0, zx1, zy1) = z.box
    val cutters = (subs.map(s => Rings(Seq(s))) ++
        disks.map { case (x, y) => Disk(x, y, r) })
      .filter { s =>
        val (x0, y0, x1, y1) = s.box
        x0 < zx1 && zx0 < x1 && y0 < zy1 && zy0 < y1
      }
      .sortBy(_.box._1).toIndexedSeq
    val xs = breakpoints(z +: cutters).filter(x => x >= zx0 && x <= zx1)
    val (us, vs) = rule(nodes)
    var total = 0.0
    var next = 0
    var live = Vector.empty[Shape]
    xs.zip(xs.drop(1)).foreach { case (a, b) =>
      val m = (a + b) / 2
      if (a < m && m < b) {
        while (next < cutters.size && cutters(next).box._1 < m) {
          live :+= cutters(next); next += 1
        }
        live = live.filter(_.box._3 > m)
        val pieces = minus(z.at(m), union(live.flatMap(_.at(m)), m), m)
        if (pieces.nonEmpty)
          total += (b - a) * (0 until nodes).map { k =>
            val x = a + (b - a) * us(k)
            vs(k) * pieces.map { case (lo, hi) => hi.y(x) - lo.y(x) }.sum
          }.sum
      }
    }
    total
  }

  /** A boundary curve over its x-range: a non-vertical edge, or the
    * lower (`sign` −1) or upper (+1) half of a circle. */
  private sealed trait Curve { def y(x: Double): Double }

  /** What breakpoints are crossings of: an edge or a whole circle. */
  private sealed trait Prim { def box: Box }

  private final case class Edge(ax: Double, ay: Double, bx: Double,
      by: Double) extends Curve with Prim {
    def y(x: Double): Double = ay + (x - ax) * (by - ay) / (bx - ax)
    def spans(x: Double): Boolean =
      math.min(ax, bx) < x && x < math.max(ax, bx)
    val box: Box =
      (math.min(ax, bx), math.min(ay, by), math.max(ax, bx), math.max(ay, by))
  }

  private final case class Half(c: Disk, sign: Double) extends Curve {
    def y(x: Double): Double =
      c.cy + sign *
        math.sqrt(math.max(0.0, c.r * c.r - (x - c.cx) * (x - c.cx)))
  }

  /** A region whose cross-section at x is a list of (lower, upper)
    * curve pairs, ordered by y. */
  private sealed trait Shape {
    def box: Box
    def at(x: Double): Seq[(Curve, Curve)]
  }

  /** The even-odd region of a set of rings. */
  private final case class Rings(rings: Seq[Ring]) extends Shape {
    val edges: IndexedSeq[Edge] = rings.flatMap { ring =>
      ring.indices.map { i =>
        val (ax, ay) = ring(i); val (bx, by) = ring((i + 1) % ring.size)
        Edge(ax, ay, bx, by)
      }
    }.toIndexedSeq
    val box: Box = {
      val ps = rings.flatten
      (ps.map(_._1).min, ps.map(_._2).min, ps.map(_._1).max, ps.map(_._2).max)
    }
    def at(x: Double): Seq[(Curve, Curve)] =
      edges.filter(_.spans(x)).sortBy(_.y(x)).grouped(2)
        .map(p => (p(0), p(1))).toSeq
  }

  private final case class Disk(cx: Double, cy: Double, r: Double)
      extends Shape with Prim {
    val box: Box = (cx - r, cy - r, cx + r, cy + r)
    def at(x: Double): Seq[(Curve, Curve)] =
      if (math.abs(x - cx) < r) Seq((Half(this, -1.0), Half(this, 1.0)))
      else Nil
  }

  /** Merge of curve intervals at x into disjoint intervals, by y. */
  private def union(in: Seq[(Curve, Curve)], x: Double): Seq[(Curve, Curve)] = {
    val out = ArrayBuffer.empty[(Curve, Curve)]
    in.sortBy(_._1.y(x)).foreach { case (lo, hi) =>
      if (out.nonEmpty && lo.y(x) <= out.last._2.y(x)) {
        if (hi.y(x) > out.last._2.y(x)) out(out.size - 1) = (out.last._1, hi)
      } else out += ((lo, hi))
    }
    out.toSeq
  }

  /** The parts of the `zone` intervals at x outside the disjoint,
    * sorted `cut` intervals. */
  private def minus(zone: Seq[(Curve, Curve)], cut: Seq[(Curve, Curve)],
      x: Double): Seq[(Curve, Curve)] =
    zone.flatMap { case (zlo, zhi) =>
      val out = ArrayBuffer.empty[(Curve, Curve)]
      var cur = zlo
      cut.foreach { case (lo, hi) =>
        if (lo.y(x) < zhi.y(x) && hi.y(x) > cur.y(x)) {
          if (lo.y(x) > cur.y(x)) out += ((cur, lo))
          cur = hi
        }
      }
      if (cur.y(x) < zhi.y(x)) out += ((cur, zhi))
      out
    }

  /** Every x where a curve starts, ends, turns vertical or crosses
    * another curve, sorted and distinct. Pairs are tested only when
    * their boxes overlap (a sweep over boxes sorted by left edge). */
  private def breakpoints(shapes: Seq[Shape]): Seq[Double] = {
    val prims: IndexedSeq[Prim] = shapes.flatMap {
      case s: Rings => s.edges
      case d: Disk => Seq(d)
    }.sortBy(_.box._1).toIndexedSeq
    val xs = ArrayBuffer.empty[Double]
    prims.foreach {
      case e: Edge => xs += e.ax
      case d: Disk => xs += d.cx - d.r += d.cx + d.r
    }
    for (i <- prims.indices) {
      val (_, y0, x1, y1) = prims(i).box
      var j = i + 1
      while (j < prims.size && prims(j).box._1 <= x1) {
        val (_, v0, _, v1) = prims(j).box
        if (v0 <= y1 && y0 <= v1) xs ++= crossings(prims(i), prims(j))
        j += 1
      }
    }
    xs.sorted.distinct.toSeq
  }

  private def crossings(p: Prim, q: Prim): Seq[Double] = (p, q) match {
    case (e: Edge, f: Edge) =>
      val (dx, dy) = (e.bx - e.ax, e.by - e.ay)
      val (fx, fy) = (f.bx - f.ax, f.by - f.ay)
      val den = dx * fy - dy * fx
      if (den == 0.0) Nil
      else {
        val t = ((f.ax - e.ax) * fy - (f.ay - e.ay) * fx) / den
        val u = ((f.ax - e.ax) * dy - (f.ay - e.ay) * dx) / den
        if (t >= 0 && t <= 1 && u >= 0 && u <= 1) Seq(e.ax + t * dx) else Nil
      }
    case (e: Edge, c: Disk) =>
      val (dx, dy) = (e.bx - e.ax, e.by - e.ay)
      val (gx, gy) = (e.ax - c.cx, e.ay - c.cy)
      val qa = dx * dx + dy * dy
      val qb = gx * dx + gy * dy
      val disc = qb * qb - qa * (gx * gx + gy * gy - c.r * c.r)
      if (qa == 0.0 || disc < 0) Nil
      else Seq(-1.0, 1.0).map(s => (-qb + s * math.sqrt(disc)) / qa)
        .filter(t => t >= 0 && t <= 1).map(t => e.ax + t * dx)
    case (_: Disk, _: Edge) => crossings(q, p)
    case (c: Disk, d: Disk) =>
      val dist = math.hypot(d.cx - c.cx, d.cy - c.cy)
      if (dist == 0.0 || dist > c.r + d.r || dist < math.abs(c.r - d.r)) Nil
      else {
        val a = (dist * dist + c.r * c.r - d.r * d.r) / (2 * dist)
        val h = math.sqrt(math.max(0.0, c.r * c.r - a * a))
        val px = c.cx + a * (d.cx - c.cx) / dist
        val off = h * (d.cy - c.cy) / dist
        Seq(px - off, px + off)
      }
  }

  /** `n`-point Gauss–Legendre on θ ∈ [0, π] under x = (1 − cos θ)/2:
    * nodes u in (0, 1) and weights v with ∫₀¹ f ≈ Σ v·f(u). */
  private def rule(n: Int): (Array[Double], Array[Double]) = {
    val us = new Array[Double](n); val vs = new Array[Double](n)
    for (i <- 0 until n) {
      // Newton on P_n from the Tricomi estimate of the i-th root
      var z = math.cos(math.Pi * (i + 0.75) / (n + 0.5))
      var dp = 0.0
      var step = 1.0
      var it = 0
      while (math.abs(step) > 1e-15 && it < 100) {
        it += 1
        var p1 = 1.0; var p0 = 0.0
        for (j <- 1 to n) {
          val p2 = p0; p0 = p1
          p1 = ((2 * j - 1) * z * p0 - (j - 1) * p2) / j
        }
        dp = n * (z * p1 - p0) / (z * z - 1)
        step = p1 / dp
        z -= step
      }
      val w = 2 / ((1 - z * z) * dp * dp)
      val theta = math.Pi * (z + 1) / 2
      us(i) = (1 - math.cos(theta)) / 2
      vs(i) = w * math.Pi / 2 * math.sin(theta) / 2
    }
    (us, vs)
  }
}
