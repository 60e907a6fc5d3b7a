package graft.geo

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** TRUE-GEOMETRY slice of the reference's Erase
  * (arcpy.analysis.Erase, reference GSheetsETL_Lab2.py:133): the
  * reference subtracts the union of 1500-ft opt-out buffers from the
  * spray-zone polygons and hands the resulting geometry to the map.
  * The oracle-checked queries implement Erase's SELECTION semantics
  * (which points survive — `wnv_erase_selection`); this module adds
  * the GEOMETRIC boundary: for each zone circle, the exact arcs of its
  * boundary that survive erasure by the buffer disks, via closed-form
  * circle-circle intersection — no polygon library, no tessellation
  * error on the arc endpoints beyond IEEE rounding.
  *
  * Math (law of cosines): a buffer disk (center o, radius r) covers
  * the points p of the zone circle (center c, radius R) with |p−o|<r;
  * when |R−r| < d < R+r for d = |c−o|, that is the angular interval of
  * half-width α = acos((d² + R² − r²) / (2dR)) around the bearing
  * atan2(o−c). d ≥ R+r covers nothing; d ≤ r−R covers the whole
  * boundary; d ≤ R−r (buffer strictly interior) covers nothing.
  *
  * Scale shape: zones are a bounded catalog (25 rows; ~10⁵ nationwide
  * — SCALE.md), so they BROADCAST against the corpus-sized buffer
  * frame; one filtered join emits only (zone, intersecting-buffer)
  * pairs, and the per-zone angular-interval merge runs in
  * `mapGroups` over a frame bounded by zones × local buffer density —
  * never corpus-sized state. Transcendentals (atan2/acos) keep this
  * OUT of the hash-compared oracle surface by the same rule as
  * [[Lcc]]; GeoSpec pins the geometry against hand-built cases and
  * the 360°-conservation property.
  */
object EraseArcs {

  /** One surviving boundary arc of a zone circle, angles in RADIANS
    * counter-clockwise from +x in [0, 2π); `start == 0 && end == 2π`
    * encodes an untouched full circle.
    */
  case class Arc(zone_id: Int, start: Double, end: Double, len: Double)

  /** Merge-and-complement of covered angular intervals on one circle.
    * `covered` holds (center bearing θ0 ∈ (−π, π], half-width α ≤ π)
    * pairs; returns the UNCOVERED intervals in [0, 2π). Pure JVM —
    * unit-testable without Spark.
    */
  private[geo] def survivingIntervals(
      covered: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val tau = 2 * math.Pi
    if (covered.exists(_._2 >= math.Pi)) return Seq.empty // full cover
    // normalize to [0, 2π), split wrap-around intervals
    val flat = covered.flatMap { case (t0, a) =>
      val s = ((t0 - a) % tau + tau) % tau
      val e = s + 2 * a
      if (e <= tau) Seq((s, e)) else Seq((s, tau), (0.0, e - tau))
    }.sortBy(_._1)
    // merge overlapping covered intervals
    val merged = flat.foldLeft(List.empty[(Double, Double)]) {
      case (acc, (s, e)) => acc match {
        case (ps, pe) :: tail if s <= pe => (ps, math.max(pe, e)) :: tail
        case _ => (s, e) :: acc
      }
    }.reverse
    // complement within [0, 2π)
    if (merged.isEmpty) Seq((0.0, tau))
    else {
      val gaps = merged.sliding(2).collect {
        case Seq((_, e1), (s2, _)) if s2 > e1 => (e1, s2)
      }.toSeq
      val head = if (merged.head._1 > 0) Seq((0.0, merged.head._1)) else Nil
      val tail = if (merged.last._2 < tau) Seq((merged.last._2, tau)) else Nil
      head ++ gaps ++ tail
    }
  }

  /** EXACT area of (zone disk − union of buffer disks) via Green's
    * theorem over the region's arc boundary — the closed form of the
    * quantity the reference's final report wants (how much ground the
    * spray zone actually covers after opt-outs). Pure JVM on one
    * zone's geometry (buffer centers RELATIVE to the zone center);
    * unit- and grid-sampling-tested in GeoSpec without Spark.
    *
    * Boundary decomposition: the region's boundary is (a) the zone
    * circle's arcs not inside any buffer, traversed CCW, and (b) for
    * each buffer, the arcs of its circle inside the zone and outside
    * every other buffer, traversed CW (hole side). For an arc of a
    * circle centered (cx,cy) radius ρ over [θa,θb] CCW, ½∮(x dy − y dx)
    * = ½[ρ²Δθ + cx·ρ(sin θb − sin θa) − cy·ρ(cos θb − cos θa)]; CW
    * pieces contribute the negation. Exact-duplicate buffer centers
    * are deduplicated first (identical circles would erase each
    * other's boundary).
    */
  /** Green's-theorem contribution of a CCW arc of the circle centered
    * (cx,cy), radius ρ, over [a,b]: ½[ρ²Δθ + cx·ρ(sin b − sin a) −
    * cy·ρ(cos b − cos a)]. Shared by the circle and polygon kernels.
    */
  private def arcContrib(cx: Double, cy: Double, rho: Double,
      a: Double, b: Double): Double =
    0.5 * (rho * rho * (b - a) +
      cx * rho * (math.sin(b) - math.sin(a)) -
      cy * rho * (math.cos(b) - math.cos(a)))

  private def clampAcos(x: Double): Double =
    math.acos(math.max(-1.0, math.min(1.0, x)))

  /** Boundary decomposition of (zone disk − union of buffer disks),
    * shared by [[erasedArea]] and [[eraseRings]]: the zone circle's
    * surviving CCW intervals, plus — per buffer — the intervals of its
    * circle that lie ON the region boundary (inside the zone, outside
    * every other buffer; traversed CW by consumers). Buffers are
    * deduped, bound-filtered, and SORTED so piece identity downstream
    * is deterministic regardless of input row order (the interval
    * VALUES are order-independent already — [[survivingIntervals]]
    * sorts; only float-sum order shifts below 1e-10 relative).
    */
  private[geo] def boundaryDecomp(bigR: Double,
      buffersIn: Seq[(Double, Double)], r: Double)
      : (Seq[(Double, Double)],
         Seq[((Double, Double), Seq[(Double, Double)])]) = {
    // IndexedSeq: the grid below addresses buffers BY INDEX, and a
    // List-backed input would turn each lookup into an O(B) walk —
    // quietly restoring the quadratic this grid exists to remove
    val buffers = buffersIn.distinct.sorted
      .filter { case (x, y) => math.hypot(x, y) < bigR + r }.toIndexedSeq
    // (a) surviving zone arcs, CCW around the origin
    val zoneCovered = buffers.flatMap { case (ox, oy) =>
      val d = math.hypot(ox, oy)
      if (d >= bigR + r) None
      else if (d <= r - bigR) Some((0.0, math.Pi)) // boundary swallowed
      else if (d <= bigR - r) None                 // strictly interior
      else Some((math.atan2(oy, ox),
        clampAcos((d * d + bigR * bigR - r * r) / (2 * d * bigR))))
    }
    val zoneArcs = survivingIntervals(zoneCovered)
    // (b) per buffer: pieces inside the zone, outside other buffers.
    // Only buffers with center distance < 2r can cover each other's
    // circles, so neighbor lookup goes through a uniform grid of cell
    // size 2r (candidates = the 3×3 cell neighborhood) instead of the
    // all-pairs scan — the buffer-buffer grid join the area kernel's
    // scale note names, done in-process: per-buffer work tracks LOCAL
    // density, not the zone's total buffer count (the sf10 drive
    // measured the all-pairs form at 31× the sf1 line). Candidate
    // order is index-ascending; interval VALUES are order-independent
    // (survivingIntervals sorts), so the output is unchanged.
    val cell = 2 * r
    def cellOf(x: Double, y: Double): (Long, Long) =
      (math.floor(x / cell).toLong, math.floor(y / cell).toLong)
    val grid: Map[(Long, Long), Seq[Int]] =
      buffers.indices.groupBy(i => cellOf(buffers(i)._1, buffers(i)._2))
    val bufferArcs = buffers.zipWithIndex.map { case ((ox, oy), i) =>
      val d = math.hypot(ox, oy)
      // interval of THIS buffer circle lying inside the zone disk
      val inside: Option[(Double, Double)] =
        if (d >= bigR + r) None
        else if (d <= bigR - r) Some((0.0, math.Pi)) // whole circle inside
        else if (d <= r - bigR) None // zone inside buffer: circle outside
        else Some((math.atan2(-oy, -ox),
          clampAcos((d * d + r * r - bigR * bigR) / (2 * d * r))))
      val arcs = inside match {
        case None => Seq.empty[(Double, Double)]
        case Some((inB, inA)) =>
          // covered-by-others on this circle + the outside-zone band
          val (ci, cj) = cellOf(ox, oy)
          val near = (for {
            dx <- -1L to 1L; dy <- -1L to 1L
            j <- grid.getOrElse((ci + dx, cj + dy), Seq.empty)
            if j != i
          } yield j).sorted
          val others = near.map(buffers).flatMap { case (px, py) =>
              val dij = math.hypot(px - ox, py - oy)
              if (dij >= 2 * r) None
              else if (dij == 0.0) None // deduped above; safety
              else Some((math.atan2(py - oy, px - ox),
                clampAcos(dij / (2 * r))))
            }
          val outsideZone =
            if (inA >= math.Pi) Nil // fully inside: no outside band
            else Seq((inB + math.Pi, math.Pi - inA))
          survivingIntervals(others ++ outsideZone)
      }
      ((ox, oy), arcs)
    }
    (zoneArcs, bufferArcs)
  }

  private[graft] def erasedArea(bigR: Double,
      buffersIn: Seq[(Double, Double)], r: Double): Double = {
    val (zoneArcs, bufferArcs) = boundaryDecomp(bigR, buffersIn, r)
    val zonePart = zoneArcs
      .map { case (s, e) => arcContrib(0.0, 0.0, bigR, s, e) }.sum
    val bufferPart = bufferArcs.map { case ((ox, oy), arcs) =>
      arcs.map { case (s, e) => arcContrib(ox, oy, r, s, e) }.sum
    }.sum
    // hole pieces are CW: subtract their CCW-form contributions
    math.max(0.0, zonePart - bufferPart)
  }

  /** CONVEX-POLYGON generalization of [[erasedArea]] — the last
    * reference-geometry scope item (arcpy Erase on polygon zones,
    * reference GSheetsETL_Lab2.py:133) for convex vertex rings: EXACT
    * area of (convex polygon − union of buffer disks), same
    * Green's-theorem boundary decomposition:
    *
    *   (a) straight-edge pieces outside every disk, traversed CCW —
    *       per edge, each disk covers ONE parametric t-interval from
    *       the line-circle quadratic ‖A + t·AB − o‖² < r²; a 1-D
    *       interval merge + complement yields the survivors, and a
    *       segment P₁→P₂ contributes ½(x₁y₂ − x₂y₁);
    *   (b) per disk, the arcs of its circle inside the polygon and
    *       outside every other disk, traversed CW (hole side) — the
    *       circle's OUTSIDE-the-polygon set is, per edge half-plane,
    *       one angular interval centered on the outward normal's
    *       bearing with half-width acos(−proj/r) (proj = signed
    *       center distance): the SAME angular-interval merge
    *       ([[survivingIntervals]]) as the circle-circle case.
    *
    * Vertices may wind either way (the shoelace sign normalizes to
    * CCW). Pure JVM on one zone's geometry; unit- and grid-sampling-
    * tested in GeoSpec without Spark, and cross-checked against the
    * circle kernel via a fine regular polygon.
    */
  private[graft] def erasedAreaPoly(verticesIn: Seq[(Double, Double)],
      buffersIn: Seq[(Double, Double)], r: Double): Double = {
    require(verticesIn.size >= 3, "polygon needs >= 3 vertices")
    val shoelace = verticesIn.indices.map { i =>
      val (x1, y1) = verticesIn(i)
      val (x2, y2) = verticesIn((i + 1) % verticesIn.size)
      x1 * y2 - x2 * y1
    }.sum
    val vertices = if (shoelace >= 0) verticesIn else verticesIn.reverse
    // CONVEXITY is a hard precondition of this kernel: the per-edge
    // half-plane decomposition of a disk's outside-the-polygon set is
    // only valid when the polygon is the intersection of its edge
    // half-planes. A concave ring would return a silently-wrong area —
    // fail loudly instead (concave/holed rings go through
    // [[erasedAreaConcave]], which triangulates and sums this kernel).
    vertices.indices.foreach { i =>
      val (ax, ay) = vertices(i)
      val (bx, by) = vertices((i + 1) % vertices.size)
      val (cx2, cy2) = vertices((i + 2) % vertices.size)
      val cross = (bx - ax) * (cy2 - by) - (by - ay) * (cx2 - bx)
      require(cross >= -1e-9 * math.abs(shoelace),
        s"erasedAreaPoly: concave vertex at ($bx,$by) — " +
          "use erasedAreaConcave for non-convex rings")
    }
    val edges = vertices.indices.map { i =>
      (vertices(i), vertices((i + 1) % vertices.size))
    }
    val buffers = buffersIn.distinct
    // (a) surviving straight-edge pieces, CCW
    val edgePart = edges.map { case ((ax, ay), (bx, by)) =>
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      // a zero-length edge (repeated vertex) would 0-divide the
      // quadratic roots into NaN intervals and silently corrupt the
      // area — fail loudly instead (same discipline as the circle
      // kernel's loud guards)
      require(len2 > 0,
        s"erasedAreaPoly: degenerate zero-length edge at ($ax,$ay)")
      val covered = buffers.flatMap { case (ox, oy) =>
        val fx = ax - ox; val fy = ay - oy
        val bq = fx * dx + fy * dy
        val cq = fx * fx + fy * fy - r * r
        val disc = bq * bq - len2 * cq
        if (disc <= 0) None
        else {
          val sq = math.sqrt(disc)
          val s = math.max(0.0, (-bq - sq) / len2)
          val e = math.min(1.0, (-bq + sq) / len2)
          if (s < e) Some((s, e)) else None
        }
      }.sortBy(_._1)
      val merged = covered.foldLeft(List.empty[(Double, Double)]) {
        case (acc, (s, e)) => acc match {
          case (ps, pe) :: tl if s <= pe => (ps, math.max(pe, e)) :: tl
          case _ => (s, e) :: acc
        }
      }.reverse
      val bounds =
        0.0 +: merged.flatMap { case (s, e) => Seq(s, e) } :+ 1.0
      bounds.grouped(2).collect { case Seq(s, e) if e > s =>
        val x1 = ax + s * dx; val y1 = ay + s * dy
        val x2 = ax + e * dx; val y2 = ay + e * dy
        0.5 * (x1 * y2 - x2 * y1)
      }.sum
    }.sum
    // (b) per-disk hole arcs, CW (subtracted)
    val bufferPart = buffers.zipWithIndex.map { case ((ox, oy), i) =>
      var disjoint = false // circle fully outside one half-plane ⇒ disk ∩ polygon = ∅
      val outside = edges.flatMap { case ((ax, ay), (bx, by)) =>
        val nx = by - ay; val ny = -(bx - ax) // outward normal (CCW ring)
        val nn = math.hypot(nx, ny)
        val proj = (nx * (ox - ax) + ny * (oy - ay)) / nn
        val ce = -proj / r
        if (ce >= 1) None // circle never outside this edge
        else if (ce <= -1) { disjoint = true; None }
        else Some((math.atan2(ny, nx), clampAcos(ce)))
      }
      if (disjoint) 0.0
      else {
        val others = buffers.zipWithIndex.filter(_._2 != i).map(_._1)
          .flatMap { case (qx, qy) =>
            val dij = math.hypot(qx - ox, qy - oy)
            if (dij >= 2 * r || dij == 0.0) None
            else Some((math.atan2(qy - oy, qx - ox),
              clampAcos(dij / (2 * r))))
          }
        survivingIntervals(outside ++ others)
          .map { case (s, e) => arcContrib(ox, oy, r, s, e) }.sum
      }
    }.sum
    math.max(0.0, edgePart - bufferPart)
  }

  /** Ear-clipping triangulation of a SIMPLE polygon (concave allowed,
    * no self-intersections, no holes): returns triangles that PARTITION
    * the ring — disjoint interiors, union = polygon — so any additive
    * measure (area, erased area) sums exactly over them. O(n²) scan
    * per clip, fine for zone rings (≤ tens of vertices; the zone
    * catalog is cluster-constant — SCALE.md). Input winding is
    * normalized to CCW; consecutive duplicate vertices are dropped;
    * collinear vertices are clipped as degenerate (zero-area) ears.
    * Fails loudly on rings it cannot clip (self-intersecting input).
    */
  private[graft] def triangulate(ringIn: Seq[(Double, Double)])
      : Seq[Seq[(Double, Double)]] = {
    // drop consecutive duplicates (incl. a closing vertex == first)
    val dedup0 = ringIn.foldLeft(Vector.empty[(Double, Double)]) {
      (acc, v) => if (acc.nonEmpty && acc.last == v) acc else acc :+ v
    }
    val dedup = if (dedup0.size > 1 && dedup0.head == dedup0.last)
      dedup0.dropRight(1) else dedup0
    require(dedup.size >= 3, "triangulate: polygon needs >= 3 vertices")
    val shoelace = dedup.indices.map { i =>
      val (x1, y1) = dedup(i); val (x2, y2) = dedup((i + 1) % dedup.size)
      x1 * y2 - x2 * y1
    }.sum
    val eps = 1e-12 * math.max(1.0, math.abs(shoelace))
    var ring = if (shoelace >= 0) dedup else dedup.reverse
    val out = Vector.newBuilder[Seq[(Double, Double)]]
    def cross(a: (Double, Double), b: (Double, Double),
        c: (Double, Double)): Double =
      (b._1 - a._1) * (c._2 - b._2) - (b._2 - a._2) * (c._1 - b._1)
    // inside-OR-ON the triangle: a REFLEX vertex lying exactly on the
    // candidate diagonal (the L-shape corner case) makes the ear
    // invalid on one side even though it is not strictly interior —
    // the inclusive test blocks it. Rejecting a borderline-valid ear
    // is safe (another ear exists by the two-ears theorem; the loud
    // require below catches genuinely unclippable = self-intersecting
    // input).
    def inTriIncl(p: (Double, Double), a: (Double, Double),
        b: (Double, Double), c: (Double, Double)): Boolean =
      cross(a, b, p) >= -eps && cross(b, c, p) >= -eps &&
        cross(c, a, p) >= -eps
    while (ring.size > 3) {
      val n = ring.size
      val reflex = (0 until n).filter { i =>
        cross(ring((i + n - 1) % n), ring(i), ring((i + 1) % n)) < -eps
      }.map(ring).toSet
      val ear = (0 until n).find { i =>
        val a = ring((i + n - 1) % n); val b = ring(i)
        val c = ring((i + 1) % n)
        val cr = cross(a, b, c)
        if (cr < -eps) false // reflex vertex — never an ear
        else if (cr <= eps) true // collinear: zero-area ear, clip free
        else reflex.forall { p =>
          (p == a) || (p == b) || (p == c) || !inTriIncl(p, a, b, c)
        }
      }
      require(ear.isDefined,
        "triangulate: no ear found — ring is self-intersecting")
      val i = ear.get; val n2 = ring.size
      val tri = Seq(ring((i + n2 - 1) % n2), ring(i), ring((i + 1) % n2))
      // skip zero-area slivers (collinear clips) — they contribute
      // nothing and would trip erasedAreaPoly's zero-length-edge guard
      if (math.abs(cross(tri(0), tri(1), tri(2))) > eps) out += tri
      ring = ring.patch(i, Nil, 1)
    }
    out += ring.toSeq
    out.result()
  }

  /** GENERAL-POLYGON Erase area — concave rings and holes (the full
    * input domain of arcpy's Erase on polygon zones, reference
    * GSheetsETL_Lab2.py:133): EXACT area of
    * ((outer − ∪holes) − union of buffer disks).
    *
    * Reduction, not new geometry: ear-clip the outer ring (and each
    * hole ring) into triangles ([[triangulate]] — a PARTITION, so
    * areas add exactly), evaluate the CONVEX kernel
    * ([[erasedAreaPoly]]) per triangle (every triangle is convex),
    * and combine:
    *
    *   area(P∖U) = Σᵢ area(Tᵢ∖U)                 (outer triangles)
    *   area((P∖H)∖U) = area(P∖U) − Σⱼ area(Hⱼ∖U)  (holes ⊆ P, disjoint)
    *
    * — the second identity because (P∖U) ∩ Hⱼ = Hⱼ∖U for holes inside
    * the outer ring. A disk crossing several triangles contributes
    * each triangle's portion independently; internal edges carry no
    * double-count because each term is an AREA, not a contour piece.
    *
    * Preconditions (caller contract, same loud-failure discipline as
    * the convex kernel): simple rings, holes pairwise disjoint and
    * inside the outer ring.
    */
  private[graft] def erasedAreaConcave(outer: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]],
      buffers: Seq[(Double, Double)], r: Double): Double = {
    def piece(ring: Seq[(Double, Double)]): Double =
      triangulate(ring).map(t => erasedAreaPoly(t, buffers, r)).sum
    math.max(0.0, piece(outer) - holes.map(piece).sum)
  }

  // ---- GENERAL POLYGON SUBTRAHEND (round 12) -------------------------
  // arcpy Erase accepts ARBITRARY erase features, not only buffer
  // disks (the reference's only actual use is the 1500 ft buffer,
  // GSheetsETL_Lab2.py:129-133); this family completes the operator's
  // general contract: zone polygon − union of SUBTRAHEND POLYGONS.
  // Same Green's-theorem boundary decomposition as the disk kernels,
  // with the angular-interval machinery replaced by parametric
  // t-intervals on straight edges ("edge clipping"):
  //   (a) zone edges CCW, minus the t-intervals covered by any
  //       subtrahend (segment-in-polygon: crossing params + midpoint
  //       point-in-polygon per sub-interval);
  //   (b) each subtrahend's edges clipped to the convex zone and to
  //       the OUTSIDE of every other subtrahend, traversed REVERSED
  //       (the kept region lies right of the subtrahend's CCW edge).
  // All intersection points are rational in the vertex coordinates —
  // no transcendentals — but the clipping algorithm itself has no SQL
  // form, so the query keeps the erase family's declared no-oracle
  // rule with GeoSpec pinning hand cases, rectangle algebra,
  // inclusion-exclusion, winding invariance, grid sampling, and
  // convergence to the circle kernel on a fine n-gon subtrahend.

  /** Ray-cast point-in-polygon (strict interior for generic points;
    * boundary points are resolved arbitrarily — callers only test
    * interval MIDPOINTS, which are off-boundary in general position).
    */
  private def pointInPoly(px: Double, py: Double,
      poly: Seq[(Double, Double)]): Boolean = {
    var in = false
    var j = poly.size - 1
    var i = 0
    while (i < poly.size) {
      val (xi, yi) = poly(i); val (xj, yj) = poly(j)
      if ((yi > py) != (yj > py) &&
          px < (xj - xi) * (py - yi) / (yj - yi) + xi) in = !in
      j = i; i += 1
    }
    in
  }

  /** Merged t-intervals of segment A→B lying inside simple polygon
    * `poly` (winding-agnostic): crossing parameters against every
    * polygon edge split [0,1]; each sub-interval is classified by its
    * midpoint. Degenerate polygon edges fail loudly (same discipline
    * as the convex kernel).
    */
  private def segInPolyIntervals(ax: Double, ay: Double, bx: Double,
      by: Double, poly: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val dx = bx - ax; val dy = by - ay
    val ts = Seq.newBuilder[Double]
    poly.indices.foreach { i =>
      val (cx, cy) = poly(i)
      val (ex, ey) = poly((i + 1) % poly.size)
      val fx = ex - cx; val fy = ey - cy
      require(fx != 0.0 || fy != 0.0,
        s"erasedAreaPolySub: degenerate subtrahend edge at ($cx,$cy)")
      val denom = dx * fy - dy * fx
      if (denom != 0.0) {
        val t = ((cx - ax) * fy - (cy - ay) * fx) / denom
        val u = ((cx - ax) * dy - (cy - ay) * dx) / denom
        if (t > 0.0 && t < 1.0 && u >= 0.0 && u <= 1.0) ts += t
      }
    }
    val bounds = (0.0 +: ts.result().sorted :+ 1.0).distinct
    bounds.sliding(2).collect { case Seq(s, e) if e > s &&
        pointInPoly(ax + (s + e) / 2 * dx, ay + (s + e) / 2 * dy, poly) =>
      (s, e)
    }.toSeq
  }

  /** 1-D interval merge (inputs clamped to [0,1], sorted by start). */
  private def mergeIntervals(
      in: Seq[(Double, Double)]): List[(Double, Double)] =
    in.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case (acc, (s, e)) => acc match {
        case (ps, pe) :: tl if s <= pe => (ps, math.max(pe, e)) :: tl
        case _ => (s, e) :: acc
      }
    }.reverse

  /** CCW-normalize a ring (loud guard on degenerate rings) — one code
    * path for the area kernels and the piece kernel
    * ([[polyZonePieces]]). */
  private def normalizeCcw(ring: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    require(ring.size >= 3, "subtrahend needs >= 3 vertices")
    val sl = ring.indices.map { i =>
      val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.size)
      x1 * y2 - x2 * y1
    }.sum
    if (sl >= 0) ring else ring.reverse
  }

  /** Canonical form of a ring for duplicate detection: CCW winding,
    * rotated to start at the lexicographically smallest vertex. Two
    * rings listing the same polygon through a rotated vertex order or
    * opposite winding canonicalize identically (r12 ADVICE: plain
    * representation `distinct` missed those, and two same-polygon
    * rings would then each see the other covering all their edges —
    * the union boundary silently vanished instead of erasing once).
    * Rings that differ in vertex SET (e.g. an inserted collinear
    * vertex) remain distinct representations — out of scope, same as
    * the general-position contract. Geometry is unchanged. */
  private[geo] def canonicalRing(ringIn: Seq[(Double, Double)])
      : Seq[(Double, Double)] = {
    val ring = normalizeCcw(ringIn)
    val i = ring.indices.minBy(ring(_))
    ring.drop(i) ++ ring.take(i)
  }

  /** CCW-normalized vertices + edges of a CONVEX zone ring (loud
    * guards) for [[erasedAreaPolySub]]. */
  private def convexZoneEdges(verticesIn: Seq[(Double, Double)])
      : IndexedSeq[((Double, Double), (Double, Double))] = {
    require(verticesIn.size >= 3, "polygon needs >= 3 vertices")
    val shoelace = verticesIn.indices.map { i =>
      val (x1, y1) = verticesIn(i)
      val (x2, y2) = verticesIn((i + 1) % verticesIn.size)
      x1 * y2 - x2 * y1
    }.sum
    val vertices = if (shoelace >= 0) verticesIn else verticesIn.reverse
    vertices.indices.foreach { i =>
      val (ax, ay) = vertices(i)
      val (bx, by) = vertices((i + 1) % vertices.size)
      val (cx2, cy2) = vertices((i + 2) % vertices.size)
      val cross = (bx - ax) * (cy2 - by) - (by - ay) * (cx2 - bx)
      require(cross >= -1e-9 * math.abs(shoelace),
        s"erasedAreaPolySub: concave vertex at ($bx,$by) — " +
          "use erasedAreaConcaveSub for non-convex zones")
    }
    vertices.indices.map { i =>
      (vertices(i), vertices((i + 1) % vertices.size))
    }.toIndexedSeq
  }

  /** Common face of the two boundary-piece vocabularies ([[LinePiece]]
    * straight segments, [[RingPiece]] circular arcs): traversal
    * endpoints for the endpoint-matching [[stitch]] and the
    * Green's-theorem term along the traversal direction. Sealed so the
    * stitcher (one ring may alternate line and arc pieces) can
    * pattern-match exhaustively.
    */
  private[graft] sealed trait BoundaryPiece extends Serializable {
    def start: (Double, Double)
    def end: (Double, Double)
    def signedArea: Double
  }

  /** One directed boundary piece of a polygon-subtrahend erased
    * region: the straight segment (x1,y1) → (x2,y2) traversed with the
    * KEPT region on the left — zone-edge pieces run along the zone's
    * CCW ring; subtrahend-edge pieces run REVERSED (the hole side).
    * The linear analogue of [[RingPiece]]; `signedArea` is the
    * segment's Green's-theorem term along the traversal direction, so
    * Σ signedArea over all of a zone's pieces == [[erasedAreaPolySub]]
    * term-for-term (the area kernel sums exactly these).
    */
  private[graft] case class LinePiece(kind: String, x1: Double, y1: Double,
      x2: Double, y2: Double) extends BoundaryPiece {
    def start: (Double, Double) = (x1, y1)
    def end: (Double, Double) = (x2, y2)
    def signedArea: Double = 0.5 * (x1 * y2 - x2 * y1)
  }

  /** Surviving pieces of one zone edge traversed CCW minus its covered
    * intervals (MERGED, sorted) — the boundary (a) term piecewise;
    * [[zoneEdgeGreen]] is their signed-area sum (identical terms,
    * identical order, so the area and ring paths agree bitwise). */
  private def zoneEdgePieces(ax: Double, ay: Double, bx: Double, by: Double,
      covered: List[(Double, Double)]): Seq[LinePiece] = {
    val dx = bx - ax; val dy = by - ay
    require(dx != 0.0 || dy != 0.0,
      s"erasedAreaPolySub: degenerate zero-length edge at ($ax,$ay)")
    val bounds = 0.0 +: covered.flatMap { case (s, e) => Seq(s, e) } :+ 1.0
    bounds.grouped(2).collect { case Seq(s, e) if e > s =>
      LinePiece("zone", ax + s * dx, ay + s * dy, ax + e * dx, ay + e * dy)
    }.toSeq
  }

  /** Green's contribution of one zone edge traversed CCW minus its
    * covered intervals (MERGED, sorted). */
  private def zoneEdgeGreen(ax: Double, ay: Double, bx: Double, by: Double,
      covered: List[(Double, Double)]): Double =
    zoneEdgePieces(ax, ay, bx, by, covered).map(_.signedArea).sum

  /** The (b) term for ONE CCW subtrahend ring `p` against a convex
    * zone, for the area kernel: its edge pieces inside the
    * zone and outside every OTHER subtrahend (the `others` rings, any
    * exact superset of the actual coverers — non-coverers contribute
    * empty interval lists), traversed reversed.
    */
  private def subEdgePieces(
      zEdges: IndexedSeq[((Double, Double), (Double, Double))],
      p: Seq[(Double, Double)],
      others: Int => Seq[Seq[(Double, Double)]]): Seq[LinePiece] =
    p.indices.flatMap { i =>
      val (cx, cy) = p(i)
      val (ex, ey) = p((i + 1) % p.size)
      val dx = ex - cx; val dy = ey - cy
      require(dx != 0.0 || dy != 0.0,
        s"erasedAreaPolySub: degenerate subtrahend edge at ($cx,$cy)")
      // parametric clip of C→E to the convex CCW zone (inside = left
      // of every zone edge)
      var t0 = 0.0; var t1 = 1.0
      zEdges.foreach { case ((zax, zay), (zbx, zby)) =>
        val nx = zbx - zax; val ny = zby - zay
        val f0 = nx * (cy - zay) - ny * (cx - zax)
        val fd = nx * dy - ny * dx
        if (fd == 0.0) { if (f0 < 0.0) { t0 = 1.0; t1 = 0.0 } }
        else {
          val tc = -f0 / fd
          if (fd > 0.0) t0 = math.max(t0, tc)
          else t1 = math.min(t1, tc)
        }
      }
      if (t0 >= t1) Nil
      else {
        val coveredByOthers = mergeIntervals(
          others(i).flatMap(o => segInPolyIntervals(cx, cy, ex, ey, o)))
        // survivors of [t0, t1] minus coveredByOthers, each traversed
        // e → s (kept side left — the hole side of the subtrahend)
        var cur = t0
        val acc = Seq.newBuilder[LinePiece]
        def reversedPiece(s: Double, e: Double): LinePiece =
          LinePiece("sub", cx + e * dx, cy + e * dy,
            cx + s * dx, cy + s * dy)
        coveredByOthers.foreach { case (s, e) =>
          if (e > cur && s < t1) {
            if (s > cur) acc += reversedPiece(cur, math.min(s, t1))
            cur = math.max(cur, math.min(e, t1))
          }
        }
        if (cur < t1) acc += reversedPiece(cur, t1)
        acc.result()
      }
    }

  private def subContribution(
      zEdges: IndexedSeq[((Double, Double), (Double, Double))],
      p: Seq[(Double, Double)],
      others: Int => Seq[Seq[(Double, Double)]]): Double =
    subEdgePieces(zEdges, p, others).map(_.signedArea).sum

  /** Bbox-grid candidate lookup — the spatial prune for the pairwise
    * terms, shared by the area and ring kernels. A member whose
    * bounding box misses a query box cannot cover any part of it, so
    * bucket the boxes on a grid (cell = the largest box extent) and
    * probe only the cells a query box touches. Without this the
    * member-vs-member term is quadratic in the LOCAL member count —
    * measured 17 s at sf1 (~700 footprints/zone) and unusable at sf10;
    * physically near-disjoint parcels prune to O(1) candidates per
    * edge. Returns the sorted indices whose box may intersect the box
    * spanned by two corners (an exact superset of the coverers).
    */
  private def bboxIndex(boxes: IndexedSeq[(Double, Double, Double, Double)])
      : (Double, Double, Double, Double) => Seq[Int] = {
    val cellSz = math.max(1.0, boxes.map { case (x0, y0, x1, y1) =>
      math.max(x1 - x0, y1 - y0) }.foldLeft(0.0)(math.max))
    val grid = new java.util.HashMap[Long, List[Int]]()
    def cellKey(cx: Long, cy: Long): Long = cx * 0x100000000L + cy
    boxes.zipWithIndex.foreach { case ((x0, y0, x1, y1), k) =>
      var cx = math.floor(x0 / cellSz).toLong
      while (cx <= math.floor(x1 / cellSz).toLong) {
        var cy = math.floor(y0 / cellSz).toLong
        while (cy <= math.floor(y1 / cellSz).toLong) {
          val key = cellKey(cx, cy)
          grid.put(key, k :: Option(grid.get(key)).getOrElse(Nil))
          cy += 1
        }
        cx += 1
      }
    }
    // EMPTY boxes short-circuit: with no boxes cellSz floors at 1.0 ft
    // and the scan below would walk every 1-ft cell of the query box —
    // at state-plane coordinates ~10⁶ iterations for a guaranteed-empty
    // answer
    (ax, ay, bx, by) => if (boxes.isEmpty) Nil else {
      val x0 = math.min(ax, bx); val x1 = math.max(ax, bx)
      val y0 = math.min(ay, by); val y1 = math.max(ay, by)
      val out = scala.collection.mutable.SortedSet.empty[Int]
      var cx = math.floor(x0 / cellSz).toLong
      while (cx <= math.floor(x1 / cellSz).toLong) {
        var cy = math.floor(y0 / cellSz).toLong
        while (cy <= math.floor(y1 / cellSz).toLong) {
          val l = grid.get(cellKey(cx, cy))
          if (l != null) l.foreach { k =>
            val (bx0, by0, bx1, by1) = boxes(k)
            if (bx0 <= x1 && x0 <= bx1 && by0 <= y1 && y0 <= by1) out += k
          }
          cy += 1
        }
        cx += 1
      }
      out.toSeq
    }
  }

  private def ringBox(p: Seq[(Double, Double)])
      : (Double, Double, Double, Double) =
    (p.map(_._1).min, p.map(_._2).min, p.map(_._1).max, p.map(_._2).max)

  /** A circle enclosing a ring: the vertex centroid and the farthest
    * vertex's distance from it — the candidate test of every
    * zone/triangle-to-member assignment. */
  private def boundingCircle(vs: Seq[(Double, Double)])
      : (Double, Double, Double) = {
    val cx = vs.map(_._1).sum / vs.size
    val cy = vs.map(_._2).sum / vs.size
    (cx, cy, vs.map { case (x, y) => math.hypot(x - cx, y - cy) }.max)
  }

  /** EXACT area of (convex zone polygon − union of subtrahend simple
    * polygons) — see the family header above. Zone ring requirements
    * match [[erasedAreaPoly]] (convex, loud guards); subtrahends may
    * be any simple rings in either winding and in general position
    * (no exactly-shared boundary segments between subtrahends).
    * Canonicalization (CCW + rotation-normalized) + distinct is
    * load-bearing: two same-polygon rings would otherwise each see the
    * other covering all their edges and the union boundary would
    * vanish.
    */
  private[graft] def erasedAreaPolySub(verticesIn: Seq[(Double, Double)],
      subsIn: Seq[Seq[(Double, Double)]]): Double = {
    val zEdges = convexZoneEdges(verticesIn)
    val subs = subsIn.map(canonicalRing).distinct.toIndexedSeq
    val candidatesNear = bboxIndex(subs.map(ringBox))
    // (a) zone-edge pieces outside every subtrahend, CCW
    val edgePart = zEdges.map { case ((ax, ay), (bx, by)) =>
      zoneEdgeGreen(ax, ay, bx, by,
        mergeIntervals(candidatesNear(ax, ay, bx, by)
          .flatMap(k => segInPolyIntervals(ax, ay, bx, by, subs(k)))))
    }.sum
    // (b) subtrahend-edge pieces inside the zone and outside every
    // other subtrahend, traversed REVERSED (kept region on the left)
    val subPart = subs.zipWithIndex.map { case (p, k) =>
      subContribution(zEdges, p, { i =>
        val (cx, cy) = p(i)
        val (ex, ey) = p((i + 1) % p.size)
        candidatesNear(cx, cy, ex, ey).filter(_ != k).map(subs)
      })
    }.sum
    math.max(0.0, edgePart + subPart)
  }

  /** GENERAL zone rings with polygon subtrahends: ear-clip the outer
    * and hole rings and sum the convex kernel per triangle — the same
    * additive-measure reduction as [[erasedAreaConcave]].
    */
  private[graft] def erasedAreaConcaveSub(outer: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]],
      subs: Seq[Seq[(Double, Double)]]): Double = {
    def piece(ring: Seq[(Double, Double)]): Double =
      triangulate(ring).map(t => erasedAreaPolySub(t, subs)).sum
    math.max(0.0, piece(outer) - holes.map(piece).sum)
  }

  /** Edge pieces of ONE ring member `p` (CCW) against a GENERAL simple
    * outer ring: the pieces of p's edges inside the outer ring and
    * outside every OTHER member (`others`, rings or disks — any
    * superset of the actual coverers), traversed REVERSED (kept region
    * on the left — the hole side). [[segInPolyIntervals]] against the
    * outer ring needs no convexity: a member edge can enter and leave a
    * concave outer ring several times, and each surviving sub-interval
    * becomes its own piece.
    */
  private def memberEdgePieces(outer: Seq[(Double, Double)],
      p: Seq[(Double, Double)], others: Seq[Member]): Seq[LinePiece] =
    p.indices.flatMap { i =>
      val (cx, cy) = p(i)
      val (ex, ey) = p((i + 1) % p.size)
      val dx = ex - cx; val dy = ey - cy
      require(dx != 0.0 || dy != 0.0,
        s"polyZoneRings: degenerate member edge at ($cx,$cy)")
      val inOuter = segInPolyIntervals(cx, cy, ex, ey, outer)
      val covered = mergeIntervals(
        others.flatMap(o => memberCover(cx, cy, ex, ey, o)))
      def reversedPiece(s: Double, e: Double): LinePiece =
        LinePiece("sub", cx + e * dx, cy + e * dy,
          cx + s * dx, cy + s * dy)
      // survivors: inOuter minus covered, each traversed e → s
      inOuter.flatMap { case (s0, e0) =>
        var cur = s0
        val acc = Seq.newBuilder[LinePiece]
        covered.foreach { case (s, e) =>
          if (e > cur && s < e0) {
            if (s > cur) acc += reversedPiece(cur, math.min(s, e0))
            cur = math.max(cur, math.min(e, e0))
          }
        }
        if (cur < e0) acc += reversedPiece(cur, e0)
        acc.result()
      }
    }

  // ---- POLYGON ZONES: RING OUTPUT ------------------------------------
  // One kernel ([[polyZoneRings]]), run once per zone by one plan
  // ([[polyZoneRingsPerZone]]), emits the output rings of
  // (polygon zone − ∪members) for every polygon-zone cell: a member is
  // a RING (a zone hole or a polygon subtrahend) or a DISK (a buffer).
  // A ring of the result alternates STRAIGHT pieces (outer edges CCW /
  // ring-member edges reversed, minus the t-intervals any member
  // covers) and ARC pieces (each disk circle's intervals inside the
  // outer ring and outside every other member, CW), joined at
  // edge-edge, segment-circle and circle-circle intersection points;
  // [[stitch]] chains them by endpoint matching.

  /** Raw parametric roots of ‖A + t·(dx,dy) − o‖² = r² (the covered
    * t-window of the segment's supporting line), or None when the line
    * misses or grazes the circle. Shared by the covered-interval and
    * crossing-angle consumers so both see the same IEEE values.
    */
  private def segDiskRoots(ax: Double, ay: Double, dx: Double, dy: Double,
      len2: Double, ox: Double, oy: Double, r: Double)
      : Option[(Double, Double)] = {
    val fx = ax - ox; val fy = ay - oy
    val bq = fx * dx + fy * dy
    val cq = fx * fx + fy * fy - r * r
    val disc = bq * bq - len2 * cq
    if (disc <= 0) None
    else {
      val sq = math.sqrt(disc)
      Some(((-bq - sq) / len2, (-bq + sq) / len2))
    }
  }

  /** Merged-input form of the disk cover of one segment: the clamped
    * t-interval in [0,1], or None — the same quadratic
    * [[erasedAreaPoly]]'s edge term integrates. */
  private def segDiskCover(ax: Double, ay: Double, dx: Double, dy: Double,
      len2: Double, ox: Double, oy: Double, r: Double)
      : Option[(Double, Double)] =
    segDiskRoots(ax, ay, dx, dy, len2, ox, oy, r).flatMap { case (t1, t2) =>
      val s = math.max(0.0, t1); val e = math.min(1.0, t2)
      if (s < e) Some((s, e)) else None
    }

  /** The arc pieces of ONE disk circle (center (ox,oy), radius r) on
    * the boundary of (outer − holes − disks): partition the circle at
    * every crossing angle (vs outer/hole edges — the shared quadratic
    * roots mapped through atan2 of the SAME intersection point the
    * line pieces end at, so stitch endpoints agree to IEEE rounding —
    * and vs other disk circles, bearing ± acos(d/2r)), classify each
    * sub-arc by its MIDPOINT (inside outer, outside every hole,
    * outside every other disk — the general-polygon analogue of the
    * convex half-plane interval algebra, valid with no convexity
    * assumption), then MERGE adjacent kept arcs. The merge makes the
    * output independent of the candidate set: a non-covering neighbor
    * in a superset (the kernel's bbox grid, or a zone-assigned disk
    * that misses this circle) adds either no crossing angles or only
    * splits both of whose sides classify identically — so any
    * candidate superset emits the SAME maximal pieces, not merely the
    * same union. `others` may be any
    * superset of the disks within 2r (a disk at ≥ 2r can cover no
    * point of this circle). Traversal is CW (`ccw = false` — the
    * region lies outside the disk), matching [[eraseRings]]'s buffer
    * arcs.
    */
  private def diskArcPieces(outer: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]], ox: Double, oy: Double,
      r: Double, others: Seq[(Double, Double)]): Seq[RingPiece] = {
    val tau = 2 * math.Pi
    val ringsAll = outer +: holes
    val segAngles = ringsAll.flatMap { ring =>
      ring.indices.flatMap { i =>
        val (ax, ay) = ring(i)
        val (bx, by) = ring((i + 1) % ring.size)
        val dx = bx - ax; val dy = by - ay
        val len2 = dx * dx + dy * dy
        require(len2 > 0,
          s"erasePolyDisk: degenerate zero-length edge at ($ax,$ay)")
        segDiskRoots(ax, ay, dx, dy, len2, ox, oy, r).toSeq
          .flatMap { case (t1, t2) => Seq(t1, t2) }
          .filter(t => t > 0.0 && t < 1.0)
          .map(t => math.atan2(ay + t * dy - oy, ax + t * dx - ox))
      }
    }
    val diskAngles = others.flatMap { case (qx, qy) =>
      val dij = math.hypot(qx - ox, qy - oy)
      if (dij >= 2 * r || dij == 0.0) Nil
      else {
        val th = math.atan2(qy - oy, qx - ox)
        val al = clampAcos(dij / (2 * r))
        Seq(th - al, th + al)
      }
    }
    val angles = (segAngles ++ diskAngles)
      .map(a => ((a % tau) + tau) % tau).distinct.sorted.toIndexedSeq
    def keepAt(a: Double): Boolean = {
      val px = ox + r * math.cos(a); val py = oy + r * math.sin(a)
      pointInPoly(px, py, outer) &&
        !holes.exists(h => pointInPoly(px, py, h)) &&
        !others.exists { case (qx, qy) =>
          math.hypot(px - qx, py - qy) < r }
    }
    val n = angles.size
    if (n == 0) {
      // No crossings: the circle lies entirely on one side of every
      // boundary component — classify by CONTAINMENT, not a sampled
      // circle point (a sample can land exactly ON a tangent boundary,
      // where ray-cast resolution is arbitrary; the adversarial
      // tangency property caught exactly that with an internally-
      // tangent disk). With equal radii another disk cannot contain
      // this circle without crossing it (only an exact duplicate
      // could, and duplicates are deduped), so other disks never cover
      // a crossing-free circle; a hole entirely INSIDE the disk leaves
      // the circle untouched, while a disk inside a hole is erased
      // from the region.
      val outerInDisk = outer.forall { case (x, y) =>
        math.hypot(x - ox, y - oy) < r }
      val inHole = holes.exists { h =>
        h.exists { case (x, y) => math.hypot(x - ox, y - oy) >= r } &&
          pointInPoly(ox, oy, h)
      }
      if (!outerInDisk && pointInPoly(ox, oy, outer) && !inHole)
        Seq(RingPiece(ccw = false, ox, oy, r, 0.0, tau))
      else Nil
    } else {
      // arc i spans [ext(i), ext(i+1)) in unwrapped angle space
      val ext = (angles ++ angles.map(_ + tau)) :+ (angles.head + 2 * tau)
      val kept = (0 until n).map { i =>
        keepAt(((ext(i) + ext(i + 1)) / 2) % tau)
      }
      if (kept.forall(identity))
        // crossing points exist but cover nothing (grazing candidates)
        Seq(RingPiece(ccw = false, ox, oy, r, 0.0, tau))
      else if (!kept.exists(identity)) Nil
      else {
        // cyclic merge of consecutive kept arcs, starting after a
        // non-kept arc so no run is split by the array seam
        val start = kept.indexOf(false)
        val merged = Vector.newBuilder[(Double, Double)]
        var run: Option[(Double, Double)] = None
        (0 until n).foreach { j =>
          val i = start + 1 + j
          if (kept(i % n)) {
            run = run match {
              case None => Some((ext(i), ext(i + 1)))
              case Some((s, _)) => Some((s, ext(i + 1)))
            }
          } else {
            run.foreach(merged += _); run = None
          }
        }
        run.foreach(merged += _)
        merged.result()
          .map { case (s, e) => if (s >= tau) (s - tau, e - tau) else (s, e) }
          .sortBy(_._1)
          .map { case (s, e) => RingPiece(ccw = false, ox, oy, r, s, e) }
      }
    }
  }

  /** Stitch directed boundary pieces (straight [[LinePiece]]s and
    * circle-arc [[RingPiece]]s, mixed freely) into closed rings: a
    * full-circle arc closes alone; every other piece chains end → start
    * by nearest-candidate endpoint matching through a start-point hash
    * grid (cell 4·tol, 3×3 probe — a nearest-scan over every remaining
    * piece made stitching O(pieces²) per zone). At every vertex of a
    * manifold boundary exactly one piece starts where another ends, and
    * the two endpoints — one point computed through two
    * parametrizations — agree to IEEE rounding, well inside `tol`. The
    * chain FAILS loudly when no piece continues (a non-manifold
    * boundary: tangency-degenerate input, outside the general-position
    * contract). Each ring is rotated to start at its smallest-keyed
    * piece and rings are ordered by that key, so the output does not
    * depend on piece arrival order. Orientation falls out of
    * construction (loops enclosing surviving area run CCW, hole loops
    * CW) and Σ ring signed areas is the region's Green's-theorem area.
    */
  private[graft] def stitch[P <: BoundaryPiece](piecesIn: Seq[P],
      tol: Double): Seq[Seq[P]] = {
    val (closed, openSeq) = piecesIn.partition {
      case rp: RingPiece => rp.isFullCircle
      case _ => false
    }
    val pieces = openSeq.toIndexedSeq
    def dist(a: (Double, Double), b: (Double, Double)): Double =
      math.hypot(a._1 - b._1, a._2 - b._2)
    val hcell = 4 * tol
    def hkey(p: (Double, Double)): (Long, Long) =
      (math.floor(p._1 / hcell).toLong, math.floor(p._2 / hcell).toLong)
    val byStart = scala.collection.mutable.HashMap
      .empty[(Long, Long), List[Int]]
    pieces.zipWithIndex.foreach { case (p, i) =>
      val k = hkey(p.start)
      byStart(k) = i :: byStart.getOrElse(k, Nil)
    }
    val used = Array.fill(pieces.size)(false)
    def takeAt(pt: (Double, Double)): Option[Int] = {
      val (ki, kj) = hkey(pt)
      val cands = for {
        dx <- -1L to 1L; dy <- -1L to 1L
        i <- byStart.getOrElse((ki + dx, kj + dy), Nil)
        if !used(i) && dist(pieces(i).start, pt) <= tol
      } yield i
      if (cands.isEmpty) None
      else Some(cands.minBy(i => (dist(pieces(i).start, pt), i)))
    }
    val chains = Vector.newBuilder[Seq[P]]
    pieces.indices.foreach { seed =>
      if (!used(seed)) {
        used(seed) = true
        val first = pieces(seed)
        val chain = scala.collection.mutable.ArrayBuffer(first)
        var cur = first
        while (dist(cur.end, first.start) > tol) {
          val idx = takeAt(cur.end).getOrElse(throw new
            IllegalArgumentException(
              "requirement failed: stitch: no piece starts at a " +
                "boundary vertex — tangency-degenerate input"))
          used(idx) = true
          cur = pieces(idx)
          chain += cur
        }
        chains += chain.toSeq
      }
    }
    // zone pieces first; distinct arcs on one circle have distinct
    // starts, so `e` never breaks a tie between circle-zone arcs
    def key(p: BoundaryPiece): (Int, Double, Double, Double, Double) =
      p match {
        case lp: LinePiece =>
          (if (lp.kind == "zone") 0 else 1, lp.x1, lp.y1, lp.x2, lp.y2)
        case rp: RingPiece => (if (rp.ccw) 0 else 2, rp.cx, rp.cy, rp.s, rp.e)
      }
    val ord = Ordering.Tuple5[Int, Double, Double, Double, Double]
    val rings = (closed.map(Seq(_)) ++ chains.result()).map { ring =>
      val i = ring.indices.minBy(j => key(ring(j)))(ord)
      ring.drop(i) ++ ring.take(i)
    }
    rings.sortBy(ring => key(ring.head))(ord)
  }

  /** Stitch tolerance for polygon zones: 1e-9 × the coordinate scale
    * of the pieces (state-plane feet reach ~10⁶–10⁷). */
  private def polyTol(pieces: Seq[BoundaryPiece]): Double =
    1e-9 * pieces.iterator.flatMap(p => Iterator(p.start._1.abs,
      p.start._2.abs, p.end._1.abs, p.end._2.abs)).foldLeft(1.0)(math.max)

  /** One member of a polygon zone's erase set: a RING (`kind` "ring" —
    * a zone hole or a polygon subtrahend, canonical CCW `vertices`) or
    * a DISK (`kind` "disk" — center (ox, oy), radius `rad`, no
    * vertices). In a member frame a ring's (ox, oy, rad) is a circle
    * enclosing it (the zone-assignment test).
    */
  private[graft] case class Member(kind: String, ox: Double, oy: Double,
      rad: Double, vertices: Seq[(Double, Double)]) {
    def isDisk: Boolean = kind == "disk"
    def box: (Double, Double, Double, Double) =
      if (isDisk) (ox - rad, oy - rad, ox + rad, oy + rad)
      else ringBox(vertices)
  }

  /** Raw (unmerged) t-intervals of segment A→B covered by member `m`:
    * the line-circle quadratic for a disk, segment-in-polygon for a
    * ring. */
  private def memberCover(ax: Double, ay: Double, bx: Double, by: Double,
      m: Member): Seq[(Double, Double)] =
    if (m.isDisk) {
      val dx = bx - ax; val dy = by - ay
      segDiskCover(ax, ay, dx, dy, dx * dx + dy * dy, m.ox, m.oy, m.rad)
        .toSeq
    } else segInPolyIntervals(ax, ay, bx, by, m.vertices)

  /** The boundary pieces member `m` contributes: a ring's edges inside
    * `outer` and outside every other member, reversed
    * ([[memberEdgePieces]]); a disk's arcs inside `outer` and outside
    * every other member, CW ([[diskArcPieces]], the ring members in the
    * role of holes). `others` may be any superset of the members whose
    * bounding box meets m's: a member that misses m adds no cover and
    * no crossing, so the pieces do not depend on which superset the
    * zone assignment and the bbox grid deliver.
    */
  private def memberPieces(outer: Seq[(Double, Double)], m: Member,
      others: Seq[Member]): Seq[BoundaryPiece] =
    if (!m.isDisk) memberEdgePieces(outer, m.vertices, others)
    else {
      val (disks, rings) = others.partition(_.isDisk)
      diskArcPieces(outer, rings.map(_.vertices), m.ox, m.oy, m.rad,
        disks.map(d => (d.ox, d.oy)))
    }

  private def ringEdges(ring: Seq[(Double, Double)])
      : IndexedSeq[((Double, Double), (Double, Double))] =
    ring.indices.map(i => (ring(i), ring((i + 1) % ring.size)))

  /** Directed BOUNDARY PIECES of (general simple zone polygon − ∪ ring
    * members − ∪ disks of radius `r`), unstitched. The zone's holes
    * are passed as ring members: R = outer ∖ ∪members, so holes and
    * polygon subtrahends are the same thing to the boundary algebra (a
    * subtrahend overlapping a hole is resolved by the mutual
    * member-vs-member clipping); a convex zone is a zone with no
    * holes. Pieces: (a) outer edges CCW minus every member's cover;
    * (b) each ring member's edges inside the outer ring and outside
    * every other member, reversed; (c) each disk's arcs, CW. Rings are
    * canonicalized and deduplicated, disks deduplicated and sorted
    * (identical members would erase each other's boundary). The
    * region's area is Σ signedArea over these pieces (Green's
    * theorem): the same integral the stitched rings sum, but with no
    * stitch, so it cannot fail on tangencies. Caller contract: simple
    * rings in general position, holes inside the outer ring.
    */
  private[graft] def polyZonePieces(outerIn: Seq[(Double, Double)],
      rings: Seq[Seq[(Double, Double)]], disks: Seq[(Double, Double)] = Nil,
      r: Double = 0.0): Seq[BoundaryPiece] = {
    require(outerIn.size >= 3, "polygon needs >= 3 vertices")
    val outer = normalizeCcw(outerIn)
    val members = (rings.map(canonicalRing).distinct
      .map(Member("ring", 0.0, 0.0, 0.0, _)) ++
      disks.distinct.sorted.map { case (x, y) => Member("disk", x, y, r, Nil) })
      .toIndexedSeq
    val near = bboxIndex(members.map(_.box))
    val zonePieces = ringEdges(outer).flatMap { case ((ax, ay), (bx, by)) =>
      zoneEdgePieces(ax, ay, bx, by, mergeIntervals(near(ax, ay, bx, by)
        .flatMap(k => memberCover(ax, ay, bx, by, members(k)))))
    }
    zonePieces ++ members.indices.flatMap { k =>
      val (x0, y0, x1, y1) = members(k).box
      memberPieces(outer, members(k),
        near(x0, y0, x1, y1).filter(_ != k).map(members))
    }
  }

  /** OUTPUT RINGS of the same region — the feature class arcpy's Erase
    * emits (GSheetsETL_Lab2.py:133) on polygon zones: the
    * [[polyZonePieces]] chained by [[stitch]]; tangency fails loudly in
    * the stitcher. GeoSpec pins closure, orientation, Σ ring signed
    * areas against the INDEPENDENT area kernels, determinism, and the
    * distributed replay.
    */
  private[graft] def polyZoneRings(outerIn: Seq[(Double, Double)],
      rings: Seq[Seq[(Double, Double)]], disks: Seq[(Double, Double)] = Nil,
      r: Double = 0.0): Seq[Seq[BoundaryPiece]] = {
    val pieces = polyZonePieces(outerIn, rings, disks, r)
    stitch(pieces, polyTol(pieces))
  }

  /** One output row of the polygon-zone ring frame: line pieces carry
    * their endpoints and NULL arc columns; arc pieces carry traversal
    * endpoints (start/end of the CW traversal) plus center, radius,
    * and the CCW-parameter angle window in degrees.
    */
  private[graft] case class RingRow(ring_id: Long, piece_seq: Long,
      kind: String, x1_ft: Double, y1_ft: Double, x2_ft: Double,
      y2_ft: Double, cx_ft: Option[Double], cy_ft: Option[Double],
      rho_ft: Option[Double], start_deg: Option[Double],
      end_deg: Option[Double], ring_area_sqft: Double)

  private def ringRow(ri: Long, pi: Long, p: BoundaryPiece,
      area: Double): RingRow = p match {
    case lp: LinePiece =>
      RingRow(ri, pi, lp.kind, lp.x1, lp.y1, lp.x2, lp.y2,
        None, None, None, None, None, area)
    case rp: RingPiece =>
      val (sx, sy) = rp.start; val (ex, ey) = rp.end
      RingRow(ri, pi, "arc", sx, sy, ex, ey, Some(rp.cx), Some(rp.cy),
        Some(rp.rho), Some(rp.s * 180.0 / math.Pi),
        Some(rp.e * 180.0 / math.Pi), area)
  }

  /** [[polyZoneRings]] of one zone group as its output rows, ring by
    * ring, each ring's pieces in stitch order. */
  private val zoneRingRows = udf { (outer: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]], rings: Seq[Seq[(Double, Double)]],
      disks: Seq[(Double, Double)], r: Double) =>
    polyZoneRings(outer, holes ++ rings, disks, r).zipWithIndex.flatMap {
      case (ring, ri) =>
        val area = ring.map(_.signedArea).sum
        ring.zipWithIndex.map { case (p, pi) =>
          ringRow(ri.toLong, pi.toLong, p, area)
        }
    }
  }

  /** Surviving area of one zone group: Σ signed area of its
    * [[polyZonePieces]], floored at 0 (a fully erased zone has no
    * pieces and reads 0). */
  private val zoneArea = udf { (outer: Seq[(Double, Double)],
      holes: Seq[Seq[(Double, Double)]], rings: Seq[Seq[(Double, Double)]],
      disks: Seq[(Double, Double)], r: Double) =>
    math.max(0.0,
      polyZonePieces(outer, holes ++ rings, disks, r).map(_.signedArea).sum)
  }

  /** [[boundingCircle]] of a `vertices` column as a NOT NULL struct
    * (_1, _2, _3) = (cx, cy, rad): a join on non-null columns infers no
    * IS NOT NULL filters, which would copy the vertex expressions into
    * the scans' filters. */
  private val ringCircle =
    udf((vs: Seq[(Double, Double)]) => boundingCircle(vs)).asNonNullable()

  /** Disk members: one per buffer center (`x_ft`, `y_ft`), radius `r`. */
  def diskMembers(buffers: DataFrame, r: Double): DataFrame =
    buffers.select(lit("disk").as("kind"), col("x_ft").as("ox"),
      col("y_ft").as("oy"), lit(r).as("rad"),
      typedLit(Seq.empty[(Double, Double)]).as("vertices"))

  /** Ring members: one per `vertices` ring, as given, with its
    * [[boundingCircle]] as (ox, oy, rad). Re-wound, rotated or
    * repeated copies of one polygon stay separate rows;
    * [[polyZonePieces]] canonicalizes and deduplicates each zone's
    * rings, so they still erase once. */
  def ringMembers(subs: DataFrame): DataFrame =
    subs.select(ringCircle(col("vertices")).as("c"), col("vertices"))
      .select(lit("ring").as("kind"), col("c._1").as("ox"),
        col("c._2").as("oy"), col("c._3").as("rad"), col("vertices"))

  /** `members` assigned to every zone of `zones` (zone_id, vertices)
    * whose outer ring's bounding circle meets the member's (ox, oy, rad)
    * circle — an exact superset of the zones the member can touch. The
    * zones' circles are broadcast; columns: zone_id, then `members`'. */
  private def assignMembers(zones: DataFrame, members: DataFrame)
      : DataFrame = {
    val bound = zones.select(col("zone_id").cast("int").as("zone_id"),
      ringCircle(col("vertices")).as("b"))
    val brad = col("b._3")
    members.join(broadcast(bound),
        Geo.dist2(col("ox"), col("oy"), col("b._1"), col("b._2"))
          < (brad + col("rad")) * (brad + col("rad")))
      .select(col("zone_id") +: members.columns.map(col): _*)
  }

  /** One group per polygon zone — the step both polygon-zone plans
    * ([[polyZoneRingsPerZone]], [[polyZoneAreaPerZone]]) read: one
    * action, one exchange. `zones` holds (zone_id, vertices[, holes]);
    * `members` is a [[diskMembers]] frame (one radius) or a
    * [[ringMembers]] frame.
    *
    *   - the zone catalog stays in the plan: a broadcast of each zone's
    *     outer-ring bounding circle assigns members to every zone they
    *     can touch (an exact superset), and one SEED row per zone
    *     carries its outer ring and holes;
    *   - seeds ∪ members take ONE range exchange on zone_id, and one
    *     group per zone collects its outer ring, holes, ring members
    *     and disk centers — so a zone no member touches still has its
    *     group.
    *
    * The range partitioning satisfies the callers' final sort on
    * zone_id, so that sort is local — no second exchange, and the
    * range sampler reads seeds and members, never a kernel's output.
    * Building the plan runs no Spark job and caches nothing.
    *
    * Scale trade (SCALE.md): one task runs a zone's kernel, so the last
    * stage's parallelism is one task per zone. Given up: spreading ONE
    * dense zone's piece computation over several tasks; the kernel's
    * bbox grid ([[bboxIndex]]) keeps that work near-linear in the
    * zone's members.
    */
  private def zoneGroups(zones: DataFrame, members: DataFrame): DataFrame = {
    val seeds = zones.select(col("zone_id").cast("int").as("zone_id"),
      col("vertices").as("outer"),
      (if (zones.columns.contains("holes")) col("holes")
       else typedLit(Seq.empty[Seq[(Double, Double)]])).as("holes"))
    val isDisk = col("kind") === "disk" // NULL on seeds: in neither list
    assignMembers(zones, members)
      .unionByName(seeds, allowMissingColumns = true)
      .repartitionByRange(col("zone_id"))
      .groupBy(col("zone_id"))
      .agg(first(col("outer"), ignoreNulls = true).as("outer"),
        first(col("holes"), ignoreNulls = true).as("holes"),
        collect_list(when(!isDisk, col("vertices"))).as("rings"),
        collect_list(when(isDisk,
          struct(col("ox").as("_1"), col("oy").as("_2")))).as("disks"),
        coalesce(max(when(isDisk, col("rad"))), lit(0.0)).as("r"))
  }

  /** The kernel arguments of a [[zoneGroups]] row. */
  private val groupArgs =
    Seq("outer", "holes", "rings", "disks", "r").map(col)

  /** OUTPUT RINGS per polygon zone (see [[polyZoneRings]]): the kernel
    * runs once per [[zoneGroups]] group and its rows are exploded; a
    * zone no member touches emits its full rings from its seed. The
    * stitch is zone-serial in any form — one task chains a zone's
    * pieces. Rows: zone_id, ring_id, piece_seq, kind ("zone" / "sub" /
    * "arc"), x1..y2, arc center/radius/degree window (NULL on line
    * pieces), ring_area_sqft.
    */
  def polyZoneRingsPerZone(spark: SparkSession, zones: DataFrame,
      members: DataFrame): DataFrame =
    zoneGroups(zones, members)
      .select(col("zone_id"), explode(zoneRingRows(groupArgs: _*)).as("p"))
      .select(col("zone_id"), col("p.*"))

  /** Surviving area per polygon zone, one (zone_id, area_sqft) row per
    * zone of `zones`: Σ signed area of the [[polyZonePieces]] of each
    * [[zoneGroups]] group, floored at 0. A fully erased zone reads 0; a
    * zone no member touches keeps its exact area (outer minus holes).
    */
  def polyZoneAreaPerZone(spark: SparkSession, zones: DataFrame,
      members: DataFrame): DataFrame =
    zoneGroups(zones, members)
      .select(col("zone_id"), zoneArea(groupArgs: _*).as("area_sqft"))

  /** One directed boundary piece of an erased-zone output ring
    * (coordinates RELATIVE to the zone center): a circular arc of the
    * circle centered (cx, cy) radius rho over the CCW-parameterized
    * interval [s, e]. Zone pieces (`ccw`) are traversed s → e (region
    * on the left); buffer hole pieces (!ccw) are traversed e → s — the
    * CW hole side. `s == 0 && e == 2π` is a closed full-circle ring.
    */
  private[graft] case class RingPiece(ccw: Boolean, cx: Double,
      cy: Double, rho: Double, s: Double, e: Double) extends BoundaryPiece {
    private def at(a: Double): (Double, Double) =
      (cx + rho * math.cos(a), cy + rho * math.sin(a))
    def start: (Double, Double) = if (ccw) at(s) else at(e)
    def end: (Double, Double) = if (ccw) at(e) else at(s)
    def isFullCircle: Boolean = s == 0.0 && e == 2 * math.Pi
    /** Green's-theorem contribution along the TRAVERSAL direction. */
    def signedArea: Double = {
      val c = arcContrib(cx, cy, rho, s, e)
      if (ccw) c else -c
    }
  }

  /** OUTPUT RINGS of (zone disk − union of buffer disks) — the feature
    * class arcpy's Erase actually emits (reference GSheetsETL_Lab2
    * .py:133), stitched from the same boundary pieces the area kernel
    * integrates ([[boundaryDecomp]]): each connected boundary loop
    * alternates zone arcs (CCW) and buffer hole arcs (CW) joined at
    * circle-circle intersection points; a full untouched circle (zone
    * or strictly-interior buffer) closes alone. [[stitch]] chains them
    * at tolerance 1e-6·(R+r) (intersection endpoints agree to IEEE
    * rounding — the same point computed through two trig paths).
    * Orientation falls out of construction: loops enclosing surviving
    * area run CCW (signed area > 0), hole loops run CW (< 0), and
    * Σ signed areas == [[erasedArea]] (same arcContrib terms).
    */
  private[graft] def eraseRings(bigR: Double,
      buffersIn: Seq[(Double, Double)], r: Double)
      : Seq[Seq[RingPiece]] = {
    val (zoneArcs, bufferArcs) = boundaryDecomp(bigR, buffersIn, r)
    val pieces =
      zoneArcs.map { case (s, e) =>
        RingPiece(ccw = true, 0.0, 0.0, bigR, s, e) } ++
      bufferArcs.flatMap { case ((ox, oy), arcs) =>
        arcs.map { case (s, e) =>
          RingPiece(ccw = false, ox, oy, r, s, e) } }
    stitch(pieces, 1e-6 * (bigR + r))
  }

  /** Output rings per zone (see [[eraseRings]]): one row per ring
    * piece with absolute coordinates, degree angles, traversal
    * direction, and the ring's signed area. Same broadcast-join
    * candidate generation and zone-catalog-bounded driver assembly as
    * [[eraseArcs]]; zones with no candidate buffer emit their full
    * circle as a one-piece CCW ring. Transcendental (atan2/acos) —
    * rows-only in the driver check by the same declared rule as
    * `wnv_erase_arcs`; GeoSpec pins closure, orientation, and
    * area-of-rings == [[erasedArea]].
    */
  def eraseRingsPerZone(spark: SparkSession, zones: DataFrame,
      buffers: DataFrame, bufferFt: Double): DataFrame = {
    import spark.implicits._
    val zcat = zones.select(col("zone_id").cast("int"),
        col("cx_ft"), col("cy_ft"), col("radius_ft"))
      .as[(Int, Double, Double, Double)].collect().toSeq.sortBy(_._1)
    val pairs = buffers.select(col("x_ft"), col("y_ft"))
      .join(broadcast(zones.select(col("zone_id"), col("cx_ft"),
        col("cy_ft"), col("radius_ft"))),
        Geo.dist2(col("x_ft"), col("y_ft"), col("cx_ft"), col("cy_ft"))
          < (col("radius_ft") + bufferFt) * (col("radius_ft") + bufferFt))
      .select(col("zone_id").cast("int"),
        (col("x_ft") - col("cx_ft")).as("dx"),
        (col("y_ft") - col("cy_ft")).as("dy"), col("radius_ft"))
      .as[(Int, Double, Double, Double)]
    val touched = pairs.groupByKey(_._1).mapGroups { (zid, rows) =>
      val rs = rows.toSeq
      zid -> eraseRings(rs.head._4, rs.map(t => (t._2, t._3)), bufferFt)
    }.collect().toMap
    val tau = 2 * math.Pi
    val out = zcat.flatMap { case (z, zcx, zcy, zr) =>
      val rings = touched.getOrElse(z,
        Seq(Seq(RingPiece(ccw = true, 0.0, 0.0, zr, 0.0, tau))))
      rings.zipWithIndex.flatMap { case (ring, ri) =>
        val area = ring.map(_.signedArea).sum
        ring.zipWithIndex.map { case (p, pi) =>
          (z, ri.toLong, pi.toLong,
            if (p.ccw) "zone" else "hole", p.ccw,
            p.cx + zcx, p.cy + zcy, p.rho,
            p.s * 180.0 / math.Pi, p.e * 180.0 / math.Pi, area)
        }
      }
    }
    out.toDF("zone_id", "ring_id", "piece_seq", "kind", "ccw",
      "cx_ft", "cy_ft", "rho_ft", "start_deg", "end_deg",
      "ring_area_sqft")
  }

  /** Surviving boundary arcs per zone after erasing `buffers`.
    *
    * @param zones   zone catalog: zone_id, cx_ft, cy_ft, radius_ft
    *                (bounded — broadcast side)
    * @param buffers buffer centers: x_ft, y_ft (corpus side)
    * @param bufferFt buffer radius (the reference's 1500 ft)
    */
  def eraseArcs(spark: SparkSession, zones: DataFrame, buffers: DataFrame,
      bufferFt: Double): Dataset[Arc] = {
    import spark.implicits._
    val pairs = buffers.select(col("x_ft"), col("y_ft"))
      .join(broadcast(zones.select(col("zone_id"), col("cx_ft"),
        col("cy_ft"), col("radius_ft"))),
        // only buffers that can touch the boundary: |R−r| < d < R+r.
        // d² bounds avoid any sqrt in the join predicate.
        Geo.dist2(col("x_ft"), col("y_ft"), col("cx_ft"), col("cy_ft"))
          < (col("radius_ft") + bufferFt) * (col("radius_ft") + bufferFt))
    val zoneIds = zones.select(col("zone_id").cast("int")).as[Int].collect()
    val coveredByZone = pairs.select(col("zone_id").cast("int"),
        col("x_ft"), col("y_ft"), col("cx_ft"), col("cy_ft"),
        col("radius_ft"))
      .as[(Int, Double, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (zid, rows) =>
        val covered = rows.flatMap { case (_, ox, oy, cx, cy, bigR) =>
          val dx = ox - cx; val dy = oy - cy
          val d = math.sqrt(dx * dx + dy * dy)
          val r = bufferFt
          if (d >= bigR + r) None                      // no touch
          else if (d <= r - bigR) Some((0.0, math.Pi)) // full cover
          else if (d <= bigR - r) None                 // strictly interior
          else {
            val cosA = (d * d + bigR * bigR - r * r) / (2 * d * bigR)
            Some((math.atan2(dy, dx),
              math.acos(math.max(-1.0, math.min(1.0, cosA)))))
          }
        }.toSeq
        zid -> survivingIntervals(covered)
      }
    // the result is zone-catalog-bounded (≤ |zones| rows of ≤ a few
    // arcs), so it assembles driver-side in ONE job — the same bounded
    // collect the S7 presentation sink performs; zones with no
    // intersecting buffer never reach mapGroups and survive whole
    val tau = 2 * math.Pi
    val perZone = coveredByZone.collect().toMap
    val all = zoneIds.toSeq.sorted.flatMap { z =>
      perZone.get(z) match {
        case None => Seq(Arc(z, 0.0, tau, tau))
        case Some(arcs) => arcs.map { case (s, e) => Arc(z, s, e, e - s) }
      }
    }
    spark.createDataset(all).orderBy("zone_id", "start")
  }
}
