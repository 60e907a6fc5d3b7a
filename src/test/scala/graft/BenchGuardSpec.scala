package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doctored-record demos for the bench regression guard — the round-10
  * guard shipped with no proof it could fire, and round 11 showed its
  * 2x trigger missing every real (1.3-1.73x) regression. Each test is
  * a synthetic sweep-vs-committed-record pair with a known verdict.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val prev = Map(
    "dedup_minhash_lsh" -> 0.91, // the real r11 regression (1.55x, missed)
    "emb_covariance" -> 1.22,
    "q1_agg" -> 0.40,
    "q6_forecast" -> 0.10,
    "text_quality" -> 0.30)

  test("1.4x tier catches the exact regressions round 11 shipped") {
    // quiet host (steal ~1.0): lsh 0.91 -> 1.31 s (1.44x) and
    // covariance 1.22 -> 1.46 s (1.20x) — the first must fire at the
    // new 1.4x tier, the second is under threshold and must not.
    val timed = Seq(
      "dedup_minhash_lsh" -> 1.31, "emb_covariance" -> 1.46,
      "q1_agg" -> 0.40, "q6_forecast" -> 0.10, "text_quality" -> 0.30)
    val ratios = timed.collect { case (k, v) if prev.contains(k) => v / prev(k) }
    val steal = BenchGuard.stealMedian(ratios)
    assert(steal.exists(s => s > 0.9 && s < 1.3))
    assert(BenchGuard.regressed(timed, prev, steal) === Seq("dedup_minhash_lsh"))
  }

  test("sub-0.5s lines keep the 2x trigger; sub-0.25s lines never fire") {
    val timed = Seq(
      "text_quality" -> 0.65, // 0.30 -> 0.65 = 2.17x, >= 0.5s so 1.4x tier fires
      "q6_forecast" -> 0.24,  // 2.4x but under the 0.25s floor
      "q1_agg" -> 0.41, "dedup_minhash_lsh" -> 0.92, "emb_covariance" -> 1.23)
    assert(BenchGuard.regressed(timed, prev, Some(1.0)) === Seq("text_quality"))
    // in the 0.25-0.5s band a 1.6x move is noise, a >2x move is real
    val band = Seq("q1_agg" -> 0.45) // 0.28 -> 0.45 = 1.6x, band tier = 2x
    assert(BenchGuard.regressed(band, Map("q1_agg" -> 0.28), Some(1.0)).isEmpty)
    val band2 = Seq("q1_agg" -> 0.34) // vs doctored prev 0.15 = 2.27x
    assert(BenchGuard.regressed(band2, Map("q1_agg" -> 0.15), Some(1.0))
      === Seq("q1_agg"))
  }

  test("steal normalization absorbs a loaded host, steal_alert flags a uniform one") {
    // everything uniformly 1.6x slower (host contention): nothing regresses
    val loaded = prev.toSeq.map { case (k, v) => k -> v * 1.6 }
    val steal = BenchGuard.stealMedian(loaded.map { case (k, v) => v / prev(k) })
    assert(steal.exists(s => math.abs(s - 1.6) < 1e-9))
    assert(BenchGuard.regressed(loaded, prev, steal).isEmpty)
    assert(!BenchGuard.stealAlert(steal))
    // everything uniformly 2.5x slower — per-query normalization sees
    // nothing, but the sweep itself must be flagged untrustworthy
    val broad = prev.toSeq.map { case (k, v) => k -> v * 2.5 }
    val steal2 = BenchGuard.stealMedian(broad.map { case (k, v) => v / prev(k) })
    assert(BenchGuard.regressed(broad, prev, steal2).isEmpty)
    assert(BenchGuard.stealAlert(steal2))
  }

  test("a failing query cannot lower the total") {
    val record = prev.values.sum
    def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9
    val ok = prev.toSeq
    assert(near(BenchGuard.total(ok, prev), record))
    // a crash (-1) counts at its committed time, never as a free query
    val crashed = ok.map { case (k, v) =>
      k -> (if (k == "dedup_minhash_lsh") -1.0 else v) }
    assert(near(BenchGuard.total(crashed, prev), record))
    // however fast the surviving queries ran, the crash adds its record
    val faster = crashed.map { case (k, v) => k -> (if (v < 0) v else v / 2) }
    assert(near(BenchGuard.total(faster, prev), (record - 0.91) / 2 + 0.91))
    // every query failing reads the committed total, not 0
    assert(near(BenchGuard.total(ok.map(_._1 -> -1.0), prev), record))
    // a new query with no record and no successful run adds nothing
    assert(near(BenchGuard.total(ok :+ ("new_query" -> -1.0), prev), record))
  }

  test("no baseline -> no verdicts, empty ratios -> no median") {
    assert(BenchGuard.stealMedian(Nil).isEmpty)
    assert(BenchGuard.regressed(Seq("q1_agg" -> 9.9), Map.empty, Some(1.0)).isEmpty)
    assert(BenchGuard.regressed(Seq("q1_agg" -> 9.9), prev, None).isEmpty)
    assert(!BenchGuard.stealAlert(None))
  }
}
