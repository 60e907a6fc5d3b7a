package graft

/** Pure regression-guard math for [[Bench]], factored out so the guard
  * itself is unit-testable against doctored records (round-11 verdict
  * item 5: the 2x trigger was added in round 10 and immediately missed
  * four real 1.3-1.73x regressions, and no synthetic demo ever proved
  * the guard could fire at all).
  *
  * Two tiers (both steal-normalized against the committed sweep):
  *   - lines >= 0.5 s regress at > 1.4x — every real regression in
  *     rounds 10-11 sat in 1.3-1.73x, under the old 2x trigger;
  *   - lines in [0.25, 0.5) s keep the 2x trigger — sub-half-second
  *     lines flip 1.4x on JIT/page-cache noise alone (measured: the
  *     r9-r11 sweeps show ~1.3x run-to-run jitter on 0.3 s lines).
  *
  * Steal-median blind spot (round-11 ADVICE): normalizing by the
  * sweep-median ratio hides a UNIFORM regression — e.g. slowing a
  * shared memoized artifact that most dedup queries consume inflates
  * the median itself. [[stealAlert]] flags the sweep when the median
  * factor exceeds 2x: that reading is either a genuinely loaded host
  * (rerun on a quiet one) or a broad plan regression — either way the
  * sweep must not be trusted silently.
  */
object BenchGuard {

  /** Regression threshold for a query at best-of-N time `v` seconds. */
  def threshold(v: Double): Double = if (v >= 0.5) 1.4 else 2.0

  /** Median of per-query current/previous ratios (the steal factor). */
  def stealMedian(ratios: Seq[Double]): Option[Double] = {
    val s = ratios.sorted
    if (s.isEmpty) None
    else Some(if (s.size % 2 == 1) s(s.size / 2)
              else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
  }

  /** Queries whose steal-normalized ratio vs the committed record
    * exceeds their tier threshold. Floor at 0.25 s: sub-quarter-second
    * lines flip 2x on noise alone and would make the field cry wolf.
    */
  def regressed(timed: Seq[(String, Double)], prev: Map[String, Double],
                steal: Option[Double]): Seq[String] =
    steal.map { sfv =>
      timed.collect { case (k, v)
          if v >= 0.25 && prev.get(k).exists(p =>
            p > 0 && v / p / sfv > threshold(v)) => k }.sorted
    }.getOrElse(Seq.empty)

  /** The sweep total (`value`). A failed query (time < 0) counts at its
    * committed-record time, so a crash can never make the sweep read
    * faster than the record; one with no committed time counts 0. The
    * failure itself is listed in `failed`. */
  def total(timed: Seq[(String, Double)], prev: Map[String, Double]): Double =
    timed.map { case (k, v) => if (v >= 0) v else prev.getOrElse(k, 0.0) }.sum

  /** True when the sweep-median factor itself reads as a regression —
    * a uniform slowdown the per-query normalization cannot see. */
  def stealAlert(steal: Option[Double]): Boolean =
    steal.exists(_ > 2.0)
}
