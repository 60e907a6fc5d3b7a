package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, MapType, StructType}

/** Optimizer rule: decorrelate a MONOTONE SCALAR BOUND in a semi/anti
  * join into a per-key max/min aggregate join.
  *
  * A correlated `[NOT] EXISTS (… WHERE c.k = s.k AND c.x > f(s))`
  * reaches the end of Catalyst's optimizer as a LeftSemi/LeftAnti join
  * whose condition is equi keys plus one inequality between a
  * build-side column and a stream-side expression. Catalyst executes
  * that as a hash join with the inequality as a residual — and a hash
  * ANTI probe must scan its key bucket until some row satisfies the
  * residual, so when the equi key is low-cardinality (`c_nationkey`
  * has 25 values) every SURVIVING stream row walks its entire bucket:
  * O(|stream| · |build| / |keys|), quadratic per key. The round-15
  * full sf10 sweep measured exactly this: `sql_exists_subquery` took
  * 842 s (373× its sf1 time; every other query's median ratio was
  * 2.8×), and DuckDB executes the same text in 28 s only by brute
  * force too. At 100 TB the bucket walk is the difference between a
  * query and an outage.
  *
  * The bound is MONOTONE: `∃c ∈ group(s): c.x > t` ⟺ `max(c.x) > t`
  * (min for `<`). So the whole existential collapses to one row per
  * key (Neumann & Kemper, "Unnesting Arbitrary Queries", BTW 2015 —
  * the general aggregate-based decorrelation; this rule implements the
  * single-inequality case Catalyst's RewritePredicateSubquery leaves
  * on the table):
  *
  *   left ANTI JOIN right ON keys ∧ (x CMP t)
  *     → left LEFT OUTER JOIN (SELECT keys, MAX/MIN(x) mx FROM right
  *                             GROUP BY keys) ON keys
  *       WHERE NOT coalesce(mx CMP t, false)
  *   left SEMI JOIN … → INNER JOIN … WHERE (mx CMP t)
  *
  * The aggregate shuffles the build side ONCE into |keys| rows
  * (map-side partial — at 1000 executors the exchange carries
  * keys×partitions rows, not the table), and the join against it is
  * broadcast-sized whenever the key space is; stream multiplicity is
  * preserved because the aggregate is unique per key. Null semantics
  * are preserved exactly, with no special cases, by the coalesce:
  *   - empty key group (the EXISTS is false) → outer-join miss →
  *     mx NULL → coalesce false → anti keeps, semi drops;
  *   - all-NULL x in a group → MAX/MIN NULL → same as empty (a NULL x
  *     can never satisfy the comparison);
  *   - NULL stream key → join miss (EqualTo) → same — matching the
  *     anti join, where a NULL key equals nothing and the row survives;
  *   - NULL t → comparison NULL → coalesce false → anti keeps, semi
  *     drops, both matching the residual's three-valued logic.
  *
  * Scope guards:
  *   - LeftSemi/LeftAnti with ≥1 cross-side EqualTo conjunct, EXACTLY
  *     one cross-side inequality conjunct ({<, <=, >, >=} with one
  *     side referencing only the build side and the other only the
  *     stream side — two bounds do not decompose into one aggregate),
  *     and NOTHING else (a NOT-IN null-aware anti join arrives as an
  *     `Or(key = k, IsNull(...))` conjunct and is left alone);
  *   - every involved expression and the build plan deterministic;
  *   - idempotent via the reserved aggregate-alias name prefix.
  */
object BoundAntiJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val KeyPrefix = "__graft_bound"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, LeftAnti, Some(cond), _) =>
      rewrite(j, cond, anti = true).getOrElse(j)
    case j @ Join(_, _, LeftSemi, Some(cond), _) =>
      rewrite(j, cond, anti = false).getOrElse(j)
  }

  /** True if the type contains a float/double anywhere (top-level or
    * nested) — mirrors NormalizeFloatingNumbers' needNormalize scope.
    */
  private def hasFloatingPoint(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case a: ArrayType => hasFloatingPoint(a.elementType)
    case m: MapType =>
      hasFloatingPoint(m.keyType) || hasFloatingPoint(m.valueType)
    case s: StructType => s.fields.exists(f => hasFloatingPoint(f.dataType))
    case _ => false
  }

  /** The normalized bound: `rightExpr CMP leftExpr` with CMP one of
    * {<, <=, >, >=}; `useMax` selects the aggregate whose comparison
    * against the bound is equivalent to the existential.
    */
  private case class Bound(rightExpr: Expression, leftExpr: Expression,
      useMax: Boolean, mk: (Expression, Expression) => Expression)

  private def rewrite(j: Join, cond: Expression,
      anti: Boolean): Option[LogicalPlan] = {
    if (cond.references.exists(_.name.startsWith(KeyPrefix))) return None
    def leftOnly(e: Expression): Boolean =
      e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(j.left.outputSet)
    def rightOnly(e: Expression): Boolean =
      e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(j.right.outputSet)

    val equi = Seq.newBuilder[(Expression, Expression)] // (leftKey, rightKey)
    var nEqui = 0
    var bound: Option[Bound] = None
    def setBound(b: Bound): Boolean =
      if (bound.isDefined) false else { bound = Some(b); true }

    for (c <- splitConjunctivePredicates(cond)) {
      val ok = c match {
        case EqualTo(l, r) if leftOnly(l) && rightOnly(r) =>
          equi += ((l, r)); nEqui += 1; true
        case EqualTo(l, r) if rightOnly(l) && leftOnly(r) =>
          equi += ((r, l)); nEqui += 1; true
        // r CMP t forms (build column on the comparison's left)
        case GreaterThan(r, t) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = true, GreaterThan(_, _)))
        case GreaterThanOrEqual(r, t) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = true, GreaterThanOrEqual(_, _)))
        case LessThan(r, t) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = false, LessThan(_, _)))
        case LessThanOrEqual(r, t) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = false, LessThanOrEqual(_, _)))
        // t CMP r forms, flipped to the normalized orientation
        case GreaterThan(t, r) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = false, LessThan(_, _)))
        case GreaterThanOrEqual(t, r) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = false, LessThanOrEqual(_, _)))
        case LessThan(t, r) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = true, GreaterThan(_, _)))
        case LessThanOrEqual(t, r) if rightOnly(r) && leftOnly(t) =>
          setBound(Bound(r, t, useMax = true, GreaterThanOrEqual(_, _)))
        case _ => false
      }
      if (!ok) return None
    }
    val b = bound.getOrElse(return None)
    if (nEqui == 0) return None
    // aggregating replaces (not duplicates) the build subtree, but a
    // non-deterministic build makes the existential itself ill-defined
    // — leave those joins alone
    if (j.right.find(p => p.expressions.exists(!_.deterministic)).isDefined)
      return None

    val keys = equi.result()
    // This rule runs in the user-provided batch, AFTER Catalyst's
    // NormalizeFloatingNumbers pass — so the Aggregate grouping keys
    // and EqualTo join keys synthesized here would never be
    // normalized. A float/double key holding both 0.0 and -0.0 (or
    // distinct NaN bit patterns) would then split into multiple
    // aggregate groups, a stream row could match more than one agg
    // row, and the rewrite would change multiplicity. Skip those keys
    // (the reference workload's equi keys are all integral).
    if (keys.exists { case (lk, rk) =>
      hasFloatingPoint(lk.dataType) || hasFloatingPoint(rk.dataType)
    }) return None
    val keyAliases = keys.zipWithIndex.map { case ((_, rk), i) =>
      Alias(rk, s"${KeyPrefix}_k$i")()
    }
    val aggFn =
      if (b.useMax) Max(b.rightExpr).toAggregateExpression()
      else Min(b.rightExpr).toAggregateExpression()
    val mxAlias = Alias(aggFn, s"${KeyPrefix}_mx")()
    val agg = Aggregate(keys.map(_._2), keyAliases :+ mxAlias, j.right)
    val joinCond = keys.zip(keyAliases).map { case ((lk, _), ka) =>
      EqualTo(lk, ka.toAttribute)
    }.reduce[Expression](And(_, _))
    val existsPred = b.mk(mxAlias.toAttribute, b.leftExpr)
    // The stream side survives intact, so its hint is preserved; the
    // build subtree is REPLACED by its per-key aggregate (≤ |keys|
    // rows), so a right-side hint aimed at the original table is
    // deliberately dropped — broadcast eligibility re-derives from the
    // aggregate's (far smaller) stats. Caveat (r16 ADVICE #3): the
    // preserved LEFT hint is only actionable in the semi→Inner branch;
    // on the anti path's synthesized LeftOuter join, JoinSelection
    // cannot build-broadcast the preserved (left) side, so the hint is
    // inert there — carried through for uniformity, not effect.
    val hint = JoinHint(j.hint.leftHint, None)
    val rewritten =
      if (anti) {
        val outer = Join(j.left, agg, LeftOuter, Some(joinCond), hint)
        val keep = Not(Coalesce(Seq(existsPred, Literal(false, BooleanType))))
        Filter(keep, outer)
      } else {
        val inner = Join(j.left, agg, Inner, Some(joinCond), hint)
        Filter(existsPred, inner)
      }
    Some(Project(j.left.output, rewritten))
  }
}
