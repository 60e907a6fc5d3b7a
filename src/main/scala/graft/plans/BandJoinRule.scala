package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, ByteType}

/** Optimizer rule: rewrite a pure band join — an inner join whose ONLY
  * cross-side predicate is `abs(a - b) <= w` with literal width `w` —
  * into a bucketed equi-join.
  *
  * Without this rule Catalyst has no equi-join key and plans a
  * CartesianProduct (or BroadcastNestedLoopJoin): O(n·m) comparisons —
  * the classic interval-proximity trap. The rewrite buckets both sides
  * at width `w` (left side exploded to its 3 covering buckets, right
  * side projected to 1) and equi-joins on the bucket, keeping the exact
  * band predicate as a residual filter. Any pair with |a-b| <= w lands
  * in a shared bucket (bucket indices differ by at most 1 whether the
  * division truncates or floors), so the rewrite is lossless; the
  * residual filter removes same-bucket pairs outside the band. Cost
  * drops to O(pairs-within-2w), shuffled as an ordinary hash join —
  * the same theta→equi trick hand-written in
  * [[graft.ops.Events]] `events_range_join` and the WNV grid-cell erase,
  * applied automatically by the planner.
  *
  * Scope guards:
  *   - inner joins only, integral-typed band operands, literal width > 0;
  *   - fires only when NO cross-side equality conjunct exists (with one,
  *     Catalyst already plans a hash join and the band is a cheap
  *     residual there);
  *   - idempotent: the rewritten join carries bucket attributes with a
  *     reserved name prefix, which the eligibility check refuses.
  */
object BandJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BktPrefix = "__graft_band_bkt"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, Inner, Some(cond), _) if eligible(j, cond) =>
      rewrite(j).getOrElse(j)
  }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `abs(x - y) <= w` (or `w >= abs(x - y)`; strict `<` also accepted —
    * tighter than the bucket coverage, so still lossless) with literal
    * integral `w`.
    */
  private object BandPredicate {
    def unapply(e: Expression): Option[(Expression, Expression, Long)] = {
      def fromAbs(abs: Expression, wLit: Expression): Option[(Expression, Expression, Long)] =
        (abs, wLit) match {
          case (Abs(Subtract(x, y, _), _), Literal(w, t))
              if integral(x) && integral(y) && (t == IntegerType || t == LongType) =>
            val width = w.toString.toLong
            if (width > 0) Some((x, y, width)) else None
          case _ => None
        }
      e match {
        case LessThanOrEqual(a, l) => fromAbs(a, l)
        case LessThan(a, l) => fromAbs(a, l)
        case GreaterThanOrEqual(l, a) => fromAbs(a, l)
        case GreaterThan(l, a) => fromAbs(a, l)
        case _ => None
      }
    }
  }

  private def eligible(j: Join, cond: Expression): Boolean = {
    if (cond.references.exists(_.name.startsWith(BktPrefix))) return false
    val conjuncts = splitConjunctivePredicates(cond)
    def crossSide(l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet)) ||
      (l.references.subsetOf(j.right.outputSet) &&
        r.references.subsetOf(j.left.outputSet))
    val hasEqui = conjuncts.exists {
      case EqualTo(l, r) => crossSide(l, r)
      case EqualNullSafe(l, r) => crossSide(l, r)
      case _ => false
    }
    !hasEqui && conjuncts.exists {
      case BandPredicate(x, y, _) => crossSide(x, y)
      case _ => false
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    val band = conjuncts.collectFirst {
      case p @ BandPredicate(x, y, w)
          if (x.references.subsetOf(j.left.outputSet) &&
            y.references.subsetOf(j.right.outputSet)) ||
          (x.references.subsetOf(j.right.outputSet) &&
            y.references.subsetOf(j.left.outputSet)) => (p, x, y, w)
    }
    band.map { case (pred, x, y, w) =>
      // orient: a from the left child, b from the right
      val (a, b) =
        if (x.references.subsetOf(j.left.outputSet)) (x, y) else (y, x)
      val wLit = Literal(w, LongType)
      def bucket(e: Expression): Expression =
        new IntegralDivide(Cast(e, LongType), wLit)
      val one = Literal(1L, LongType)

      // left: explode to the 3 covering buckets
      val bktL = bucket(a)
      val bktLAttr = AttributeReference(s"${BktPrefix}_l", LongType)()
      val gen = Generate(
        Explode(CreateArray(Seq(
          Subtract(bktL, one), bktL, Add(bktL, one)))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(bktLAttr), child = j.left)

      // right: project the single bucket
      val bktRAlias = Alias(bucket(b), s"${BktPrefix}_r")()
      val proj = Project(j.right.output :+ bktRAlias, j.right)

      val others = conjuncts.filterNot(_ eq pred)
      val newCond = (others :+ EqualTo(bktLAttr, bktRAlias.toAttribute) :+ pred)
        .reduce(And)
      Project(j.output,
        Join(gen, proj, Inner, Some(newCond), j.hint))
    }
  }
}
