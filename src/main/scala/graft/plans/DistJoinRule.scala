package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Optimizer rule: rewrite a pure planar DISTANCE join — an inner,
  * left-semi or left-anti join whose only cross-side predicate is the
  * squared-distance form `(ax−bx)² + (ay−by)² <= r²` with literal
  * radius-squared — into a 3×3 grid-cell equi-join: the 2-D
  * counterpart of [[BandJoinRule]], and the one grid planner for planar
  * distance joins: every WNV Erase (`graft.ops.Wnv.erase`) and
  * `wnv_point_pairs_auto` are written as plain theta joins.
  *
  * Without an equi key Catalyst plans CartesianProduct /
  * BroadcastNestedLoopJoin — O(n·m) distance evaluations, the classic
  * spatial-join trap. The rewrite snaps both sides to a square grid of
  * cell size s = nextUp(√r²) (one ulp above the true radius, so IEEE
  * sqrt rounding can never shrink the cell below the radius), explodes
  * the RIGHT side to its 3×3 covering cells (two chained Generates, 9×
  * fan-out), projects the single cell on the left, and equi-joins on
  * the (cellX, cellY) pair with the exact distance predicate kept as a
  * residual. Any pair within distance r has per-axis deltas <= r <= s,
  * so their cell indices differ by at most 1 per axis and meet in a
  * covering cell — lossless; the residual removes same-cell pairs
  * outside the radius. Cost drops to O(pairs within one cell
  * neighborhood), shuffled as an ordinary hash join on the cell key.
  *
  * Only the right (for semi/anti, existential) side fans out: a left
  * row keeps its multiplicity, and a NULL coordinate gives a NULL cell
  * that matches nothing — anti keeps the row, semi drops it, as the
  * NULL distance predicate does.
  *
  * Scope guards (mirroring [[BandJoinRule]]):
  *   - inner, left-semi and left-anti joins; double-typed coordinates;
  *     literal r² > 0;
  *   - fires only when NO cross-side equality conjunct exists;
  *   - idempotent via the reserved cell-attribute name prefix.
  */
object DistJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val CellPrefix = "__graft_dist_cell"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(_, _, Inner | LeftSemi | LeftAnti, Some(cond), _)
        if eligible(j, cond) => rewrite(j).getOrElse(j)
  }

  /** `(x1−x2)·(x1−x2) + (y1−y2)·(y1−y2) <= r2` (both multiply operands
    * semantically the same subtraction) with literal double `r2`.
    * Returns (ax, bx, ay, by, r2).
    */
  private object DistPredicate {
    def unapply(e: Expression)
        : Option[(Expression, Expression, Expression, Expression, Double)] = {
      def sq(m: Expression): Option[(Expression, Expression)] = m match {
        case Multiply(s1 @ Subtract(a, b, _), s2, _)
            if s1.semanticEquals(s2) && a.dataType == DoubleType &&
              b.dataType == DoubleType => Some((a, b))
        case _ => None
      }
      def fromSum(sum: Expression, lim: Expression)
          : Option[(Expression, Expression, Expression, Expression, Double)] =
        (sum, lim) match {
          case (Add(m1, m2, _), Literal(r2, DoubleType)) =>
            for {
              (ax, bx) <- sq(m1)
              (ay, by) <- sq(m2)
              r2d = r2.asInstanceOf[Double]
              if r2d > 0.0
            } yield (ax, bx, ay, by, r2d)
          case _ => None
        }
      e match {
        case LessThanOrEqual(s, l) => fromSum(s, l)
        case LessThan(s, l) => fromSum(s, l)
        case GreaterThanOrEqual(l, s) => fromSum(s, l)
        case GreaterThan(l, s) => fromSum(s, l)
        case _ => None
      }
    }
  }

  private def sameSide(j: Join, a: Expression, b: Expression): Boolean =
    (a.references.subsetOf(j.left.outputSet) &&
      b.references.subsetOf(j.left.outputSet)) ||
    (a.references.subsetOf(j.right.outputSet) &&
      b.references.subsetOf(j.right.outputSet))

  /** Both coordinates of one point on one side, both of the other on the
    * other side — the cross-side 2-D shape the grid rewrite needs.
    */
  private def crossPair(j: Join, ax: Expression, bx: Expression,
      ay: Expression, by: Expression): Boolean =
    sameSide(j, ax, ay) && sameSide(j, bx, by) &&
      ((ax.references.subsetOf(j.left.outputSet) &&
        bx.references.subsetOf(j.right.outputSet)) ||
       (ax.references.subsetOf(j.right.outputSet) &&
        bx.references.subsetOf(j.left.outputSet)))

  private def eligible(j: Join, cond: Expression): Boolean = {
    if (cond.references.exists(_.name.startsWith(CellPrefix))) return false
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
      case DistPredicate(ax, bx, ay, by, _) => crossPair(j, ax, bx, ay, by)
      case _ => false
    }
  }

  private def rewrite(j: Join): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    val dist = conjuncts.collectFirst {
      case p @ DistPredicate(ax, bx, ay, by, r2)
          if crossPair(j, ax, bx, ay, by) => (p, ax, bx, ay, by, r2)
    }
    dist.map { case (pred, ax, bx, ay, by, r2) =>
      // orient: (lx, ly) from the left child, (rx, ry) from the right
      val leftHasA = ax.references.subsetOf(j.left.outputSet)
      val (lx, ly, rx, ry) =
        if (leftHasA) (ax, ay, bx, by) else (bx, by, ax, ay)
      // cell size one ulp ABOVE the radius: sqrt's rounding may round
      // down, and a cell smaller than the radius breaks the 3×3 cover
      val s = Literal(Math.nextUp(math.sqrt(r2)), DoubleType)
      def cell(e: Expression): Expression =
        Cast(Floor(Divide(e, s)), LongType)
      val one = Literal(1L, LongType)
      def covering(c: Expression): Expression =
        CreateArray(Seq(Subtract(c, one), c, Add(c, one)))

      // right: two chained generates → the 3×3 covering cells
      val cxAttr = AttributeReference(s"${CellPrefix}_rx", LongType)()
      val cyAttr = AttributeReference(s"${CellPrefix}_ry", LongType)()
      val genX = Generate(Explode(covering(cell(rx))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(cxAttr), child = j.right)
      val genY = Generate(Explode(covering(cell(ry))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(cyAttr), child = genX)

      // left: project the single cell per axis
      val lxAlias = Alias(cell(lx), s"${CellPrefix}_lx")()
      val lyAlias = Alias(cell(ly), s"${CellPrefix}_ly")()
      val proj = Project(j.left.output :+ lxAlias :+ lyAlias, j.left)

      val others = conjuncts.filterNot(_ eq pred)
      val newCond = (others :+
        EqualTo(lxAlias.toAttribute, cxAttr) :+
        EqualTo(lyAlias.toAttribute, cyAttr) :+ pred).reduce(And)
      Project(j.output, Join(proj, genY, j.joinType, Some(newCond), j.hint))
    }
  }
}
