package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

package object plans {

  /** Add `rule` to `experimental.extraOptimizations` if absent: the
    * batch after RewriteSubquery has made EXISTS predicates the semi/anti
    * joins [[BoundAntiJoinRule]] matches, and the route by which a
    * session built without [[graft.GraftExtensions]] gets a rule. */
  def register(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }
}
