package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import org.apache.spark.sql.graftbridge.{CosineSimilarity, GraftStrategies}

import graft.functions.GraftFunctions

/** The engine's `SparkSessionExtensions` entry point: set
  * `spark.sql.extensions=graft.plans.GraftSparkSessionExtension` and every
  * session gets the graft functions (no imperative
  * `GraftFunctions.register` call needed) plus the engine's optimizer
  * rules and the planner strategies (filter literals bound, small results
  * run in one task or none). This is the
  * public, config-driven way to ship Catalyst
  * extensions — the Spark-native analogue of the reference's per-session
  * function-registration hook (examples/bearer_auth_flight_sql.rs:95-114),
  * applied at session construction instead of per request.
  */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, build) =>
      ext.injectFunction(
        (new FunctionIdentifier(name), new ExpressionInfo(GraftFunctions.getClass.getName, name), build))
    }
    ext.injectOptimizerRule(_ => CanonicalizeCosine)
    GraftStrategies.builders.foreach(ext.injectPlannerStrategy)
  }
}

/** Optimizer rule: order the arguments of the commutative graft_cosine
  * deterministically so calls that differ only in argument order become
  * the SAME expression — Catalyst's common-subexpression elimination then
  * computes them once. Bit-safe: the kernel's dot fold is
  * element-wise-commutative (x*y == y*x per IEEE 754) and the norm
  * product sqrt(n1)*sqrt(n2) commutes, so the swapped call returns the
  * identical double.
  */
object CanonicalizeCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CosineSimilarity(l, r) if l.sql > r.sql => CosineSimilarity(r, l)
  }
}
