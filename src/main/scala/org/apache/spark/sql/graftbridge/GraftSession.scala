package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Everything graft adds to a Spark session, in one list: the engine
  * functions, the optimizer rule and the planner strategies. A session
  * gets them either at build, from `graft.plans.GraftSparkSessionExtension`
  * (`inject`), or afterwards, from `install`, which every session graft
  * plans on goes through: each `FlightSqlService` request's session, tenant
  * children included, and each `Tables.registerAll` session. This is the
  * per-session registration the reference performs in its session hook
  * (examples/bearer_auth_flight_sql.rs:95-114).
  */
object GraftSession {

  /** (name, builder) of every engine function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", e => CosineSimilarity(e(0), e(1))),
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_dot_d", e => DotProductDD(e(0), e(1))),
    ("graft_overlap", e => SortedOverlap(e(0), e(1))),
    ("graft_ngrams", e => WordNgrams(e(0), e(1))),
    ("graft_ln_scaled", e => LnScaledMicro(e(0), e(1), e(2))),
    ("graft_exp_micro", e => ExpMicro(e(0))))

  val rules: Seq[Rule[LogicalPlan]] = Seq(CanonicalizeCosine)

  val strategies: Seq[SparkSession => SparkStrategy] =
    Seq(new BindFilterLiterals(_), new PlanSmallResults(_))

  /** Adds the list to every session `ext` builds. */
  def inject(ext: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), build))
    }
    rules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    strategies.foreach(ext.injectPlannerStrategy)
  }

  /** Adds to `session` each item of the list it does not have yet, so a
    * second call, a call on a session built with the extension, and a
    * function the caller registered under a graft name all leave the
    * session as it is. A few registry and list lookups when nothing is
    * missing.
    */
  def install(session: SparkSession): Unit = session.experimental.synchronized {
    val registry = session.sessionState.functionRegistry
    functions.foreach { case (name, build) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, build, "built-in")
    }
    val experimental = session.experimental
    val present = experimental.extraOptimizations ++ injectedRules(session)
    experimental.extraOptimizations ++= rules.filterNot(present.contains)
    val planned = session.sessionState.planner.strategies.map(_.getClass).toSet
    experimental.extraStrategies =
      strategies.map(_(session)).filterNot(s => planned(s.getClass)) ++ experimental.extraStrategies
  }

  /** The optimizer rules the session's build injected, the extension's among them. */
  private def injectedRules(session: SparkSession): Seq[Rule[LogicalPlan]] = session match {
    case s: ClassicSession => s.extensions.buildOptimizerRules(s)
    case _ => Nil
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
