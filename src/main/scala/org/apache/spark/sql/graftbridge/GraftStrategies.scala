package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

/** A graft planner strategy. */
abstract class GraftStrategy extends SparkStrategy

/** The one list of graft's planner strategies, which
  * `graft.engine.StaticSessionProvider` installs on a built session and
  * `graft.plans.GraftSparkSessionExtension` injects at session build.
  */
object GraftStrategies {

  val builders: Seq[SparkSession => GraftStrategy] =
    Seq(new BindFilterLiterals(_), new PlanSmallResults(_))

  /** Prepends each strategy to the session's extra strategies unless its
    * planner already has one of that class (a session built with the
    * extension, or an earlier install).
    */
  def install(session: SparkSession): Unit = session.experimental.synchronized {
    val present = session.sessionState.planner.strategies.map(_.getClass).toSet
    session.experimental.extraStrategies =
      builders.map(_(session)).filterNot(s => present(s.getClass)) ++ session.experimental.extraStrategies
  }
}
