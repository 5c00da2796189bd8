package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** What a session carries of `GraftSession`'s list, read through the
  * `private[sql]` extensions of the session.
  */
object Carried {

  /** The number of `GraftSession.functions` the session resolves, the
    * instances of each listed rule among its optimizer rules (those its
    * build injected and the experimental ones), and the instances of each
    * listed strategy in its planner. A graft session reads
    * `(7, Seq(1), Seq(1, 1))`.
    */
  def apply(s: SparkSession): (Int, Seq[Int], Seq[Int]) = {
    val registry = s.sessionState.functionRegistry
    val functions = GraftSession.functions.count { case (name, _) =>
      registry.functionExists(FunctionIdentifier(name))
    }
    val injected = s match {
      case c: ClassicSession => c.extensions.buildOptimizerRules(c)
      case _ => Nil
    }
    val rules = injected ++ s.experimental.extraOptimizations
    val planner = s.sessionState.planner.strategies
    (functions,
      GraftSession.rules.map(r => rules.count(_ eq r)),
      GraftSession.strategies.map(_(s).getClass).map(c => planner.count(_.getClass == c)))
  }

  /** Whether `s`'s planner holds no strategy of `GraftSession`'s list. */
  def noStrategies(s: SparkSession): Boolean = apply(s)._3.forall(_ == 0)
}
