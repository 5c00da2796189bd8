package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftbridge.GraftSession

/** The engine's `SparkSessionExtensions` entry point: set
  * `spark.sql.extensions=graft.plans.GraftSparkSessionExtension` and every
  * session gets, at build, everything `GraftSession` lists: the graft
  * functions, the cosine canonicalization rule and the planner strategies
  * (filter literals bound, small results run in one task or none). This is
  * the public, config-driven way to ship Catalyst extensions — the
  * Spark-native analogue of the reference's per-session
  * function-registration hook (examples/bearer_auth_flight_sql.rs:95-114),
  * applied at session construction instead of per request.
  * `GraftSession.install` finds what the extension added and adds nothing
  * twice.
  */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftSession.inject(ext)
}
