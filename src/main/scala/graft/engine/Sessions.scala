package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftStrategies

/** Per-request session construction (SURVEY §2.A A2/A28; mirrors
  * SessionStateProvider, datafusion-flight-sql-server/src/session.rs:9-31).
  *
  * The provider is the multi-tenancy/auth hook: an embedding application
  * can inspect request metadata (bearer tokens, tenant ids) and hand back a
  * session with per-user catalogs, confs, and pre-registered functions
  * (mirrors examples/bearer_auth_flight_sql.rs:95-114). The service itself
  * stays stateless.
  */
trait SessionProvider {
  def session(requestMetadata: Map[String, String]): SparkSession
}

/** Static provider: every request sees the same catalog/conf (the reference
  * clones one SessionState per request — clones share registered tables, so
  * sharing the session object is the Spark equivalent; temp-view isolation,
  * if wanted, belongs in a custom provider via `spark.newSession()`).
  */
final class StaticSessionProvider(base: SparkSession) extends SessionProvider {
  // Engine functions are part of the SQL surface every client sees (the
  // config-driven path is graft.plans.GraftSparkSessionExtension via
  // spark.sql.extensions; registering here covers sessions built without
  // that conf), and so are the planner strategies that compile each served
  // query shape once and run a small result in one task or none.
  graft.functions.GraftFunctions.register(base)
  GraftStrategies.install(base)

  override def session(requestMetadata: Map[String, String]): SparkSession = base
}
