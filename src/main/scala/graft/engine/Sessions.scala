package graft.engine

import org.apache.spark.sql.SparkSession

/** Per-request session construction (SURVEY §2.A A2/A28; mirrors
  * SessionStateProvider, datafusion-flight-sql-server/src/session.rs:9-31).
  *
  * The provider is the multi-tenancy/auth hook: an embedding application
  * can inspect request metadata (bearer tokens, tenant ids) and hand back a
  * session with per-user catalogs, confs, and pre-registered functions
  * (mirrors examples/bearer_auth_flight_sql.rs:95-114). The service itself
  * stays stateless. It installs graft's functions, optimizer rule and
  * planner strategies (`org.apache.spark.sql.graftbridge.GraftSession`) on
  * whatever session a provider returns, so a provider hands back a plain
  * session, and a tenant's `newSession()` child plans as the base does.
  */
trait SessionProvider {
  def session(requestMetadata: Map[String, String]): SparkSession
}

/** Static provider: every request sees `base`, its catalog and its conf
  * (the reference clones one SessionState per request — clones share
  * registered tables, so sharing the session object is the Spark
  * equivalent; temp-view isolation, if wanted, belongs in a custom provider
  * via `spark.newSession()`, whose sessions the service equips the same
  * way).
  */
final class StaticSessionProvider(base: SparkSession) extends SessionProvider {
  override def session(requestMetadata: Map[String, String]): SparkSession = base
}
