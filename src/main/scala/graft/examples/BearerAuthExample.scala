package graft.examples

import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.engine.SessionProvider
import graft.ipc.ArrowCodec
import graft.service.{FlightSqlService, Status}

/** Per-user session construction from request metadata, mirroring the
  * reference's bearer-token example
  * (examples/bearer_auth_flight_sql.rs:49-114): the provider validates the
  * Authorization header and hands back a session whose catalog is scoped to
  * that user — the service itself stays auth-agnostic (handshake is
  * rejected; auth is middleware's job, service.rs:198-207).
  */
final class BearerAuthSessionProvider(
    base: SparkSession,
    tokens: Map[String, String] // token -> user
) extends SessionProvider {

  // One isolated session (own temp views/conf, shared SparkContext) per user.
  private val sessions = new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()

  override def session(requestMetadata: Map[String, String]): SparkSession = {
    val auth = requestMetadata.getOrElse("authorization",
      throw Status.unauthenticated("No authorization header!"))
    val token = auth.stripPrefix("Bearer ")
    val user = tokens.getOrElse(token,
      throw Status.unauthenticated("invalid token"))
    sessions.computeIfAbsent(user, { u =>
      val s = base.newSession()
      // per-user state: each user sees only their own rows
      import s.implicits._
      Seq((u, s"$u's secret"), (u, s"$u's other secret"))
        .toDF("owner", "secret").createOrReplaceTempView("secrets")
      s
    })
  }
}

object BearerAuthExample {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)

    val provider = new BearerAuthSessionProvider(
      spark, Map("alice-token" -> "alice", "bob-token" -> "bob"))
    val service = new FlightSqlService(provider)

    def query(token: String): Seq[Seq[Any]] = {
      val meta = Map("authorization" -> s"Bearer $token")
      val info = service.getFlightInfoStatement("SELECT owner, secret FROM secrets ORDER BY secret", meta)
      ArrowCodec.decode(service.doGet(info.ticket, meta).toBytes).rows
    }

    val alice = query("alice-token")
    val bob = query("bob-token")
    println(s"[example] alice sees: $alice")
    println(s"[example] bob sees:   $bob")
    require(alice.forall(_.head == "alice") && bob.forall(_.head == "bob"))

    val denied =
      try { query("wrong-token"); "NOT DENIED" }
      catch { case s: Status => s"denied (${s.code})" }
    println(s"[example] bad token: $denied")
    require(denied.startsWith("denied"))

    println("[example] OK")
    spark.stop()
  }
}
