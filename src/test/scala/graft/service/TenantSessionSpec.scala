package graft.service

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.graftbridge.Carried
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.StaticSessionProvider
import graft.examples.BearerAuthSessionProvider
import graft.ipc.ArrowCodec
import graft.queries.Tables

/** A session a provider isolates per tenant is a graft session once it is
  * served: the service equips whatever session its provider returns, so a
  * tenant resolves the graft functions and plans with graft's rule and
  * strategies, as the provider's base and a `Tables.registerAll` session
  * do (`ExtensionSpec` covers the extension-built session).
  */
class TenantSessionSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val alice = Map("authorization" -> "Bearer alice-token")
  private lazy val provider =
    new BearerAuthSessionProvider(TestSpark.spark, Map("alice-token" -> "alice"))
  private lazy val service = new FlightSqlService(provider)

  private def fetch(service: FlightSqlService, sql: String, meta: Map[String, String]): Seq[Seq[Any]] =
    ArrowCodec.decode(service.doGet(service.getFlightInfoStatement(sql, meta).ticket, meta).toBytes).rows

  /** All 7 functions, the rule once and each strategy once. */
  private val once = (7, Seq(1), Seq(1, 1))

  test("a tenant session resolves graft_cosine") {
    assert(fetch(service, "SELECT graft_cosine(array(1.0F, 0.0F), array(2.0F, 0.0F)) AS c", alice) ==
      Seq(Seq(1.0)))
    assert(fetch(service, "SELECT owner FROM secrets ORDER BY secret", alice) ==
      Seq(Seq("alice"), Seq("alice")))
  }

  test("a tenant session's second orders lookup with a fresh key compiles nothing") {
    provider.session(alice).read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("orders")
    def lookup(key: Int) =
      fetch(service, s"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = $key", alice)
    assert(lookup(1).size == 1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(lookup(2).size == 1)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before == 0)
  }

  test("a provider's base, a served tenant and a registerAll session each carry the list once") {
    val base = TestSpark.spark.newSession()
    new FlightSqlService(new StaticSessionProvider(base)).getFlightInfoCatalogs()
    fetch(service, "SELECT 1 AS one", alice)
    val registered = TestSpark.spark.newSession()
    Tables.registerAll(registered, sf)
    Tables.registerAll(registered, sf)
    assert(Carried(base) == once)
    assert(Carried(provider.session(alice)) == once)
    assert(Carried(registered) == once)
  }
}
