package graft.service

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.{Params, StaticSessionProvider}
import graft.ipc.ArrowCodec
import graft.queries.Tables

/** A served query shape compiles once per JVM: a second request that
  * differs from the first only in its filter literals, sent as a statement
  * or bound to a prepared statement, adds nothing to Spark's codegen
  * compile count, and the two plan to the same whole-stage source.
  */
class CompileOnceSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = { val s = TestSpark.spark; Tables.registerAll(s, sf); s }
  private lazy val service = new FlightSqlService(new StaticSessionProvider(spark))

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def param(v: Long): Array[Byte] =
    ArrowCodec.encodeStream(spark.createDataFrame(java.util.List.of(Row(v)),
      StructType(Seq(StructField("$1", LongType, nullable = false))))).toBytes

  private def statement(sql: String): Unit =
    service.doGet(service.getFlightInfoStatement(sql).ticket).frames.foreach(_ => ())

  private def prepared(sql: String, v: Long): Unit = {
    val handle = service.doPutPreparedStatementQuery(service.createPreparedStatement(sql).handle, param(v))
    service.doGet(service.getFlightInfoPreparedStatement(handle).ticket).frames.foreach(_ => ())
  }

  /** The whole-stage sources of the served plan, after it ran to completion. */
  private def sources(sql: String, parameters: Option[Array[Byte]] = None): Seq[String] = {
    val df = Params.plan(spark, sql, parameters).df
    df.collect()
    codegenStringSeq(df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan).map(_._2)
  }

  private def day(d: Int) = s"TIMESTAMP_NTZ'${java.time.LocalDate.parse("1995-01-01").plusDays(d)} 00:00:00'"

  private val statements: Seq[(String, Int => String)] = Seq(
    "orders pk lookup" -> (k => "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate " +
      s"FROM orders WHERE o_orderkey = $k"),
    "Q1" -> (k => "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty, " +
      "ROUND(SUM(l_extendedprice), 2) AS base, ROUND(AVG(l_discount), 4) AS disc FROM lineitem " +
      s"WHERE l_shipdate <= ${day(1200 + k)} GROUP BY l_returnflag, l_linestatus " +
      "ORDER BY l_returnflag, l_linestatus"),
    "Q6" -> (k => "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue FROM lineitem " +
      s"WHERE l_shipdate >= ${day(10 * k)} AND l_shipdate < ${day(10 * k + 365)} " +
      s"AND l_discount BETWEEN ${k + 1}e-2 AND ${k + 3}e-2 AND l_quantity < ${20 + k}"),
    "top-10 customer join orders" -> (k => "SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS total " +
      "FROM customer JOIN orders ON c_custkey = o_custkey " +
      s"WHERE c_mktsegment = 'BUILDING' AND o_orderdate >= ${day(100 * k)} " +
      "GROUP BY c_custkey, c_name ORDER BY total DESC, c_custkey LIMIT 10"))

  for ((shape, sql) <- statements)
    test(s"$shape: a second fresh-literal statement compiles nothing, to the same source") {
      statement(sql(1))
      assert(compiles(statement(sql(2))) == 0)
      assert(sources(sql(3)) == sources(sql(4)))
    }

  test("prepared sorted lineitem lookup: a second bound value compiles nothing, to the same source") {
    val sql = "SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount FROM lineitem " +
      "WHERE l_orderkey = $1 ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount"
    prepared(sql, 1)
    assert(compiles(prepared(sql, 2)) == 0)
    assert(sources(sql, Some(param(3))) == sources(sql, Some(param(4))))
  }
}
