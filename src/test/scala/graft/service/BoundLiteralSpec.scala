package graft.service

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.{BoundLiteral, Carried, PlanSmallResults, UnsafeRows}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Sessions, Staging, TestSpark}
import graft.engine.{Params, StaticSessionProvider}
import graft.ipc.ArrowCodec

/** Filter literals bound as generated-code references serve exactly the
  * rows, EXPLAIN text and pushed filters of an unbound session: the edge
  * values of each bound type, under whole-stage codegen, expression codegen
  * alone, and no codegen at all.
  */
class BoundLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val path = Staging.fixture("bound_literal_edges", "BoundLiteralSpec", ".parquet") { p =>
    TestSpark.spark.sql(
      """SELECT * FROM VALUES
        |  (0, CAST('NaN' AS DOUBLE), CAST('NaN' AS FLOAT), -2147483648, -9223372036854775808L,
        |   CAST(-128 AS TINYINT), CAST(-32768 AS SMALLINT), DATE'1900-01-01',
        |   TIMESTAMP_NTZ'1969-12-31 23:59:59.999999', TIMESTAMP'1969-12-31 23:59:59.999999'),
        |  (1, -0.0D, CAST(-0.0 AS FLOAT), 1, 1L, CAST(1 AS TINYINT), CAST(1 AS SMALLINT),
        |   DATE'1969-07-20', TIMESTAMP_NTZ'1970-01-01 00:00:00.000001', TIMESTAMP'1970-01-01 00:00:00.000001'),
        |  (2, 0.0D, CAST(0.0 AS FLOAT), 3, 5L, CAST(3 AS TINYINT), CAST(3 AS SMALLINT),
        |   DATE'1970-01-01', TIMESTAMP_NTZ'2024-02-29 12:00:00.123456', TIMESTAMP'2024-02-29 12:00:00.123456'),
        |  (3, 1.5D, CAST(1.5 AS FLOAT), NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |  t(id, d, f, i, l, b, s, dt, tn, ts)""".stripMargin)
      .write.mode("overwrite").parquet(p)
  }

  private def session(): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.read.parquet(path).createOrReplaceTempView("edges")
    s
  }
  private lazy val bound = session()
  /** Plans sorts as `bound` does (the service installs `PlanSmallResults`
    * on it too), so the two sessions differ only in binding. Neither the
    * service nor `Tables.registerAll` ever sees this session.
    */
  private lazy val unbound = {
    val s = session()
    s.experimental.extraStrategies = Seq(new PlanSmallResults(s))
    s
  }
  private lazy val service = new FlightSqlService(new StaticSessionProvider(bound))

  private val cases = Seq(
    "d = CAST('NaN' AS DOUBLE)", "d = -0.0D", "d = 0.0D", "d < 0.0D", "d <=> -0.0D",
    "f = CAST('NaN' AS FLOAT)", "f >= CAST(-0.0 AS FLOAT)", "f < CAST(1.5 AS FLOAT)",
    "i = CAST(-2147483648 AS INT)", "i > CAST(-2147483648 AS INT)",
    "l = CAST('-9223372036854775808' AS BIGINT)", "l BETWEEN CAST('-9223372036854775808' AS BIGINT) AND 2L",
    "b = CAST(-128 AS TINYINT)", "b > CAST(1 AS TINYINT)", "s <= CAST(-32768 AS SMALLINT)", "s IN (1, 3)",
    "dt < DATE'1969-12-31'", "dt = DATE'1900-01-01'", "dt BETWEEN DATE'1969-01-01' AND DATE'1970-01-01'",
    "tn = TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'", "tn > TIMESTAMP_NTZ'1970-01-01 00:00:00.000001'",
    "ts = TIMESTAMP'1970-01-01 00:00:00.000001'", "ts < TIMESTAMP'2024-02-29 12:00:00.123456'",
    "i IN (1, NULL, 3)", "NOT (i IN (1, 3))", "l <=> 5L", "l <=> NULL")

  /** The optimizer rewrites this case to `isnull(l)`, leaving no literal to bind. */
  private val unbindable = Set("l <=> NULL")

  private val modes = Seq(
    "whole-stage codegen" -> Seq.empty,
    "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
    "no codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def sql(where: String) = s"SELECT * FROM edges WHERE $where ORDER BY id"

  private def explain(s: SparkSession, text: String): String =
    s.sql(s"EXPLAIN FORMATTED $text").head().getString(0)
      .replaceAll("#\\d+", "#n").replaceAll("plan_id=\\d+", "plan_id=n")

  private def bindsLiteral(text: String): Boolean =
    collect(Params.plan(bound, text).df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan) {
      case f: FilterExec => f.condition.collect { case b: BoundLiteral => b }
    }.flatten.nonEmpty

  for ((mode, conf) <- modes; where <- cases)
    test(s"$mode: WHERE $where serves the unbound session's rows") {
      def withConf[A](s: SparkSession)(body: => A): A = Sessions.withConf(s, conf: _*)(body)
      val text = sql(where)
      val expected = withConf(unbound)(UnsafeRows.collected(unbound.sql(text)))
      val served = withConf(bound) {
        val frames = service.doGet(service.getFlightInfoStatement(text).ticket).toBytes
        ArrowCodec.read(frames)._2
      }
      assert(served == expected)
      assert(bindsLiteral(text) == !unbindable(where))
      assert(Carried(unbound)._3 == Seq(0, 1)) // the reference binds nothing
    }

  for (where <- cases)
    test(s"WHERE $where: EXPLAIN and PushedFilters equal the unbound session's") {
      val text = sql(where)
      val (b, u) = (explain(bound, text), explain(unbound, text))
      assert(b == u)
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r
      assert(pushed.findFirstIn(b).nonEmpty)
      assert(pushed.findAllIn(b).toSeq == pushed.findAllIn(u).toSeq)
    }
}
