package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Plan-verifier gate (SURVEY §4.4.1; SQLOptions semantics of
  * service.rs:170-175): validation only, defaults allow everything.
  */
class SqlGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()
  private def parse(sql: String) = spark.sessionState.sqlParser.parsePlan(sql)

  test("defaults allow queries, DDL and SET") {
    SqlGate.verify(parse("SELECT 1"), SqlOptions())
    SqlGate.verify(parse("CREATE TABLE t(i INT) USING parquet"), SqlOptions())
    SqlGate.verify(parse("SET spark.sql.ansi.enabled=true"), SqlOptions())
  }

  test("allowDdl=false rejects CREATE/DROP but not queries") {
    val opts = SqlOptions(allowDdl = false)
    intercept[SqlGate.PlanRejected](SqlGate.verify(parse("CREATE TABLE t(i INT) USING parquet"), opts))
    intercept[SqlGate.PlanRejected](SqlGate.verify(parse("DROP TABLE t"), opts))
    intercept[SqlGate.PlanRejected](
      SqlGate.verify(parse("CREATE VIEW v AS SELECT 1"), opts))
    SqlGate.verify(parse("SELECT * FROM users WHERE id > 1"), opts)
  }

  test("allowDml=false rejects INSERT but not queries") {
    val opts = SqlOptions(allowDml = false)
    intercept[SqlGate.PlanRejected](
      SqlGate.verify(parse("INSERT INTO t VALUES (1)"), opts))
    SqlGate.verify(parse("SELECT 1"), opts)
  }

  test("allowStatements=false rejects SET") {
    val opts = SqlOptions(allowStatements = false)
    intercept[SqlGate.PlanRejected](
      SqlGate.verify(parse("SET spark.sql.ansi.enabled=true"), opts))
    SqlGate.verify(parse("SELECT 1"), opts)
  }

  test("plan() returns the analyzed schema without executing") {
    val df = Params.plan(spark, "SELECT id, name FROM users").df
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
  }
}
