package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Plan-verifier gate (SURVEY §4.4.1; SQLOptions semantics of
  * service.rs:170-175): validation only, defaults allow every class;
  * statements that hide an inner statement are never allowed.
  */
class SqlGateSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()
  private def parse(sql: String) = spark.sessionState.sqlParser.parsePlan(sql)

  /** Commands outside the DDL/DML/SET basics, one or more of each class. */
  private val bypasses = Seq(
    "ADD JAR /tmp/graft-none.jar",
    "ADD FILE /tmp/graft-none.txt",
    "CREATE TEMPORARY FUNCTION evil AS 'graft.None'",
    "DECLARE VARIABLE graft_v INT",
    "USE default",
    "TRUNCATE TABLE t",
    "LOAD DATA LOCAL INPATH '/tmp/graft-none' INTO TABLE t",
    "ALTER TABLE t SET TBLPROPERTIES ('k' = 'v')",
    "CREATE INDEX i ON t (c)",
    "CALL cat.sys.proc()")
  private val denyAll = SqlOptions(allowDdl = false, allowDml = false, allowStatements = false)

  test("defaults allow queries, DDL and SET") {
    SqlGate.verify(parse("SELECT 1"), SqlOptions())
    SqlGate.verify(parse("CREATE TABLE t(i INT) USING parquet"), SqlOptions())
    SqlGate.verify(parse("SET spark.sql.ansi.enabled=true"), SqlOptions())
    for (sql <- bypasses ++ Seq("INSERT INTO t VALUES (1)", "DROP VIEW v"))
      withClue(sql)(SqlGate.verify(parse(sql), SqlOptions()))
  }

  test("EXECUTE IMMEDIATE and SQL scripts are refused whatever the options") {
    for (opts <- Seq(SqlOptions(), denyAll);
        sql <- Seq("EXECUTE IMMEDIATE 'SELECT 1'", "BEGIN SELECT 1; END",
          "EXPLAIN EXECUTE IMMEDIATE 'SELECT 1'"))
      withClue(s"$opts $sql")(intercept[SqlGate.PlanRejected](SqlGate.verify(parse(sql), opts)))
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

  test("deny-all rejects every statement class, including commands the gate does not name") {
    for (sql <- bypasses)
      withClue(sql)(intercept[SqlGate.PlanRejected](SqlGate.verify(parse(sql), denyAll)))
  }

  test("allowDdl=false rejects EXECUTE IMMEDIATE and SQL-script bodies, and the view survives") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW victim AS SELECT 1 AS x")
    val opts = SqlOptions(allowDdl = false)
    for (sql <- Seq("EXECUTE IMMEDIATE 'DROP VIEW victim'", "BEGIN DROP VIEW victim; END"))
      withClue(sql)(intercept[SqlGate.PlanRejected](Params.plan(spark, sql, options = opts)))
    assert(spark.catalog.tableExists("victim"))
  }

  test("allowDdl=false verifies the plan an EXPLAIN supervises") {
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW victim AS SELECT 1 AS x")
    val opts = SqlOptions(allowDdl = false)
    for (sql <- Seq("EXPLAIN EXECUTE IMMEDIATE 'DROP VIEW victim'", "EXPLAIN DROP VIEW victim"))
      withClue(sql)(intercept[SqlGate.PlanRejected](Params.plan(spark, sql, options = opts)))
    assert(spark.catalog.tableExists("victim"))
  }

  test("allowDdl=false still allows SHOW, DESCRIBE and EXPLAIN") {
    val opts = SqlOptions(allowDdl = false)
    for (sql <- Seq("SHOW TABLES", "DESCRIBE TABLE users", "EXPLAIN SELECT 1"))
      withClue(sql)(assert(Params.plan(spark, sql, options = opts).df.collect().nonEmpty))
  }

  test("plan() returns the analyzed schema without executing") {
    val df = Params.plan(spark, "SELECT id, name FROM users").df
    assert(df.schema.fieldNames.toSeq == Seq("id", "name"))
  }
}
