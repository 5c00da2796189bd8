package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types._

import graft.TestSpark
import graft.ipc.ArrowCodec

/** Parameter rewrite / inference / decode rules (SURVEY §2.A A8/A20/A22/A25;
  * mirrors service.rs:1085-1105 and 1144-1192 semantics).
  */
class ParamsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()
  private def parameterTypes(sql: String) =
    Params.plan(spark, sql, typeUnbound = true).parameterTypes

  test("$n rewrite targets named markers and skips strings/comments") {
    val (rewritten, mapping) = Params.rewrite(
      "SELECT '$1' AS lit, id FROM users WHERE id = $1 -- not $2\n AND name != $name")
    assert(rewritten.contains("'$1'"))
    assert(rewritten.contains(":gp_1"))
    assert(rewritten.contains("-- not $2"))
    assert(rewritten.contains(":gp_name"))
    assert(mapping == Map("gp_1" -> "1", "gp_name" -> "name"))
  }

  test("rewrite skips backtick-quoted identifiers and escaped quotes in strings") {
    val (rewritten, mapping) = Params.rewrite(
      "SELECT 1 AS `a$1`, 'it\\'s $2' AS s FROM users WHERE id = $3")
    assert(rewritten == "SELECT 1 AS `a$1`, 'it\\'s $2' AS s FROM users WHERE id = :gp_3")
    assert(mapping == Map("gp_3" -> "3"))
  }

  test("a $ inside a nested block comment is not a placeholder; one after it is") {
    val (rewritten, mapping) = Params.rewrite("SELECT 1 /* a /* b */ $5 */, $6")
    assert(rewritten == "SELECT 1 /* a /* b */ $5 */, :gp_6")
    assert(mapping == Map("gp_6" -> "6"))
  }

  test("parameter type inferred from comparison with a column (integration_test.rs:156-170)") {
    val types = parameterTypes("SELECT * FROM users WHERE id = $1")
    assert(types == Seq(("$1", IntegerType)))
  }

  test("parameter types over joins/HAVING, BTreeMap name order (state_test.rs:5-17)") {
    val types = parameterTypes(
      """SELECT u.id, u.name FROM users u
        |LEFT JOIN orders o ON u.id = o.user_id
        |WHERE u.name = $2 AND o.amount > $1
        |GROUP BY u.id, u.name
        |HAVING COUNT(o.order_id) > $3""".stripMargin)
    assert(types.map(_._1) == Seq("$1", "$2", "$3")) // lexicographic order
    assert(types.toMap.apply("$1") == IntegerType)
    assert(types.toMap.apply("$2") == StringType)
    assert(types.toMap.apply("$3") == LongType)
  }

  test("IN-list parameters take the type of the tested column") {
    val types = parameterTypes("SELECT name FROM users WHERE users.id IN ($1, $2)")
    assert(types == Seq(("$1", IntegerType), ("$2", IntegerType)))
  }

  test("a parameter inside a scalar subquery takes the type of its column") {
    val types = parameterTypes(
      """SELECT name, (SELECT MAX(order_id) FROM orders WHERE amount > $1) AS m
        |FROM users""".stripMargin)
    assert(types == Seq(("$1", IntegerType)))
  }

  test("a qualified column types its parameter by qualifier, not by the first same-named column") {
    spark.range(3).selectExpr("id").createOrReplaceTempView("t1") // t1.id is BIGINT, users.id INT
    val types =
      parameterTypes("SELECT u.name FROM users u JOIN t1 ON u.id = t1.id WHERE t1.id = $1")
    assert(types == Seq(("$1", LongType)))
  }

  test("un-inferable parameter errors like the reference (service.rs:1097-1100)") {
    val e = intercept[Params.UninferableParameter] {
      parameterTypes("SELECT $1 AS v FROM users")
    }
    assert(e.getMessage.contains("$1"))
  }

  test("no parameters → empty schema") {
    assert(parameterTypes("SELECT * FROM users").isEmpty)
  }

  private def paramStream(fields: Seq[(String, DataType)], row: Row): Array[Byte] = {
    val schema = StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
    ArrowCodec.encodeStream(
      spark.createDataFrame(java.util.Arrays.asList(row), schema)).toBytes
  }

  test("all-numeric names decode as positional, sorted by index (service.rs:1174-1183)") {
    val ipc = paramStream(Seq("$2" -> StringType, "$1" -> IntegerType), Row("x", 7))
    Params.decodeParamValues(ipc) match {
      case Some(Params.Positional(values)) => assert(values == Seq(Literal(7), Literal("x")))
      case other => fail(s"expected positional, got $other")
    }
  }

  test("non-numeric names decode as a named map with $ stripped (service.rs:1184-1191)") {
    val ipc = paramStream(Seq("$min_amount" -> IntegerType, "$2" -> StringType), Row(5, "y"))
    Params.decodeParamValues(ipc) match {
      case Some(Params.Named(values)) =>
        assert(values == Map("min_amount" -> Literal(5), "2" -> Literal("y")))
      case other => fail(s"expected named, got $other")
    }
  }

  test("a value of every Arrow type Spark reads binds and returns as sent") {
    val sent = spark.sql(
      """SELECT CAST(1 AS TINYINT) AS `$1`, CAST(2 AS SMALLINT) AS `$2`, 3 AS `$3`, 4L AS `$4`,
        |CAST(5.5 AS FLOAT) AS `$5`, 6.5D AS `$6`, CAST(7.25 AS DECIMAL(12,3)) AS `$7`,
        |'eight' AS `$8`, X'09' AS `$9`, true AS `$10`, DATE'2020-01-11' AS `$11`,
        |TIMESTAMP'2020-01-12 12:00:00.000012' AS `$12`,
        |TIMESTAMP_NTZ'2020-01-13 13:00:00' AS `$13`, NULL AS `$14`,
        |INTERVAL '1-3' YEAR TO MONTH AS `$15`, INTERVAL '2 03:04:05.000006' DAY TO SECOND AS `$16`,
        |array(17, NULL) AS `$17`, named_struct('a', 18, 'b', 'x') AS `$18`,
        |map('k', 19.5D) AS `$19`, make_interval(0, 1, 0, 2, 0, 0, 0.000003) AS `$20`""".stripMargin)
    val ipc = ArrowCodec.encodeStream(sent).toBytes
    val selected = (1 to 20).map(i => s"$$$i AS c$i").mkString("SELECT ", ", ", "")
    val bound = Params.plan(spark, selected, Some(ipc)).df
    assert(bound.schema.map(_.dataType) == sent.schema.map(_.dataType))
    assert(bound.collect().toSeq == sent.collect().toSeq)
  }

  test("bind executes with positional parameters") {
    val ipc = paramStream(Seq("$1" -> IntegerType), Row(3))
    val df = Params.plan(spark, "SELECT name FROM users WHERE id = $1", Some(ipc)).df
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Charlie"))
  }

  test("bind executes with named parameters") {
    val ipc = paramStream(Seq("$min" -> IntegerType), Row(60))
    val df = Params.plan(spark,
      "SELECT order_id FROM orders WHERE amount > $min ORDER BY order_id", Some(ipc)).df
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(101, 102))
  }
}
