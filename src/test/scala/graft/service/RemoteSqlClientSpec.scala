package graft.service

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.{IntegerType, StringType}

import graft.TestSpark
import graft.engine.StaticSessionProvider

/** Client-side federation executor (A32-A36; mirrors
  * datafusion-flight-sql-table-provider tests and
  * examples/flight-sql.rs:37-45).
  */
class RemoteSqlClientSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()
  private lazy val client =
    new RemoteSqlClient(new FlightSqlService(new StaticSessionProvider(spark)), spark)

  test("execute pushes SQL and rebuilds a local DataFrame (A32/A34)") {
    val df = client.execute("SELECT name FROM users WHERE id > 1 ORDER BY name")
    assert(df.schema.fieldNames.toSeq == Seq("name"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("Bob", "Charlie"))
  }

  test("executed frame joins with local data (federation)") {
    val remote = client.execute("SELECT id, name FROM users")
    remote.createOrReplaceTempView("remote_users")
    val joined = spark.sql(
      """SELECT r.name, SUM(o.amount) AS total FROM remote_users r
        |JOIN orders o ON r.id = o.user_id GROUP BY r.name ORDER BY r.name""".stripMargin)
    assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Alice", 150L), ("Bob", 75L), ("Charlie", 25L)))
  }

  test("multi-endpoint FlightInfo streams merge unordered (A33, lib.rs:33-59)") {
    val service = new FlightSqlService(new StaticSessionProvider(spark))
    val i1 = service.getFlightInfoStatement("SELECT id FROM users WHERE id <= 1")
    val i2 = service.getFlightInfoStatement("SELECT id FROM users WHERE id > 1")
    // a federated FlightInfo carrying both endpoints; the client must pull
    // and union every stream
    val merged = client.executeInfo(
      FlightInfo(i1.schemaBytes, i1.endpoints ++ i2.endpoints))
    assert(merged.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
  }

  test("DATE, TIMESTAMP and STRUCT columns federate with the values a local collect returns") {
    val sql = """SELECT id, DATE'2020-01-01' + id AS d,
                 |TIMESTAMP'2020-01-01 12:00:00.000001' AS ts,
                 |named_struct('n', name, 'k', id * 10) AS st
                 |FROM users ORDER BY id""".stripMargin
    val remote = client.execute(sql)
    assert(remote.schema == spark.sql(sql).schema)
    assert(remote.collect().toSeq == spark.sql(sql).collect().toSeq)
    assert(remote.collect().head.getDate(1) == java.sql.Date.valueOf("2020-01-02"))
  }

  test("tableSchema via LIMIT 1 trick, no data pulled (A35)") {
    val schema = client.tableSchema("users")
    assert(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", IntegerType), ("name", StringType)))
  }

  test("tableNames stays unimplemented for parity (A36)") {
    val e = intercept[Status](client.tableNames)
    assert(e.code == Status.Unimplemented)
  }
}
