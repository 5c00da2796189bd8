package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** One shared local session per test JVM; fixtures mirror the reference's
  * in-memory tables (datafusion-flight-sql-server/tests/integration_test.rs:17-58
  * — see FIXTURES.md §1).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4)

  /** users(id int!, name string!) ×3 — integration_test.rs:20-35. */
  def registerUsers(s: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val rows = java.util.Arrays.asList(
      Row(1, "Alice"), Row(2, "Bob"), Row(3, "Charlie"))
    s.createDataFrame(rows, schema).createOrReplaceTempView("users")
  }

  /** orders(order_id int!, user_id int!, amount int!) ×4 — integration_test.rs:37-55. */
  def registerOrders(s: SparkSession): Unit = {
    val schema = StructType(Seq(
      StructField("order_id", IntegerType, nullable = false),
      StructField("user_id", IntegerType, nullable = false),
      StructField("amount", IntegerType, nullable = false)))
    val rows = java.util.Arrays.asList(
      Row(100, 1, 50), Row(101, 2, 75), Row(102, 1, 100), Row(103, 3, 25))
    s.createDataFrame(rows, schema).createOrReplaceTempView("orders")
  }

  /** A new child session of [[spark]] holding the reference's `users` and
    * `orders`, so they never shadow the fixture views `Tables.registerAll`
    * keeps on the shared session.
    */
  def fixtures(): SparkSession = {
    val s = spark.newSession()
    registerUsers(s)
    registerOrders(s)
    s
  }
}
