package graft.examples

import graft.Sessions
import graft.engine.StaticSessionProvider
import graft.ipc.ArrowCodec
import graft.protocol.Commands.CommandGetTables
import graft.service.FlightSqlService

/** End-to-end example mirroring the reference's examples/flight-sql.rs:
  * boot a service over a session with the CSV fixture registered
  * (header + type inference, flight-sql.rs:25-27), then run the full
  * client flow: GetFlightInfo (schema before execution) → DoGet (Arrow IPC
  * stream) → decode and print; plus a catalog-metadata query and a
  * prepared statement with a bound parameter.
  */
object FlightSqlExample {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)

    // examples/test.csv fixture shape: foo,bar / a,1 / b,2 / c,3
    val csv = java.nio.file.Files.createTempFile("graft-example", ".csv")
    java.nio.file.Files.writeString(csv, "foo,bar\na,1\nb,2\nc,3\n")
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csv.toString).createOrReplaceTempView("test")

    val service = new FlightSqlService(new StaticSessionProvider(spark))

    // 1. ad-hoc statement: schema first, then the data stream
    val info = service.getFlightInfoStatement("SELECT foo, bar FROM test ORDER BY foo")
    val schema = ArrowCodec.decodeSchema(info.schemaBytes)
    println(s"[example] schema before execution: $schema")
    val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
    result.rows.foreach(r => println(s"[example] row: $r"))
    require(result.rows.size == 3, s"expected 3 rows, got ${result.rows.size}")

    // 2. catalog metadata with a LIKE filter
    val tables = ArrowCodec.decode(service.doGet(
      service.getFlightInfoTables(
        CommandGetTables(Some("spark_catalog"), None, Some("te%"), Nil, includeSchema = false))
        .ticket).toBytes)
    println(s"[example] tables matching te%: ${tables.rows.map(_(2))}")
    require(tables.rows.map(_(2)) == Seq("test"))

    // 3. prepared statement with a parameter
    val prepared = service.createPreparedStatement("SELECT foo FROM test WHERE bar > $1")
    println(s"[example] parameter schema: ${ArrowCodec.decodeSchema(prepared.parameterSchema)}")
    val paramDf = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.Arrays.asList(Row(1)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))
    }
    val handle = service.doPutPreparedStatementQuery(
      prepared.handle, ArrowCodec.encodeStream(paramDf).toBytes)
    val prepInfo = service.getFlightInfoPreparedStatement(handle)
    val prepResult = ArrowCodec.decode(service.doGet(prepInfo.ticket).toBytes)
    println(s"[example] prepared result: ${prepResult.rows}")
    require(prepResult.rows.map(_.head).toSet == Set("b", "c"))

    println("[example] OK")
    spark.stop()
  }
}
