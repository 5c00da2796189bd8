package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SparkArrowBridge
import org.apache.spark.sql.types.StructType

import graft.ipc.ArrowCodec

/** Client-side federation executor (SURVEY §2.A A32-A36; mirrors
  * datafusion-flight-sql-table-provider/src/lib.rs): pushes SQL text to a
  * Flight SQL service instance and rebuilds a local DataFrame from the
  * returned Arrow IPC stream.
  *
  * The reference merges N endpoint streams unordered (lib.rs:33-59); the
  * server emits a single endpoint per query (service.rs:337), so the merge
  * degenerates to that one stream here too. Execution is lazy on the
  * service side (the plan runs as the stream is pulled, lib.rs:69-83).
  * The streams are read by Spark's own Arrow reader (`ArrowCodec.read`),
  * and their rows, already in Spark's types, become a local relation.
  */
class RemoteSqlClient(
    service: FlightSqlService,
    spark: SparkSession,
    val name: String = "remote") {

  /** Execute SQL on the remote service → local DataFrame (A32/A34). */
  def execute(sql: String): DataFrame =
    executeInfo(service.getFlightInfoStatement(sql))

  /** Fetch and merge every endpoint of a FlightInfo, unordered — the
    * reference's select_all merge (lib.rs:33-59). This server emits one
    * endpoint per query, but a federated FlightInfo may carry many; in a
    * full DataSourceV2 integration each endpoint becomes one partition.
    */
  def executeInfo(info: FlightInfo): DataFrame = {
    val rows = info.endpoints.flatMap(t => ArrowCodec.read(service.doGet(t).toBytes)._2)
    SparkArrowBridge.localRelation(spark, sparkSchema(info.schemaBytes), rows)
  }

  /** Schema discovery via `select * from {t} limit 1` — GetFlightInfo only,
    * no data pulled (A35, lib.rs:91-101).
    */
  def tableSchema(table: String): StructType =
    sparkSchema(service.getFlightInfoStatement(s"select * from $table limit 1").schemaBytes)

  /** Kept unimplemented for parity (A36, lib.rs:85-89). */
  def tableNames: Nothing =
    throw Status.unimplemented("table inference not implemented")

  private def sparkSchema(schemaBytes: Array[Byte]): StructType =
    SparkArrowBridge.fromArrowSchema(ArrowCodec.decodeSchema(schemaBytes))
}
