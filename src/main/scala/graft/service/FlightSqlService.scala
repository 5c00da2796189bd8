package graft.service

import org.apache.arrow.vector.types.pojo.{Schema => ArrowSchema}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SparkArrowBridge
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.Metadata
import graft.engine.{Params, SessionProvider, SqlGate, SqlOptions}
import graft.ipc.ArrowCodec
import graft.protocol.Commands._

/** gRPC-style status for the transport-agnostic service surface (mirrors
  * tonic::Status + the error mappers of
  * datafusion-flight-sql-server/src/service.rs:1107-1121).
  */
final case class Status(code: Status.Code, message: String)
    extends RuntimeException(message)

object Status {
  sealed trait Code
  case object Unimplemented extends Code
  case object InvalidArgument extends Code
  case object Internal extends Code
  case object Unauthenticated extends Code

  def unimplemented(msg: String): Status = Status(Unimplemented, msg)
  def invalidArgument(msg: String): Status = Status(InvalidArgument, msg)
  def internal(msg: String): Status = Status(Internal, msg)
  def unauthenticated(msg: String): Status = Status(Unauthenticated, msg)
}

/** Mirrors config.rs:1-14: `schemaWithMetadata` adds each field's source
  * `table_name` to result schemas.
  */
final case class FlightSqlServiceConfig(schemaWithMetadata: Boolean = false)

/** FlightInfo: result schema (known BEFORE execution) + the opaque ticket
  * the client passes back to doGet — possibly on a different instance
  * (single endpoint per query, service.rs:337).
  */
final case class FlightInfo(
    schemaBytes: Array[Byte],
    endpoints: Seq[Array[Byte]],
    totalRecords: Long = -1,
    totalBytes: Long = -1) {
  /** Single-endpoint convenience: this server emits one endpoint per query
    * (like the reference, service.rs:337); clients must still handle N
    * (RemoteSqlClient merges all endpoint streams, lib.rs:33-59).
    */
  def ticket: Array[Byte] = endpoints.head
}

object FlightInfo {
  def apply(schemaBytes: Array[Byte], ticket: Array[Byte]): FlightInfo =
    FlightInfo(schemaBytes, Seq(ticket))
}

final case class PreparedStatementResult(
    handle: Array[Byte],
    datasetSchema: Array[Byte],
    parameterSchema: Array[Byte])

/** The stateless Flight SQL service semantics over Spark (SURVEY §2.A,
  * §3.1-§3.3), transport-agnostic: the gRPC/tonic layer of the reference
  * (service.rs:109-131) maps to whatever transport embeds this class —
  * in-process for tests (no arrow-flight/gRPC jars exist offline, SURVEY
  * §7.1). Every request re-plans SQL from text; all prepared-statement
  * state rides inside the handle (statelessness invariant, state.rs:55-58).
  */
class FlightSqlService(
    provider: SessionProvider,
    config: FlightSqlServiceConfig = FlightSqlServiceConfig(),
    sqlOptions: SqlOptions = SqlOptions()) {

  private type Meta = Map[String, String]
  private val noMeta: Meta = Map.empty

  private def wrap[T](body: => T): T =
    try body
    catch {
      case s: Status => throw s
      case e: Exception =>
        throw Status.internal(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** Analyzed result schema without execution, with optional table_name
    * field metadata (A10 + A23, service.rs:313-347 / 1044-1083).
    */
  private def schemaForPlan(df: DataFrame): ArrowSchema = {
    val base = SparkArrowBridge.toArrowSchema(
      df.schema, df.sparkSession.sessionState.conf.sessionLocalTimeZone)
    if (!config.schemaWithMetadata) base
    else ArrowCodec.withFieldMetadata(base, fieldMetadata(df))
  }

  private def fieldMetadata(df: DataFrame): Seq[Map[String, String]] =
    if (!config.schemaWithMetadata) Seq.empty
    else SparkArrowBridge.outputQualifiers(df).map {
      case (_, Some(q)) => Map("table_name" -> q)
      case _ => Map.empty[String, String]
    }

  // ---- handshake (A5): auth belongs to transport middleware ----
  def doHandshake(): Nothing =
    throw Status.unimplemented("handshake is not supported")

  // ---- GetFlightInfo family (A10-A13) ----

  def getFlightInfoStatement(sql: String, meta: Meta = noMeta): FlightInfo = wrap {
    val spark = provider.session(meta)
    val df = Params.planForSchema(spark, sql, Params.parameterTypes(spark, sql), sqlOptions)
    FlightInfo(
      ArrowCodec.encodeSchema(schemaForPlan(df)),
      CommandTicket(CommandStatementQuery(sql)).encode)
  }

  def getFlightInfoPreparedStatement(handleBytes: Array[Byte], meta: Meta = noMeta): FlightInfo =
    wrap {
      val spark = provider.session(meta)
      val handle = QueryHandle.decode(handleBytes)
      val df = Params.planForSchema(
        spark, handle.query, Params.parameterTypes(spark, handle.query), sqlOptions)
      FlightInfo(
        ArrowCodec.encodeSchema(schemaForPlan(df)),
        CommandTicket(CommandPreparedStatementQuery(handleBytes)).encode)
    }

  /** Substrait plan → schema + re-encoded ticket (service.rs:349-386):
    * the plan is decoded for its schema but not executed; the ticket
    * carries the original bytes back for DoGet. Decoding is the in-repo
    * wire-format consumer (graft.substrait.SubstraitDecoder) standing in
    * for `deserialize_bytes` + `from_substrait_plan`
    * (service.rs:1018-1029) — no substrait-java exists offline.
    */
  def getFlightInfoSubstraitPlan(plan: Array[Byte], meta: Meta = noMeta): FlightInfo = wrap {
    if (plan.isEmpty)
      throw Status.invalidArgument("Expected substrait plan, found None")
    val spark = provider.session(meta)
    val df = graft.substrait.SubstraitDecoder.decode(spark, plan)
    FlightInfo(
      ArrowCodec.encodeSchema(schemaForPlan(df)),
      CommandTicket(CommandStatementSubstraitPlan(plan)).encode)
  }

  private def metadataInfo(cmd: Command, schema: StructType, spark: SparkSession): FlightInfo =
    FlightInfo(
      ArrowCodec.encodeSchema(SparkArrowBridge.toArrowSchema(
        schema, spark.sessionState.conf.sessionLocalTimeZone)),
      CommandTicket(cmd).encode)

  def getFlightInfoCatalogs(meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(CommandGetCatalogs(), Metadata.catalogsSchema, provider.session(meta))
  }

  def getFlightInfoDbSchemas(cmd: CommandGetDbSchemas, meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(cmd, Metadata.dbSchemasSchema, provider.session(meta))
  }

  def getFlightInfoTables(cmd: CommandGetTables, meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(cmd, Metadata.tablesSchema(cmd.includeSchema), provider.session(meta))
  }

  def getFlightInfoTableTypes(meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(CommandGetTableTypes(), Metadata.tableTypesSchema, provider.session(meta))
  }

  // ---- DoGet: ticket dispatch (A6/A7/A14-A17, service.rs:209-311) ----

  def doGet(ticketBytes: Array[Byte], meta: Meta = noMeta): ArrowCodec.EncodedStream = wrap {
    val spark = provider.session(meta)
    CommandTicket.decode(ticketBytes).command match {
      case CommandStatementQuery(sql) =>
        val df = SqlGate.plan(spark, sql, sqlOptions)
        ArrowCodec.encodeStream(df, fieldMetadata(df))
      case CommandPreparedStatementQuery(handleBytes) =>
        val handle = QueryHandle.decode(handleBytes)
        val df = Params.bind(spark, handle.query, handle.parameters, sqlOptions)
        ArrowCodec.encodeStream(df, fieldMetadata(df))
      case CommandStatementSubstraitPlan(plan) =>
        // service.rs:274-303: deserialize → logical plan → execute stream
        if (plan.isEmpty)
          throw Status.invalidArgument("Expected substrait plan, found None")
        val df = graft.substrait.SubstraitDecoder.decode(spark, plan)
        ArrowCodec.encodeStream(df, fieldMetadata(df))
      case CommandGetCatalogs() => ArrowCodec.encodeStream(Metadata.catalogs(spark))
      case cmd: CommandGetDbSchemas => ArrowCodec.encodeStream(Metadata.dbSchemas(spark, cmd))
      case cmd: CommandGetTables => ArrowCodec.encodeStream(Metadata.tables(spark, cmd))
      case CommandGetTableTypes() => ArrowCodec.encodeStream(Metadata.tableTypes(spark))
    }
  }

  // ---- prepared statements (A18-A22, service.rs:810-941) ----

  def createPreparedStatement(sql: String, meta: Meta = noMeta): PreparedStatementResult =
    wrap {
      val spark = provider.session(meta)
      val paramTypes = Params.parameterTypes(spark, sql)
      val df = Params.planForSchema(spark, sql, paramTypes, sqlOptions)
      val paramFields = paramTypes.map { case (name, t) => StructField(name, t, nullable = false) }
      val paramSchema = SparkArrowBridge.toArrowSchema(
        StructType(paramFields), spark.sessionState.conf.sessionLocalTimeZone)
      PreparedStatementResult(
        QueryHandle(sql, None).encode,
        ArrowCodec.encodeSchema(schemaForPlan(df)),
        ArrowCodec.encodeSchema(paramSchema))
    }

  /** Parameters arrive as a one-schema, ≤1-row Arrow IPC stream and ride
    * back to the client inside the new handle (service.rs:810-862).
    */
  def doPutPreparedStatementQuery(
      handleBytes: Array[Byte],
      parameterStream: Array[Byte],
      meta: Meta = noMeta): Array[Byte] = wrap {
    val handle = QueryHandle.decode(handleBytes)
    // Replicate the reference's three parameter-stream error distinctions
    // (service.rs:826-853 + decode_schema at service.rs:1123-1141): a batch
    // before any schema, a second schema mid-stream, and no schema at all
    // each get their own message.
    val schemaHeader = org.apache.arrow.flatbuf.MessageHeader.Schema
    val batchHeader = org.apache.arrow.flatbuf.MessageHeader.RecordBatch
    val kinds =
      try ArrowCodec.messageHeaderTypes(parameterStream)
      catch {
        case e: Exception =>
          throw Status.invalidArgument(s"parameter flight data must have a schema: ${e.getMessage}")
      }
    val firstSchema = kinds.indexOf(schemaHeader)
    if (kinds.exists(_ == batchHeader) &&
        (firstSchema < 0 || kinds.indexOf(batchHeader) < firstSchema))
      throw Status.invalidArgument("parameter flight data must have a known schema")
    if (kinds.count(_ == schemaHeader) > 1)
      throw Status.invalidArgument("parameter flight data must contain a single schema")
    if (firstSchema < 0)
      throw Status.invalidArgument("parameter flight data must have a schema")
    // A corrupt batch BODY past well-formed headers decodes outside the
    // invalid-argument guard and surfaces as Internal — matching the
    // reference, where mid-stream Arrow decode errors propagate as decoder
    // errors rather than the three classified invalid-argument cases.
    if (ArrowCodec.decode(parameterStream).rows.size > 1)
      throw Status.invalidArgument("parameters should contain a single row")
    handle.copy(parameters = Some(parameterStream)).encode
  }

  /** DDL/SET arrive via the prepared-update path; row count is always −1
    * (service.rs:864-875). DoGet-style statement updates stay unimplemented
    * for parity (A31).
    */
  def doPutPreparedStatementUpdate(handleBytes: Array[Byte], meta: Meta = noMeta): Long = wrap {
    val spark = provider.session(meta)
    val handle = QueryHandle.decode(handleBytes)
    SqlGate.plan(spark, handle.query, sqlOptions) // commands execute eagerly
    -1L
  }

  def closePreparedStatement(handleBytes: Array[Byte], meta: Meta = noMeta): Unit = ()

  // ---- unimplemented-endpoint parity (A31) — same messages as the reference ----

  def getFlightInfoSqlInfo(): Nothing =
    throw Status.unimplemented("Implement CommandGetSqlInfo")
  def getFlightInfoPrimaryKeys(): Nothing =
    throw Status.unimplemented("Implement get_flight_info_primary_keys")
  def getFlightInfoExportedKeys(): Nothing =
    throw Status.unimplemented("Implement get_flight_info_exported_keys")
  def getFlightInfoImportedKeys(): Nothing =
    throw Status.unimplemented("Implement get_flight_info_imported_keys")
  def getFlightInfoCrossReference(): Nothing =
    throw Status.unimplemented("Implement get_flight_info_cross_reference")
  def getFlightInfoXdbcTypeInfo(): Nothing =
    throw Status.unimplemented("Implement get_flight_info_xdbc_type_info")
  def doGetStatement(): Nothing =
    throw Status.unimplemented("Implement do_get_statement")
  def doGetPreparedStatement(): Nothing =
    throw Status.unimplemented("Implement do_get_prepared_statement")
  def doGetSqlInfo(): Nothing =
    throw Status.unimplemented("Implement do_get_sql_info")
  def doGetPrimaryKeys(): Nothing =
    throw Status.unimplemented("Implement do_get_primary_keys")
  def doGetExportedKeys(): Nothing =
    throw Status.unimplemented("Implement do_get_exported_keys")
  def doGetImportedKeys(): Nothing =
    throw Status.unimplemented("Implement do_get_imported_keys")
  def doGetCrossReference(): Nothing =
    throw Status.unimplemented("Implement do_get_cross_reference")
  def doGetXdbcTypeInfo(): Nothing =
    throw Status.unimplemented("Implement do_get_xdbc_type_info")
  def doPutStatementUpdate(): Nothing =
    throw Status.unimplemented("Implement do_put_statement_update")
  def doPutSubstraitPlan(): Nothing =
    throw Status.unimplemented("Implement do_put_prepared_statement_update")
  def doActionCreatePreparedSubstraitPlan(): Nothing =
    throw Status.unimplemented("Implement do_action_create_prepared_substrait_plan")
  def doActionBeginTransaction(): Nothing =
    throw Status.unimplemented("Implement do_action_begin_transaction")
  def doActionEndTransaction(): Nothing =
    throw Status.unimplemented("Implement do_action_end_transaction")
  def doActionBeginSavepoint(): Nothing =
    throw Status.unimplemented("Implement do_action_begin_savepoint")
  def doActionEndSavepoint(): Nothing =
    throw Status.unimplemented("Implement do_action_end_savepoint")
  def doActionCancelQuery(): Nothing =
    throw Status.unimplemented("Implement do_action_cancel_query")

  /** Deliberate no-op hook, like the reference's empty default impl
    * (`async fn register_sql_info(&self, _id: i32, _result: &SqlInfo) {}`,
    * service.rs:1013): servers that want to advertise SqlInfo override it;
    * the default registers nothing.
    */
  def registerSqlInfo(id: Int, result: Any): Unit = ()
}
