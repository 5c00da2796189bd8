package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.{GraftSession, SparkArrowBridge}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.Metadata
import graft.engine.{Params, SessionProvider, SqlOptions}
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

  /** The provider's session for this request, with everything graft adds
    * to a session installed: a tenant's fresh session plans like any other.
    */
  private def session(meta: Meta): SparkSession = {
    val spark = provider.session(meta)
    GraftSession.install(spark)
    spark
  }

  private def wrap[T](body: => T): T =
    try body
    catch {
      case s: Status => throw s
      case e: Exception =>
        throw Status.internal(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** The lazy result stream of a planned DataFrame, with optional
    * table_name field metadata (A10 + A23, service.rs:313-347 / 1044-1083).
    * Its `arrowSchema` is the schema FlightInfo and prepare report, known
    * without execution; the plan runs only when the frames after the
    * schema frame are pulled.
    */
  private def stream(df: DataFrame): ArrowCodec.EncodedStream =
    ArrowCodec.encodeStream(df,
      if (!config.schemaWithMetadata) Seq.empty
      else SparkArrowBridge.outputQualifiers(df).map {
        case (_, Some(q)) => Map("table_name" -> q)
        case _ => Map.empty[String, String]
      })

  // ---- handshake (A5): auth belongs to transport middleware ----
  def doHandshake(): Nothing =
    throw Status.unimplemented("handshake is not supported")

  // ---- GetFlightInfo family (A10-A13) ----

  /** The one planner of the query commands, for GetFlightInfo and DoGet
    * alike, so a FlightInfo's schema is by construction the schema DoGet
    * streams. GetFlightInfo (`typeUnbound`) gives a placeholder with no
    * bound value a typed NULL (service.rs:388-425); DoGet leaves it
    * unbound, which fails analysis.
    */
  private def planQuery(spark: SparkSession, cmd: QueryCommand, typeUnbound: Boolean): DataFrame =
    cmd match {
      case CommandStatementQuery(sql) =>
        Params.plan(spark, sql, None, sqlOptions, typeUnbound).df
      case CommandPreparedStatementQuery(handleBytes) =>
        val handle = QueryHandle.decode(handleBytes)
        Params.plan(spark, handle.query, handle.parameters, sqlOptions, typeUnbound).df
      case CommandStatementSubstraitPlan(plan) =>
        // service.rs:280/361; the in-repo SubstraitDecoder stands in for
        // deserialize_bytes + from_substrait_plan (service.rs:1018-1029)
        if (plan.isEmpty)
          throw Status.invalidArgument("Expected substrait plan, found None")
        graft.substrait.SubstraitDecoder.decode(spark, plan)
    }

  /** Schema + the ticket that carries the command back to DoGet, possibly
    * on another instance (service.rs:313-386). Nothing executes, commands
    * included: the schema is that of the stream DoGet would pull, whose
    * first frame is these same bytes.
    */
  private def queryInfo(cmd: QueryCommand, meta: Meta): FlightInfo = wrap {
    val served = stream(planQuery(session(meta), cmd, typeUnbound = true))
    FlightInfo(ArrowCodec.encodeSchema(served.arrowSchema), CommandTicket(cmd).encode)
  }

  def getFlightInfoStatement(sql: String, meta: Meta = noMeta): FlightInfo =
    queryInfo(CommandStatementQuery(sql), meta)

  def getFlightInfoPreparedStatement(handleBytes: Array[Byte], meta: Meta = noMeta): FlightInfo =
    queryInfo(CommandPreparedStatementQuery(handleBytes), meta)

  def getFlightInfoSubstraitPlan(plan: Array[Byte], meta: Meta = noMeta): FlightInfo =
    queryInfo(CommandStatementSubstraitPlan(plan), meta)

  private def metadataInfo(cmd: Command, schema: StructType, spark: SparkSession): FlightInfo =
    FlightInfo(ArrowCodec.encodeSchema(schema, spark), CommandTicket(cmd).encode)

  def getFlightInfoCatalogs(meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(CommandGetCatalogs(), Metadata.catalogsSchema, session(meta))
  }

  def getFlightInfoDbSchemas(cmd: CommandGetDbSchemas, meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(cmd, Metadata.dbSchemasSchema, session(meta))
  }

  def getFlightInfoTables(cmd: CommandGetTables, meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(cmd, Metadata.tablesSchema(cmd.includeSchema), session(meta))
  }

  def getFlightInfoTableTypes(meta: Meta = noMeta): FlightInfo = wrap {
    metadataInfo(CommandGetTableTypes(), Metadata.tableTypesSchema, session(meta))
  }

  // ---- DoGet: ticket dispatch (A6/A7/A14-A17, service.rs:209-311) ----

  def doGet(ticketBytes: Array[Byte], meta: Meta = noMeta): ArrowCodec.EncodedStream = wrap {
    val spark = session(meta)
    CommandTicket.decode(ticketBytes).command match {
      case cmd: QueryCommand => stream(planQuery(spark, cmd, typeUnbound = false))
      case CommandGetCatalogs() => ArrowCodec.encodeStream(Metadata.catalogs(spark))
      case cmd: CommandGetDbSchemas => ArrowCodec.encodeStream(Metadata.dbSchemas(spark, cmd))
      case cmd: CommandGetTables => ArrowCodec.encodeStream(Metadata.tables(spark, cmd))
      case CommandGetTableTypes() => ArrowCodec.encodeStream(Metadata.tableTypes(spark))
    }
  }

  // ---- prepared statements (A18-A22, service.rs:810-941) ----

  def createPreparedStatement(sql: String, meta: Meta = noMeta): PreparedStatementResult =
    wrap {
      val spark = session(meta)
      val planned = Params.plan(spark, sql, None, sqlOptions, typeUnbound = true)
      val paramFields =
        planned.parameterTypes.map { case (name, t) => StructField(name, t, nullable = false) }
      PreparedStatementResult(
        QueryHandle(sql, None).encode,
        ArrowCodec.encodeSchema(stream(planned.df).arrowSchema),
        ArrowCodec.encodeSchema(StructType(paramFields), spark))
    }

  /** Parameters arrive as a one-schema, ≤1-row Arrow IPC stream and ride
    * back to the client inside the new handle (service.rs:810-862); a
    * stream `Params.verifyParameters` refuses is an invalid argument, with
    * the reference's message.
    */
  def doPutPreparedStatementQuery(
      handleBytes: Array[Byte],
      parameterStream: Array[Byte],
      meta: Meta = noMeta): Array[Byte] = wrap {
    val handle = QueryHandle.decode(handleBytes)
    try Params.verifyParameters(parameterStream)
    catch { case e: Params.InvalidParameters => throw Status.invalidArgument(e.message) }
    handle.copy(parameters = Some(parameterStream)).encode
  }

  /** DDL/SET arrive via the prepared-update path; row count is always −1
    * (service.rs:864-875). The statement runs here, where its planned
    * stream is drained, as DoGet's would be; planning it at prepare ran
    * nothing. DoGet-style statement updates stay unimplemented for parity
    * (A31).
    */
  def doPutPreparedStatementUpdate(handleBytes: Array[Byte], meta: Meta = noMeta): Long = wrap {
    val spark = session(meta)
    val handle = QueryHandle.decode(handleBytes)
    ArrowCodec.encodeStream(Params.plan(spark, handle.query, handle.parameters, sqlOptions).df)
      .frames.foreach(_ => ())
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
