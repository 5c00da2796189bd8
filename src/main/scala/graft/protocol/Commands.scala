package graft.protocol

/** Flight SQL command ADT + the two stateless-state codecs.
  *
  * `CommandTicket` wraps a protobuf-`Any`-packed Flight SQL command (mirrors
  * datafusion-flight-sql-server/src/state.rs:11-53: a one-field message with
  * the Any bytes at tag 2). `QueryHandle` carries the full prepared-statement
  * state — SQL text + optionally the Arrow-IPC-encoded parameter row — so
  * any service instance can execute it (state.rs:55-120; statelessness
  * invariant of SURVEY §0).
  *
  * Wire layout is byte-compatible with the reference so a real Flight SQL
  * client's tickets/handles would interop.
  */
object Commands {

  private val typeUrlPrefix = "type.googleapis.com/arrow.flight.protocol.sql."

  /** The subset of arrow.flight.protocol.sql commands the reference
    * round-trips through tickets (service.rs:209-311, 427-516).
    */
  sealed trait Command { def typeName: String }

  /** The commands that carry a query to plan, as opposed to catalog metadata. */
  sealed trait QueryCommand extends Command

  final case class CommandStatementQuery(query: String)
      extends QueryCommand { val typeName = "CommandStatementQuery" }

  final case class CommandPreparedStatementQuery(handle: Array[Byte])
      extends QueryCommand { val typeName = "CommandPreparedStatementQuery" }

  final case class CommandStatementSubstraitPlan(plan: Array[Byte])
      extends QueryCommand { val typeName = "CommandStatementSubstraitPlan" }

  final case class CommandGetCatalogs()
      extends Command { val typeName = "CommandGetCatalogs" }

  final case class CommandGetDbSchemas(
      catalog: Option[String], dbSchemaFilterPattern: Option[String])
      extends Command { val typeName = "CommandGetDbSchemas" }

  final case class CommandGetTables(
      catalog: Option[String],
      dbSchemaFilterPattern: Option[String],
      tableNameFilterPattern: Option[String],
      tableTypes: Seq[String],
      includeSchema: Boolean)
      extends Command { val typeName = "CommandGetTables" }

  final case class CommandGetTableTypes()
      extends Command { val typeName = "CommandGetTableTypes" }

  // ---- Any packing (protobuf well-known type: type_url tag 1, value tag 2) ----

  private def encodeCommand(c: Command): Array[Byte] = c match {
    case CommandStatementQuery(q) =>
      new Proto.Writer().stringFieldNonEmpty(1, q).result()
    case CommandPreparedStatementQuery(h) =>
      new Proto.Writer().bytesField(1, h).result()
    case CommandStatementSubstraitPlan(p) =>
      // Plan message { bytes plan = 1; } nested at tag 1
      new Proto.Writer()
        .bytesField(1, new Proto.Writer().bytesField(1, p).result()).result()
    case CommandGetCatalogs() => Array.emptyByteArray
    case CommandGetDbSchemas(cat, pat) =>
      val w = new Proto.Writer()
      cat.foreach(w.stringField(1, _))
      pat.foreach(w.stringField(2, _))
      w.result()
    case CommandGetTables(cat, dbPat, tblPat, types, inclSchema) =>
      val w = new Proto.Writer()
      cat.foreach(w.stringField(1, _))
      dbPat.foreach(w.stringField(2, _))
      tblPat.foreach(w.stringField(3, _))
      types.foreach(w.stringField(4, _))
      w.boolField(5, inclSchema)
      w.result()
    case CommandGetTableTypes() => Array.emptyByteArray
  }

  def packAny(c: Command): Array[Byte] =
    new Proto.Writer()
      .stringField(1, typeUrlPrefix + c.typeName)
      .bytesField(2, encodeCommand(c))
      .result()

  def unpackAny(bytes: Array[Byte]): Command = {
    val fields = Proto.decodeFields(bytes)
    val url = fields.find(_.tag == 1).map(Proto.string)
      .getOrElse(throw new IllegalArgumentException("Any without type_url"))
    val value = fields.find(_.tag == 2).map(_.bytes).getOrElse(Array.emptyByteArray)
    val fs = Proto.decodeFields(value)
    def strOpt(tag: Int) = fs.find(_.tag == tag).map(Proto.string)
    url.stripPrefix(typeUrlPrefix) match {
      case "CommandStatementQuery" =>
        CommandStatementQuery(strOpt(1).getOrElse(""))
      case "CommandPreparedStatementQuery" =>
        CommandPreparedStatementQuery(
          fs.find(_.tag == 1).map(_.bytes).getOrElse(Array.emptyByteArray))
      case "CommandStatementSubstraitPlan" =>
        val plan = fs.find(_.tag == 1).map(_.bytes).getOrElse(Array.emptyByteArray)
        val inner = Proto.decodeFields(plan).find(_.tag == 1).map(_.bytes)
          .getOrElse(Array.emptyByteArray)
        CommandStatementSubstraitPlan(inner)
      case "CommandGetCatalogs" => CommandGetCatalogs()
      case "CommandGetDbSchemas" => CommandGetDbSchemas(strOpt(1), strOpt(2))
      case "CommandGetTables" =>
        CommandGetTables(strOpt(1), strOpt(2), strOpt(3),
          fs.filter(_.tag == 4).map(Proto.string),
          fs.exists(f => f.tag == 5 && f.varint != 0))
      case "CommandGetTableTypes" => CommandGetTableTypes()
      case other =>
        throw new IllegalArgumentException(s"unsupported command type: $other")
    }
  }

  // ---- CommandTicket (state.rs:11-53): { bytes command = 2 } ----

  final case class CommandTicket(command: Command) {
    def encode: Array[Byte] =
      new Proto.Writer().bytesField(2, packAny(command)).result()
  }

  object CommandTicket {
    def decode(bytes: Array[Byte]): CommandTicket = {
      val cmd = Proto.decodeFields(bytes).find(_.tag == 2).map(_.bytes)
        .getOrElse(throw new IllegalArgumentException("ticket without command"))
      CommandTicket(unpackAny(cmd))
    }
  }

  // ---- QueryHandle (state.rs:55-120): { string query = 1; optional bytes parameters = 2 } ----

  final case class QueryHandle(query: String, parameters: Option[Array[Byte]]) {
    def encode: Array[Byte] = {
      val w = new Proto.Writer().stringFieldNonEmpty(1, query)
      parameters.foreach(w.bytesField(2, _))
      w.result()
    }
    override def toString: String = s"Query($query)" // state.rs:107-111
  }

  object QueryHandle {
    def decode(bytes: Array[Byte]): QueryHandle = {
      val fs = Proto.decodeFields(bytes)
      QueryHandle(
        fs.find(_.tag == 1).map(Proto.string).getOrElse(""),
        fs.find(_.tag == 2).map(_.bytes))
    }
  }
}
