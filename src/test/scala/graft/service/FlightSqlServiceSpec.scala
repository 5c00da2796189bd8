package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.{SqlOptions, StaticSessionProvider}
import graft.ipc.ArrowCodec
import graft.protocol.Commands._

/** End-to-end replays of the reference's integration tests
  * (datafusion-flight-sql-server/tests/integration_test.rs:77-328 and
  * tests/schema_metadata_test.rs:80-179) against the in-process service:
  * same fixtures, same assertions — schema before execution, ticket
  * round-trip through Arrow IPC, catalog metadata with filters, prepared
  * statements with parameter binding and the ≤1-row rule.
  */
class FlightSqlServiceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()
  private lazy val service = new FlightSqlService(new StaticSessionProvider(spark))
  private lazy val metaService = new FlightSqlService(
    new StaticSessionProvider(spark), FlightSqlServiceConfig(schemaWithMetadata = true))

  private def fetch(service: FlightSqlService, sql: String) = {
    val info = service.getFlightInfoStatement(sql)
    ArrowCodec.decode(service.doGet(info.ticket).toBytes)
  }

  test("basic SELECT * FROM users: 2 cols, 3 rows (integration_test.rs:77-114)") {
    val info = service.getFlightInfoStatement("SELECT * FROM users")
    // schema known without executing
    val schema = ArrowCodec.decodeSchema(info.schemaBytes)
    assert(schema.getFields.size == 2)
    assert(schema.getFields.get(0).getName == "id")
    assert(schema.getFields.get(1).getName == "name")
    val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
    assert(result.rows.size == 3)
    assert(result.rows.map(_(1)).toSet == Set("Alice", "Bob", "Charlie"))
  }

  test("filtered SELECT name WHERE id > 1: 2 rows (integration_test.rs:116-146)") {
    val result = fetch(service, "SELECT name FROM users WHERE id > 1")
    assert(result.schema.getFields.size == 1)
    assert(result.rows.map(_.head).toSet == Set("Bob", "Charlie"))
  }

  test("COUNT(*) aggregation: one column named count, value 3 (integration_test.rs:262-295)") {
    val result = fetch(service, "SELECT COUNT(*) AS count FROM users")
    assert(result.schema.getFields.size == 1)
    assert(result.schema.getFields.get(0).getName == "count")
    assert(result.rows == Seq(Seq(3L)))
  }

  test("inner join users x orders: 4 rows (integration_test.rs:297-328)") {
    val result = fetch(service,
      """SELECT u.name, o.amount FROM users u
        |JOIN orders o ON u.id = o.user_id""".stripMargin)
    assert(result.rows.size == 4)
    assert(result.rows.map(r => (r(0), r(1))).toSet ==
      Set(("Alice", 50), ("Bob", 75), ("Alice", 100), ("Charlie", 25)))
  }

  test("invalid table yields an error, not a stream (integration_test.rs:247-260)") {
    val e = intercept[Status] {
      service.getFlightInfoStatement("SELECT * FROM nonexistent_table")
    }
    assert(e.code == Status.Internal)
  }

  test("malformed ticket bytes yield a clean error status, never a hang or raw throw") {
    // A long-running server faces hostile/corrupt tickets; every byte
    // pattern must map to a Status. Seeded junk of varying lengths plus a
    // truncated VALID ticket (well-formed prefix, cut mid-payload).
    val rng = new scala.util.Random(99)
    val cases = Seq.fill(20)(Array.fill(1 + rng.nextInt(64))(rng.nextInt(256).toByte)) :+
      service.getFlightInfoStatement("SELECT 1 AS x").ticket.take(3)
    for (junk <- cases) {
      try {
        // some byte patterns decode into a structurally valid ticket whose
        // inner SQL/handle then fails — either way it must be a Status;
        // consume the stream so lazily-surfacing failures count too
        service.doGet(junk).toBytes
        ()
      } catch {
        case s: Status => assert(s.code == Status.Internal || s.code == Status.InvalidArgument)
      }
    }
  }

  test("prepared statement: dataset schema 2 fields, parameter schema 1 field (integration_test.rs:148-171)") {
    val res = service.createPreparedStatement("SELECT * FROM users WHERE id = $1")
    assert(ArrowCodec.decodeSchema(res.datasetSchema).getFields.size == 2)
    val paramSchema = ArrowCodec.decodeSchema(res.parameterSchema)
    assert(paramSchema.getFields.size == 1)
    assert(paramSchema.getFields.get(0).getName == "$1")
    assert(!paramSchema.getFields.get(0).isNullable)
  }

  test("prepared statement executes with a bound parameter end-to-end") {
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    // parameter stream: single row, column "$1" = 2
    val paramDf = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.Arrays.asList(Row(2)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))
    }
    val paramBytes = ArrowCodec.encodeStream(paramDf).toBytes
    val newHandle = service.doPutPreparedStatementQuery(created.handle, paramBytes)
    val info = service.getFlightInfoPreparedStatement(newHandle)
    val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
    assert(result.rows == Seq(Seq("Bob")))
  }

  test("prepared statement: one handle executes with different bound values") {
    def paramBytes(id: Int): Array[Byte] = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      ArrowCodec.encodeStream(spark.createDataFrame(
        java.util.Arrays.asList(Row(id)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))).toBytes
    }
    def run(created: PreparedStatementResult, id: Int): Seq[Seq[Any]] = {
      val handle = service.doPutPreparedStatementQuery(created.handle, paramBytes(id))
      ArrowCodec.decode(service.doGet(
        CommandTicket(CommandPreparedStatementQuery(handle)).encode).toBytes).rows
    }
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    assert(run(created, 2) == Seq(Seq("Bob")))
    assert(run(created, 3) == Seq(Seq("Charlie")))
  }

  test("prepared statement: named params bind; uninferable types still execute") {
    def bytesFor(field: String, v: Int): Array[Byte] = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      ArrowCodec.encodeStream(spark.createDataFrame(
        java.util.Arrays.asList(Row(v)),
        StructType(Seq(StructField(field, IntegerType, nullable = false))))).toBytes
    }
    // named parameter (field name "uid", not $n)
    val named = service.createPreparedStatement("SELECT name FROM users WHERE id = $uid")
    val h1 = service.doPutPreparedStatementQuery(named.handle, bytesFor("uid", 3))
    val r1 = ArrowCodec.decode(service.doGet(
      CommandTicket(CommandPreparedStatementQuery(h1)).encode).toBytes).rows
    assert(r1 == Seq(Seq("Charlie")))
    // uninferable placeholder type (bare projection): create rejects it
    // with the reference's UninferableParameter, but tickets are
    // STATELESS — a client can hand-construct the handle and execute
    // anyway, and Spark binds the untyped value directly.
    val e = intercept[Status] {
      service.createPreparedStatement("SELECT $1 AS x FROM users WHERE id = 1")
    }
    assert(e.message.contains("unable to determine type of query parameter"))
    val handMade = QueryHandle(
      "SELECT $1 AS x FROM users WHERE id = 1", Some(bytesFor("$1", 42))).encode
    val r2 = ArrowCodec.decode(service.doGet(
      CommandTicket(CommandPreparedStatementQuery(handMade)).encode).toBytes).rows
    assert(r2 == Seq(Seq(42)))
  }

  test("prepared statement: a NULL parameter value matches nothing") {
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    val nullParam = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      ArrowCodec.encodeStream(spark.createDataFrame(
        java.util.Arrays.asList(Row(null)),
        StructType(Seq(StructField("$1", IntegerType, nullable = true))))).toBytes
    }
    val handle = service.doPutPreparedStatementQuery(created.handle, nullParam)
    val rows = ArrowCodec.decode(service.doGet(
      CommandTicket(CommandPreparedStatementQuery(handle)).encode).toBytes).rows
    assert(rows.isEmpty, s"id = NULL must match nothing, got $rows")
  }

  test("prepared statement rejects multi-row parameter streams (service.rs:849-853)") {
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    val paramDf = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.Arrays.asList(Row(1), Row(2)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))
    }
    val e = intercept[Status] {
      service.doPutPreparedStatementQuery(created.handle, ArrowCodec.encodeStream(paramDf).toBytes)
    }
    assert(e.code == Status.InvalidArgument)
    assert(e.message.contains("single row"))
  }

  test("prepared statement rejects a second schema mid-stream (service.rs:836-841)") {
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    val schema = {
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, Schema}
      new Schema(java.util.Arrays.asList(
        Field.nullable("$1", new ArrowType.Int(32, true))))
    }
    // two concatenated schema messages form a syntactically readable stream
    // with a duplicate schema — the reference's "single schema" case
    val twoSchemas = ArrowCodec.encodeSchema(schema) ++ ArrowCodec.encodeSchema(schema)
    val e = intercept[Status] {
      service.doPutPreparedStatementQuery(created.handle, twoSchemas)
    }
    assert(e.code == Status.InvalidArgument)
    assert(e.message == "parameter flight data must contain a single schema")
  }

  test("prepared statement rejects a batch before any schema (service.rs:1123-1141)") {
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    val paramDf = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      spark.createDataFrame(
        java.util.Arrays.asList(Row(2)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))
    }
    val full = ArrowCodec.encodeStream(paramDf).toBytes
    // slice off the leading schema message so the first message is a batch
    val kinds = ArrowCodec.messageHeaderTypes(full)
    assert(kinds.head == org.apache.arrow.flatbuf.MessageHeader.Schema)
    // IPC framing: 0xFFFFFFFF continuation, little-endian metadata length,
    // flatbuffer; the schema message has no body, so it spans 8+len bytes
    val len = java.nio.ByteBuffer.wrap(full, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val headless = full.drop(8 + len)
    val e = intercept[Status] {
      service.doPutPreparedStatementQuery(created.handle, headless)
    }
    assert(e.code == Status.InvalidArgument)
    assert(e.message == "parameter flight data must have a known schema")
  }

  test("register_sql_info is a no-op hook (service.rs:1013)") {
    service.registerSqlInfo(0, "anything") // must not throw, registers nothing
    // the SqlInfo surface stays unimplemented exactly as before
    val e = intercept[Status](service.getFlightInfoSqlInfo())
    assert(e.message == "Implement CommandGetSqlInfo")
  }

  test("engine functions are callable through the service SQL surface") {
    val info = service.getFlightInfoStatement(
      "SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>), array(2.0D, 3.0D)) AS d")
    val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
    assert(result.rows == Seq(Seq(8.0)))
  }

  test("close prepared statement is a NOP (service.rs:927-941)") {
    val created = service.createPreparedStatement("SELECT 1")
    service.closePreparedStatement(created.handle) // must not throw
  }

  test("get_db_schemas honors catalog + LIKE filter (integration_test.rs:173-205)") {
    val all = ArrowCodec.decode(service.doGet(
      service.getFlightInfoDbSchemas(
        CommandGetDbSchemas(Some("spark_catalog"), None)).ticket).toBytes)
    assert(all.rows.exists(_(1) == "default"))

    val filtered = ArrowCodec.decode(service.doGet(
      service.getFlightInfoDbSchemas(
        CommandGetDbSchemas(Some("spark_catalog"), Some("def%"))).ticket).toBytes)
    assert(filtered.rows.nonEmpty && filtered.rows.forall(_(1).toString.startsWith("def")))

    val none = ArrowCodec.decode(service.doGet(
      service.getFlightInfoDbSchemas(
        CommandGetDbSchemas(Some("no_such_catalog"), None)).ticket).toBytes)
    assert(none.rows.isEmpty)
  }

  test("get_tables lists temp views, filters by name pattern (integration_test.rs:207-245)") {
    val all = ArrowCodec.decode(service.doGet(
      service.getFlightInfoTables(
        CommandGetTables(Some("spark_catalog"), None, None, Nil, includeSchema = false))
        .ticket).toBytes)
    val names = all.rows.map(_(2)).toSet
    assert(names.contains("users") && names.contains("orders"))
    assert(all.rows.filter(r => r(2) == "users" || r(2) == "orders")
      .forall(_(3) == "TEMPORARY"))

    val filtered = ArrowCodec.decode(service.doGet(
      service.getFlightInfoTables(
        CommandGetTables(Some("spark_catalog"), None, Some("use%"), Nil, includeSchema = false))
        .ticket).toBytes)
    assert(filtered.rows.map(_(2)) == Seq("users"))
  }

  test("get_tables include_schema embeds each table's Arrow schema (integration_test.rs:216-222)") {
    val result = ArrowCodec.decode(service.doGet(
      service.getFlightInfoTables(
        CommandGetTables(Some("spark_catalog"), None, Some("users"), Nil, includeSchema = true))
        .ticket).toBytes)
    assert(result.rows.size == 1)
    assert(result.schema.getFields.size == 5)
    val schemaBytes = result.rows.head(4).asInstanceOf[Array[Byte]]
    val embedded = ArrowCodec.decodeSchema(schemaBytes)
    assert(embedded.getFields.size == 2)
    assert(embedded.getFields.get(0).getName == "id")
  }

  test("get_table_types returns the three constant types (service.rs:708-731)") {
    val result = ArrowCodec.decode(service.doGet(
      service.getFlightInfoTableTypes().ticket).toBytes)
    assert(result.rows.map(_.head) == Seq("BASE TABLE", "VIEW", "TEMPORARY"))
  }

  test("catalogs endpoint lists spark_catalog (service.rs:616-636)") {
    val result = ArrowCodec.decode(service.doGet(
      service.getFlightInfoCatalogs().ticket).toBytes)
    assert(result.rows.map(_.head).contains("spark_catalog"))
  }

  test("schema_with_metadata decorates fields with table_name (schema_metadata_test.rs:80-111)") {
    val info = metaService.getFlightInfoStatement("SELECT id, name FROM users")
    val schema = ArrowCodec.decodeSchema(info.schemaBytes)
    (0 until 2).foreach { i =>
      assert(schema.getFields.get(i).getMetadata.get("table_name") == "users")
    }
  }

  test("table_name metadata survives aliases and subqueries (schema_metadata_test.rs:113-179)") {
    val info = metaService.getFlightInfoStatement(
      """SELECT u.id, o.total FROM users u
        |JOIN (SELECT user_id, SUM(amount) AS total FROM orders GROUP BY user_id) o
        |ON u.id = o.user_id""".stripMargin)
    val schema = ArrowCodec.decodeSchema(info.schemaBytes)
    assert(schema.getFields.get(0).getMetadata.get("table_name") == "u")
    assert(schema.getFields.get(1).getMetadata.get("table_name") == "o")
  }

  test("handshake is rejected — auth is middleware's job (service.rs:198-207)") {
    val e = intercept[Status](service.doHandshake())
    assert(e.code == Status.Unimplemented)
    assert(e.message == "handshake is not supported")
  }

  test("unimplemented endpoints keep the reference's messages (A31)") {
    assert(intercept[Status](service.doGetSqlInfo()).message == "Implement do_get_sql_info")
    assert(intercept[Status](service.doPutStatementUpdate()).message == "Implement do_put_statement_update")
    assert(intercept[Status](service.doActionBeginTransaction()).message == "Implement do_action_begin_transaction")
    assert(intercept[Status](service.doActionCancelQuery()).message == "Implement do_action_cancel_query")
  }

  test("DDL routed through prepared-update path returns -1 (service.rs:864-875)") {
    val created = service.createPreparedStatement(
      "CREATE OR REPLACE TEMPORARY VIEW big_orders AS SELECT * FROM orders WHERE amount > 60")
    assert(service.doPutPreparedStatementUpdate(created.handle) == -1L)
    val result = fetch(service, "SELECT COUNT(*) AS n FROM big_orders")
    assert(result.rows == Seq(Seq(2L)))
  }

  test("SQL gate rejects DDL when disallowed (SQLOptions semantics, service.rs:170-175)") {
    val locked = new FlightSqlService(
      new StaticSessionProvider(spark),
      sqlOptions = SqlOptions(allowDdl = false))
    val e = intercept[Status] {
      locked.getFlightInfoStatement("CREATE TABLE t(i INT) USING parquet")
    }
    assert(e.message.toLowerCase.contains("ddl"))
    // plain queries still pass
    assert(locked.getFlightInfoStatement("SELECT 1").ticket.nonEmpty)
  }

  test("substrait plan e2e: GetFlightInfo schema, ticket round-trip, batches = SQL twin (service.rs:274-303/349-386)") {
    import graft.substrait.SubstraitBuilder._
    val fns = Seq(
      Fn(1, UriComparison, "equal:any_any"),
      Fn(2, UriComparison, "gt:any_any"))
    val users = readNamed("users", Seq("id" -> typ(I32), "name" -> typ(STR)))
    val orders = readNamed("orders", Seq(
      "order_id" -> typ(I32), "user_id" -> typ(I32), "amount" -> typ(I32)))
    // combined [id, name, order_id, user_id, amount] → filter → emit → sort
    val joined = join(users, orders, fn(1, typ(BOOL), fieldRef(0), fieldRef(3)), Inner)
    val filtered = filterRel(joined, fn(2, typ(BOOL), fieldRef(4), litI32(30)))
    val trimmed = project(filtered, Seq(fieldRef(1), fieldRef(4)), Some(Seq(5, 6)))
    val planBytes = plan(sort(trimmed, Seq(fieldRef(1) -> AscLast)),
      Seq("name", "amount"), fns)

    val info = service.getFlightInfoSubstraitPlan(planBytes)
    // schema known before execution, named from the plan's root names
    val schema = ArrowCodec.decodeSchema(info.schemaBytes)
    assert(schema.getFields.size == 2)
    assert(schema.getFields.get(0).getName == "name")
    assert(schema.getFields.get(1).getName == "amount")
    // the ticket carries the original plan bytes back (service.rs:349-386)
    CommandTicket.decode(info.ticket).command match {
      case CommandStatementSubstraitPlan(bytes) => assert(bytes.sameElements(planBytes))
      case other => fail(s"expected a substrait ticket, got $other")
    }
    val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
    val twin = this.fetch(service,
      """SELECT name, amount FROM users u JOIN orders o ON u.id = o.user_id
        |WHERE amount > 30 ORDER BY amount""".stripMargin)
    assert(result.rows == twin.rows)
    assert(result.rows == Seq(Seq("Alice", 50), Seq("Bob", 75), Seq("Alice", 100)))
  }

  test("empty substrait plan errors on both arms (service.rs:280/361)") {
    val e1 = intercept[Status](service.getFlightInfoSubstraitPlan(Array.emptyByteArray))
    assert(e1.code == Status.InvalidArgument)
    assert(e1.message == "Expected substrait plan, found None")
    val e2 = intercept[Status](service.doGet(
      CommandTicket(CommandStatementSubstraitPlan(Array.emptyByteArray)).encode))
    assert(e2.code == Status.InvalidArgument)
    assert(e2.message == "Expected substrait plan, found None")
  }

  test("unsupported substrait relation errors through the service, naming the construct") {
    import graft.substrait.SubstraitBuilder._
    import graft.protocol.Proto.Writer
    def msgW(b: Writer => Unit): Array[Byte] = { val w = new Writer(); b(w); w.result() }
    val users = readNamed("users", Seq("id" -> typ(I32), "name" -> typ(STR)))
    val extensionSingle = msgW(_.bytesField(9, msgW(_.bytesField(1, users))))
    val e = intercept[Status](
      service.getFlightInfoSubstraitPlan(plan(extensionSingle, Nil, Nil)))
    assert(e.code == Status.Internal)
    assert(e.message.contains("unsupported relation tag 9"))
  }

  test("statement ticket is self-contained: re-decodable and re-runnable (statelessness)") {
    val info = service.getFlightInfoStatement("SELECT COUNT(*) AS n FROM orders")
    // a 'different instance' — new service object — can serve the same ticket
    val other = new FlightSqlService(new StaticSessionProvider(spark))
    val result = ArrowCodec.decode(other.doGet(info.ticket).toBytes)
    assert(result.rows == Seq(Seq(4L)))
  }

  test("DoGet re-plans from SQL text: a view re-registered after GetFlightInfo serves its new rows") {
    spark.sql("SELECT 1 AS a").createOrReplaceTempView("replan_probe")
    try {
      val info = service.getFlightInfoStatement("SELECT * FROM replan_probe")
      spark.sql("SELECT 2 AS a, 'x' AS b").createOrReplaceTempView("replan_probe")
      val result = ArrowCodec.decode(service.doGet(info.ticket).toBytes)
      assert(result.schema.getFields.size == 2)
      assert(result.rows == Seq(Seq(2, "x")))
    } finally spark.catalog.dropTempView("replan_probe")
  }
}
