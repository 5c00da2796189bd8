package graft.service

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.{SqlOptions, StaticSessionProvider}
import graft.ipc.ArrowCodec
import graft.protocol.Commands._
import graft.substrait.SubstraitQueries

/** Property-based fuzzing of the service's wire decoders: arbitrary bytes
  * and bit-flipped or truncated valid tickets, handles, Substrait plans and
  * parameter streams go into every endpoint that decodes client bytes. Each
  * call must return or throw a [[Status]], never any other `Throwable`.
  */
class WireFuzzSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  // its own session: the fixture tables below must not replace the shared
  // session's views, and the SQL gate keeps mutated SQL from changing state
  private lazy val spark = {
    val s = TestSpark.spark.newSession()
    graft.queries.Tables.registerAll(s, sf)
    s
  }
  private lazy val service = new FlightSqlService(
    new StaticSessionProvider(spark),
    sqlOptions = SqlOptions(allowDdl = false, allowDml = false, allowStatements = false))

  private def intParam(v: Int): Array[Byte] =
    ArrowCodec.encodeStream(spark.createDataFrame(
      java.util.Arrays.asList(Row(v)),
      StructType(Seq(StructField("$1", IntegerType, nullable = false))))).toBytes

  private lazy val params = Seq(intParam(7), intParam(-1))
  private lazy val handles = Seq(
    QueryHandle("SELECT $1 + 1 AS x", Some(params.head)).encode,
    QueryHandle("SELECT r_name FROM region WHERE r_regionkey = $1", Some(params(1))).encode,
    QueryHandle("SELECT COUNT(*) AS n FROM nation", None).encode)
  private lazy val plans = Seq(
    SubstraitQueries.aggPlanBytes, SubstraitQueries.joinPlanBytes,
    SubstraitQueries.unionPlanBytes, SubstraitQueries.windowPlanBytes,
    SubstraitQueries.groupingSetsPlanBytes, SubstraitQueries.inSubqueryPlanBytes)
  private lazy val tickets: Seq[Array[Byte]] = (Seq(
    CommandStatementQuery("SELECT * FROM region"),
    CommandGetTables(None, Some("def%"), Some("n%"), Seq("TEMPORARY"), includeSchema = true),
    CommandGetDbSchemas(Some("spark_catalog"), None),
    CommandGetTableTypes()) ++
    handles.map(CommandPreparedStatementQuery) ++
    plans.map(CommandStatementSubstraitPlan)).map(CommandTicket(_).encode)

  /** Up to 4 KiB of arbitrary bytes, most of them short. */
  private val junk: Gen[Array[Byte]] = for {
    n <- Gen.frequency(3 -> Gen.choose(0, 64), 1 -> Gen.choose(0, 4096))
    bytes <- Gen.containerOfN[Array, Byte](n, Arbitrary.arbitrary[Byte])
  } yield bytes

  /** A valid message with 1-4 bit flips, then (every other time) truncated. */
  private def mutant(valid: Seq[Array[Byte]]): Gen[Array[Byte]] = for {
    seed <- Gen.oneOf(valid)
    flips <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, seed.length * 8 - 1)))
    keep <- Gen.oneOf(Gen.const(seed.length), Gen.choose(0, seed.length))
  } yield {
    val b = seed.clone()
    flips.foreach(i => b(i / 8) = (b(i / 8) ^ (1 << (i % 8))).toByte)
    b.take(keep)
  }

  /** Statements that would change the session or its catalog if they ran:
    * every class the gate knows, commands it does not name, and the forms
    * that hide an inner statement.
    */
  private val hostile = Seq(
    "ADD JAR /tmp/graft-fuzz.jar", "ADD FILE /tmp/graft-fuzz.txt",
    "CREATE TEMPORARY FUNCTION graft_evil AS 'graft.None'",
    "DECLARE VARIABLE graft_v INT", "SET VAR graft_v = 1", "USE default",
    "TRUNCATE TABLE region", "LOAD DATA LOCAL INPATH '/tmp/graft-fuzz' INTO TABLE region",
    "ALTER TABLE region SET TBLPROPERTIES ('k' = 'v')", "CREATE INDEX i ON region (r_name)",
    "CALL cat.sys.proc()", "DROP VIEW region",
    "CREATE OR REPLACE TEMPORARY VIEW region AS SELECT 1 AS x",
    "SET spark.sql.ansi.enabled = false", "RESET", "INSERT INTO region VALUES (9, 'X', 'y')",
    "EXECUTE IMMEDIATE 'DROP VIEW region'", "BEGIN DROP VIEW region; END",
    "EXPLAIN EXECUTE IMMEDIATE 'DROP VIEW nation'")

  /** A hostile statement with random letter case and whitespace, run as
    * is, inside a string literal, or behind a line or block comment.
    */
  private val sqlText: Gen[String] = for {
    stmt <- Gen.oneOf(hostile)
    upper <- Gen.listOfN(stmt.length, Arbitrary.arbitrary[Boolean])
    spaces <- Gen.listOfN(stmt.length, Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", " /* c */ "))
    wrap <- Gen.oneOf(Seq[String => String](
      t => t, t => s"SELECT '${t.replace("'", "\\'")}' AS s",
      t => s"SELECT 1 AS x -- $t", t => s"SELECT 1 AS x /* $t */"))
  } yield wrap(stmt.indices.map { i =>
    val c = stmt(i)
    if (c == ' ') spaces(i) else if (upper(i)) c.toUpper.toString else c.toLower.toString
  }.mkString)

  /** What a statement that got past the gate could leave behind. */
  private def sessionState(): Seq[Any] = Seq(
    spark.catalog.listTables().collect().map(_.name).toSet,
    spark.conf.getAll.filter(_._1.startsWith("spark.sql.")),
    spark.sessionState.catalogManager.tempVariableManager.isEmpty,
    spark.sessionState.functionRegistry.listFunction().toSet)

  /** Runs `call` on every generated input; fails on any non-`Status` throw. */
  private def fuzz[A](inputs: Gen[A], cases: Int)(call: A => Any): Unit = {
    val prop = Prop.forAllNoShrink(inputs) { input =>
      val escaped =
        try { call(input); None }
        catch { case _: Status => None; case t: Throwable => Some(t) }
      escaped.fold(Prop.passed) { t =>
        val shown = input match {
          case bytes: Array[Byte] =>
            s"${bytes.length} bytes ${bytes.take(64).map("%02x".format(_)).mkString}"
          case other => other.toString
        }
        Prop.falsified :| s"$t from $shown"
      }
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(cases).withWorkers(1)
        .withInitialSeed(org.scalacheck.rng.Seed(20261018L)),
      prop)
    assert(result.passed, Pretty.pretty(result))
  }

  private def drain(stream: ArrowCodec.EncodedStream): Unit = stream.frames.foreach(_ => ())

  test("doGet: junk and mutated tickets get a Status") {
    fuzz(Gen.oneOf(junk, mutant(tickets)), 300)(b => drain(service.doGet(b)))
  }

  test("getFlightInfoPreparedStatement: junk and mutated handles get a Status") {
    fuzz(Gen.oneOf(junk, mutant(handles)), 200)(service.getFlightInfoPreparedStatement(_))
  }

  test("getFlightInfoSubstraitPlan: junk and mutated plans get a Status") {
    fuzz(Gen.oneOf(junk, mutant(plans)), 300)(service.getFlightInfoSubstraitPlan(_))
  }

  test("doPutPreparedStatementQuery: junk and mutated handles and parameter streams get a Status") {
    fuzz(Gen.oneOf(junk, mutant(params)), 200)(service.doPutPreparedStatementQuery(handles.head, _))
    fuzz(Gen.oneOf(junk, mutant(handles)), 100)(service.doPutPreparedStatementQuery(_, params.head))
  }

  test("doPutPreparedStatementUpdate: junk and mutated handles get a Status") {
    fuzz(Gen.oneOf(junk, mutant(handles)), 200)(service.doPutPreparedStatementUpdate(_))
  }

  test("SQL text: hostile statements and their variants get a Status and change no session state") {
    val before = sessionState()
    fuzz(sqlText, 150)(service.getFlightInfoStatement(_))
    fuzz(sqlText, 150)(service.createPreparedStatement(_))
    fuzz(sqlText, 150)(sql => service.doPutPreparedStatementUpdate(QueryHandle(sql, None).encode))
    assert(sessionState() == before)
  }
}
