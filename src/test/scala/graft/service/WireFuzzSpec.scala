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

  /** Runs `call` on every generated input; fails on any non-`Status` throw. */
  private def fuzz(inputs: Gen[Array[Byte]], cases: Int)(call: Array[Byte] => Any): Unit = {
    val prop = Prop.forAllNoShrink(inputs) { bytes =>
      val escaped =
        try { call(bytes); None }
        catch { case _: Status => None; case t: Throwable => Some(t) }
      escaped.fold(Prop.passed) { t =>
        Prop.falsified :| s"$t from ${bytes.length} bytes ${bytes.take(64).map("%02x".format(_)).mkString}"
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
}
