package graft.service

import org.apache.spark.sql.graftbridge.{GraftSession, UnsafeRows}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.engine.StaticSessionProvider
import graft.ipc.ArrowCodec

/** Every SQL-text spec of the operator matrix, served: its Spark SQL goes
  * through GetFlightInfo and DoGet at sf0.001, and the decoded stream must
  * hold `spec.run`'s rows, byte for byte and in order, under the schema
  * GetFlightInfo reported. `spec.run` registers the tables, which installs
  * graft's strategies on the session, so the expected rows are planned
  * again from the spec frame's logical plan with those strategies taken
  * off the session (no filter literal bound, every global sort as Spark
  * plans it): the served rows are checked against an independent plan.
  */
class ServedMatrixSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private lazy val service = new FlightSqlService(new StaticSessionProvider(spark))
  private lazy val graftStrategies = GraftSession.strategies.map(_(spark).getClass).toSet

  private def withoutGraftStrategies[A](body: => A): A = {
    val strategies = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = strategies.filterNot(s => graftStrategies(s.getClass))
    try body finally spark.experimental.extraStrategies = strategies
  }

  for ((name, spec) <- SparkEntry.specs.toSeq.sortBy(_._1); text <- spec.text)
    test(s"$name is served with spec.run's rows under the FlightInfo schema") {
      val frame = spec.run(spark, sf) // registers the tables too
      val expected = withoutGraftStrategies(UnsafeRows.replanned(frame))
      val info = service.getFlightInfoStatement(text)
      val frames = service.doGet(info.ticket).frames.toVector
      assert(info.schemaBytes.sameElements(frames.head))
      val served = ArrowCodec.read(frames.flatten.toArray)._2
      assert(served.size == expected.size)
      assert(served == expected)
    }
}
