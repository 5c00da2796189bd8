package graft.service

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.StaticSessionProvider
import graft.ipc.ArrowCodec
import graft.protocol.Commands._

/** Concurrency pin for the service layer: a long-running server fields
  * many clients at once, and the shared mutable state — Spark's own
  * session state — must stay consistent under contention. 8 threads ×
  * mixed workload (ad-hoc statements, prepared statements with different
  * bound values, catalog metadata), every result checked for the exact
  * expected rows; any cross-request bleed (a value bound by one thread
  * surfacing in another's result) fails the assertion, not just the
  * absence of exceptions.
  */
class ServiceConcurrencySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.fixtures()

  test("mixed statement/prepared/metadata workload is linearizable under 8 threads") {
    val service = new FlightSqlService(new StaticSessionProvider(spark))
    val users = Map(1 -> "Alice", 2 -> "Bob", 3 -> "Charlie")

    def paramBytes(id: Int): Array[Byte] = {
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.Row
      ArrowCodec.encodeStream(spark.createDataFrame(
        java.util.Arrays.asList(Row(id)),
        StructType(Seq(StructField("$1", IntegerType, nullable = false))))).toBytes
    }

    val threads = 8
    val opsPerThread = 15
    val pool = Executors.newFixedThreadPool(threads)
    val start = new CountDownLatch(1)
    val created = service.createPreparedStatement("SELECT name FROM users WHERE id = $1")
    val results = (0 until threads).map { t =>
      pool.submit(new java.util.concurrent.Callable[Try[Unit]] {
        def call(): Try[Unit] = Try {
          start.await()
          for (op <- 0 until opsPerThread) {
            (t + op) % 3 match {
              case 0 => // ad-hoc statement through the plan cache
                val info = service.getFlightInfoStatement("SELECT COUNT(*) AS n FROM users")
                val rows = ArrowCodec.decode(service.doGet(info.ticket).toBytes).rows
                assert(rows == Seq(Seq(3L)), s"t$t op$op: count drifted: $rows")
              case 1 => // prepared exec: each thread binds its OWN id
                val id = 1 + (t + op) % 3
                val handle = service.doPutPreparedStatementQuery(created.handle, paramBytes(id))
                val rows = ArrowCodec.decode(service.doGet(
                  CommandTicket(CommandPreparedStatementQuery(handle)).encode).toBytes).rows
                assert(rows == Seq(Seq(users(id))),
                  s"t$t op$op: bound $id, got $rows — cross-request parameter bleed")
              case 2 => // catalog metadata
                val rows = ArrowCodec.decode(
                  service.doGet(CommandTicket(CommandGetTableTypes()).encode).toBytes).rows
                assert(rows.nonEmpty, s"t$t op$op: empty table types")
            }
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    val outcomes = results.map(_.get(120, TimeUnit.SECONDS))
    assert(pool.awaitTermination(10, TimeUnit.SECONDS))
    val failures = outcomes.collect { case Failure(e) => e }
    assert(failures.isEmpty, failures.map(_.toString).mkString("\n"))
    assert(outcomes.count(_.isInstanceOf[Success[_]]) == threads)
  }
}
