package graft.service

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.StaticSessionProvider
import graft.ipc.ArrowCodec

/** The serve lifecycle over a real TCP socket (A1 analog of
  * integration_test.rs:60-75: spin the server on a port, connect a real
  * client, run the query flow over the wire).
  */
class SocketTransportSpec extends AnyFunSuite {

  test("server boots on an ephemeral port and serves the statement flow over TCP") {
    val spark = TestSpark.fixtures()
    val server = new SocketServer(new FlightSqlService(new StaticSessionProvider(spark)))
    val port = server.start()
    try {
      val client = new SocketClient("127.0.0.1", port)
      try {
        val (schemaBytes, ticket) = client.getFlightInfoStatement("SELECT * FROM users")
        assert(ArrowCodec.decodeSchema(schemaBytes).getFields.size == 2)
        val result = ArrowCodec.decode(client.doGet(ticket))
        assert(result.rows.size == 3)
        assert(result.rows.map(_(1)).toSet == Set("Alice", "Bob", "Charlie"))

        // errors cross the wire as status frames
        val e = intercept[RuntimeException] {
          client.getFlightInfoStatement("SELECT * FROM no_such_table")
        }
        assert(e.getMessage.toLowerCase.contains("no_such_table") ||
          e.getMessage.nonEmpty)

        // a second request reuses the same connection
        val (_, t2) = client.getFlightInfoStatement("SELECT COUNT(*) AS n FROM orders")
        assert(ArrowCodec.decode(client.doGet(t2)).rows == Seq(Seq(4L)))

        // runtime failure AFTER streaming starts (lazy execution) arrives as
        // the -2 error sentinel, not corrupted framing
        val (_, badTicket) = client.getFlightInfoStatement(
          "SELECT id DIV (id - id) AS boom FROM users")
        val mid = intercept[RuntimeException](client.doGet(badTicket))
        assert(mid.getMessage.nonEmpty)

        // and the connection is still usable afterwards
        val (_, t3) = client.getFlightInfoStatement("SELECT COUNT(*) AS n FROM users")
        assert(ArrowCodec.decode(client.doGet(t3)).rows == Seq(Seq(3L)))
      } finally client.close()
    } finally server.stop()
  }

  test("raw junk bytes on a connection never take down the server") {
    val spark = TestSpark.fixtures()
    val server = new SocketServer(new FlightSqlService(new StaticSessionProvider(spark)))
    val port = server.start()
    try {
      // hostile connection: garbage instead of a framed request
      val rng = new scala.util.Random(7)
      for (_ <- 1 to 3) {
        val raw = new java.net.Socket("127.0.0.1", port)
        try {
          val out = raw.getOutputStream
          out.write(Array.fill(64 + rng.nextInt(128))(rng.nextInt(256).toByte))
          out.flush()
        } finally raw.close() // some writes may be mid-frame: just drop the link
      }
      // the acceptor and worker pool must still serve a legitimate client
      val client = new SocketClient("127.0.0.1", port)
      try {
        val (_, t) = client.getFlightInfoStatement("SELECT COUNT(*) AS n FROM users")
        assert(ArrowCodec.decode(client.doGet(t)).rows == Seq(Seq(3L)))
      } finally client.close()
    } finally server.stop()
  }

  test("concurrent clients each get correct, isolated responses") {
    val spark = TestSpark.fixtures()
    val server = new SocketServer(new FlightSqlService(new StaticSessionProvider(spark)))
    val port = server.start()
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val results = Await.result(
        Future.sequence((1 to 4).map { i =>
          Future {
            val c = new SocketClient("127.0.0.1", port)
            try {
              val (_, t) = c.getFlightInfoStatement(s"SELECT COUNT(*) + $i AS n FROM users")
              ArrowCodec.decode(c.doGet(t)).rows.head.head
            } finally c.close()
          }
        }), 120.seconds)
      assert(results == Seq(4L, 5L, 6L, 7L))
    } finally server.stop()
  }

  test("a multi-frame result crosses the socket byte-identical to the in-process stream") {
    val spark = TestSpark.fixtures()
    val service = new FlightSqlService(new StaticSessionProvider(spark))
    val server = new SocketServer(service)
    val port = server.start()
    try {
      val client = new SocketClient("127.0.0.1", port)
      try {
        // 10,000 rows span several record batches
        val (_, ticket) = client.getFlightInfoStatement("SELECT id FROM range(10000) ORDER BY id")
        val overSocket = client.doGet(ticket)
        assert(overSocket.sameElements(service.doGet(ticket).toBytes))
        val rows = ArrowCodec.decode(overSocket).rows
        assert(rows.size == 10000)
        assert(rows.map(_.head) == (0L until 10000L))
      } finally client.close()
    } finally server.stop()
  }
}
