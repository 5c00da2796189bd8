package graft.protocol

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import Commands._

/** Codec round-trips mirroring the reference's
  * tests/state_test.rs:3-37 (QueryHandle with a multi-clause parameterized
  * query; empty query) plus seeded randomized round-trips over arbitrary
  * strings/bytes.
  */
class CodecSpec extends AnyFunSuite {

  // The exact SQL of state_test.rs:5-17.
  private val complexSql =
    """SELECT a.id, a.name, b.order_date
      |FROM users a
      |LEFT JOIN orders b ON a.id = b.user_id
      |WHERE a.active = $1 AND b.amount > $2
      |GROUP BY a.id, a.name, b.order_date
      |HAVING COUNT(b.order_id) > $3
      |ORDER BY b.order_date DESC
      |LIMIT 100""".stripMargin

  test("QueryHandle round-trip with complex SQL (state_test.rs:3-26)") {
    val handle = QueryHandle(complexSql, Some(Array[Byte](1, 2, 3)))
    val decoded = QueryHandle.decode(handle.encode)
    assert(decoded.query == complexSql)
    assert(decoded.parameters.get.toSeq == Seq[Byte](1, 2, 3))
    assert(decoded.toString == s"Query($complexSql)")
  }

  test("QueryHandle round-trip with empty SQL (state_test.rs:28-37)") {
    val decoded = QueryHandle.decode(QueryHandle("", None).encode)
    assert(decoded.query == "")
    assert(decoded.parameters.isEmpty)
  }

  test("QueryHandle randomized round-trips") {
    val rnd = new Random(42)
    (0 until 200).foreach { _ =>
      val sql = rnd.nextString(rnd.nextInt(300)) // arbitrary unicode
      val params =
        if (rnd.nextBoolean()) Some(Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte))
        else None
      val decoded = QueryHandle.decode(QueryHandle(sql, params).encode)
      assert(decoded.query == sql)
      assert(decoded.parameters.map(_.toSeq) == params.map(_.toSeq))
    }
  }

  test("CommandTicket round-trips every command shape") {
    val commands: Seq[Command] = Seq(
      CommandStatementQuery("SELECT * FROM users"),
      CommandStatementQuery(""),
      CommandPreparedStatementQuery(QueryHandle("SELECT 1", None).encode),
      CommandStatementSubstraitPlan(Array[Byte](9, 9)),
      CommandGetCatalogs(),
      CommandGetDbSchemas(Some("spark_catalog"), Some("def%")),
      CommandGetDbSchemas(None, None),
      CommandGetTables(Some("c"), Some("d%"), Some("t_"), Seq("BASE TABLE", "VIEW"), includeSchema = true),
      CommandGetTables(None, None, None, Nil, includeSchema = false),
      CommandGetTableTypes())
    commands.foreach { cmd =>
      val decoded = CommandTicket.decode(CommandTicket(cmd).encode).command
      (cmd, decoded) match {
        case (a: CommandPreparedStatementQuery, b: CommandPreparedStatementQuery) =>
          assert(a.handle.toSeq == b.handle.toSeq)
        case (a: CommandStatementSubstraitPlan, b: CommandStatementSubstraitPlan) =>
          assert(a.plan.toSeq == b.plan.toSeq)
        case (a, b) => assert(a == b)
      }
    }
  }

  test("ticket randomized round-trip over arbitrary SQL text") {
    val rnd = new Random(7)
    (0 until 200).foreach { _ =>
      val sql = rnd.nextString(rnd.nextInt(500))
      val decoded = CommandTicket.decode(CommandTicket(CommandStatementQuery(sql)).encode)
      assert(decoded.command == CommandStatementQuery(sql))
    }
  }

  test("Any packing uses the Flight SQL type_url prefix") {
    val any = Commands.packAny(CommandStatementQuery("SELECT 1"))
    val url = Proto.decodeFields(any).find(_.tag == 1).map(Proto.string).get
    assert(url == "type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery")
  }

  test("varint encoding handles boundary values") {
    val cases = Seq(0L, 1L, 127L, 128L, 300L, Int.MaxValue.toLong,
      Long.MaxValue, -1L, Long.MinValue)
    cases.foreach { n =>
      val w = new Proto.Writer
      w.varintField(3, n)
      val f = Proto.decodeFields(w.result()).head
      assert(f.tag == 3 && f.varint == n, s"failed for $n")
    }
  }

  test("CommandTicket wire layout: command bytes at tag 2 (state.rs:45-49)") {
    val ticket = CommandTicket(CommandStatementQuery("SELECT 1")).encode
    val top = Proto.decodeFields(ticket)
    assert(top.map(_.tag) == Seq(2))
    assert(top.head.wireType == 2)
  }

  test("QueryHandle wire layout: query tag 1 string, parameters tag 2 bytes (state.rs:113-120)") {
    val enc = QueryHandle("SELECT 1", Some(Array[Byte](5))).encode
    val tags = Proto.decodeFields(enc).map(_.tag)
    assert(tags == Seq(1, 2))
  }

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  // "type.googleapis.com/arrow.flight.protocol.sql." as hex
  private val typeUrlPrefixHex =
    "747970652e676f6f676c65617069732e636f6d2f6172726f772e666c696768742e70726f746f636f6c2e73716c2e"

  test("wire bytes are pinned for tickets, handles and scalar fields") {
    def ticketHex(cmd: Command) = hex(CommandTicket(cmd).encode)
    assert(ticketHex(CommandStatementQuery("SELECT 1")) ==
      "12510a43" + typeUrlPrefixHex + "436f6d6d616e6453746174656d656e745175657279" +
        "120a0a0853454c4543542031")
    assert(ticketHex(CommandGetTables(Some("c"), Some("d%"), Some("t_"), Seq("VIEW"), includeSchema = true)) ==
      "12550a3e" + typeUrlPrefixHex + "436f6d6d616e644765745461626c6573" +
        "12130a0163120264251a02745f2204564945572801")
    assert(ticketHex(CommandGetTableTypes()) ==
      "12460a42" + typeUrlPrefixHex + "436f6d6d616e644765745461626c655479706573" + "1200")
    assert(hex(QueryHandle("SELECT 1", Some(Array[Byte](1, 2, 3))).encode) ==
      "0a0853454c45435420311203010203")
    assert(hex(new Proto.Writer().varintField(1, -1L).varintField(3, 300L).result()) ==
      "08ffffffffffffffffff01" + "18ac02")
    assert(hex(new Proto.Writer().fixed64Field(2, java.lang.Double.doubleToLongBits(1.5)).result()) ==
      "11000000000000f83f")
    val fixed32 = new Proto.Writer().fixed32Field(3, java.lang.Float.floatToIntBits(-2.5f)).result()
    assert(hex(fixed32) == "1d000020c0")
    assert(Proto.decodeFields(fixed32).head.varint == 0xc0200000L) // zero-extended
  }
}
