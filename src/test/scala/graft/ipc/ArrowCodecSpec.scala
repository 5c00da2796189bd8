package graft.ipc

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.graftbridge.SharedArrowMemory
import org.apache.spark.sql.types._

import graft.TestSpark
import graft.engine.StaticSessionProvider
import graft.service.{FlightSqlService, FlightSqlServiceConfig}

/** Arrow IPC data-plane round-trips (SURVEY §2.A A4/A24): every fixture
  * type crosses the encode/decode boundary; schema messages round-trip
  * standalone; encoding is framed (schema frame + batch frames + EOS).
  */
class ArrowCodecSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("all fixture column types round-trip through the IPC stream") {
    val schema = StructType(Seq(
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType, nullable = true),
      StructField("d", DoubleType, nullable = true),
      StructField("f", FloatType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("b", BooleanType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("arr", ArrayType(FloatType), nullable = true),
      StructField("date", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("ntz", TimestampNTZType, nullable = true),
      StructField("dec", DecimalType(10, 2), nullable = true),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("m", MapType(StringType, DoubleType), nullable = true),
      StructField("strs", ArrayType(StringType), nullable = true),
      StructField("none", NullType, nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(1, 2L, 3.5, 4.5f, "hello", true, Array[Byte](1, 2), Seq(0.1f, 0.2f),
        java.sql.Date.valueOf("2020-01-01"),
        java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T12:00:00.000001Z")),
        java.time.LocalDateTime.of(2020, 1, 1, 12, 0, 0, 1000), new java.math.BigDecimal("12.50"),
        Row(1, "x"), Map("k" -> 2.5), Seq("p", null, "q"), null),
      Row(2, null, null, null, null, null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(rows, schema)
    val decoded = ArrowCodec.decode(ArrowCodec.encodeStream(df).toBytes)
    assert(decoded.schema.getFields.size == 16)
    assert(decoded.rows.map(Row.fromSeq) == df.collect().toSeq) // collect()'s values, every type
    assert(decoded.rows.size == 2)
    val r0 = decoded.rows.find(_.head == 1).get
    assert(r0(1) == 2L && r0(2) == 3.5 && r0(3) == 4.5f && r0(4) == "hello" && r0(5) == true)
    assert(r0(6).asInstanceOf[Array[Byte]].toSeq == Seq[Byte](1, 2))
    assert(r0(7) == Seq(0.1f, 0.2f))
    assert(r0(8) == java.sql.Date.valueOf("2020-01-01") && r0(11) == new java.math.BigDecimal("12.50"))
    val r1 = decoded.rows.find(_.head == 2).get
    assert(r1.tail.forall(_ == null))
  }

  test("multi-batch streaming: frames arrive incrementally, concatenation decodes") {
    import spark.implicits._
    val df = spark.range(0, 10000).select($"id")
    val stream = ArrowCodec.encodeStream(df)
    val frames = stream.frames.toSeq
    assert(frames.size >= 3) // schema + several batches + EOS
    val decoded = ArrowCodec.decode(frames.reduce(_ ++ _))
    assert(decoded.rows.size == 10000)
    assert(decoded.rows.map(_.head.asInstanceOf[Long]).sum == (0L until 10000L).sum)
  }

  test("an ORDER BY result spread over 8 partitions decodes in exact order") {
    import org.apache.spark.sql.functions.desc
    val df = spark.range(0, 10000, 1, 8).toDF("id").orderBy(desc("id"))
    val rows = ArrowCodec.decode(ArrowCodec.encodeStream(df).toBytes).rows
    assert(rows.map(_.head) == (9999L to 0L by -1L))
  }

  test("an empty result encodes as schema + EOS and decodes to zero rows") {
    val df = spark.sql("SELECT id, CAST(id AS STRING) AS s FROM range(10) WHERE id < 0")
    val frames = ArrowCodec.encodeStream(df).frames.toSeq
    assert(frames.size == 2)
    val decoded = ArrowCodec.decode(frames.reduce(_ ++ _))
    assert(decoded.rows.isEmpty)
    assert(decoded.schema.getFields.asScala.map(_.getName) == Seq("id", "s"))
  }

  test("duplicate output names encode and decode positionally") {
    val decoded = ArrowCodec.decode(
      ArrowCodec.encodeStream(spark.sql("SELECT 1 AS a, 2 AS a")).toBytes)
    assert(decoded.schema.getFields.asScala.map(_.getName) == Seq("a", "a"))
    assert(decoded.rows == Seq(Seq(1, 2)))
  }

  test("first frame is the encoded schema with table_name metadata; last is EOS") {
    val fixtures = TestSpark.fixtures()
    val service = new FlightSqlService(
      new StaticSessionProvider(fixtures), FlightSqlServiceConfig(schemaWithMetadata = true))
    val info = service.getFlightInfoStatement("SELECT id, name FROM users ORDER BY id")
    val stream = service.doGet(info.ticket)
    assert(stream.arrowSchema.getFields.asScala.map(_.getMetadata.get("table_name")) ==
      Seq("users", "users"))
    val frames = stream.frames.toSeq
    assert(frames.head.sameElements(ArrowCodec.encodeSchema(stream.arrowSchema)))
    assert(frames.head.sameElements(info.schemaBytes))
    assert(frames.last.sameElements(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)))
    assert(ArrowCodec.decode(frames.reduce(_ ++ _)).rows.map(_.head) == Seq(1, 2, 3))
  }

  test("schema message round-trips standalone (encode_schema/decode_schema, A24)") {
    val schema = org.apache.spark.sql.graftbridge.SparkArrowBridge.toArrowSchema(
      StructType(Seq(
        StructField("id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false))), "UTC")
    val decoded = ArrowCodec.decodeSchema(ArrowCodec.encodeSchema(schema))
    assert(decoded == schema)
  }

  test("field metadata attaches positionally and survives the schema codec") {
    val schema = org.apache.spark.sql.graftbridge.SparkArrowBridge.toArrowSchema(
      StructType(Seq(StructField("id", IntegerType, nullable = false))), "UTC")
    val decorated = ArrowCodec.withFieldMetadata(schema, Seq(Map("table_name" -> "users")))
    val decoded = ArrowCodec.decodeSchema(ArrowCodec.encodeSchema(decorated))
    assert(decoded.getFields.get(0).getMetadata.get("table_name") == "users")
  }

  test("every stream outcome frees Spark's shared Arrow memory") {
    // Batches are encoded in Spark tasks on children of the shared
    // allocator; whatever way a stream ends, its memory must come back.
    val shared = SharedArrowMemory.allocator
    val start = shared.getAllocatedMemory
    // the probe sees direct memory held anywhere under the shared allocator
    val child = shared.newChildAllocator("leak-probe", 0, Long.MaxValue)
    val leaked = child.buffer(1024)
    assert(shared.getAllocatedMemory > start)
    leaked.close()
    child.close()
    assert(shared.getAllocatedMemory == start)

    // Execution error mid-stream: the failing task frees its allocator.
    val failing = ArrowCodec.encodeStream(
      spark.sql("SELECT raise_error('boom') AS x FROM range(10)"))
    intercept[Exception] { failing.frames.foreach(_ => ()) }
    assert(shared.getAllocatedMemory == start)

    // Abandonment: the client disconnects after the schema frame.
    val ok = spark.range(0, 10000, 1, 4).toDF("id")
    val abandoned = ArrowCodec.encodeStream(ok)
    abandoned.frames.next()
    assert(shared.getAllocatedMemory == start)

    // ... or after the first batch, with partitions left unpulled.
    val partial = ArrowCodec.encodeStream(ok).frames
    partial.next()
    partial.next()
    assert(shared.getAllocatedMemory == start)

    // Natural completion.
    assert(ArrowCodec.decode(ArrowCodec.encodeStream(ok).toBytes).rows.size == 10000)
    assert(shared.getAllocatedMemory == start)

    // A local relation, encoded on the driver, abandoned after its batch.
    val local = ArrowCodec.encodeStream(spark.sql("SELECT * FROM VALUES (1), (2) t(x)")).frames
    local.next()
    local.next()
    assert(shared.getAllocatedMemory == start)
  }

  test("junk bytes fail decode cleanly and release their allocator (no leak, no hang)") {
    // The federation client (RemoteSqlClient) decodes peer-supplied bytes;
    // corrupt input must throw without leaking direct memory. Seeded junk
    // plus a truncated VALID stream (headers ok, cut mid-body).
    val rng = new scala.util.Random(43)
    val valid = ArrowCodec.encodeStream(spark.range(100).toDF("id")).toBytes
    val cases = Seq.fill(15)(Array.fill(1 + rng.nextInt(200))(rng.nextInt(256).toByte)) :+
      valid.take(valid.length / 2)
    for (junk <- cases) {
      try { ArrowCodec.decode(junk); () }
      catch { case _: Exception => () } // any Exception is fine; an OOM/hang is not
    }
    // allocator health: a full valid round-trip still works after the junk
    assert(ArrowCodec.decode(valid).rows.size == 100)
  }

  test("a stream the reader refuses closes the reader's allocator") {
    val shared = SharedArrowMemory.allocator
    val (children, start) = (shared.getChildAllocators.size, shared.getAllocatedMemory)
    val one = ArrowCodec.encodeStream(spark.range(10).toDF("id")).frames.toVector
    val two = ArrowCodec.encodeStream(spark.range(10).selectExpr("id", "id AS j")).frames.toVector
    val refused = Seq(
      SharedArrowMemory.uint32Stream("u", 7), // a type Spark cannot read: refused at the schema
      (one.head +: two.tail).flatten.toArray) // two-column batches under a one-column schema
    for (bytes <- refused) {
      intercept[Exception](ArrowCodec.read(bytes))
      assert(shared.getChildAllocators.size == children)
      assert(shared.getAllocatedMemory == start)
    }
  }

  test("timestamp columns round-trip (µs precision)") {
    val schema = StructType(Seq(
      StructField("ts", TimestampNTZType, nullable = false)))
    val t = java.time.LocalDateTime.of(2024, 1, 1, 12, 34, 56, 789000000)
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(t)), schema)
    val decoded = ArrowCodec.decode(ArrowCodec.encodeStream(df).toBytes)
    assert(decoded.rows.head.head == t)
  }
}
