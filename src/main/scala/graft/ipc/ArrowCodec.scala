package graft.ipc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.Channels

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.flatbuf.Message
import org.apache.arrow.vector.ipc.{ArrowStreamWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.{Field, FieldType, Schema => ArrowSchema}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.graftbridge.SparkArrowBridge
import org.apache.spark.sql.types.StructType

/** Arrow IPC data plane (SURVEY §2.A A4/A18/A24): DataFrame → IPC stream
  * bytes, IPC bytes → Spark rows (prepared-statement parameters, federated
  * results, clients), and the standalone schema message codec used in
  * FlightInfo / prepared-statement results (mirrors
  * encode_schema/decode_schema,
  * datafusion-flight-sql-server/src/service.rs:1032-1041, 1123-1141).
  * Both directions are Spark's `ArrowConverters`, so a value crosses the
  * wire with the one Arrow↔Spark type mapping.
  *
  * Encoding is streaming: each partition is encoded into record batches
  * inside its own Spark task (SparkArrowBridge.arrowBatches) and the Spark driver
  * pulls the encoded partitions one job at a time, in partition order,
  * forwarding each batch as its own IPC frame — no driver-side row writing
  * and no buffering of the full result (mirrors service.rs:230-236).
  */
object ArrowCodec {

  /** Rows per record batch. Batches never span partitions, so a partition
    * of n rows yields ceil(n / batchSize) frames.
    */
  private val batchSize = 4096

  /** One encoded result stream: the concatenation of `frames` is a complete
    * Arrow IPC stream (schema message, N record batches, EOS).
    */
  final case class EncodedStream(arrowSchema: ArrowSchema, frames: Iterator[Array[Byte]]) {
    def toBytes: Array[Byte] = {
      val out = new ByteArrayOutputStream()
      frames.foreach(out.write)
      out.toByteArray
    }
  }

  /** Attach per-field metadata (e.g. table_name qualifiers, A23) to an
    * Arrow schema, positionally (duplicate output names are legal in SQL).
    */
  def withFieldMetadata(schema: ArrowSchema, meta: Seq[Map[String, String]]): ArrowSchema = {
    if (meta.forall(_.isEmpty)) return schema
    val fields = schema.getFields.asScala.zipWithIndex.map { case (f, i) =>
      val m = if (i < meta.size) meta(i) else Map.empty[String, String]
      if (m.isEmpty) f
      else {
        val merged = Option(f.getMetadata).map(_.asScala.toMap).getOrElse(Map.empty) ++ m
        new Field(f.getName,
          new FieldType(f.isNullable, f.getType, f.getDictionary, merged.asJava),
          f.getChildren)
      }
    }
    new ArrowSchema(fields.asJava)
  }

  /** Lazily encode a DataFrame as an Arrow IPC stream: the schema frame
    * first, then one frame per record batch as the caller pulls it, then
    * the end-of-stream marker. Nothing executes, a command included, until
    * the first batch is pulled.
    */
  def encodeStream(
      df: DataFrame,
      fieldMetadata: Seq[Map[String, String]] = Seq.empty): EncodedStream = {
    val arrowSchema = withFieldMetadata(toArrowSchema(df.schema, df.sparkSession), fieldMetadata)
    val frames = Iterator.single(encodeSchema(arrowSchema)) ++
      SparkArrowBridge.arrowBatches(df, batchSize) ++
      Iterator.single(endOfStream)
    EncodedStream(arrowSchema, frames)
  }

  private def endOfStream: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ArrowStreamWriter.writeEndOfStream(new WriteChannel(Channels.newChannel(out)), IpcOption.DEFAULT)
    out.toByteArray
  }

  /** The schema and rows of an IPC stream, in Spark's types, read by
    * Spark's own reader after every length the stream claims is bounded.
    */
  def read(bytes: Array[Byte]): (StructType, Seq[InternalRow]) = {
    messageHeaderTypes(bytes) // bounds every length before Arrow allocates it
    SparkArrowBridge.fromIPC(bytes, Int.MaxValue)
  }

  /** Decoded IPC stream: the Arrow schema and row-major values, each the
    * external value `collect()` returns for its Spark type.
    */
  final case class DecodedStream(schema: ArrowSchema, rows: Seq[Seq[Any]])

  def decode(bytes: Array[Byte]): DecodedStream = {
    val (schema, rows) = read(bytes)
    val external = CatalystTypeConverters.createToScalaConverter(schema)
    DecodedStream(decodeSchema(bytes), rows.map(external(_).asInstanceOf[Row].toSeq))
  }

  /** Header types of every message in an IPC stream, in order (values from
    * org.apache.arrow.flatbuf.MessageHeader; reading stops at the EOS
    * marker). Lets the service reproduce the reference's exact
    * parameter-stream error distinctions — batch-before-schema vs second
    * schema vs no schema at all (service.rs:826-853, 1123-1141) — which a
    * plain Arrow reader pass cannot tell apart.
    *
    * It walks the stream's framing without allocating and refuses a
    * metadata or body length beyond the bytes left, an `IOException`:
    * Arrow's own reader allocates whatever length a message claims before
    * reading it, so every read runs this check first.
    */
  def messageHeaderTypes(bytes: Array[Byte]): Seq[Byte] = {
    val in = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def prefix(): Int = if (in.remaining < 4) 0 else in.getInt
    def next(): Int = { val n = prefix(); if (n == -1) prefix() else n } // -1: continuation
    def take(length: Long, what: String): ByteBuffer = {
      if (length < 0 || length > in.remaining)
        throw new IOException(s"IPC $what length $length exceeds the ${in.remaining} bytes left")
      val part = in.slice().limit(length.toInt)
      in.position(in.position() + length.toInt)
      part
    }
    val kinds = ArrayBuffer.empty[Byte]
    var length = next()
    while (length != 0) {
      val message = Message.getRootAsMessage(take(length, "message metadata"))
      kinds += message.headerType()
      take(message.bodyLength(), "message body")
      length = next()
    }
    kinds.toSeq
  }

  // ---- standalone schema message codec (A24) ----

  /** A Spark schema as an Arrow schema, timestamps in the session time zone. */
  private def toArrowSchema(schema: StructType, spark: SparkSession): ArrowSchema =
    SparkArrowBridge.toArrowSchema(schema, spark.sessionState.conf.sessionLocalTimeZone)

  /** A Spark schema's schema message, as `encodeStream` would frame it. */
  def encodeSchema(schema: StructType, spark: SparkSession): Array[Byte] =
    encodeSchema(toArrowSchema(schema, spark))

  def encodeSchema(schema: ArrowSchema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), schema)
    out.toByteArray
  }

  def decodeSchema(bytes: Array[Byte]): ArrowSchema =
    MessageSerializer.deserializeSchema(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))))
}
