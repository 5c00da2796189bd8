package graft.ipc

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.channels.Channels

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter, ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.{IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.{Field, FieldType, Schema => ArrowSchema}
import org.apache.arrow.vector.util.Text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.SparkArrowBridge

/** Arrow IPC data plane (SURVEY §2.A A4/A18/A24): DataFrame → IPC stream
  * bytes, IPC bytes → rows (for prepared-statement parameters), and the
  * standalone schema message codec used in FlightInfo / prepared-statement
  * results (mirrors encode_schema/decode_schema,
  * datafusion-flight-sql-server/src/service.rs:1032-1041, 1123-1141).
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
    * the end-of-stream marker. Nothing executes until the first batch is
    * pulled.
    */
  def encodeStream(
      df: DataFrame,
      fieldMetadata: Seq[Map[String, String]] = Seq.empty): EncodedStream = {
    val arrowSchema = withFieldMetadata(
      SparkArrowBridge.toArrowSchema(df.schema, df.sparkSession.sessionState.conf.sessionLocalTimeZone),
      fieldMetadata)
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

  /** Decoded IPC stream: schema + row-major values (Arrow `Text` → String).
    * Used for prepared-statement parameters and tests — results stay
    * streaming, only small payloads pass through here.
    */
  final case class DecodedStream(schema: ArrowSchema, rows: Seq[Seq[Any]])

  def decode(bytes: Array[Byte]): DecodedStream = {
    val allocator = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator)
    try {
      val root = reader.getVectorSchemaRoot
      val schema = root.getSchema
      val rows = ArrayBuffer.empty[Seq[Any]]
      while (reader.loadNextBatch()) {
        val vectors = root.getFieldVectors.asScala
        (0 until root.getRowCount).foreach { i =>
          rows += vectors.map(v => normalize(v.getObject(i))).toSeq
        }
      }
      DecodedStream(schema, rows.toSeq)
    } finally {
      reader.close()
      allocator.close()
    }
  }

  /** Header types of every message in an IPC stream, in order (values from
    * org.apache.arrow.flatbuf.MessageHeader; EOS markers are skipped by the
    * reader). Lets the service reproduce the reference's exact
    * parameter-stream error distinctions — batch-before-schema vs second
    * schema vs no schema at all (service.rs:826-853, 1123-1141) — which a
    * plain ArrowStreamReader pass cannot tell apart.
    */
  def messageHeaderTypes(bytes: Array[Byte]): Seq[Byte] = {
    val allocator = new RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.message.MessageChannelReader(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))), allocator)
    try {
      val kinds = ArrayBuffer.empty[Byte]
      var res = reader.readNext()
      while (res != null) {
        kinds += res.getMessage.headerType()
        Option(res.getBodyBuffer).foreach(_.close())
        res = reader.readNext()
      }
      kinds.toSeq
    } finally {
      reader.close()
      allocator.close()
    }
  }

  private def normalize(v: Any): Any = v match {
    case t: Text => t.toString
    case l: java.util.List[_] => l.asScala.map(normalize).toSeq
    case other => other
  }

  // ---- standalone schema message codec (A24) ----

  def encodeSchema(schema: ArrowSchema): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(Channels.newChannel(out)), schema)
    out.toByteArray
  }

  def decodeSchema(bytes: Array[Byte]): ArrowSchema =
    MessageSerializer.deserializeSchema(
      new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))))
}
