package graft.protocol

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import org.sparkproject.spark_core.protobuf.{CodedInputStream, CodedOutputStream, WireFormat}

/** Field-level protobuf codec on the protobuf-java runtime that spark-core
  * ships relocated (this file is the one importer of the relocation), keeping
  * tickets and handles byte-compatible with the reference's prost-generated
  * messages (datafusion-flight-sql-server/src/state.rs:45-49, 113-120).
  * Wire types: 0 = varint, 2 = length-delimited, 1/5 = fixed64/fixed32
  * (Substrait fp64/fp32 literals only). Malformed input fails with protobuf's
  * `InvalidProtocolBufferException` (truncation, an over-long varint, field
  * number 0) or `IllegalArgumentException` (a group wire type).
  */
object Proto {

  final class Writer {
    private val bytes = new ByteArrayOutputStream()
    private val out = CodedOutputStream.newInstance(bytes)

    def writeVarint(v: Long): this.type = { out.writeUInt64NoTag(v); this }

    def bytesField(tag: Int, value: Array[Byte]): this.type = { out.writeByteArray(tag, value); this }

    def stringField(tag: Int, value: String): this.type =
      bytesField(tag, value.getBytes(StandardCharsets.UTF_8))

    def varintField(tag: Int, value: Long): this.type = { out.writeUInt64(tag, value); this }

    /** Proto3 default-value elision for scalar fields. */
    def stringFieldNonEmpty(tag: Int, value: String): this.type =
      if (value.isEmpty) this else stringField(tag, value)

    def boolField(tag: Int, value: Boolean): this.type =
      if (value) varintField(tag, 1) else this

    def fixed64Field(tag: Int, bits: Long): this.type = { out.writeFixed64(tag, bits); this }

    def fixed32Field(tag: Int, bits: Int): this.type = { out.writeFixed32(tag, bits); this }

    def result(): Array[Byte] = { out.flush(); bytes.toByteArray }
  }

  /** One decoded field: wire types 0/1/5 carry their value in `varint`
    * (fixed32 zero-extended), wire type 2 its payload in `bytes`. */
  final case class Field(tag: Int, wireType: Int, varint: Long, bytes: Array[Byte])

  /** A message's top-level fields, repeated tags in order (wire types 0/1/2/5). */
  def decodeFields(msg: Array[Byte]): Seq[Field] = {
    val in = CodedInputStream.newInstance(msg)
    val fields = Seq.newBuilder[Field]
    var key = in.readTag()
    while (key != 0) {
      val tag = WireFormat.getTagFieldNumber(key)
      fields += (WireFormat.getTagWireType(key) match {
        case 0 => Field(tag, 0, in.readRawVarint64(), Array.emptyByteArray)
        case 1 => Field(tag, 1, in.readRawLittleEndian64(), Array.emptyByteArray)
        case 2 => Field(tag, 2, 0L, in.readByteArray())
        case 5 => Field(tag, 5, in.readRawLittleEndian32() & 0xffffffffL, Array.emptyByteArray)
        case other => throw new IllegalArgumentException(s"unsupported wire type $other for tag $tag")
      })
      key = in.readTag()
    }
    fields.result()
  }

  def string(f: Field): String = new String(f.bytes, StandardCharsets.UTF_8)

  /** A packed repeated-varint payload (Substrait's emit output_mapping). */
  def packedVarints(payload: Array[Byte]): Seq[Long] = {
    val in = CodedInputStream.newInstance(payload)
    val out = Seq.newBuilder[Long]
    while (!in.isAtEnd) out += in.readRawVarint64()
    out.result()
  }
}
