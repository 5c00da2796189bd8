package org.apache.spark.sql.graftbridge

import java.io.ByteArrayOutputStream

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.{UInt4Vector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter

import org.apache.spark.sql.util.ArrowUtils

/** Test access to Spark's shared Arrow allocator (`private[sql]`): every
  * per-task allocator the result encoder takes is its child, so a buffer
  * leaked by any encode task shows up in its allocated memory.
  */
object SharedArrowMemory {
  def allocator: BufferAllocator = ArrowUtils.rootAllocator

  /** A one-row IPC stream of one uint32 field, an Arrow type Spark cannot read. */
  def uint32Stream(field: String, value: Int): Array[Byte] = {
    val child = allocator.newChildAllocator("uint32-stream", 0, Long.MaxValue)
    val out = new ByteArrayOutputStream()
    try {
      val vector = new UInt4Vector(field, child)
      val root = VectorSchemaRoot.of(vector)
      try {
        vector.setSafe(0, value)
        root.setRowCount(1)
        val writer = new ArrowStreamWriter(root, null, out)
        writer.start(); writer.writeBatch(); writer.end(); writer.close()
      } finally root.close()
    } finally child.close()
    out.toByteArray
  }
}
