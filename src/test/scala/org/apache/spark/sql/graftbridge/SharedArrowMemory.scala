package org.apache.spark.sql.graftbridge

import org.apache.arrow.memory.BufferAllocator

import org.apache.spark.sql.util.ArrowUtils

/** Test access to Spark's shared Arrow allocator (`private[sql]`): every
  * per-task allocator the result encoder takes is its child, so a buffer
  * leaked by any encode task shows up in its allocated memory.
  */
object SharedArrowMemory {
  def allocator: BufferAllocator = ArrowUtils.rootAllocator
}
