package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType

/** Rows in Spark's binary form, so two results compare byte for byte: one
  * decoded from an Arrow IPC stream by Spark's own reader, one collected
  * from a DataFrame's executed plan.
  */
object UnsafeRows {

  /** The rows of an Arrow IPC stream, decoded by `ArrowConverters.fromIPCStream`. */
  def decoded(ipc: Array[Byte]): Seq[UnsafeRow] = {
    val (rows, schema) = ArrowConverters.fromIPCStream(ipc)
    try unsafe(rows, schema) finally rows.close()
  }

  /** The rows a DataFrame collects, in order. */
  def collected(df: DataFrame): Seq[UnsafeRow] =
    unsafe(df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.executeCollect().iterator,
      df.schema)

  /** The rows `df`'s analyzed plan collects when it is optimized and
    * planned anew, by the session's strategies as they are now.
    */
  def replanned(df: DataFrame): Seq[UnsafeRow] = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val replan = ds.sparkSession.sessionState.executePlan(ds.queryExecution.analyzed)
    unsafe(replan.executedPlan.executeCollect().iterator, df.schema)
  }

  private def unsafe(rows: Iterator[InternalRow], schema: StructType): Seq[UnsafeRow] = {
    val project = UnsafeProjection.create(schema)
    rows.map(r => project(r).copy()).toVector
  }
}
