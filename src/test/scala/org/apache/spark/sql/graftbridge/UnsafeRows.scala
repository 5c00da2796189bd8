package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.types.StructType

/** A DataFrame's rows in Spark's binary form, so they compare byte for
  * byte with the `UnsafeRow`s `graft.ipc.ArrowCodec.read` reads from an
  * Arrow IPC stream.
  */
object UnsafeRows {

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
