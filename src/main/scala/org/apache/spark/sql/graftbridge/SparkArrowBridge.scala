package org.apache.spark.sql.graftbridge

import org.apache.arrow.vector.types.pojo.{Schema => ArrowSchema}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{CommandExecutionMode, LocalTableScanExec}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Bridge into Spark's `private[sql]` Arrow and plan machinery (SURVEY
  * §7.4): Spark's own schema converter, batch encoder and stream reader
  * handle every type in our surface — lists, structs, maps, decimals,
  * dates, timestamps — identically to what Spark's Python/R interop emits,
  * so the IPC layer never reads or writes vectors itself.
  */
object SparkArrowBridge {

  /** Spark StructType → Arrow schema (µs timestamps in the given zone). */
  def toArrowSchema(schema: StructType, timeZoneId: String): ArrowSchema =
    ArrowUtils.toArrowSchema(schema, timeZoneId,
      errorOnDuplicatedFieldNames = false, largeVarTypes = false)

  /** Arrow schema → Spark StructType (client-side schema discovery). */
  def fromArrowSchema(schema: ArrowSchema): StructType =
    ArrowUtils.fromArrowSchema(schema)

  /** The schema and first `maxRows` rows of an Arrow IPC stream, read by
    * Spark's own reader (`ArrowConverters.fromIPCStream`) into Spark's
    * types and copied off Arrow memory as `UnsafeRow`s; the reader's
    * allocator is closed on every path. Arrow allocates whatever length a
    * message claims, so the caller bounds the stream first
    * (`ArrowCodec.messageHeaderTypes`). A type Spark cannot read fails
    * with `UNSUPPORTED_ARROWTYPE`, naming it. The copy is interpreted, not
    * generated: a generated projection per result schema would fill
    * `CodeGenerator`'s cache, which served query shapes share. Every field
    * is read as nullable, whatever the sender declared.
    */
  def fromIPC(bytes: Array[Byte], maxRows: Int): (StructType, Seq[InternalRow]) = {
    val (rows, schema) = ArrowConverters.fromIPCStream(bytes)
    try {
      val copy = InterpretedUnsafeProjection.createProjection(
        schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })
      (schema, rows.take(maxRows).map(copy(_).copy()).toVector)
    } finally rows.close()
  }

  /** Rows in Spark's types as the DataFrame of a local relation. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The query result as serialized Arrow record-batch messages of at most
    * `maxRowsPerBatch` rows. A local relation (metadata results, a `VALUES`
    * list) is encoded on the driver, with no Spark job, and drained at
    * once so its allocator closes (as Spark Connect's
    * `SparkConnectPlanExecution` does). Otherwise each partition is encoded
    * inside its own task (`ArrowConverters.toBatchIterator`, on a child of
    * Spark's shared allocator that the task frees on completion); the
    * driver pulls the encoded partitions lazily, one job each, in partition
    * order — never a full collect. Physical planning happens on this call,
    * and so does a command's side effect: this is where a served plan
    * executes.
    */
  def arrowBatches(df: DataFrame, maxRowsPerBatch: Long): Iterator[Array[Byte]] = {
    val schema = df.schema
    val timeZoneId = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    def encode(rows: Iterator[InternalRow], context: TaskContext) =
      ArrowConverters.toBatchIterator(rows, schema, maxRowsPerBatch, timeZoneId,
        errorOnDuplicatedFieldNames = false, largeVarTypes = false, context)
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan match {
      case local: LocalTableScanExec => encode(local.executeCollect().iterator, null).toVector.iterator
      case plan => plan.execute().mapPartitionsInternal(encode(_, TaskContext.get())).toLocalIterator
    }
  }

  /** Output column name → table qualifier (alias or table name) from the
    * analyzed plan, for the table_name field-metadata decoration (mirrors
    * get_schema_for_plan's DFSchema qualifier walk, service.rs:1044-1067).
    */
  def outputQualifiers(df: DataFrame): Seq[(String, Option[String])] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed.output
      .map(a => a.name -> a.qualifier.lastOption)

  /** Wrap an (already parsed/verified) logical plan as an analyzed,
    * unexecuted DataFrame. `Dataset.ofRows` plans in
    * `CommandExecutionMode.ALL`, which runs a command (INSERT, DROP VIEW,
    * SET …) as soon as the Dataset exists; this is the same call in mode
    * SKIP, so a command runs like a query, when its `executedPlan`
    * executes in `arrowBatches`.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[ClassicSparkSession]
    session.withActive {
      val qe = session.sessionState.executePlan(plan, CommandExecutionMode.SKIP)
      qe.assertAnalyzed()
      new ClassicDataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }
}
