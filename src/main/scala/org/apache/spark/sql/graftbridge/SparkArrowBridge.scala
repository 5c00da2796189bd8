package org.apache.spark.sql.graftbridge

import org.apache.arrow.memory.BufferAllocator
import org.apache.arrow.vector.types.pojo.{Schema => ArrowSchema}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{functions, DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CommandExecutionMode, LocalTableScanExec}
import org.apache.spark.sql.execution.arrow.ArrowConverters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Bridge into Spark's `private[sql]` Arrow and plan machinery (SURVEY
  * §7.4): Spark's own schema converter and batch encoder handle every type
  * in our surface — lists, decimals, timestamps — identically to what
  * Spark's Python/R interop emits, so the IPC layer never writes vectors
  * itself.
  */
object SparkArrowBridge {

  /** Spark StructType → Arrow schema (µs timestamps in the given zone). */
  def toArrowSchema(schema: StructType, timeZoneId: String): ArrowSchema =
    ArrowUtils.toArrowSchema(schema, timeZoneId,
      errorOnDuplicatedFieldNames = false, largeVarTypes = false)

  /** Arrow schema → Spark StructType (client-side schema discovery). */
  def fromArrowSchema(schema: ArrowSchema): StructType =
    ArrowUtils.fromArrowSchema(schema)

  /** A child of Spark's shared Arrow allocator for one driver-side decode;
    * the caller closes it when the decode ends.
    */
  def childAllocator(name: String): BufferAllocator =
    ArrowUtils.rootAllocator.newChildAllocator(name, 0, Long.MaxValue)

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

  /** A bound query parameter as the literal `SparkSession.sql(text, args)`
    * makes of it: `functions.lit`'s expression.
    */
  def literal(spark: SparkSession, value: Any): Expression =
    spark.asInstanceOf[ClassicSparkSession].expression(functions.lit(value))

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
