package org.apache.spark.sql.graftbridge

import org.apache.arrow.vector.types.pojo.{Schema => ArrowSchema}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
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

  /** The query result as serialized Arrow record-batch messages of at most
    * `maxRowsPerBatch` rows. Each partition is encoded inside its own task
    * (`ArrowConverters.toBatchIterator`, on a child of Spark's shared
    * allocator that the task frees on completion); the driver pulls the
    * encoded partitions lazily, one job each, in partition order — never a
    * full collect. Physical planning happens on this call.
    */
  def arrowBatches(df: DataFrame, maxRowsPerBatch: Long): Iterator[Array[Byte]] = {
    val schema = df.schema
    val timeZoneId = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan.execute()
      .mapPartitionsInternal(rows => ArrowConverters.toBatchIterator(rows, schema,
        maxRowsPerBatch, timeZoneId, errorOnDuplicatedFieldNames = false,
        largeVarTypes = false, TaskContext.get()))
      .toLocalIterator
  }

  /** Output column name → table qualifier (alias or table name) from the
    * analyzed plan, for the table_name field-metadata decoration (mirrors
    * get_schema_for_plan's DFSchema qualifier walk, service.rs:1044-1067).
    */
  def outputQualifiers(df: DataFrame): Seq[(String, Option[String])] =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed.output
      .map(a => a.name -> a.qualifier.lastOption)

  /** Wrap an (already parsed/verified) logical plan as a DataFrame —
    * triggers analysis only; execution stays lazy.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)
}
