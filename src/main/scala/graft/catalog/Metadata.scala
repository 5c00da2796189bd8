package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import graft.ipc.ArrowCodec
import graft.protocol.Commands.{CommandGetDbSchemas, CommandGetTables}

/** Catalog metadata queries (SURVEY §2.A A13-A17; mirrors
  * datafusion-flight-sql-server/src/service.rs:616-731): catalogs,
  * db-schemas, tables (with LIKE-pattern filters and optional embedded
  * Arrow schemas), table types. Pure driver-side `spark.catalog` traversal —
  * no executors involved.
  */
object Metadata {

  /** SQL LIKE pattern (`%`, `_`, `\` escape) matcher, mirroring the Flight
    * SQL metadata builder's filter semantics through the regex Spark's own
    * `LIKE` compiles.
    */
  def likeMatch(pattern: String, value: String): Boolean =
    value.matches(StringUtils.escapeLikeRegex(pattern, '\\'))

  private def df(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  val catalogsSchema: StructType =
    StructType(Seq(StructField("catalog_name", StringType, nullable = false)))

  def catalogs(spark: SparkSession): DataFrame =
    df(spark, catalogsSchema,
      spark.catalog.listCatalogs().collect().map(c => Row(c.name)).sortBy(_.getString(0)))

  val dbSchemasSchema: StructType = StructType(Seq(
    StructField("catalog_name", StringType, nullable = false),
    StructField("db_schema_name", StringType, nullable = false)))

  /** Like the reference (service.rs:638-663): no catalog in the request →
    * empty result; filters applied to the schema name.
    */
  def dbSchemas(spark: SparkSession, cmd: CommandGetDbSchemas): DataFrame = {
    val rows = for {
      catalogName <- cmd.catalog.toSeq
      if spark.catalog.listCatalogs().collect().exists(_.name == catalogName)
      db <- spark.catalog.listDatabases().collect().map(_.name).sorted.toSeq
      if cmd.dbSchemaFilterPattern.forall(likeMatch(_, db))
    } yield Row(catalogName, db)
    df(spark, dbSchemasSchema, rows)
  }

  def tablesSchema(includeSchema: Boolean): StructType = {
    val base = Seq(
      StructField("catalog_name", StringType, nullable = true),
      StructField("db_schema_name", StringType, nullable = true),
      StructField("table_name", StringType, nullable = false),
      StructField("table_type", StringType, nullable = false))
    StructType(
      if (includeSchema) base :+ StructField("table_schema", BinaryType, nullable = false)
      else base)
  }

  /** Full catalog→schema→table traversal with filters (service.rs:665-706).
    * Temp views surface with db_schema_name "" (they live outside any
    * database in Spark's catalog).
    */
  def tables(spark: SparkSession, cmd: CommandGetTables): DataFrame = {
    val rows = for {
      catalogName <- cmd.catalog.toSeq
      if spark.catalog.listCatalogs().collect().exists(_.name == catalogName)
      db <- spark.catalog.listDatabases().collect().map(_.name).sorted.toSeq
      t <- spark.catalog.listTables(db).collect().sortBy(_.name).toSeq
      dbName = Option(t.database).getOrElse("")
      if cmd.dbSchemaFilterPattern.forall(likeMatch(_, dbName))
      if cmd.tableNameFilterPattern.forall(likeMatch(_, t.name))
      tableType = if (t.isTemporary) "TEMPORARY"
        else if (t.tableType == "VIEW") "VIEW"
        else "BASE TABLE"
      if cmd.tableTypes.isEmpty || cmd.tableTypes.contains(tableType)
    } yield {
      if (cmd.includeSchema) {
        // Qualify with the owning database: an unqualified lookup resolves
        // against the current database / temp views, returning the wrong
        // schema (or failing) for tables in other databases.
        val qualified =
          if (t.database != null && t.database.nonEmpty) s"${t.database}.${t.name}" else t.name
        Row(catalogName, dbName, t.name, tableType,
          ArrowCodec.encodeSchema(spark.table(qualified).schema, spark))
      } else Row(catalogName, dbName, t.name, tableType)
    }
    df(spark, tablesSchema(cmd.includeSchema), rows)
  }

  val tableTypesSchema: StructType =
    StructType(Seq(StructField("table_type", StringType, nullable = false)))

  /** Constant, mirroring DataFusion's three TableType variants
    * (service.rs:708-731).
    */
  def tableTypes(spark: SparkSession): DataFrame =
    df(spark, tableTypesSchema,
      Seq(Row("BASE TABLE"), Row("VIEW"), Row("TEMPORARY")))
}
