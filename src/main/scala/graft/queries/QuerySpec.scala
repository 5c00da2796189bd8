package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named capability of the engine: how it runs (SQL text through the
  * `spark.sql` surface — mirroring the reference's SQL-text contract at
  * datafusion-flight-sql-server/src/service.rs:171 — or a DataFrame program
  * where SQL can't express the operator) plus the DuckDB-equivalent oracle
  * SQL (`None` → the driver records a weaker rows-only check).
  * `text` is the Spark SQL a SQL-text spec runs (`None` for a DataFrame
  * program).
  */
final case class QuerySpec(
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    text: Option[String] = None)

object QuerySpec {

  /** SQL-text query where the exact same string runs on Spark (after temp-view
    * registration of the fixture tables) and as the DuckDB oracle.
    */
  def sql(text: String): QuerySpec =
    QuerySpec((s, d) => { Tables.registerAll(s, d); s.sql(text) }, Some(text), Some(text))

  /** SQL-text query with dialect differences between Spark SQL and DuckDB. */
  def sql2(spark: String, duck: String): QuerySpec =
    QuerySpec((s, d) => { Tables.registerAll(s, d); s.sql(spark) }, Some(duck), Some(spark))

  /** DataFrame-form program (operator not expressible as a single SQL text)
    * with a DuckDB oracle.
    */
  def df(run: (SparkSession, String) => DataFrame, oracle: String): QuerySpec =
    QuerySpec(run, Some(oracle))

  /** Program with no SQL-expressible oracle → driver rows-only check. */
  def dfOnly(run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(run, None)
}
