package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.QuerySpec

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory of SURVEY.md §2 (one entry per
  * implemented capability); `oracleSql` holds the DuckDB-equivalent ANSI SQL
  * for every SQL-expressible entry. Queries are grouped by module under
  * `graft.queries` / `graft.llm` and aggregated here. The primary query
  * surface is SQL text through `spark.sql` — the same contract as the
  * reference (datafusion-flight-sql-server/src/service.rs:171).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A join + aggregation spanning the star schema — exercises scan,
    * broadcast join, partial aggregation, and sort in one plan.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val o = spark.read.parquet(s"$d/orders.parquet")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("rev"))
      .orderBy(col("o_orderpriority"))
  }

  /** Full inventory: one spec per implemented operator from SURVEY.md §2
    * plus the LLM-data-pipeline operators.
    */
  val specs: Map[String, QuerySpec] =
    graft.queries.RelationalQueries.specs ++
      graft.queries.WindowQueries.specs ++
      graft.queries.AggQueries.specs ++
      graft.queries.FunctionQueries.specs ++
      graft.queries.StructureQueries.specs ++
      graft.queries.SourceQueries.specs ++
      graft.queries.ExtraQueries.specs ++
      graft.queries.DepthQueries.specs ++
      graft.queries.WarehouseQueries.specs ++
      graft.queries.StatsInference.specs ++
      graft.queries.MarkovAttribution.specs ++
      graft.llm.LlmQueries.specs ++
      graft.llm.GraphRank.specs ++
      graft.llm.SearchRank.specs ++
      graft.llm.DataSelect.specs ++
      graft.llm.TextIndex.specs ++
      graft.llm.TextClassify.specs ++
      graft.llm.TextMining.specs ++
      graft.llm.UnigramTok.specs ++
      graft.llm.SuffixLcp.specs ++
      graft.llm.MmrSelect.specs ++
      graft.llm.MstCluster.specs ++
      graft.llm.EmbedAblation.specs ++
      graft.llm.GraphSearch.specs ++
      graft.llm.HnswSearch.specs ++
      graft.streaming.EventStream.specs ++
      graft.substrait.SubstraitQueries.specs

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (k, v) => k -> v.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (driver
    * records a rows-only check).
    */
  def oracleSql: Map[String, String] =
    specs.collect { case (k, QuerySpec(_, Some(o), _)) => k -> o }
}
