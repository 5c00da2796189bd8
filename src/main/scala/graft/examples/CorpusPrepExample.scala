package graft.examples

import org.apache.spark.sql.functions._

import graft.Sessions

/** End-to-end corpus preparation: the composed pipeline a training-data
  * user runs daily, built ONLY from this library's operators — clean →
  * exact dedup → quality gate → deterministic split → shard assignment →
  * partitioned shard write. Every stage is the same formulation the
  * oracle-checked queries pin (q_text_clean, q_dedup_exact,
  * q_text_quality, q_text_train_split, q_text_shard), chained through one
  * declarative plan so Catalyst prunes/pushes across stage boundaries —
  * there is no materialization between stages until the final shard write.
  *
  * The run is REPRODUCIBLE: hash-derived split and shard keys mean a
  * re-run (or a different engine) produces byte-identical shard
  * membership; the example executes the pipeline twice and requires the
  * per-shard descriptor to match exactly.
  */
object CorpusPrepExample {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    graft.queries.Tables.registerAll(spark, dir)

    def pipeline() = spark.sql(
      """WITH cleaned AS (
        |  SELECT doc_id, source,
        |         trim(regexp_replace(text, '\\s+', ' ')) AS text
        |  FROM documents),
        |kept AS (                       -- exact dedup: first copy wins
        |  SELECT MIN(doc_id) AS doc_id FROM cleaned
        |  GROUP BY md5(lower(text))),
        |gated AS (                      -- quality gate: length bounds
        |  SELECT c.doc_id, c.source, c.text,
        |         size(split(c.text, ' ')) AS n_words
        |  FROM cleaned c JOIN kept USING (doc_id)
        |  WHERE size(split(c.text, ' ')) BETWEEN 10 AND 1000),
        |tagged AS (                     -- reproducible split + shard
        |  SELECT doc_id, source, text, n_words,
        |         CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 < 90
        |              THEN 'train' ELSE 'eval' END AS split,
        |         CAST(CAST(conv(substr(md5(CAST(doc_id AS STRING) || ':42'), 1, 4), 16, 10) AS BIGINT) % 8 AS INT) AS shard
        |  FROM gated)
        |SELECT * FROM tagged""".stripMargin)

    val out = java.nio.file.Files.createTempDirectory("graft-shards").toString
    pipeline().write.mode("overwrite")
      .partitionBy("split", "shard").parquet(out)

    // shard descriptor: the reproducibility contract
    def descriptor() = pipeline()
      .groupBy("split", "shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
      .orderBy("split", "shard")
      .collect().map(_.toSeq).toSeq

    val first = descriptor()
    val second = descriptor() // re-run: must be byte-identical
    require(first == second, "pipeline must be reproducible across runs")
    require(first.nonEmpty, "pipeline must emit shards")
    first.foreach(r => println(s"[example] shard $r"))

    val written = spark.read.parquet(out)
    require(written.count() == first.map(_(2).asInstanceOf[Long]).sum,
      "written shards must hold exactly the pipeline's rows")
    println(s"[example] wrote ${written.count()} docs to $out")
    spark.stop()
  }
}
