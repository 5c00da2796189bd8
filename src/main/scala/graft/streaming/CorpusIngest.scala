package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.MinHashDedup

/** Ingest-time near-duplicate screening: a STREAM of incoming documents is
  * deduplicated against the persistent corpus index in-flight — the
  * production shape of a crawl pipeline, where admitting a batch must not
  * wait for a full-corpus batch job.
  *
  * The whole streaming side is STATELESS: band keys are a pure projection
  * ([[MinHashDedup.rowBandKeys]] — the row-wise twin of the batch
  * signature aggregation, so stream and batch buckets provably align),
  * candidates come from a broadcast stream-static equi-join against the
  * corpus band index, and verification is the codegen'd graft_overlap
  * kernel against the broadcast corpus word arrays. No watermark, no
  * state store, no shuffle inside the micro-batch — per-batch cost is
  * O(batch x bucket). The per-new-doc rollup (needs candidate dedup
  * across bands, which would be a second streaming aggregation) runs
  * batch-side on the sink, like the interval join's rollup.
  */
object CorpusIngest {

  /** Stage the "incoming crawl" fixture (doc_id % 10 = 9) once per dir as
    * two files so the replay exercises multiple micro-batches.
    */
  private[streaming] def stage(spark: SparkSession, dir: String): String =
    graft.Staging.fixture("docs_new", dir) { path =>
      graft.queries.Tables.documents(spark, dir)
        .filter(col("doc_id") % 10 === 9)
        .coalesce(2).write.mode("overwrite").parquet(path)
    }

  /** Ingest-time PERCEPTUAL media dedup — the streaming form of
    * q_multimodal_phash_dedup's fingerprint stage: incoming media payloads
    * (the crawl-batch replay, one file per trigger) decode through the
    * REAL PPM parser and fingerprint executor-side INSIDE the stream
    * (Multimodal.ppmAHash is typed mapPartitions — it runs unchanged on a
    * streaming Dataset), then stateful dropDuplicates on
    * (width, height, ahash) admits only the first-seen fingerprint. The
    * admitted SET is arrival-order invariant (which keeper wins is not —
    * so the contract aggregates the set, per-dimension unique-fingerprint
    * counts, never the keeper ids). At scale the dedup state is keyed by
    * the 32-bit fingerprint per dimension bucket; a production ingest adds
    * a watermark on ingest time to bound it (the q_stream_dedup_within_wm
    * discipline) — the replay fixture has no event-time column to
    * watermark on.
    */
  def mediaDedupIngest(
      spark: SparkSession, dir: String, maxFilesPerTrigger: String = "1"): DataFrame = {
    val payloads = EventStream.replay(spark, stage(spark, dir),
        Map("maxFilesPerTrigger" -> maxFilesPerTrigger))
      .selectExpr("doc_id", "CAST((doc_id DIV 10) % 40 AS INT) AS base")
      .selectExpr("doc_id", "base",
        "CAST(4 + base % 5 AS INT) AS w", "CAST(3 + base % 4 AS INT) AS h")
      .selectExpr("doc_id",
        """concat(
          |  encode(concat('P6\n', CAST(w AS STRING), ' ', CAST(h AS STRING), '\n255\n'), 'UTF-8'),
          |  unhex(aggregate(
          |    transform(sequence(0, w * h * 3 - 1),
          |              i -> lpad(hex(pmod(base * 7 + i * 13
          |                                 + CASE WHEN i % 29 = 0 THEN pmod(doc_id DIV 400, 3) ELSE 0 END,
          |                                 256)), 2, '0')),
          |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)
    val admitted = graft.llm.Multimodal.ppmAHash(payloads)
      .dropDuplicates("width", "height", "ahash")
    EventStream.runToTable(admitted, "append")
      .groupBy("width", "height")
      .agg(count(lit(1)).as("n_unique"))
      .orderBy("width", "height")
  }

  /** One row per incoming doc with >= 1 corpus near-duplicate:
    * (new_id, n_matches, first_match). threshold in Jaccard.
    */
  def dedupedIngest(
      spark: SparkSession, dir: String,
      index: MinHashDedup.CorpusIndex, threshold: Double): DataFrame = {
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    // one crawl batch per trigger
    val incoming = EventStream.replay(spark, stage(spark, dir), Map("maxFilesPerTrigger" -> "1"))
      .withColumn("new_words", array_sort(array_distinct(split(col("text"), " "))))
      .select(col("doc_id").as("new_id"), col("new_words"),
        explode(MinHashDedup.rowBandKeys(col("text"))).as("bk"))
      // replicate the (small) incoming side over every salt; the corpus
      // index carries one deterministic salt per doc (same cell layout as
      // the batch incremental dedup)
      .withColumn("salt",
        explode(array((0 until MinHashDedup.saltFactor).map(lit): _*)))
      .select(col("new_id"), col("new_words"),
        col("bk.band").as("band"), col("bk.key").as("key"), col("salt"))

    val corpusWords = index.words
      .select(col("doc_id").as("old_id"), col("words").as("old_words"))
    val matched = incoming
      .join(broadcast(index.banded.as("c")),
        incoming("band") === col("c.band") && incoming("key") === col("c.key") &&
          incoming("salt") === col("c.salt"))
      .select(col("new_id"), col("new_words"), col("c.doc_id").as("old_id"))
      .join(broadcast(corpusWords), "old_id")
      .select(col("new_id"), col("old_id"),
        expr("graft_overlap(new_words, old_words)").cast("double").as("c"),
        size(col("new_words")).as("n1"), size(col("old_words")).as("n2"))
      .filter(col("c") >= lit(threshold) * (col("n1") + col("n2") - col("c")))
      .select(col("new_id"), col("old_id"))

    // batch-side rollup: candidates repeat across shared bands; dedup and
    // aggregate outside the stream (a second streaming aggregation is not
    // a thing — and the sink is exactly the admitted-batch delta anyway)
    EventStream.runToTable(matched, "append").distinct()
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_matches"), min(col("old_id")).as("first_match"))
      .orderBy("new_id")
  }
}
