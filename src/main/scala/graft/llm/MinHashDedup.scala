package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Staging.StagedDataFrame

/** MinHash + LSH near-duplicate detection over a text column.
  *
  * Scale design (the whole point vs naive all-pairs):
  *   shingle → k minhash signatures (one groupBy with k min() aggregates —
  *   map-side combine, single shuffle on doc_id) → band keys → equi-join on
  *   (band, key) so ONLY documents sharing a band bucket are ever paired →
  *   exact-Jaccard verification restricted to that candidate set. No
  *   cross-join anywhere; every join is a hash equi-join.
  *
  * With r=4 rows/band and b=8 bands, a pair at Jaccard 0.95 is missed with
  * probability (1 − 0.95⁴)⁸ ≈ 1.4e-6 — so the verified output equals the
  * exact all-pairs answer (the DuckDB oracle) w.h.p. at test scale.
  */
object MinHashDedup {
  val numHashes = 32
  val bands = 8
  val rowsPerBand = 4

  // Verified pair sets are consumed by both the pair query and the
  // clustering query; materialize once per (session, dir, threshold)
  // (a shared intermediate, same as a production pipeline would persist).
  private val verifiedPairs = new graft.Artifacts.Value[DataFrame]

  /** Near-duplicates of the doc_id % 5 fixture subset, materialized once
    * per session/dir.
    */
  def nearDuplicatesCached(
      spark: org.apache.spark.sql.SparkSession, dir: String, threshold: Double): DataFrame =
    verifiedPairs(spark, dir, threshold) {
      nearDuplicates(
        graft.queries.Tables.documents(spark, dir).filter(col("doc_id") % 5 === 0),
        threshold)
        .staged()
    }

  private val pairLabels = new graft.Artifacts.Value[DataFrame]

  /** CC labels over the cached verified pair graph — the dedup pipeline's
    * second staged artifact (cluster assignment feeds keep-best, the
    * leakage-safe split and DSIR cluster pooling, exactly like the pair
    * set feeds them): one pointer-jumping fixpoint run per (session, dir,
    * threshold) instead of one per consumer — four consumers re-ran the
    * full per-round-action loop each before r11.
    */
  def clusterLabelsCached(
      spark: org.apache.spark.sql.SparkSession, dir: String, threshold: Double): DataFrame =
    pairLabels(spark, dir, threshold) {
      DedupCluster.clusters(nearDuplicatesCached(spark, dir, threshold)).staged()
    }

  /** Distinct (doc_id, word) pairs — word-set semantics (1-gram shingles;
    * this corpus' 31-word vocabulary makes longer shingles degenerate).
    */
  private def wordSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word")).distinct()

  /** k independent minhash signatures per document. The hash family is
    * xxhash64 seeded by the function index (deterministic across runs).
    */
  def signatures(docs: DataFrame): DataFrame = {
    val words = wordSets(docs)
    val sigCols = (0 until numHashes).map(i => min(xxhash64(lit(i), col("word"))).as(s"h$i"))
    words.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** Salt fan-out for the band self-join: a dense band bucket of B docs
    * emits B²/2 pairs, and without salting all of them are produced by the
    * ONE task owning that (band, key) — a straggler at any scale (this
    * corpus has a 538-doc bucket at sf0.1). Salting splits each bucket's
    * pair generation `saltFactor` ways at the cost of replicating the
    * narrow banded table.
    */
  val saltFactor = 8

  /** (doc_id, band, key) — one row per document per LSH band. */
  private[llm] def banded(docs: DataFrame): DataFrame = {
    val bandExprs = (0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("key"))
    }
    signatures(docs)
      .select(col("doc_id"), explode(array(bandExprs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Row-wise twin of signatures + banded as ONE expression: the same
    * min(xxhash64(i, word)) fold computed over the word array by
    * array_min/transform instead of a per-doc aggregation. Returns the
    * array of (band, key) structs for a text column. Because it is a pure
    * projection, a STREAMING micro-batch can compute band keys
    * statelessly (no streaming aggregation, no state store) and equi-join
    * them against the persistent corpus index — the ingest-time dedup
    * path. Equivalence with the grouped form is pinned by LlmSpec (the
    * buckets must align or stream and batch would silently disagree).
    */
  def rowBandKeys(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = array_distinct(split(text, " "))
    val sigs = (0 until numHashes).map(i =>
      array_min(transform(words, w => xxhash64(lit(i), w))))
    array((0 until bands).map { b =>
      val hs = (0 until rowsPerBand).map(r => sigs(b * rowsPerBand + r))
      struct(lit(b).as("band"), xxhash64(hs: _*).as("key"))
    }: _*)
  }

  /** Candidate pairs: documents sharing at least one LSH band bucket.
    * The self-join is salted: the left side is replicated across all
    * salts, the right side carries one deterministic salt per doc, so
    * every qualifying pair is generated exactly once (by the cell of the
    * right doc's salt) while a hot bucket's quadratic pair output spreads
    * over `saltFactor` independent join cells.
    */
  def candidatePairs(docs: DataFrame): DataFrame = {
    // Materialize the banded signature table before the self-join: both
    // join sides read the SAME 64k-row LSH index instead of re-running the
    // 32-hash signature aggregation once per side (Catalyst inlines the
    // shared subtree and exchange reuse does not fire across the salted
    // self-join's asymmetric sides — measured 2x on the whole pair
    // pipeline at sf0.1). This is the batch-side twin of CorpusIndex.banded,
    // which persists exactly this table for incremental dedup; on a
    // cluster the localCheckpoint swaps for a durable checkpoint/table.
    val bk = banded(docs).staged()
    val left = bk.withColumn("salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    val right = bk.withColumn("salt", pmod(xxhash64(col("doc_id")), lit(saltFactor)))
    left.as("a")
      .join(right.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.salt") === col("b.salt") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  /** Incremental near-dup: which documents of a NEW batch near-duplicate
    * (Jaccard ≥ threshold) anything in the EXISTING corpus — the daily
    * production shape (dedup the incoming crawl against the corpus without
    * re-pairing the corpus with itself). Candidates come from the same
    * banded equi-join, but strictly new×corpus: corpus-side band buckets
    * are the big build side a long-lived pipeline keeps materialized, the
    * new batch streams against them, and |new|² / |corpus|² pair work is
    * never generated. Salting mirrors [[candidatePairs]]: the (small) new
    * side is replicated across salts, the corpus side carries one
    * deterministic salt per doc, so a hot band bucket's match output
    * spreads over [[saltFactor]] join cells.
    *
    * Returns one row per new doc with ≥1 corpus match:
    * (new_id, n_matches, first_match = min matching corpus doc_id).
    */
  def incrementalNearDuplicates(
      newDocs: DataFrame, corpus: DataFrame, threshold: Double): DataFrame =
    incrementalNearDuplicates(newDocs, CorpusIndex.build(corpus), threshold)

  /** The persistent corpus side of incremental dedup: salted band buckets
    * for candidate generation plus the word-set arrays for verification. A
    * long-lived pipeline materializes this once and appends to it as
    * batches are admitted; each daily batch then only pays its own
    * signature pass (see the cached wiring in LlmQueries).
    */
  final case class CorpusIndex(banded: DataFrame, words: DataFrame)

  object CorpusIndex {
    def build(corpus: DataFrame): CorpusIndex = CorpusIndex(
      MinHashDedup.banded(corpus).withColumn("salt",
        pmod(xxhash64(col("doc_id")), lit(saltFactor))),
      corpus.select(
        col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("words")))
  }

  def incrementalNearDuplicates(
      newDocs: DataFrame, index: CorpusIndex, threshold: Double): DataFrame = {
    org.apache.spark.sql.graftbridge.GraftSession.install(newDocs.sparkSession)
    val left = banded(newDocs).withColumn("salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    val cands = left.as("a")
      .join(index.banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.salt") === col("b.salt"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    val newWords = newDocs.select(
      col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("words"))
    val oldWords = index.words
    cands
      .join(newWords.as("wa"), col("new_id") === col("wa.doc_id"))
      .join(oldWords.as("wb"), col("old_id") === col("wb.doc_id"))
      .select(col("new_id"), col("old_id"),
        expr("graft_overlap(wa.words, wb.words)").cast("double").as("c"),
        size(col("wa.words")).as("n1"), size(col("wb.words")).as("n2"))
      .filter(col("c") >= lit(threshold) * (col("n1") + col("n2") - col("c")))
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("old_id")).as("first_match"))
      .orderBy("new_id")
  }

  /** Character-level verification over an already-verified MinHash pair set
    * (columns id1, id2, jaccard): join each pair to its two texts and keep
    * pairs whose levenshtein distance is ≤ pct% of the longer text — the
    * composed production verifier q_dedup_edit_distance's doc promises
    * (band candidates bound the pair count; the expensive O(len²) distance
    * runs only on them; the same compose-the-cuts pattern as IVF-PQ).
    * Unlike length-block candidates, banding cannot lose a pair whose
    * lengths straddle a block boundary (LlmSpec pins that recall win).
    * The repartition on the PAIR side is the AQE compute-skew lever from
    * q_dedup_edit_distance, applied where it actually lands here: the
    * texts are the broadcast build side of both joins, so the pushed-in
    * lev predicate executes while STREAMING THE PAIRS — and the
    * checkpointed pair set arrives in ~2 byte-tiny partitions (AQE sized
    * it by bytes, blind to the O(len²) per-row verify). An explicit
    * numPartitions repartition is exempt from coalescing and spreads the
    * distance work wide: measured 31 s → 3 s at sf0.1/local[32]. The width
    * derives from the session's parallelism (2x cores — the measured 64 on
    * local[32]) so a larger cluster is not capped at a tuned constant.
    */
  def editVerifiedFromPairs(pairs: DataFrame, docs: DataFrame, pct: Int): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"))
    val width = math.max(2, docs.sparkSession.sparkContext.defaultParallelism * 2)
    pairs.repartition(width)
      .join(texts.as("ta"), col("id1") === col("ta.doc_id"))
      .join(texts.as("tb"), col("id2") === col("tb.doc_id"))
      .select(col("id1"), col("id2"), col("jaccard"),
        levenshtein(col("ta.text"), col("tb.text")).as("lev"),
        greatest(length(col("ta.text")), length(col("tb.text"))).as("mx"))
      .filter(col("lev") * 100 <= col("mx") * pct)
      .select(col("id1"), col("id2"), col("jaccard"), col("lev").cast("int").as("lev"))
      .orderBy("id1", "id2")
  }

  /** Banded candidates → Jaccard ≥ threshold → levenshtein ≤ pct%. */
  def editVerified(docs: DataFrame, threshold: Double, pct: Int): DataFrame =
    editVerifiedFromPairs(nearDuplicates(docs, threshold), docs, pct)

  /** LSH candidates verified by exact word-set Jaccard ≥ threshold; output
    * matches the brute-force answer (modulo the ~1e-6 band-miss rate).
    *
    * Verification joins each candidate pair to its two pre-deduped SORTED
    * word arrays and counts the overlap with the codegen'd graft_overlap
    * sorted-merge kernel — O(|pair| · doc-length) with no exploded-word
    * shuffle, and no per-row hash-set build (size(array_intersect) runs
    * in generic eval at ~7 µs/pair — it was the dominant verify cost).
    */
  def nearDuplicates(docs: DataFrame, threshold: Double): DataFrame = {
    org.apache.spark.sql.graftbridge.GraftSession.install(docs.sparkSession)
    val wordArrays = docs.select(
      col("doc_id"), array_sort(array_distinct(split(col("text"), " "))).as("words"))
    candidatePairs(docs)
      .join(wordArrays.as("wa"), col("id1") === col("wa.doc_id"))
      .join(wordArrays.as("wb"), col("id2") === col("wb.doc_id"))
      .select(col("id1"), col("id2"),
        expr("graft_overlap(wa.words, wb.words)").cast("double").as("c"),
        size(col("wa.words")).as("n1"), size(col("wb.words")).as("n2"))
      .filter(col("c") >= lit(threshold) * (col("n1") + col("n2") - col("c")))
      .select(col("id1"), col("id2"),
        (col("c") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
    // Deliberately UNSORTED: this is a shared intermediate (pair query sorts
    // for output determinism; clustering doesn't care), and a range sort
    // here would sample-execute the whole verify pipeline a second time
    // before the checkpoint materializes it.
  }
}
