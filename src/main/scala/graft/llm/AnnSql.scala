package graft.llm

import graft.Staging.StagedDataFrame

/** Embedding similarity SQL, generated for both dialects from shared
  * constants so Spark and the DuckDB oracle compute bit-identical doubles.
  *
  * Cosine determinism: float32 elements are cast to DOUBLE before any
  * arithmetic (exact), and both engines fold the 64 products left-to-right
  * (Spark `aggregate`, DuckDB `list_dot_product`) — identical IEEE results,
  * so rankings and ROUNDed values agree exactly.
  *
  * Scale notes: the brute-force form is the correctness baseline (query set
  * broadcast against the corpus — a broadcast hash join, no shuffle of the
  * big side; per-query top-k via partitioned window). The LSH form is the
  * 100 TB path and is *size-parameterized in the query itself*: the sign
  * signature is always [[maxBits]] hyperplane bits, but the bucket key
  * masks to `nbits = clamp(ceil(log2(N / targetBucket)), 1, maxBits)` bits,
  * computed from COUNT(*) by a scalar subquery. Bucket population therefore
  * stays ≈[[targetBucket]] at ANY corpus size (until 2^maxBits *
  * targetBucket ≈ 10^9 vectors — raise maxBits for more), instead of the
  * fixed 256 buckets of the round-2 design whose buckets grew linearly
  * with N. Recall comes from [[numTables]] independent hash tables plus
  * single-bit-flip multi-probe (Lv et al., "Multi-Probe LSH", VLDB 2007):
  * each query probes its own bucket and the `nbits` buckets at hamming
  * distance 1, in every table — (nbits+1)×numTables bounded-size candidate
  * buckets per query, all reached via equi-joins.
  */
object AnnSql {
  val dim = 64

  /** Sign-signature width per hash table; the effective bucket key is a
    * runtime-masked prefix of it.
    */
  val maxBits = 20

  /** Independent hyperplane tables (candidate union, DISTINCT-merged). */
  val numTables = 2

  /** Desired expected bucket population at any corpus size. */
  val targetBucket = 1024

  /** Scala mirror of the in-SQL `nbits` clamp (unit-tested against the SQL
    * in PlanAuditSpec): number of signature bits in the bucket key.
    */
  def nbitsFor(n: Long): Int =
    math.max(1, math.min(maxBits,
      math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt))

  /** Deterministic hyperplanes, embedded as literals in BOTH dialects (the
    * same decimal text parses to the same double everywhere). One plane set
    * per hash table, from independent seeds.
    */
  private def planesFor(seed: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(maxBits)(Seq.fill(dim)(f"${rnd.nextGaussian()}%.6f"))
  }

  val tables: Seq[Seq[Seq[String]]] = Seq(planesFor(7), planesFor(13))

  // ---- Spark dialect ----
  private def sparkDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"

  private def sparkNorm(a: String): String =
    s"SQRT(aggregate($a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** Cosine through the native `graft_cosine` expression. */
  private def graftCos(a: String, b: String): String = s"graft_cosine($a, $b)"

  private[llm] def sparkCos(a: String, b: String): String =
    s"${sparkDot(a, b)} / (${sparkNorm(a)} * ${sparkNorm(b)})"

  private def sparkPlaneLit(p: Seq[String]): String =
    p.map(v => s"${v}D").mkString("array(", ", ", ")")

  /** Full maxBits-bit signature for one hash table = bitmask of
    * hyperplane-side signs.
    */
  private def sparkSig(e: String, planes: Seq[Seq[String]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ${sparkDot(e, sparkPlaneLit(p))} >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Same signature via the codegen'd graft_dot expression (bit-identical
    * fold, no interpreted lambdas) — the production path; the lambda form
    * above remains as the no-extension formulation used by the audit query.
    */
  private def sparkSigNative(e: String, planes: Seq[Seq[String]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN graft_dot($e, ${sparkPlaneLit(p)}) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Staging query for the per-(session, dir) signature table: one pass
    * over the corpus computes both hash tables' signatures (checkpointed by
    * the runner, shared by q_ann_lsh and q_dedup_embedding).
    */
  def sigStageSpark: String =
    s"""SELECT vec_id, embedding, label,
       |${sparkSigNative("embedding", tables(0))} AS s1,
       |${sparkSigNative("embedding", tables(1))} AS s2 FROM embeddings""".stripMargin

  // ---- DuckDB dialect ----
  private def duckD(a: String): String =
    s"list_transform($a, x -> CAST(x AS DOUBLE))"

  private def duckDot(a: String, b: String): String =
    s"list_dot_product(${duckD(a)}, ${duckD(b)})"

  private[llm] def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (SQRT(${duckDot(a, a)}) * SQRT(${duckDot(b, b)}))"

  private def duckPlaneLit(p: Seq[String]): String =
    p.mkString("[", ", ", "]")

  private def duckSig(e: String, planes: Seq[Seq[String]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(${duckD(e)}, ${duckPlaneLit(p)}) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** ceil(log2(m)) for an integer expression m ≥ 1, as the bit length of
    * m−1 — pure integer arithmetic, no libm. Round-8 hardening: the old
    * CEIL(log2(x)) flips across engines when x sits a last-ulp from a
    * power of two, and nbits feeds the bucket masks, so a flip would
    * change every candidate set. `bin(BIGINT)` is minimal-width in both
    * dialects (probed on Spark 4.1.2 and DuckDB 1.0.0).
    */
  private def ceilLog2Int(m: String): String =
    s"(CASE WHEN $m <= 1 THEN 0 ELSE CAST(LENGTH(bin(CAST($m AS BIGINT) - 1)) AS INT) END)"

  /** clamp(ceil(log2(COUNT(*) / targetBucket)), lo, maxBits) — identical
    * text in both dialects. ceil(N/targetBucket) is exact (targetBucket
    * is a power of two: the +1023 add and the divide are both exact
    * double ops for any realistic N), and the log2 is integer bit length.
    */
  private def nbitsSql(lo: Int): String =
    s"SELECT GREATEST($lo, LEAST($maxBits, ${ceilLog2Int(
      s"CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) + ${targetBucket - 1}.0E0) / $targetBucket.0E0) AS BIGINT)")})) AS nbits FROM embeddings"

  // ---- queries ----

  /** Brute-force cosine top-k for the query subset (vec_id % 50 = 0). */
  def bruteTopKSpark(k: Int): String = bruteTopKText(sparkCos, k)

  def bruteTopKDuck(k: Int): String = bruteTopKText(duckCos, k)

  private def bruteTopKText(cos: (String, String) => String, k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |sims AS (SELECT qid, c.vec_id AS cid, ${cos("qe", "c.embedding")} AS cos
       |         FROM q JOIN embeddings c ON c.vec_id != qid)
       |${topKOfSims(k)}""".stripMargin

  /** The final select of a top-k query: each qid's k best `sims` by cosine. */
  private def topKOfSims(k: Int): String =
    s"""SELECT qid, cid, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** Brute-force top-k via the native graft_cosine Catalyst expression
    * (same math, single-pass, whole-stage-codegen friendly) — the scale
    * path for the scoring side.
    */
  def nativeTopKSpark(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |sims AS (SELECT qid, c.vec_id AS cid, graft_cosine(qe, c.embedding) AS cos
       |         FROM q JOIN embeddings c ON c.vec_id != qid)
       |SELECT qid, cid, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** LSH-bucketed top-k, size-parameterized: nbits-bit bucket keys over
    * [[numTables]] hash tables, single-bit-flip multi-probe on the query
    * side only, DISTINCT candidate merge, then exact re-scoring. Every join
    * is an equi-join on (table id, bucket); the probe explosion is a
    * Generate over a constant-bounded (maxBits+1)-element sequence.
    */
  /** The probe/candidate CTE chain over a signature relation (columns
    * vec_id, s1, s2) — ONE definition so the production query and the
    * audit query can never desynchronize on the multi-probe or bucket-mask
    * logic; only the signature source differs.
    */
  private def lshCandidateCtes(sigTable: String): String =
    s"""e AS (SELECT vec_id, tid,
       |             (CASE WHEN tid = 1 THEN s1 ELSE s2 END) & (shiftleft(1, (SELECT nbits FROM n)) - 1) AS bucket
       |      FROM $sigTable LATERAL VIEW explode(array(1, 2)) t AS tid),
       |q AS (SELECT vec_id AS qid, tid, bucket FROM e WHERE vec_id % 50 = 0),
       |probes AS (SELECT qid, tid,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE CAST(bucket ^ shiftleft(1, i - 1) AS INT) END AS pbucket
       |           FROM (SELECT qid, tid, bucket, i
       |                 FROM q LATERAL VIEW explode(sequence(0, $maxBits)) x AS i) t
       |           WHERE i <= (SELECT nbits FROM n)),
       |cand AS (SELECT DISTINCT p.qid, e.vec_id AS cid
       |         FROM probes p JOIN e ON e.tid = p.tid AND e.bucket = p.pbucket AND e.vec_id != p.qid)""".stripMargin

  /** Self-contained chain (inline lambda signatures) — the no-extension
    * formulation kept for the audit query.
    */
  private def sparkLshCtes: String =
    s"""WITH n AS (${nbitsSql(1)}),
       |sig AS (SELECT vec_id, ${sparkSig("embedding", tables(0))} AS s1,
       |               ${sparkSig("embedding", tables(1))} AS s2 FROM embeddings),
       |${lshCandidateCtes("sig")}""".stripMargin

  /** Production chain over the staged `ann_sig` view (vec_id, embedding,
    * label, s1, s2): the 2×maxBits signature dot products are paid once
    * per (session, dir), and scoring runs through the codegen'd
    * graft_cosine.
    */
  private def sparkLshCtesFromSig: String =
    s"""WITH n AS (${nbitsSql(1)}),
       |${lshCandidateCtes("ann_sig")}""".stripMargin

  def lshTopKFromSigSpark(k: Int): String =
    s"""$sparkLshCtesFromSig,
       |sims AS (SELECT c.qid, c.cid, graft_cosine(a.embedding, b.embedding) AS cos
       |         FROM cand c JOIN ann_sig a ON a.vec_id = c.qid
       |                     JOIN ann_sig b ON b.vec_id = c.cid)
       |SELECT qid, cid, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** Production embedding near-dup over the staged `ann_sig` view:
    * (label, sign sub-bucket) blocking with hamming<=1 multi-probe; the
    * mirrored DuckDB formulation below recomputes the same signatures
    * inline (the oracle has no staging).
    */
  def nearDupFromSigSpark(threshold: String): String =
    s"""WITH n AS ($blockBitsSql),
       |e AS (SELECT vec_id, embedding, label,
       |             s1 & (shiftleft(1, (SELECT nbits FROM n)) - 1) AS bucket
       |      FROM ann_sig),
       |probes AS (SELECT vec_id, embedding, label,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE CAST(bucket ^ shiftleft(1, i - 1) AS INT) END AS pbucket
       |           FROM (SELECT vec_id, embedding, label, bucket, i
       |                 FROM e LATERAL VIEW explode(sequence(0, $maxBits)) x AS i) t
       |           WHERE i <= (SELECT nbits FROM n)),
       |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, graft_cosine(a.embedding, b.embedding) AS cos
       |      FROM probes a JOIN e b
       |        ON a.label = b.label AND a.pbucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id1, id2, ROUND(cos, 6) AS cos FROM p WHERE cos >= $threshold
       |ORDER BY id1, id2""".stripMargin

  /** Hard-negative mining for contrastive training (the DPR/SimCSE
    * batch-prep pass, Karpukhin et al. arXiv:2004.04906 §3.2): for each
    * anchor of the query sample, the k most-SIMILAR vectors with a
    * DIFFERENT label — the negatives nearest the decision boundary are
    * the informative ones; random negatives are trivially separable and
    * teach nothing. Candidates come from the SAME shared LSH chain as
    * q_ann_lsh ([[lshCandidateCtes]] — bucket population stays ~1024 at
    * any N by the nbits sizing, so per-anchor work is constant-bounded),
    * then the cross-label filter and exact cosine re-score run only on
    * that candidate set. Every join is an equi-join on (table id,
    * bucket) or vec_id; the per-anchor top-k is one partitioned window.
    */
  def hardNegativesFromSigSpark(k: Int): String =
    s"""$sparkLshCtesFromSig,
       |sims AS (SELECT c.qid, a.label AS q_label, c.cid, b.label AS n_label,
       |                graft_cosine(a.embedding, b.embedding) AS cos
       |         FROM cand c JOIN ann_sig a ON a.vec_id = c.qid
       |                     JOIN ann_sig b ON b.vec_id = c.cid
       |         WHERE a.label != b.label)
       |SELECT qid, q_label, cid, n_label, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, q_label, cid, n_label, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  def hardNegativesDuck(k: Int): String =
    s"""WITH n AS (${nbitsSql(1)}),
       |sig AS (SELECT vec_id, ${duckSig("embedding", tables(0))} AS s1,
       |               ${duckSig("embedding", tables(1))} AS s2 FROM embeddings),
       |e AS (SELECT vec_id, tid,
       |             (CASE WHEN tid = 1 THEN s1 ELSE s2 END) & ((1 << (SELECT nbits FROM n)) - 1) AS bucket
       |      FROM (SELECT vec_id, s1, s2, unnest([1, 2]) AS tid FROM sig) t),
       |q AS (SELECT vec_id AS qid, tid, bucket FROM e WHERE vec_id % 50 = 0),
       |probes AS (SELECT qid, tid,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE xor(bucket, 1 << (i - 1)) END AS pbucket
       |           FROM (SELECT qid, tid, bucket, unnest(range(0, ${maxBits + 1})) AS i FROM q) t
       |           WHERE i <= (SELECT nbits FROM n)),
       |cand AS (SELECT DISTINCT p.qid, e.vec_id AS cid
       |         FROM probes p JOIN e ON e.tid = p.tid AND e.bucket = p.pbucket AND e.vec_id != p.qid),
       |sims AS (SELECT c.qid, a.label AS q_label, c.cid, b.label AS n_label,
       |                ${duckCos("a.embedding", "b.embedding")} AS cos
       |         FROM cand c JOIN embeddings a ON a.vec_id = c.qid
       |                     JOIN embeddings b ON b.vec_id = c.cid
       |         WHERE a.label != b.label)
       |SELECT qid, q_label, cid, n_label, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, q_label, cid, n_label, cos,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** Structural-invariant audit (PlanAuditSpec): per-query candidate count
    * can never exceed (nbits+1) probes × numTables tables × the largest
    * bucket population — the bound that keeps the candidate join linear in
    * N at any scale.
    */
  def candidateBoundSpark: String =
    s"""$sparkLshCtes,
       |bsz AS (SELECT tid, bucket, COUNT(*) AS b FROM e GROUP BY tid, bucket),
       |c AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid)
       |SELECT MAX(c.n_cand) AS max_cand,
       |       ((SELECT nbits FROM n) + 1) * $numTables * (SELECT MAX(b) FROM bsz) AS bound,
       |       (SELECT nbits FROM n) AS nbits
       |FROM c""".stripMargin

  /** Same structural audit over the staged `ann_sig` view (codegen'd
    * signatures), plus the populated-bucket count — used by the synthetic
    * 20x-corpus scale test.
    */
  def candidateBoundFromSigSpark: String =
    s"""$sparkLshCtesFromSig,
       |bsz AS (SELECT tid, bucket, COUNT(*) AS b FROM e GROUP BY tid, bucket),
       |c AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid)
       |SELECT MAX(c.n_cand) AS max_cand,
       |       ((SELECT nbits FROM n) + 1) * $numTables * (SELECT MAX(b) FROM bsz) AS bound,
       |       (SELECT nbits FROM n) AS nbits,
       |       (SELECT COUNT(*) FROM bsz) AS n_buckets,
       |       (SELECT MAX(b) FROM bsz) AS max_bucket
       |FROM c""".stripMargin

  def lshTopKDuck(k: Int): String =
    s"""WITH n AS (${nbitsSql(1)}),
       |sig AS (SELECT vec_id, ${duckSig("embedding", tables(0))} AS s1,
       |               ${duckSig("embedding", tables(1))} AS s2 FROM embeddings),
       |e AS (SELECT vec_id, tid,
       |             (CASE WHEN tid = 1 THEN s1 ELSE s2 END) & ((1 << (SELECT nbits FROM n)) - 1) AS bucket
       |      FROM (SELECT vec_id, s1, s2, unnest([1, 2]) AS tid FROM sig) t),
       |q AS (SELECT vec_id AS qid, tid, bucket FROM e WHERE vec_id % 50 = 0),
       |probes AS (SELECT qid, tid,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE xor(bucket, 1 << (i - 1)) END AS pbucket
       |           FROM (SELECT qid, tid, bucket, unnest(range(0, ${maxBits + 1})) AS i FROM q) t
       |           WHERE i <= (SELECT nbits FROM n)),
       |cand AS (SELECT DISTINCT p.qid, e.vec_id AS cid
       |         FROM probes p JOIN e ON e.tid = p.tid AND e.bucket = p.pbucket AND e.vec_id != p.qid),
       |sims AS (SELECT c.qid, c.cid, ${duckCos("a.embedding", "b.embedding")} AS cos
       |         FROM cand c JOIN embeddings a ON a.vec_id = c.qid
       |                     JOIN embeddings b ON b.vec_id = c.cid)
       |SELECT qid, cid, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** IVF (inverted-file) ANN: the second classic scale path next to LSH.
    * nlist ≈ sqrt(N) centroids are chosen deterministically (every
    * stride-th vec_id, stride = ceil(N / ceil(sqrt(N))) via scalar
    * subqueries, so the list count grows with the corpus — the standard
    * IVF sizing heuristic giving ≈sqrt(N) lists of ≈sqrt(N) vectors.
    * Every vector is assigned to its nearest centroid (a broadcast join
    * against the constant-size centroid table — the one-off index-build
    * cost every IVF index pays); queries probe their nprobe=2 nearest
    * lists and re-score candidates exactly. Candidate lists are disjoint
    * (each vector lives in exactly one list), so no DISTINCT is needed.
    * A production build would replace the deterministic centroid pick
    * with k-means iterations of this same assignment join.
    */
  def ivfTopKSpark(k: Int, nprobe: Int = 2): String = ivfTopKText(graftCos, k, nprobe)

  def ivfTopKDuck(k: Int, nprobe: Int = 2): String = ivfTopKText(duckCos, k, nprobe)

  private def ivfTopKText(cos: (String, String) => String, k: Int, nprobe: Int): String =
    s"""${ivfSimsCtes(cos, nprobe)}
       |${topKOfSims(k)}""".stripMargin

  /** The flat IVF index and its probe, as CTEs: `st` (centroid stride),
    * `c` (every stride-th vector a centroid: cent_id, ce), `asn` (each
    * vector's nearest centroid), `q` (the vec_id % 50 = 0 query sample),
    * `qp` (each query's `nprobe` nearest lists) and `sims` (qid, cid, cos
    * over the probed lists' vectors).
    */
  private def ivfSimsCtes(cos: (String, String) => String, nprobe: Int): String =
    s"""WITH st AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS stride FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |      WHERE vec_id % (SELECT stride FROM st) = 0),
       |asn AS (SELECT vec_id, embedding, cent_id FROM (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e CROSS JOIN c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT q.qid, q.qe, c.cent_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY ${cos("q.qe", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM q CROSS JOIN c) t WHERE rn <= $nprobe),
       |sims AS (SELECT qp.qid, a.vec_id AS cid, ${cos("qp.qe", "a.embedding")} AS cos
       |         FROM qp JOIN asn a ON a.cent_id = qp.cent_id AND a.vec_id != qp.qid)""".stripMargin

  /** IVF recall-vs-nprobe curve — the tuning report every ANN deployment
    * reads before fixing its probe budget: recall@3 of the flat IVF index
    * against the exact brute-force ground truth, at nprobe = 1, 2, 4, as
    * INTEGER hit counts (n_hits of n_possible, recall in basis points by
    * integer division — no float folds anywhere, so both engines agree
    * exactly; the cosine rankings reuse the same expressions the graded
    * q_ann_ivf / q_ann_topk queries already hash-match on).
    *
    * Single-pass trick: probe lists are ranked ONCE to probe_rank <= 4 and
    * each curve level just restricts probe_rank <= nprobe — the index is
    * built and scored once for the whole curve, not once per level (the
    * iterative-CTE single-reference rule from the PCA fix). The only
    * non-equi join is against the 3-row level table (bounded BNLJ,
    * sweep-allowlisted); ground truth is the same bounded brute baseline
    * as q_ann_topk.
    *
    * At 100 TB the brute side restricts to the same bounded query sample
    * every recall audit uses — ground truth over a sample is the standard
    * recall-evaluation protocol (you never brute-force the full corpus).
    */
  def recallCurveSpark: String =
    recallCurveText(graftCos, "explode(array(1, 2, 4))", "DIV")

  def recallCurveDuck: String = recallCurveText(duckCos, "unnest([1, 2, 4])", "//")

  private def recallCurveText(cos: (String, String) => String, levels: String, intDiv: String): String =
    s"""WITH st AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS stride FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
       |      WHERE vec_id % (SELECT stride FROM st) = 0),
       |asn AS (SELECT vec_id, embedding, cent_id FROM (
       |  SELECT e.vec_id, e.embedding, c.cent_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cos("e.embedding", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM embeddings e CROSS JOIN c) t WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
       |qp AS (SELECT qid, qe, cent_id, rn AS probe_rank FROM (
       |  SELECT q.qid, q.qe, c.cent_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY ${cos("q.qe", "c.ce")} DESC, c.cent_id) AS rn
       |  FROM q CROSS JOIN c) t WHERE rn <= 4),
       |sims AS (SELECT qp.qid, qp.probe_rank, a.vec_id AS cid,
       |                ${cos("qp.qe", "a.embedding")} AS cos
       |         FROM qp JOIN asn a ON a.cent_id = qp.cent_id AND a.vec_id != qp.qid),
       |lv AS (SELECT $levels AS nprobe),
       |topk AS (SELECT nprobe, qid, cid FROM (
       |  SELECT lv.nprobe, s.qid, s.cid,
       |         row_number() OVER (PARTITION BY lv.nprobe, s.qid
       |           ORDER BY s.cos DESC, s.cid) AS rn
       |  FROM sims s JOIN lv ON s.probe_rank <= lv.nprobe) t WHERE rn <= 3),
       |bs AS (SELECT qid, c2.vec_id AS cid, ${cos("qe", "c2.embedding")} AS cos
       |       FROM q JOIN embeddings c2 ON c2.vec_id != qid),
       |brute AS (SELECT qid, cid FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM bs) t WHERE rn <= 3),
       |hits AS (SELECT t.nprobe, COUNT(*) AS n_hits
       |         FROM topk t JOIN brute b ON t.qid = b.qid AND t.cid = b.cid
       |         GROUP BY t.nprobe),
       |nq AS (SELECT COUNT(*) AS n FROM q)
       |SELECT CAST(lv.nprobe AS INT) AS nprobe,
       |       CAST(nq.n * 3 AS BIGINT) AS n_possible,
       |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST((COALESCE(h.n_hits, 0) * 10000) $intDiv (nq.n * 3) AS BIGINT) AS recall_bp
       |FROM lv LEFT JOIN hits h ON lv.nprobe = h.nprobe CROSS JOIN nq
       |ORDER BY nprobe""".stripMargin

  /** nDCG@10 of the flat IVF index against the exact brute ground truth —
    * the rank-quality companion to [[recallCurveSpark]]'s set-overlap
    * recall: recall says WHETHER the true neighbors were returned, nDCG
    * says whether they came back in the right ORDER (a production ANN
    * rollout gates on both; Järvelin & Kekäläinen, TOIS 2002).
    *
    * Graded relevance rel(g) = 11 − g for ground-truth rank g ∈ 1..10,
    * rel = 0 off the gt list. DCG = Σ_hits rel / log2(rank+1), and
    * 1/log2(r+1) = ln2/ln(r+1) rides the engine-neutral micro-nat log:
    * gain_micro = rel · (693147·10^6) DIV ln_micro(r+1), where 693147 =
    * FLOOR(ln 2 ·10^6 + 0.5) is the same kernel's value for ln_micro(2) —
    * pure BIGINT end to end, the 10-row rank table pays the only kernel
    * evaluations, and the single float division lives inside the final
    * ROUND. IDCG is the same sum over the ideal permutation (a scalar from
    * the same 10-row table), so nDCG = 1 exactly when the index returns
    * the true order. At 100 TB the brute side is the bounded query-sample
    * evaluation harness (the recall-curve protocol); the IVF side is the
    * production probe path.
    */
  private def ndcgText(cos: (String, String) => String, ranksSel: String,
                       intDiv: String, k: NeutralMath.KernelSplice): String =
    s"""${ivfSimsCtes(cos, 2)},
       |ivf10 AS (SELECT qid, cid, rn FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t WHERE rn <= 10),
       |bs AS (SELECT qid, c2.vec_id AS cid, ${cos("qe", "c2.embedding")} AS cos
       |       FROM q JOIN embeddings c2 ON c2.vec_id != qid),
       |gt AS (SELECT qid, cid, rn AS gt_rn FROM (
       |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM bs) t WHERE rn <= 10),
       |ranks AS ($ranksSel),
       |${k.ln("lnr", "ranks", "r", "r", "CAST(r + 1 AS BIGINT)", "1", "ln_micro", "1.0E6")},
       |hit AS (SELECT i.qid, i.rn, g.gt_rn
       |        FROM ivf10 i JOIN gt g ON i.qid = g.qid AND i.cid = g.cid),
       |dcg AS (SELECT h.qid,
       |               CAST(SUM((11 - h.gt_rn) * 693147000000 $intDiv l.ln_micro) AS BIGINT) AS dcg_u,
       |               COUNT(*) AS n_hits
       |        FROM hit h JOIN lnr l ON h.rn = l.r GROUP BY h.qid),
       |idcg AS (SELECT CAST(SUM((11 - r) * 693147000000 $intDiv ln_micro) AS BIGINT) AS idcg_u
       |         FROM lnr)
       |SELECT q.qid AS qid, CAST(COALESCE(d.n_hits, 0) AS BIGINT) AS n_hits,
       |       CAST(COALESCE(d.dcg_u, 0) AS DOUBLE) / (SELECT idcg_u FROM idcg) AS ndcg
       |FROM q LEFT JOIN dcg d ON q.qid = d.qid
       |ORDER BY q.qid""".stripMargin

  def ndcgSpark: String = ndcgText(
    graftCos, "SELECT explode(sequence(1, 10)) AS r", "DIV", NeutralMath.SparkKernel)

  def ndcgDuck: String = ndcgText(
    duckCos, "SELECT unnest(range(1, 11)) AS r", "//", NeutralMath.OracleKernel)

  /** Two-level (hierarchical) IVF: same index semantics as
    * [[ivfTopKSpark]], but coarse assignment no longer scores every vector
    * against all nlist ≈ sqrt(N) centroids (O(N·sqrt N) total distance
    * work — ~3e13 dot products at 1e9 vectors). Instead nlist1 ≈
    * sqrt(nlist) first-level cells partition the centroid table itself
    * (every s1-th centroid, the same deterministic stride convention),
    * each centroid is routed to its nearest cell (sqrt(N) × N^¼ work,
    * one-off), and a vector scores (a) the nlist1 cells, then (b) only
    * the centroids inside its p1 probed cells via a HASH EQUI-JOIN on
    * c1_id — O(sqrt(nlist) + p1 · nlist/nlist1) ≈ O(sqrt nlist) distance
    * evaluations per vector instead of nlist (the FAISS two-level
    * quantizer / IMI shape). p1 > 1 recovers the assignment fidelity a
    * single-cell probe loses when a vector's true-nearest centroid sits
    * just across a cell boundary. The query path probes the same two
    * levels, then nprobe lists, then re-scores exactly — identical
    * deterministic formulation in both dialects, so results hash-match.
    * The only nested-loop joins remaining are against the N^¼-row cell
    * table; everything sized by N is equi-joined.
    * (Ref behavior: datafusion-flight-sql-server delegates SQL execution;
    * this operator is part of the beyond-reference ANN extension set.)
    */
  /** The two-level coarse-assignment CTE chain, factored out so EVERY
    * index-build consumer (hier IVF search, IVF-PQ, residual IVF-PQ,
    * SemDeDup, coreset, the k-means full step) rides the same quantizer
    * instead of re-paying the flat O(N·sqrt N) centroid scan. Emits CTEs:
    * `st` (centroid stride), `c` (nlist ≈ sqrt N centroids: cent_id, cv),
    * `n2`/`c1` (nlist1 ≈ N^¼ first-level cells: c1_id, c1e), `a21`
    * (centroid→cell routing: cent_id, cv, c1_id), and `v1` (vec_id, v,
    * c1_id — each vector's p1 probed cells). Consumers derive the final
    * assignment (rn = 1) or a probe set (rn <= nprobe) by EQUI-joining
    * v1 with a21 on c1_id; the only nested-loop joins in the chain are
    * against the N^¼-row cell table c1 — nothing sized by N or sqrt(N)
    * is ever nested-looped. `score` renders vector-vs-centroid affinity;
    * `desc = true` for cosine (higher is nearer), false for squared L2.
    */
  private def hierAsnCtes(
      src: String, vecCol: String,
      score: (String, String) => String, desc: Boolean, p1: Int): String = {
    val dir = if (desc) " DESC" else ""
    s"""st AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS stride FROM $src),
       |c AS (SELECT vec_id AS cent_id, $vecCol AS cv FROM $src
       |      WHERE vec_id % (SELECT stride FROM st) = 0),
       |n2 AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS s1 FROM c),
       |c1 AS (SELECT cent_id AS c1_id, cv AS c1e FROM (
       |  SELECT cent_id, cv, row_number() OVER (ORDER BY cent_id) AS rn FROM c) t
       |  WHERE (rn - 1) % (SELECT s1 FROM n2) = 0),
       |a21 AS (SELECT cent_id, cv, c1_id FROM (
       |  SELECT c.cent_id, c.cv, c1.c1_id,
       |         row_number() OVER (PARTITION BY c.cent_id
       |           ORDER BY ${score("c.cv", "c1.c1e")}$dir, c1.c1_id) AS rn
       |  FROM c CROSS JOIN c1) t WHERE rn = 1),
       |v1 AS (SELECT vec_id, v, c1_id FROM (
       |  SELECT e.vec_id, e.$vecCol AS v, c1.c1_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${score(s"e.$vecCol", "c1.c1e")}$dir, c1.c1_id) AS rn
       |  FROM $src e CROSS JOIN c1) t WHERE rn <= $p1)""".stripMargin
  }

  private def ivfHierSql(
      cosFn: (String, String) => String, k: Int, nprobe: Int, p1: Int): String =
    s"""WITH ${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1)},
       |asn AS (SELECT vec_id, v, cent_id FROM (
       |  SELECT v.vec_id, v.v, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |q1 AS (SELECT vec_id, v, c1_id FROM v1 WHERE vec_id % 50 = 0),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT q.vec_id AS qid, q.v AS qe, a.cent_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosFn("q.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM q1 q JOIN a21 a ON q.c1_id = a.c1_id) t WHERE rn <= $nprobe),
       |sims AS (SELECT qp.qid, a.vec_id AS cid, ${cosFn("qp.qe", "a.v")} AS cos
       |         FROM qp JOIN asn a ON a.cent_id = qp.cent_id AND a.vec_id != qp.qid)
       |SELECT qid, cid, ROUND(cos, 6) AS cos FROM (
       |  SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
       |  FROM sims) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  /** nprobe defaults one higher than flat IVF: the two-level assignment is
    * slightly noisier at small nlist, and widening the LIST probe (not the
    * cell probe) is what recovers it — measured at fixture scale: flat
    * recall@3 0.30; hier 0.23 at nprobe=2, 0.30 at nprobe=3. Cost stays
    * nprobe·N/nlist candidates per query.
    */
  def ivfHierTopKSpark(k: Int, nprobe: Int = 3, p1: Int = 2): String =
    ivfHierSql(graftCos, k, nprobe, p1)

  def ivfHierTopKDuck(k: Int, nprobe: Int = 3, p1: Int = 2): String =
    ivfHierSql(duckCos, k, nprobe, p1)

  /** External cluster-validity readout for the two-level-quantizer cells
    * against the embeddings' ground-truth labels: PURITY (Σ per-cell
    * majority-label count / N), mutual information, and NMI with the
    * sqrt(Hc·Hl) normalization (Manning-Raghavan-Schütze IR book §16.3 —
    * the standard external evaluation of a clustering when labels exist).
    * This is the eval that decides whether an IVF/k-means index's cells
    * are usable as WEAK LABELS for curation (high purity) or just
    * routing structure (low purity, still fine for ANN).
    *
    * Determinism: all three statistics are functions of the integer
    * (cell, label) contingency table; each MI term is n_cl ·
    * lnScaled(n_cl·N, n_c·n_l) — ONE engine-neutral kernel call per
    * OCCUPIED contingency cell (type-bounded), summed as exact BIGINTs
    * (terms are signed; the weighted sum is ≥ 0 up to quantization, so
    * the per-N division goes through the shared FLOOR(double + 0.5)
    * idiom, not integer DIV); entropies are positive-term kernel sums;
    * NMI divides micro-integers after one IEEE-exact SQRT + FLOOR.
    *
    * 100 TB shape: the assignment is the shared two-level quantizer
    * (N^¼-row cell table nested-looped, centroids equi-joined); the
    * contingency table is (cells × labels)-bounded, map-side combined;
    * everything after runs on that bounded table. Products stay in
    * BIGINT while n_c·n_l < 2^63 — any corpus (n² per-pair shares would
    * overflow first at ~3e9; the doc'd rescale is counts→milli-shares).
    */
  /** Shared chain: two-level assignment → (cell, label) contingency
    * table `ct`. Public-ish so the spec can replay the validity
    * arithmetic from the exact table the operator folds.
    */
  private def purityCtCtes(cosFn: (String, String) => String, p1: Int): String =
    s"""${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1)},
       |asn AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |al AS (SELECT a.vec_id, a.cent_id, e.label
       |       FROM asn a JOIN embeddings e ON a.vec_id = e.vec_id),
       |ct AS (SELECT cent_id, label, CAST(COUNT(*) AS BIGINT) AS n_cl
       |       FROM al GROUP BY cent_id, label)""".stripMargin

  private[llm] def purityContingencySpark: String =
    s"""WITH ${purityCtCtes(graftCos, 2)}
       |SELECT cent_id, label, n_cl FROM ct ORDER BY cent_id, label""".stripMargin

  /** Validity readout over a contingency relation `ct(cent_id, label,
    * n_cl)` — shared by the Duck chain text and the Spark staged-view
    * path (the ct derivation re-inlined 5× blew the q_cluster_purity
    * plan to 465 Exchanges; plans/r11, _before capture).
    */
  private def purityReadout(
      ct: String, intDiv: String, k: NeutralMath.KernelSplice): String =
    s"""tc AS (SELECT cent_id, CAST(SUM(n_cl) AS BIGINT) AS n_c FROM $ct GROUP BY cent_id),
       |tl AS (SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l FROM $ct GROUP BY label),
       |tot AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM $ct),
       |pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS pure
       |        FROM (SELECT cent_id, MAX(n_cl) AS mx FROM $ct GROUP BY cent_id) z),
       |mi0 AS (SELECT ct.cent_id, ct.label, ct.n_cl,
       |               CAST(ct.n_cl * tot.n AS BIGINT) AS num,
       |               CAST(tc.n_c * tl.n_l AS BIGINT) AS den
       |        FROM $ct ct JOIN tc ON ct.cent_id = tc.cent_id
       |                JOIN tl ON ct.label = tl.label
       |        CROSS JOIN tot),
       |${k.ln("mi1", "mi0", "cent_id, label, n_cl, num, den", "cent_id, label, n_cl",
               "num", "den", "ln_u", "1.0E6")},
       |mis AS (SELECT CAST(SUM(n_cl * ln_u) AS BIGINT) AS i_w FROM mi1),
       |hc0 AS (SELECT tc.cent_id, tc.n_c, tot.n FROM tc CROSS JOIN tot),
       |${k.ln("hc1", "hc0", "cent_id, n_c, n", "cent_id, n_c",
               "n", "n_c", "hln", "1.0E6")},
       |hcs AS (SELECT CAST(SUM(n_c * hln) AS BIGINT) AS hc_w FROM hc1),
       |hl0 AS (SELECT tl.label, tl.n_l, tot.n FROM tl CROSS JOIN tot),
       |${k.ln("hl1", "hl0", "label, n_l, n", "label, n_l",
               "n", "n_l", "lln", "1.0E6")},
       |hls AS (SELECT CAST(SUM(n_l * lln) AS BIGINT) AS hl_w FROM hl1),
       |fin AS (SELECT tot.n,
       |               (SELECT COUNT(*) FROM tc) AS n_cells,
       |               (SELECT COUNT(*) FROM tl) AS n_labels,
       |               pur.pure,
       |               GREATEST(CAST(0 AS BIGINT),
       |                 CAST(FLOOR(CAST(mis.i_w AS DOUBLE) / tot.n + 0.5E0) AS BIGINT)) AS mi_micro,
       |               CAST(hcs.hc_w $intDiv tot.n AS BIGINT) AS hc_micro,
       |               CAST(hls.hl_w $intDiv tot.n AS BIGINT) AS hl_micro
       |        FROM tot CROSS JOIN pur CROSS JOIN mis CROSS JOIN hcs CROSS JOIN hls)
       |SELECT CAST(n AS BIGINT) AS n_vecs,
       |       CAST(n_cells AS BIGINT) AS n_cells,
       |       CAST(n_labels AS BIGINT) AS n_labels,
       |       CAST((10000 * pure) $intDiv n AS BIGINT) AS purity_bp,
       |       mi_micro,
       |       CAST((1000 * mi_micro) $intDiv
       |            GREATEST(CAST(1 AS BIGINT),
       |              CAST(FLOOR(SQRT(CAST(hc_micro * hl_micro AS DOUBLE))) AS BIGINT)) AS BIGINT) AS nmi_milli
       |FROM fin""".stripMargin

  private def purityNmiSql(
      cosFn: (String, String) => String, p1: Int,
      intDiv: String, k: NeutralMath.KernelSplice): String =
    s"""WITH ${purityCtCtes(cosFn, p1)},
       |${purityReadout("ct", intDiv, k)}""".stripMargin

  /** Spark path: the (cells × labels)-bounded contingency table is staged
    * once (lazy checkpoint), then the readout's 5 consumers fold it —
    * instead of re-inlining the whole two-level-quantizer chain per
    * consumer (the 465-Exchange plan; purityReadout doc).
    */
  def purityNmiSparkStaged(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    graft.Staging.checkpointStatsReset(
      s.sql(s"""WITH ${purityCtCtes(graftCos, 2)}
               |SELECT cent_id, label, n_cl FROM ct""".stripMargin),
      eager = false)
      .createOrReplaceTempView("graft_purity_ct")
    s.sql(s"WITH ${purityReadout("graft_purity_ct", "DIV", NeutralMath.SparkKernel)}")
  }

  def purityNmiDuck: String =
    purityNmiSql(duckCos, 2, "//", NeutralMath.OracleKernel)

  /** INTERNAL cluster validity — simplified silhouette (Rousseeuw, J.
    * Comput. Appl. Math. 1987; the centroid-distance simplification every
    * large-N implementation uses, e.g. scikit-learn's sampled variant):
    * per point a = L2 distance to own centroid, b = distance to the
    * nearest OTHER candidate centroid, s = (b − a)/max(a, b) ∈ [0, 1]
    * (the nearest-centroid assignment makes b ≥ a, so the classical
    * negative branch collapses — misassignment shows as s ≈ 0). The
    * external twin is q_cluster_purity (needs labels); silhouette is the
    * readout when NO labels exist — the k-picker's elbow criterion.
    *
    * The candidate set is the quantizer-routed one ([[hierAsnCtes]], p1 =
    * 2 probed cells) — the same FAISS-style fidelity trade as the k-means
    * step itself: b scans the probed cells' centroids, not all √N.
    * Points whose probe set holds a single centroid (no runner-up) drop
    * out — counted nowhere else, they are the cells the probe can't
    * evaluate.
    *
    * Determinism: distances are squared-L2 over the fixed-point milli
    * quantization (exact integers carried in doubles); the rn=1/rn=2
    * split compares exact integers; s quantizes through the shared
    * FLOOR(1e6·(√b2−√a2)/√b2 + 0.5) text — IEEE sqrt on exact-integer
    * inputs is correctly rounded in both engines, so every per-point
    * s_micro matches bit-for-bit and the per-cell SUM is exact BIGINT.
    * Per-cell means ship as full-precision quotients; the ROLLUP row
    * (cell = −1) is the corpus-wide mean silhouette.
    */
  private def silhouetteSql(
      quant: String, dotFn: (String, String) => String): String = {
    def d2(a: String, b: String) =
      s"${dotFn(a, a)} + ${dotFn(b, b)} - 2 * ${dotFn(a, b)}"
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |${hierAsnCtes("qv", "v", d2, desc = false, p1 = 2)},
       |d AS (SELECT v.vec_id, a.cent_id, ${d2("v.v", "a.cv")} AS dd
       |      FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id),
       |r AS (SELECT vec_id, cent_id, dd,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY dd, cent_id) AS rn
       |      FROM d),
       |ab AS (SELECT a.vec_id, a.cent_id, a.dd AS a2, b.dd AS b2
       |       FROM r a JOIN r b ON a.vec_id = b.vec_id
       |       WHERE a.rn = 1 AND b.rn = 2),
       |sm AS (SELECT vec_id, cent_id,
       |              CASE WHEN b2 <= 0 THEN CAST(0 AS BIGINT)
       |                   ELSE CAST(FLOOR(1.0E6 * (SQRT(CAST(b2 AS DOUBLE)) - SQRT(CAST(a2 AS DOUBLE)))
       |                        / SQRT(CAST(b2 AS DOUBLE)) + 0.5E0) AS BIGINT) END AS s_micro
       |       FROM ab)
       |SELECT COALESCE(CAST(cent_id AS BIGINT), -1) AS cell,
       |       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(s_micro) AS BIGINT) AS s_sum_micro,
       |       CAST(SUM(s_micro) AS DOUBLE) / (1.0E6 * COUNT(*)) AS mean_sil
       |FROM sm GROUP BY ROLLUP(cent_id) ORDER BY cell""".stripMargin
  }

  /** Spec hook: the (vec, own-centroid, a², b²) pair table silhouette
    * folds — same SQL prefix, so the spec replays the s quantization and
    * rollup from the exact inputs (the ClusterValiditySpec pattern).
    */
  private[llm] def silhouettePairsSpark: String = {
    def d2(a: String, b: String) =
      s"graft_dot_d($a, $a) + graft_dot_d($b, $b) - 2 * graft_dot_d($a, $b)"
    s"""WITH qv AS (SELECT vec_id, $kmQSpark AS v FROM embeddings),
       |${hierAsnCtes("qv", "v", d2, desc = false, p1 = 2)},
       |d AS (SELECT v.vec_id, a.cent_id, ${d2("v.v", "a.cv")} AS dd
       |      FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id),
       |r AS (SELECT vec_id, cent_id, dd,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY dd, cent_id) AS rn
       |      FROM d)
       |SELECT a.vec_id, a.cent_id, CAST(a.dd AS BIGINT) AS a2, CAST(b.dd AS BIGINT) AS b2
       |FROM r a JOIN r b ON a.vec_id = b.vec_id
       |WHERE a.rn = 1 AND b.rn = 2 ORDER BY a.vec_id""".stripMargin
  }

  def silhouetteSpark: String =
    silhouetteSql(kmQSpark, (a, b) => s"graft_dot_d($a, $b)")

  def silhouetteDuck: String =
    silhouetteSql(kmQ, (a, b) => s"list_dot_product($a, $b)")

  /** Audit query for the hierarchical assignment's distance-evaluation
    * budget: per-vector second-level candidate count (the v1 ⋈ a21 join
    * width). PlanAuditSpec asserts max_evals stays within p1 × the largest
    * cell and that nlist1 + max_evals undercuts the flat design's nlist.
    */
  def ivfHierBoundSpark(p1: Int = 2): String =
    s"""WITH ${hierAsnCtes("embeddings", "embedding", graftCos, desc = true, p1)},
       |evals AS (SELECT v.vec_id, COUNT(*) AS n_evals
       |          FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id GROUP BY v.vec_id),
       |sizes AS (SELECT c1_id, COUNT(*) AS cell FROM a21 GROUP BY c1_id)
       |SELECT (SELECT COUNT(*) FROM c) AS nlist,
       |       (SELECT COUNT(*) FROM c1) AS nlist1,
       |       (SELECT MAX(cell) FROM sizes) AS max_cell,
       |       (SELECT MAX(n_evals) FROM evals) AS max_evals""".stripMargin

  /** Single-query IVF probe chain for retrieval composition (the hybrid
    * RRF query's indexed vector branch): the full two-level-quantizer
    * assignment (`asn` — in production this IS the persisted index; here
    * re-derived in-statement per the documented CTE-re-inline cost), the
    * one query vector's nprobe probed lists, and `vs` — the scored
    * candidates restricted to those lists. Emitted for composition: the
    * consumer fuses/ranks `vs` however it likes. Per-query work is
    * nprobe × (N/nlist) score evals via equi-joins on cent_id; only the
    * N^¼-row cell table is nested-looped (the hierAsnCtes invariant).
    */
  private def hierSingleQueryCtes(
      cosFn: (String, String) => String, qid: Long, nprobe: Int, p1: Int): String =
    s"""${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1)},
       |asn AS (SELECT vec_id, v, cent_id FROM (
       |  SELECT v.vec_id, v.v, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT q.vec_id AS qid, q.v AS qe, a.cent_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosFn("q.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 q JOIN a21 a ON q.c1_id = a.c1_id
       |  WHERE q.vec_id = $qid) t WHERE rn <= $nprobe),
       |vs AS (SELECT a.vec_id AS doc_id, FLOOR(${cosFn("qp.qe", "a.v")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qp JOIN asn a ON a.cent_id = qp.cent_id AND a.vec_id != $qid)""".stripMargin

  /** Spark dialect (codegen'd graft_cosine) and DuckDB mirror. */
  private[llm] def hierSingleQuerySpark(qid: Long, nprobe: Int = 3, p1: Int = 2): String =
    hierSingleQueryCtes(graftCos, qid, nprobe, p1)

  private[llm] def hierSingleQueryDuck(qid: Long, nprobe: Int = 3, p1: Int = 2): String =
    hierSingleQueryCtes(duckCos, qid, nprobe, p1)

  /** Staged two-level IVF index — the PERSISTED form of [[hierAsnCtes]]'s
    * output (cell table, centroid routing, full vector assignment),
    * materialized once per (session, dir) and registered as the temp views
    * `hier_c1` / `hier_a21` / `hier_asn`. Serving queries (the hybrid
    * retrieval family) probe these views with pure equi-joins instead of
    * re-deriving the quantizer chain in-statement — at 100 TB the index
    * build is a batch job and the probe path must not pay it per query
    * (round-7 plan audit: the inline form ran the N×N^¼ assignment window
    * TWICE per hybrid query). The DuckDB oracle keeps the inline
    * derivation (the rerank-probe precedent: Spark stages the artifact,
    * the oracle re-derives the bit-identical table), so correctness still
    * pins staged == derived every round.
    */
  private val hierIndex = new graft.Artifacts.Views

  private[graft] def stageHierIndex(
      s: org.apache.spark.sql.SparkSession, d: String, p1: Int = 2): Unit = {
    graft.queries.Tables.registerAll(s, d)
    val chain = hierAsnCtes("embeddings", "embedding", graftCos, desc = true, p1)
    hierIndex(s, d) {
      // unreferenced CTEs are pruned, so the two small extracts never run
      // the N-sized v1 window — only the asn build pays it, once
      val c1 = s.sql(s"WITH $chain SELECT c1_id, c1e FROM c1").staged()
      val a21 = s.sql(s"WITH $chain SELECT cent_id, cv, c1_id FROM a21").staged()
      val asn = s.sql(
        s"""WITH $chain,
           |asn AS (SELECT vec_id, v, cent_id FROM (
           |  SELECT v.vec_id, v.v, a.cent_id,
           |         row_number() OVER (PARTITION BY v.vec_id
           |           ORDER BY graft_cosine(v.v, a.cv) DESC, a.cent_id) AS rn
           |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1)
           |SELECT vec_id, v, cent_id FROM asn""".stripMargin).staged()
      Seq("hier_c1" -> c1, "hier_a21" -> a21, "hier_asn" -> asn)
    }
  }

  /** BATCH probe chain over the derived quantizer — the multi-query
    * serving form of [[hierSingleQueryCtes]]: every vector passing
    * `qFilter` becomes a query, its probes ride the SAME v1/a21 routing,
    * and `vs` carries (qid, doc_id, csim). Total work: |Q|·nprobe·N/nlist
    * score evals through equi-joins — the per-query cost is independent
    * of |Q|, which is the whole point of a persisted index at 100 TB.
    */
  private[llm] def hierBatchQueryCtes(
      cosFn: (String, String) => String, qFilter: String,
      nprobe: Int = 3, p1: Int = 2): String =
    s"""${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1)},
       |asn AS (SELECT vec_id, v, cent_id FROM (
       |  SELECT v.vec_id, v.v, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT q.vec_id AS qid, q.v AS qe, a.cent_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY ${cosFn("q.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 q JOIN a21 a ON q.c1_id = a.c1_id
       |  WHERE $qFilter) t WHERE rn <= $nprobe),
       |vs AS (SELECT qp.qid, a.vec_id AS doc_id, FLOOR(${cosFn("qp.qe", "a.v")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qp JOIN asn a ON a.cent_id = qp.cent_id AND a.vec_id != qp.qid)""".stripMargin

  /** Batch probe over the STAGED views (`hier_c1`/`hier_a21`/`hier_asn`) —
    * identical results to [[hierBatchQueryCtes]] with `q.` as the filter
    * qualifier; the |Q|-row query side nested-loops ONLY the N^¼ staged
    * cell table.
    */
  private[llm] def hierBatchQueryStagedSpark(
      qFilter: String, nprobe: Int = 3, p1: Int = 2): String =
    s"""qc AS (SELECT qid, qe, c1_id FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, c1.c1_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY graft_cosine(q.embedding, c1.c1e) DESC, c1.c1_id) AS rn
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE $qFilter) q
       |  CROSS JOIN hier_c1 c1) t WHERE rn <= $p1),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT qc.qid, qc.qe, a.cent_id,
       |         row_number() OVER (PARTITION BY qc.qid
       |           ORDER BY graft_cosine(qc.qe, a.cv) DESC, a.cent_id) AS rn
       |  FROM qc JOIN hier_a21 a ON qc.c1_id = a.c1_id) t WHERE rn <= $nprobe),
       |vs AS (SELECT qp.qid, a.vec_id AS doc_id, FLOOR(graft_cosine(qp.qe, a.v) * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qp JOIN hier_asn a ON a.cent_id = qp.cent_id AND a.vec_id != qp.qid)""".stripMargin

  /** Single-query probe chain over the STAGED index views — emits the same
    * `vs` (doc_id, csim) contract as [[hierSingleQuerySpark]] and computes
    * the identical result: the query's p1 cells, its nprobe centroids, and
    * exact re-scoring against only those centroids' members. Per-query
    * work: N^¼ cell scores + p1·(nlist/nlist1) routing scores + nprobe
    * posting lists, all via equi-joins on the staged views.
    */
  private[llm] def hierSingleQueryStagedSpark(
      qid: Long, nprobe: Int = 3, p1: Int = 2): String =
    s"""qc AS (SELECT qid, qe, c1_id FROM (
       |  SELECT q.vec_id AS qid, q.embedding AS qe, c1.c1_id,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY graft_cosine(q.embedding, c1.c1e) DESC, c1.c1_id) AS rn
       |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id = $qid) q
       |  CROSS JOIN hier_c1 c1) t WHERE rn <= $p1),
       |qp AS (SELECT qid, qe, cent_id FROM (
       |  SELECT qc.qid, qc.qe, a.cent_id,
       |         row_number() OVER (PARTITION BY qc.qid
       |           ORDER BY graft_cosine(qc.qe, a.cv) DESC, a.cent_id) AS rn
       |  FROM qc JOIN hier_a21 a ON qc.c1_id = a.c1_id) t WHERE rn <= $nprobe),
       |vs AS (SELECT a.vec_id AS doc_id, FLOOR(graft_cosine(qp.qe, a.v) * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qp JOIN hier_asn a ON a.cent_id = qp.cent_id AND a.vec_id != $qid)""".stripMargin

  /** Matryoshka truncation evaluation (Kusupati et al., "Matryoshka
    * Representation Learning", NeurIPS 2022): how much retrieval quality
    * survives truncating the 64-dim embeddings to their 16-dim prefix —
    * the sizing study a serving tier runs before committing to a cheaper
    * index. Per query: brute top-10 under the FULL cosine vs the
    * TRUNCATED-and-renormalized cosine, reported as overlap@10. Both
    * rankings order by the ROUNDed score with vec_id tie-breaks (the repo
    * ranking discipline), so ranks are integer-deterministic. The brute
    * scoring is the evaluation harness — at scale it runs on a bounded
    * query sample exactly like this (the sweep-allowlisted q_ann_topk
    * shape); the production path the study decides between is the IVF
    * family.
    */
  private def matryoshkaSql(
      cosFn: (String, String) => String, sliceFn: String => String): String = {
    def ranked(name: String, cos: String): String =
      s"""$name AS (SELECT qid, cid FROM (
         |  SELECT q.qid, c.vec_id AS cid,
         |         row_number() OVER (PARTITION BY q.qid
         |           ORDER BY FLOOR($cos * 1.0E6 + 0.5E0) DESC, c.vec_id) AS r
         |  FROM q JOIN embeddings c ON c.vec_id != q.qid) z WHERE r <= 10)""".stripMargin
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |           WHERE vec_id % 50 = 0 AND vec_id < 500),
       |${ranked("fullr", cosFn("q.qe", "c.embedding"))},
       |${ranked("trunc", cosFn(sliceFn("q.qe"), sliceFn("c.embedding")))},
       |ov AS (SELECT f.qid, COUNT(*) AS n
       |       FROM fullr f JOIN trunc t ON f.qid = t.qid AND f.cid = t.cid
       |       GROUP BY f.qid)
       |SELECT q.qid, CAST(COALESCE(ov.n, 0) AS INT) AS overlap10
       |FROM q LEFT JOIN ov ON q.qid = ov.qid
       |ORDER BY q.qid""".stripMargin
  }

  def matryoshkaSpark: String =
    matryoshkaSql(sparkCos, e => s"slice($e, 1, 16)")

  def matryoshkaDuck: String =
    matryoshkaSql(duckCos, e => s"list_slice($e, 1, 16)")

  /** One k-means (Lloyd) refinement step over the IVF centroid seed set —
    * the index-build iteration [[ivfTopKSpark]]'s doc promises: assign
    * every vector to its nearest centroid, then report per-cluster size,
    * within-cluster squared distance, and the new-centroid numerator for
    * dimension 0 (SUM of the member values; the full update divides each
    * dimension's sum by n). A production build loops this plan to a
    * fixpoint, re-broadcasting the (≈sqrt N)-row centroid table each pass.
    *
    * Cross-engine exactness: embeddings are fixed-point quantized
    * (FLOOR(x*1000 + 0.5), integer-valued doubles — the engine-identical
    * rounding q_embed_quantize established), so every dot product, squared
    * L2 distance, and SUM is integer arithmetic carried in doubles far
    * below 2^53 — exact in ANY fold/accumulation order, no decimal-casting
    * gymnastics needed. Assignment ties break on centroid id. Spark
    * computes dots with the codegen'd graft_dot_d, DuckDB with
    * list_dot_product.
    */
  // private[graft]: the streaming vector-ingest path (streaming/VectorIngest)
  // quantizes with the SAME fixed-point convention so its assignments stay
  // integer-exact against the batch-built index
  private[graft] val kmQ = "list_transform(embedding, x -> FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5))"
  private[graft] val kmQSpark =
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE))"

  /** Assignment rides the shared two-level quantizer ([[hierAsnCtes]]) —
    * the standard large-scale (approximate/hierarchical) Lloyd step: each
    * vector scores only the centroids inside its p1 probed cells, so the
    * per-iteration cost is O(N·sqrt nlist) instead of O(N·nlist). A
    * boundary vector whose true-nearest centroid lies outside its probed
    * cells lands on its best in-cell centroid — the same fidelity
    * trade-off FAISS makes with a quantizer-routed assignment; both
    * dialects compute the identical routing, so results still hash-match.
    */
  private def kmeansStepSql(
      quant: String, dotFn: (String, String) => String, dim0Idx: Int): String = {
    def d2(a: String, b: String) =
      s"${dotFn(a, a)} + ${dotFn(b, b)} - 2 * ${dotFn(a, b)}"
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |${hierAsnCtes("qv", "v", d2, desc = false, p1 = 2)},
       |d AS (SELECT v.vec_id, a.cent_id, ${d2("v.v", "a.cv")} AS d2,
       |             v.v[$dim0Idx] AS v0
       |      FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id),
       |asn AS (SELECT vec_id, cent_id, d2, v0 FROM (
       |  SELECT vec_id, cent_id, d2, v0,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
       |  FROM d) t WHERE rn = 1)
       |SELECT cent_id, COUNT(*) AS n_members,
       |       CAST(SUM(d2) AS BIGINT) AS ssd,
       |       CAST(SUM(v0) AS BIGINT) AS sum_dim0
       |FROM asn GROUP BY cent_id ORDER BY cent_id""".stripMargin
  }

  def kmeansStepSpark: String =
    kmeansStepSql(kmQSpark, (a, b) => s"graft_dot_d($a, $b)", dim0Idx = 0)

  def kmeansStepDuck: String =
    kmeansStepSql(kmQ, (a, b) => s"list_dot_product($a, $b)", dim0Idx = 1)

  /** Sampled k-means training step — how a production IVF index actually
    * trains its coarse quantizer: Lloyd iterations run over a bounded
    * deterministic SAMPLE of the corpus (FAISS trains on ~max(10k, 256·k)
    * vectors regardless of N), so training work is O(budget·k) — a fixed
    * budget — instead of q_ann_kmeans' O(N·k) per iteration, and only the
    * final one-off assignment (the [[ivfHierSql]] two-level path) touches
    * every vector. The sample stride is DERIVED from the corpus size and
    * the fixed target count — smod = GREATEST(1, CEIL(N / budget)), the
    * same in-query convention as the centroid stride — so |sample| ≈
    * budget at ANY corpus size (a fixed modulus would select a constant
    * FRACTION, still linear in N). The centroid seed set is drawn from
    * the FULL table (vec_id % stride = 0, re-quantized), NOT from the
    * sample — seeding from the sample would thin nlist to
    * N / lcm(stride, smod), up to smod× fewer lists than the design's
    * sqrt(N) whenever the strides share no common factor (the list count
    * is a property of N, not of the training budget). Per-cluster stats
    * estimate full-corpus values scaled by the sampling rate; same
    * fixed-point integer exactness as [[kmeansStepSpark]].
    */
  private def kmeansSampledSql(
      quant: String, dotFn: (String, String) => String, budget: Int,
      dim0Idx: Int): String =
    s"""WITH st AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS stride FROM embeddings),
       |sm AS (SELECT GREATEST(1, CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / $budget.0) AS BIGINT)) AS smod FROM embeddings),
       |s AS (SELECT vec_id, $quant AS v FROM embeddings
       |      WHERE vec_id % (SELECT smod FROM sm) = 0),
       |c AS (SELECT vec_id AS cent_id, $quant AS cv FROM embeddings
       |      WHERE vec_id % (SELECT stride FROM st) = 0),
       |d AS (SELECT s.vec_id, c.cent_id,
       |             ${dotFn("s.v", "s.v")} + ${dotFn("c.cv", "c.cv")}
       |               - 2 * ${dotFn("s.v", "c.cv")} AS d2,
       |             s.v[$dim0Idx] AS v0
       |      FROM s CROSS JOIN c),
       |asn AS (SELECT vec_id, cent_id, d2, v0 FROM (
       |  SELECT vec_id, cent_id, d2, v0,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn
       |  FROM d) t WHERE rn = 1)
       |SELECT cent_id, COUNT(*) AS n_sample,
       |       CAST(COUNT(*) * (SELECT smod FROM sm) AS BIGINT) AS n_est,
       |       CAST(SUM(d2) AS BIGINT) AS ssd,
       |       CAST(SUM(v0) AS BIGINT) AS sum_dim0
       |FROM asn GROUP BY cent_id ORDER BY cent_id""".stripMargin

  /** Default budget 2048 ≈ the FAISS floor scaled to fixture sizes: below
    * it the sf0.001 corpus samples whole (smod clamps to 1), above sf0.01
    * the sample is genuinely bounded.
    */
  def kmeansSampledSpark(budget: Int = 2048): String =
    kmeansSampledSql(kmQSpark, (a, b) => s"graft_dot_d($a, $b)", budget, dim0Idx = 0)

  def kmeansSampledDuck(budget: Int = 2048): String =
    kmeansSampledSql(kmQ, (a, b) => s"list_dot_product($a, $b)", budget, dim0Idx = 1)

  /** Product quantization (PQ) codebook assignment — the memory-bound
    * scale path of ANN (IVF-PQ): split the [[dim]]-dim vector into
    * [[pqSubspaces]] sub-vectors and replace each with the id of its
    * nearest codebook centroid, compressing 64 floats to 8 codes. Codebook
    * per subspace = the sub-vectors of the first [[pqCodebook]] vec_ids
    * (the deterministic seed pick, same convention as IVF; production
    * would k-means-refine each subspace codebook with the
    * [[kmeansStepSpark]] join). Everything runs on the same fixed-point
    * quantization as k-means, so assignments and the per-subspace
    * distortion sums are integer-exact in both engines. The N×(8×16)
    * distance join broadcasts only the constant 128-row codebook.
    *
    * Output: per (subspace, code) member count + total squared distortion
    * — the codebook-utilization histogram an index build monitors.
    */
  val pqSubspaces = 8
  val pqCodebook = 16

  private def pqSql(
      quant: String, sliceFn: (String, String) => String,
      dotFn: (String, String) => String, explodeSub: String): String = {
    val subDim = dim / pqSubspaces
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |sub AS (SELECT vec_id, s, ${sliceFn("v", s"s * $subDim + 1")} AS sv
       |        FROM (SELECT vec_id, v, $explodeSub FROM qv) t),
       |cb AS (SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $pqCodebook),
       |d AS (SELECT sub.vec_id, sub.s, cb.code,
       |             ${dotFn("sub.sv", "sub.sv")} + ${dotFn("cb.cv", "cb.cv")}
       |               - 2 * ${dotFn("sub.sv", "cb.cv")} AS d2
       |      FROM sub JOIN cb ON sub.s = cb.s),
       |asn AS (SELECT vec_id, s, code, d2 FROM (
       |  SELECT vec_id, s, code, d2,
       |         row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, code) AS rn
       |  FROM d) t WHERE rn = 1)
       |SELECT s AS subspace, code, COUNT(*) AS n_members,
       |       CAST(SUM(d2) AS BIGINT) AS distortion
       |FROM asn GROUP BY s, code ORDER BY subspace, code""".stripMargin
  }

  def pqAssignSpark: String = pqSql(
    kmQSpark,
    (v, from) => s"slice($v, $from, ${dim / pqSubspaces})",
    (a, b) => s"graft_dot_d($a, $b)",
    s"explode(sequence(0, ${pqSubspaces - 1})) AS s")

  def pqAssignDuck: String = pqSql(
    kmQ,
    (v, from) => s"list_slice($v, $from, $from + ${dim / pqSubspaces} - 1)",
    (a, b) => s"list_dot_product($a, $b)",
    s"unnest(range(0, $pqSubspaces)) AS s")

  /** ADC (asymmetric distance computation) search over the PQ codes of
    * [[pqAssignSpark]] — the query path of an IVF-PQ index, and the reason
    * PQ compression exists: at serving time the corpus is only its 8
    * codes/vector, and a query scores a candidate with 8 table lookups
    * instead of a 64-float dot product (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011). Plan shape:
    * the per-(query, subspace, code) distance table (LUT, |Q|×8×16 rows —
    * constant per query batch) broadcasts onto the code table and the
    * lookup is a pure equi-join on (subspace, code); the per-(query,
    * candidate) distance is then an 8-row SUM and the top-k a partitioned
    * window. Nothing touches the raw vectors except the constant-size
    * codebook and the query batch itself — that is the 100 TB memory
    * story. Same fixed-point quantization as k-means, so every LUT cell
    * and ADC sum is integer-exact in both engines; ties break on the
    * candidate id.
    *
    * Scale sizing: a production query BATCH is constant-size (requests,
    * not corpus), so the LUT is constant and broadcasts; the fixture's
    * vec_id % 50 query set (shared with every other ANN query so rankings
    * are comparable) makes |Q| scale with N here, which only the fixture
    * pays. Scoring every code row is flat-PQ (FAISS IndexPQ) — candidate
    * REDUCTION is the IVF probe's job: production composes this LUT
    * scoring after [[ivfTopKSpark]]'s nprobe list restriction (= IVF-PQ),
    * multiplying the two cuts rather than re-deriving either.
    */
  private def pqSearchSql(
      quant: String, sliceFn: (String, String) => String,
      dotFn: (String, String) => String, explodeSub: String, k: Int): String = {
    val subDim = dim / pqSubspaces
    def d2(a: String, b: String) =
      s"${dotFn(a, a)} + ${dotFn(b, b)} - 2 * ${dotFn(a, b)}"
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |sub AS (SELECT vec_id, s, ${sliceFn("v", s"s * $subDim + 1")} AS sv
       |        FROM (SELECT vec_id, v, $explodeSub FROM qv) t),
       |cb AS (SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $pqCodebook),
       |enc AS (SELECT vec_id, s, code FROM (
       |  SELECT sub.vec_id, sub.s, cb.code,
       |         row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |           ORDER BY ${d2("sub.sv", "cb.cv")}, cb.code) AS rn
       |  FROM sub JOIN cb ON sub.s = cb.s) t WHERE rn = 1),
       |lut AS (SELECT q.vec_id AS qid, cb.s, cb.code,
       |               ${d2("q.sv", "cb.cv")} AS d2
       |        FROM sub q JOIN cb ON q.s = cb.s
       |        WHERE q.vec_id % 50 = 0),
       |adc AS (SELECT lut.qid, enc.vec_id AS cid, SUM(lut.d2) AS d2
       |        FROM enc JOIN lut ON enc.s = lut.s AND enc.code = lut.code
       |        WHERE enc.vec_id != lut.qid
       |        GROUP BY lut.qid, enc.vec_id)
       |SELECT qid, CAST(rk AS INT) AS rk, cid, CAST(d2 AS BIGINT) AS adc_d2 FROM (
       |  SELECT qid, cid, d2,
       |         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
       |  FROM adc) t
       |WHERE rk <= $k ORDER BY qid, rk""".stripMargin
  }

  /** Exact L2 top-k over the fixed-point-quantized vectors — the metric
    * [[pqSearchSpark]] approximates; used by LlmSpec to measure ADC
    * recall against ground truth.
    */
  def l2BruteSpark(k: Int): String =
    s"""WITH qv AS (SELECT vec_id, $kmQSpark AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qe FROM qv WHERE vec_id % 50 = 0),
       |d AS (SELECT qid, c.vec_id AS cid,
       |             graft_dot_d(qe, qe) + graft_dot_d(c.v, c.v)
       |               - 2 * graft_dot_d(qe, c.v) AS d2
       |      FROM q JOIN qv c ON c.vec_id != qid)
       |SELECT qid, cid, CAST(d2 AS BIGINT) AS d2 FROM (
       |  SELECT qid, cid, d2,
       |         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn
       |  FROM d) t
       |WHERE rn <= $k ORDER BY qid, cid""".stripMargin

  def pqSearchSpark(k: Int): String = pqSearchSql(
    kmQSpark,
    (v, from) => s"slice($v, $from, ${dim / pqSubspaces})",
    (a, b) => s"graft_dot_d($a, $b)",
    s"explode(sequence(0, ${pqSubspaces - 1})) AS s", k)

  /** IVF-PQ search — the COMPOSED production index: the IVF probe cuts
    * candidates to nprobe lists (assignment by L2 over the quantized
    * vectors through the shared two-level quantizer [[hierAsnCtes]], the
    * FAISS quantizer-routed convention) and the PQ LUT scores only those
    * codes. Per query the work is nprobe × (N/nlist) candidates × 8 LUT
    * lookups — both cuts multiply, neither re-derives the other. Every
    * join is equi (probed-list restriction on cent_id; LUT lookup on
    * (qid, subspace, code)); everything is integer-exact fixed-point, so
    * Spark and DuckDB rank identically.
    */
  private def ivfPqSearchSql(
      quant: String, sliceFn: (String, String) => String,
      dotFn: (String, String) => String, explodeSub: String,
      k: Int, nprobe: Int): String = {
    val subDim = dim / pqSubspaces
    def d2(a: String, b: String) =
      s"${dotFn(a, a)} + ${dotFn(b, b)} - 2 * ${dotFn(a, b)}"
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |${hierAsnCtes("qv", "v", d2, desc = false, p1 = 2)},
       |asn AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${d2("v.v", "a.cv")}, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |sub AS (SELECT vec_id, s, ${sliceFn("v", s"s * $subDim + 1")} AS sv
       |        FROM (SELECT vec_id, v, $explodeSub FROM qv) t),
       |cb AS (SELECT s, vec_id AS code, sv AS cv FROM sub WHERE vec_id < $pqCodebook),
       |enc AS (SELECT vec_id, s, code FROM (
       |  SELECT sub.vec_id, sub.s, cb.code,
       |         row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |           ORDER BY ${d2("sub.sv", "cb.cv")}, cb.code) AS rn
       |  FROM sub JOIN cb ON sub.s = cb.s) t WHERE rn = 1),
       |cand AS (SELECT enc.vec_id, asn.cent_id, enc.s, enc.code
       |         FROM enc JOIN asn ON enc.vec_id = asn.vec_id),
       |qp AS (SELECT qid, cent_id FROM (
       |  SELECT v.vec_id AS qid, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${d2("v.v", "a.cv")}, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id
       |  WHERE v.vec_id % 50 = 0) t WHERE rn <= $nprobe),
       |lut AS (SELECT q.vec_id AS qid, cb.s, cb.code,
       |               ${d2("q.sv", "cb.cv")} AS d2
       |        FROM sub q JOIN cb ON q.s = cb.s
       |        WHERE q.vec_id % 50 = 0),
       |adc AS (SELECT qp.qid, cand.vec_id AS cid, SUM(lut.d2) AS d2
       |        FROM cand
       |        JOIN qp ON cand.cent_id = qp.cent_id
       |        JOIN lut ON lut.qid = qp.qid AND lut.s = cand.s AND lut.code = cand.code
       |        WHERE cand.vec_id != qp.qid
       |        GROUP BY qp.qid, cand.vec_id)
       |SELECT qid, CAST(rk AS INT) AS rk, cid, CAST(d2 AS BIGINT) AS adc_d2 FROM (
       |  SELECT qid, cid, d2,
       |         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
       |  FROM adc) t
       |WHERE rk <= $k ORDER BY qid, rk""".stripMargin
  }

  /** Residual IVF-PQ (the full FAISS IVFPQ shape): PQ codes quantize the
    * RESIDUAL x − centroid(x), not the raw vector — coding raw vectors
    * wastes codebook entropy re-describing the coarse structure the IVF
    * assignment already captured, which costs recall at the same byte
    * budget (Jégou et al., TPAMI 2011 §IV). Corpus side: every vector's
    * residual against its own list centroid, sub-sliced and coded against
    * a codebook trained (seed convention) on the first [[pqCodebook]]
    * residuals. Query side: ADC LUTs are PER PROBED LIST — the query's
    * residual against each probed centroid, |Q| × nprobe × 8 × 16 rows,
    * still constant per query batch — and the lookup equi-join gains
    * cent_id so a candidate is scored against the LUT of its own list.
    * Residuals are differences of integer-valued fixed-point doubles, so
    * everything stays integer-exact in both engines.
    */
  private def ivfPqResidualSql(
      quant: String, sliceFn: (String, String) => String,
      dotFn: (String, String) => String, subFn: (String, String) => String,
      explodeSub: String, k: Int, nprobe: Int): String = {
    val subDim = dim / pqSubspaces
    def d2(a: String, b: String) =
      s"${dotFn(a, a)} + ${dotFn(b, b)} - 2 * ${dotFn(a, b)}"
    s"""WITH qv AS (SELECT vec_id, $quant AS v FROM embeddings),
       |${hierAsnCtes("qv", "v", d2, desc = false, p1 = 2)},
       |asn AS (SELECT vec_id, cent_id FROM (
       |  SELECT v.vec_id, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${d2("v.v", "a.cv")}, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |res AS (SELECT a.vec_id, a.cent_id, ${subFn("qv.v", "c.cv")} AS rv
       |        FROM asn a JOIN qv ON qv.vec_id = a.vec_id
       |                   JOIN c ON c.cent_id = a.cent_id),
       |rsub AS (SELECT vec_id, cent_id, s, ${sliceFn("rv", s"s * $subDim + 1")} AS sv
       |         FROM (SELECT vec_id, cent_id, rv, $explodeSub FROM res) t),
       |cb AS (SELECT s, vec_id AS code, sv AS cv FROM rsub WHERE vec_id < $pqCodebook),
       |enc AS (SELECT vec_id, cent_id, s, code FROM (
       |  SELECT rsub.vec_id, rsub.cent_id, rsub.s, cb.code,
       |         row_number() OVER (PARTITION BY rsub.vec_id, rsub.s
       |           ORDER BY ${d2("rsub.sv", "cb.cv")}, cb.code) AS rn
       |  FROM rsub JOIN cb ON rsub.s = cb.s) t WHERE rn = 1),
       |qp AS (SELECT qid, cent_id FROM (
       |  SELECT v.vec_id AS qid, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${d2("v.v", "a.cv")}, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id
       |  WHERE v.vec_id % 50 = 0) t WHERE rn <= $nprobe),
       |qres AS (SELECT qp.qid, qp.cent_id, ${subFn("qv.v", "c.cv")} AS rv
       |         FROM qp JOIN qv ON qv.vec_id = qp.qid
       |                    JOIN c ON c.cent_id = qp.cent_id),
       |qsub AS (SELECT qid, cent_id, s, ${sliceFn("rv", s"s * $subDim + 1")} AS sv
       |         FROM (SELECT qid, cent_id, rv, $explodeSub FROM qres) t),
       |lut AS (SELECT q.qid, q.cent_id, cb.s, cb.code, ${d2("q.sv", "cb.cv")} AS d2
       |        FROM qsub q JOIN cb ON q.s = cb.s),
       |adc AS (SELECT qp.qid, enc.vec_id AS cid, SUM(lut.d2) AS d2
       |        FROM enc
       |        JOIN qp ON enc.cent_id = qp.cent_id
       |        JOIN lut ON lut.qid = qp.qid AND lut.cent_id = enc.cent_id
       |                AND lut.s = enc.s AND lut.code = enc.code
       |        WHERE enc.vec_id != qp.qid
       |        GROUP BY qp.qid, enc.vec_id)
       |SELECT qid, CAST(rk AS INT) AS rk, cid, CAST(d2 AS BIGINT) AS adc_d2 FROM (
       |  SELECT qid, cid, d2,
       |         row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
       |  FROM adc) t
       |WHERE rk <= $k ORDER BY qid, rk""".stripMargin
  }

  def ivfPqResidualSpark(k: Int, nprobe: Int = 2): String = ivfPqResidualSql(
    kmQSpark,
    (v, from) => s"slice($v, $from, ${dim / pqSubspaces})",
    (a, b) => s"graft_dot_d($a, $b)",
    (a, b) => s"zip_with($a, $b, (x, y) -> x - y)",
    s"explode(sequence(0, ${pqSubspaces - 1})) AS s", k, nprobe)

  def ivfPqResidualDuck(k: Int, nprobe: Int = 2): String = ivfPqResidualSql(
    kmQ,
    (v, from) => s"list_slice($v, $from, $from + ${dim / pqSubspaces} - 1)",
    (a, b) => s"list_dot_product($a, $b)",
    (a, b) => s"list_transform(range(1, len($a) + 1), i -> $a[i] - $b[i])",
    s"unnest(range(0, $pqSubspaces)) AS s", k, nprobe)

  def ivfPqSearchSpark(k: Int, nprobe: Int = 2): String = ivfPqSearchSql(
    kmQSpark,
    (v, from) => s"slice($v, $from, ${dim / pqSubspaces})",
    (a, b) => s"graft_dot_d($a, $b)",
    s"explode(sequence(0, ${pqSubspaces - 1})) AS s", k, nprobe)

  def ivfPqSearchDuck(k: Int, nprobe: Int = 2): String = ivfPqSearchSql(
    kmQ,
    (v, from) => s"list_slice($v, $from, $from + ${dim / pqSubspaces} - 1)",
    (a, b) => s"list_dot_product($a, $b)",
    s"unnest(range(0, $pqSubspaces)) AS s", k, nprobe)

  def pqSearchDuck(k: Int): String = pqSearchSql(
    kmQ,
    (v, from) => s"list_slice($v, $from, $from + ${dim / pqSubspaces} - 1)",
    (a, b) => s"list_dot_product($a, $b)",
    s"unnest(range(0, $pqSubspaces)) AS s", k)

  /** Random-projection (Johnson–Lindenstrauss) dimensionality reduction:
    * project every embedding onto [[projDims]] fixed Gaussian directions —
    * the cheap embedding-compression pass a pipeline runs before storing
    * or coarse-searching vectors (JL: pairwise distances survive within
    * (1±ε) at k = O(log N / ε²) dims). The directions ARE the first
    * [[projDims]] LSH hyperplanes of table 0, embedded as literals in both
    * dialects (same decimal text → same doubles), and the dot folds
    * left-to-right via the codegen'd graft_dot / DuckDB's
    * list_dot_product — bit-identical, so ROUNDed outputs hash-match. One
    * scan, pure projection, no shuffle except the presentation sort.
    */
  val projDims = 8

  def projectSpark: String = {
    val cols = tables(0).take(projDims).zipWithIndex.map { case (p, j) =>
      s"ROUND(graft_dot(embedding, ${sparkPlaneLit(p)}), 6) AS p$j"
    }
    s"""SELECT vec_id, ${cols.mkString(", ")}
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  def projectDuck: String = {
    val cols = tables(0).take(projDims).zipWithIndex.map { case (p, j) =>
      s"ROUND(list_dot_product(${duckD("embedding")}, ${duckPlaneLit(p)}), 6) AS p$j"
    }
    s"""SELECT vec_id, ${cols.mkString(", ")}
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  /** Linear-probe classifier inference + eval rollup: score every
    * embedding against a broadcast weight vector (the cheapest "model
    * judges every document" curation pass — a logistic/linear probe
    * trained offline, applied corpus-wide), predict on the sign of the
    * score, and roll up prediction rate and agreement with the stored
    * `label` per class. The weight vector is a deterministic integer
    * literal (w_i = (i·37 mod 19) − 9) on the fixed-point-quantized
    * embedding, so the score is integer-exact in both engines and the
    * class boundary (score ≥ 0) has no rounding ambiguity. Plan: one scan,
    * codegen'd dot against a constant array, one map-side-combined
    * aggregate — linear at any corpus size. Agreement in basis points via
    * the engine-identical FLOOR(x + 0.5) rounding.
    */
  private val probeW: Seq[Int] = (0 until dim).map(i => (i * 37) % 19 - 9)

  private def linearProbeSql(
      quant: String, dotFn: (String, String) => String, wLit: String): String =
    s"""WITH s AS (SELECT label, ${dotFn(quant, wLit)} AS score FROM embeddings),
       |p AS (SELECT label, CASE WHEN score >= 0 THEN 1 ELSE 0 END AS pred,
       |             CASE WHEN (score >= 0) = (label = 1) THEN 1 ELSE 0 END AS hit
       |      FROM s)
       |SELECT label, COUNT(*) AS n, CAST(SUM(pred) AS BIGINT) AS n_pos,
       |       CAST(FLOOR(SUM(hit) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS agree_bp
       |FROM p GROUP BY label ORDER BY label""".stripMargin

  def linearProbeSpark: String = linearProbeSql(
    kmQSpark,
    (a, b) => s"graft_dot_d($a, $b)",
    probeW.map(w => s"CAST($w AS DOUBLE)").mkString("array(", ", ", ")"))

  def linearProbeDuck: String = linearProbeSql(
    kmQ,
    (a, b) => s"list_dot_product($a, $b)",
    probeW.map(w => s"CAST($w AS DOUBLE)").mkString("[", ", ", "]"))

  /** Linear-probe TRAINING (the pass that produces what
    * [[linearProbeSpark]] consumes): an averaged-update perceptron for
    * "label = 1 vs rest" over the fixed-point-quantized embeddings,
    * 3 batch rounds unrolled. Round t scores every vector against w_t,
    * takes the misclassified set M = {i : y_i · ⟨w_t, x_i⟩ ≤ 0}, and
    * steps w_{t+1} = w_t + floor(Σ_{i∈M} y_i x_i / |M|) — the classic
    * perceptron batch update with the gradient AVERAGED so each
    * component moves by at most the quantization scale per round:
    * weights stay ~O(scale · rounds) at ANY corpus size, so every dot
    * product and fold stays inside the 2^53 integer-exact double range
    * even at 10^12 rows (the raw summed update would overflow there).
    *
    * Determinism: quantized inputs are integers, the misclassification
    * predicate is an exact integer-sign test, the per-dim update SUM is
    * an integer fold (exact in any order), and the floor-division uses
    * the pure-integer identity (s − ((s % m) + m) % m) / m — identical
    * in both engines regardless of their negative-division conventions.
    * So the ENTIRE training trajectory is bit-identical and the output
    * weight vector oracle-hashable — the determinism that usually forces
    * single-threaded training, for free.
    *
    * Plan shape per round: one corpus scan (the quantized vectors cross
    * join the 1-row weight array — bounded broadcast, sweep-allowlisted),
    * one dim-explode into a 64-group map-side-combined aggregate, one
    * 64-row repack. Three rounds = three scans, linear at any N; each CTE
    * is referenced exactly once (the SCALE.md iterative-CTE rule), so
    * nothing re-inlines exponentially.
    */
  private def probeTrainSql(
      table: String,
      quant: String,
      dotFn: (String, String) => String,
      elem: (String, String) => String,
      zeros: String,
      dimFrom: String => String,
      pack: String): String =
    s"WITH ${probeTrainCtes(table, quant, dotFn, elem, zeros, dimFrom, pack)}\nSELECT j, wj FROM w3 ORDER BY j"

  /** The training chain WITHOUT the WITH prefix/final select, for
    * composition (the learned reranker splices it next to a retrieval
    * chain; CTE names e/a0-a3/m1-3/u1-3/w1-3 are disjoint from the
    * BM25/RRF chain's).
    */
  private def probeTrainCtes(
      table: String,
      quant: String,
      dotFn: (String, String) => String,
      elem: (String, String) => String,
      zeros: String,
      dimFrom: String => String,
      pack: String): String = {
    val rounds = (1 to 3).map { t =>
      s"""m$t AS (SELECT e.y, e.x, a.warr,
         |              CASE WHEN e.y * ${dotFn("e.x", "a.warr")} <= 0 THEN 1 ELSE 0 END AS mis
         |       FROM e CROSS JOIN a${t - 1} a),
         |u$t AS (SELECT j, CAST(MIN(${elem("warr", "j")}) AS BIGINT) AS wj,
         |              SUM(mis) AS m,
         |              CAST(SUM(CASE WHEN mis = 1 THEN y * ${elem("x", "j")} ELSE 0 END) AS BIGINT) AS s
         |       ${dimFrom(s"m$t")}
         |       GROUP BY j),
         |w$t AS (SELECT j, CASE WHEN m = 0 THEN wj
         |                      ELSE wj + CAST((s - ((s % m) + m) % m) / m AS BIGINT) END AS wj
         |       FROM u$t),
         |a$t AS (SELECT $pack AS warr FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT CASE WHEN label = 1 THEN 1 ELSE -1 END AS y, $quant AS x FROM $table),
       |a0 AS (SELECT $zeros AS warr),
       |$rounds""".stripMargin
  }

  private[llm] def probeTrainCtesDuck(table: String = "embeddings"): String = probeTrainCtes(
    table,
    kmQ,
    (a, b) => s"list_dot_product($a, $b)",
    (arr, j) => s"$arr[$j + 1]",
    s"list_transform(range($dim), x -> CAST(0 AS DOUBLE))",
    src => s"FROM (SELECT y, x, warr, mis, unnest(range(0, $dim)) AS j FROM $src) z",
    "list(CAST(wj AS DOUBLE) ORDER BY j)")

  def probeTrainSpark(table: String = "embeddings"): String = probeTrainSql(
    table,
    kmQSpark,
    (a, b) => s"graft_dot_d($a, $b)",
    (arr, j) => s"element_at($arr, $j + 1)",
    s"array_repeat(CAST(0 AS DOUBLE), $dim)",
    src => s"FROM $src LATERAL VIEW explode(sequence(0, ${dim - 1})) t AS j",
    "transform(array_sort(collect_list(struct(j, wj))), s -> CAST(s.wj AS DOUBLE))")

  def probeTrainDuck(table: String = "embeddings"): String = probeTrainSql(
    table,
    kmQ,
    (a, b) => s"list_dot_product($a, $b)",
    (arr, j) => s"$arr[$j + 1]",
    s"list_transform(range($dim), x -> CAST(0 AS DOUBLE))",
    src => s"FROM (SELECT y, x, warr, mis, unnest(range(0, $dim)) AS j FROM $src) z",
    "list(CAST(wj AS DOUBLE) ORDER BY j)")

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus (nearest of ≈sqrt(N) deterministic seed centroids,
    * routed through the shared two-level quantizer [[hierAsnCtes]] so
    * assignment costs O(N·sqrt nlist), not O(N·nlist)), find
    * within-cluster pairs with cosine
    * ≥ threshold, and in each duplicate pair mark the member CLOSER to its
    * centroid as redundant (the paper keeps low-centroid-similarity
    * members to preserve diversity). Output = the dropped ids with their
    * cluster and centroid similarity. Within-cluster pair generation is an
    * equi-join on cent_id; production sizing sets nlist ≈ N/targetBucket so
    * cluster populations stay bounded (and can compose the sign-sub-bucket
    * key exactly as [[nearDupFromSigSpark]] does — at fixture scale the
    * ≈sqrt(N)-member clusters are already below targetBucket). Tie on equal
    * centroid similarity breaks toward the larger vec_id so the kept set is
    * deterministic.
    */
  private def semDedupSql(cosFn: (String, String) => String): String =
    s"""WITH ${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1 = 2)},
       |asn AS (SELECT vec_id, v, cent_id, ccos FROM (
       |  SELECT v.vec_id, v.v, a.cent_id,
       |         ${cosFn("v.v", "a.cv")} AS ccos,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |p AS (SELECT a.vec_id AS ida, a.ccos AS ca, b.vec_id AS idb, b.ccos AS cb, a.cent_id
       |      FROM asn a JOIN asn b
       |        ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
       |      WHERE ${cosFn("a.v", "b.v")} >= 0.3),
       |drops AS (SELECT CASE WHEN ca > cb OR (ca = cb AND ida < idb) THEN ida ELSE idb END AS vec_id,
       |                 cent_id,
       |                 CASE WHEN ca > cb OR (ca = cb AND ida < idb) THEN ca ELSE cb END AS ccos
       |          FROM p)
       |SELECT DISTINCT vec_id, cent_id, ROUND(ccos, 6) AS cent_cos
       |FROM drops ORDER BY vec_id""".stripMargin
    // (clustering = the shared two-level quantizer: the only nested-loop
    // join is against the N^(1/4)-row cell table; centroid scoring and the
    // within-cluster pair join are hash equi-joins — PlanAuditSpec pins it.)

  def semDedupSpark: String = semDedupSql(graftCos)
  def semDedupDuck: String = semDedupSql(duckCos)

  /** Coreset / prototype selection: the m most-central members of every
    * cluster (highest cosine to their centroid) — the diversity-aware
    * subsampling pass (per-cluster quotas) a curation pipeline runs after
    * clustering. Same assignment join as [[semDedupSpark]]; the per-cluster
    * top-m is one partitioned window, no global sort.
    */
  private def coresetSql(cosFn: (String, String) => String, m: Int): String =
    s"""WITH ${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1 = 2)},
       |asn AS (SELECT vec_id, cent_id, ccos FROM (
       |  SELECT v.vec_id, a.cent_id,
       |         ${cosFn("v.v", "a.cv")} AS ccos,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |r AS (SELECT vec_id, cent_id, ccos,
       |             row_number() OVER (PARTITION BY cent_id
       |               ORDER BY ccos DESC, vec_id) AS rank
       |      FROM asn)
       |SELECT cent_id, CAST(rank AS INT) AS rank, vec_id, ROUND(ccos, 6) AS cent_cos
       |FROM r WHERE rank <= $m ORDER BY cent_id, rank""".stripMargin

  def coresetSpark(m: Int): String = coresetSql(graftCos, m)
  def coresetDuck(m: Int): String = coresetSql(duckCos, m)

  /** IVF index MAINTENANCE — hot-list split proposal: as a corpus grows
    * or drifts, inverted lists skew, and a list holding ≫ N/nlist vectors
    * degrades every query that probes it (per-probe work is the list
    * length). This pass finds lists whose population exceeds 2× the
    * nominal mean and runs one deterministic 2-means step inside each
    * (seeds = the list's min- and max-vec_id members, each member joined
    * to its nearer seed), reporting the split sizes — the cheap local
    * re-cluster that fixes a hot list WITHOUT rebuilding the index
    * (FAISS's add-with-split / DiskANN shard-split shape).
    *
    * Plan: ONE quantizer-assignment pass; list population and both seed
    * vectors ride two windows over the same cent_id exchange (no
    * self-join back onto the assignment — the seed vectors travel by
    * FIRST_VALUE over (vec_id ASC / DESC)); the split-side test is a pure
    * projection; corpus totals enter as scalar subqueries over the RAW
    * table and the centroid CTE, never a second assignment pass. Output
    * is integer counts ordered by cent_id.
    */
  private def listRebalanceSql(cosFn: (String, String) => String): String =
    s"""WITH ${hierAsnCtes("embeddings", "embedding", cosFn, desc = true, p1 = 2)},
       |asn AS (SELECT vec_id, v, cent_id FROM (
       |  SELECT v.vec_id, v.v, a.cent_id,
       |         row_number() OVER (PARTITION BY v.vec_id
       |           ORDER BY ${cosFn("v.v", "a.cv")} DESC, a.cent_id) AS rn
       |  FROM v1 v JOIN a21 a ON v.c1_id = a.c1_id) t WHERE rn = 1),
       |m AS (SELECT vec_id, v, cent_id,
       |             COUNT(*) OVER (PARTITION BY cent_id) AS pop,
       |             FIRST_VALUE(vec_id) OVER wa AS seed1,
       |             FIRST_VALUE(v) OVER wa AS sv1,
       |             FIRST_VALUE(vec_id) OVER wd AS seed2,
       |             FIRST_VALUE(v) OVER wd AS sv2
       |      FROM asn
       |      WINDOW wa AS (PARTITION BY cent_id ORDER BY vec_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
       |             wd AS (PARTITION BY cent_id ORDER BY vec_id DESC
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
       |hot AS (SELECT * FROM m
       |        WHERE pop * (SELECT COUNT(*) FROM c) > 2 * (SELECT COUNT(*) FROM embeddings)),
       |sp AS (SELECT cent_id, pop, seed1, seed2,
       |              CASE WHEN ${cosFn("v", "sv1")} >= ${cosFn("v", "sv2")}
       |                   THEN 1 ELSE 0 END AS side
       |       FROM hot)
       |SELECT cent_id, MIN(pop) AS pop, MIN(seed1) AS seed1, MIN(seed2) AS seed2,
       |       CAST(SUM(side) AS BIGINT) AS n1, CAST(SUM(1 - side) AS BIGINT) AS n2
       |FROM sp GROUP BY cent_id ORDER BY cent_id""".stripMargin

  def listRebalanceSpark: String = listRebalanceSql(graftCos)
  def listRebalanceDuck: String = listRebalanceSql(duckCos)

  /** Near-duplicate pairs by cosine ≥ threshold. Blocking key = (label,
    * sign sub-bucket): the sub-bucket masks the table-1 signature to
    * `blockBits = clamp(ceil(log2(N / |labels| / targetBucket)), 0,
    * maxBits)` bits, so per-block population stays ≈[[targetBucket]] no
    * matter how large the corpus grows (round 2 blocked on label alone,
    * which is O(N²/|labels|) pairs). Single-bit-flip multi-probe on one
    * side keeps recall: a pair is compared iff its sub-buckets are within
    * hamming distance 1 — each such pair matches exactly one probe, so no
    * DISTINCT is needed. At fixture scale blockBits clamps to 0 and this
    * reduces to exact label blocking. Scoring uses the native graft_cosine
    * expression (single pass, stays in whole-stage codegen); the pure-SQL
    * lambda fold lives on in bruteTopKSpark as the no-extension
    * formulation.
    */
  /** ceil(log2(x)) = ceil(log2(ceil(x))) for x > 1 (both sides of the
    * clamp agree at x ≤ 1), so the non-integer N/|labels|/targetBucket
    * reduces to one shared-text CEIL — correctly rounded, bit-identical
    * across engines — followed by the integer bit-length log2.
    */
  private def blockBitsSql: String =
    s"SELECT GREATEST(0, LEAST($maxBits, ${ceilLog2Int(
      s"CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT label) / $targetBucket.0E0) AS BIGINT)")})) AS nbits FROM embeddings"

  /** Mutual k-NN graph over the same (label, sign sub-bucket) blocking as
    * the embedding near-dup: every vector generates DIRECTED candidates
    * from its hamming<=1 probed buckets, keeps its top-k by exact cosine,
    * and an edge survives only if BOTH endpoints keep each other — the
    * mutual-kNN construction graph-based curation (e.g. SemDeDup-style
    * cluster pruning, arXiv:2303.09540) consumes. Each (a,b) candidate
    * matches exactly one probe (probed buckets of `a` are pairwise
    * distinct), so no DISTINCT is needed; per-node candidates stay
    * bucket-bounded (the [[candidateBoundSpark]] invariant), the top-k is
    * a per-node window, and the mutual filter is a self equi-join on the
    * reversed pair — every step linear-shuffle at any N.
    */
  private def knnCtesSpark(k: Int, nodeFilter: String = "1 = 1", cp: String = ""): String =
    s"""${cp}n AS ($blockBitsSql),
       |${cp}e AS (SELECT vec_id, embedding, label,
       |             s1 & (shiftleft(1, (SELECT nbits FROM ${cp}n)) - 1) AS bucket
       |      FROM ann_sig WHERE $nodeFilter),
       |${cp}probes AS (SELECT vec_id, embedding, label,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE CAST(bucket ^ shiftleft(1, i - 1) AS INT) END AS pbucket
       |           FROM (SELECT vec_id, embedding, label, bucket, i
       |                 FROM ${cp}e LATERAL VIEW explode(sequence(0, $maxBits)) x AS i) t
       |           WHERE i <= (SELECT nbits FROM ${cp}n)),
       |${cp}p AS (SELECT a.vec_id AS src, b.vec_id AS dst, graft_cosine(a.embedding, b.embedding) AS cos
       |      FROM ${cp}probes a JOIN ${cp}e b
       |        ON a.label = b.label AND a.pbucket = b.bucket AND a.vec_id != b.vec_id),
       |${cp}tk AS (SELECT src, dst, cos FROM (
       |         SELECT src, dst, cos,
       |                row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |         FROM ${cp}p) t WHERE rn <= $k)""".stripMargin

  private def knnCtesDuck(k: Int, nodeFilter: String = "1 = 1", cp: String = ""): String =
    s"""${cp}n AS ($blockBitsSql),
       |${cp}e AS (SELECT vec_id, embedding, label,
       |             ${duckSig("embedding", tables(0))} & ((1 << (SELECT nbits FROM ${cp}n)) - 1) AS bucket
       |      FROM embeddings WHERE $nodeFilter),
       |${cp}probes AS (SELECT vec_id, embedding, label,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE xor(bucket, 1 << (i - 1)) END AS pbucket
       |           FROM (SELECT vec_id, embedding, label, bucket, unnest(range(0, ${maxBits + 1})) AS i FROM ${cp}e) t
       |           WHERE i <= (SELECT nbits FROM ${cp}n)),
       |${cp}p AS (SELECT a.vec_id AS src, b.vec_id AS dst, ${duckCos("a.embedding", "b.embedding")} AS cos
       |      FROM ${cp}probes a JOIN ${cp}e b
       |        ON a.label = b.label AND a.pbucket = b.bucket AND a.vec_id != b.vec_id),
       |${cp}tk AS (SELECT src, dst, cos FROM (
       |         SELECT src, dst, cos,
       |                row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
       |         FROM ${cp}p) t WHERE rn <= $k)""".stripMargin

  /** ONE definition of the mutual filter, over any directed-edge
    * relation: `a.src < a.dst` alone excludes self-loops on both sides
    * (b.src = a.dst, b.dst = a.src with a.src < a.dst cannot be a loop),
    * so the SAME text serves the in-chain `tk` and the staged
    * self-loop-carrying edge artifact.
    */
  private[llm] def knnMutualOver(rel: String): String =
    s"""SELECT a.src AS id1, a.dst AS id2, ROUND(a.cos, 6) AS cos
       |FROM $rel a JOIN $rel b ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst
       |ORDER BY id1, id2""".stripMargin

  def knnGraphDuck(k: Int): String =
    s"WITH ${knnCtesDuck(k)}\n${knnMutualOver("tk")}"

  /** DIRECTED top-k edge list (the pre-mutual-filter kNN graph) — every
    * node carries out-degree <= k, the structure graph-ROUTED search walks
    * (mutual filtering prunes edges a greedy walk needs for reachability).
    */
  def knnDirectedSpark(k: Int): String =
    s"WITH ${knnCtesSpark(k)}\nSELECT src, dst, cos FROM tk"

  /** Node-filtered directed kNN — the HNSW upper-layer edge builder: the
    * SAME blocked candidate generation and per-node top-k, restricted to
    * the nodes the filter admits (e.g. `hnsw level >= 1`). `cp` prefixes
    * the CTE names so two layers can coexist in one statement.
    */
  def knnDirectedSparkOver(k: Int, nodeFilter: String): String =
    s"WITH ${knnCtesSpark(k, nodeFilter)}\nSELECT src, dst, cos FROM tk"

  private[llm] def knnDirectedDuckCtes(k: Int): String = knnCtesDuck(k)

  private[llm] def knnDirectedDuckCtesOver(k: Int, nodeFilter: String, cp: String): String =
    knnCtesDuck(k, nodeFilter, cp)

  /** Deterministic HNSW level (Malkov & Yashunin arXiv:1603.09320 §4.2,
    * M = 4): the count of trailing base-4 zeros of a 24-bit md5 slice of
    * vec_id, capped at 3 — P(level >= k) = 4^-k, the paper's geometric
    * draw with PURE INTEGER arithmetic (no float, no log, no RNG state:
    * trivially engine-identical and reproducible across builds).
    */
  private[llm] def hnswLevelSpark: String =
    hnswLevel("CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 6), 16, 10) AS BIGINT)")

  private[llm] def hnswLevelDuck: String =
    hnswLevel("('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 6))::BIGINT")

  private def hnswLevel(h: String): String =
    s"(CASE WHEN ($h) % 4 <> 0 THEN 0 WHEN ($h) % 16 <> 0 THEN 1 WHEN ($h) % 64 <> 0 THEN 2 ELSE 3 END)"

  def nearDupDuck(threshold: String): String =
    s"""WITH n AS ($blockBitsSql),
       |e AS (SELECT vec_id, embedding, label,
       |             ${duckSig("embedding", tables(0))} & ((1 << (SELECT nbits FROM n)) - 1) AS bucket
       |      FROM embeddings),
       |probes AS (SELECT vec_id, embedding, label,
       |                  CASE WHEN i = 0 THEN bucket
       |                       ELSE xor(bucket, 1 << (i - 1)) END AS pbucket
       |           FROM (SELECT vec_id, embedding, label, bucket, unnest(range(0, ${maxBits + 1})) AS i FROM e) t
       |           WHERE i <= (SELECT nbits FROM n)),
       |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, ${duckCos("a.embedding", "b.embedding")} AS cos
       |      FROM probes a JOIN e b
       |        ON a.label = b.label AND a.pbucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id1, id2, ROUND(cos, 6) AS cos FROM p WHERE cos >= $threshold
       |ORDER BY id1, id2""".stripMargin
}
