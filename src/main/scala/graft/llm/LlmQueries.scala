package graft.llm

import org.apache.spark.sql.functions._

import graft.queries.{QuerySpec, Tables}
import graft.queries.QuerySpec.{df, sql, sql2}
import graft.Staging.StagedDataFrame

/** LLM-training-data pipeline operators over the `documents`, `embeddings`
  * and `events` fixtures: deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding cosine), similarity search (brute-force +
  * LSH-bucketed ANN), text analysis (language-ID heuristic, quality
  * scoring, token counting, fingerprinting), multimodal binary-column
  * plumbing.
  *
  * Pairwise dedup queries run on the doc_id % 5 subset: this synthetic
  * corpus draws every document from a 31-word vocabulary, so most documents
  * are near-duplicates of each other — unrestricted pair generation would
  * be quadratic in a way real corpora (where shingles are rare) are not.
  * The algorithms themselves are the scale-safe formulations (banded /
  * bucketed equi-joins, never a cross-join).
  */
object LlmQueries {

  /** Spark side of q_text_paragraph_dedup, exposed so LlmSpec can replay
    * it over a hand-built corpus with known duplicate-block structure
    * (under its own view name — the shared `documents` registration must
    * stay untouched across suites).
    */
  private[llm] def paragraphDedupSparkSql(table: String = "documents"): String =
    s"""WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM $table),
      |b AS (SELECT doc_id, i AS blk, array_join(slice(w, i * 16 + 1, 16), ' ') AS btext
      |      FROM t LATERAL VIEW explode(sequence(0,
      |        GREATEST(CAST(ceil(size(w) / 16.0) AS INT) - 1, 0))) x AS i),
      |f AS (SELECT btext, MIN(struct(doc_id, blk)) AS fkey FROM b GROUP BY btext),
      |k AS (SELECT b.doc_id, b.blk, b.btext FROM b JOIN f
      |        ON b.btext = f.btext AND b.doc_id = f.fkey.doc_id AND b.blk = f.fkey.blk),
      |nb AS (SELECT doc_id, CAST(GREATEST(CAST(ceil(size(w) / 16.0) AS INT), 1) AS BIGINT) AS n_blocks FROM t),
      |nk AS (SELECT doc_id, COUNT(*) AS n_kept,
      |              md5(concat_ws(' ',
      |                transform(sort_array(collect_list(struct(blk, btext))),
      |                          s -> s.btext))) AS clean_hash
      |       FROM k GROUP BY doc_id)
      |SELECT nb.doc_id, n_blocks, COALESCE(n_kept, 0) AS n_kept,
      |       COALESCE(clean_hash, '') AS clean_hash
      |FROM nb LEFT JOIN nk ON nb.doc_id = nk.doc_id
      |WHERE nb.doc_id % 20 = 0 ORDER BY nb.doc_id""".stripMargin

  /** Spark side of q_text_contamination_score, exposed so LlmSpec can
    * replay it over a hand-built corpus with a known gram-overlap
    * fraction (same reason as [[paragraphDedupSparkSql]]).
    */
  private[llm] def contaminationSparkSql(table: String = "documents"): String =
    s"""WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM $table),
      |sh AS (SELECT doc_id, array_join(slice(w, i, 8), ' ') AS g
      |       FROM t LATERAL VIEW explode(sequence(1, GREATEST(size(w) - 7, 1))) x AS i
      |       WHERE i + 7 <= size(w)),
      |evg AS (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 97 = 0),
      |evn AS (SELECT doc_id, COUNT(*) AS n_grams FROM evg GROUP BY doc_id),
      |hit AS (SELECT DISTINCT e.doc_id, e.g
      |        FROM evg e JOIN sh s ON e.g = s.g AND s.doc_id % 97 != 0),
      |hn AS (SELECT doc_id, COUNT(*) AS n_hit FROM hit GROUP BY doc_id)
      |SELECT evn.doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
      |       CAST(FLOOR(COALESCE(n_hit, 0) * 10000.0 / n_grams + 0.5) AS BIGINT) AS overlap_bp
      |FROM evn LEFT JOIN hn ON evn.doc_id = hn.doc_id
      |ORDER BY evn.doc_id""".stripMargin

  /** q_dedup_band_tuning: the MinHash-LSH PARAMETER-SELECTION curve — for
    * band shapes r ∈ {2, 4, 8} rows/band over the same 16 signatures,
    * candidate-set precision and recall against the exact Jaccard ≥ 0.9
    * ground truth. This is the calibration run an operator does BEFORE
    * committing a banding config to a 100 TB dedup pass: the S-curve
    * P(candidate | J) = 1 − (1 − J^r)^(16/r) trades recall (small r) for
    * precision (large r), and the curve measures that trade on a bounded
    * sample of the real corpus (here doc_id % 10; production draws the
    * same deterministic ~10k-doc sample at any N, so the brute-force
    * truth join is calibration-bounded, never corpus-bounded — the same
    * pattern as q_ann_recall_curve's bounded brute pass).
    *
    * Everything is md5-derived (no engine-private hash): signatures are
    * MIN over words of a 48-bit md5 slice keyed by the hash index, band
    * keys are md5 of the comma-joined signature row, so DuckDB replays
    * the EXACT candidate sets and the compare is hash-exact, not
    * statistical. The candidate self-join is salted like the production
    * pipeline (left side replicated over 8 salts, right side keyed by an
    * md5 salt of doc_id) so a hot band bucket's pair generation spreads
    * across join cells. Counts and basis points are integer end to end.
    */
  private val tuneHashes = 16
  private val tuneCfgs = Seq(2, 4, 8)

  private def bandTuningSql(
      table: String,
      md5i: String => String, // md5-slice expr -> BIGINT (48-bit)
      str: String => String, // BIGINT -> decimal-string cast
      sstruct: Seq[(Int, Int, String)] => String, // (r, band, key) rows
      wordsCte: String,
      bandsCte: String => String, // struct source -> bk CTE body
      saltLeftCte: String): String = {
    val structs = tuneCfgs.flatMap { r =>
      (0 until tuneHashes / r).map { b =>
        val key = "md5(" +
          (0 until r).map(j => str(s"h${b * r + j}")).mkString(" || ',' || ") + ")"
        (r, b, key)
      }
    }
    s"""WITH d AS (SELECT doc_id, text FROM $table WHERE doc_id % 10 = 0),
       |$wordsCte,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
       |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
       |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT id1, id2 FROM c JOIN sz s1 ON c.id1 = s1.doc_id
       |          JOIN sz s2 ON c.id2 = s2.doc_id
       |          WHERE 10 * c.c >= 9 * (s1.n + s2.n - c.c)),
       |sig AS (SELECT doc_id,
       |  ${(0 until tuneHashes)
            .map(i => s"MIN(${md5i(s"'$i|' || word")}) AS h$i")
            .mkString(",\n|  ")}
       |  FROM w GROUP BY doc_id),
       |${bandsCte(sstruct(structs))},
       |$saltLeftCte,
       |br AS (SELECT doc_id, r, band, key, ${md5i(str("doc_id"))} % 8 AS salt FROM bk),
       |cand AS (SELECT DISTINCT a.r, a.doc_id AS id1, b.doc_id AS id2
       |         FROM bl a JOIN br b ON a.r = b.r AND a.band = b.band
       |              AND a.key = b.key AND a.salt = b.salt AND a.doc_id < b.doc_id),
       |m AS (SELECT c.r AS r, COUNT(*) AS n_cand,
       |             CAST(SUM(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp
       |      FROM cand c LEFT JOIN truth t ON c.id1 = t.id1 AND c.id2 = t.id2
       |      GROUP BY c.r),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth)
       |SELECT m.r AS rows_per_band, m.n_cand, m.tp, nt.n_truth,
       |       CAST(FLOOR(m.tp * 10000.0 / m.n_cand + 0.5) AS BIGINT) AS precision_bp,
       |       CAST(FLOOR(m.tp * 10000.0 / nt.n_truth + 0.5) AS BIGINT) AS recall_bp
       |FROM m CROSS JOIN nt ORDER BY rows_per_band""".stripMargin
  }

  private[llm] def bandTuningSparkSql(table: String = "documents"): String =
    bandTuningSql(
      table,
      e => s"CAST(conv(substr(md5($e), 1, 12), 16, 10) AS BIGINT)",
      e => s"CAST($e AS STRING)",
      rows => rows.map { case (r, b, k) =>
        s"named_struct('r', $r, 'band', $b, 'key', $k)"
      }.mkString(",\n|    "),
      """w AS (SELECT DISTINCT doc_id, word
        |      FROM d LATERAL VIEW explode(split(text, ' ')) t AS word)""".stripMargin,
      structs =>
        s"""bk AS (SELECT doc_id, bs.r AS r, bs.band AS band, bs.key AS key
           |       FROM sig LATERAL VIEW explode(array(
           |    $structs)) t AS bs)""".stripMargin,
      """bl AS (SELECT bk.*, salt
        |       FROM bk LATERAL VIEW explode(sequence(0, 7)) s AS salt)""".stripMargin)

  private def bandTuningDuckSql(table: String = "documents"): String =
    bandTuningSql(
      table,
      e => s"('0x' || substr(md5($e), 1, 12))::BIGINT",
      e => s"CAST($e AS VARCHAR)",
      rows => rows.map { case (r, b, k) =>
        s"{'r': $r, 'band': $b, 'key': $k}"
      }.mkString(",\n|    "),
      """w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d)""",
      structs =>
        s"""bk AS (SELECT doc_id, u.r AS r, u.band AS band, u.key AS key
           |       FROM (SELECT doc_id, unnest([
           |    $structs]) AS u FROM sig) z)""".stripMargin,
      """bl AS (SELECT doc_id, r, band, key, unnest(range(0, 8)) AS salt FROM bk)""")

  /** Exact brute-force word-set Jaccard (the oracle for both the LSH and
    * the direct formulation), restricted to the doc_id % 5 subset.
    */
  private def jaccardOracleDuck(threshold: String): String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
       |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
       |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
       |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
       |      GROUP BY a.doc_id, b.doc_id)
       |SELECT id1, id2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
       |FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
       |WHERE c >= $threshold * (s1.n + s2.n - c)
       |ORDER BY id1, id2""".stripMargin

  /** n_docs^0.3 in integer micro-units, engine-neutral: ln through the
    * integer-ratio kernel, ×0.3 as an exact integer-scaled rounding, exp
    * through the Taylor kernel — replaces EXP(0.3·LN(n)), whose libm pair
    * was the same last-ulp exposure as the round-7 DSIR failures. Emits
    * the CTE `w` (source, n_docs, n_toks, w_int) from a K-row `src`.
    */
  private def alphaWeightCtes(k: NeutralMath.KernelSplice): String =
    s"""${k.ln("wl", "src", "source, n_docs, n_toks",
        "source, n_docs, n_toks", "n_docs", "1", "ln_u", "1.0E6")},
       |wm AS (SELECT source, n_docs, n_toks,
       |              CAST(FLOOR(CAST(3 * ln_u AS DOUBLE) / 10.0E0 + 0.5E0) AS BIGINT) AS a_u
       |       FROM wl),
       |${k.exp("w", "wm", "source, n_docs, n_toks",
        "source, n_docs, n_toks", "a_u", "w_int")}""".stripMargin

  /** Temperature-mix Spark text parameterized by source table so the
    * scale-behavior suite can drive it over synthetic skewed corpora
    * (same pattern as [[paragraphDedupSparkSql]]). The sample target (200
    * docs) and alpha (0.3) are the query's fixed mix parameters.
    */
  private[llm] def temperatureMixSparkSql(table: String = "documents"): String =
    s"""WITH src AS (SELECT source, COUNT(*) AS n_docs,
       |                    CAST(SUM(size(split(text, ' '))) AS BIGINT) AS n_toks
       |             FROM $table GROUP BY source),
       |${alphaWeightCtes(NeutralMath.SparkKernel)},
       |tot AS (SELECT CAST(SUM(w_int) AS BIGINT) AS tw FROM w),
       |rate AS (SELECT source, n_docs, n_toks, w_int,
       |                LEAST(CAST(10000 AS BIGINT),
       |                      (200 * w_int DIV tw) * 10000 DIV n_docs) AS rate_bp
       |         FROM w CROSS JOIN tot),
       |adm AS (SELECT d.source, size(split(d.text, ' ')) AS n
       |        FROM $table d JOIN rate r ON d.source = r.source
       |        WHERE CAST(conv(substr(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000 < r.rate_bp)
       |SELECT r.source, r.n_docs, CAST(r.w_int AS DOUBLE) / 1.0E6 AS weight,
       |       CAST(r.rate_bp AS BIGINT) AS rate_bp,
       |       COUNT(adm.n) AS n_sampled,
       |       CAST(COALESCE(SUM(adm.n), 0) AS BIGINT) AS toks_sampled
       |FROM rate r LEFT JOIN adm ON r.source = adm.source
       |GROUP BY r.source, r.n_docs, r.w_int, r.rate_bp
       |ORDER BY r.source""".stripMargin

  /** Hyperplane sign signatures, computed ONCE per (session, dir) with the
    * codegen'd graft_dot and checkpointed — shared by q_ann_lsh and
    * q_dedup_embedding via the `ann_sig` temp view (the same staged shared
    * intermediate a production ANN pipeline would persist).
    */
  private val signatures = new graft.Artifacts.Views

  private def registerSig(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    Tables.registerAll(s, d)
    signatures(s, d) { Seq("ann_sig" -> s.sql(AnnSql.sigStageSpark).staged()) }
  }

  /** Staged DIRECTED kNN edge list (the persisted graph-index artifact
    * graph-routed search walks) — built once per (session, dir) over the
    * shared staged signatures and checkpointed, so the beam hops reference
    * a materialized table instead of re-inlining the candidate chain.
    */
  private val knnEdges = new graft.Artifacts.Value[org.apache.spark.sql.DataFrame]

  private[graft] def knnEdgesCached(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    knnEdges(s, d) {
      registerSig(s, d)
      // self-loops let a beam hop keep its frontier through the SAME
      // equi-join that expands it — one frontier reference per hop
      // instead of a UNION branch Catalyst would re-inline 2^hops times
      s.sql(AnnSql.knnDirectedSpark(3))
        .unionByName(Tables.embeddings(s, d)
          .selectExpr("vec_id AS src", "vec_id AS dst", "CAST(1.0 AS DOUBLE) AS cos"))
        .staged()
    }

  /** Memoized persistent corpus index for incremental dedup (same
    * lifecycle as the `ann_sig` signatures and the MinHash pair set).
    */
  private val corpusIndex = new graft.Artifacts.Value[MinHashDedup.CorpusIndex]

  private[graft] def corpusIndexCached(
      s: org.apache.spark.sql.SparkSession, d: String): MinHashDedup.CorpusIndex =
    corpusIndex(s, d) {
      val idx = MinHashDedup.CorpusIndex.build(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0))
      MinHashDedup.CorpusIndex(
        idx.banded.staged(), idx.words.staged())
    }

  /** Dialect-shared TF-IDF tail from the word stream `w` down: the idf
    * ln(N/(1+df)) is an integer ratio, so it rides the engine-neutral
    * micro-nat log instead of each engine's libm `ln` (one evaluation per
    * word TYPE — the round-7 ulp-fragility class). tfidf = tf·idf_u/1e6
    * is an exact integer product into one shared-text double division.
    */
  private def tfidfTail(k: NeutralMath.KernelSplice): String =
    s"""tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
       |dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
       |nd AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 5 = 0),
       |idf0 AS (SELECT word, CAST((SELECT n FROM nd) AS BIGINT) AS inum,
       |                CAST(1 + df AS BIGINT) AS iden
       |         FROM dfreq),
       |${k.ln("idfc", "idf0", "word, inum, iden", "word",
          "inum", "iden", "idf_u", "1.0E6")},
       |s AS (SELECT tf.doc_id, tf.word,
       |             CAST(tf.tf * idfc.idf_u AS DOUBLE) / 1.0E6 AS tfidf
       |      FROM tf JOIN idfc ON tf.word = idfc.word)
       |SELECT doc_id, CAST(rk AS INT) AS rk, word, tfidf FROM (
       |  SELECT doc_id, word, tfidf,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
       |  FROM s) t
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  /** Dialect-shared unigram-logprob tail: per-word-type logp quantizes to
    * integer micro-nats through the neutral kernel BEFORE the per-doc
    * aggregation, making the fold an exact integer SUM (the old
    * AVG-of-doubles additionally depended on partition fold order).
    */
  private def unigramTail(k: NeutralMath.KernelSplice): String =
    s"""freq AS (SELECT word, COUNT(*) AS c FROM w GROUP BY word),
       |lf0 AS (SELECT word, CAST(c AS BIGINT) AS lnum,
       |               CAST((SELECT n FROM tot) AS BIGINT) AS lden
       |        FROM freq),
       |${k.ln("lf", "lf0", "word, lnum, lden", "word",
          "lnum", "lden", "lp_u", "1.0E6")}
       |SELECT doc_id, CAST(SUM(lp_u) AS DOUBLE) / 1.0E6 / COUNT(*) AS avg_logp,
       |       COUNT(*) AS n_tokens
       |FROM w JOIN lf USING (word)
       |WHERE doc_id % 10 = 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared watermark-detector text over a dialect token-stream CTE `tok`
    * (doc_id, source, word) and a dialect md5-slice hash of `word`. The
    * green list is the hash-parity half of the vocabulary; z is the
    * one-proportion test (2·green − n)/√n against the null p = 1/2.
    */
  private def watermarkSql(tokCte: String, md5word: String): String =
    s"""WITH $tokCte,
       |g AS (SELECT doc_id, source, COUNT(*) AS n,
       |             CAST(SUM(CASE WHEN ($md5word) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS green
       |      FROM tok GROUP BY doc_id, source)
       |SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens, green AS n_green,
       |       CASE WHEN n >= 16
       |            THEN CAST(FLOOR(CAST(2 * green - n AS DOUBLE)
       |                            / SQRT(CAST(n AS DOUBLE)) * 100 + 0.5E0) AS BIGINT)
       |            END AS z_centi,
       |       CASE WHEN n >= 16
       |                  AND CAST(2 * green - n AS DOUBLE) / SQRT(CAST(n AS DOUBLE)) >= 2.0E0
       |            THEN 1 ELSE 0 END AS flagged
       |FROM g WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin

  /** Shared tail for q_text_judge_kappa: the two integer-threshold judges
    * over the per-doc `base` stats, the 2×2 contingency fold, and the
    * exact-BIGINT kappa numerator/denominator (see the registration-site
    * doc for the formula and bounds).
    */
  private def kappaTail: String =
    s"""j AS (SELECT doc_id,
       |             CASE WHEN n BETWEEN 20 AND 80 AND sw >= 2 THEN 1 ELSE 0 END AS ja,
       |             CASE WHEN 5 * dn >= n AND 10 * sumlen BETWEEN 30 * n AND 100 * n
       |                  THEN 1 ELSE 0 END AS jb
       |      FROM base),
       |ct AS (SELECT CAST(SUM(CASE WHEN ja = 1 AND jb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
       |              CAST(SUM(CASE WHEN ja = 1 AND jb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
       |              CAST(SUM(CASE WHEN ja = 0 AND jb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
       |              CAST(SUM(CASE WHEN ja = 0 AND jb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
       |              CAST(COUNT(*) AS BIGINT) AS n
       |       FROM j),
       |kp AS (SELECT n11, n10, n01, n00, n,
       |              CAST(n * (n11 + n00)
       |                   - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS BIGINT) AS knum,
       |              CAST(n * n
       |                   - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS BIGINT) AS kden
       |       FROM ct)
       |SELECT n, n11, n10, n01, n00, knum, kden,
       |       CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS p_agree,
       |       CASE WHEN kden = 0 THEN 0.0E0
       |            ELSE CAST(knum AS DOUBLE) / CAST(kden AS DOUBLE) END AS kappa
       |FROM kp""".stripMargin

  val specs: Map[String, QuerySpec] = Map(
    // ---- deduplication ----

    // Exact dedup: one hash-groupBy (map-side combined); representative =
    // min doc_id per content hash.
    "q_dedup_exact" -> sql(
      """SELECT md5(lower(trim(text))) AS content_hash, MIN(doc_id) AS keep_id,
        |COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(lower(trim(text)))
        |ORDER BY keep_id""".stripMargin),

    // MinHash+LSH candidates verified by exact Jaccard; oracle = brute force.
    "q_dedup_minhash" -> df(
      (s, d) => MinHashDedup.nearDuplicatesCached(s, d, 0.95).orderBy("id1", "id2"),
      jaccardOracleDuck("0.95")),

    // Direct (no-LSH) exact word-set Jaccard join via prefix filtering —
    // see PrefixJaccard for the algorithm and its scale properties.
    "q_dedup_ngram_jaccard" -> df(
      (s, d) => PrefixJaccard.pairs(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0), 9, 10),
      jaccardOracleDuck("0.9")),

    // Directional containment (|A∩B|/|A| >= 0.9): catches subset
    // duplication — a document quoted wholesale inside a longer one —
    // which symmetric Jaccard cannot (PrefixJaccard.containmentPairs
    // doc). Candidates via the lossless one-sided prefix filter; the
    // %25 subset bounds the brute-force oracle's all-shared-words join.
    "q_dedup_containment" -> df(
      (s, d) => PrefixJaccard.containmentPairs(
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0), 9, 10),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS contained, b.doc_id AS container, COUNT(*) AS c
        |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id != b.doc_id
        |      GROUP BY 1, 2)
        |SELECT contained, container,
        |       CAST(FLOOR(c * 10000.0 / s.n + 0.5) AS BIGINT) AS containment_bp
        |FROM c JOIN sz s ON contained = s.doc_id
        |WHERE c * 10 >= s.n * 9
        |ORDER BY contained, container""".stripMargin),

    // Edit-distance near-dup verification: levenshtein over length-blocked
    // candidate pairs — the character-level verifier that catches
    // reorder-insensitive near-dups word-set Jaccard cannot (both engines
    // implement the same unit-cost metric, so the pair set hash-matches).
    // Blocking here is the length bucket — a deliberate approximation
    // (a near-boundary pair can straddle buckets; lev >= |len_a − len_b|
    // bounds what blocking can lose) applied identically on both sides;
    // q_dedup_edit_verified below IS the production composition — MinHash
    // band candidates feeding this verifier, the same compose-the-cuts
    // pattern as q_ann_ivfpq. The 68%
    // threshold fits this corpus: word-shuffles of one vocabulary sit at
    // ~0.61-0.80 character-level distance, so the verifier selects the
    // genuinely closest pairs rather than passing everything.
    // The REPARTITION hint on the probe side is load-bearing: the
    // optimizer pushes the lev<=threshold predicate INTO the broadcast
    // join, so the levenshteins run in the probe-side stage — which AQE
    // coalesces to ONE task (bytes-based sizing is blind to per-row CPU),
    // serializing every O(len²) distance on one core. An explicit
    // numPartitions repartition is exempt from AQE coalescing, so the
    // join (and the pushed-in distance work) runs 64-wide — measured
    // 20s -> ~2s cold / <1s warm at sf0.1. DuckDB parses the hint as an ordinary block
    // comment, so the SQL text stays identical on both sides. The same
    // compute-vs-bytes skew applies to ANY expensive verify over a small
    // candidate set at 100 TB.
    "q_dedup_edit_distance" -> sql2(
      """WITH d AS (SELECT /*+ REPARTITION(64) */ doc_id, text,
        |           CAST(n_chars DIV 25 AS BIGINT) AS blk
        |           FROM documents WHERE doc_id % 10 = 0),
        |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |             a.text AS t1, b.text AS t2
        |      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |p AS (SELECT id1, id2, levenshtein(t1, t2) AS lev,
        |             GREATEST(length(t1), length(t2)) AS mx
        |      FROM c)
        |SELECT id1, id2, CAST(lev AS INT) AS lev
        |FROM p WHERE lev * 100 <= mx * 68
        |ORDER BY id1, id2""".stripMargin,
      """WITH d AS (SELECT /*+ REPARTITION(64) */ doc_id, text,
        |           CAST(n_chars // 25 AS BIGINT) AS blk
        |           FROM documents WHERE doc_id % 10 = 0),
        |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |             a.text AS t1, b.text AS t2
        |      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id),
        |p AS (SELECT id1, id2, levenshtein(t1, t2) AS lev,
        |             GREATEST(length(t1), length(t2)) AS mx
        |      FROM c)
        |SELECT id1, id2, CAST(lev AS INT) AS lev
        |FROM p WHERE lev * 100 <= mx * 68
        |ORDER BY id1, id2""".stripMargin),

    // The COMPOSED edit-distance verifier q_dedup_edit_distance's doc
    // promises: MinHash band candidates (reusing the cached J>=0.95
    // verified pair set shared with q_dedup_minhash/q_dedup_cluster) ->
    // levenshtein <= 68% of the longer text. On this corpus it splits the
    // set-identical pairs into true character-level dups (~2% distance)
    // and word-shuffles (~63-74%); J>=0.95's ~1.4e-6 band-miss rate keeps
    // the banded answer equal to the oracle's brute-force form, and the
    // candidate join is pure equi (PlanAuditSpec: no length-block
    // cartesian, no nested loop).
    "q_dedup_edit_verified" -> df(
      (s, d) => MinHashDedup.editVerifiedFromPairs(
        MinHashDedup.nearDuplicatesCached(s, d, 0.95),
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0), pct = 68),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id),
        |p AS (SELECT id1, id2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
        |      FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
        |      WHERE c >= 0.95 * (s1.n + s2.n - c)),
        |v AS (SELECT p.id1, p.id2, p.jaccard, levenshtein(a.text, b.text) AS lev,
        |             GREATEST(length(a.text), length(b.text)) AS mx
        |      FROM p JOIN d a ON p.id1 = a.doc_id JOIN d b ON p.id2 = b.doc_id)
        |SELECT id1, id2, jaccard, CAST(lev AS INT) AS lev
        |FROM v WHERE lev * 100 <= mx * 68
        |ORDER BY id1, id2""".stripMargin),

    // MinHash band-shape tuning curve (see bandTuningSparkSql's doc): the
    // calibration run before committing a banding config. Everything is
    // md5-derived so DuckDB replays the exact candidate sets; the 1-row
    // truth-count join is the only nested loop (sweep allowlist).
    "q_dedup_band_tuning" -> sql2(bandTuningSparkSql(), bandTuningDuckSql()),

    // SimHash with banded candidates; pigeonhole (4 bands, hamming ≤ 3)
    // makes the banded answer provably equal the oracle's all-pairs answer.
    "q_dedup_simhash" -> df(
      (s, d) => SimHashDedup.nearDuplicates(
        Tables.documents(s, d).filter(col("doc_id") % 5 === 0)),
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
        |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT AS hv FROM w),
        |bits AS (SELECT doc_id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs
        |         GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS simhash
        |       FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id1, id2""".stripMargin),

    // Embedding cosine near-dup, blocked on (label, sign sub-bucket) with
    // size-parameterized sub-buckets (AnnSql scale notes).
    "q_dedup_embedding" -> QuerySpec(
      (s, d) => {
        registerSig(s, d)
        s.sql(AnnSql.nearDupFromSigSpark("0.3"))
      },
      Some(AnnSql.nearDupDuck("0.3"))),

    // Mutual k-NN graph over the same staged signatures — the structure
    // graph-based curation passes consume (AnnSql.knnGraphFromSigSpark
    // scale notes).
    // The mutual filter runs over the SAME staged directed-edge artifact
    // graph search walks (knnEdgesCached) — one candidate-chain pass
    // serves both queries; `a.src < a.dst` in the shared mutual text
    // already excludes the artifact's self-loops on both join sides. The
    // DuckDB oracle still derives the whole chain independently.
    "q_ann_knn_graph" -> QuerySpec(
      (s, d) => {
        knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
        s.sql(AnnSql.knnMutualOver("g_edges"))
      },
      Some(AnnSql.knnGraphDuck(3))),

    // ANN graph connectivity audit: connected components of the mutual
    // kNN graph + the isolated-vector count — the index health check for
    // graph-routed search (a beam can only reach its entry's component;
    // a fragmented graph or many isolated vectors means walks silently
    // miss recall, cf. the global-beam starvation note on
    // q_ann_graph_search). Composes the staged edge artifact with the
    // shared pointer-jumping CC labels; isolated = embeddings whose every
    // candidate edge failed the mutual filter.
    "q_ann_graph_connectivity" -> QuerySpec(
      (s, d) => {
        knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
        val me = s.sql(AnnSql.knnMutualOver("g_edges")).select(col("id1"), col("id2"))
        val labs = DedupCluster.clusters(me)
        val comps = labs.groupBy("cluster_rep").agg(count(lit(1)).as("sz"))
          .staged()
        val emb = Tables.embeddings(s, d).select(col("vec_id"))
        val iso = emb.join(labs, emb("vec_id") === labs("doc_id"), "left_anti")
        comps.agg(count(lit(1)).cast("long").as("n_components"),
            coalesce(max("sz"), lit(0L)).cast("long").as("largest"),
            coalesce(sum("sz"), lit(0L)).cast("long").as("n_connected"))
          .crossJoin(iso.agg(count(lit(1)).cast("long").as("n_isolated")))
          .crossJoin(emb.agg(count(lit(1)).cast("long").as("n_vecs")))
          .selectExpr("n_vecs", "n_components", "largest", "n_connected", "n_isolated",
            "CAST((10000 * largest) DIV n_vecs AS BIGINT) AS largest_share_bp")
      },
      Some(s"""WITH RECURSIVE ${AnnSql.knnDirectedDuckCtes(3)},
              |me AS (SELECT a.src AS id1, a.dst AS id2
              |       FROM tk a JOIN tk b
              |         ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst),
              |ke AS (SELECT id1 AS a, id2 AS b FROM me
              |       UNION ALL SELECT id2 AS a, id1 AS b FROM me),
              |reach(node, label) AS (
              |  SELECT a, a FROM ke
              |  UNION
              |  SELECT e.a, r.label FROM ke e JOIN reach r ON r.node = e.b),
              |cl AS (SELECT node, MIN(label) AS rep FROM reach GROUP BY node),
              |sz AS (SELECT rep, COUNT(*) AS sz FROM cl GROUP BY rep),
              |emb AS (SELECT vec_id FROM embeddings),
              |agg AS (SELECT COUNT(*) AS n_components,
              |               COALESCE(MAX(sz), 0) AS largest,
              |               COALESCE(SUM(sz), 0) AS n_connected FROM sz),
              |iso AS (SELECT COUNT(*) AS n_isolated FROM emb
              |        LEFT JOIN cl ON emb.vec_id = cl.node WHERE cl.node IS NULL),
              |tot AS (SELECT COUNT(*) AS n_vecs FROM emb)
              |SELECT CAST(tot.n_vecs AS BIGINT) AS n_vecs,
              |       CAST(agg.n_components AS BIGINT) AS n_components,
              |       CAST(agg.largest AS BIGINT) AS largest,
              |       CAST(agg.n_connected AS BIGINT) AS n_connected,
              |       CAST(iso.n_isolated AS BIGINT) AS n_isolated,
              |       CAST((10000 * agg.largest) // tot.n_vecs AS BIGINT) AS largest_share_bp
              |FROM agg CROSS JOIN iso CROSS JOIN tot""".stripMargin)),

    // Cross-source duplication matrix: roll the verified near-dup pairs up
    // by unordered (source, source) — the provenance diagnostic that tells
    // a curation pass WHERE its duplication comes from (mirror sites,
    // cross-source scrapes, a snapshot duplicated into two collections)
    // and which source pairs deserve a targeted dedup run. Composes the
    // cached verified pair set (shared with q_dedup_minhash/_cluster) with
    // two equi joins onto the doc->source map and a K²-bounded rollup —
    // nothing new shuffles the corpus; the pair side is the small one at
    // any scale (verified duplicates, not candidates).
    "q_dedup_source_matrix" -> df(
      (s, d) => {
        val pairs = MinHashDedup.nearDuplicatesCached(s, d, 0.95)
        val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
        pairs
          .join(src.as("sa"), pairs("id1") === col("sa.doc_id"))
          .join(src.as("sb"), pairs("id2") === col("sb.doc_id"))
          .select(least(col("sa.source"), col("sb.source")).as("src1"),
            greatest(col("sa.source"), col("sb.source")).as("src2"))
          .groupBy("src1", "src2").agg(count(lit(1)).as("n_pairs"))
          .orderBy("src1", "src2")
      },
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
        |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id),
        |p AS (SELECT id1, id2
        |      FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
        |      WHERE c >= 0.95 * (s1.n + s2.n - c)),
        |m AS (SELECT LEAST(da.source, db.source) AS src1,
        |             GREATEST(da.source, db.source) AS src2
        |      FROM p JOIN documents da ON p.id1 = da.doc_id
        |             JOIN documents db ON p.id2 = db.doc_id)
        |SELECT src1, src2, COUNT(*) AS n_pairs
        |FROM m GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin),

    // Near-dup clustering: connected components over the verified MinHash
    // pair graph; keep the min doc_id per component. Oracle: recursive-CTE
    // reachability over the exact pair graph.
    "q_dedup_cluster" -> df(
      (s, d) => MinHashDedup.clusterLabelsCached(s, d, 0.95).orderBy("doc_id"),
      s"""WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
         |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT id1, id2
         |          FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
         |          WHERE c >= 0.95 * (s1.n + s2.n - c)),
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b)
         |SELECT node AS doc_id, MIN(label) AS cluster_rep
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),

    // Keep-BEST-per-cluster: the production variant of keep-representative
    // — within each near-dup cluster retain the longest document (ties to
    // the highest doc_id), not the smallest id. Composes the clustering
    // operator with a ranked window over a metadata join.
    "q_dedup_keep_best" -> df(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cl = MinHashDedup.clusterLabelsCached(s, d, 0.95)
        val meta = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
        val w = Window.partitionBy(col("cluster_rep"))
          .orderBy(col("n_chars").desc, col("doc_id").desc)
        cl.join(meta, "doc_id")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cluster_rep"), col("doc_id").as("keep_id"), col("n_chars"))
          .orderBy("cluster_rep")
      },
      s"""WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
         |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT id1, id2
         |          FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
         |          WHERE c >= 0.95 * (s1.n + s2.n - c)),
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
         |cl AS (SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY node),
         |ranked AS (SELECT cl.cluster_rep, cl.doc_id, doc.n_chars,
         |                  row_number() OVER (PARTITION BY cl.cluster_rep
         |                    ORDER BY doc.n_chars DESC, cl.doc_id DESC) AS rn
         |           FROM cl JOIN documents doc ON cl.doc_id = doc.doc_id)
         |SELECT cluster_rep, doc_id AS keep_id, n_chars
         |FROM ranked WHERE rn = 1 ORDER BY cluster_rep""".stripMargin),

    // Deterministic hash-based train/eval split (md5-derived so the oracle
    // reproduces the exact assignment — the reproducible-split primitive of
    // a training-data pipeline).
    "q_text_train_split" -> sql2(
      """SELECT split, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars FROM (
        |  SELECT CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 < 90
        |              THEN 'train' ELSE 'eval' END AS split, n_chars
        |  FROM documents) t
        |GROUP BY split ORDER BY split""".stripMargin,
      """SELECT split, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars FROM (
        |  SELECT CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |              THEN 'train' ELSE 'eval' END AS split, n_chars
        |  FROM documents) t
        |GROUP BY split ORDER BY split""".stripMargin),

    // Leakage-safe train/eval split: assign the SPLIT by near-dup CLUSTER
    // representative, not per-doc — a per-doc hash split leaks eval
    // content into train whenever a near-duplicate pair straddles the
    // cut (the contamination mode decontamination audits then catch too
    // late). Composes the clustering operator with the md5-bucket split
    // primitive; by construction no cluster straddles splits. n_moved
    // counts docs whose naive per-doc split differs — the leakage the
    // calibrated split prevented. Cost: the cached MinHash pair graph +
    // CC labels (both shared with q_dedup_cluster), one broadcast-size
    // join, one aggregate — nothing new shuffles the corpus.
    "q_split_leakage_safe" -> df(
      (s, d) => {
        import org.apache.spark.sql.Column
        val cl = MinHashDedup.clusterLabelsCached(s, d, 0.95)
        val docs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_words"))
        val bucket = (c: Column) =>
          conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 100
        docs.join(cl, Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
          .withColumn("split", when(bucket(col("rep")) < 90, "train").otherwise("eval"))
          .withColumn("moved", (bucket(col("doc_id")) < 90) =!= (bucket(col("rep")) < 90))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("rep")).as("n_clusters"),
            sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"),
            sum(col("n_words")).cast("long").as("n_tokens"))
          .orderBy(col("split"))
      },
      s"""WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |w AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM d),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM w GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
         |      FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
         |      GROUP BY a.doc_id, b.doc_id),
         |pairs AS (SELECT id1, id2
         |          FROM c JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
         |          WHERE c >= 0.95 * (s1.n + s2.n - c)),
         |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION ALL SELECT id2, id1 FROM pairs),
         |reach(node, label) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
         |cl AS (SELECT node AS doc_id, MIN(label) AS cluster_rep FROM reach GROUP BY node),
         |docs AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words FROM d),
         |b AS (SELECT j.doc_id, n_words, rep,
         |        ('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT % 100 AS rb,
         |        ('0x' || substr(md5(CAST(j.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS db
         |      FROM (SELECT docs.doc_id, n_words,
         |              COALESCE(cluster_rep, docs.doc_id) AS rep
         |            FROM docs LEFT JOIN cl ON docs.doc_id = cl.doc_id) j)
         |SELECT CASE WHEN rb < 90 THEN 'train' ELSE 'eval' END AS split,
         |       COUNT(*) AS n_docs, COUNT(DISTINCT rep) AS n_clusters,
         |       CAST(SUM(CASE WHEN (db < 90) != (rb < 90) THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |       CAST(SUM(n_words) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    // Corpus snapshot diff — the incremental-refresh primitive: compare two
    // corpus versions by content hash and emit the delta (added / removed /
    // changed rows), so downstream stages (dedup, embedding, indexing)
    // re-process only what moved. Versions are carved deterministically
    // from the fixture (v2 drops some docs, adds others, and edits
    // doc_id % 17 = 0). One shuffle on doc_id (full outer hash join);
    // per-side hashing is a pure projection, so at 100 TB the cost is the
    // join alone and AQE handles any hot-key skew.
    "q_corpus_snapshot_diff" -> sql(
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 3),
        |v2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END) AS h
        |       FROM documents WHERE doc_id % 13 <> 4)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |CASE WHEN v1.doc_id IS NULL THEN 'added'
        |     WHEN v2.doc_id IS NULL THEN 'removed'
        |     ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.h <> v2.h
        |ORDER BY doc_id""".stripMargin),

    // Deterministic global shuffle + shard assignment — the last step before
    // writing training shards: an md5-keyed pseudo-random order that any
    // engine reproduces, a fixed shard count, and a within-shard position.
    // Shard assignment is a pure projection (no shuffle); the position
    // needs exactly one shuffle on shard — at 100 TB this is
    // write.partitionBy(shard) + sortWithinPartitions(hx), which keeps each
    // output file independently ordered with no global sort.
    "q_text_shard" -> sql2(
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS STRING) || ':42') AS hx FROM documents)
        |SELECT doc_id,
        |CAST(CAST(conv(substr(hx, 1, 4), 16, 10) AS BIGINT) % 16 AS INT) AS shard,
        |row_number() OVER (PARTITION BY CAST(conv(substr(hx, 1, 4), 16, 10) AS BIGINT) % 16
        |                   ORDER BY hx, doc_id) AS pos
        |FROM h ORDER BY doc_id""".stripMargin,
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS hx FROM documents)
        |SELECT doc_id,
        |CAST(('0x' || substr(hx, 1, 4))::BIGINT % 16 AS INT) AS shard,
        |row_number() OVER (PARTITION BY ('0x' || substr(hx, 1, 4))::BIGINT % 16
        |                   ORDER BY hx, doc_id) AS pos
        |FROM h ORDER BY doc_id""".stripMargin),

    // Incremental dedup: near-dup the NEW batch (doc_id % 10 = 5) against
    // the EXISTING corpus (doc_id % 10 = 0) only — the daily-crawl
    // production shape; no corpus×corpus or new×new pair work, and the
    // corpus index (band buckets + word arrays) is the memoized persistent
    // build side, so each batch pays only its own signature pass. Oracle:
    // brute-force cross-subset Jaccard.
    "q_dedup_incremental" -> df(
      (s, d) => MinHashDedup.incrementalNearDuplicates(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 5),
        corpusIndexCached(s, d),
        0.95),
      """WITH dn AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5),
        |dc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |wn AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM dn),
        |wc AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM dc),
        |szn AS (SELECT doc_id, COUNT(*) AS n FROM wn GROUP BY doc_id),
        |szc AS (SELECT doc_id, COUNT(*) AS n FROM wc GROUP BY doc_id),
        |c AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, COUNT(*) AS c
        |      FROM wn n JOIN wc o ON n.word = o.word GROUP BY n.doc_id, o.doc_id),
        |m AS (SELECT new_id, old_id
        |      FROM c JOIN szn ON new_id = szn.doc_id JOIN szc ON old_id = szc.doc_id
        |      WHERE c >= 0.95 * (szn.n + szc.n - c))
        |SELECT new_id, COUNT(*) AS n_matches, MIN(old_id) AS first_match
        |FROM m GROUP BY new_id ORDER BY new_id""".stripMargin),

    // ---- similarity search ----
    "q_ann_topk" -> sql2(AnnSql.bruteTopKSpark(5), AnnSql.bruteTopKDuck(5)),

    // Matryoshka truncation sizing study: brute top-10 overlap between the
    // full 64-dim cosine and the 16-dim-prefix cosine, per query (AnnSql
    // doc — the evaluation harness an embedding-budget decision runs).
    "q_embed_matryoshka_eval" -> sql2(AnnSql.matryoshkaSpark, AnnSql.matryoshkaDuck),
    "q_ann_topk_native" -> sql2(AnnSql.nativeTopKSpark(5), AnnSql.bruteTopKDuck(5)),
    "q_ann_lsh" -> QuerySpec(
      (s, d) => {
        registerSig(s, d)
        s.sql(AnnSql.lshTopKFromSigSpark(3))
      },
      Some(AnnSql.lshTopKDuck(3))),
    // Hard-negative mining for contrastive training: per anchor, the k
    // most-similar DIFFERENT-label vectors from the shared LSH candidate
    // chain (AnnSql.hardNegativesFromSigSpark doc).
    "q_ann_hard_negatives" -> QuerySpec(
      (s, d) => {
        registerSig(s, d)
        s.sql(AnnSql.hardNegativesFromSigSpark(3))
      },
      Some(AnnSql.hardNegativesDuck(3))),

    "q_ann_ivf" -> sql2(AnnSql.ivfTopKSpark(3), AnnSql.ivfTopKDuck(3)),

    // IVF recall-vs-nprobe tuning curve: recall@3 against the exact brute
    // ground truth at nprobe = 1/2/4, integer hit counts end to end — the
    // probe budget report an ANN deployment fixes its latency/recall
    // trade-off with (AnnSql.recallCurveSpark doc).
    "q_ann_recall_curve" -> sql2(AnnSql.recallCurveSpark, AnnSql.recallCurveDuck),

    // Rank-quality companion to the recall curve: nDCG@10 of the flat IVF
    // probe path against the exact brute ground truth, integer micro-gain
    // arithmetic over the neutral-log kernel (AnnSql.ndcgText doc).
    "q_search_ndcg" -> sql2(AnnSql.ndcgSpark, AnnSql.ndcgDuck),

    // Two-level IVF: coarse assignment probes ~sqrt(nlist) first-level
    // cells, then equi-joins to the centroids inside them — kills the flat
    // design's O(N·sqrt N) assignment (AnnSql.ivfHierSql doc).
    "q_ann_ivf_hier" -> sql2(AnnSql.ivfHierTopKSpark(3), AnnSql.ivfHierTopKDuck(3)),

    // External cluster validity of the quantizer cells vs ground-truth
    // labels: purity / MI / NMI off the integer contingency table
    // (AnnSql.purityNmiSql doc).
    "q_cluster_purity" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        AnnSql.purityNmiSparkStaged(s)
      },
      Some(AnnSql.purityNmiDuck)),

    // Internal cluster validity when no labels exist: quantizer-routed
    // simplified silhouette per cell + corpus rollup (AnnSql.silhouetteSql
    // doc) — the unlabeled twin of q_cluster_purity.
    "q_cluster_silhouette" -> sql2(AnnSql.silhouetteSpark, AnnSql.silhouetteDuck),

    // IVF maintenance: hot-list detection + deterministic 2-means split
    // proposal, one assignment pass + windows (AnnSql.listRebalanceSql doc).
    "q_ann_list_rebalance" -> sql2(AnnSql.listRebalanceSpark, AnnSql.listRebalanceDuck),

    // SemDeDup: cluster-then-prune semantic dedup (AnnSql.semDedupSql doc).
    "q_dedup_semantic" -> sql2(AnnSql.semDedupSpark, AnnSql.semDedupDuck),

    // Coreset / prototype selection: per-cluster top-m most-central members.
    "q_sample_coreset" -> sql2(AnnSql.coresetSpark(4), AnnSql.coresetDuck(4)),

    // Product-quantization codebook assignment (the IVF-PQ compression
    // path): 64 floats → 8 codebook codes, integer-exact distortion
    // accounting per (subspace, code).
    "q_ann_pq" -> sql2(AnnSql.pqAssignSpark, AnnSql.pqAssignDuck),

    // One k-means Lloyd step over the IVF centroid seeds (fixed-point
    // quantized, so assignment + per-cluster stats are integer-exact in
    // both engines) — the index-build iteration behind q_ann_ivf.
    "q_ann_kmeans" -> sql2(AnnSql.kmeansStepSpark, AnnSql.kmeansStepDuck),

    // Sampled k-means training: the Lloyd step over a bounded
    // deterministic sample — O(|sample|·k) per iteration regardless of N,
    // the production IVF training budget (AnnSql.kmeansSampledSql doc).
    "q_ann_kmeans_sampled" -> sql2(AnnSql.kmeansSampledSpark(), AnnSql.kmeansSampledDuck()),

    // ADC top-k search over the PQ codes (the query path of IVF-PQ): LUT
    // equi-join on (subspace, code), 8 lookups + one SUM per candidate —
    // the corpus side is codes only, never raw vectors (AnnSql.pqSearchSql
    // doc).
    "q_ann_pq_search" -> sql2(AnnSql.pqSearchSpark(5), AnnSql.pqSearchDuck(5)),

    // IVF-PQ composed search: nprobe IVF-list restriction × PQ LUT
    // scoring — the production ANN index shape (AnnSql.ivfPqSearchSql
    // doc).
    "q_ann_ivfpq" -> sql2(AnnSql.ivfPqSearchSpark(5), AnnSql.ivfPqSearchDuck(5)),

    // Residual IVF-PQ: codes quantize x − centroid(x), per-list query LUTs
    // — the full FAISS IVFPQ fidelity at the same 8-byte code budget
    // (AnnSql.ivfPqResidualSql doc).
    "q_ann_ivfpq_residual" -> sql2(AnnSql.ivfPqResidualSpark(5), AnnSql.ivfPqResidualDuck(5)),

    // Random-projection (JL) dimensionality reduction: every embedding
    // onto 8 fixed Gaussian directions — the embedding-compression pass
    // before storage/coarse search; one scan, pure projection
    // (AnnSql.projectSpark doc).
    "q_embed_project" -> sql2(AnnSql.projectSpark, AnnSql.projectDuck),

    // Linear-probe classifier inference over embeddings: broadcast weight
    // vector, codegen'd dot, sign prediction + per-label agreement rollup
    // (AnnSql.linearProbeSql doc).
    "q_embed_classify" -> sql2(AnnSql.linearProbeSpark, AnnSql.linearProbeDuck),

    // Linear-probe TRAINING: 3 unrolled averaged-perceptron batch rounds
    // over the quantized embeddings, bit-identical trajectory in both
    // engines — the pass that produces the weight vector
    // q_embed_classify consumes (AnnSql.probeTrainSql doc).
    "q_embed_probe_train" -> sql2(AnnSql.probeTrainSpark(), AnnSql.probeTrainDuck()),

    // Document chunking: 128-word sliding windows with 64-word stride (50%
    // overlap) — the splitting step that turns long documents into
    // training-context-sized pieces. Pure per-row explode + slice: no
    // shuffle until the final sort, embarrassingly parallel at any scale.
    "q_text_chunk" -> sql2(
      """WITH w AS (SELECT doc_id, split(text, ' ') AS words FROM documents
        |           WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, i AS chunk_id,
        |             array_join(slice(words, i * 64 + 1, 128), ' ') AS chunk
        |      FROM w LATERAL VIEW explode(sequence(0, CAST(ceil(size(words) / 64.0) AS INT))) x AS i
        |      WHERE i * 64 < size(words))
        |SELECT doc_id, chunk_id, chunk, size(split(chunk, ' ')) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE doc_id % 20 = 0),
        |c AS (SELECT doc_id, i AS chunk_id,
        |             array_to_string(list_slice(words, i * 64 + 1, i * 64 + 128), ' ') AS chunk
        |      FROM (SELECT doc_id, words,
        |                   unnest(range(0, CAST(CEIL(len(words) / 64.0) AS BIGINT) + 1)) AS i
        |            FROM w) s
        |      WHERE i * 64 < len(words))
        |SELECT doc_id, chunk_id, chunk, len(string_split(chunk, ' ')) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    // Content-defined chunking (CDC): chunk boundaries where the rolling
    // hash of a 4-word window ≡ 0 (mod 16), so boundaries — unlike fixed
    // 64-word strides — survive insertions/deletions and shifted copies
    // still produce identical chunks for dedup. Hash = the engines' shared
    // md5-prefix integer (the q_text_train_split primitive); chunk ids via
    // a per-document running boundary count, chunk text recovered by
    // slicing the original word array between boundary extents (no
    // collect_list ordering hazards). Per-row explode + one partitioned
    // window + one equi-join back to the doc — linear in corpus size.
    "q_text_chunk_cdc" -> sql2(
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents WHERE doc_id % 20 = 0),
        |p AS (SELECT doc_id, i,
        |             CASE WHEN i = 1 OR (i + 3 <= size(w) AND
        |                  CAST(conv(substr(md5(array_join(slice(w, i, 4), ' ')), 1, 8), 16, 10) AS BIGINT) % 16 = 0)
        |                  THEN 1 ELSE 0 END AS b
        |      FROM d LATERAL VIEW explode(sequence(1, size(w))) x AS i),
        |c AS (SELECT doc_id, i,
        |             SUM(b) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS cid
        |      FROM p),
        |e AS (SELECT doc_id, CAST(cid AS INT) AS chunk_id, MIN(i) AS s, MAX(i) AS e
        |      FROM c GROUP BY doc_id, cid)
        |SELECT e.doc_id, chunk_id, CAST(e.e - e.s + 1 AS INT) AS n_words,
        |       md5(array_join(slice(d.w, e.s, e.e - e.s + 1), ' ')) AS chunk_hash
        |FROM e JOIN d ON e.doc_id = d.doc_id
        |ORDER BY doc_id, chunk_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 20 = 0),
        |p AS (SELECT doc_id, i,
        |             CASE WHEN i = 1 OR (i + 3 <= len(w) AND
        |                  ('0x' || substr(md5(array_to_string(list_slice(w, i, i + 3), ' ')), 1, 8))::BIGINT % 16 = 0)
        |                  THEN 1 ELSE 0 END AS b
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d) z),
        |c AS (SELECT doc_id, i,
        |             SUM(b) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS cid
        |      FROM p),
        |e AS (SELECT doc_id, CAST(cid AS INT) AS chunk_id, MIN(i) AS s, MAX(i) AS e
        |      FROM c GROUP BY doc_id, cid)
        |SELECT e.doc_id, chunk_id, CAST(e.e - e.s + 1 AS INT) AS n_words,
        |       md5(array_to_string(list_slice(d.w, e.s, e.e), ' ')) AS chunk_hash
        |FROM e JOIN d ON e.doc_id = d.doc_id
        |ORDER BY e.doc_id, chunk_id""".stripMargin),

    // Sequence packing: deterministic start-offset binning — docs are laid
    // end-to-end per shard in doc_id order and a doc's bin is the 2048-token
    // block its first token lands in (integer arithmetic, so both engines
    // agree exactly). Sharding keeps the running-sum window partitioned (no
    // global single-reducer sort at scale); production packing runs the
    // same plan with shard = input split.
    // Oracle note (applies to every integer SUM below): DuckDB widens
    // SUM(BIGINT) to HUGEINT, which the oracle harness materializes as
    // float64 ("2049.0" vs Spark's int64 "2049" → hash mismatch); CAST the
    // aggregate back to BIGINT on the DuckDB side.
    "q_text_pack" -> sql2(
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard, size(split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT shard, doc_id, n,
        |             SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT shard, CAST(floor((cum - n) / 2048.0) AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs, SUM(n) AS n_tokens
        |FROM c GROUP BY shard, CAST(floor((cum - n) / 2048.0) AS BIGINT)
        |ORDER BY shard, bin""".stripMargin,
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard, len(string_split(text, ' ')) AS n
        |           FROM documents),
        |c AS (SELECT shard, doc_id, n,
        |             SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT shard, CAST(floor((cum - n) / 2048.0) AS BIGINT) AS bin,
        |       COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM c GROUP BY shard, CAST(floor((cum - n) / 2048.0) AS BIGINT)
        |ORDER BY shard, bin""".stripMargin),

    // Deterministic stratified sampling: per-source rates (a data-mixing
    // step — upsample rare sources, downsample bulk crawl) via an
    // md5-derived bucket, so the sample is reproducible on any engine and
    // any run — the same primitive as q_text_train_split, parameterized
    // per stratum. Pure scan + filter: no shuffle except the final rollup.
    "q_text_sample" -> sql2(
      """SELECT source, COUNT(*) AS n_sampled, SUM(n_chars) AS chars FROM (
        |  SELECT source, n_chars,
        |         CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 AS b
        |  FROM documents) t
        |WHERE b < CASE source WHEN 'web' THEN 25 WHEN 'books' THEN 80 ELSE 50 END
        |GROUP BY source ORDER BY source""".stripMargin,
      """SELECT source, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS chars FROM (
        |  SELECT source, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
        |  FROM documents) t
        |WHERE b < CASE source WHEN 'web' THEN 25 WHEN 'books' THEN 80 ELSE 50 END
        |GROUP BY source ORDER BY source""".stripMargin),

    // Token-budget data mixing: each source admits documents in doc_id
    // order until its token budget fills (a doc is admitted iff its FIRST
    // token lands inside the budget — same integer running-sum rule as
    // q_text_pack, so both engines agree exactly). The per-source budgets
    // are the mixture weights of a training run; at scale this is one
    // windowed running sum per source partition, no global sort.
    "q_mix_budget" -> sql2(
      """WITH t AS (SELECT doc_id, source, size(split(text, ' ')) AS n,
        |                  CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2000 ELSE 800 END AS budget
        |           FROM documents),
        |c AS (SELECT source, budget, doc_id, n,
        |             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT source, budget, COUNT(*) AS n_docs, SUM(n) AS n_tokens
        |FROM c WHERE cum - n < budget
        |GROUP BY source, budget ORDER BY source""".stripMargin,
      """WITH t AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n,
        |                  CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2000 ELSE 800 END AS budget
        |           FROM documents),
        |c AS (SELECT source, budget, doc_id, n,
        |             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT source, budget, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM c WHERE cum - n < budget
        |GROUP BY source, budget ORDER BY source""".stripMargin),

    // Temperature-based domain rebalancing (alpha-sampling, the
    // multilingual/multi-domain mix rule of mBERT/mT5, arXiv:2010.11934
    // §3.1, and the GPT-3 data mix): sample source l at probability
    // q_l ∝ n_l^alpha with alpha = 0.3, flattening the corpus distribution
    // so rare domains are up-weighted without letting any one dominate.
    // The per-source admission rate is materialized in basis points and
    // admission is the md5-bucket rule, so the draw is deterministic.
    //
    // Determinism: n^0.3 rides the engine-neutral ln/exp kernels
    // (alphaWeightCtes — zero libm involvement, shared text), FLOOR+0.5'd
    // to integer micro-units before any further arithmetic; everything
    // after is integer.
    //
    // 100 TB shape: per-source stats are a K-row map-side-combined
    // aggregate; the rate table joins back broadcast (K rows); admission
    // is a pure projection filter; the rollup is K rows again. Two
    // column-pruned corpus scans total (stats + admission — the CTE
    // re-inline documented in SCALE.md), no shuffle wider than K.
    "q_mix_temperature" -> sql2(
      temperatureMixSparkSql(),
      s"""WITH src AS (SELECT source, COUNT(*) AS n_docs,
        |                    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_toks
        |             FROM documents GROUP BY source),
        |${alphaWeightCtes(NeutralMath.OracleKernel)},
        |tot AS (SELECT CAST(SUM(w_int) AS BIGINT) AS tw FROM w),
        |rate AS (SELECT source, n_docs, n_toks, w_int,
        |                LEAST(CAST(10000 AS BIGINT),
        |                      (200 * w_int // tw) * 10000 // n_docs) AS rate_bp
        |         FROM w CROSS JOIN tot),
        |adm AS (SELECT d.source, len(string_split(d.text, ' ')) AS n
        |        FROM documents d JOIN rate r ON d.source = r.source
        |        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < r.rate_bp)
        |SELECT r.source, r.n_docs, CAST(r.w_int AS DOUBLE) / 1.0E6 AS weight,
        |       CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |       COUNT(adm.n) AS n_sampled,
        |       CAST(COALESCE(SUM(adm.n), 0) AS BIGINT) AS toks_sampled
        |FROM rate r LEFT JOIN adm ON r.source = adm.source
        |GROUP BY r.source, r.n_docs, r.w_int, r.rate_bp
        |ORDER BY r.source""".stripMargin),

    // FineWeb-style snapshot refresh: when a new corpus snapshot (v2)
    // lands, exact-dedup WITHIN the snapshot (per-snapshot dedup — the
    // FineWeb finding that each snapshot deduped independently beats one
    // global pass), tag each kept doc against the previous snapshot (v1)
    // as carried/changed/new via content hash, then admit docs per source
    // under the token-budget mix (same integer running-sum admission rule
    // as q_mix_budget). The per-(source, status) rollup is the refresh
    // report a pipeline operator actually reads: how much of the admitted
    // budget is new work vs carried-forward content.
    //
    // 100 TB shape: two column-pruned scans of documents (v1 is a pure
    // hash projection; v2 adds the snapshot-local dedup aggregate), one
    // equi LEFT join on doc_id for the status tag, one per-source window
    // for admission — shuffles on content-hash, doc_id, and source only;
    // every aggregate is map-side combined and nothing is
    // corpus-cardinality-wide after the admission filter.
    "q_mix_snapshot_refresh" -> sql2(
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 3),
        |v2 AS (SELECT doc_id, source, text,
        |              md5(CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END) AS h
        |       FROM documents WHERE doc_id % 13 <> 4),
        |kept AS (SELECT MIN(doc_id) AS doc_id FROM v2 GROUP BY h),
        |d2 AS (SELECT v2.doc_id, v2.source, v2.h,
        |              size(split(v2.text, ' ')) AS n
        |       FROM v2 JOIN kept ON v2.doc_id = kept.doc_id),
        |st AS (SELECT d2.doc_id, d2.source, d2.n,
        |              CASE WHEN v1.doc_id IS NULL THEN 'new'
        |                   WHEN v1.h <> d2.h THEN 'changed'
        |                   ELSE 'carried' END AS status,
        |              CASE WHEN d2.source IN ('src0', 'src1', 'src2')
        |                   THEN 2000 ELSE 800 END AS budget
        |       FROM d2 LEFT JOIN v1 ON d2.doc_id = v1.doc_id),
        |c AS (SELECT source, status, budget, doc_id, n,
        |             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM st)
        |SELECT source, status, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM c WHERE cum - n < budget
        |GROUP BY source, status ORDER BY source, status""".stripMargin,
      """WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 3),
        |v2 AS (SELECT doc_id, source, text,
        |              md5(CASE WHEN doc_id % 17 = 0 THEN upper(text) ELSE text END) AS h
        |       FROM documents WHERE doc_id % 13 <> 4),
        |kept AS (SELECT MIN(doc_id) AS doc_id FROM v2 GROUP BY h),
        |d2 AS (SELECT v2.doc_id, v2.source, v2.h,
        |              len(string_split(v2.text, ' ')) AS n
        |       FROM v2 JOIN kept ON v2.doc_id = kept.doc_id),
        |st AS (SELECT d2.doc_id, d2.source, d2.n,
        |              CASE WHEN v1.doc_id IS NULL THEN 'new'
        |                   WHEN v1.h <> d2.h THEN 'changed'
        |                   ELSE 'carried' END AS status,
        |              CASE WHEN d2.source IN ('src0', 'src1', 'src2')
        |                   THEN 2000 ELSE 800 END AS budget
        |       FROM d2 LEFT JOIN v1 ON d2.doc_id = v1.doc_id),
        |c AS (SELECT source, status, budget, doc_id, n,
        |             SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS UNBOUNDED PRECEDING) AS cum FROM st)
        |SELECT source, status, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM c WHERE cum - n < budget
        |GROUP BY source, status ORDER BY source, status""".stripMargin),

    // Fixed-size deterministic per-stratum sample: the k smallest md5
    // hashes per source — a reproducible "random" eval subset of exactly k
    // docs per stratum on any engine, any run. One ranked window per
    // source partition; at scale the per-partition top-k never globally
    // sorts.
    "q_sample_fixed_k" -> sql2(
      """SELECT source, CAST(rk AS INT) AS rk, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin,
      """SELECT source, CAST(rk AS INT) AS rk, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 5 ORDER BY source, rk""".stripMargin),

    // End-to-end pipeline composition: exact dedup -> length/quality gate
    // -> deterministic train/eval split -> per-(split, source) token
    // accounting, all in ONE declarative plan — the shape of a production
    // corpus-preparation job. Plan: two pruned scans of documents (the
    // dedup-keeper aggregate and the detail side it joins back to; both
    // read only the needed columns) and the dedup/join/rollup shuffles.
    "q_llm_pipeline" -> sql2(
      """WITH kept AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(lower(trim(text)))),
        |d AS (SELECT doc_id, source, size(split(text, ' ')) AS n_words
        |      FROM documents JOIN kept USING (doc_id)),
        |f AS (SELECT * FROM d WHERE n_words >= 20 AND n_words <= 500),
        |s AS (SELECT *, CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 < 90
        |                     THEN 'train' ELSE 'eval' END AS split FROM f)
        |SELECT split, source, COUNT(*) AS n_docs, SUM(n_words) AS n_tokens
        |FROM s GROUP BY split, source ORDER BY split, source""".stripMargin,
      """WITH kept AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(lower(trim(text)))),
        |d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
        |      FROM documents JOIN kept USING (doc_id)),
        |f AS (SELECT * FROM d WHERE n_words >= 20 AND n_words <= 500),
        |s AS (SELECT *, CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
        |                     THEN 'train' ELSE 'eval' END AS split FROM f)
        |SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM s GROUP BY split, source ORDER BY split, source""".stripMargin),

    // Soft quality filtering (DCLM/FineWeb-style): instead of a hard
    // score cutoff, each document's keep PROBABILITY follows its quality
    // score (a lexicon-hit ratio in integer basis points — the lexicon
    // drawn from the fixture vocabulary so the score actually varies),
    // realized deterministically by comparing an md5-derived bucket
    // against the per-doc rate — reproducible on any engine, no RNG
    // state. Pure scan -> project -> filter -> rollup; the aggregate
    // reports kept counts and mean quality per source so the reweighting
    // effect is visible.
    "q_text_soft_filter" -> sql2(
      """WITH q AS (SELECT doc_id, source,
        |  size(split(text, ' ')) AS n_words,
        |  CAST(FLOOR(size(filter(split(text, ' '), w -> w IN ('join', 'hash', 'row', 'scan', 'filter')))
        |       * 10000.0 / size(split(text, ' ')) + 0.5) AS BIGINT) AS stop_bp,
        |  CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10000 AS b
        |  FROM documents),
        |k AS (SELECT * FROM q WHERE b < 2000 + 7 * stop_bp)
        |SELECT source, COUNT(*) AS n_kept,
        |CAST(FLOOR(AVG(CAST(stop_bp AS DOUBLE)) + 0.5) AS BIGINT) AS mean_stop_bp,
        |CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
      """WITH q AS (SELECT doc_id, source,
        |  len(string_split(text, ' ')) AS n_words,
        |  CAST(FLOOR(len(list_filter(string_split(text, ' '), w -> w IN ('join', 'hash', 'row', 'scan', 'filter')))
        |       * 10000.0 / len(string_split(text, ' ')) + 0.5) AS BIGINT) AS stop_bp,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS b
        |  FROM documents),
        |k AS (SELECT * FROM q WHERE b < 2000 + 7 * stop_bp)
        |SELECT source, COUNT(*) AS n_kept,
        |CAST(FLOOR(AVG(CAST(stop_bp AS DOUBLE)) + 0.5) AS BIGINT) AS mean_stop_bp,
        |CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin),

    // Pipeline funnel: per-stage survivor accounting for the SAME stages
    // as q_llm_pipeline (input -> exact-dedup keep -> quality gate ->
    // train/eval split), computed as ONE conditional aggregate over
    // per-doc stage flags — the observability query a curation run emits
    // so a stage silently dropping 40% of the corpus is visible. One scan
    // + the dedup-keeper LEFT JOIN; no per-stage re-scans.
    "q_pipeline_funnel" -> sql2(
      """WITH kept AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(lower(trim(text)))),
        |f AS (SELECT d.doc_id, size(split(d.text, ' ')) AS n_words,
        |             k.doc_id IS NOT NULL AS is_kept,
        |             CAST(conv(substr(md5(CAST(d.doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 < 90 AS is_train
        |      FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id)
        |SELECT COUNT(*) AS n_input,
        |CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_post_dedup,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_gate,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 AND is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 AND NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
        |FROM f""".stripMargin,
      """WITH kept AS (SELECT MIN(doc_id) AS doc_id FROM documents
        |              GROUP BY md5(lower(trim(text)))),
        |f AS (SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_words,
        |             k.doc_id IS NOT NULL AS is_kept,
        |             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 AS is_train
        |      FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id)
        |SELECT COUNT(*) AS n_input,
        |CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_post_dedup,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_gate,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 AND is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |CAST(SUM(CASE WHEN is_kept AND n_words BETWEEN 20 AND 500 AND NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
        |FROM f""".stripMargin),

    // Text cleaning: strip URL/email tokens and collapse whitespace — the
    // normalization pass ahead of dedup/tokenization. (The fixture corpus
    // contains neither, so the oracle additionally verifies the two
    // engines' regex dialects agree on no-op inputs.)
    "q_text_clean" -> sql2(
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(text, 'https?://\\S+|\\S+@\\S+\\.\\S+', ' '), '\\s+', ' ')) AS clean,
        |size(split(trim(regexp_replace(regexp_replace(text, 'https?://\\S+|\\S+@\\S+\\.\\S+', ' '), '\\s+', ' ')), ' ')) AS n_words
        |FROM documents WHERE doc_id % 40 = 0 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |trim(regexp_replace(regexp_replace(text, 'https?://\S+|\S+@\S+\.\S+', ' ', 'g'), '\s+', ' ', 'g')) AS clean,
        |len(string_split(trim(regexp_replace(regexp_replace(text, 'https?://\S+|\S+@\S+\.\S+', ' ', 'g'), '\s+', ' ', 'g')), ' ')) AS n_words
        |FROM documents WHERE doc_id % 40 = 0 ORDER BY doc_id""".stripMargin),

    // TF-IDF keyword extraction: top-3 salient terms per document. Two
    // hash aggregations over the word stream (term frequency per doc,
    // document frequency per term — both map-side combined), one
    // equi-join on the term, one partitioned window for the per-doc
    // top-k; no global sort of the score table. The corpus size N is a
    // column-pruned row count of the documents subset — every doc has a
    // word row (split('') = ['']), so COUNT(*) == COUNT(DISTINCT doc_id)
    // over the explode, without a third pass through it. Cross-engine determinism: the idf ln() is transcendental
    // (its 6-decimal rounding has no exact-tie boundary, unlike money
    // sums), the ranking runs on the ROUNDED score, and ties break on the
    // term text.
    "q_text_tfidf" -> sql2(
      s"""WITH w AS (SELECT doc_id, word FROM documents
         |           LATERAL VIEW explode(split(text, ' ')) t AS word
         |           WHERE doc_id % 5 = 0),
         |${tfidfTail(NeutralMath.SparkKernel)}""".stripMargin,
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |           FROM documents WHERE doc_id % 5 = 0),
         |${tfidfTail(NeutralMath.OracleKernel)}""".stripMargin),

    // BPE-style merge-candidate counting (the inner step of tokenizer
    // vocabulary induction): count adjacent symbol pairs corpus-wide and
    // rank the merge candidates. Pairs come straight from array indexing
    // over the split text (no window, no self-join — one explode over a
    // per-doc index range, then one map-side-combined aggregation); the
    // final top-20 sort runs on the |vocab|² pair table, which is constant
    // in corpus size. Spark element_at and DuckDB w[i] are both 1-based.
    "q_text_bigram_merge" -> sql2(
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents WHERE size(split(text, ' ')) >= 2),
        |p AS (SELECT element_at(w, i) AS w1, element_at(w, i + 1) AS w2
        |      FROM d LATERAL VIEW explode(sequence(1, size(w) - 1)) x AS i)
        |SELECT w1, w2, COUNT(*) AS cnt FROM p GROUP BY w1, w2
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT w[i] AS w1, w[i + 1] AS w2
        |      FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d) z)
        |SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY w1, w2
        |ORDER BY cnt DESC, w1, w2 LIMIT 20""".stripMargin),

    // PII redaction with REAL matches (q_text_clean only proves the no-op
    // case): a contact string is composed from customer columns, then
    // email / phone / IPv4 patterns are replaced with typed placeholders
    // and counted. Patterns use [.] and [+] classes instead of
    // backslash-escapes so the identical pattern text is valid in both
    // regex dialects (Spark escapes backslashes inside SQL strings, DuckDB
    // does not). Pure scan→project, whole-stage codegen'd, trivially
    // partition-parallel at any scale.
    "q_text_pii" -> sql2(
      """WITH t AS (SELECT c_custkey,
        |  'reach ' || c_name || ' at user' || CAST(c_custkey AS STRING)
        |   || '@mail.example.com or +1-' || lpad(CAST(c_custkey % 1000 AS STRING), 3, '0')
        |   || '-' || lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')
        |   || ' from 10.' || CAST(c_custkey % 256 AS STRING) || '.'
        |   || CAST(c_nationkey % 256 AS STRING) || '.7' AS text
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._]+@[a-z0-9.-]+[a-z]', '<EMAIL>'),
        |    '[+]1-[0-9]{3}-[0-9]{4}', '<PHONE>'),
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>') AS redacted,
        |  size(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+[a-z]', 0)) AS n_email,
        |  size(regexp_extract_all(text, '[+]1-[0-9]{3}-[0-9]{4}', 0)) AS n_phone,
        |  size(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', 0)) AS n_ip
        |FROM t ORDER BY c_custkey""".stripMargin,
      """WITH t AS (SELECT c_custkey,
        |  'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
        |   || '@mail.example.com or +1-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
        |   || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
        |   || ' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
        |   || CAST(c_nationkey % 256 AS VARCHAR) || '.7' AS text
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9._]+@[a-z0-9.-]+[a-z]', '<EMAIL>', 'g'),
        |    '[+]1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.-]+[a-z]')) AS n_email,
        |  len(regexp_extract_all(text, '[+]1-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |  len(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS n_ip
        |FROM t ORDER BY c_custkey""".stripMargin),

    // Repetition quality signals (Gopher-style filters): top-unigram
    // frequency ratio and distinct-word ratio per document — high top_ratio
    // or low distinct_ratio flags degenerate/repetitive text. One explode +
    // two hash aggregations, map-side combined.
    "q_text_repetition" -> sql2(
      """WITH w AS (SELECT doc_id, word FROM documents
        |           LATERAL VIEW explode(split(text, ' ')) t AS word
        |           WHERE doc_id % 25 = 0),
        |f AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word),
        |a AS (SELECT doc_id, SUM(c) AS n, MAX(c) AS topc, COUNT(*) AS nd FROM f GROUP BY doc_id)
        |SELECT doc_id, n AS n_words,
        |CAST(topc AS DOUBLE) / n AS top_ratio,
        |CAST(nd AS DOUBLE) / n AS distinct_ratio
        |FROM a ORDER BY doc_id""".stripMargin,
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |           WHERE doc_id % 25 = 0),
        |f AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word),
        |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, MAX(c) AS topc, COUNT(*) AS nd FROM f GROUP BY doc_id)
        |SELECT doc_id, n AS n_words,
        |CAST(topc AS DOUBLE) / n AS top_ratio,
        |CAST(nd AS DOUBLE) / n AS distinct_ratio
        |FROM a ORDER BY doc_id""".stripMargin),

    // N-gram NOVELTY scoring — the marginal-contribution metric data
    // valuation ranks documents by (Carlini et al.'s dedup work measures
    // corpora this way): for every doc, the fraction (bp) of its distinct
    // 8-grams whose corpus-FIRST occurrence is this doc. A mirror/quote
    // document scores near 0; the canonical source of a template scores
    // high. One shingle pass, one MIN-per-gram-TYPE aggregate (map-side
    // combined, vocabulary-of-grams-bounded), one equi-join back — no
    // pairwise work, the span-dedup discipline applied to a per-doc
    // metric.
    "q_text_novelty" -> sql2(
      """WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, md5(array_join(slice(w, i, 8), ' ')) AS g
        |       FROM t LATERAL VIEW explode(sequence(1, GREATEST(size(w) - 7, 1))) x AS i
        |       WHERE i + 7 <= size(w)),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g),
        |n AS (SELECT sh.doc_id, COUNT(*) AS n_grams,
        |             SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_new
        |      FROM sh JOIN f ON sh.g = f.g GROUP BY sh.doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_new AS BIGINT) AS n_new,
        |       CAST(FLOOR(n_new * 10000.0 / n_grams + 0.5) AS BIGINT) AS novelty_bp
        |FROM n WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT doc_id, md5(array_to_string(list_slice(w, i, i + 7), ' ')) AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, GREATEST(len(w) - 7, 1) + 1)) AS i FROM t) z
        |       WHERE i + 7 <= len(w)),
        |f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g),
        |n AS (SELECT sh.doc_id, COUNT(*) AS n_grams,
        |             SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_new
        |      FROM sh JOIN f ON sh.g = f.g GROUP BY sh.doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_new AS BIGINT) AS n_new,
        |       CAST(FLOOR(n_new * 10000.0 / n_grams + 0.5) AS BIGINT) AS novelty_bp
        |FROM n WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),

    // Decontamination: flag training documents sharing any 8-gram with the
    // eval set (doc_id % 97) — the benchmark-leakage check every training
    // corpus needs. Candidate generation is an equi-join on the shingle
    // text (distinct eval shingles are the small build side → broadcast);
    // output restricted to a doc_id % 25 sample so the degenerate fixture
    // vocabulary doesn't explode the verified row set.
    "q_text_decontaminate" -> sql2(
      """WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, array_join(slice(w, i, 8), ' ') AS g
        |       FROM t LATERAL VIEW explode(sequence(1, GREATEST(size(w) - 7, 1))) x AS i
        |       WHERE i + 7 <= size(w)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.g = ev.g
        |         WHERE s.doc_id % 97 != 0)
        |SELECT doc_id FROM hits WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, GREATEST(len(w) - 7, 1) + 1)) AS i FROM t) z
        |       WHERE i + 7 <= len(w)),
        |ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.g = ev.g
        |         WHERE s.doc_id % 97 != 0)
        |SELECT doc_id FROM hits WHERE doc_id % 25 = 0 ORDER BY doc_id""".stripMargin),

    // Contamination SEVERITY (the graded companion to q_text_decontaminate,
    // the reporting shape of the GPT-3/PaLM n-gram overlap audits): for
    // every EVAL document, the fraction of its distinct 8-grams that occur
    // anywhere in the training split — 0 bp = clean, 10000 bp = fully
    // contained in train. The per-doc fraction is what decides "drop the
    // eval item vs drop the train doc"; the boolean form can't rank.
    // Plan: eval-side distinct grams are a constant-size build side (the
    // eval suite doesn't grow with the corpus) broadcast onto ONE train
    // shingle pass — no corpus-wide distinct, no pairwise work; the hit
    // set dedups AFTER the join (DISTINCT on (doc_id, g), shuffle keyed on
    // the eval grams only). Integer-exact basis points via the engine-
    // identical FLOOR(x + 0.5).
    "q_text_contamination_score" -> sql2(
      contaminationSparkSql(),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 7), ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, GREATEST(len(w) - 7, 1) + 1)) AS i FROM t) z
        |       WHERE i + 7 <= len(w)),
        |evg AS (SELECT DISTINCT doc_id, g FROM sh WHERE doc_id % 97 = 0),
        |evn AS (SELECT doc_id, COUNT(*) AS n_grams FROM evg GROUP BY doc_id),
        |hit AS (SELECT DISTINCT e.doc_id, e.g
        |        FROM evg e JOIN sh s ON e.g = s.g AND s.doc_id % 97 != 0),
        |hn AS (SELECT doc_id, COUNT(*) AS n_hit FROM hit GROUP BY doc_id)
        |SELECT evn.doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
        |       CAST(FLOOR(COALESCE(n_hit, 0) * 10000.0 / n_grams + 0.5) AS BIGINT) AS overlap_bp
        |FROM evn LEFT JOIN hn ON evn.doc_id = hn.doc_id
        |ORDER BY evn.doc_id""".stripMargin),

    // Paragraph-level corpus dedup (the CCNet/C4 line-dedup pass): hash
    // every 16-word block, keep only each block's FIRST occurrence
    // corpus-wide (MIN over the (doc_id, blk) struct — structs order
    // lexicographically in both engines, so the first-occurrence pick
    // stays a single map-side-combined MIN with no window and no encoded
    // BIGINT key to overflow at any doc count), and reassemble each
    // document from its surviving blocks in order. Two block-stream
    // consumers (the first-occurrence aggregate and the join probe side) —
    // the per-doc total block count is a pure projection off the word
    // array, NOT a third explode — plus one equi-join on the block text
    // and one per-doc rollup; never pairwise. Output: per-doc block counts
    // + md5 of the cleaned text (restricted to doc_id % 20 = 0; dedup
    // itself is corpus-wide).
    "q_text_paragraph_dedup" -> sql2(
      paragraphDedupSparkSql(),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, i AS blk, array_to_string(list_slice(w, i * 16 + 1, i * 16 + 16), ' ') AS btext
        |      FROM (SELECT doc_id, w, unnest(range(0,
        |              GREATEST(CAST(ceil(len(w) / 16.0) AS INT), 1))) AS i FROM t) z),
        |f AS (SELECT btext, MIN({'doc_id': doc_id, 'blk': blk}) AS fkey FROM b GROUP BY btext),
        |k AS (SELECT b.doc_id, b.blk, b.btext FROM b JOIN f
        |        ON b.btext = f.btext AND b.doc_id = f.fkey.doc_id AND b.blk = f.fkey.blk),
        |nb AS (SELECT doc_id, CAST(GREATEST(CAST(ceil(len(w) / 16.0) AS INT), 1) AS BIGINT) AS n_blocks FROM t),
        |nk AS (SELECT doc_id, COUNT(*) AS n_kept,
        |              md5(string_agg(btext, ' ' ORDER BY blk)) AS clean_hash
        |       FROM k GROUP BY doc_id)
        |SELECT nb.doc_id, n_blocks, COALESCE(n_kept, 0) AS n_kept,
        |       COALESCE(clean_hash, '') AS clean_hash
        |FROM nb LEFT JOIN nk ON nb.doc_id = nk.doc_id
        |WHERE nb.doc_id % 20 = 0 ORDER BY nb.doc_id""".stripMargin),

    // Corpus-frequency boilerplate fraction (the CCNet/RefinedWeb
    // repeated-content filter): a 6-gram occurring in >= 3 distinct
    // documents is boilerplate; each document's quality signal is the
    // fraction of its shingle positions covered by boilerplate shingles.
    // Plan: the shingle stream feeds two consumers, and Catalyst inlines
    // the CTE per consumer — but the two inlined copies are NOT the same
    // work: the document-frequency side must explode the full corpus
    // (irreducible — corpus-wide df is the operator), while the join-probe
    // copy inherits the pushed-down doc_id % 10 filter and explodes only
    // the 10% output slice BELOW its Generate. Staging the full stream
    // once and reading it twice was measured SLOWER at sf0.1 (2.2 s vs
    // 1.8 s): materializing costs a full write+2 reads and forfeits the
    // probe-side pruning, versus 1.1 explode-passes inline — and the
    // pruned shape holds at any scale (PlanAuditSpec pins 2 Generates +
    // the pre-explode filter). The boilerplate join is an equi-join on
    // the shingle — never pairwise. The fraction is reported in
    // engine-identical FLOOR(x*1e4 + 0.5) basis points (no
    // ROUND-on-double tie class).
    "q_text_boilerplate" -> sql2(
      """WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, array_join(slice(w, i, 6), ' ') AS g
        |       FROM t LATERAL VIEW explode(sequence(1, GREATEST(size(w) - 5, 1))) x AS i
        |       WHERE i + 5 <= size(w)),
        |bp AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY g) f
        |       WHERE df >= 3),
        |per AS (SELECT s.doc_id, COUNT(*) AS n_shingles, COUNT(bp.g) AS n_boiler
        |        FROM sh s LEFT JOIN bp ON s.g = bp.g
        |        WHERE s.doc_id % 10 = 0
        |        GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_boiler,
        |       CAST(FLOOR(n_boiler * 10000.0 / n_shingles + 0.5) AS BIGINT) AS boiler_bp
        |FROM per ORDER BY doc_id""".stripMargin,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, array_to_string(list_slice(w, i, i + 5), ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, GREATEST(len(w) - 5, 1) + 1)) AS i FROM t) z
        |       WHERE i + 5 <= len(w)),
        |bp AS (SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY g) f
        |       WHERE df >= 3),
        |per AS (SELECT s.doc_id, COUNT(*) AS n_shingles, COUNT(bp.g) AS n_boiler
        |        FROM sh s LEFT JOIN bp ON s.g = bp.g
        |        WHERE s.doc_id % 10 = 0
        |        GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_boiler,
        |       CAST(FLOOR(n_boiler * 10000.0 / n_shingles + 0.5) AS BIGINT) AS boiler_bp
        |FROM per ORDER BY doc_id""".stripMargin),

    // Length histogram: width_bucket binning — the corpus-profiling
    // primitive behind length-filter threshold tuning. Integer bin edges,
    // so both engines bin identically.
    "q_text_length_hist" -> sql2(
      """SELECT width_bucket(n_chars, 0, 500, 20) AS bin,
        |COUNT(*) AS n_docs, MIN(n_chars) AS lo, MAX(n_chars) AS hi
        |FROM documents GROUP BY width_bucket(n_chars, 0, 500, 20)
        |ORDER BY bin""".stripMargin,
      // DuckDB has no width_bucket: manual integer binning (bins of 25,
      // overflow bucket 21) reproduces it exactly
      """SELECT CASE WHEN n_chars < 0 THEN 0 WHEN n_chars >= 500 THEN 21
        |            ELSE CAST(FLOOR(n_chars / 25.0) AS INT) + 1 END AS bin,
        |COUNT(*) AS n_docs, MIN(n_chars) AS lo, MAX(n_chars) AS hi
        |FROM documents
        |GROUP BY 1 ORDER BY bin""".stripMargin),

    // ---- text analysis ----
    "q_text_stats" -> sql2(
      """SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars,
        |ROUND(AVG(size(split(text, ' '))), 2) AS avg_words,
        |MIN(n_chars) AS mn_chars, MAX(n_chars) AS mx_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      """SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 2) AS avg_chars,
        |ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_words,
        |MIN(n_chars) AS mn_chars, MAX(n_chars) AS mx_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // Language-ID heuristic: stopword-hit count (this corpus' vocabulary is
    // English-only, so the honest prediction is en/unk).
    "q_text_langid" -> sql2(
      """SELECT doc_id, lang,
        |CASE WHEN size(array_intersect(array_distinct(split(text, ' ')),
        |     array('the', 'and', 'of', 'to', 'in', 'a', 'is'))) >= 2 THEN 'en' ELSE 'unk' END AS pred_lang
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, lang,
        |CASE WHEN len(list_intersect(list_distinct(string_split(text, ' ')),
        |     ['the', 'and', 'of', 'to', 'in', 'a', 'is'])) >= 2 THEN 'en' ELSE 'unk' END AS pred_lang
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),

    // LLM-watermark detection (unigram green-list variant — Zhao et al.,
    // "Provable Robust Watermarking for AI-Generated Text",
    // arXiv:2306.17439; the per-token z-test is Kirchenbauer et al.,
    // arXiv:2301.10226 §4): a watermarking sampler boosts a pseudorandom
    // "green" half of the vocabulary, so generated text shows a green-token
    // excess. The detector recomputes the hash-keyed green list (md5 parity
    // — engine-identical), counts green hits per document, and flags
    // documents whose one-proportion z-score exceeds the 2σ threshold —
    // the synthetic-text screen a contamination-conscious corpus pass runs.
    // Determinism: n and green are exact integers; z rides one shared-text
    // SQRT (IEEE correctly rounded in both engines) and one division, then
    // quantizes to centi-units. 100 TB: one scan, per-doc map-side combine,
    // no joins at all. Docs under 16 tokens are below the test's power and
    // emit NULL z (explicitly, not a tiny-sample false flag).
    "q_text_watermark_detect" -> sql2(
      watermarkSql(
        """tok AS (SELECT doc_id, source, word
          |        FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word)""".stripMargin,
        "CAST(conv(substr(md5(word), 1, 6), 16, 10) AS BIGINT)"),
      watermarkSql(
        """tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
          |        FROM documents)""".stripMargin,
        "('0x' || substr(md5(word), 1, 6))::BIGINT")),

    // Per-source quality calibration: raw quality scores are not
    // comparable across sources (a classifier's score distribution drifts
    // per domain), so production curation selects by WITHIN-SOURCE
    // percentile, not by one absolute cut. percent_rank over (score,
    // doc_id) is tie-free and exact-rational — cross-engine identical —
    // and the window shuffles by source only (for a pathologically
    // dominant source the two-pass histogram percentile of
    // ExactQuantile/q_agg_winsorize is the drop-in skew fix). below_abs
    // counts kept docs an absolute 0.55 gate would have wrongly dropped —
    // the measurable payoff of calibrating.
    "q_text_quality_calibrate" -> sql2(
      """WITH s AS (SELECT doc_id, source, size(split(text, ' ')) AS n_words,
        |           size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE) AS score
        |           FROM documents),
        |r AS (SELECT doc_id, source, n_words, score,
        |             percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS pr
        |      FROM s)
        |SELECT source, COUNT(*) AS n_kept,
        |       CAST(SUM(CASE WHEN score < 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS below_abs,
        |       ROUND(MIN(score), 4) AS cutoff,
        |       CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM r WHERE pr >= 0.8 GROUP BY source ORDER BY source""".stripMargin,
      """WITH s AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_words,
        |           len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
        |           FROM documents),
        |r AS (SELECT doc_id, source, n_words, score,
        |             percent_rank() OVER (PARTITION BY source ORDER BY score, doc_id) AS pr
        |      FROM s)
        |SELECT source, COUNT(*) AS n_kept,
        |       CAST(SUM(CASE WHEN score < 0.55 THEN 1 ELSE 0 END) AS BIGINT) AS below_abs,
        |       ROUND(MIN(score), 4) AS cutoff,
        |       CAST(SUM(n_words) AS BIGINT) AS n_tokens
        |FROM r WHERE pr >= 0.8 GROUP BY source ORDER BY source""".stripMargin),

    "q_text_quality" -> sql2(
      """SELECT doc_id, n_chars, n_words, ROUND(cpw, 4) AS cpw, ROUND(ttr, 4) AS ttr,
        |CASE WHEN n_chars BETWEEN 50 AND 500 AND ttr >= 0.2 THEN 1 ELSE 0 END AS quality_ok
        |FROM (SELECT doc_id, n_chars, size(split(text, ' ')) AS n_words,
        |      n_chars / CAST(size(split(text, ' ')) AS DOUBLE) AS cpw,
        |      size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE) AS ttr
        |      FROM documents WHERE doc_id % 10 = 0) t
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, n_chars, n_words, ROUND(cpw, 4) AS cpw, ROUND(ttr, 4) AS ttr,
        |CASE WHEN n_chars BETWEEN 50 AND 500 AND ttr >= 0.2 THEN 1 ELSE 0 END AS quality_ok
        |FROM (SELECT doc_id, n_chars, len(string_split(text, ' ')) AS n_words,
        |      n_chars / CAST(len(string_split(text, ' ')) AS DOUBLE) AS cpw,
        |      len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
        |      FROM documents WHERE doc_id % 10 = 0) t
        |ORDER BY doc_id""".stripMargin),

    // Gopher quality-rule battery (Rae et al., arXiv:2112.11446 §A1.1 —
    // the rule set MassiveWeb filtering popularized, reused by RefinedWeb
    // and Dolma): per-doc word count bounds, mean-word-length band,
    // alphabetic-word fraction, symbol-to-word ratio, stopword presence,
    // and a top-unigram repetition gate, each emitted as its own flag plus
    // an overall pass and the FIRST failing rule as a reject reason (what
    // a curation pipeline logs). Word-count and repetition thresholds are
    // scaled to the synthetic corpus (20..80 words, top-unigram <= 0.12;
    // production uses Gopher's 50..100k / duplicate-line gates) so each
    // rule actually discriminates on the fixture; the mean-word-length
    // [3, 10], alpha >= 0.8, symbol <= 0.1, stopwords >= 2 gates are the
    // paper's own constants. EVERY gate compares integers (10*sumlen vs
    // 30*n etc.) — no float threshold can straddle an engine boundary.
    // One scan + one per-doc unigram rollup; all shuffles key on doc_id.
    "q_text_gopher_rules" -> sql2(
      """WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |base AS (SELECT doc_id, CAST(size(w) AS BIGINT) AS n,
        |         aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS sumlen,
        |         CAST(size(filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
        |                              OR x = 'in' OR x = 'to' OR x = 'be' OR x = 'that')) AS BIGINT) AS sw,
        |         CAST(size(filter(w, x -> x RLIKE '^[a-z]')) AS BIGINT) AS alphaw,
        |         CAST(size(filter(w, x -> x = '#' OR x LIKE '%...%')) AS BIGINT) AS symw
        |         FROM d),
        |top AS (SELECT doc_id, MAX(c) AS topc FROM (
        |        SELECT doc_id, word, COUNT(*) AS c
        |        FROM d LATERAL VIEW explode(w) t AS word GROUP BY doc_id, word) z
        |        GROUP BY doc_id),
        |r AS (SELECT base.doc_id, n, sumlen, sw, alphaw, symw, topc,
        |      CASE WHEN n BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r_wc,
        |      CASE WHEN 10 * sumlen BETWEEN 30 * n AND 100 * n THEN 1 ELSE 0 END AS r_mwl,
        |      CASE WHEN 10 * alphaw >= 8 * n THEN 1 ELSE 0 END AS r_alpha,
        |      CASE WHEN 10 * symw <= n THEN 1 ELSE 0 END AS r_sym,
        |      CASE WHEN sw >= 2 THEN 1 ELSE 0 END AS r_stop,
        |      CASE WHEN topc * 100 <= 12 * n THEN 1 ELSE 0 END AS r_rep
        |      FROM base JOIN top ON base.doc_id = top.doc_id)
        |SELECT doc_id, CAST(n AS INT) AS n_words,
        |       sumlen / CAST(n AS DOUBLE) AS mwl,
        |       CAST(sw AS INT) AS stop_hits,
        |       topc / CAST(n AS DOUBLE) AS top_frac,
        |       CAST(r_wc AS INT) AS r_wc, CAST(r_mwl AS INT) AS r_mwl,
        |       CAST(r_alpha AS INT) AS r_alpha, CAST(r_sym AS INT) AS r_sym,
        |       CAST(r_stop AS INT) AS r_stop, CAST(r_rep AS INT) AS r_rep,
        |       CAST(r_wc * r_mwl * r_alpha * r_sym * r_stop * r_rep AS INT) AS pass,
        |       CASE WHEN r_wc = 0 THEN 'word_count' WHEN r_mwl = 0 THEN 'mean_word_len'
        |            WHEN r_alpha = 0 THEN 'alpha_fraction' WHEN r_sym = 0 THEN 'symbol_ratio'
        |            WHEN r_stop = 0 THEN 'stopwords' WHEN r_rep = 0 THEN 'repetition'
        |            ELSE 'ok' END AS reason
        |FROM r ORDER BY doc_id""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id % 10 = 0),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
        |         CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sumlen,
        |         CAST(len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
        |                                  OR x = 'in' OR x = 'to' OR x = 'be' OR x = 'that')) AS BIGINT) AS sw,
        |         CAST(len(list_filter(w, x -> regexp_matches(x, '^[a-z]'))) AS BIGINT) AS alphaw,
        |         CAST(len(list_filter(w, x -> x = '#' OR x LIKE '%...%')) AS BIGINT) AS symw
        |         FROM d),
        |top AS (SELECT doc_id, MAX(c) AS topc FROM (
        |        SELECT doc_id, word, COUNT(*) AS c
        |        FROM (SELECT doc_id, unnest(w) AS word FROM d) u GROUP BY doc_id, word) z
        |        GROUP BY doc_id),
        |r AS (SELECT base.doc_id, n, sumlen, sw, alphaw, symw, topc,
        |      CASE WHEN n BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS r_wc,
        |      CASE WHEN 10 * sumlen BETWEEN 30 * n AND 100 * n THEN 1 ELSE 0 END AS r_mwl,
        |      CASE WHEN 10 * alphaw >= 8 * n THEN 1 ELSE 0 END AS r_alpha,
        |      CASE WHEN 10 * symw <= n THEN 1 ELSE 0 END AS r_sym,
        |      CASE WHEN sw >= 2 THEN 1 ELSE 0 END AS r_stop,
        |      CASE WHEN topc * 100 <= 12 * n THEN 1 ELSE 0 END AS r_rep
        |      FROM base JOIN top ON base.doc_id = top.doc_id)
        |SELECT doc_id, CAST(n AS INT) AS n_words,
        |       sumlen / CAST(n AS DOUBLE) AS mwl,
        |       CAST(sw AS INT) AS stop_hits,
        |       topc / CAST(n AS DOUBLE) AS top_frac,
        |       CAST(r_wc AS INT) AS r_wc, CAST(r_mwl AS INT) AS r_mwl,
        |       CAST(r_alpha AS INT) AS r_alpha, CAST(r_sym AS INT) AS r_sym,
        |       CAST(r_stop AS INT) AS r_stop, CAST(r_rep AS INT) AS r_rep,
        |       CAST(r_wc * r_mwl * r_alpha * r_sym * r_stop * r_rep AS INT) AS pass,
        |       CASE WHEN r_wc = 0 THEN 'word_count' WHEN r_mwl = 0 THEN 'mean_word_len'
        |            WHEN r_alpha = 0 THEN 'alpha_fraction' WHEN r_sym = 0 THEN 'symbol_ratio'
        |            WHEN r_stop = 0 THEN 'stopwords' WHEN r_rep = 0 THEN 'repetition'
        |            ELSE 'ok' END AS reason
        |FROM r ORDER BY doc_id""".stripMargin),

    // Inter-judge agreement audit: Cohen's kappa (Cohen, Educ. Psychol.
    // Meas. 1960) between two independent quality judges — the Gopher-
    // style structural rule (word count band + stopword presence) and
    // the lexical rule (TTR >= 0.2 + mean-word-length band, the
    // q_text_quality gates) — over the FULL corpus. This is the check a
    // curation pipeline runs before trusting ANY single filter: raw
    // agreement flatters judges that both say "keep" to everything;
    // kappa subtracts chance agreement. kappa = (n·Σagree − Σ_k r_k·c_k)
    // / (n² − Σ_k r_k·c_k): every term folds as an exact BIGINT off the
    // 2×2 contingency counts (integer cross-multiplied thresholds, the
    // gopher discipline — no float gate), and only the display quotient
    // divides. n² bounds BIGINT to ~3e9 docs; the doc'd rescale past
    // that is counts→milli-shares. One scan, no joins wider than the
    // 1-row contingency fold.
    "q_text_judge_kappa" -> sql2(
      s"""WITH d AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
         |base AS (SELECT doc_id, CAST(size(w) AS BIGINT) AS n,
         |         CAST(size(array_distinct(w)) AS BIGINT) AS dn,
         |         aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS sumlen,
         |         CAST(size(filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
         |                              OR x = 'in' OR x = 'to' OR x = 'be' OR x = 'that')) AS BIGINT) AS sw
         |         FROM d),
         |$kappaTail""".stripMargin,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n,
         |         CAST(len(list_distinct(w)) AS BIGINT) AS dn,
         |         CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS sumlen,
         |         CAST(len(list_filter(w, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'
         |                                  OR x = 'in' OR x = 'to' OR x = 'be' OR x = 'that')) AS BIGINT) AS sw
         |         FROM d),
         |$kappaTail""".stripMargin),

    // Per-source quota cap (the "no domain may dominate the mix" pipeline
    // stage): keep at most 40 docs per source, best-quality first (TTR
    // metric from q_text_quality, ROUNDed before ranking so ties break on
    // doc_id identically in both engines). TWO-stage top-K: a local rank
    // within (source, doc_id % 16) shards trims each source to 16×40 rows
    // BEFORE the global per-source rank — per-shard top-40 provably
    // contains the global top-40, so the result is exact, and at 100 TB a
    // hot source (half the corpus from one crawl domain) hits the global
    // window as ≤640 rows instead of concentrating the whole source on
    // one task. The same two-window shape is what AQE cannot do for you:
    // skew-join splitting doesn't apply to window partitions.
    "q_text_source_cap" -> sql2(
      """WITH q AS (SELECT doc_id, source,
        |           size(array_distinct(split(text, ' '))) / CAST(size(split(text, ' ')) AS DOUBLE) AS ttr
        |           FROM documents),
        |l AS (SELECT doc_id, source, ttr FROM (
        |  SELECT doc_id, source, ttr,
        |         row_number() OVER (PARTITION BY source, pmod(doc_id, 16)
        |                            ORDER BY ttr DESC, doc_id) AS lrk FROM q) t
        |  WHERE lrk <= 40),
        |r AS (SELECT doc_id, source, ttr,
        |      row_number() OVER (PARTITION BY source ORDER BY ttr DESC, doc_id) AS rk FROM l)
        |SELECT source, CAST(rk AS INT) AS rk, doc_id, ttr
        |FROM r WHERE rk <= 40 ORDER BY source, rk""".stripMargin,
      """WITH q AS (SELECT doc_id, source,
        |           len(list_distinct(string_split(text, ' '))) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
        |           FROM documents),
        |l AS (SELECT doc_id, source, ttr FROM (
        |  SELECT doc_id, source, ttr,
        |         row_number() OVER (PARTITION BY source, doc_id % 16
        |                            ORDER BY ttr DESC, doc_id) AS lrk FROM q) t
        |  WHERE lrk <= 40),
        |r AS (SELECT doc_id, source, ttr,
        |      row_number() OVER (PARTITION BY source ORDER BY ttr DESC, doc_id) AS rk FROM l)
        |SELECT source, CAST(rk AS INT) AS rk, doc_id, ttr
        |FROM r WHERE rk <= 40 ORDER BY source, rk""".stripMargin),

    "q_text_tokens" -> sql2(
      """SELECT doc_id, size(split(text, ' ')) AS ws_tokens,
        |size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens,
        |CAST(CEIL(n_chars / 4.0) AS BIGINT) AS approx_tokens
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |CAST(CEIL(n_chars / 4.0) AS BIGINT) AS approx_tokens
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),

    "q_text_fingerprint" -> sql2(
      """SELECT doc_id, md5(lower(trim(text))) AS content_hash,
        |md5(concat_ws(' ', sort_array(array_distinct(split(text, ' '))))) AS bag_hash,
        |substr(md5(text), 1, 8) AS short_fp
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, md5(lower(trim(text))) AS content_hash,
        |md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bag_hash,
        |substr(md5(text), 1, 8) AS short_fp
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),

    // Unigram-LM quality proxy: corpus word frequencies (phase 1, tiny —
    // broadcast) joined back to tokens, average log-probability per doc —
    // the language-model-free version of perplexity filtering.
    "q_text_unigram_logprob" -> sql2(
      // The word stream feeds the frequency aggregate AND the join probe;
      // as in q_text_boilerplate the probe-side inline copy explodes only
      // the pushed-down doc_id % 10 slice, so the inline form beats a
      // staged materialization (measured 0.5 s vs 1.0 s at sf0.1). tot =
      // corpus token count, computed as a pruned aggregate of the
      // documents table directly — summing freq's counts would re-derive
      // the full explode+aggregate subtree.
      s"""WITH w AS (SELECT doc_id, word FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word),
         |tot AS (SELECT CAST(SUM(size(split(text, ' '))) AS BIGINT) AS n FROM documents),
         |${unigramTail(NeutralMath.SparkKernel)}""".stripMargin,
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |tot AS (SELECT CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n FROM documents),
         |${unigramTail(NeutralMath.OracleKernel)}""".stripMargin),

    // Embedding covariance accumulation (the PCA/whitening precursor a
    // feature-space analysis pass runs before choosing projection dims):
    // upper-triangle raw moments (n, Σxy, Σx, Σy) per dimension pair over
    // a deterministic sample, on the fixed-point quantization — pure
    // integer sums, exact in any fold order, so both engines agree
    // bit-for-bit and the caller finishes cov = (Σxy − ΣxΣy/n)/n in one
    // driver-side pass over the 36-row result. One explode per axis with
    // the j >= i triangle filter — work is |sample| × d(d+1)/2 rows,
    // map-side combined to 36 groups; at 100 TB the sample bound (not N)
    // sizes the pass, same contract as q_ann_kmeans_sampled.
    "q_embed_covariance" -> sql2(
      """WITH s AS (SELECT vec_id,
        |           transform(slice(embedding, 1, 8),
        |                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) AS v
        |           FROM embeddings WHERE vec_id % 25 = 0),
        |p AS (SELECT i, j, element_at(v, i) AS vi, element_at(v, j) AS vj
        |      FROM s LATERAL VIEW explode(sequence(1, 8)) a AS i
        |             LATERAL VIEW explode(sequence(1, 8)) b AS j
        |      WHERE j >= i)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, COUNT(*) AS n,
        |       CAST(SUM(vi * vj) AS BIGINT) AS sxy,
        |       CAST(SUM(vi) AS BIGINT) AS sx,
        |       CAST(SUM(vj) AS BIGINT) AS sy
        |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin,
      """WITH s AS (SELECT vec_id,
        |           list_transform(list_slice(embedding, 1, 8),
        |                          x -> FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5)) AS v
        |           FROM embeddings WHERE vec_id % 25 = 0),
        |z1 AS (SELECT vec_id, v, unnest(range(1, 9)) AS i FROM s),
        |p AS (SELECT i, j, v[i] AS vi, v[j] AS vj
        |      FROM (SELECT vec_id, v, i, unnest(range(1, 9)) AS j FROM z1) z2
        |      WHERE j >= i)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, COUNT(*) AS n,
        |       CAST(SUM(vi * vj) AS BIGINT) AS sxy,
        |       CAST(SUM(vi) AS BIGINT) AS sx,
        |       CAST(SUM(vj) AS BIGINT) AS sy
        |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin),

    // Out-of-distribution scoring via diagonal Mahalanobis distance — the
    // embedding-space health check a pipeline runs on an incoming batch
    // (vec_id % 7 = 0) against the in-distribution reference (the rest):
    // per-dimension mean/variance from the reference, per-vector
    // z² = Σ_d (x_d − μ_d)²/σ²_d, top-20 most-OOD vectors. The division-
    // free integer form (n·x − s1)²·1000 DIV (n·s2 − s1²) keeps every
    // per-dim term a BIGINT, so the cross-dim sum is fold-order exact and
    // both engines agree bit-for-bit (milli-precision truncation per dim
    // only — ranking-stable with the vec_id tie-break). 100 TB shape: one
    // N·d explode map-side combined to d stat rows (broadcast), scoring
    // joins the batch's N·d rows to the d-row table on dim, TakeOrdered
    // top-20; reference stats come from a bounded sample at real scale
    // (the kmeans_sampled contract). Fixture bound: n·x ≈ 5e3·2e3 = 1e7,
    // squared 1e14, ×1000 = 1e17 < 2^63.
    "q_embed_ood_diag" -> sql2(
      """WITH x AS (SELECT vec_id, label, pos + 1 AS i,
        |                  CAST(FLOOR(CAST(el AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xi
        |           FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, el),
        |st AS (SELECT i, COUNT(*) AS n, CAST(SUM(xi) AS BIGINT) AS s1,
        |              CAST(SUM(xi * xi) AS BIGINT) AS s2
        |       FROM x WHERE vec_id % 7 != 0 GROUP BY i),
        |z AS (SELECT x.vec_id, x.label,
        |             ((st.n * x.xi - st.s1) * (st.n * x.xi - st.s1) * 1000)
        |               DIV GREATEST(st.n * st.s2 - st.s1 * st.s1, 1) AS z2m
        |      FROM x JOIN st ON x.i = st.i WHERE x.vec_id % 7 = 0),
        |sc AS (SELECT vec_id, label, CAST(SUM(z2m) AS BIGINT) AS z2_milli,
        |              COUNT(*) AS d
        |       FROM z GROUP BY vec_id, label),
        |sel AS (SELECT vec_id, label, z2_milli, d FROM sc
        |        ORDER BY z2_milli DESC, vec_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY z2_milli DESC, vec_id) AS INT) AS rk,
        |       vec_id, label, z2_milli,
        |       CAST(z2_milli AS DOUBLE) / CAST(d * 1000 AS BIGINT) AS z2_per_dim
        |FROM sel ORDER BY rk""".stripMargin,
      """WITH x AS (SELECT vec_id, label, i,
        |                  CAST(FLOOR(CAST(v[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xi
        |           FROM (SELECT vec_id, label, embedding AS v,
        |                        unnest(range(1, len(embedding) + 1)) AS i
        |                 FROM embeddings) t),
        |st AS (SELECT i, COUNT(*) AS n, CAST(SUM(xi) AS BIGINT) AS s1,
        |              CAST(SUM(xi * xi) AS BIGINT) AS s2
        |       FROM x WHERE vec_id % 7 != 0 GROUP BY i),
        |z AS (SELECT x.vec_id, x.label,
        |             ((st.n * x.xi - st.s1) * (st.n * x.xi - st.s1) * 1000)
        |               // GREATEST(st.n * st.s2 - st.s1 * st.s1, 1) AS z2m
        |      FROM x JOIN st ON x.i = st.i WHERE x.vec_id % 7 = 0),
        |sc AS (SELECT vec_id, label, CAST(SUM(z2m) AS BIGINT) AS z2_milli,
        |              COUNT(*) AS d
        |       FROM z GROUP BY vec_id, label),
        |sel AS (SELECT vec_id, label, z2_milli, d FROM sc
        |        ORDER BY z2_milli DESC, vec_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY z2_milli DESC, vec_id) AS INT) AS rk,
        |       vec_id, label, z2_milli,
        |       CAST(z2_milli AS DOUBLE) / CAST(d * 1000 AS BIGINT) AS z2_per_dim
        |FROM sel ORDER BY rk""".stripMargin),

    // Embedding drift between corpus snapshots — the monitoring operator a
    // pipeline runs when a new crawl lands: per label, the cosine between
    // the v1 and v2 centroid directions (versions carved with the same
    // deterministic predicates as q_corpus_snapshot_diff). A label whose
    // cos_bp sags signals its content distribution moved and downstream
    // indexes/classifiers need refreshing. Sums are fixed-point integers
    // (exact in any fold order); the only float ops are SQRT (IEEE
    // correctly-rounded, unlike LN/EXP), one multiply, one divide — then
    // FLOOR to basis points, so both engines agree exactly.
    //
    // 100 TB shape: one corpus scan explodes to |N|·d rows map-side
    // combined into (label, dim) cells — K·d rows — then a K-row rollup;
    // nothing after the first aggregate depends on N. (Per-cell integer
    // sums grow with N; past ~1e9 rows/label the DOUBLE cast rounds, but
    // identically on both engines.)
    "q_embed_snapshot_drift" -> sql2(
      """WITH x AS (SELECT vec_id, label, pos + 1 AS i,
        |                  CAST(FLOOR(CAST(el AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xi
        |           FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, el),
        |a AS (SELECT label, i,
        |             CAST(SUM(CASE WHEN vec_id % 11 <> 3 THEN xi END) AS BIGINT) AS sa,
        |             CAST(SUM(CASE WHEN vec_id % 13 <> 4 THEN xi END) AS BIGINT) AS sb
        |      FROM x GROUP BY label, i),
        |m AS (SELECT label, CAST(SUM(sa * sb) AS BIGINT) AS dot,
        |             CAST(SUM(sa * sa) AS BIGINT) AS na,
        |             CAST(SUM(sb * sb) AS BIGINT) AS nb
        |      FROM a GROUP BY label),
        |n AS (SELECT label,
        |             CAST(SUM(CASE WHEN vec_id % 11 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
        |             CAST(SUM(CASE WHEN vec_id % 13 <> 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2
        |      FROM embeddings GROUP BY label)
        |SELECT m.label, n.n_v1, n.n_v2,
        |       CAST(FLOOR(CAST(dot AS DOUBLE)
        |                  / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
        |                  * 10000 + 0.5) AS BIGINT) AS cos_bp
        |FROM m JOIN n ON m.label = n.label ORDER BY m.label""".stripMargin,
      """WITH x AS (SELECT vec_id, label, i,
        |                  CAST(FLOOR(CAST(v[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xi
        |           FROM (SELECT vec_id, label, embedding AS v,
        |                        unnest(range(1, len(embedding) + 1)) AS i
        |                 FROM embeddings) z),
        |a AS (SELECT label, i,
        |             CAST(SUM(CASE WHEN vec_id % 11 <> 3 THEN xi END) AS BIGINT) AS sa,
        |             CAST(SUM(CASE WHEN vec_id % 13 <> 4 THEN xi END) AS BIGINT) AS sb
        |      FROM x GROUP BY label, i),
        |m AS (SELECT label, CAST(SUM(sa * sb) AS BIGINT) AS dot,
        |             CAST(SUM(sa * sa) AS BIGINT) AS na,
        |             CAST(SUM(sb * sb) AS BIGINT) AS nb
        |      FROM a GROUP BY label),
        |n AS (SELECT label,
        |             CAST(SUM(CASE WHEN vec_id % 11 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
        |             CAST(SUM(CASE WHEN vec_id % 13 <> 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2
        |      FROM embeddings GROUP BY label)
        |SELECT m.label, n.n_v1, n.n_v2,
        |       CAST(FLOOR(CAST(dot AS DOUBLE)
        |                  / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
        |                  * 10000 + 0.5) AS BIGINT) AS cos_bp
        |FROM m JOIN n ON m.label = n.label ORDER BY m.label""".stripMargin),

    // int8 embedding quantization (per-vector max-abs scale, explicit
    // FLOOR(x+0.5) so both engines round identically).
    "q_embed_quantize" -> sql2(
      """WITH s AS (SELECT vec_id, embedding,
        |           array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |           FROM embeddings WHERE vec_id % 25 = 0)
        |SELECT vec_id, ROUND(ma, 6) AS max_abs,
        |aggregate(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT)),
        |          CAST(0 AS BIGINT), (a, x) -> a + abs(x)) AS q_l1,
        |element_at(transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT)), 1) AS q1
        |FROM s ORDER BY vec_id""".stripMargin,
      """WITH s AS (SELECT vec_id, embedding,
        |           list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |           FROM embeddings WHERE vec_id % 25 = 0)
        |SELECT vec_id, ROUND(ma, 6) AS max_abs,
        |CAST(list_sum(list_transform(embedding, x -> abs(CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT)))) AS BIGINT) AS q_l1,
        |list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))[1] AS q1
        |FROM s ORDER BY vec_id""".stripMargin),

    // ---- multimodal ----

    // Fixed-size frame chunking over binary payloads (the frame-sample
    // batch shape: payload → per-frame rows with stable indices).
    "q_multimodal_frames" -> sql2(
      """WITH p AS (SELECT doc_id, encode(text, 'UTF-8') AS payload FROM documents WHERE doc_id % 25 = 0)
        |SELECT doc_id, f AS frame_idx,
        |lower(hex(substring(payload, f * 16 + 1, 16))) AS frame_hex,
        |octet_length(substring(payload, f * 16 + 1, 16)) AS frame_len
        |FROM p LATERAL VIEW explode(sequence(0, CAST(CEIL(octet_length(payload) / 16.0) AS INT) - 1)) t AS f
        |WHERE octet_length(payload) > 0
        |ORDER BY doc_id, frame_idx""".stripMargin,
      // DuckDB can't substring BLOBs; the payload is UTF-8 of 1-byte ASCII
      // chars, so chunking the string then encoding each chunk is
      // byte-identical.
      """WITH p AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes
        |           FROM documents WHERE doc_id % 25 = 0),
        |fr AS (SELECT doc_id, text,
        |       unnest(generate_series(0, CAST(CEIL(n_bytes / 16.0) AS INT) - 1)) AS f
        |       FROM p)
        |SELECT doc_id, f AS frame_idx,
        |lower(hex(encode(substring(text, CAST(f * 16 + 1 AS INT), 16)))) AS frame_hex,
        |octet_length(encode(substring(text, CAST(f * 16 + 1 AS INT), 16))) AS frame_len
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin),
    // Binary near-dup via aligned chunk fingerprints: md5 each 8-byte
    // chunk of the payload, then ONE self-equi-join on (chunk_idx, hash)
    // whose hit count per (id1, id2) IS the matching-chunk tally — no
    // candidate-distinct-then-rejoin pass, and per-doc chunk totals are a
    // projection off the payload length, so the chunk stream has exactly
    // two consumers (the join's build and probe sides). This is
    // the fixed-size baseline of binary dedup; production derives chunk
    // boundaries content-defined (the q_text_chunk_cdc rolling hash) so
    // insertions don't shift every downstream chunk, and chunk width
    // tracks real binary redundancy (the synthetic text-derived payloads
    // share nothing beyond 8-byte runs). Works on the hex encoding so
    // both engines chunk the same string — DuckDB cannot substring BLOBs.
    "q_multimodal_dedup" -> sql2(
      """WITH p AS (SELECT doc_id, lower(hex(encode(text, 'UTF-8'))) AS hx
        |           FROM documents WHERE doc_id % 5 = 0),
        |sz AS (SELECT doc_id, CAST(ceil(length(hx) / 16.0) AS BIGINT) AS n FROM p),
        |ch AS (SELECT doc_id, i, md5(substr(hx, i * 16 + 1, 16)) AS h
        |       FROM p LATERAL VIEW explode(sequence(0,
        |         CAST(ceil(length(hx) / 16.0) AS INT) - 1)) x AS i
        |       WHERE length(hx) > 0),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_match
        |      FROM ch a JOIN ch b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2, n_match, GREATEST(s1.n, s2.n) AS n_chunks
        |FROM m JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
        |WHERE n_match >= 2
        |ORDER BY id1, id2""".stripMargin,
      """WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx
        |           FROM documents WHERE doc_id % 5 = 0),
        |sz AS (SELECT doc_id, CAST(ceil(length(hx) / 16.0) AS BIGINT) AS n FROM p),
        |ch AS (SELECT doc_id, i, md5(substr(hx, CAST(i * 16 + 1 AS INT), 16)) AS h
        |       FROM (SELECT doc_id, hx, unnest(range(0,
        |         CAST(ceil(length(hx) / 16.0) AS INT))) AS i FROM p) z),
        |m AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_match
        |      FROM ch a JOIN ch b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT id1, id2, CAST(n_match AS BIGINT) AS n_match, GREATEST(s1.n, s2.n) AS n_chunks
        |FROM m JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
        |WHERE n_match >= 2
        |ORDER BY id1, id2""".stripMargin),

    // Perceptual near-dup dedup over REAL decoded images — the image-side
    // MinHash analog every multimodal training-data pipeline runs: the
    // aHash fingerprint (integer grayscale, mean threshold, one bit per
    // pixel) computed from the REAL PPM decoder's pixel bytes
    // (Multimodal.ppmAHash, executor-side), then candidate pairs via a
    // BANDED equi-join on 8-bit hash bands (hamming <= 2 guarantees >= 2
    // intact bands of 4 — the pigeonhole multi-probe of q_dedup_simhash)
    // and an exact bit_count filter. Fixture: images repeat every 40
    // ids (base = (doc_id DIV 10) % 40 drives pixels AND dims) with an
    // every-29th-pixel brightness perturbation from doc_id DIV 400, so
    // genuine near-dups exist with small nonzero hamming distances. The
    // oracle replays grayscale/mean/hash from the closed pixel formula —
    // a decoder one byte off or a float sneaking into the hash diverges.
    // 100 TB: decode+hash is one executor-side pass; pairs come only
    // from band buckets (equi) — never all-pairs.
    "q_multimodal_phash_dedup" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        val payload = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
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
        Multimodal.ppmAHash(payload).createOrReplaceTempView("mm_ph")
        s.sql(
          """WITH b AS (SELECT doc_id, ahash, bd, CAST((ahash >> (8 * bd)) & 255 AS INT) AS bv
            |           FROM mm_ph LATERAL VIEW explode(sequence(0, 3)) t AS bd),
            |cand AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
            |                a.ahash AS h1, b2.ahash AS h2
            |         FROM b a JOIN b b2 ON a.bd = b2.bd AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
            |SELECT id1, id2, CAST(bit_count(h1 ^ h2) AS INT) AS hamming
            |FROM cand WHERE bit_count(h1 ^ h2) <= 2
            |ORDER BY id1, id2""".stripMargin)
      },
      Some(
        """WITH p AS (SELECT doc_id, (doc_id // 10) % 40 AS base FROM documents WHERE doc_id % 10 = 0),
          |d AS (SELECT doc_id, base, 4 + base % 5 AS w, 3 + base % 4 AS h FROM p),
          |g AS (SELECT doc_id, j,
          |        ((base * 7 + (3 * j) * 13     + CASE WHEN (3 * j)     % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256
          |       + (base * 7 + (3 * j + 1) * 13 + CASE WHEN (3 * j + 1) % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256
          |       + (base * 7 + (3 * j + 2) * 13 + CASE WHEN (3 * j + 2) % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256) // 3 AS gray
          |      FROM (SELECT doc_id, base, unnest(range(0, CAST(w * h AS INT))) AS j FROM d) z),
          |m AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) // COUNT(*) AS mean FROM g GROUP BY doc_id),
          |hsh AS (SELECT g.doc_id,
          |               CAST(SUM(CASE WHEN g.gray >= m.mean AND g.j < 32
          |                             THEN CAST(1 AS BIGINT) << CAST(g.j AS INT)
          |                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash
          |        FROM g JOIN m ON g.doc_id = m.doc_id GROUP BY g.doc_id),
          |b AS (SELECT doc_id, ahash, bd, CAST((ahash >> (8 * bd)) & 255 AS INT) AS bv
          |      FROM (SELECT doc_id, ahash, unnest(range(0, 4)) AS bd FROM hsh) z),
          |cand AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
          |                a.ahash AS h1, b2.ahash AS h2
          |         FROM b a JOIN b b2 ON a.bd = b2.bd AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
          |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
          |FROM cand WHERE bit_count(xor(h1, h2)) <= 2
          |ORDER BY id1, id2""".stripMargin)),

    // Audio near-dup via energy-profile fingerprints over REAL WAV decode
    // — the audio sibling of q_multimodal_phash_dedup: mono 16-bit PCM
    // clips constructed in-engine: a base-keyed waveform under a
    // base-keyed per-window amplitude ENVELOPE (so energy profiles are
    // discriminative — the un-enveloped sawtooth made every clip's
    // profile flat and the fingerprint matched everything), perturbed
    // same-base copies via every-23rd-sample noise from doc_id DIV 400,
    // decoded by the genuine RIFF/WAVE parser,
    // fingerprinted as 16 mean-thresholded window-energy bits
    // (Multimodal.wavAFingerprint), candidates via 4x4-bit band equi-join
    // + exact bit_count <= 2 (the same pigeonhole as the image path). The
    // oracle replays windows/energies/bits from the closed sample formula.
    "q_multimodal_audio_fp_dedup" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        val payload = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id", "CAST((doc_id DIV 10) % 40 AS INT) AS base")
          .selectExpr("doc_id", "base", "CAST(64 + base % 17 AS INT) AS n")
          .selectExpr("doc_id",
            s"""concat(
               |  encode('RIFF', 'UTF-8'), unhex(${hexLe32("36 + n * 2")}),
               |  encode('WAVEfmt ', 'UTF-8'), unhex(${hexLe32("16")}),
               |  unhex(${hexLe16("1")}), unhex(${hexLe16("1")}),
               |  unhex(${hexLe32("8000")}), unhex(${hexLe32("8000 * 2")}),
               |  unhex(${hexLe16("2")}), unhex(${hexLe16("16")}),
               |  encode('data', 'UTF-8'), unhex(${hexLe32("n * 2")}),
               |  unhex(aggregate(transform(sequence(0, n - 1),
               |    i -> ${hexLe16("(pmod(base * 31 + i * 17, 256) - 128) * (1 + pmod(base * 3 + i DIV (n DIV 16), 7)) + CASE WHEN i % 23 = 0 THEN pmod(doc_id DIV 400, 5) ELSE 0 END")}),
               |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)
        Multimodal.wavAFingerprint(payload).createOrReplaceTempView("mm_afp")
        s.sql(
          """WITH b AS (SELECT doc_id, afp, bd, CAST((afp >> (4 * bd)) & 15 AS INT) AS bv
            |           FROM mm_afp LATERAL VIEW explode(sequence(0, 3)) t AS bd),
            |cand AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
            |                a.afp AS h1, b2.afp AS h2
            |         FROM b a JOIN b b2 ON a.bd = b2.bd AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
            |SELECT id1, id2, CAST(bit_count(h1 ^ h2) AS INT) AS hamming
            |FROM cand WHERE bit_count(h1 ^ h2) <= 2
            |ORDER BY id1, id2""".stripMargin)
      },
      Some(
        """WITH p AS (SELECT doc_id, (doc_id // 10) % 40 AS base FROM documents WHERE doc_id % 10 = 0),
          |d AS (SELECT doc_id, base, 64 + base % 17 AS n FROM p),
          |v AS (SELECT doc_id, n, i,
          |             ABS(((base * 31 + i * 17) % 256 - 128) * (1 + (base * 3 + i // (n // 16)) % 7)
          |                 + CASE WHEN i % 23 = 0 THEN (doc_id // 400) % 5 ELSE 0 END) AS a
          |      FROM (SELECT doc_id, base, n, unnest(range(0, CAST(n AS INT))) AS i FROM d) z
          |      WHERE i < (n // 16) * 16),
          |e AS (SELECT doc_id, CAST(i // (n // 16) AS INT) AS w, CAST(SUM(a) AS BIGINT) AS en
          |      FROM v GROUP BY doc_id, CAST(i // (n // 16) AS INT)),
          |m AS (SELECT doc_id, CAST(SUM(en) AS BIGINT) // 16 AS mean FROM e GROUP BY doc_id),
          |hsh AS (SELECT e.doc_id,
          |               CAST(SUM(CASE WHEN e.en >= m.mean THEN CAST(1 AS BIGINT) << e.w
          |                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS afp
          |        FROM e JOIN m ON e.doc_id = m.doc_id GROUP BY e.doc_id),
          |b AS (SELECT doc_id, afp, bd, CAST((afp >> (4 * bd)) & 15 AS INT) AS bv
          |      FROM (SELECT doc_id, afp, unnest(range(0, 4)) AS bd FROM hsh) z),
          |cand AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
          |                a.afp AS h1, b2.afp AS h2
          |         FROM b a JOIN b b2 ON a.bd = b2.bd AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
          |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
          |FROM cand WHERE bit_count(xor(h1, h2)) <= 2
          |ORDER BY id1, id2""".stripMargin)),

    // Video near-dup by shared FRAME fingerprints — the third modality's
    // dedup, composed from the image path: each "video" is a deterministic
    // sequence of PPM frames (content keyed by (vbase, absolute frame
    // index); half the corpus is TRIMMED by one leading frame, the classic
    // edit whole-file hashing misses), every frame decodes through the
    // REAL PPM parser into an aHash (Multimodal.ppmAHash over a packed
    // (doc, frame) key), and two videos pair when they share frames:
    // candidates via an EQUI-join on the frame hash, containment = shared
    // distinct hashes / min(frame count) in basis points. A trimmed copy
    // scores 7500+ bp; unrelated videos share nothing. 100 TB: decode is
    // one executor pass over frames, matching is hash-bucket equi-join —
    // the q_dedup_containment shape at the frame level.
    "q_multimodal_video_dedup" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        val frames = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id", "CAST((doc_id DIV 10) % 25 AS INT) AS vbase",
            "CAST(4 + (doc_id DIV 10) % 3 AS INT) AS nf",
            "CAST(pmod(doc_id DIV 250, 2) AS INT) AS trim")
          .selectExpr("doc_id", "vbase", "explode(sequence(0, nf - 1)) AS f", "trim")
          .selectExpr("doc_id * 16 + f AS doc_id", "vbase", "trim + f AS af")
          .selectExpr("doc_id",
            """concat(
              |  encode('P6\n8 4\n255\n', 'UTF-8'),
              |  unhex(aggregate(
              |    transform(sequence(0, 95),
              |              i -> lpad(hex(pmod((vbase * 8 + af) * (i + 3) * (i + 7) + i * 13, 256)), 2, '0')),
              |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)
        Multimodal.ppmAHash(frames).createOrReplaceTempView("mm_vf")
        s.sql(
          """WITH fh AS (SELECT DISTINCT doc_id DIV 16 AS vid, ahash FROM mm_vf),
            |sz AS (SELECT vid, COUNT(*) AS nh FROM fh GROUP BY vid),
            |pr AS (SELECT a.vid AS id1, b.vid AS id2, COUNT(*) AS shared
            |       FROM fh a JOIN fh b ON a.ahash = b.ahash AND a.vid < b.vid
            |       GROUP BY a.vid, b.vid)
            |SELECT id1, id2, CAST(shared AS BIGINT) AS shared,
            |       CAST(FLOOR(shared * 10000.0 / LEAST(s1.nh, s2.nh)) AS BIGINT) AS containment_bp
            |FROM pr JOIN sz s1 ON id1 = s1.vid JOIN sz s2 ON id2 = s2.vid
            |WHERE shared * 2 >= LEAST(s1.nh, s2.nh)
            |ORDER BY id1, id2""".stripMargin)
      },
      Some(
        """WITH p AS (SELECT doc_id, (doc_id // 10) % 25 AS vbase,
          |                  4 + (doc_id // 10) % 3 AS nf, (doc_id // 250) % 2 AS trim
          |           FROM documents WHERE doc_id % 10 = 0),
          |fr AS (SELECT doc_id, vbase, trim + f AS af
          |       FROM (SELECT doc_id, vbase, nf, trim, unnest(range(0, CAST(nf AS INT))) AS f FROM p) z),
          |g AS (SELECT doc_id, af, j,
          |        (((vbase * 8 + af) * (3 * j + 3) * (3 * j + 7) + (3 * j) * 13) % 256
          |       + ((vbase * 8 + af) * (3 * j + 4) * (3 * j + 8) + (3 * j + 1) * 13) % 256
          |       + ((vbase * 8 + af) * (3 * j + 5) * (3 * j + 9) + (3 * j + 2) * 13) % 256) // 3 AS gray
          |      FROM (SELECT doc_id, vbase, af, unnest(range(0, 32)) AS j FROM fr) z2),
          |m AS (SELECT doc_id, af, CAST(SUM(gray) AS BIGINT) // 32 AS mean FROM g GROUP BY doc_id, af),
          |hsh AS (SELECT g.doc_id, g.af,
          |               CAST(SUM(CASE WHEN g.gray >= m.mean
          |                             THEN CAST(1 AS BIGINT) << CAST(g.j AS INT)
          |                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash
          |        FROM g JOIN m ON g.doc_id = m.doc_id AND g.af = m.af GROUP BY g.doc_id, g.af),
          |fh AS (SELECT DISTINCT doc_id AS vid, ahash FROM hsh),
          |sz AS (SELECT vid, COUNT(*) AS nh FROM fh GROUP BY vid),
          |pr AS (SELECT a.vid AS id1, b.vid AS id2, COUNT(*) AS shared
          |       FROM fh a JOIN fh b ON a.ahash = b.ahash AND a.vid < b.vid
          |       GROUP BY a.vid, b.vid)
          |SELECT id1, id2, CAST(shared AS BIGINT) AS shared,
          |       CAST(FLOOR(shared * 10000.0 / LEAST(s1.nh, s2.nh)) AS BIGINT) AS containment_bp
          |FROM pr JOIN sz s1 ON id1 = s1.vid JOIN sz s2 ON id2 = s2.vid
          |WHERE shared * 2 >= LEAST(s1.nh, s2.nh)
          |ORDER BY id1, id2""".stripMargin)),

    "q_multimodal_meta" -> sql2(
      """SELECT doc_id, octet_length(encode(text, 'UTF-8')) AS n_bytes,
        |lower(hex(encode(substr(text, 1, 4), 'UTF-8'))) AS magic,
        |CASE WHEN octet_length(encode(text, 'UTF-8')) > 100 THEN 1 ELSE 0 END AS big
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |lower(hex(encode(substr(text, 1, 4)))) AS magic,
        |CASE WHEN octet_length(encode(text)) > 100 THEN 1 ELSE 0 END AS big
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin),

    // REAL binary decode: deterministic P6 PPM payloads are constructed
    // IN-ENGINE as a binary column (text header incl. `#` comments on
    // every other image + raw RGB bytes), decoded executor-side by the
    // genuine Multimodal.decodePpm parser, and the decoded dimensions /
    // per-channel byte sums / first+last pixels are checked against the
    // oracle's closed-form over the same construction — a parse that
    // mis-reads the header or lands one byte off diverges immediately.
    "q_multimodal_ppm_decode" -> df(
      // dims vary on doc_id DIV 10: under the doc_id % 10 = 0 fixture
      // filter, doc_id % 5 is constant-0 (every kept id is a multiple of
      // 10) and would pin w = 4 forever; the DIV-10 quotient walks every
      // residue, so all of 4..8 x 3..6 is exercised in-flight
      (s, d) => Multimodal.ppmStats(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id",
            "CAST(4 + (doc_id DIV 10) % 5 AS INT) AS w",
            "CAST(3 + (doc_id DIV 10) % 4 AS INT) AS h")
          .selectExpr("doc_id",
            """concat(
              |  encode(concat('P6\n',
              |    CASE WHEN doc_id % 20 = 0 THEN '# synthetic fixture\n' ELSE '' END,
              |    CAST(w AS STRING), ' ', CAST(h AS STRING), '\n255\n'), 'UTF-8'),
              |  unhex(aggregate(
              |    transform(sequence(0, w * h * 3 - 1),
              |              i -> lpad(hex(pmod(doc_id * 7 + i * 13, 256)), 2, '0')),
              |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)),
      """WITH p AS (SELECT doc_id, 4 + (doc_id // 10) % 5 AS w, 3 + (doc_id // 10) % 4 AS h
        |           FROM documents WHERE doc_id % 10 = 0),
        |v AS (SELECT doc_id, w, h, i, (doc_id * 7 + i * 13) % 256 AS b
        |      FROM (SELECT doc_id, w, h, unnest(range(0, CAST(w * h * 3 AS INT))) AS i FROM p) z)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(255 AS INT) AS maxval,
        |       CAST(SUM(CASE WHEN i % 3 = 0 THEN b END) AS BIGINT) AS sum_r,
        |       CAST(SUM(CASE WHEN i % 3 = 1 THEN b END) AS BIGINT) AS sum_g,
        |       CAST(SUM(CASE WHEN i % 3 = 2 THEN b END) AS BIGINT) AS sum_b,
        |       CAST(MIN(CASE WHEN i = 0 THEN b END) AS INT) AS px0,
        |       CAST(MIN(CASE WHEN i = w * h * 3 - 1 THEN b END) AS INT) AS pxn
        |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    // REAL PNG decode: 8-bit truecolor PNGs constructed IN-ENGINE as
    // valid byte streams — signature, IHDR, one IDAT whose zlib stream
    // uses a STORED deflate block (the only deflate form SQL can emit)
    // with a CORRECT Adler-32 computed by an integer fold over the
    // scanline stream (filter bytes included in the positional weights),
    // and IEND. Multimodal.decodePng then runs a REAL zlib INFLATE
    // (java.util.zip verifies the Adler-32 — a one-byte fixture error
    // fails loudly) plus full None/Sub/Up/Average/Paeth unfiltering
    // (filtered + Deflater-compressed PNGs are pinned in PngDecodeSpec,
    // where Scala can emit dynamic-Huffman streams SQL cannot). Stats
    // check against the oracle's closed form over the pixel formula.
    "q_multimodal_png_decode" -> df(
      (s, d) => Multimodal.pngStats(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id",
            "CAST(4 + (doc_id DIV 10) % 5 AS INT) AS w",
            "CAST(3 + (doc_id DIV 10) % 4 AS INT) AS h")
          .selectExpr("doc_id", "w", "h",
            "CAST(h * (3 * w + 1) AS BIGINT) AS n")
          .selectExpr("doc_id", "w", "h", "n",
            """aggregate(sequence(0, w * h * 3 - 1),
              |  named_struct('a', CAST(1 AS BIGINT), 'b', n),
              |  (acc, i) -> named_struct(
              |    'a', acc.a + pmod(doc_id * 23 + i * 29, 256),
              |    'b', acc.b + (n - (CAST(i DIV (3 * w) AS BIGINT) * (3 * w + 1) + 1 + i % (3 * w)))
              |                 * pmod(doc_id * 23 + i * 29, 256))) AS ab""".stripMargin)
          .selectExpr("doc_id",
            """concat(
              |  unhex('89504E470D0A1A0A'),
              |  unhex(concat('0000000D49484452', lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'),
              |               '0802000000', '00000000')),
              |  unhex(concat(lpad(hex(11 + n), 8, '0'), '49444154', '7801', '01',
              |               lpad(hex(n % 256), 2, '0'), lpad(hex(n DIV 256), 2, '0'),
              |               lpad(hex(255 - n % 256), 2, '0'), lpad(hex(255 - n DIV 256), 2, '0'),
              |               aggregate(transform(sequence(0, CAST(n AS INT) - 1),
              |                 s -> CASE WHEN s % (3 * w + 1) = 0 THEN '00'
              |                           ELSE lpad(hex(pmod(doc_id * 23 + (s - s DIV (3 * w + 1) - 1) * 29, 256)), 2, '0') END),
              |                 '', (a, x) -> concat(a, x)),
              |               lpad(hex(ab.b % 65521), 4, '0'), lpad(hex(ab.a % 65521), 4, '0'),
              |               '00000000')),
              |  unhex('0000000049454E4400000000')) AS payload""".stripMargin)),
      """WITH p AS (SELECT doc_id, 4 + (doc_id // 10) % 5 AS w, 3 + (doc_id // 10) % 4 AS h
        |           FROM documents WHERE doc_id % 10 = 0),
        |v AS (SELECT doc_id, w, h, i, (doc_id * 23 + i * 29) % 256 AS b
        |      FROM (SELECT doc_id, w, h, unnest(range(0, CAST(w * h * 3 AS INT))) AS i FROM p) z)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(SUM(CASE WHEN i % 3 = 0 THEN b END) AS BIGINT) AS sum_r,
        |       CAST(SUM(CASE WHEN i % 3 = 1 THEN b END) AS BIGINT) AS sum_g,
        |       CAST(SUM(CASE WHEN i % 3 = 2 THEN b END) AS BIGINT) AS sum_b,
        |       CAST(MIN(CASE WHEN i = 0 THEN b END) AS INT) AS px0,
        |       CAST(MIN(CASE WHEN i = w * h * 3 - 1 THEN b END) AS INT) AS pxn
        |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    // REAL grayscale decode: P5 PGM payloads (identical header grammar to
    // P6, ONE byte per pixel) constructed in-engine with their own pixel
    // formula, decoded executor-side by the shared binary-PNM parser
    // (Multimodal.decodePgm), stats checked against the closed form.
    "q_multimodal_pgm_decode" -> df(
      (s, d) => Multimodal.pgmStats(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id",
            "CAST(4 + (doc_id DIV 10) % 5 AS INT) AS w",
            "CAST(3 + (doc_id DIV 10) % 4 AS INT) AS h")
          .selectExpr("doc_id",
            """concat(
              |  encode(concat('P5\n',
              |    CASE WHEN doc_id % 20 = 0 THEN '# gray fixture\n' ELSE '' END,
              |    CAST(w AS STRING), ' ', CAST(h AS STRING), '\n255\n'), 'UTF-8'),
              |  unhex(aggregate(
              |    transform(sequence(0, w * h - 1),
              |              i -> lpad(hex(pmod(doc_id * 11 + i * 19, 256)), 2, '0')),
              |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)),
      """WITH p AS (SELECT doc_id, 4 + (doc_id // 10) % 5 AS w, 3 + (doc_id // 10) % 4 AS h
        |           FROM documents WHERE doc_id % 10 = 0),
        |v AS (SELECT doc_id, w, h, i, (doc_id * 11 + i * 19) % 256 AS b
        |      FROM (SELECT doc_id, w, h, unnest(range(0, CAST(w * h AS INT))) AS i FROM p) z)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(255 AS INT) AS maxval,
        |       CAST(SUM(b) AS BIGINT) AS sum_v,
        |       CAST(MIN(CASE WHEN i = 0 THEN b END) AS INT) AS px0,
        |       CAST(MIN(CASE WHEN i = w * h - 1 THEN b END) AS INT) AS pxn
        |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    // REAL audio decode, same contract as q_multimodal_ppm_decode: RIFF/
    // WAVE PCM payloads constructed in-engine (16-bit little-endian
    // samples from a closed formula; every 20th doc carries an extra LIST
    // chunk so the parser's unknown-chunk skip is exercised in-flight),
    // decoded executor-side by Multimodal.decodeWav, stats checked against
    // the oracle's closed form.
    "q_multimodal_wav_decode" -> df(
      (s, d) => Multimodal.wavStats(wavSingleFixture(s, d)),
      """WITH p AS (SELECT doc_id, 1 + (doc_id // 10) % 2 AS ch, 16 + doc_id % 17 AS n
        |           FROM documents WHERE doc_id % 10 = 0),
        |v AS (SELECT doc_id, ch, n, i, ((doc_id * 31 + i * 17) % 4096) - 2048 AS s
        |      FROM (SELECT doc_id, ch, n, unnest(range(0, CAST(n * ch AS INT))) AS i FROM p) z)
        |SELECT doc_id, CAST(ch AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
        |       CAST(n * ch AS INT) AS n_samples,
        |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
        |       CAST(MIN(CASE WHEN i = 0 THEN s END) AS INT) AS s0,
        |       CAST(MIN(CASE WHEN i = n * ch - 1 THEN s END) AS INT) AS sn
        |FROM v GROUP BY doc_id, ch, n ORDER BY doc_id""".stripMargin),

    // REAL audio resample: decode the same WAV fixture, decimate by 2
    // (8 kHz → 4 kHz) keeping every other FRAME — all channels of a kept
    // frame stay together, so stereo stays interleaved — and report stats
    // of the decimated stream. The oracle replays the construction formula
    // filtered to even frame indices ((i // ch) % 2 = 0), so an off-by-one
    // in the frame/sample arithmetic (e.g. decimating raw samples, which
    // would de-interleave stereo) diverges on every stereo clip.
    "q_multimodal_wav_resample" -> df(
      (s, d) => Multimodal.wavDecimateStats(wavSingleFixture(s, d), factor = 2),
      """WITH p AS (SELECT doc_id, 1 + (doc_id // 10) % 2 AS ch, 16 + doc_id % 17 AS n
        |           FROM documents WHERE doc_id % 10 = 0),
        |v AS (SELECT doc_id, ch, n, i, ((doc_id * 31 + i * 17) % 4096) - 2048 AS s
        |      FROM (SELECT doc_id, ch, n, unnest(range(0, CAST(n * ch AS INT))) AS i FROM p) z
        |      WHERE (i // ch) % 2 = 0)
        |SELECT doc_id, CAST(ch AS INT) AS channels, CAST(8000 AS INT) AS rate_in,
        |       CAST(4000 AS INT) AS rate_out,
        |       CAST(n AS INT) AS n_frames_in,
        |       CAST((n + 1) // 2 AS INT) AS n_frames_out,
        |       CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs_out,
        |       CAST(MIN(CASE WHEN i = 0 THEN s END) AS INT) AS f0,
        |       CAST(MIN(CASE WHEN i = ((n - 1) // 2) * 2 * ch + ch - 1 THEN s END) AS INT) AS fn
        |FROM v GROUP BY doc_id, ch, n ORDER BY doc_id""".stripMargin),

    // REAL decode → nearest-neighbor resize → stats over PPM payloads
    // (up- AND down-scaling: sources span 4..8 × 3..6, target is 6×5).
    // The oracle reproduces the resample closed-form — sx = x·w div tw,
    // sy = y·h div th over the construction formula — so a one-pixel
    // indexing error in the real byte-level resample diverges.
    "q_multimodal_ppm_resize" -> df(
      // same DIV-10 parameter walk as q_multimodal_ppm_decode: with
      // doc_id % 5 the sources were pinned at w = 4 and the resampler
      // never downscaled despite the 4..8 claim above
      (s, d) => Multimodal.ppmResizeStats(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
          .selectExpr("doc_id",
            "CAST(4 + (doc_id DIV 10) % 5 AS INT) AS w",
            "CAST(3 + (doc_id DIV 10) % 4 AS INT) AS h")
          .selectExpr("doc_id",
            """concat(
              |  encode(concat('P6\n', CAST(w AS STRING), ' ', CAST(h AS STRING), '\n255\n'), 'UTF-8'),
              |  unhex(aggregate(
              |    transform(sequence(0, w * h * 3 - 1),
              |              i -> lpad(hex(pmod(doc_id * 7 + i * 13, 256)), 2, '0')),
              |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin),
        tw = 6, th = 5),
      """WITH p AS (SELECT doc_id, 4 + (doc_id // 10) % 5 AS w, 3 + (doc_id // 10) % 4 AS h
        |           FROM documents WHERE doc_id % 10 = 0),
        |g AS (SELECT doc_id, w, h, x, y, c,
        |             (((y * h // 5) * w + (x * w // 6)) * 3 + c) AS i
        |      FROM (SELECT doc_id, w, h, x, y, unnest(range(0, 3)) AS c
        |            FROM (SELECT doc_id, w, h, x, unnest(range(0, 5)) AS y
        |                  FROM (SELECT doc_id, w, h, unnest(range(0, 6)) AS x FROM p) z1) z2) z3),
        |v AS (SELECT doc_id, w, h, x, y, c, (doc_id * 7 + i * 13) % 256 AS b FROM g)
        |SELECT doc_id, CAST(w AS INT) AS src_w, CAST(h AS INT) AS src_h,
        |       CAST(6 AS INT) AS out_w, CAST(5 AS INT) AS out_h,
        |       CAST(SUM(CASE WHEN c = 0 THEN b END) AS BIGINT) AS sum_r,
        |       CAST(SUM(CASE WHEN c = 1 THEN b END) AS BIGINT) AS sum_g,
        |       CAST(SUM(CASE WHEN c = 2 THEN b END) AS BIGINT) AS sum_b,
        |       CAST(MIN(CASE WHEN x = 0 AND y = 0 AND c = 0 THEN b END) AS INT) AS px0,
        |       CAST(MIN(CASE WHEN x = 5 AND y = 4 AND c = 2 THEN b END) AS INT) AS pxn
        |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin),

    // GENERIC multimodal decode: a mixed-format corpus (every media doc's
    // format chosen by (doc_id DIV 10) % 6 — P6 PPM / PCM WAV / 24-bit BMP
    // / raw bytes / P5 PGM / truecolor PNG) is sniffed by magic and
    // routed to the REAL parsers;
    // only the raw branch (standing in for codec-bound formats like JPEG)
    // runs the declared byte-stats stub. The oracle recomputes every
    // format's decoded stats from the construction's closed form — a
    // dispatch that sends a BMP to the wrong parser fails the job, a
    // parser that mis-reads bytes diverges on checksum.
    "q_multimodal_decode" -> df(
      (s, d) => Multimodal.decodeAny(mixedMediaFixture(s, d)),
      s"""$mixedMediaOracleCtes,
        |img AS (SELECT doc_id, SUM((doc_id * 7 + i * 13) % 256) AS csum
        |        FROM (SELECT doc_id, unnest(range(0, CAST(w * h * 3 AS INT))) AS i
        |              FROM mm_par WHERE fmt IN (0, 2, 5)) z
        |        GROUP BY doc_id),
        |aud AS (SELECT doc_id, SUM(ABS(((doc_id * 31 + i * 17) % 4096) - 2048)) AS csum
        |        FROM (SELECT doc_id, unnest(range(0, CAST(n * ch AS INT))) AS i
        |              FROM mm_par WHERE fmt = 1) z
        |        GROUP BY doc_id),
        |gim AS (SELECT doc_id, SUM((doc_id * 7 + i * 13) % 256) AS csum
        |        FROM (SELECT doc_id, unnest(range(0, CAST(w * h AS INT))) AS i
        |              FROM mm_par WHERE fmt = 4) z
        |        GROUP BY doc_id)
        |SELECT p.doc_id,
        |       CASE p.fmt WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' WHEN 2 THEN 'bmp' WHEN 4 THEN 'pgm' WHEN 5 THEN 'png' ELSE 'raw' END AS format,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 4, 5) THEN p.w ELSE -1 END AS INT) AS width,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 4, 5) THEN p.h ELSE -1 END AS INT) AS height,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 5) THEN 3 WHEN p.fmt = 1 THEN p.ch WHEN p.fmt = 4 THEN 1 ELSE -1 END AS INT) AS channels,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 4, 5) THEN p.w * p.h
        |                 WHEN p.fmt = 1 THEN p.n * p.ch
        |                 ELSE $mmRawLenDuck END AS BIGINT) AS n_units,
        |       CAST(CASE WHEN p.fmt = 0 THEN $mmPpmLenDuck
        |                 WHEN p.fmt = 1 THEN 44 + p.n * p.ch * 2
        |                 WHEN p.fmt = 2 THEN $mmBmpLenDuck
        |                 WHEN p.fmt = 4 THEN $mmPgmLenDuck
        |                 WHEN p.fmt = 5 THEN 68 + p.h * (3 * p.w + 1)
        |                 ELSE $mmRawLenDuck END AS INT) AS payload_bytes,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 5) THEN i.csum
        |                 WHEN p.fmt = 1 THEN a.csum
        |                 WHEN p.fmt = 4 THEN g.csum
        |                 ELSE length(p.text) - length(replace(p.text, ' ', '')) END AS BIGINT) AS checksum
        |FROM mm_par p LEFT JOIN img i ON p.doc_id = i.doc_id
        |              LEFT JOIN aud a ON p.doc_id = a.doc_id
        |              LEFT JOIN gim g ON p.doc_id = g.doc_id
        |ORDER BY p.doc_id""".stripMargin),

    // GENERIC multimodal resize, same dispatch: PPM and BMP payloads run
    // the REAL decode → nearest-neighbor resample to 16x12 → re-encode
    // accounting (checksum = resized raster's byte sum, reproduced by the
    // oracle's closed-form resample); WAV/raw keep the declared-stub area
    // cost model with checksum -1.
    "q_multimodal_resize" -> df(
      (s, d) => Multimodal.resizeAny(mixedMediaFixture(s, d), tw = 16, th = 12),
      s"""$mixedMediaOracleCtes,
        |g AS (SELECT doc_id, ((((y * h) // 12) * w + ((x * w) // 16)) * 3 + c) AS i
        |      FROM (SELECT doc_id, w, h, x, y, unnest(range(0, 3)) AS c
        |            FROM (SELECT doc_id, w, h, x, unnest(range(0, 12)) AS y
        |                  FROM (SELECT doc_id, w, h, unnest(range(0, 16)) AS x
        |                        FROM mm_par WHERE fmt IN (0, 2, 5)) z1) z2) z3),
        |r AS (SELECT doc_id, SUM((doc_id * 7 + i * 13) % 256) AS csum
        |      FROM g GROUP BY doc_id),
        |g2 AS (SELECT doc_id, (((y * h) // 12) * w + ((x * w) // 16)) AS i
        |       FROM (SELECT doc_id, w, h, x, unnest(range(0, 12)) AS y
        |             FROM (SELECT doc_id, w, h, unnest(range(0, 16)) AS x
        |                   FROM mm_par WHERE fmt = 4) z1) z2),
        |r2 AS (SELECT doc_id, SUM((doc_id * 7 + i * 13) % 256) AS csum
        |       FROM g2 GROUP BY doc_id)
        |SELECT p.doc_id,
        |       CASE p.fmt WHEN 0 THEN 'ppm' WHEN 1 THEN 'wav' WHEN 2 THEN 'bmp' WHEN 4 THEN 'pgm' WHEN 5 THEN 'png' ELSE 'raw' END AS format,
        |       CAST(CASE WHEN p.fmt = 0 THEN $mmPpmLenDuck
        |                 WHEN p.fmt = 1 THEN 44 + p.n * p.ch * 2
        |                 WHEN p.fmt = 2 THEN $mmBmpLenDuck
        |                 WHEN p.fmt = 4 THEN $mmPgmLenDuck
        |                 WHEN p.fmt = 5 THEN 68 + p.h * (3 * p.w + 1)
        |                 ELSE $mmRawLenDuck END AS INT) AS src_bytes,
        |       16 AS target_w, 12 AS target_h,
        |       CAST(CASE WHEN p.fmt = 0 THEN 13 + 16 * 12 * 3
        |                 WHEN p.fmt = 2 THEN 54 + 48 * 12
        |                 WHEN p.fmt = 4 THEN 13 + 16 * 12
        |                 WHEN p.fmt = 5 THEN 68 + 12 * (3 * 16 + 1)
        |                 WHEN p.fmt = 1 THEN LEAST(44 + p.n * p.ch * 2, 3)
        |                 ELSE LEAST($mmRawLenDuck, 3) END AS BIGINT) AS resized_bytes,
        |       CAST(CASE WHEN p.fmt IN (0, 2, 5) THEN r.csum
        |                 WHEN p.fmt = 4 THEN r2.csum
        |                 ELSE -1 END AS BIGINT) AS checksum
        |FROM mm_par p LEFT JOIN r ON p.doc_id = r.doc_id
        |              LEFT JOIN r2 ON p.doc_id = r2.doc_id
        |ORDER BY p.doc_id""".stripMargin)
  )

  /** Single-format RIFF/WAVE PCM fixture shared by the decode and
    * resample queries: 16-bit little-endian samples from a closed formula;
    * ch varies on doc_id DIV 10 (doc_id % 2 is constant-0 under the % 10
    * filter and would never exercise stereo interleaving in-flight);
    * every 20th doc carries an extra LIST chunk so the parser's
    * unknown-chunk skip runs in-flight.
    */
  private def wavSingleFixture(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    def le16(v: String) = hexLe16(v)
    def le32(v: String) = hexLe32(v)
    Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .selectExpr("doc_id",
        "CAST(1 + (doc_id DIV 10) % 2 AS INT) AS ch",
        "CAST(16 + doc_id % 17 AS INT) AS n")
      .selectExpr("doc_id",
        s"""concat(
           |  encode('RIFF', 'UTF-8'), unhex(${le32("36 + CASE WHEN doc_id % 20 = 0 THEN 12 ELSE 0 END + n * ch * 2")}),
           |  encode('WAVEfmt ', 'UTF-8'), unhex(${le32("16")}),
           |  unhex(${le16("1")}), unhex(${le16("ch")}),
           |  unhex(${le32("8000")}), unhex(${le32("8000 * ch * 2")}),
           |  unhex(${le16("ch * 2")}), unhex(${le16("16")}),
           |  CASE WHEN doc_id % 20 = 0
           |       THEN concat(encode('LIST', 'UTF-8'), unhex(${le32("4")}), encode('INFO', 'UTF-8'))
           |       ELSE unhex('') END,
           |  encode('data', 'UTF-8'), unhex(${le32("n * ch * 2")}),
           |  unhex(aggregate(transform(sequence(0, n * ch - 1),
           |    i -> ${le16("pmod(doc_id * 31 + i * 17, 4096) - 2048")}),
           |    '', (a, x) -> concat(a, x)))) AS payload""".stripMargin)
  }

  /** Shared mixed-format media fixture for the GENERIC multimodal queries:
    * deterministic payloads constructed in-engine as a binary column, the
    * format cycling PPM / WAV / BMP / raw / PGM on (doc_id DIV 10) % 5 so
    * one corpus exercises the dispatch, all FOUR real parsers, and the
    * declared-stub branch. Dimensions/channels vary on q DIV 5 where
    * q = doc_id DIV 10 — dividing by the SAME modulus the format selector
    * uses makes the quotient genuinely independent of q % 5 (a DIV-4
    * quotient was not: both resolved on q mod 20, silently denying each
    * format one of the five widths), so every format walks its full
    * parameter range within 25 q-values. Pixel bytes
    * follow v(i) = (doc_id*7 + i*13) % 256 over the TOP-DOWN RGB raster
    * index — the BMP branch stores them bottom-up, BGR, row-padded, so a
    * correct decode recovers the identical raster as the PPM branch and
    * the oracle's closed form never needs to parse anything.
    */
  private def mixedMediaFixture(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    def le16(v: String) = hexLe16(v)
    def le32(v: String) = hexLe32(v)
    // BMP row stride: rows pad to 4-byte multiples
    val rb = "(((w * 3 + 3) DIV 4) * 4)"
    Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      .selectExpr("doc_id", "text", "doc_id DIV 10 AS q")
      .selectExpr("doc_id", "text",
        "CAST(q % 6 AS INT) AS fmt",
        "CAST(4 + (q DIV 6) % 5 AS INT) AS w",
        "CAST(3 + (q DIV 6) % 4 AS INT) AS h",
        "CAST(1 + (q DIV 6) % 2 AS INT) AS ch",
        "CAST(16 + doc_id % 17 AS INT) AS n")
      .selectExpr("doc_id",
        s"""CASE fmt
           |WHEN 0 THEN concat(
           |  encode(concat('P6\\n', CAST(w AS STRING), ' ', CAST(h AS STRING), '\\n255\\n'), 'UTF-8'),
           |  unhex(aggregate(transform(sequence(0, w * h * 3 - 1),
           |    i -> lpad(hex(pmod(doc_id * 7 + i * 13, 256)), 2, '0')), '', (a, x) -> concat(a, x))))
           |WHEN 1 THEN concat(
           |  encode('RIFF', 'UTF-8'), unhex(${le32("36 + n * ch * 2")}),
           |  encode('WAVEfmt ', 'UTF-8'), unhex(${le32("16")}),
           |  unhex(${le16("1")}), unhex(${le16("ch")}),
           |  unhex(${le32("8000")}), unhex(${le32("8000 * ch * 2")}),
           |  unhex(${le16("ch * 2")}), unhex(${le16("16")}),
           |  encode('data', 'UTF-8'), unhex(${le32("n * ch * 2")}),
           |  unhex(aggregate(transform(sequence(0, n * ch - 1),
           |    i -> ${le16("pmod(doc_id * 31 + i * 17, 4096) - 2048")}), '', (a, x) -> concat(a, x))))
           |WHEN 2 THEN concat(
           |  encode('BM', 'UTF-8'), unhex(${le32(s"54 + $rb * h")}),
           |  unhex(${le32("0")}), unhex(${le32("54")}),
           |  unhex(${le32("40")}), unhex(${le32("w")}), unhex(${le32("h")}),
           |  unhex(${le16("1")}), unhex(${le16("24")}),
           |  unhex(${le32("0")}), unhex(${le32(s"$rb * h")}),
           |  unhex(${le32("2835")}), unhex(${le32("2835")}),
           |  unhex(${le32("0")}), unhex(${le32("0")}),
           |  unhex(aggregate(transform(sequence(0, $rb * h - 1),
           |    j -> CASE WHEN j % $rb >= w * 3 THEN '00'
           |              ELSE lpad(hex(pmod(doc_id * 7 +
           |                (((h - 1 - (j DIV $rb)) * w + (j % $rb) DIV 3) * 3
           |                  + (2 - (j % $rb) % 3)) * 13, 256)), 2, '0') END),
           |    '', (a, x) -> concat(a, x))))
           |WHEN 4 THEN concat(
           |  encode(concat('P5\\n', CAST(w AS STRING), ' ', CAST(h AS STRING), '\\n255\\n'), 'UTF-8'),
           |  unhex(aggregate(transform(sequence(0, w * h - 1),
           |    i -> lpad(hex(pmod(doc_id * 7 + i * 13, 256)), 2, '0')), '', (a, x) -> concat(a, x))))
           |WHEN 5 THEN concat(
           |  unhex('89504E470D0A1A0A'),
           |  unhex(concat('0000000D49484452', lpad(hex(w), 8, '0'), lpad(hex(h), 8, '0'), '0802000000', '00000000')),
           |  unhex(concat(lpad(hex(11 + h * (3 * w + 1)), 8, '0'), '49444154', '7801', '01',
           |    lpad(hex((h * (3 * w + 1)) % 256), 2, '0'), lpad(hex((h * (3 * w + 1)) DIV 256), 2, '0'),
           |    lpad(hex(255 - (h * (3 * w + 1)) % 256), 2, '0'), lpad(hex(255 - (h * (3 * w + 1)) DIV 256), 2, '0'),
           |    aggregate(transform(sequence(0, h * (3 * w + 1) - 1),
           |      s -> CASE WHEN s % (3 * w + 1) = 0 THEN '00'
           |                ELSE lpad(hex(pmod(doc_id * 7 + (s - s DIV (3 * w + 1) - 1) * 13, 256)), 2, '0') END),
           |      '', (a, x) -> concat(a, x)),
           |    lpad(hex(pmod(CAST(h * (3 * w + 1) AS BIGINT) + aggregate(sequence(0, w * h * 3 - 1), CAST(0 AS BIGINT),
           |      (acc, i) -> acc + (h * (3 * w + 1) - (CAST(i DIV (3 * w) AS BIGINT) * (3 * w + 1) + 1 + i % (3 * w))) * pmod(doc_id * 7 + i * 13, 256)), 65521)), 4, '0'),
           |    lpad(hex(pmod(1 + aggregate(sequence(0, w * h * 3 - 1), CAST(0 AS BIGINT),
           |      (acc, i) -> acc + pmod(doc_id * 7 + i * 13, 256)), 65521)), 4, '0'),
           |    '00000000')),
           |  unhex('0000000049454E4400000000'))
           |ELSE encode(concat('RAW:', text), 'UTF-8')
           |END AS payload""".stripMargin)
  }

  /** Little-endian hex emitters (Spark SQL dialect) shared by every
    * in-engine binary fixture (WAV single-format + the mixed-media corpus)
    * — ONE definition so the encodings can never diverge.
    */
  private def hexLe16(v: String): String =
    s"concat(lpad(hex(pmod($v, 65536) % 256), 2, '0'), lpad(hex(pmod($v, 65536) div 256), 2, '0'))"

  private def hexLe32(v: String): String =
    s"concat(lpad(hex(($v) % 256), 2, '0'), lpad(hex(($v) div 256 % 256), 2, '0'), " +
      s"lpad(hex(($v) div 65536 % 256), 2, '0'), lpad(hex(($v) div 16777216 % 256), 2, '0'))"

  /** The oracle-side mirror of [[mixedMediaFixture]]'s parameter table. */
  private def mixedMediaOracleCtes: String =
    """WITH mm_base AS (SELECT doc_id, text, doc_id // 10 AS q
      |                 FROM documents WHERE doc_id % 10 = 0),
      |mm_par AS (SELECT doc_id, text, CAST(q % 6 AS INT) AS fmt,
      |                  4 + (q // 6) % 5 AS w, 3 + (q // 6) % 4 AS h,
      |                  1 + (q // 6) % 2 AS ch, 16 + doc_id % 17 AS n
      |           FROM mm_base)""".stripMargin

  // closed-form payload byte lengths per format (DuckDB dialect)
  private def mmPpmLenDuck: String =
    "3 + length(CAST(p.w AS VARCHAR)) + 1 + length(CAST(p.h AS VARCHAR)) + 5 + p.w * p.h * 3"
  private def mmBmpLenDuck: String = "54 + (((p.w * 3 + 3) // 4) * 4) * p.h"
  private def mmPgmLenDuck: String =
    "3 + length(CAST(p.w AS VARCHAR)) + 1 + length(CAST(p.h AS VARCHAR)) + 5 + p.w * p.h"
  private def mmRawLenDuck: String = "octet_length(encode(p.text)) + 4"
}
