package graft.llm

import graft.queries.QuerySpec
import graft.queries.QuerySpec.sql2
import graft.Staging.StagedDataFrame

/** Retrieval-ranking and sketch-based corpus-analysis operators over the
  * `documents` / `embeddings` fixtures — the search side of a training-data
  * pipeline (what powers dedup triage, retrieval-augmented filtering, and
  * corpus QA dashboards):
  *
  *  - exact repeated-substring dedup (the span-level formulation of
  *    "Deduplicating Training Data Makes Language Models Better",
  *    arXiv:2107.06499 — here as shingle-hash grouping + island merge,
  *    not a suffix array: same answer for fixed minimum span length, and
  *    every step is a linear shuffle);
  *  - Okapi BM25 ranking (Robertson/Spärck Jones probabilistic relevance,
  *    k1=1.2 b=0.75 — the standard defaults);
  *  - hybrid lexical+vector retrieval fused with Reciprocal Rank Fusion
  *    (Cormack, Clarke & Büttcher, SIGIR 2009; k=60);
  *  - count-min-sketch-pruned EXACT heavy hitters (Cormode & Muthukrishnan,
  *    J. Algorithms 2005): a constant-size (4x512) sketch built map-side in
  *    pass 1 prunes pass 2's exact count to candidate grams only, and the
  *    CMS overestimate guarantee makes the pruned result identical to the
  *    unpruned exact answer.
  *
  * All four are deterministic (exact counts, fixed-order two-term folds,
  * ROUND + total ORDER BY on unique keys) and oracle-checked against
  * DuckDB running the direct/unpruned formulation.
  */
object SearchRank {

  /** Island merge over duplicated shingle START positions. Two 8-wide
    * intervals [i, i+7] and [i', i'+7] overlap or touch iff i' - i <= 8,
    * so a new span begins only when the gap from the previous duplicated
    * start exceeds 8 — SUM(e - s + 1) over the merged spans is then the
    * exact size of the UNION of the duplicated intervals. (The classic
    * `i - row_number()` trick merges only gap-1 runs: staggered matches
    * with start gaps 2..7 produced OVERLAPPING spans whose lengths
    * double-counted the shared tokens, letting dup_tokens exceed the doc
    * length.) Dialect-neutral SQL, shared verbatim by Spark and DuckDB.
    */
  private def spanIslands(src: String): String =
    s"""lg AS (SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM $src),
       |isl AS (SELECT doc_id, i,
       |               SUM(CASE WHEN prev IS NOT NULL AND i - prev <= 8 THEN 0 ELSE 1 END)
       |                 OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |        FROM lg),
       |sp AS (SELECT doc_id, MIN(i) AS s, MAX(i) + 7 AS e FROM isl GROUP BY doc_id, grp)""".stripMargin

  /** Exact repeated-span dedup, Spark dialect, parameterized on the table
    * name so SearchRankSpec can replay it over hand-built corpora with
    * known shared-span structure.
    *
    * Shape: every 8-token shingle is hashed (md5 — 128-bit, collision-free
    * at any realistic corpus size) and grouped; shingles seen in more than
    * one document mark their positions as duplicated; consecutive
    * duplicated positions merge into maximal spans with the classic
    * gaps-and-islands `pos - row_number()` trick (a per-doc window, so the
    * merge shuffles by doc_id only). A duplicated run of L >= 8 tokens
    * yields L-7 consecutive shingle positions and merges back to exactly
    * one span of L tokens. At scale: one explode (linear), one
    * aggregation keyed by 128-bit hash (the shuffle is the corpus's
    * shingle stream — the same cost profile as MinHash signature
    * generation), one equi-join, one per-doc window. No pairwise work at
    * all — this catches verbatim template/quote reuse that set-similarity
    * dedup underweights.
    */
  private[llm] def substringSparkSql(table: String = "documents"): String =
    s"""WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM $table),
       |g AS (SELECT doc_id, i, md5(array_join(slice(w, i, 8), ' ')) AS gh
       |      FROM (SELECT * FROM t WHERE size(w) >= 8) t8
       |      LATERAL VIEW explode(sequence(1, size(w) - 7)) x AS i),
       |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
       |d AS (SELECT g.doc_id, g.i FROM g JOIN dup ON g.gh = dup.gh),
       |${spanIslands("d")},
       |agg AS (SELECT doc_id, COUNT(*) AS n_spans,
       |               CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
       |               CAST(MAX(e - s + 1) AS BIGINT) AS max_span
       |        FROM sp GROUP BY doc_id)
       |SELECT t.doc_id, COALESCE(n_spans, 0) AS n_spans,
       |       COALESCE(dup_tokens, 0) AS dup_tokens,
       |       COALESCE(max_span, 0) AS max_span
       |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
       |WHERE t.doc_id % 20 = 0 ORDER BY t.doc_id""".stripMargin

  private def substringDuckSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, i, md5(array_to_string(w[i:i+7], ' ')) AS gh
      |      FROM (SELECT * FROM t WHERE len(w) >= 8) t8,
      |           unnest(range(1, len(w) - 7 + 1)) AS u(i)),
      |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) > 1),
      |d AS (SELECT g.doc_id, g.i FROM g JOIN dup ON g.gh = dup.gh),
      |${spanIslands("d")},
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |               CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
      |               CAST(MAX(e - s + 1) AS BIGINT) AS max_span
      |        FROM sp GROUP BY doc_id)
      |SELECT t.doc_id, COALESCE(n_spans, 0) AS n_spans,
      |       COALESCE(dup_tokens, 0) AS dup_tokens,
      |       COALESCE(max_span, 0) AS max_span
      |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
      |WHERE t.doc_id % 20 = 0 ORDER BY t.doc_id""".stripMargin

  /** The REMOVE step of substring dedup (arXiv:2107.06499 §4: drop every
    * duplicated span except its corpus-first occurrence, keep the rest of
    * the document): positions whose 8-gram is cross-doc duplicated AND not
    * the corpus-first occurrence of that gram (MIN over a (doc_id, i)
    * struct — lexicographic in both engines, the paragraph-dedup idiom)
    * merge into removal spans; each output doc is reassembled from its
    * surviving tokens in order. The token explode + span-cover join run
    * only on the reported doc slice (pushed-down %20 filter); the span
    * side of the cover join is per-doc and tiny, the BETWEEN is a residual
    * predicate on a doc_id equi-join — never pairwise, never a global
    * sort.
    */
  private[llm] def substringCleanSparkSql(table: String = "documents"): String =
    s"""WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM $table),
       |g AS (SELECT doc_id, i, md5(array_join(slice(w, i, 8), ' ')) AS gh
       |      FROM (SELECT * FROM t WHERE size(w) >= 8) t8
       |      LATERAL VIEW explode(sequence(1, size(w) - 7)) x AS i),
       |f AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd, MIN(struct(doc_id, i)) AS fst
       |      FROM g GROUP BY gh),
       |r AS (SELECT g.doc_id, g.i FROM g JOIN f ON g.gh = f.gh
       |      WHERE f.nd > 1 AND NOT (g.doc_id = f.fst.doc_id AND g.i = f.fst.i)),
       |${spanIslands("r")},
       |tok AS (SELECT doc_id, j, element_at(w, j) AS tokw
       |        FROM (SELECT * FROM t WHERE doc_id % 20 = 0) td
       |        LATERAL VIEW explode(sequence(1, size(w))) x AS j),
       |cov AS (SELECT DISTINCT tok.doc_id, tok.j FROM tok
       |        JOIN sp ON tok.doc_id = sp.doc_id AND tok.j BETWEEN sp.s AND sp.e),
       |kept AS (SELECT tok.doc_id, tok.j, tok.tokw
       |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j
       |         WHERE cov.j IS NULL),
       |nk AS (SELECT doc_id, COUNT(*) AS n_kept,
       |              md5(concat_ws(' ',
       |                transform(sort_array(collect_list(struct(j, tokw))),
       |                          s -> s.tokw))) AS clean_hash
       |       FROM kept GROUP BY doc_id)
       |SELECT t.doc_id, CAST(size(w) AS BIGINT) AS n_tokens,
       |       COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_hash, '') AS clean_hash
       |FROM t LEFT JOIN nk ON t.doc_id = nk.doc_id
       |WHERE t.doc_id % 20 = 0 ORDER BY t.doc_id""".stripMargin

  private def substringCleanDuckSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, i, md5(array_to_string(w[i:i+7], ' ')) AS gh
      |      FROM (SELECT * FROM t WHERE len(w) >= 8) t8,
      |           unnest(range(1, len(w) - 7 + 1)) AS u(i)),
      |f AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd, MIN({'doc_id': doc_id, 'i': i}) AS fst
      |      FROM g GROUP BY gh),
      |r AS (SELECT g.doc_id, g.i FROM g JOIN f ON g.gh = f.gh
      |      WHERE f.nd > 1 AND NOT (g.doc_id = f.fst.doc_id AND g.i = f.fst.i)),
      |${spanIslands("r")},
      |tok AS (SELECT doc_id, j, w[CAST(j AS INT)] AS tokw
      |        FROM (SELECT * FROM t WHERE doc_id % 20 = 0) td,
      |             unnest(range(1, len(w) + 1)) AS x(j)),
      |cov AS (SELECT DISTINCT tok.doc_id, tok.j FROM tok
      |        JOIN sp ON tok.doc_id = sp.doc_id AND tok.j BETWEEN sp.s AND sp.e),
      |kept AS (SELECT tok.doc_id, tok.j, tok.tokw
      |         FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j
      |         WHERE cov.j IS NULL),
      |nk AS (SELECT doc_id, COUNT(*) AS n_kept,
      |              md5(string_agg(tokw, ' ' ORDER BY j)) AS clean_hash
      |       FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |       COALESCE(n_kept, 0) AS n_kept, COALESCE(clean_hash, '') AS clean_hash
      |FROM t LEFT JOIN nk ON t.doc_id = nk.doc_id
      |WHERE t.doc_id % 20 = 0 ORDER BY t.doc_id""".stripMargin

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every 8-token shingle, then
    * in every window of 4 consecutive shingle hashes select the minimum
    * (ties by leftmost position — encoded as hash·2^20 + pos so one
    * BIGINT window-MIN does both); the DISTINCT selected set is the
    * document's fingerprint. Guarantees: any shared run of >= 11 tokens
    * (w + k − 1) yields at least one shared selected hash in both docs,
    * and expected density is 2/(w+1) — the fraction of the corpus a
    * fingerprint index stores is constant, unlike all-shingles indexing.
    * At scale this is one explode + two per-doc windows (shuffle by
    * doc_id only) — no pairwise work; matching is a downstream equi-join
    * on the selected hash. Position encoding caps docs at 2^20 shingles
    * (1M tokens) — far above any training-doc length; the guard keeps a
    * longer doc loud instead of silently mis-ranked.
    */
  private def winnowCtesSpark(table: String): String =
    s"""WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM $table),
       |g AS (SELECT doc_id, i,
       |             CAST(conv(substr(md5(array_join(slice(w, i, 8), ' ')), 1, 8), 16, 10) AS BIGINT) * 1048576 + i AS key
       |      FROM (SELECT * FROM t WHERE size(w) >= 11 AND doc_id % 10 = 0
       |            AND assert_true(size(w) - 7 < 1048576, 'doc exceeds the 2^20-shingle winnow cap') IS NULL) tw
       |      LATERAL VIEW explode(sequence(1, size(w) - 7)) x AS i),
       |m AS (SELECT doc_id, i,
       |             COUNT(*) OVER (PARTITION BY doc_id) AS ng,
       |             MIN(key) OVER (PARTITION BY doc_id ORDER BY i
       |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
       |      FROM g),
       |f AS (SELECT DISTINCT doc_id, sel FROM m WHERE i <= ng - 3)""".stripMargin

  private[llm] def winnowSparkSql(table: String = "documents"): String =
    s"""${winnowCtesSpark(table)},
       |a AS (SELECT doc_id, COUNT(*) AS n_fps,
       |             md5(concat_ws(',', transform(sort_array(collect_list(sel)), x -> CAST(x AS STRING)))) AS fp_digest
       |      FROM f GROUP BY doc_id)
       |SELECT t.doc_id, CAST(GREATEST(size(w) - 7, 0) AS BIGINT) AS n_grams,
       |       COALESCE(n_fps, 0) AS n_fps,
       |       COALESCE(n_fps, 0) / CAST(GREATEST(size(w) - 7, 1) AS DOUBLE) AS density,
       |       COALESCE(fp_digest, '') AS fp_digest
       |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
       |WHERE t.doc_id % 10 = 0 ORDER BY t.doc_id""".stripMargin

  /** The selected (doc, hash) pairs — the index rows a fingerprint match
    * equi-joins on; SearchRankSpec drives the winnowing guarantee on it.
    */
  private[llm] def winnowSelectedSparkSql(table: String): String =
    s"""${winnowCtesSpark(table)}
       |SELECT doc_id, sel DIV 1048576 AS h FROM f ORDER BY doc_id, h""".stripMargin

  private def winnowDuckSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, i,
      |             ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 8))::BIGINT * 1048576 + i AS key
      |      FROM (SELECT * FROM t WHERE len(w) >= 11 AND doc_id % 10 = 0) tw,
      |           unnest(range(1, len(w) - 7 + 1)) AS u(i)),
      |m AS (SELECT doc_id, i,
      |             COUNT(*) OVER (PARTITION BY doc_id) AS ng,
      |             MIN(key) OVER (PARTITION BY doc_id ORDER BY i
      |                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |      FROM g),
      |f AS (SELECT DISTINCT doc_id, sel FROM m WHERE i <= ng - 3),
      |a AS (SELECT doc_id, COUNT(*) AS n_fps,
      |             md5(string_agg(CAST(sel AS VARCHAR), ',' ORDER BY sel)) AS fp_digest
      |      FROM f GROUP BY doc_id)
      |SELECT t.doc_id, CAST(GREATEST(len(w) - 7, 0) AS BIGINT) AS n_grams,
      |       COALESCE(n_fps, 0) AS n_fps,
      |       COALESCE(n_fps, 0) / CAST(GREATEST(len(w) - 7, 1) AS DOUBLE) AS density,
      |       COALESCE(fp_digest, '') AS fp_digest
      |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
      |WHERE t.doc_id % 10 = 0 ORDER BY t.doc_id""".stripMargin

  /** The fixed lexical query both BM25 and the hybrid fusion rank for. */
  private val terms = "('vector', 'join', 'stream')"

  /** BM25 scoring tail shared VERBATIM by both dialects from two relations
    * down: `tfq` (doc_id, word, tf — query terms only) and `dlt` (doc_id,
    * dl). Every downstream expression is dialect-neutral SQL, so the IEEE
    * arithmetic is textually identical on both engines — and the idf now
    * goes through the engine-neutral integer-ratio log: the Robertson
    * idf ln(1 + (N−df+0.5)/(df+0.5)) is exactly ln((2N+2)/(2df+1)), a
    * ratio of integers, so [[NeutralMath.lnScaledCtes]] computes it in
    * micro-nats with zero libm involvement (the last LN in the retrieval
    * family — the round-7 ulp-fragility audit's remaining exposure here).
    * The per-doc score sum folds at most |terms| = 3 doubles; ranking
    * orders by the ROUNDed score (ties broken by doc_id), so a last-ulp
    * fold difference cannot flip ranks.
    */
  private def bm25ScoreTail(k: NeutralMath.KernelSplice): String =
    s"""bst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(dl) AS BIGINT) AS sdl FROM dlt),
       |av AS (SELECT CAST(sdl AS DOUBLE) / CAST(nn AS DOUBLE) AS avgdl FROM bst),
       |dfq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY word),
       |idf0 AS (SELECT word, 2 * (SELECT nn FROM bst) + 2 AS inum, 2 * df + 1 AS iden FROM dfq),
       |${k.ln("idf", "idf0", "word, inum, iden", "word", "inum", "iden", "idf_u", "1.0E6")},
       |sc AS (SELECT tfq.doc_id,
       |              SUM(CAST(idf.idf_u AS DOUBLE) / 1.0E6
       |                  * CAST(tfq.tf AS DOUBLE) * (1.2E0 + 1.0E0)
       |                  / (CAST(tfq.tf AS DOUBLE) + 1.2E0 * (1.0E0 - 0.75E0
       |                     + 0.75E0 * CAST(dlt.dl AS DOUBLE) / (SELECT avgdl FROM av)))) AS score
       |       FROM tfq JOIN idf ON tfq.word = idf.word
       |            JOIN dlt ON tfq.doc_id = dlt.doc_id
       |       GROUP BY tfq.doc_id)""".stripMargin

  private def bm25Rank: String =
    """SELECT rk, doc_id, score FROM (
      |  SELECT CAST(row_number() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS INT) AS rk,
      |         doc_id, ROUND(score, 4) AS score FROM sc) r
      |WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** Staged BM25 corpus statistics — the lexical index a serving tier
    * loads: the full (doc_id, word, tf) posting table and the (doc_id, dl)
    * length table, materialized ONCE per (session, dir) and registered as
    * `bm25_tf` / `bm25_dl`. Round-7 plan audit: the four retrieval
    * queries all inlined the word-stream CTE, and Spark's per-consumer
    * CTE re-inline exploded the full corpus token stream 3-4 times PER
    * QUERY — at 100 TB that is 3-4 redundant corpus scans on every
    * retrieval. One explode now feeds one type-compressed aggregate; dl
    * derives from tf (SUM of a doc's term counts IS its length).
    */
  private val bm25Index = new graft.Artifacts.Views

  private[graft] def stageBm25(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    graft.queries.Tables.registerAll(s, d)
    bm25Index(s, d) {
      val tf = s.sql(
        """SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
          |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word
          |GROUP BY doc_id, word""".stripMargin).staged()
      val dl = tf.groupBy("doc_id")
        .agg(org.apache.spark.sql.functions.sum("tf").cast("long").as("dl"))
        .staged()
      Seq("bm25_tf" -> tf, "bm25_dl" -> dl)
    }
  }

  /** Spark source CTEs over the staged index views. */
  private def bm25StagedCtes: String =
    s"""tfq AS (SELECT doc_id, word, tf FROM bm25_tf WHERE word IN $terms),
       |dlt AS (SELECT doc_id, dl FROM bm25_dl)""".stripMargin

  /** Inline Spark source CTEs (SearchRankSpec's ad-hoc tables — the
    * micro-fixture path stays independent of the staging memo).
    */
  private def bm25InlineSparkCtes(table: String): String =
    s"""w AS (SELECT doc_id, word FROM $table
       |      LATERAL VIEW explode(split(text, ' ')) t AS word),
       |tfq AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM w
       |        WHERE word IN $terms GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM w GROUP BY doc_id)""".stripMargin

  private def bm25InlineDuckCtes: String =
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |tfq AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM w
       |        WHERE word IN $terms GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM w GROUP BY doc_id)""".stripMargin

  /** Okapi BM25, Spark dialect (parameterized for SearchRankSpec; the
    * production entry runs the staged form).
    */
  private[llm] def bm25SparkSql(table: String = "documents"): String =
    s"""WITH ${bm25InlineSparkCtes(table)},
       |${bm25ScoreTail(NeutralMath.SparkKernel)}
       |$bm25Rank""".stripMargin

  private def bm25StagedSparkSql: String =
    s"""WITH $bm25StagedCtes,
       |${bm25ScoreTail(NeutralMath.SparkKernel)}
       |$bm25Rank""".stripMargin

  private def bm25DuckSql: String =
    s"""WITH $bm25InlineDuckCtes,
       |${bm25ScoreTail(NeutralMath.OracleKernel)}
       |$bm25Rank""".stripMargin

  /** RRF fusion body: identical in both dialects once `br` (BM25 ranks)
    * and `vr` (vector ranks) exist. -1 marks "absent from that branch's
    * top-50" in the output; CAST(1 AS DOUBLE) keeps the reciprocal in
    * double on both engines (a bare 1.0 is DECIMAL in DuckDB, and
    * DECIMAL/INT division would diverge from Spark's double division).
    */
  private def rrfF: String =
    """f AS (SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
      |             COALESCE(CAST(1 AS DOUBLE) / (60 + b.r), 0)
      |             + COALESCE(CAST(1 AS DOUBLE) / (60 + v.r), 0) AS rrf,
      |             COALESCE(b.r, -1) AS bm25_rank, COALESCE(v.r, -1) AS vec_rank
      |      FROM (SELECT * FROM br WHERE r <= 50) b
      |      FULL JOIN (SELECT * FROM vr WHERE r <= 50) v ON b.doc_id = v.doc_id)""".stripMargin

  private def rrfFuse: String =
    s"""$rrfF
       |SELECT rk, doc_id, rrf, bm25_rank, vec_rank FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk,
       |         doc_id, rrf, bm25_rank, vec_rank FROM f) t
       |WHERE rk <= 20 ORDER BY rk""".stripMargin

  private def rankCte: String =
    """br AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS INT) AS r FROM sc),
      |vr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY csim DESC, doc_id) AS INT) AS r FROM vs)""".stripMargin

  /** Hybrid retrieval: BM25 top-50 + single-query-vector cosine top-50
    * (query = vec_id 0's embedding; vec_id aligns with doc_id in the
    * fixtures), fused by RRF with the standard k=60. The vector branch is
    * a 1-row broadcast against the corpus — O(N) scoring work, the
    * correct brute shape for ONE query (the multi-query scale path is the
    * IVF/LSH index family in [[AnnSql]]; RRF itself only consumes rank
    * lists, so swapping the branch for an index probe changes nothing
    * downstream). Both branch ranks order by ROUNDed scores with doc_id
    * tie-breaks, making the fused ranks integer-deterministic and the
    * reciprocal-sum fold a fixed-order two-term add.
    */
  private def hybridSparkSql: String =
    s"""WITH $bm25StagedCtes,
       |${bm25ScoreTail(NeutralMath.SparkKernel)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT c.vec_id AS doc_id,
       |              FLOOR(${AnnSql.sparkCos("qv.qe", "c.embedding")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qv JOIN embeddings c ON c.vec_id != 0),
       |$rankCte,
       |$rrfFuse""".stripMargin

  private def hybridDuckSql: String =
    s"""WITH $bm25InlineDuckCtes,
       |${bm25ScoreTail(NeutralMath.OracleKernel)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT c.vec_id AS doc_id,
       |              FLOOR(${AnnSql.duckCos("qv.qe", "c.embedding")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qv JOIN embeddings c ON c.vec_id != 0),
       |$rankCte,
       |$rrfFuse""".stripMargin

  /** Relative heavy-hitter threshold (fraction of the corpus bigram
    * stream). Exact-count comparisons on both sides, so any value is
    * cross-engine safe; 0.0015 yields a stable 30-60 row answer on the
    * fixtures.
    */
  private val hhT = "0.0015"

  /** Corpus bigram-stream length, computed as a pruned scan of the
    * documents table (no explode — SUM of per-doc counts).
    */
  private def hhTotSpark: String =
    """tot AS (SELECT CAST(SUM(size(split(text, ' ')) - 1) AS DOUBLE) AS n
      |        FROM documents WHERE size(split(text, ' ')) >= 2)""".stripMargin

  /** CMS-pruned exact heavy hitters, Spark dialect (parameterized for
    * SearchRankSpec). Pass 1 aggregates the bigram stream into a 4x512
    * count-min sketch — GROUP BY (row, bucket) map-side-combines to at
    * most 2048 rows regardless of N, the whole point at 100 TB: the full
    * shuffle of the distinct-gram table is replaced by a constant-size
    * exchange. Pass 2 re-scans the stream, probes the broadcast sketch
    * with four equi-joins on (row, bucket), keeps only grams whose FOUR
    * estimates all clear the threshold, and exact-counts the survivors.
    * CMS never underestimates, so every true heavy hitter survives
    * pruning, and the final exact-count filter makes the output identical
    * to the unpruned computation DuckDB runs as the oracle (the sketch
    * hashes never need to agree across engines — they only prune).
    * SearchRankSpec pins the superset guarantee end-to-end on a skewed
    * hostile corpus.
    */
  private[llm] def heavyHittersSparkSql(table: String = "documents"): String = {
    def bkt(expr: String) = s"pmod(xxhash64($expr), 512)"
    // A single `sk` reference: SQL-text CTEs re-inline per consumer, so a
    // 4-alias probe (one join per sketch row) would compute the sketch
    // pass FOUR times. Instead each gram occurrence explodes into its 4
    // (row, bucket) probes and joins the sketch ONCE; pass/fail depends
    // only on (gram, row), so a gram survives iff all 4 of its probe rows
    // clear the threshold — COUNT(*) of survivors is then exactly
    // 4 x occurrences, and the exact count is COUNT(*) DIV 4.
    s"""WITH t AS (SELECT split(text, ' ') AS w FROM $table),
       |g AS (SELECT array_join(slice(w, i, 2), ' ') AS gram
       |      FROM (SELECT * FROM t WHERE size(w) >= 2) t2
       |      LATERAL VIEW explode(sequence(1, size(w) - 1)) x AS i),
       |${hhTotSpark.replace("documents", table)},
       |sk AS (SELECT r, ${bkt("concat(CAST(r AS STRING), ':', gram)")} AS bkt, COUNT(*) AS c
       |       FROM g LATERAL VIEW explode(sequence(1, 4)) h AS r
       |       GROUP BY r, ${bkt("concat(CAST(r AS STRING), ':', gram)")}),
       |gp AS (SELECT gram, r, ${bkt("concat(CAST(r AS STRING), ':', gram)")} AS bkt
       |       FROM g LATERAL VIEW explode(sequence(1, 4)) h AS r),
       |cand AS (SELECT gp.gram, CAST(COUNT(*) DIV 4 AS BIGINT) AS n
       |         FROM gp JOIN sk ON sk.r = gp.r AND sk.bkt = gp.bkt
       |         WHERE sk.c >= $hhT * (SELECT n FROM tot)
       |         GROUP BY gp.gram HAVING COUNT(DISTINCT gp.r) = 4)
       |SELECT gram, n FROM cand WHERE n >= $hhT * (SELECT n FROM tot)
       |ORDER BY n DESC, gram""".stripMargin
  }

  /** The unpruned exact formulation — what the sketch path must equal. */
  private def heavyHittersDuckSql: String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT array_to_string(w[i:i+1], ' ') AS gram
       |      FROM (SELECT * FROM t WHERE len(w) >= 2) t2,
       |           unnest(range(1, len(w) - 1 + 1)) AS u(i)),
       |tot AS (SELECT CAST(SUM(len(string_split(text, ' ')) - 1) AS DOUBLE) AS n
       |        FROM documents WHERE len(string_split(text, ' ')) >= 2)
       |SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
       |HAVING COUNT(*) >= $hhT * (SELECT n FROM tot)
       |ORDER BY n DESC, gram""".stripMargin

  /** Spark-dialect unpruned exact heavy hitters — the in-Spark ground
    * truth SearchRankSpec compares the sketch path against on hostile
    * fixtures (the driver's DuckDB oracle plays this role at the SFs).
    */
  private[llm] def heavyHittersExactSparkSql(table: String): String =
    s"""WITH t AS (SELECT split(text, ' ') AS w FROM $table),
       |g AS (SELECT array_join(slice(w, i, 2), ' ') AS gram
       |      FROM (SELECT * FROM t WHERE size(w) >= 2) t2
       |      LATERAL VIEW explode(sequence(1, size(w) - 1)) x AS i),
       |${hhTotSpark.replace("documents", table)}
       |SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
       |HAVING COUNT(*) >= $hhT * (SELECT n FROM tot)
       |ORDER BY n DESC, gram""".stripMargin

  /** Hybrid retrieval with the INDEXED vector branch: same BM25 + RRF
    * composition as [[hybridSparkSql]], but the vector ranks come from the
    * two-level-quantizer IVF probe ([[AnnSql.hierSingleQuerySpark]]) instead
    * of the 1-row brute broadcast — the 100 TB serving shape (per-query
    * work nprobe x N/nlist score evals through equi-joins; candidates
    * outside the probed lists simply miss the rank list, which RRF
    * absorbs). The brute variant stays as the recall ground truth.
    */
  private def hybridIvfSparkSql: String =
    s"""WITH $bm25StagedCtes,
       |${bm25ScoreTail(NeutralMath.SparkKernel)},
       |${AnnSql.hierSingleQueryStagedSpark(0)},
       |$rankCte,
       |$rrfFuse""".stripMargin

  private def hybridIvfDuckSql: String =
    s"""WITH $bm25InlineDuckCtes,
       |${bm25ScoreTail(NeutralMath.OracleKernel)},
       |${AnnSql.hierSingleQueryDuck(0)},
       |$rankCte,
       |$rrfFuse""".stripMargin

  /** Learned reranking over hybrid retrieval (the two-stage serving
    * pattern: cheap candidate generation, learned scorer on the short
    * list — Karpukhin et al. arXiv:2004.04906 serve DPR this way): the
    * RRF-fused top-20 reranks by the averaged-perceptron probe's logit
    * ⟨w, x⟩ over the candidate's quantized embedding. The probe weights
    * are the EXACT training output of q_embed_probe_train (Spark stages
    * them as the persisted 64-row model artifact a serving tier loads;
    * DuckDB re-derives the bit-identical trajectory inline), so the
    * rerank scores are integers and the final order is exact in both
    * engines. Per-query rerank work is |candidates| = 20 dot products —
    * constant, whatever the corpus size.
    */
  private def rerankTail: String =
    """fused AS (SELECT doc_id, rrf, rrf_rk FROM (
      |  SELECT doc_id, rrf,
      |         CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rrf_rk
      |  FROM f) t WHERE rrf_rk <= 20),
      |rr AS (SELECT fu.doc_id, fu.rrf, fu.rrf_rk,
      |              CAST(DOT_EXPR AS BIGINT) AS logit
      |       FROM fused fu JOIN embeddings em ON fu.doc_id = em.vec_id
      |       CROSS JOIN pw)
      |SELECT CAST(row_number() OVER (ORDER BY logit DESC, doc_id) AS INT) AS rk,
      |       doc_id, logit, rrf, rrf_rk
      |FROM rr ORDER BY rk""".stripMargin

  private def rerankSparkSql: String =
    s"""WITH $bm25StagedCtes,
       |${bm25ScoreTail(NeutralMath.SparkKernel)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT c.vec_id AS doc_id,
       |              FLOOR(${AnnSql.sparkCos("qv.qe", "c.embedding")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qv JOIN embeddings c ON c.vec_id != 0),
       |$rankCte,
       |$rrfF,
       |pw AS (SELECT transform(array_sort(collect_list(struct(j, wj))),
       |                        s -> CAST(s.wj AS DOUBLE)) AS warr
       |       FROM probe_w),
       |${rerankTail.replace("DOT_EXPR",
            s"graft_dot_d(${AnnSql.kmQSpark.replace("embedding", "em.embedding")}, pw.warr)")}""".stripMargin

  private def rerankDuckSql: String =
    s"""WITH $bm25InlineDuckCtes,
       |${bm25ScoreTail(NeutralMath.OracleKernel)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |vs AS (SELECT c.vec_id AS doc_id,
       |              FLOOR(${AnnSql.duckCos("qv.qe", "c.embedding")} * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |       FROM qv JOIN embeddings c ON c.vec_id != 0),
       |$rankCte,
       |$rrfF,
       |${AnnSql.probeTrainCtesDuck()},
       |pw AS (SELECT list(CAST(wj AS DOUBLE) ORDER BY j) AS warr FROM w3),
       |${rerankTail.replace("DOT_EXPR",
            s"list_dot_product(${AnnSql.kmQ.replace("embedding", "em.embedding")}, pw.warr)")}""".stripMargin

  /** BATCH hybrid serving — 10 queries through the staged indexes in ONE
    * plan, the shape that proves the build-once-serve-many story: each
    * query brings its own term set (a 30-row inline table) and its own
    * query vector; the lexical side probes the staged posting table, the
    * vector side probes the staged two-level IVF, and RRF fuses per
    * query. Every per-query artifact joins equi on (qid / word / cent_id);
    * adding queries adds ROWS to bounded probe tables, not plan nodes or
    * corpus passes — per-query cost is flat in |Q| (the q_ann batch-probe
    * contract). The oracle re-derives posting stats and quantizer inline.
    */
  private val batchQFilter = "vec_id % 50 = 0 AND vec_id < 500"

  /** 3 deterministic terms per query, rotating the fixture vocabulary so
    * every query exercises a different lexical slice.
    */
  private val batchVocab = Seq(
    "vector", "join", "stream", "filter", "hash", "merge", "scan", "sort",
    "group", "window", "batch", "query", "table", "key", "column")

  private def batchTermRows: String =
    (for (q <- 0 until 10; j <- 0 until 3)
      yield s"(${q * 50}, '${batchVocab((q * 3 + j) % batchVocab.size)}')").mkString(", ")

  /** Dialect-shared batch scoring + fusion from `qt` (qid, term),
    * `wtf` (doc_id, word, tf), `dlt` (doc_id, dl) and `vs`
    * (qid, doc_id, csim) down to the fused per-query top-5.
    */
  private def hybridBatchTail(k: NeutralMath.KernelSplice): String =
    s"""bst AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn, CAST(SUM(dl) AS BIGINT) AS sdl FROM dlt),
       |av AS (SELECT CAST(sdl AS DOUBLE) / CAST(nn AS DOUBLE) AS avgdl FROM bst),
       |dfq0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM wtf
       |         WHERE word IN (SELECT DISTINCT term FROM qt) GROUP BY word),
       |idf0 AS (SELECT word, 2 * (SELECT nn FROM bst) + 2 AS inum, 2 * df + 1 AS iden FROM dfq0),
       |${k.ln("idf", "idf0", "word, inum, iden", "word", "inum", "iden", "idf_u", "1.0E6")},
       |tfq AS (SELECT qt.qid, w2.doc_id, qt.term AS word, w2.tf
       |        FROM wtf w2 JOIN qt ON w2.word = qt.term),
       |sc AS (SELECT tfq.qid, tfq.doc_id,
       |              SUM(CAST(idf.idf_u AS DOUBLE) / 1.0E6
       |                  * CAST(tfq.tf AS DOUBLE) * (1.2E0 + 1.0E0)
       |                  / (CAST(tfq.tf AS DOUBLE) + 1.2E0 * (1.0E0 - 0.75E0
       |                     + 0.75E0 * CAST(dlt.dl AS DOUBLE) / (SELECT avgdl FROM av)))) AS score
       |       FROM tfq JOIN idf ON tfq.word = idf.word
       |            JOIN dlt ON tfq.doc_id = dlt.doc_id
       |       GROUP BY tfq.qid, tfq.doc_id),
       |br AS (SELECT qid, doc_id,
       |              CAST(row_number() OVER (PARTITION BY qid ORDER BY ROUND(score, 4) DESC, doc_id) AS INT) AS r
       |       FROM sc),
       |vr AS (SELECT qid, doc_id,
       |              CAST(row_number() OVER (PARTITION BY qid ORDER BY csim DESC, doc_id) AS INT) AS r
       |       FROM vs),
       |f AS (SELECT COALESCE(b.qid, v.qid) AS qid, COALESCE(b.doc_id, v.doc_id) AS doc_id,
       |             COALESCE(CAST(1 AS DOUBLE) / (60 + b.r), 0)
       |             + COALESCE(CAST(1 AS DOUBLE) / (60 + v.r), 0) AS rrf,
       |             COALESCE(b.r, -1) AS bm25_rank, COALESCE(v.r, -1) AS vec_rank
       |      FROM (SELECT * FROM br WHERE r <= 50) b
       |      FULL JOIN (SELECT * FROM vr WHERE r <= 50) v
       |        ON b.qid = v.qid AND b.doc_id = v.doc_id)
       |SELECT CAST(qid AS BIGINT) AS qid, rk, doc_id, rrf, bm25_rank, vec_rank FROM (
       |  SELECT qid, doc_id, rrf, bm25_rank, vec_rank,
       |         CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, doc_id) AS INT) AS rk
       |  FROM f) t
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  private def hybridBatchSparkSql: String =
    s"""WITH qt AS (SELECT qid, term FROM VALUES $batchTermRows AS t(qid, term)),
       |wtf AS (SELECT doc_id, word, tf FROM bm25_tf),
       |dlt AS (SELECT doc_id, dl FROM bm25_dl),
       |${AnnSql.hierBatchQueryStagedSpark(batchQFilter)},
       |${hybridBatchTail(NeutralMath.SparkKernel)}""".stripMargin

  private def hybridBatchDuckSql: String =
    s"""WITH qt AS (SELECT qid, term FROM (VALUES $batchTermRows) t(qid, term)),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |wtf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
       |dlt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
       |${AnnSql.hierBatchQueryCtes(AnnSql.duckCos,
          s"q.vec_id % 50 = 0 AND q.vec_id < 500")},
       |${hybridBatchTail(NeutralMath.OracleKernel)}""".stripMargin

  /** RAG context assembly — the step between retrieval and the model
    * call: take the ranked candidates (the staged-BM25 top-20 for the
    * fixed query), pack them into a 256-token context budget GREEDILY IN
    * RANK ORDER (each doc costs its indexed length + 2 separator tokens),
    * and emit the packed manifest. Greedy-by-rank is the standard RAG
    * packing rule (relevance order is the contract with the ranker;
    * knapsack-optimal packing would reorder evidence). Work after
    * retrieval: one running-sum window over <= 20 rows — constant at any
    * corpus size; doc lengths come from the staged bm25_dl table, not a
    * re-tokenization.
    */
  private def ragPackTail: String =
    s"""top AS (SELECT rk, doc_id, score FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS INT) AS rk,
       |         doc_id, ROUND(score, 4) AS score FROM sc) r
       |  WHERE rk <= 20),
       |costed AS (SELECT top.rk, top.doc_id, top.score, dlt.dl + 2 AS cost,
       |                  SUM(dlt.dl + 2) OVER (ORDER BY top.rk
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |           FROM top JOIN dlt ON top.doc_id = dlt.doc_id)
       |SELECT rk, doc_id, score, CAST(cost AS BIGINT) AS n_tokens,
       |       CAST(cum AS BIGINT) AS cum_tokens
       |FROM costed WHERE cum <= 256 ORDER BY rk""".stripMargin

  private def ragPackSparkSql: String =
    s"""WITH $bm25StagedCtes,
       |${bm25ScoreTail(NeutralMath.SparkKernel)},
       |$ragPackTail""".stripMargin

  private def ragPackDuckSql: String =
    s"""WITH $bm25InlineDuckCtes,
       |${bm25ScoreTail(NeutralMath.OracleKernel)},
       |$ragPackTail""".stripMargin

  /** Staged probe-weight artifact, memoized per (session, dir) — the
    * 64-row trained model a serving tier would load once.
    */
  private val probeWeights = new graft.Artifacts.Views

  /** Pre-stage hook for the bench's untimed setup: train + checkpoint the
    * probe weights (the persisted model artifact) so q_search_rerank_probe
    * times the two-stage SERVING path.
    */
  private[graft] def stageProbeWeights(
      s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    graft.queries.Tables.registerAll(s, d)
    probeWeights(s, d) { Seq("probe_w" -> s.sql(AnnSql.probeTrainSpark()).staged()) }
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_search_rerank_probe" -> QuerySpec(
      (s, d) => {
        stageBm25(s, d)
        stageProbeWeights(s, d)
        s.sql(rerankSparkSql)
      },
      Some(rerankDuckSql)),
    "q_dedup_substring" -> sql2(substringSparkSql(), substringDuckSql),
    "q_dedup_substring_clean" -> sql2(substringCleanSparkSql(), substringCleanDuckSql),
    "q_text_bm25" -> QuerySpec(
      (s, d) => { stageBm25(s, d); s.sql(bm25StagedSparkSql) },
      Some(bm25DuckSql)),
    "q_text_winnow" -> sql2(winnowSparkSql(), winnowDuckSql),
    "q_search_hybrid_rrf" -> QuerySpec(
      (s, d) => { stageBm25(s, d); s.sql(hybridSparkSql) },
      Some(hybridDuckSql)),
    "q_search_hybrid_ivf" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageBm25(s, d)
        AnnSql.stageHierIndex(s, d)
        s.sql(hybridIvfSparkSql)
      },
      Some(hybridIvfDuckSql)),
    "q_search_hybrid_batch" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageBm25(s, d)
        AnnSql.stageHierIndex(s, d)
        s.sql(hybridBatchSparkSql)
      },
      Some(hybridBatchDuckSql)),
    "q_search_rag_pack" -> QuerySpec(
      (s, d) => { stageBm25(s, d); s.sql(ragPackSparkSql) },
      Some(ragPackDuckSql)),
    "q_text_heavy_hitters" -> sql2(heavyHittersSparkSql(), heavyHittersDuckSql)
  )
}
