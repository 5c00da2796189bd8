package graft.llm

import graft.queries.QuerySpec
import graft.Staging.StagedDataFrame

/** Token-level generative quality classifier — the Naive Bayes filter a
  * curation pipeline trains to separate "looks like the curated
  * reference" from "looks like raw crawl" (the GPT-3 Appendix A / CCNet /
  * fastText quality-filter pattern: a LINEAR model over text features,
  * trained reference-vs-raw and applied to every incoming document; the
  * reference engine's SQL surface has no learned operator — this belongs
  * to the LLM-pipeline extension set).
  *
  * Unlike q_embed_probe_train (a discriminative perceptron over
  * EMBEDDINGS), this trains directly on token statistics, so it runs
  * before any embedding model exists — the first quality gate of a
  * pipeline. Multinomial NB with add-one smoothing over word-type
  * features (the model is VOCABULARY-BOUNDED — the q_text_unigram_logprob
  * broadcast contract; at web scale the vocabulary is capped by hashing
  * into 2^18+ buckets, the fastText trick, which changes only the feature
  * definition, not this plan):
  *
  *   llr(w)   = ln( (c⁺(w)+1)/(N⁺+V) · (N⁻+V)/(c⁻(w)+1) )   per word type
  *   score(d) = Σ_{tokens t∈d, t∈vocab} llr(t)
  *
  * computed as ONE neutral-log call per word type on the exact integer
  * ratio (c⁺+1)(N⁻+V) / (c⁻+1)(N⁺+V) — integer micro-nats, so the
  * per-doc sum is an exact BIGINT fold (order-independent) and both
  * engines agree bit-for-bit. Products stay inside BIGINT while the
  * train-token count is < ~3·10⁹ (the shipped fixtures top out near 10⁶
  * tokens; at real scale the counts pass runs over a bounded sample, the
  * q_ann_kmeans_sampled contract). The decision threshold is 0 on token
  * evidence alone — uniform-prior NB, the operating point a production
  * filter tunes on validation data (the crawl-mix class prior would only
  * shift every score by one constant); out-of-vocabulary eval tokens drop
  * out of the scoring join, the standard ignore-OOV convention.
  *
  * Train/eval protocol: docs with doc_id % 3 != 0 train, % 3 = 0 are
  * scored (held out); the positive class is the DSIR target-source slice
  * (source ∈ src0..src3) so the learned filter and the importance sampler
  * see the same notion of "curated".
  *
  * 100 TB shape: the corpus is tokenized exactly TWICE — (1) the count
  * pass map-side combines the train-token stream into vocabulary-bounded
  * partial rows per task (GROUP BY word), (2) the scoring pass equi-joins
  * the eval stream to the broadcast model and aggregates per doc_id. The
  * model-derivation chain (counts → window totals → log kernel) is
  * strictly LINEAR — every CTE has one consumer, so Catalyst's SQL-text
  * CTE re-inlining cannot multiply corpus scans (the round-8 DSIR ×5
  * lesson); the only 2-consumer CTE is the token stream itself, and its
  * two consumers ARE the two intended passes. Totals ride
  * vocabulary-bounded unpartitioned windows (like the calendar-bounded
  * seasonal spine).
  */
object TextClassify {

  private val posSrc = "('src0', 'src1', 'src2', 'src3')"

  /** Dialect-shared NB score chain over a token CTE `tok(doc_id, source,
    * word)`: train counts → vocabulary-bounded totals → neutral-log LLR
    * table → per-held-out-doc integer score. Ends at `sc(doc_id, source,
    * score_u, n_tok)` so the rollup, the AUC, and the reliability tails
    * all consume the IDENTICAL model + scoring text.
    */
  private def nbScoreCtes(k: NeutralMath.KernelSplice): String =
    s"""bc AS (SELECT word,
       |              CAST(SUM(CASE WHEN source IN $posSrc THEN 1 ELSE 0 END) AS BIGINT) AS cp,
       |              CAST(SUM(CASE WHEN source IN $posSrc THEN 0 ELSE 1 END) AS BIGINT) AS cn
       |       FROM tok WHERE doc_id % 3 != 0 GROUP BY word),
       |bt AS (SELECT word, cp, cn,
       |              SUM(cp) OVER () AS np, SUM(cn) OVER () AS nn,
       |              COUNT(*) OVER () AS v
       |       FROM bc),
       |l0 AS (SELECT word, CAST((cp + 1) * (nn + v) AS BIGINT) AS num,
       |              CAST((cn + 1) * (np + v) AS BIGINT) AS den
       |       FROM bt),
       |${k.ln("llr", "l0", "word, num, den", "word", "num", "den", "llr_u", "1.0E6")},
       |sc AS (SELECT tok.doc_id, tok.source,
       |              CAST(SUM(llr.llr_u) AS BIGINT) AS score_u,
       |              CAST(COUNT(*) AS BIGINT) AS n_tok
       |       FROM tok JOIN llr ON tok.word = llr.word
       |       WHERE tok.doc_id % 3 = 0
       |       GROUP BY tok.doc_id, tok.source)""".stripMargin

  /** Dialect-shared tail over a token CTE `tok(doc_id, source, word)`. */
  private def nbTail(k: NeutralMath.KernelSplice): String =
    s"""${nbScoreCtes(k)}
       |SELECT source,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN score_u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_hi,
       |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |       CAST(SUM(score_u) AS BIGINT) AS sum_score_u,
       |       CAST(MIN(score_u) AS BIGINT) AS min_score_u,
       |       CAST(MAX(score_u) AS BIGINT) AS max_score_u
       |FROM sc GROUP BY source ORDER BY source""".stripMargin

  private def nbSpark: String =
    s"""WITH tok AS (SELECT doc_id, source, word
       |             FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word),
       |${nbTail(NeutralMath.SparkKernel)}""".stripMargin

  private def nbDuck: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split(text, ' ')) AS word
       |             FROM documents),
       |${nbTail(NeutralMath.OracleKernel)}""".stripMargin

  /** Per-(session, dir) staged NB score table: the [[nbScoreCtes]] chain
    * materialized ONCE (localCheckpoint, one row per held-out doc) and
    * registered as `nb_sc` for the AUC and reliability tails — both of
    * which need the score extremes BEFORE binning, i.e. two consumers of
    * the score table, which under Catalyst's SQL-text CTE re-inlining
    * would otherwise re-run the whole corpus-scoring chain per consumer
    * (the DSIR ×5 lesson). Materializing per-doc scores is what a real
    * pipeline does anyway — the scored corpus IS the product; the eval
    * reads the artifact, not the corpus.
    */
  private val nbScores = new graft.Artifacts.Views

  private def stageNbSc(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    nbScores(s, d) {
      Seq("nb_sc" -> s.sql(
        s"""WITH tok AS (SELECT doc_id, source, word
           |             FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word),
           |${nbScoreCtes(NeutralMath.SparkKernel)}
           |SELECT doc_id, source, score_u, n_tok FROM sc""".stripMargin)
        .staged())
    }

  /** Exact banded Mann-Whitney AUC of the NB scores on the held-out slice
    * — the eval a filter ships with (fastText/CCNet quality filters are
    * reported BY their val AUC; without it a pipeline can't compare two
    * candidate filters). Scores land in 256 equal-width integer bins and
    * the U statistic folds over the ≤256-row histogram:
    *
    *   2·U = Σ_b np_b · (2·cumneg_{<b} + nn_b)      (same-bin pairs = ½)
    *
    * so AUC = 2U / (2·P·N) is the EXACT tie-corrected AUC of the binned
    * scores — a deterministic statistic of integer counts, no ranks over
    * the corpus. (The bin width, not engine arithmetic, defines the tie
    * radius; with 256 bins the binned AUC differs from the raw-rank AUC
    * by < 1/256 of the band mass — the standard histogram-AUC trade
    * every streaming eval makes.)
    *
    * 100 TB shape: the Spark side scores through the STAGED [[stageNbSc]]
    * artifact (two corpus passes total across the whole NB eval family);
    * everything after is one map-side-combined GROUP BY over 256 bin
    * values, a window over the ≤256-row histogram, and single-row
    * extreme/total joins. 1e6·2U stays inside BIGINT while
    * P·N < ~4.6e12 — i.e. held-out slices to ~2M docs per class; a larger
    * eval run samples the slice (the q_embed_probe_train bound pattern).
    * All DIV operands are non-negative, so Spark's truncating DIV and
    * DuckDB's flooring // agree.
    */
  private def aucTail(intDiv: String, scRel: String): String =
    s"""lab AS (SELECT CASE WHEN source IN $posSrc THEN 1 ELSE 0 END AS y, score_u FROM $scRel),
       |ext AS (SELECT CAST(MIN(score_u) AS BIGINT) AS lo, CAST(MAX(score_u) AS BIGINT) AS hi FROM lab),
       |bin AS (SELECT y,
       |               CAST(LEAST(255, ((score_u - lo) * 256) $intDiv GREATEST(1, hi - lo + 1)) AS BIGINT) AS b
       |        FROM lab CROSS JOIN ext),
       |hb AS (SELECT b, CAST(SUM(y) AS BIGINT) AS np, CAST(SUM(1 - y) AS BIGINT) AS nn
       |       FROM bin GROUP BY b),
       |cw AS (SELECT b, np, nn,
       |              CAST(COALESCE(SUM(nn) OVER (ORDER BY b
       |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
       |       FROM hb),
       |u AS (SELECT CAST(SUM(np * (2 * below + nn)) AS BIGINT) AS u2,
       |             CAST(SUM(np) AS BIGINT) AS p, CAST(SUM(nn) AS BIGINT) AS n
       |      FROM cw)
       |SELECT p AS n_pos, n AS n_neg,
       |       CAST((1000000 * u2) $intDiv (2 * p * n) AS BIGINT) AS auc_micro,
       |       CAST((1000000 * u2) $intDiv (p * n) - 1000000 AS BIGINT) AS gini_micro
       |FROM u""".stripMargin

  private def aucSpark: String =
    s"""WITH ${aucTail("DIV", "nb_sc")}""".stripMargin

  private def aucDuck: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split(text, ' ')) AS word
       |             FROM documents),
       |${nbScoreCtes(NeutralMath.OracleKernel)},
       |${aucTail("//", "sc")}""".stripMargin

  /** Reliability (calibration) table of the NB scores: 10 equal-width
    * score bins on the held-out slice, each with its document count and
    * empirical positive rate — the curve a pipeline reads before trusting
    * the score as a probability (a monotone but flat curve means the
    * filter ranks well yet needs recalibration before thresholding; the
    * Platt/isotonic step fits ON this table, K rows, driver-side).
    * Positive rate in exact basis points via integer division.
    *
    * 100 TB shape: identical to [[aucTail]] — staged score artifact + one
    * GROUP BY over 10 bin values + single-row extremes; nothing rank-based.
    */
  private def reliabilityTail(intDiv: String, scRel: String): String =
    s"""lab AS (SELECT CASE WHEN source IN $posSrc THEN 1 ELSE 0 END AS y, score_u FROM $scRel),
       |ext AS (SELECT CAST(MIN(score_u) AS BIGINT) AS lo, CAST(MAX(score_u) AS BIGINT) AS hi FROM lab),
       |bin AS (SELECT y, score_u,
       |               CAST(LEAST(9, ((score_u - lo) * 10) $intDiv GREATEST(1, hi - lo + 1)) AS BIGINT) AS b
       |        FROM lab CROSS JOIN ext)
       |SELECT CAST(b AS INT) AS bin,
       |       CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(y) AS BIGINT) AS n_pos,
       |       CAST((10000 * CAST(SUM(y) AS BIGINT)) $intDiv COUNT(*) AS BIGINT) AS pos_rate_bp,
       |       CAST(MIN(score_u) AS BIGINT) AS min_score_u,
       |       CAST(MAX(score_u) AS BIGINT) AS max_score_u
       |FROM bin GROUP BY b ORDER BY bin""".stripMargin

  private def reliabilitySpark: String =
    s"""WITH ${reliabilityTail("DIV", "nb_sc")}""".stripMargin

  private def reliabilityDuck: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split(text, ' ')) AS word
       |             FROM documents),
       |${nbScoreCtes(NeutralMath.OracleKernel)},
       |${reliabilityTail("//", "sc")}""".stripMargin

  /** Isotonic (PAV) calibration of the NB quality score (Ayer, Brunk,
    * Ewing, Reid & Silverman, Ann. Math. Stat. 1955; classifier-score
    * calibration per Zadrozny & Elkan, KDD 2002): fit the best
    * NON-DECREASING map score-bin → P(curated) in least squares. A raw
    * NB score orders documents but its reliability curve need not be
    * monotone (q_text_nb_reliability shows the raw curve); selection
    * thresholds and mixing weights want calibrated PROBABILITIES, and
    * isotonic is the standard distribution-free calibrator when enough
    * labeled mass exists per bin.
    *
    * Implementation is the closed-form minimax identity — iso(i) =
    * max_{j≤i} min_{l≥i} mean(y over bins j..l) — which needs NO
    * sequential pool-adjacent sweep: span means come from prefix sums
    * over the ≤32 occupied bins, the inner min is a reverse running-min
    * window per span start, the outer max a per-bin aggregate. All on a
    * ≤32²-row bounded table — a distributed PAV without a driver loop
    * (the same statistic the sequential stack computes; the replay spec
    * pins equality against a JVM PAV).
    *
    * Determinism: bin counts (n, k) are exact integers; span means are
    * single IEEE divisions of exact integers in shared text (identical
    * min/max ordering in both engines); output quantizes to milli.
    *
    * 100 TB shape: consumes the STAGED per-doc score artifact (nb_sc, the
    * reliability/AUC contract — zero extra corpus passes); one ≤32-row
    * GROUP BY; the span table is 32²/2 rows; windows are per-span-start
    * over ≤32 rows. The single-row extremes join is the ext broadcast
    * the reliability tail already uses.
    */
  private def isotonicTail(intDiv: String, scRel: String): String =
    s"""lab AS (SELECT CASE WHEN source IN $posSrc THEN 1 ELSE 0 END AS y, score_u FROM $scRel),
       |ext AS (SELECT CAST(MIN(score_u) AS BIGINT) AS lo, CAST(MAX(score_u) AS BIGINT) AS hi FROM lab),
       |bin AS (SELECT y,
       |               CAST(LEAST(31, ((score_u - lo) * 32) $intDiv GREATEST(1, hi - lo + 1)) AS BIGINT) AS b
       |        FROM lab CROSS JOIN ext),
       |g AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS k
       |      FROM bin GROUP BY b),
       |cum AS (SELECT b, n, k,
       |               CAST(SUM(n) OVER (ORDER BY b
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
       |               CAST(SUM(k) OVER (ORDER BY b
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck
       |        FROM g),
       |sp AS (SELECT a.b AS j, c.b AS l,
       |              CAST(c.ck - a.ck + a.k AS DOUBLE)
       |                / CAST(c.cn - a.cn + a.n AS DOUBLE) AS mu
       |       FROM cum a JOIN cum c ON a.b <= c.b),
       |rm AS (SELECT j, l AS i,
       |              MIN(mu) OVER (PARTITION BY j ORDER BY l
       |                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v
       |       FROM sp),
       |iso AS (SELECT i AS b, MAX(v) AS isov FROM rm GROUP BY i)
       |SELECT CAST(g.b AS INT) AS bin, g.n AS n_docs, g.k AS n_pos,
       |       CAST((1000 * g.k) $intDiv g.n AS BIGINT) AS raw_rate_milli,
       |       CAST(FLOOR(iso.isov * 1.0E3 + 0.5E0) AS BIGINT) AS iso_rate_milli
       |FROM g JOIN iso ON g.b = iso.b ORDER BY bin""".stripMargin

  private def isotonicSpark: String =
    s"""WITH ${isotonicTail("DIV", "nb_sc")}""".stripMargin

  private def isotonicDuck: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split(text, ' ')) AS word
       |             FROM documents),
       |${nbScoreCtes(NeutralMath.OracleKernel)},
       |${isotonicTail("//", "sc")}""".stripMargin

  /** Confident-learning label-noise audit (Northcutt, Jiang & Chuang,
    * "Confident Learning", JAIR 2021, binarized): cross-tabulate the
    * GIVEN label (source ∈ curated set) against the CONFIDENT prediction
    * — NB score ≥ the labeled-positive mean score ⇒ confidently positive,
    * ≤ the labeled-negative mean ⇒ confidently negative, else abstain —
    * and estimate the label-noise rate as the off-diagonal share of the
    * confident mass. This is the audit a pipeline runs on its own source
    * labels before trusting them as training targets: curated-labeled
    * docs the model is CONFIDENT are crawl-like (and vice versa) are the
    * mislabel candidates CL would prune or re-weight.
    *
    * Determinism: the two class thresholds are mean scores via the
    * shared-text FLOOR(double/count + 0.5) idiom (score sums are signed,
    * so integer DIV would split Spark-truncate vs DuckDB-floor — the
    * DoReMi mean-excess pattern applies); everything else is integer
    * counts and non-negative division. 100 TB shape: staged score
    * artifact → one single-row threshold aggregate (broadcast) → one
    * GROUP BY over ≤6 (label, prediction) cells; windows only over that
    * 6-row table.
    */
  private def labelNoiseTail(intDiv: String, scRel: String): String =
    s"""lab AS (SELECT doc_id, CASE WHEN source IN $posSrc THEN 1 ELSE 0 END AS y, score_u
       |        FROM $scRel),
       |th AS (SELECT
       |         CAST(FLOOR(CAST(SUM(CASE WHEN y = 1 THEN score_u ELSE 0 END) AS DOUBLE)
       |                    / GREATEST(1, SUM(y)) + 0.5E0) AS BIGINT) AS tp,
       |         CAST(FLOOR(CAST(SUM(CASE WHEN y = 0 THEN score_u ELSE 0 END) AS DOUBLE)
       |                    / GREATEST(1, SUM(1 - y)) + 0.5E0) AS BIGINT) AS tn
       |       FROM lab),
       |cl AS (SELECT lab.y,
       |              CASE WHEN lab.score_u >= th.tp THEN 1
       |                   WHEN lab.score_u <= th.tn THEN 0
       |                   ELSE -1 END AS ystar
       |       FROM lab CROSS JOIN th),
       |cells AS (SELECT y, ystar, CAST(COUNT(*) AS BIGINT) AS n_docs
       |          FROM cl GROUP BY y, ystar)
       |SELECT CAST(y AS INT) AS labeled, CAST(ystar AS INT) AS confident_pred, n_docs,
       |       CAST((10000 * SUM(CASE WHEN ystar >= 0 AND y != ystar THEN n_docs ELSE 0 END) OVER ())
       |            $intDiv GREATEST(1, SUM(CASE WHEN ystar >= 0 THEN n_docs ELSE 0 END) OVER ())
       |            AS BIGINT) AS noise_bp
       |FROM cells ORDER BY labeled, confident_pred""".stripMargin

  private def labelNoiseSpark: String =
    s"""WITH ${labelNoiseTail("DIV", "nb_sc")}""".stripMargin

  private def labelNoiseDuck: String =
    s"""WITH tok AS (SELECT doc_id, source,
       |                    unnest(string_split(text, ' ')) AS word
       |             FROM documents),
       |${nbScoreCtes(NeutralMath.OracleKernel)},
       |${labelNoiseTail("//", "sc")}""".stripMargin

  val specs: Map[String, QuerySpec] = Map(
    "q_text_nb_quality" -> QuerySpec.sql2(nbSpark, nbDuck),
    "q_text_label_noise" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageNbSc(s, d)
        s.sql(labelNoiseSpark)
      },
      Some(labelNoiseDuck)),
    "q_text_nb_auc" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageNbSc(s, d)
        s.sql(aucSpark)
      },
      Some(aucDuck)),
    "q_text_nb_reliability" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageNbSc(s, d)
        s.sql(reliabilitySpark)
      },
      Some(reliabilityDuck)),
    "q_text_isotonic_calibrate" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageNbSc(s, d)
        s.sql(isotonicSpark)
      },
      Some(isotonicDuck))
  )
}
