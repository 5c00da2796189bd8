package graft.llm

import graft.queries.QuerySpec
import graft.Staging.StagedDataFrame

/** Statistical phrase mining — PMI collocation extraction (Church &
  * Hanks, "Word association norms, mutual information, and lexicography",
  * Computational Linguistics 1990): score every adjacent word pair by
  * pointwise mutual information over the corpus bigram stream,
  *
  *   PMI(a,b) = ln( c(ab)·N / (c₁(a)·c₂(b)) )
  *
  * with c₁/c₂ the left/right bigram margins and N the total bigram count.
  * This is the pass that discovers multiword expressions ("new york",
  * "machine learning") for tokenizer seeding, phrase-aware dedup
  * shingles, or index phrase dictionaries — the classical complement to
  * frequency-only q_text_trigram_mining (frequency finds COMMON pairs;
  * PMI finds pairs that co-occur far above chance even when rare, hence
  * the min-support gate below against PMI's low-count instability).
  *
  * Determinism: PMI quantizes to integer micro-nats through ONE
  * neutral-log call per bigram TYPE on the exact integer ratio
  * c(ab)·N / (c₁·c₂) (both products ≤ (total tokens)² — inside BIGINT
  * until ~3·10⁹ train tokens, the q_text_nb_quality bound); ranking ties
  * break on (w1, w2).
  *
  * 100 TB shape: ONE corpus scan — the bigram explode map-side combines
  * to the vocabulary²-bounded type table, and BOTH margins plus the
  * grand total ride three windows over that bounded table (PARTITION BY
  * w1 / w2 / global — never a second corpus pass, and the window chain
  * is single-consumer so SQL-text CTE re-inlining cannot multiply scans:
  * the kcore/DSIR lesson). PlanAuditSpec pins the single scan. At web
  * scale the margins' windows run over the hashed-capped vocabulary
  * (the fastText trick), keeping the type table broadcastable.
  */
object TextMining {

  private val minSupport = 5
  private val topK = 20

  /** Dialect-shared tail over a bigram CTE `g(w1, w2)`. */
  private def pmiTail(k: NeutralMath.KernelSplice): String =
    s"""bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY w1, w2),
       |bgw AS (SELECT w1, w2, c,
       |               SUM(c) OVER (PARTITION BY w1) AS c1,
       |               SUM(c) OVER (PARTITION BY w2) AS c2,
       |               SUM(c) OVER () AS n
       |        FROM bg),
       |l0 AS (SELECT w1, w2, c, CAST(c * n AS BIGINT) AS num,
       |              CAST(c1 * c2 AS BIGINT) AS den
       |       FROM bgw WHERE c >= $minSupport),
       |${k.ln("pmi", "l0", "w1, w2, c, num, den", "w1, w2, c",
               "num", "den", "pmi_u", "1.0E6")},
       |sel AS (SELECT w1, w2, c, pmi_u FROM pmi
       |        ORDER BY pmi_u DESC, w1, w2 LIMIT $topK)
       |SELECT CAST(row_number() OVER (ORDER BY pmi_u DESC, w1, w2) AS INT) AS rk,
       |       w1, w2, CAST(c AS BIGINT) AS n_pair, CAST(pmi_u AS BIGINT) AS pmi_u
       |FROM sel ORDER BY rk""".stripMargin

  private def pmiSpark: String =
    s"""WITH d AS (SELECT split(text, ' ') AS w FROM documents),
       |g AS (SELECT element_at(w, i) AS w1, element_at(w, i + 1) AS w2
       |      FROM d LATERAL VIEW explode(sequence(1, size(w) - 1)) t AS i
       |      WHERE size(w) >= 2),
       |${pmiTail(NeutralMath.SparkKernel)}""".stripMargin

  private def pmiDuck: String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT w[i] AS w1, w[i + 1] AS w2
       |      FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d WHERE len(w) >= 2) z),
       |${pmiTail(NeutralMath.OracleKernel)}""".stripMargin

  /** Good-Turing frequency-of-frequencies (Good, Biometrika 1953; the
    * Gale & Sampson 1995 "simple GT" presentation): tabulate N_r = number
    * of word TYPES seen exactly r times, the Turing-smoothed count
    * r* = (r+1)·N_{r+1}/N_r, and the unseen-probability mass p₀ = N₁/N —
    * the vocabulary-health readout a corpus pipeline uses to (a) size
    * OOV/smoothing mass for its LMs (the Kneser-Ney discount sanity
    * check next to q_text_kn_ppl) and (b) estimate how much vocabulary
    * another crawl of the same source would still surface.
    *
    * Determinism: every output is integer arithmetic on exact counts —
    * r* in milli-units and p₀ in micro-units via integer division
    * (operands non-negative, so Spark DIV and DuckDB // agree); r* is
    * NULL where N_{r+1} is absent (the gap rows simple-GT smooths by
    * regression — fitting that log-log line is a K-row driver-side step,
    * like the reliability table's recalibration).
    *
    * 100 TB shape: ONE corpus scan map-side combines to the
    * vocabulary-bounded type table; the frequency-of-frequencies GROUP BY
    * collapses it to ≤ distinct-count-value rows (O(√tokens)); the LEAD
    * window and the single-row totals join run on that bounded table.
    */
  private def goodTuringTail(intDiv: String): String =
    s"""wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY word),
       |ff AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS nr FROM wc GROUP BY c),
       |tot AS (SELECT CAST(SUM(r * nr) AS BIGINT) AS n,
       |               CAST(SUM(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1
       |        FROM ff),
       |sm AS (SELECT r, nr,
       |              LEAD(nr) OVER (ORDER BY r) AS nr_next,
       |              LEAD(r) OVER (ORDER BY r) AS r_next,
       |              row_number() OVER (ORDER BY r) AS rk
       |       FROM ff)
       |SELECT CAST(sm.r AS BIGINT) AS r, sm.nr AS n_types,
       |       CASE WHEN sm.r_next = sm.r + 1
       |            THEN CAST(((sm.r + 1) * 1000 * sm.nr_next) $intDiv sm.nr AS BIGINT)
       |            ELSE CAST(NULL AS BIGINT) END AS r_star_milli,
       |       CAST((1000000 * tot.n1) $intDiv tot.n AS BIGINT) AS p0_micro
       |FROM sm CROSS JOIN tot
       |WHERE sm.rk <= 15 ORDER BY r""".stripMargin

  private def goodTuringSpark: String =
    s"""WITH tok AS (SELECT word FROM documents
       |             LATERAL VIEW explode(split(text, ' ')) t AS word),
       |${goodTuringTail("DIV")}""".stripMargin

  private def goodTuringDuck: String =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |${goodTuringTail("//")}""".stripMargin

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions (Lin, IEEE-IT 1991) — the symmetric, bounded (≤ ln 2)
    * corpus-drift matrix a mixture designer reads before setting domain
    * weights: which sources are near-duplicates of each other
    * distributionally (candidates for merging/capping) and which carry
    * genuinely distinct text. JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q);
    * with integer counts each KL term is an exact rational —
    * p/m = 2·ca·Nb/(ca·Nb + cb·Na) — so every log rides the
    * engine-neutral kernel on BIGINT products (safe while
    * count·tokens < 2^63, i.e. per-source token counts to ~3e9; past
    * that counts rescale to per-million shares, same plan). Missing-word
    * terms (cb = 0 → ln 2) come from the LEFT joins.
    *
    * 100 TB shape: ONE corpus tokenize pass map-side combines into the
    * vocabulary-bounded (source, word) count artifact, STAGED
    * (localCheckpoint) because the pair expansion reads it four times
    * (two sides × two KL branches) — under CTE re-inlining that would be
    * four corpus scans (PlanAuditSpec pins 0 in-plan). Everything after
    * is equi-joins on word keyed by the K²-pair table and K²-row
    * aggregates.
    */
  private val jsCounts = new graft.Artifacts.Views

  private[llm] def stageJsCnt(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    jsCounts(s, d) {
      val c = s.sql(
        """SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
          |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word
          |GROUP BY source, word""".stripMargin).staged()
      val tt = c.groupBy("source")
        .agg(org.apache.spark.sql.functions.sum("c").as("n"))
        .staged()
      Seq("js_cnt" -> c, "js_tot" -> tt)
    }

  /** Dialect-shared JSD tail over `cnt(source, word, c)` / `tot(source,
    * n)` relations.
    */
  private def jsdTail(cnt: String, tot: String,
      k: NeutralMath.KernelSplice): String =
    s"""pairs AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
       |          FROM $tot a JOIN $tot b ON a.source < b.source),
       |ta0 AS (SELECT p.sa, p.sb, p.na, p.nb, ca.c AS ca, COALESCE(cb.c, 0) AS cb
       |        FROM pairs p
       |        JOIN $cnt ca ON ca.source = p.sa
       |        LEFT JOIN $cnt cb ON cb.source = p.sb AND cb.word = ca.word),
       |ta1 AS (SELECT sa, sb, na, nb, ca,
       |               CAST(2 * ca * nb AS BIGINT) AS num,
       |               CAST(ca * nb + cb * na AS BIGINT) AS den
       |        FROM ta0),
       |${k.ln("ta", "ta1", "sa, sb, na, ca, num, den", "sa, sb, na, ca",
               "num", "den", "lu", "1.0E6")},
       |kla AS (SELECT sa, sb, CAST(SUM(ca * lu) AS BIGINT) AS s, MAX(na) AS na
       |        FROM ta GROUP BY sa, sb),
       |tb0 AS (SELECT p.sa, p.sb, p.na, p.nb, cb.c AS cb, COALESCE(ca.c, 0) AS ca
       |        FROM pairs p
       |        JOIN $cnt cb ON cb.source = p.sb
       |        LEFT JOIN $cnt ca ON ca.source = p.sa AND ca.word = cb.word),
       |tb1 AS (SELECT sa, sb, na, nb, cb,
       |               CAST(2 * cb * na AS BIGINT) AS num,
       |               CAST(cb * na + ca * nb AS BIGINT) AS den
       |        FROM tb0),
       |${k.ln("tb", "tb1", "sa, sb, nb, cb, num, den", "sa, sb, nb, cb",
               "num", "den", "lu", "1.0E6")},
       |klb AS (SELECT sa, sb, CAST(SUM(cb * lu) AS BIGINT) AS s, MAX(nb) AS nb
       |        FROM tb GROUP BY sa, sb),
       |fin AS (SELECT kla.sa, kla.sb,
       |               GREATEST(CAST(0 AS BIGINT),
       |                 CAST(FLOOR(CAST(kla.s AS DOUBLE) / kla.na + 0.5E0) AS BIGINT)) AS klp,
       |               GREATEST(CAST(0 AS BIGINT),
       |                 CAST(FLOOR(CAST(klb.s AS DOUBLE) / klb.nb + 0.5E0) AS BIGINT)) AS klq
       |        FROM kla JOIN klb ON kla.sa = klb.sa AND kla.sb = klb.sb)
       |SELECT sa, sb, klp AS kl_pm_micro, klq AS kl_qm_micro,
       |       CAST(FLOOR((CAST(klp AS DOUBLE) + CAST(klq AS DOUBLE)) / 2.0E0 + 0.5E0) AS BIGINT) AS jsd_micro
       |FROM fin ORDER BY sa, sb""".stripMargin

  private def jsdSpark: String =
    s"""WITH ${jsdTail("js_cnt", "js_tot", NeutralMath.SparkKernel)}""".stripMargin

  private def jsdDuck: String =
    s"""WITH cnt AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
       |            FROM (SELECT source, unnest(string_split(text, ' ')) AS word
       |                  FROM documents) z
       |            GROUP BY source, word),
       |tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
       |${jsdTail("cnt", "tot", NeutralMath.OracleKernel)}""".stripMargin

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): damped
    * PageRank over the word CO-OCCURRENCE graph (adjacent-word edges,
    * both directions — the paper's window-2 graph), top-20 words by rank.
    * Rank mass is [[GraphRank]]'s exact scaled-BIGINT recurrence (1e12
    * units, truncation only removes mass), run 5 unrolled rounds over
    * integer word ids assigned by dense vocabulary rank — so both engines
    * walk the identical integer recurrence and the extraction is
    * bit-deterministic. Frequency finds common words; PMI finds
    * surprising PAIRS; TextRank finds words that sit in well-connected
    * neighborhoods — the keyword signal of the three.
    *
    * 100 TB shape: one corpus bigram explode map-side combines to the
    * vocabulary²-bounded distinct edge set; word-id assignment is a rank
    * window over the VOCABULARY (bounded, the established contract; at
    * web scale ids come from the hash-capped vocabulary instead); each
    * pagerank round is one equi-join + one map-side-combined SUM over
    * vocabulary-sized tables. Single-consumer CTE chain per round.
    */
  /** Tail over a DISTINCT-pair relation `gp(w1, w2)` (vocabulary²-bounded
    * — on the Spark side a staged artifact, because wv/ed0 reference it
    * five times transitively and SQL-text re-inlining would turn that
    * into five corpus explodes).
    */
  /** Graph derivation over a DISTINCT-pair relation `gp`: word-id
    * vocabulary + out-degree-attached undirected edge list. Shared by the
    * Duck chain and the Spark staged-view path.
    */
  private def textrankGraphCtes(gp: String): String =
    s"""wv AS (SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS id
       |       FROM (SELECT w1 AS word FROM $gp
       |             UNION SELECT w2 AS word FROM $gp) z),
       |ed0 AS (SELECT DISTINCT a.id AS src, b.id AS dst
       |        FROM $gp g JOIN wv a ON g.w1 = a.word JOIN wv b ON g.w2 = b.word
       |        WHERE a.id != b.id),
       |ed AS (SELECT src, dst FROM ed0
       |       UNION SELECT dst AS src, src AS dst FROM ed0),
       |eo AS (SELECT ed.src, ed.dst, od.outdeg
       |       FROM ed JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
       |                     FROM ed GROUP BY src) od ON ed.src = od.src)""".stripMargin

  /** Rank iteration + top-20 readout over (wv, eo) relations — shared by
    * both dialect paths (textrankGraphCtes doc).
    */
  private def textrankRankReadout(wv: String, eo: String, intDiv: String): String = {
    val scale = 1000000000000L
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT nodes.id,
         |  CAST((15 * tele.t + 85 * COALESCE(f.inflow, 0)) $intDiv 100 AS BIGINT) AS rank
         |  FROM nodes CROSS JOIN tele LEFT JOIN (
         |    SELECT eo.dst, CAST(SUM(r.rank $intDiv eo.outdeg) AS BIGINT) AS inflow
         |    FROM $eo eo JOIN r${i - 1} r ON eo.src = r.id GROUP BY eo.dst) f
         |  ON nodes.id = f.dst)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS (SELECT id FROM $wv),
       |tele AS (SELECT CAST($scale $intDiv COUNT(*) AS BIGINT) AS t FROM nodes),
       |r0 AS (SELECT nodes.id, tele.t AS rank FROM nodes CROSS JOIN tele),
       |$iters,
       |sel AS (SELECT wv.word, r5.rank FROM r5 JOIN $wv wv ON r5.id = wv.id
       |        ORDER BY r5.rank DESC, wv.word LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY rank DESC, word) AS INT) AS rk,
       |       word, CAST(rank AS BIGINT) AS rank_scaled
       |FROM sel ORDER BY rk""".stripMargin
  }

  private def textrankTail(gp: String, intDiv: String): String =
    s"""${textrankGraphCtes(gp)},
       |${textrankRankReadout("wv", "eo", intDiv)}""".stripMargin

  private val trPairs = new graft.Artifacts.Views

  private[llm] def stageTrPairs(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    trPairs(s, d) {
      Seq("tr_pairs" -> s.sql(
        """SELECT DISTINCT element_at(w, i) AS w1, element_at(w, i + 1) AS w2
          |FROM (SELECT split(text, ' ') AS w FROM documents) d
          |LATERAL VIEW explode(sequence(1, size(w) - 1)) t AS i
          |WHERE size(w) >= 2""".stripMargin).staged())
    }

  /** Spark path: wv and eo are staged views (the single-SQL form compiled
    * to a 346-Exchange plan — eo is referenced by all 5 rank rounds and
    * wv by ed0/nodes/sel, and Catalyst re-inlines each reference;
    * plans/r11, _before capture). The rank chain itself is linear
    * (r_{i-1} referenced once) and stays one SQL.
    */
  private def textrankSparkStaged(
      s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    def cp(df: org.apache.spark.sql.DataFrame) =
      graft.Staging.checkpointStatsReset(df, eager = false)
    cp(s.sql(
      """SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS id
        |FROM (SELECT w1 AS word FROM tr_pairs
        |      UNION SELECT w2 AS word FROM tr_pairs) z""".stripMargin))
      .createOrReplaceTempView("graft_tr_wv")
    cp(s.sql(
      """WITH ed0 AS (SELECT DISTINCT a.id AS src, b.id AS dst
        |        FROM tr_pairs g JOIN graft_tr_wv a ON g.w1 = a.word
        |                        JOIN graft_tr_wv b ON g.w2 = b.word
        |        WHERE a.id != b.id),
        |ed AS (SELECT src, dst FROM ed0
        |       UNION SELECT dst AS src, src AS dst FROM ed0)
        |SELECT ed.src, ed.dst, od.outdeg
        |FROM ed JOIN (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
        |              FROM ed GROUP BY src) od ON ed.src = od.src""".stripMargin))
      .createOrReplaceTempView("graft_tr_eo")
    s.sql(s"WITH ${textrankRankReadout("graft_tr_wv", "graft_tr_eo", "DIV")}")
  }

  private def textrankDuck: String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
       |gp AS (SELECT DISTINCT w[i] AS w1, w[i + 1] AS w2
       |       FROM (SELECT w, unnest(range(1, len(w))) AS i FROM d WHERE len(w) >= 2) z),
       |${textrankTail("gp", "//")}""".stripMargin

  /** RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
    * keyword extraction from individual documents", in Berry & Kogan,
    * Text Mining 2010): candidate phrases are maximal stopword-free word
    * runs; each content word scores deg(w)/freq(w) — its summed
    * co-occurrence degree (Σ lengths of phrases containing it) over its
    * frequency — and a phrase scores the sum of its words' scores. The
    * document-level complement to corpus-level q_text_textrank /
    * q_text_pmi_collocations: no graph iteration, no pair table, one
    * pass — the cheap first-cut keyphrase tagger a curation pipeline
    * runs on every document.
    *
    * Determinism: word scores are integer milli-units (deg·1000 DIV
    * freq — exact in both engines); phrase scores are BIGINT sums of
    * those; phrase TEXT is reconstructed order-exactly (array_sort over
    * (position, word) structs on the Spark side, ORDER BY position
    * string_agg on the oracle side) — no collect_list ordering hazard;
    * the top-15 ties break on the phrase string.
    *
    * 100 TB shape: one tokenize pass; both windows (phrase-id running
    * stopword count; phrase length) PARTITION BY doc — per-document
    * work, embarrassingly parallel. The content-word table is STAGED
    * (localCheckpoint; the word-score aggregate and the phrase rollup
    * are two consumers — the multi-consumer staging contract), the
    * word-score join is vocabulary-bounded, and the final top-k is a
    * TakeOrdered over the ≤5-word candidate phrases.
    */
  private val rakePhrases = new graft.Artifacts.Views

  private val rakeStop = "('a', 'the')"

  /** Content-word rows (doc_id, pid, i, word, len) — Spark dialect. */
  private def rakePhSpark: String =
    s"""WITH tok AS (SELECT doc_id, i, element_at(w, i) AS word
       |             FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) d
       |             LATERAL VIEW explode(sequence(1, size(w))) t AS i),
       |st AS (SELECT doc_id, i, word,
       |              CASE WHEN word IN $rakeStop THEN 1 ELSE 0 END AS is_stop
       |       FROM tok),
       |seg AS (SELECT doc_id, i, word, is_stop,
       |               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
       |        FROM st)
       |SELECT doc_id, pid, i, word,
       |       CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT) AS len
       |FROM seg WHERE is_stop = 0""".stripMargin

  private def rakePhDuck: String =
    s"""WITH tok AS (SELECT doc_id, i, w[i] AS word
       |             FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
       |                   FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d) z),
       |st AS (SELECT doc_id, i, word,
       |              CASE WHEN word IN $rakeStop THEN 1 ELSE 0 END AS is_stop
       |       FROM tok),
       |seg AS (SELECT doc_id, i, word, is_stop,
       |               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY i) AS pid
       |        FROM st)
       |SELECT doc_id, pid, i, word,
       |       CAST(COUNT(*) OVER (PARTITION BY doc_id, pid) AS BIGINT) AS len
       |FROM seg WHERE is_stop = 0""".stripMargin

  private def rakeTail(ph: String, phraseAgg: String, intDiv: String): String =
    s"""ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |              CAST(SUM(len) AS BIGINT) AS deg
       |       FROM $ph GROUP BY word),
       |sc AS (SELECT word, CAST((deg * 1000) $intDiv freq AS BIGINT) AS w_milli FROM ws),
       |pj AS (SELECT p.doc_id, p.pid, p.i, p.word, sc.w_milli
       |       FROM $ph p JOIN sc ON p.word = sc.word),
       |ps AS (SELECT doc_id, pid, $phraseAgg AS phrase,
       |              CAST(SUM(w_milli) AS BIGINT) AS score_milli,
       |              CAST(COUNT(*) AS BIGINT) AS n_words
       |       FROM pj GROUP BY doc_id, pid HAVING COUNT(*) <= 5),
       |agg AS (SELECT phrase, score_milli, CAST(MAX(n_words) AS BIGINT) AS n_words,
       |               CAST(COUNT(*) AS BIGINT) AS n_occur
       |        FROM ps GROUP BY phrase, score_milli)
       |SELECT rk, phrase, n_words, n_occur, score_milli FROM (
       |  SELECT CAST(row_number() OVER (ORDER BY score_milli DESC, phrase) AS INT) AS rk,
       |         phrase, n_words, n_occur, score_milli
       |  FROM agg) z
       |WHERE rk <= 15 ORDER BY rk""".stripMargin

  private def rakeSpark: String =
    s"""WITH ${rakeTail("graft_rake_ph",
           "array_join(transform(array_sort(collect_list(struct(i, word))), x -> x.word), ' ')",
           "DIV")}""".stripMargin

  private def rakeDuck: String =
    s"""WITH ph AS MATERIALIZED ($rakePhDuck),
       |${rakeTail("ph", "string_agg(word, ' ' ORDER BY i)", "//")}""".stripMargin

  /** Word burstiness / overdispersion audit (Church & Gale, "Poisson
    * mixtures", Natural Language Engineering 1995; Katz's K-mixture):
    * for each word, how far its per-document count distribution departs
    * from the Poisson a uniform topic-free corpus would produce. Two
    * readouts per word: the burst mean tf/df (mean occurrences PER
    * CONTAINING document — Church & Gale's E[c | c>0]) and the index of
    * dispersion D = var/mean over ALL documents, D = (N·Σc² − tf²)/(N·tf)
    * (D ≈ 1 under Poisson; templates/boilerplate push D ≫ 1). The
    * corpus-health screen that catches template floods BEFORE they bend
    * the Zipf fit (q_text_zipf_fit) or flood the dedup queues.
    *
    * Determinism: tf, df, Σc² are exact integer folds over the (doc,
    * word) count table; both readouts are non-negative integer
    * divisions in milli units (N·Σc² ≥ tf² by Cauchy-Schwarz, so the
    * numerator never goes negative into the engine-split DIV domain).
    * int64 holds to ~10⁹·maxc tokens per word; past that counts rescale
    * to per-million shares (the q_text_js_divergence note).
    *
    * 100 TB shape: one tokenize pass map-side combines to the (doc,
    * word) table, one more combine to the vocabulary-bounded word
    * table, a single-row doc-count join (sweep-allowlisted); top-15 by
    * dispersion is a TakeOrdered. Nothing pairwise anywhere.
    */
  private def burstTail(docCount: String, intDiv: String): String =
    s"""f AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY doc_id, word),
       |wf AS (SELECT word, CAST(SUM(c) AS BIGINT) AS tf, CAST(COUNT(*) AS BIGINT) AS df,
       |              CAST(SUM(c * c) AS BIGINT) AS c2 FROM f GROUP BY word),
       |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ($docCount) dd),
       |r AS (SELECT word, tf, df, c2, nd.n,
       |             (tf * 1000) $intDiv df AS burst_milli,
       |             ((nd.n * c2 - tf * tf) * 1000) $intDiv (nd.n * tf) AS disp_milli
       |      FROM wf CROSS JOIN nd WHERE tf >= 50)
       |SELECT rk, word, tf, df, burst_milli, disp_milli FROM (
       |  SELECT word, tf, df, burst_milli, disp_milli,
       |         CAST(row_number() OVER (ORDER BY disp_milli DESC, word) AS INT) AS rk
       |  FROM r) z
       |WHERE rk <= 15 ORDER BY rk""".stripMargin

  private def burstSpark: String =
    s"""WITH tok AS (SELECT doc_id, word FROM documents
       |             LATERAL VIEW explode(split(text, ' ')) t AS word),
       |${burstTail("SELECT doc_id FROM documents", "DIV")}""".stripMargin

  private def burstDuck: String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |${burstTail("SELECT doc_id FROM documents", "//")}""".stripMargin

  val specs: Map[String, QuerySpec] = Map(
    "q_text_burstiness" -> QuerySpec.sql2(burstSpark, burstDuck),
    "q_text_rake" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        rakePhrases(s, d) { Seq("graft_rake_ph" -> s.sql(rakePhSpark).staged()) }
        s.sql(rakeSpark)
      },
      Some(rakeDuck)),
    "q_text_textrank" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageTrPairs(s, d)
        textrankSparkStaged(s)
      },
      Some(textrankDuck)),
    "q_text_pmi_collocations" -> QuerySpec.sql2(pmiSpark, pmiDuck),
    "q_text_good_turing" -> QuerySpec.sql2(goodTuringSpark, goodTuringDuck),
    "q_text_js_divergence" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d)
        stageJsCnt(s, d)
        s.sql(jsdSpark)
      },
      Some(jsdDuck))
  )
}
