package graft.llm

import graft.queries.QuerySpec
import graft.queries.QuerySpec.sql2
import graft.Staging.StagedDataFrame

/** Tokenizer-training and retrieval-index construction — the two
  * text-side index artifacts an LLM data platform builds over a corpus:
  *
  *  - BPE merge training (Sennrich et al., "Neural Machine Translation of
  *    Rare Words with Subword Units", arXiv:1508.07909 §3.2): learn merge
  *    rules by repeatedly fusing the most frequent adjacent symbol pair,
  *    with the reference algorithm's left-to-right non-overlapping
  *    application — here two unrolled rounds over the word-TYPE table;
  *  - inverted-index build with delta-encoded postings: per-term sorted
  *    doc lists stored as gaps, plus the varint byte accounting that
  *    decides whether the compressed index pays for itself.
  *
  * Scale design: BOTH operators run their heavy math on vocabulary-bounded
  * tables. BPE's pair counting and merge application touch only the word
  * TYPE table (distinct words x their character positions — constant in
  * corpus size once the one corpus aggregate builds word counts; that
  * aggregate is STAGED on the Spark side so Catalyst's CTE re-inlining can
  * never multiply the corpus scan through the round chain — the
  * q_embed_pca_project lesson). The inverted index shuffles the posting
  * stream once by term; the per-term gap window IS the posting sort a
  * real index write performs.
  */
object TextIndex {

  /** Two unrolled BPE rounds over a staged word-type table `bpe_wt`
    * (word, count). Each round: (1) weight adjacent symbol pairs by word
    * frequency, (2) pick the max-count pair (count DESC, then pair — the
    * deterministic tiebreak), (3) apply it left-to-right non-overlapping:
    * consecutive matches (only possible when s1 = s2) group into runs and
    * odd run positions merge — exactly reference BPE's scan order.
    *
    * Output: the learned merge per round with its count, plus the final
    * symbol inventory — all vocabulary-bounded rows.
    */
  private def bpeRound(r: Int): String = {
    val (prev, cur) = (s"s${r - 1}", s"s$r")
    s"""p$r AS (SELECT a.s AS s1, b.s AS s2, SUM(a.c) AS cnt
       |       FROM $prev a JOIN $prev b ON a.w = b.w AND b.rk = a.rk + 1
       |       GROUP BY a.s, b.s),
       |t$r AS (SELECT s1, s2, cnt FROM p$r ORDER BY cnt DESC, s1, s2 LIMIT 1),
       |m$r AS (SELECT a.w, a.rk FROM $prev a
       |        JOIN $prev b ON a.w = b.w AND b.rk = a.rk + 1
       |        JOIN t$r t ON a.s = t.s1 AND b.s = t.s2),
       |r$r AS (SELECT w, rk,
       |               row_number() OVER (PARTITION BY w, grp ORDER BY rk) AS j
       |        FROM (SELECT w, rk,
       |                     rk - row_number() OVER (PARTITION BY w ORDER BY rk) AS grp
       |              FROM m$r) z),
       |a$r AS (SELECT w, rk FROM r$r WHERE j % 2 = 1),
       |n$r AS (SELECT x.w, x.c, x.p,
       |               CASE WHEN ap.rk IS NOT NULL THEN concat(x.s, nx.s) ELSE x.s END AS s
       |        FROM $prev x
       |        LEFT JOIN a$r ap ON x.w = ap.w AND x.rk = ap.rk
       |        LEFT JOIN $prev nx ON x.w = nx.w AND nx.rk = x.rk + 1
       |        LEFT JOIN a$r cons ON x.w = cons.w AND x.rk = cons.rk + 1
       |        WHERE cons.rk IS NULL),
       |$cur AS (SELECT w, c, p, s,
       |               CAST(row_number() OVER (PARTITION BY w ORDER BY p) AS BIGINT) AS rk
       |        FROM n$r)""".stripMargin
  }

  /** Shared round chain (dialect-free given an s0 symbol table). */
  private val bpeRounds = s"${bpeRound(1)},\n${bpeRound(2)}"

  /** Merge-training output over (t1, t2, s2) relations: the learned rule
    * per round + the resulting symbol inventory. Shared by the Duck chain
    * text and the Spark staged-view path so the two cannot drift.
    */
  private def trainReadout(t1: String, t2: String, s2: String): String =
    s"""SELECT rnd, sym, cnt FROM (
       |  SELECT 1 AS rnd, concat(s1, '|', s2) AS sym, CAST(cnt AS BIGINT) AS cnt FROM $t1
       |  UNION ALL
       |  SELECT 2 AS rnd, concat(s1, '|', s2) AS sym, CAST(cnt AS BIGINT) AS cnt FROM $t2
       |  UNION ALL
       |  SELECT 3 AS rnd, s AS sym, CAST(SUM(c) AS BIGINT) AS cnt FROM $s2 GROUP BY s
       |) u ORDER BY rnd, cnt DESC, sym""".stripMargin

  private val bpeTail =
    s"""$bpeRounds
       |${trainReadout("t1", "t2", "s2")}""".stripMargin

  /** Tokenizer APPLICATION output: per word type — its corpus count,
    * character length, and encoded symbol count under the two learned
    * merges, plus the corpus rollup (chars vs tokens and the compression
    * in basis points). The encode itself IS the round chain's final
    * symbol table; this output just accounts for it — per-word rows stay
    * vocabulary-bounded, the corpus totals are exact integer sums.
    */
  private def encodeReadout(s2: String, wt: String): String =
    s"""enc AS (SELECT w, MIN(c) AS c, COUNT(*) AS n_sym FROM $s2 GROUP BY w),
       |base AS (SELECT w, length(w) AS n_char FROM $wt),
       |pw AS (SELECT enc.w, enc.c, base.n_char, enc.n_sym
       |       FROM enc JOIN base ON enc.w = base.w)
       |SELECT w, CAST(c AS BIGINT) AS n_occurrences,
       |       CAST(n_char AS BIGINT) AS n_chars, CAST(n_sym AS BIGINT) AS n_tokens,
       |       CAST(SUM(c * n_char) OVER () AS BIGINT) AS corpus_chars,
       |       CAST(SUM(c * n_sym) OVER () AS BIGINT) AS corpus_tokens,
       |       CAST(FLOOR(CAST(SUM(c * n_sym) OVER () AS DOUBLE) * 10000
       |                  / CAST(SUM(c * n_char) OVER () AS DOUBLE) + 0.5) AS BIGINT) AS tokens_vs_chars_bp
       |FROM pw ORDER BY w""".stripMargin

  private val bpeEncodeTail =
    s"""$bpeRounds,
       |${encodeReadout("s2", "bpe_wt")}""".stripMargin

  /** Spark-side round chain over STAGED views. The single-SQL form
    * ([[bpeRound]]'s CTEs inlined) compiled to 346–414-Exchange plans for
    * the three BPE queries (plans/r11, _before captures): each round
    * references its predecessor ~7 times (pair count ×2, merge-site join
    * ×2, apply ×3), so Catalyst's CTE re-inlining copies the whole prior
    * chain ~7^rounds times, deduped only at identical-exchange
    * boundaries. Staging each round's symbol table (and the 1-row merge
    * pick) as a lazily-checkpointed view makes every round run once —
    * the r11 optimization-round rewrite; the DuckDB oracle keeps the
    * [[bpeRound]] CTE text (its engine materializes multi-consumer CTEs),
    * and TextIndexSpec + the 3-SF oracle pin the two paths identical.
    *
    * Registers views bpe_s0, bpe_t1, bpe_s1, bpe_t2, bpe_s2. Text below
    * mirrors [[bpeRound]] with prev/t as view names.
    */
  private def bpeStageRounds(s: org.apache.spark.sql.SparkSession): Unit = {
    def cp(df: org.apache.spark.sql.DataFrame) =
      graft.Staging.checkpointStatsReset(df, eager = false)
    // the length(w) > 0 guard keeps the two dialects identical on empty
    // word types: Spark's sequence(1, 0) is the DESCENDING [1, 0] while
    // DuckDB's range(1, 1) is empty — an ''-token (consecutive spaces in a
    // future fixture) would otherwise build different symbol tables
    cp(s.sql(
      s"""SELECT w, c, i AS p, CAST(i AS BIGINT) AS rk, substr(w, i, 1) AS s
         |FROM bpe_wt LATERAL VIEW explode(sequence(1, length(w))) t AS i
         |WHERE length(w) > 0""".stripMargin))
      .createOrReplaceTempView("bpe_s0")
    for (r <- 1 to 2) {
      val prev = s"bpe_s${r - 1}"
      cp(s.sql(
        s"""WITH p AS (SELECT a.s AS s1, b.s AS s2, SUM(a.c) AS cnt
           |       FROM $prev a JOIN $prev b ON a.w = b.w AND b.rk = a.rk + 1
           |       GROUP BY a.s, b.s)
           |SELECT s1, s2, cnt FROM p ORDER BY cnt DESC, s1, s2 LIMIT 1""".stripMargin))
        .createOrReplaceTempView(s"bpe_t$r")
      cp(s.sql(
        s"""WITH m AS (SELECT a.w, a.rk FROM $prev a
           |        JOIN $prev b ON a.w = b.w AND b.rk = a.rk + 1
           |        JOIN bpe_t$r t ON a.s = t.s1 AND b.s = t.s2),
           |r AS (SELECT w, rk,
           |               row_number() OVER (PARTITION BY w, grp ORDER BY rk) AS j
           |        FROM (SELECT w, rk,
           |                     rk - row_number() OVER (PARTITION BY w ORDER BY rk) AS grp
           |              FROM m) z),
           |a AS (SELECT w, rk FROM r WHERE j % 2 = 1),
           |n AS (SELECT x.w, x.c, x.p,
           |               CASE WHEN ap.rk IS NOT NULL THEN concat(x.s, nx.s) ELSE x.s END AS s
           |        FROM $prev x
           |        LEFT JOIN a ap ON x.w = ap.w AND x.rk = ap.rk
           |        LEFT JOIN $prev nx ON x.w = nx.w AND nx.rk = x.rk + 1
           |        LEFT JOIN a cons ON x.w = cons.w AND x.rk = cons.rk + 1
           |        WHERE cons.rk IS NULL)
           |SELECT w, c, p, s,
           |       CAST(row_number() OVER (PARTITION BY w ORDER BY p) AS BIGINT) AS rk
           |FROM n""".stripMargin))
        .createOrReplaceTempView(s"bpe_s$r")
    }
  }

  private def bpeSparkStaged(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    bpeStageRounds(s)
    s.sql(trainReadout("bpe_t1", "bpe_t2", "bpe_s2"))
  }

  private def bpeEncodeSparkStaged(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    bpeStageRounds(s)
    s.sql(s"WITH ${encodeReadout("bpe_s2", "bpe_wt")}")
  }

  private val bpeDuckCtes =
    """bpe_wt AS (SELECT w, COUNT(*) AS c
      |           FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
      |           GROUP BY w),
      |s0 AS (SELECT w, c, i AS p, CAST(i AS BIGINT) AS rk, substr(w, i, 1) AS s
      |       FROM (SELECT w, c, unnest(range(1, length(w) + 1)) AS i
      |             FROM bpe_wt WHERE length(w) > 0) z)""".stripMargin

  private val bpeDuck = s"WITH $bpeDuckCtes,\n$bpeTail"

  /** Tokenizer FERTILITY by source (tokens per character under the learned
    * merges) — the multilingual-tokenizer equity metric (cf. mT5/BLOOM
    * tokenizer analyses): a source whose text compresses worse pays more
    * sequence length per byte of content, so the mix designer needs the
    * per-source rate, not the corpus rollup q_text_bpe_encode reports.
    * Composition: the SAME staged word-type table + 2-round merge chain
    * (word-TYPE-bounded work) joined to a per-(source, word) count table —
    * one extra token-stream aggregation; everything else is
    * vocabulary-bounded joins.
    */
  private def fertilityReadout(s2: String, wt: String): String =
    s"""enc AS (SELECT w, COUNT(*) AS n_sym FROM $s2 GROUP BY w),
       |base AS (SELECT w, length(w) AS n_char FROM $wt),
       |f AS (SELECT wts.source,
       |             CAST(SUM(wts.c * enc.n_sym) AS BIGINT) AS toks,
       |             CAST(SUM(wts.c * base.n_char) AS BIGINT) AS chars
       |      FROM wts JOIN enc ON wts.w = enc.w JOIN base ON wts.w = base.w
       |      GROUP BY wts.source)
       |SELECT source, chars, toks,
       |       CAST(FLOOR(CAST(toks AS DOUBLE) * 10000 / chars + 0.5) AS BIGINT) AS fertility_bp
       |FROM f ORDER BY source""".stripMargin

  private val fertilityTail =
    s"""$bpeRounds,
       |${fertilityReadout("s2", "bpe_wt")}""".stripMargin

  private def fertilitySparkStaged(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    bpeStageRounds(s)
    s.sql(
      s"""WITH wts AS (SELECT source, word AS w, COUNT(*) AS c
         |        FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word
         |        GROUP BY source, word),
         |${fertilityReadout("bpe_s2", "bpe_wt")}""".stripMargin)
  }

  private val fertilityDuck =
    s"""WITH $bpeDuckCtes,
       |wts AS (SELECT source, w, COUNT(*) AS c
       |        FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
       |        GROUP BY source, w),
       |$fertilityTail""".stripMargin

  private val bpeEncodeDuck = s"WITH $bpeDuckCtes,\n$bpeEncodeTail"

  /** Inverted index with delta-encoded postings: per term — document
    * frequency, total varint bytes for the gap-encoded posting list, the
    * compression ratio vs raw 8-byte ids in basis points, and the first 8
    * gaps (first posting stores its absolute id). The posting stream
    * shuffles ONCE by term; the rank/gap windows ride that exchange (the
    * window sort IS the posting-order sort an index write needs), and the
    * per-term rollup is map-side combined.
    *
    * `head_gaps` is emitted as a comma-joined STRING, not an ARRAY: the
    * driver's oracle compare sorts result frames cell-wise and an
    * array-typed cell is unsortable there (the one ERR row of
    * CORRECTNESS_r07). The gap list is an index-layout debug view, so the
    * flat rendering loses nothing.
    */
  private val invTail =
    """g AS (SELECT term, doc_id,
      |             doc_id - lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id) AS lgap,
      |             CAST(row_number() OVER (PARTITION BY term ORDER BY doc_id) AS BIGINT) AS rk
      |      FROM tok),
      |e AS (SELECT term, rk, COALESCE(lgap, doc_id) AS gap FROM g)""".stripMargin

  private val invOut =
    """SELECT term, CAST(df AS BIGINT) AS df,
      |       CAST(varint_bytes AS BIGINT) AS varint_bytes,
      |       CAST(FLOOR(CAST(varint_bytes AS DOUBLE) * 10000 / (8 * df) + 0.5) AS BIGINT) AS bytes_vs_raw_bp,
      |       head_gaps
      |FROM v ORDER BY term""".stripMargin

  private val varintCase =
    """SUM(CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
      |         WHEN gap < 2097152 THEN 3 ELSE 4 END)""".stripMargin

  private val invSpark =
    s"""WITH tok AS (SELECT DISTINCT t.word AS term, d.doc_id
       |             FROM documents d LATERAL VIEW explode(split(d.text, ' ')) t AS word),
       |$invTail,
       |v AS (SELECT term, COUNT(*) AS df,
       |             $varintCase AS varint_bytes,
       |             array_join(transform(slice(transform(array_sort(collect_list(struct(rk, gap))), x -> x.gap), 1, 8),
       |                                  x -> CAST(x AS STRING)), ',') AS head_gaps
       |      FROM e GROUP BY term)
       |$invOut""".stripMargin

  private val invDuck =
    s"""WITH tok AS (SELECT DISTINCT w AS term, doc_id
       |             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) z),
       |$invTail,
       |v AS (SELECT term, COUNT(*) AS df,
       |             $varintCase AS varint_bytes,
       |             array_to_string(list_transform(list_slice(array_agg(gap ORDER BY rk), 1, 8),
       |                                            x -> CAST(x AS VARCHAR)), ',') AS head_gaps
       |      FROM e GROUP BY term)
       |$invOut""".stripMargin

  /** Spark-side BPE entry over any document frame with a `text` column.
    * Stages the one corpus-sized aggregate (word types + counts) so the
    * unrolled round chain — which references each symbol table several
    * times — can never re-inline a corpus scan (the q_embed_pca_project
    * CTE-re-inlining lesson). Exposed for the hand-computed TextIndexSpec
    * micro-corpus check.
    */
  /** The one corpus-sized pass (word types + counts), memoized per
    * (session, dir) so the train and encode queries share a single
    * tokenize+count scan (the ann_sig lifecycle pattern). The micro-fixture
    * test path (bpeFromDocs with an ad-hoc frame) bypasses the memo.
    */
  private val wordTypes = new graft.Artifacts.Views

  /** ONE definition of the word-type aggregation, shared by the memoized
    * fixture path and the ad-hoc test path — tokenization drift between
    * them would make the spec pin different semantics than the query
    * ships.
    */
  private def buildWt(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .coalesce(1) // vocabulary-bounded: one partition beats 32 empty ones downstream
      .staged()
  }

  private def stageWt(
      docs: org.apache.spark.sql.DataFrame): Unit =
    buildWt(docs).createOrReplaceTempView("bpe_wt")

  private[llm] def stageWtCached(
      s: org.apache.spark.sql.SparkSession, d: String): Unit =
    wordTypes(s, d) { Seq("bpe_wt" -> buildWt(graft.queries.Tables.documents(s, d))) }

  private[llm] def bpeFromDocs(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    stageWt(docs)
    bpeSparkStaged(s)
  }

  private[llm] def bpeEncodeFromDocs(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    stageWt(docs)
    bpeEncodeSparkStaged(s)
  }

  /** Per-doc zlib compression pass — the RefinedWeb/Gopher-family
    * quality heuristic a real pipeline computes with a REAL compressor
    * (highly compressible text = repetitive boilerplate), run
    * executor-side with java.util.zip at BEST_COMPRESSION. The exact
    * deflate byte count is implementation-defined AND content-dependent,
    * so the oracle takes the self-verifying form (the q_agg_approx
    * pattern) over ENGINE properties only: the exactly-checkable raw
    * byte length and a deflate→inflate round-trip flag (any broken
    * compression path flips it into a hash mismatch). Asserting a
    * compression-ratio threshold instead would encode a corpus-content
    * assumption that a fixture regen with high-entropy text would
    * violate on perfectly good engine output (second-review-round
    * lesson).
    */
  final case class Compressibility(doc_id: Long, n_raw: Long, roundtrip_ok: Int)

  private def compressibility(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = text.getBytes("UTF-8")
          val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_COMPRESSION)
          d.setInput(raw)
          d.finish()
          val comp = new java.io.ByteArrayOutputStream()
          while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
          d.end()
          val inf = new java.util.zip.Inflater()
          inf.setInput(comp.toByteArray)
          val back = new Array[Byte](raw.length)
          var got = 0
          try {
            while (got < back.length && !inf.finished())
              got += inf.inflate(back, got, back.length - got)
          } finally inf.end()
          val ok = got == raw.length && java.util.Arrays.equals(back, raw)
          Compressibility(id, raw.length.toLong, if (ok) 1 else 0)
        }
      }
      .toDF()
      .orderBy("doc_id")
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_text_compressibility" -> QuerySpec(
      (s, d) => compressibility(
        graft.queries.Tables.documents(s, d)
          .where(org.apache.spark.sql.functions.col("doc_id") % 10 === 0)),
      Some(
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_raw,
          |       1 AS roundtrip_ok
          |FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin)),
    "q_text_bpe_train" -> QuerySpec(
      (s, d) => { stageWtCached(s, d); bpeSparkStaged(s) },
      Some(bpeDuck)),
    "q_text_bpe_encode" -> QuerySpec(
      (s, d) => { stageWtCached(s, d); bpeEncodeSparkStaged(s) },
      Some(bpeEncodeDuck)),
    "q_text_bpe_fertility" -> QuerySpec(
      (s, d) => {
        graft.queries.Tables.registerAll(s, d) // wts reads documents directly
        stageWtCached(s, d)
        fertilitySparkStaged(s)
      },
      Some(fertilityDuck)),
    "q_text_inverted_index" -> sql2(invSpark, invDuck)
  )
}
