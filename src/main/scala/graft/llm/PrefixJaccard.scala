package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Staging.StagedDataFrame

/** Direct (no-LSH) exact set-similarity join via PREFIX FILTERING
  * (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity Search").
  *
  * J(x,y) >= t forces an overlap of at least ceil(t*|x|), so any
  * qualifying pair must share a token among the globally-RAREST
  * |x| - ceil(t*|x|) + 1 tokens of each side (at t = 0.9 a 25-word doc
  * contributes ~3). Candidates therefore come from an equi-join on prefix
  * tokens only — the join output shrinks by ~(|doc|/prefix)^2 vs joining
  * every shared shingle — and verification is one codegen'd
  * array_intersect against the broadcast word-set table, not a re-scan.
  *
  * Scale notes: the rank threshold is exact integer arithmetic (no float
  * ceil); the global token order (df, word) is total and deterministic;
  * the prefix join keeps an 8-way salt (left replicated, right
  * deterministically salted) because a stop-word-grade token's match
  * output is quadratic and must spread across join cells; the shared
  * (doc_id, word) relation is checkpointed once — Catalyst would
  * otherwise inline and recompute it for every CTE reference (measured
  * ~7x on the SQL form of this pipeline).
  */
object PrefixJaccard {

  /** Exact Jaccard pairs (id1 < id2, J >= tNum/tDen) over word sets.
    * docs: (doc_id, text). Output: (id1, id2, jaccard ROUND 4).
    */
  def pairs(docs: DataFrame, tNum: Int, tDen: Int, salt: Int = 8): DataFrame = {
    val w = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      .staged() // one materialization serves all consumers

    val dfreq = w.groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "word")
    val pre = w.join(broadcast(dfreq), "word")
      .withColumn("p", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      // prefix length = n - ceil(t*n) + 1, ceil in pure integer arithmetic
      .filter(col("p") <= col("n") - expr(s"($tNum * n + $tDen - 1) div $tDen") + 1)
      .select("doc_id", "word", "n")

    val prl = pre.withColumn("s", explode(sequence(lit(0), lit(salt - 1))))
    val prr = pre.withColumn("s", pmod(xxhash64(col("doc_id")), lit(salt)).cast("int"))
    // LENGTH FILTER (AllPairs companion bound): J >= t forces
    // overlap >= t*max(|x|,|y|) and overlap <= min(|x|,|y|), so
    // tDen*min >= tNum*max — size-mismatched pairs die inside the join,
    // before the distinct pays to shuffle them.
    val cand = prl.as("a")
      .join(prr.as("b"),
        col("a.word") === col("b.word") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * tDen >= col("b.n") * tNum &&
          col("b.n") * tDen >= col("a.n") * tNum)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()

    val sets = w.groupBy("doc_id").agg(array_sort(collect_set("word")).as("ws"))
    val t = lit(tNum.toDouble / tDen) // same IEEE literal as the SQL oracle's 0.9
    // codegen'd sorted-merge intersection count — size(array_intersect)
    // is a per-row hash-set build in generic eval, ~20x slower here
    org.apache.spark.sql.graftbridge.GraftSession.install(docs.sparkSession)
    cand
      .join(broadcast(sets.select(col("doc_id").as("id1"), col("ws").as("ws1"))), "id1")
      .join(broadcast(sets.select(col("doc_id").as("id2"), col("ws").as("ws2"))), "id2")
      .select(col("id1"), col("id2"),
        expr("graft_overlap(ws1, ws2)").as("c"),
        size(col("ws1")).as("n1"), size(col("ws2")).as("n2"))
      .filter(col("c") >= t * (col("n1") + col("n2") - col("c")))
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
      // materialize the (small) verified set before the presentation sort —
      // the range partitioner's sampling pass would otherwise recompute the
      // whole candidate+verify subtree a second time
      .staged()
      .orderBy("id1", "id2")
  }

  /** DIRECTIONAL containment pairs: C(A→B) = |A∩B|/|A| >= tNum/tDen —
    * the subset-duplication detector (a short document quoted wholesale
    * inside a longer one has LOW Jaccard but containment ≈ 1, so the
    * symmetric join above cannot see it). The prefix theorem adapts:
    * overlap >= ceil(t·|A|) forces a shared token inside A's rarest
    * |A| − ceil(t·|A|) + 1 tokens, so candidates come from A-PREFIX ⋈
    * B-ALL-TOKENS — lossless, and only the contained side pays a prefix
    * bound. The companion length filter is one-sided too: overlap <= |B|
    * forces |B| >= t·|A|. Verification is the same codegen'd sorted-merge
    * overlap; the threshold compare is pure integer arithmetic.
    */
  def containmentPairs(docs: DataFrame, tNum: Int, tDen: Int, salt: Int = 8): DataFrame = {
    val w = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .distinct()
      .staged()

    val dfreq = w.groupBy("word").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy("df", "word")
    val withN = w.join(broadcast(dfreq), "word")
      .withColumn("p", row_number().over(byRarity))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    val pre = withN
      .filter(col("p") <= col("n") - expr(s"($tNum * n + $tDen - 1) div $tDen") + 1)
      .select("doc_id", "word", "n")

    val prl = pre.withColumn("s", explode(sequence(lit(0), lit(salt - 1))))
    val allr = withN.select(col("doc_id"), col("word"), col("n"))
      .withColumn("s", pmod(xxhash64(col("doc_id")), lit(salt)).cast("int"))
    val cand = prl.as("a")
      .join(allr.as("b"),
        col("a.word") === col("b.word") && col("a.s") === col("b.s") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") * tDen >= col("a.n") * tNum)
      .select(col("a.doc_id").as("contained"), col("b.doc_id").as("container"))
      .distinct()

    val sets = w.groupBy("doc_id").agg(array_sort(collect_set("word")).as("ws"))
    org.apache.spark.sql.graftbridge.GraftSession.install(docs.sparkSession)
    cand
      .join(broadcast(sets.select(col("doc_id").as("contained"), col("ws").as("wsa"))), "contained")
      .join(broadcast(sets.select(col("doc_id").as("container"), col("ws").as("wsb"))), "container")
      .select(col("contained"), col("container"),
        expr("graft_overlap(wsa, wsb)").as("c"), size(col("wsa")).as("na"))
      .filter(col("c") * tDen >= col("na") * tNum)
      .select(col("contained"), col("container"),
        expr("CAST(FLOOR(c * 10000.0 / na + 0.5) AS BIGINT)").as("containment_bp"))
      .staged()
      .orderBy("contained", "container")
  }
}
