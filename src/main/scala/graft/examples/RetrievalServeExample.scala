package graft.examples

import graft.Sessions

/** Runnable walk through the two-stage retrieval serving stack, composing
  * the engine's oracle-checked operators in the order a real deployment
  * wires them (the DPR/hybrid-search pattern):
  *
  *   1. CANDIDATES, lexical branch   — Okapi BM25 top-k (q_text_bm25)
  *   2. CANDIDATES, vector branch    — graph-routed beam search over the
  *      staged directed kNN edge list (q_ann_graph_search)
  *   3. FUSE the branches            — Reciprocal Rank Fusion
  *      (q_search_hybrid_rrf; the IVF-probed variant is
  *      q_search_hybrid_ivf)
  *   4. RERANK the short list        — averaged-perceptron probe logits
  *      over the staged model artifact (q_search_rerank_probe)
  *
  * Stage artifacts (edge list, probe weights) are built once and staged —
  * in production they are persisted tables the serving tier loads; the
  * per-query work after staging is bounded: |terms| posting joins +
  * beam-hops + 20 rerank dot products.
  *
  * Run: sbt "runMain graft.examples.RetrievalServeExample [sfDir]"
  */
object RetrievalServeExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)

    println("== 1. lexical candidates: BM25 top-20 ==")
    val bm25 = graft.SparkEntry.queries("q_text_bm25")(spark, sfDir).collect()
    println(s"   ${bm25.length} ranked docs; top: " +
      bm25.take(3).map(r => s"doc ${r.get(1)} (${r.get(2)})").mkString(", "))

    println("== 2. vector candidates: beam search over the kNN graph ==")
    val beam = graft.SparkEntry.queries("q_ann_graph_search")(spark, sfDir).collect()
    println(s"   top-3 by graph walk: " +
      beam.map(r => s"doc ${r.get(1)} cos=${r.get(2)}").mkString(", "))

    println("== 3. hybrid fusion (RRF, k=60) ==")
    val fused = graft.SparkEntry.queries("q_search_hybrid_rrf")(spark, sfDir).collect()
    println(s"   fused top-5: " +
      fused.take(5).map(r => s"doc ${r.get(1)} rrf=${r.get(2)}").mkString(", "))

    println("== 4. learned rerank (probe logits over the staged weights) ==")
    val reranked = graft.SparkEntry.queries("q_search_rerank_probe")(spark, sfDir).collect()
    println(s"   reranked top-5: " +
      reranked.take(5)
        .map(r => s"doc ${r.get(1)} logit=${r.get(2)} (was rrf rank ${r.get(4)})")
        .mkString(", "))

    val moved = reranked.count(r => r.getInt(0) != r.getInt(4))
    println(s"== done: ${moved} of ${reranked.length} candidates changed position under the reranker ==")
    spark.stop()
  }
}
