package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Sessions.withConf
import graft.Staging.StagedDataFrame

/** Near-duplicate clustering: connected components over the pair graph,
  * keeping the minimum doc_id as each cluster's representative — the
  * "which copy do we keep" step that follows candidate generation in a
  * dedup pipeline.
  *
  * Algorithm: min-label propagation with pointer-jumping — each round is
  * (1) a hash join pulling every neighbor's label + groupBy(min), then
  * (2) a shortcut join chasing the new label's own label (l(u) := l(l(u)),
  * Shiloach–Vishkin-style chain halving), so long paths converge in
  * O(log diameter) rounds instead of O(diameter); the standard
  * large-scale CC pattern (no driver-side graph). Each round runs exactly
  * ONE action: the fixpoint aggregate, which also materializes that
  * round's lazy localCheckpoint (on a cluster: spark.checkpoint against a
  * durable dir). Labels are always node ids within the same component and
  * only ever decrease, so the fixpoint is the per-component minimum.
  */
object DedupCluster {

  /** pairs(id1 < id2) → (doc_id, cluster_rep). */
  def clusters(pairs: DataFrame): DataFrame = {
    // Materialize the (possibly expensive) pair pipeline ONCE before the
    // union references it twice.
    val p = pairs.select(col("id1"), col("id2")).staged()
    // The iterative rounds shuffle only the label frontier (|nodes| rows,
    // a sliver of the corpus); run them at a narrow shuffle width and
    // restore afterwards — per-round latency is joins x partitions x
    // scheduling, so width should track frontier size, not the scan
    // default. A production run sizes this to |nodes| / target-partition
    // rows. Each round's single action materializes inside the loop, so
    // the narrowed width is captured by every round's plan.
    withConf(pairs.sparkSession, "spark.sql.shuffle.partitions" -> "8")(clustersLoop(p))
  }

  /** Fixpoint actions the last [[clusters]] run took — the r12 evidence
    * probe for the barrier-halving claim (each action covers two
    * propagate+double-shortcut sub-rounds).
    */
  private[llm] val lastActions = new java.util.concurrent.atomic.AtomicInteger(0)

  private def clustersLoop(p: DataFrame): DataFrame = {
    val edges = p.select(col("id1").as("a"), col("id2").as("b"))
      .union(p.select(col("id2").as("a"), col("id1").as("b")))
      .staged()

    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .staged()

    // One propagate-and-shortcut sub-round over (node, label0, label):
    // pull every neighbor's label, keep the min, then chase the result
    // through the round-start label map TWICE — l(u) := l(l(l(u))).
    // Each chase is one |nodes|-row equi-join; labels only ever decrease
    // (least() everywhere) and any value assigned is the id of a node in
    // the same component, so the fixpoint is still the per-component
    // minimum — the extra applications only accelerate convergence
    // (chain depth quarters per sub-round instead of halving). label0
    // (the action-start label) rides along for the convergence check.
    def subRound(ls: DataFrame): DataFrame = {
      val cur = ls.select(col("node"), col("label"))
      val neighborMin = edges
        .join(cur, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nlabel"))
      val lk1 = cur.select(col("node").as("jn"), col("label").as("jl"))
      val lk2 = cur.select(col("node").as("kn"), col("label").as("kl"))
      ls
        .join(neighborMin, col("node") === col("a"), "left")
        .select(col("node"), col("label0"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("mid"))
        .join(lk1, col("mid") === col("jn"), "left")
        .select(col("node"), col("label0"),
          least(col("mid"), coalesce(col("jl"), col("mid"))).as("m2"))
        .join(lk2, col("m2") === col("kn"), "left")
        .select(col("node"), col("label0"),
          least(col("m2"), coalesce(col("kl"), col("m2"))).as("label"))
    }

    var converged = false
    var rounds = 0
    val maxRounds = 50 // backstop; doubling converges in ~log2(diameter)
    while (!converged && rounds < maxRounds) {
      // TWO sub-rounds per driver action (r11 verdict #4: the per-round
      // fixpoint collect was the dominant cost of forest-shaped graphs —
      // each action is a full job barrier at this scale). A sub-round
      // past convergence is a no-op on the labels, so batching cannot
      // change the result, only the round at which the check fires.
      // Each sub-round is lazily checkpointed (referenced 4x by the
      // next one; the stats reset prevents the self-join BigInt
      // pathology — IterPlan.cpReset doc), materialized by the single
      // fixpoint action.
      val base = labels.select(col("node"), col("label").as("label0"), col("label"))
      val a = IterPlan.cpReset(subRound(base), eager = false)
      val b = IterPlan.cpReset(subRound(a), eager = false)
      // labels only decrease, so "anything changed in either sub-round"
      // == final label < action-start label
      converged =
        b.agg(count(when(col("label") < col("label0"), true))).head.getLong(0) == 0
      labels = b.select(col("node"), col("label"))
      rounds += 1
    }
    lastActions.set(rounds)
    // No ORDER BY here: of the six consumers only q_dedup_cluster's
    // readout needs one and it adds its own; the rest aggregate or join
    // (a range-partition sort exchange ahead of a groupBy is waste).
    labels.select(col("node").as("doc_id"), col("label").as("cluster_rep"))
  }
}
