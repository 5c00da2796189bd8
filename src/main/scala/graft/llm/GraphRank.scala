package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.{QuerySpec, Tables}
import graft.Staging.{checkpointStatsReset, StagedDataFrame}

/** Link-graph centrality for crawl prioritization: iterative PageRank over
  * an arbitrary (src, dst) edge table — the primitive a web-scale corpus
  * pipeline runs to decide which domains/pages to crawl, keep, or up-weight
  * (the reference's delegated-SQL surface has no graph operator; this is
  * part of the LLM-pipeline extension set, like the dedup/ANN family).
  *
  * Arithmetic is EXACT scaled-integer (rank mass carried as BIGINT
  * trillionths): every per-iteration step is integer division + an
  * order-independent BIGINT sum, so the result is bit-identical across
  * engines and across partitionings — no float accumulation anywhere.
  * r0 = SCALE div n;  r' = (15·(SCALE div n) + 85·Σ contrib) div 100,
  * contrib = r div outdeg (the 0.85-damped standard form). Truncation lost
  * to integer division only ever REMOVES rank mass (bounded by
  * (outdeg+1)/SCALE per node per iteration), never reorders the ranking
  * nondeterministically.
  *
  * Shuffle shape per iteration (the canonical distributed PageRank):
  *   1. contribs: ranks equi-join edges on src — edges are repartitioned
  *      by src ONCE and materialized (localCheckpoint), so every iteration
  *      reuses that layout and only the n-row rank table moves;
  *   2. inflow: map-side-combined SUM groupBy dst.
  * Nothing is collected to the driver; the iteration count is fixed (an
  * at-scale run uses 10-30 iterations or a convergence probe on the
  * aggregate delta — itself one more map-side-combined SUM).
  */
object GraphRank {

  /** Rank unit: 1.0 of rank mass = 1e12. 85·SCALE fits int64 with 5 digits
    * of headroom, so inflow sums are overflow-safe to ~100k average
    * in-degree × SCALE-concentrated mass — far past any real link graph.
    */
  val Scale: Long = 1000000000000L

  /** Iterative damped PageRank. `nodes`: one `id` column (BIGINT); `edges`:
    * `src`/`dst` BIGINT columns (parallel edges are collapsed; self-loops
    * are legal and simply feed a node's own rank back). Returns (id, rank)
    * with rank in SCALE-trillionths.
    */
  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // One row: the teleport quantum SCALE div n. Broadcast-joined below so
    // the corpus count never lands on the driver.
    val teleDf = broadcast(
      nodes.agg(expr(s"CAST(${Scale}L DIV COUNT(*) AS BIGINT)").as("tele")))

    // Distinct edges with out-degree attached, laid out by src once and
    // materialized — the loop's 5 joins all reuse this partitioning, so
    // only the (n-row) rank table shuffles per iteration.
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long")).distinct()
    val eo = e0
      .join(e0.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(col("src"))
      .staged(eager = false)

    var ranks = nodes.crossJoin(teleDf).select(col("id"), col("tele").as("rank"))
    for (_ <- 1 to iters) {
      val inflow = eo
        .join(ranks, eo("src") === ranks("id"))
        .select(col("dst"), expr("rank DIV outdeg").as("contrib"))
        .groupBy("dst")
        .agg(sum("contrib").as("inflow"))
      ranks = nodes
        .join(inflow, nodes("id") === inflow("dst"), "left")
        .crossJoin(teleDf)
        .select(
          nodes("id"),
          expr("(15 * tele + 85 * COALESCE(inflow, 0L)) DIV 100").as("rank"))
    }
    ranks
  }

  /** Personalized PageRank (Page et al. 1999 §6 "personalized" teleport;
    * the seed-set-expansion workhorse of Andersen-Chung-Lang, FOCS 2006):
    * identical damped iteration to [[pagerank]], but ALL teleport mass
    * returns to a seed set instead of spreading uniformly — so rank
    * concentrates in the seeds' graph neighborhood and the top non-seed
    * nodes are the expansion candidates. This is how a curation pipeline
    * grows a small trusted corpus along the link graph (seed-crawl
    * prioritization / "find more pages like these") without any content
    * model.
    *
    * Same exact scaled-integer arithmetic as [[pagerank]] (BIGINT
    * trillionths, truncation only removes mass): r0 = tele·1_seed with
    * tele = SCALE div |S|; r' = (15·tele·1_seed + 85·Σ contrib) div 100.
    * All operands non-negative, so Spark's truncating DIV and DuckDB's
    * flooring // agree. Same shuffle shape per iteration too — edges laid
    * out by src once, only the rank table moves; the seed flag joins as
    * one more equi-join on id (at scale the seed table is tiny and
    * broadcasts).
    */
  def personalizedPagerank(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int): DataFrame = {
    val teleDf = broadcast(
      seeds.agg(expr(s"CAST(${Scale}L DIV COUNT(*) AS BIGINT)").as("tele")))
    val sflag = broadcast(seeds.select(col("id").as("sid")))

    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long")).distinct()
    val eo = e0
      .join(e0.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(col("src"))
      .staged(eager = false)

    var ranks = nodes
      .join(sflag, nodes("id") === sflag("sid"), "left")
      .crossJoin(teleDf)
      .select(col("id"),
        expr("CASE WHEN sid IS NULL THEN 0L ELSE tele END").as("rank"))
    for (_ <- 1 to iters) {
      val inflow = eo
        .join(ranks, eo("src") === ranks("id"))
        .select(col("dst"), expr("rank DIV outdeg").as("contrib"))
        .groupBy("dst")
        .agg(sum("contrib").as("inflow"))
      ranks = nodes
        .join(inflow, nodes("id") === inflow("dst"), "left")
        .join(sflag, nodes("id") === sflag("sid"), "left")
        .crossJoin(teleDf)
        .select(
          nodes("id"),
          expr("""(15 * CASE WHEN sid IS NULL THEN 0L ELSE tele END
                 | + 85 * COALESCE(inflow, 0L)) DIV 100""".stripMargin).as("rank"))
    }
    ranks
  }

  /** q_graph_ppr: expand the deterministic seed slice doc_id % 29 = 0
    * over the same synthetic citation graph as q_graph_pagerank and emit
    * the top-15 NON-seed nodes — the documents the walk recommends adding
    * to the trusted set. Exact BIGINT ranks, doc_id tie-break.
    */
  private def pprSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    val edges = syntheticEdgesRaw(docs)
    val seeds = docs.filter(expr("id % 29 = 0"))
    val ranks = personalizedPagerank(docs, edges, seeds, iters = 5)
    val top = ranks
      .join(seeds.select(col("id").as("sid")), ranks("id") === col("sid"), "left_anti")
      .orderBy(col("rank").desc, col("id")).limit(15)
    top
      .select(
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rank").desc, col("id"))).as("rk"),
        col("id").as("doc_id"),
        col("rank").as("rank_scaled"))
      .orderBy("rk")
  }

  private def pprDuck: String = {
    val iterCtes = (1 to 5).map { i =>
      s"""r$i AS (SELECT nodes.id,
         |  CAST((15 * CASE WHEN sd.id IS NULL THEN 0 ELSE (SELECT tele FROM t) END
         |        + 85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes LEFT JOIN sd ON nodes.id = sd.id
         |  LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
         |    FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) f
         |  ON nodes.id = f.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |sd AS (SELECT id FROM nodes WHERE id % 29 = 0),
       |t AS (SELECT ${Scale} // COUNT(*) AS tele FROM sd),
       |e0 AS (SELECT id AS src,
       |              (id * id * 31 + (2 * j + 1) * 97) % (SELECT n FROM n) AS dst
       |       FROM (SELECT id, unnest(range(0, 3)) AS j FROM nodes) z),
       |ed AS (SELECT DISTINCT src, dst FROM e0),
       |e AS (SELECT ed.src, ed.dst, od.outdeg
       |      FROM ed JOIN (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src) od
       |      ON ed.src = od.src),
       |r0 AS (SELECT nodes.id,
       |              CASE WHEN sd.id IS NULL THEN 0
       |                   ELSE (SELECT tele FROM t) END AS rank
       |       FROM nodes LEFT JOIN sd ON nodes.id = sd.id),
       |$iterCtes
       |SELECT CAST(rk AS INT) AS rk, id AS doc_id, rank AS rank_scaled FROM (
       |  SELECT r5.id, r5.rank, row_number() OVER (ORDER BY r5.rank DESC, r5.id) AS rk
       |  FROM r5 LEFT JOIN sd ON r5.id = sd.id WHERE sd.id IS NULL) z
       |WHERE rk <= 15 ORDER BY rk""".stripMargin
  }

  /** q_graph_pagerank: rank the documents corpus over a deterministic
    * synthetic citation graph (3 outlinks per doc via a quadratic hash —
    * the fixture stands in for a real link table; the operator itself takes
    * ANY edge set) and emit the top-20 crawl-priority nodes. Exact BIGINT
    * ranks make the top-k stable with doc_id tie-break.
    */
  private def pagerankSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    // doc_ids are dense 0..n-1 in the fixture, so the quadratic map lands
    // on valid node ids; real pipelines pass a real (src, dst) table here.
    val edges = syntheticEdgesRaw(docs)
    val ranks = pagerank(docs, edges, iters = 5)
    val top = ranks.orderBy(col("rank").desc, col("id")).limit(20)
    top
      .select(
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rank").desc, col("id"))).as("rk"),
        col("id").as("doc_id"),
        col("rank").as("rank_scaled"))
      .orderBy("rk")
  }

  /** Adamic-Adar link prediction over the mutual kNN graph (Adamic &
    * Adar, "Friends and neighbors on the Web", Social Networks 2003):
    * for every non-adjacent pair (a, b) sharing at least one neighbor,
    * score AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) — common neighbors
    * weighted inversely by how promiscuous they are. In a curation
    * pipeline this predicts missing kNN edges (candidate pairs for a
    * second-pass semantic dedup or graph densification) without any new
    * embedding work: it composes the SAME staged directed-edge artifact
    * as q_ann_knn_graph / graph search.
    *
    * 100 TB shape: candidates come from the two-hop equi-join of the
    * undirected edge list with itself on the SHARED NEIGHBOR — per-node
    * fan-out is bounded by deg² ≤ (2k)², so the candidate set is O(N·k²),
    * never all-pairs; adjacency is removed by a LEFT-anti equi-join on the
    * mutual edges; the result is TakeOrdered top-20. Determinism: deg is
    * an exact integer, ln(deg) rides the engine-neutral micro-nat log,
    * and each z contributes the exact integer 1e12 DIV ln_micro(deg z)
    * (deg z ≥ 2 for any common neighbor, so the divisor is ≥ ln 2 · 1e6 —
    * never zero); the per-pair score is an integer sum, fold-order exact.
    */
  private def adamicTail(intDiv: String, k: NeutralMath.KernelSplice): String =
    s"""ue AS (SELECT id1 AS node, id2 AS nbr FROM me
       |       UNION ALL
       |       SELECT id2 AS node, id1 AS nbr FROM me),
       |dg0 AS (SELECT node, COUNT(*) AS deg FROM ue GROUP BY node),
       |${k.ln("dg", "dg0", "node, deg", "node, deg", "deg", "1", "ln_micro", "1.0E6")},
       |cn AS (SELECT ea.node AS id1, eb.node AS id2, ea.nbr AS z
       |       FROM ue ea JOIN ue eb ON ea.nbr = eb.nbr AND ea.node < eb.node),
       |sc AS (SELECT cn.id1, cn.id2, COUNT(*) AS n_common,
       |              CAST(SUM(1000000000000 $intDiv dg.ln_micro) AS BIGINT) AS aa_pico
       |       FROM cn JOIN dg ON cn.z = dg.node
       |       GROUP BY cn.id1, cn.id2),
       |pred AS (SELECT sc.id1, sc.id2, sc.n_common, sc.aa_pico
       |         FROM sc LEFT JOIN me ON sc.id1 = me.id1 AND sc.id2 = me.id2
       |         WHERE me.id1 IS NULL),
       |sel AS (SELECT id1, id2, n_common, aa_pico FROM pred
       |        ORDER BY aa_pico DESC, id1, id2 LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY aa_pico DESC, id1, id2) AS INT) AS rk,
       |       id1, id2, CAST(n_common AS BIGINT) AS n_common,
       |       CAST(aa_pico AS DOUBLE) / 1.0E12 AS aa_score
       |FROM sel ORDER BY rk""".stripMargin

  /** Mutual-edge derivation shared by both dialects: the same text as
    * AnnSql.knnMutualOver, minus the cos column this operator ignores.
    */
  private def mutualCte(rel: String): String =
    s"""me AS (SELECT a.src AS id1, a.dst AS id2
       |       FROM $rel a JOIN $rel b
       |         ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst)""".stripMargin

  private def adamicSpark(s: SparkSession, d: String): DataFrame = {
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    s.sql(
      s"""WITH ${mutualCte("g_edges")},
         |${adamicTail("DIV", NeutralMath.SparkKernel)}""".stripMargin)
  }

  private def adamicDuck: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |${mutualCte("tk")},
       |${adamicTail("//", NeutralMath.OracleKernel)}""".stripMargin

  /** Triangle census + local clustering coefficient over the mutual kNN
    * graph — the standard graph-health audit of a similarity index (a
    * well-clustered corpus closes its wedges; a random or broken one
    * doesn't), and the direct input to graph-densification decisions next
    * to [[adamicTail]]'s open-wedge predictions.
    *
    * Enumeration is the classic ordered-triple join (each triangle
    * a < b < c counted exactly once): me(a,b) ⋈ me(b,c) on the middle
    * vertex, closed by an equi-join probe of me(a,c). 100 TB shape: with
    * the id1 < id2 edge orientation, per-vertex fan-out of the wedge join
    * is bounded by deg² ≤ (2k)² (the kNN degree cap), so candidates are
    * O(N·k²) — never all-pairs, and every step is an equi-join (the same
    * candidate-generation discipline PlanAuditSpec pins for the dedup
    * family; production systems orient by degree for skewed graphs, which
    * this composes with). Arithmetic is pure integer (counts) plus ONE
    * correctly-rounded division emitted at FULL precision (never a
    * display ROUND of a quotient — the round-8 half-way-flip lesson) —
    * bit-identical across engines by construction, no log kernel needed.
    */
  private def trianglesTail: String =
    s"""tri AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
       |        FROM me e1
       |        JOIN me e2 ON e2.id1 = e1.id2
       |        JOIN me e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2),
       |pt AS (SELECT a AS node FROM tri UNION ALL
       |       SELECT b AS node FROM tri UNION ALL
       |       SELECT c AS node FROM tri),
       |tc AS (SELECT node, COUNT(*) AS tri FROM pt GROUP BY node),
       |ue2 AS (SELECT id1 AS node FROM me UNION ALL SELECT id2 AS node FROM me),
       |dgt AS (SELECT node, COUNT(*) AS deg FROM ue2 GROUP BY node),
       |tt AS (SELECT COUNT(*) AS n_tri FROM tri),
       |selt AS (SELECT dgt.node AS node, dgt.deg AS deg, COALESCE(tc.tri, 0) AS tri
       |         FROM dgt LEFT JOIN tc ON dgt.node = tc.node
       |         ORDER BY tri DESC, dgt.node LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY tri DESC, node) AS INT) AS rk,
       |       node, CAST(deg AS BIGINT) AS deg, CAST(tri AS BIGINT) AS tri_cnt,
       |       CASE WHEN deg < 2 THEN CAST(0 AS DOUBLE)
       |            ELSE CAST(2 * tri AS DOUBLE) / CAST(deg * (deg - 1) AS BIGINT)
       |       END AS clust_coef,
       |       CAST((SELECT n_tri FROM tt) AS BIGINT) AS n_tri_total
       |FROM selt ORDER BY rk""".stripMargin

  /** Label-propagation community detection (Raghavan, Albert & Kumara,
    * Phys. Rev. E 2007) over the mutual kNN graph — the modularity-free
    * community pass a curation pipeline runs to group near-duplicate
    * neighborhoods and topic clusters beyond what connected components
    * (q_dedup_cluster) can separate: LPA splits a component along sparse
    * cuts because each node adopts the label carried by the MOST of its
    * neighbors, not any label reachable through one edge.
    *
    * Three synchronous rounds, unrolled: every node starts as its own
    * label; each round a node adopts the most frequent label among its
    * neighbors plus one self-vote (the self-vote is the standard
    * oscillation damper for bipartite-ish neighborhoods — without it a
    * mutual pair swaps labels forever), ties broken by the SMALLEST label
    * so the outcome is deterministic (the published algorithm breaks ties
    * randomly; a data engine must not). Output: the 20 largest
    * communities plus the total community count.
    *
    * 100 TB shape: each round is ONE equi-join of the bounded-degree edge
    * list (deg ≤ 2k) against the label table followed by a map-side
    * combinable (node, label) count and a per-node top-1 window — the
    * same per-round cost as a PageRank iteration (q_graph_pagerank), with
    * the round count fixed; no all-pairs step anywhere. Pure integer
    * votes, fold-order exact.
    */
  /** Shared 3-round LPA chain (ue undirected neighbor list, l0 self
    * labels, l1..l3 majority-vote rounds) — consumed by the
    * q_graph_label_prop readout and the q_graph_modularity scorer.
    */
  private def lpaChainCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""v$i AS (SELECT ue.node AS node, l${i - 1}.lbl AS lbl
         |       FROM ue JOIN l${i - 1} ON ue.nbr = l${i - 1}.node
         |       UNION ALL
         |       SELECT node, lbl FROM l${i - 1}),
         |c$i AS (SELECT node, lbl, COUNT(*) AS c FROM v$i GROUP BY node, lbl),
         |l$i AS (SELECT node, lbl FROM (
         |         SELECT node, lbl,
         |                row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |         FROM c$i) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""ue AS (SELECT id1 AS node, id2 AS nbr FROM me
       |       UNION ALL
       |       SELECT id2 AS node, id1 AS nbr FROM me),
       |l0 AS (SELECT DISTINCT node, node AS lbl FROM ue),
       |$rounds""".stripMargin
  }

  /** Spark-side 3-round LPA over STAGED views instead of chained CTEs:
    * Catalyst re-inlines every multi-consumer CTE (l_i feeds v_{i+1}'s
    * join AND its self-vote union; the readouts reference l3 up to three
    * times), so the single-SQL form compiled to a 378-Exchange plan for
    * q_graph_label_prop and 1786 for q_graph_modularity
    * (plans/r11, the _before captures) — ~2^rounds scan copies deduped only at
    * identical-exchange boundaries. Each round here is the SAME vote/
    * majority text over a lazily-checkpointed view (LogicalRDD leaf), so
    * every round's join+count+window runs exactly once (guide §2.4: one
    * exchange per logical step). Registers graft_lpa_me / graft_lpa_ue /
    * graft_lpa_l3 for the readouts; the DuckDB oracle keeps deriving the
    * identical chain from [[lpaChainCtes]] (its engine materializes
    * multi-consumer CTEs).
    */
  private def lpaStageViews(s: SparkSession, d: String): Unit = {
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    s.sql(s"WITH ${mutualCte("g_edges")} SELECT id1, id2 FROM me")
      .transform(checkpointStatsReset(_, eager = false)).createOrReplaceTempView("graft_lpa_me")
    s.sql(
      """SELECT id1 AS node, id2 AS nbr FROM graft_lpa_me
        |UNION ALL
        |SELECT id2 AS node, id1 AS nbr FROM graft_lpa_me""".stripMargin)
      .transform(checkpointStatsReset(_, eager = false)).createOrReplaceTempView("graft_lpa_ue")
    var l = s.sql("SELECT DISTINCT node, node AS lbl FROM graft_lpa_ue")
      .transform(checkpointStatsReset(_, eager = false))
    for (i <- 1 to 3) {
      l.createOrReplaceTempView(s"graft_lpa_l${i - 1}")
      // The neighbor-vote join is staged on its own before the self-vote
      // union: a Union whose child carries join constraints over a
      // checkpointed view trips Catalyst's UnionBase.rewriteConstraints
      // ("key not found: node#…") — two LogicalRDD leaves union cleanly.
      s.sql(
        s"""SELECT ue.node AS node, p.lbl AS lbl
           |FROM graft_lpa_ue ue
           |JOIN graft_lpa_l${i - 1} p ON ue.nbr = p.node""".stripMargin)
        .transform(checkpointStatsReset(_, eager = false)).createOrReplaceTempView(s"graft_lpa_v$i")
      l = s.sql(
        s"""SELECT node, lbl FROM (
           |  SELECT node, lbl,
           |         row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
           |  FROM (SELECT node, lbl, COUNT(*) AS c
           |        FROM (SELECT node, lbl FROM graft_lpa_v$i
           |              UNION ALL
           |              SELECT node, lbl FROM graft_lpa_l${i - 1}) v
           |        GROUP BY node, lbl) c) x WHERE rn = 1""".stripMargin)
        .transform(checkpointStatsReset(_, eager = false))
    }
    l.createOrReplaceTempView("graft_lpa_l3")
  }

  /** Community readout over a label relation `l3` — shared by the Duck
    * chain text (l3 = the CTE) and the Spark staged-view path (l3 =
    * graft_lpa_l3), so the two sides can never drift.
    */
  private def lpaReadout(l3: String): String =
    s"""g AS (SELECT lbl, COUNT(*) AS n_members, MIN(node) AS min_node
       |      FROM $l3 GROUP BY lbl),
       |tot AS (SELECT COUNT(*) AS n_comm FROM g),
       |selc AS (SELECT lbl, n_members, min_node FROM g
       |         ORDER BY n_members DESC, lbl LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY n_members DESC, lbl) AS INT) AS rk,
       |       lbl AS community, CAST(n_members AS BIGINT) AS n_members, min_node,
       |       CAST((SELECT n_comm FROM tot) AS BIGINT) AS n_comm_total
       |FROM selc ORDER BY rk""".stripMargin

  private def lpaTail: String = {
    s"""$lpaChainCtes,
       |${lpaReadout("l3")}""".stripMargin
  }

  private def lpaSpark(s: SparkSession, d: String): DataFrame = {
    lpaStageViews(s, d)
    s.sql(s"WITH ${lpaReadout("graft_lpa_l3")}")
  }

  private def lpaDuck: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |${mutualCte("tk")},
       |$lpaTail""".stripMargin

  /** Newman-Girvan modularity of the LPA communities over the mutual kNN
    * graph (Newman & Girvan, Phys. Rev. E 69, 2004): Q = Σ_c [e_c/m −
    * (deg_c/2m)²] — the standard "did label propagation find real
    * structure" readout (Q ≈ 0: no better than random wiring at the same
    * degree sequence; Q ≥ ~0.3: real community structure). Shares
    * [[lpaChainCtes]] with q_graph_label_prop so the communities scored
    * are EXACTLY the ones that query reports.
    *
    * Determinism: Q·4m² = Σ_c (4m·e_c − deg_c²) is EXACT signed BIGINT
    * (per-community q_num ships raw); only the display quotient divides,
    * as one shared double text over exact integers. deg_c² bounds BIGINT
    * to m ≈ 1.5×10⁹ edges — beyond that the doc'd rescale is
    * degree-shares in milli. Shape: intra-community edge count is ONE
    * equi-join pass of the edge list against the label table (no wedge
    * or pair blowup); everything after runs on community-bounded rows.
    */
  /** Modularity readout over (me, ue, l3) relations — shared between the
    * Duck chain text and the Spark staged-view path (lpaReadout doc).
    */
  private def modularityReadout(me: String, ue: String, l3: String): String =
    s"""deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS dg FROM $ue GROUP BY node),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM $me),
       |ein AS (SELECT a.lbl, CAST(COUNT(*) AS BIGINT) AS e_in
       |        FROM $me me JOIN $l3 a ON me.id1 = a.node
       |                JOIN $l3 b ON me.id2 = b.node
       |        WHERE a.lbl = b.lbl GROUP BY a.lbl),
       |dc AS (SELECT l.lbl, CAST(SUM(d.dg) AS BIGINT) AS deg_sum,
       |              CAST(COUNT(*) AS BIGINT) AS n_members
       |       FROM $l3 l JOIN deg d ON l.node = d.node GROUP BY l.lbl),
       |pc AS (SELECT dc.lbl, dc.n_members, dc.deg_sum,
       |              CAST(COALESCE(e.e_in, 0) AS BIGINT) AS e_in,
       |              CAST(4 * mm.m * COALESCE(e.e_in, 0)
       |                   - dc.deg_sum * dc.deg_sum AS BIGINT) AS qnum
       |       FROM dc LEFT JOIN ein e ON dc.lbl = e.lbl CROSS JOIN mm),
       |qt AS (SELECT CAST(SUM(qnum) AS BIGINT) AS qsum FROM pc),
       |selc AS (SELECT lbl, n_members, deg_sum, e_in, qnum FROM pc
       |         ORDER BY n_members DESC, lbl LIMIT 20)
       |SELECT CAST(row_number() OVER (ORDER BY n_members DESC, lbl) AS INT) AS rk,
       |       lbl AS community, CAST(n_members AS BIGINT) AS n_members,
       |       CAST(e_in AS BIGINT) AS e_in, CAST(deg_sum AS BIGINT) AS deg_sum,
       |       CAST(qnum AS BIGINT) AS q_num,
       |       CAST((SELECT qsum FROM qt) AS BIGINT) AS q_num_total,
       |       CAST((SELECT qsum FROM qt) AS DOUBLE)
       |         / (4.0E0 * CAST((SELECT m FROM mm) AS DOUBLE)
       |                  * CAST((SELECT m FROM mm) AS DOUBLE)) AS q_modularity
       |FROM selc ORDER BY rk""".stripMargin

  private def modularityTail: String =
    s"""$lpaChainCtes,
       |${modularityReadout("me", "ue", "l3")}""".stripMargin

  private def modularitySpark(s: SparkSession, d: String): DataFrame = {
    lpaStageViews(s, d)
    s.sql(s"WITH ${modularityReadout("graft_lpa_me", "graft_lpa_ue", "graft_lpa_l3")}")
  }

  private def modularityDuck: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |${mutualCte("tk")},
       |$modularityTail""".stripMargin

  /** k-core decomposition (onion peeling; Seidman, Social Networks 1983;
    * distributed peeling as in Montresor et al., "Distributed k-core
    * decomposition", IEEE TPDS 2013) over the mutual kNN graph — the
    * density-stratification pass a curation pipeline runs to separate
    * tight semantic clusters (high core) from loosely-attached periphery
    * (peeled early): repeatedly delete every node of degree < k until a
    * fixpoint; the round a node is peeled in is its onion layer and the
    * survivors form the k-core.
    *
    * Six synchronous peel rounds, k = 2 (the 2-core: tendrils and trees
    * peel, cycles survive — at the mutual-kNN degree cap of this graph
    * the 3-core is empty, so 2 is the level that actually stratifies; a
    * production sweep runs the peel per k or uses the bucket algorithm
    * for full coreness). The Spark side runs the peel as an ITERATIVE
    * DataFrame program with the shrinking edge list materialized per
    * round (localCheckpoint — the q_graph_pagerank staged-iteration
    * contract): each round is ONE map-side-combined degree count plus two
    * survivor semi equi-joins, and because survivors/edges are staged,
    * each round's work is referenced once — a single-SQL-text form of
    * this peel is EXPONENTIAL in rounds under CTE re-inlining (n_i has 3
    * consumers, e_i has 2 → 3^rounds subtree copies; the sf0.1 DuckDB
    * oracle OOM'd exactly this way), which is why the oracle marks every
    * multi-consumer peel CTE MATERIALIZED. Deleted nodes never return,
    * so round cost only falls; a production run loops to the fixpoint
    * with a convergence probe (COUNT of peeled = 0 — one more map-side
    * SUM). Output is the per-layer census (count, min/max, node-sum
    * checksum — a membership pin in 5 integers per layer), bounded at
    * rounds+1 rows. Pure integer arithmetic throughout.
    */
  private def kcoreSpark(s: SparkSession, d: String): DataFrame = {
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    val me = s.sql(s"WITH ${mutualCte("g_edges")} SELECT id1, id2 FROM me")
    var e = me.selectExpr("id1 AS node", "id2 AS nbr")
      .unionByName(me.selectExpr("id2 AS node", "id1 AS nbr"))
      .staged(eager = false)
    var alive = e.select("node").distinct().staged(eager = false)
    var labels: DataFrame = null
    for (i <- 1 to 6) {
      val surv = e.groupBy("node").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select("node").staged(eager = false)
      val peeled = alive.join(surv, Seq("node"), "left_anti")
        .select(col("node"), lit(i).as("peel_round"))
      labels = if (labels == null) peeled else labels.unionByName(peeled)
      e = e.join(surv.withColumnRenamed("node", "n1"), col("node") === col("n1"))
        .drop("n1")
        .join(surv.withColumnRenamed("node", "n2"), col("nbr") === col("n2"))
        .drop("n2")
        .staged(eager = false)
      alive = surv
    }
    labels = labels.unionByName(alive.select(col("node"), lit(7).as("peel_round")))
    labels.groupBy("peel_round")
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"),
        sum("node").cast("long").as("node_sum"))
      .select(col("peel_round").cast("int").as("peel_round"),
        col("n_nodes"), col("min_node"), col("max_node"), col("node_sum"))
      .orderBy("peel_round")
  }

  private def kcoreDuck: String = {
    val k = 2
    val rounds = (1 to 6).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM e${i - 1} GROUP BY node),
         |n$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k),
         |e$i AS MATERIALIZED (SELECT e.node, e.nbr FROM e${i - 1} e
         |        JOIN n$i a ON e.node = a.node
         |        JOIN n$i b ON e.nbr = b.node)""".stripMargin
    }.mkString(",\n")
    val whenClauses = (1 to 6)
      .map(i => s"WHEN s$i.node IS NULL THEN $i").mkString(" ")
    val leftJoins = (1 to 6)
      .map(i => s"LEFT JOIN n$i s$i ON a.node = s$i.node").mkString("\n       |        ")
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |${mutualCte("tk")},
       |e0 AS MATERIALIZED (SELECT id1 AS node, id2 AS nbr FROM me
       |       UNION ALL
       |       SELECT id2 AS node, id1 AS nbr FROM me),
       |$rounds,
       |all0 AS (SELECT DISTINCT node FROM e0),
       |lab AS (SELECT a.node,
       |               CASE $whenClauses ELSE 7 END AS peel_round
       |        FROM all0 a
       |        $leftJoins)
       |SELECT CAST(peel_round AS INT) AS peel_round,
       |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |       MIN(node) AS min_node, MAX(node) AS max_node,
       |       CAST(SUM(node) AS BIGINT) AS node_sum
       |FROM lab GROUP BY peel_round ORDER BY peel_round""".stripMargin
  }

  private def trianglesSpark(s: SparkSession, d: String): DataFrame = {
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    s.sql(s"WITH ${mutualCte("g_edges")},\n$trianglesTail")
  }

  private def trianglesDuck: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |${mutualCte("tk")},
       |$trianglesTail""".stripMargin

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999): alternate a ← Aᵀh, h ← A·a
    * over the directed link graph. In a crawl-curation pipeline the
    * authority score finds the reference pages worth up-weighting and the
    * hub score finds the directory/aggregator pages worth crawling OUT of
    * — the two roles PageRank's single score conflates.
    *
    * Arithmetic is EXACT integer: h₀ = 1000 everywhere and each half-step
    * is an order-independent BIGINT sum over in/out-neighbors — no
    * normalization inside the loop, so every CTE has ONE consumer (the
    * kcore/DSIR re-inline lesson) and both engines agree bit-for-bit.
    * Unnormalized mass grows like (mean degree)^(2·iters); with 3 rounds
    * the BIGINT bound holds to mean degree ~450 — a production run at
    * higher fan-out inserts the pagerank-style integer max-divide
    * normalization per round (one extra single-row aggregate join; the
    * RANKING is scale-invariant either way, which is all HITS promises).
    *
    * Shuffle shape per half-step = pagerank's: edges laid out by the join
    * side once (localCheckpoint), scores equi-join + map-side-combined
    * SUM groupBy. Per-round localCheckpoint truncates the alternating
    * lineage (the standard iterative-graph checkpoint cadence).
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().staged(eager = false)
    var hub = nodes.select(col("id"), lit(1000L).as("h"))
    var auth = nodes.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      val aIn = e.join(hub, e("src") === hub("id"))
        .groupBy("dst").agg(sum("h").as("a0"))
      auth = nodes.join(aIn, nodes("id") === aIn("dst"), "left")
        .select(nodes("id"), coalesce(col("a0"), lit(0L)).as("a"))
        .staged(eager = false)
      val hIn = e.join(auth, e("dst") === auth("id"))
        .groupBy("src").agg(sum("a").as("h0"))
      hub = nodes.join(hIn, nodes("id") === hIn("src"), "left")
        .select(nodes("id"), coalesce(col("h0"), lit(0L)).as("h"))
        .staged(eager = false)
    }
    auth.join(hub, "id")
  }

  /** q_graph_hits: 3 HITS rounds over the same synthetic citation graph as
    * q_graph_pagerank; top-15 by authority mass, doc_id tie-break, hub
    * mass carried alongside.
    */
  private def hitsSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    val edges = syntheticEdgesRaw(docs)
    val top = hits(docs, edges, iters = 3)
      .orderBy(col("a").desc, col("id")).limit(15)
    top
      .select(
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("a").desc, col("id"))).as("rk"),
        col("id").as("doc_id"),
        col("a").as("auth_mass"),
        col("h").as("hub_mass"))
      .orderBy("rk")
  }

  private def hitsDuck: String = {
    val rounds = (1 to 3).map { i =>
      s"""a$i AS (SELECT nodes.id, CAST(COALESCE(f.a, 0) AS BIGINT) AS a
         |  FROM nodes LEFT JOIN (
         |    SELECT ed.dst, SUM(h.h) AS a
         |    FROM ed JOIN h${i - 1} h ON ed.src = h.id GROUP BY ed.dst) f
         |  ON nodes.id = f.dst),
         |h$i AS (SELECT nodes.id, CAST(COALESCE(f.h, 0) AS BIGINT) AS h
         |  FROM nodes LEFT JOIN (
         |    SELECT ed.src, SUM(a.a) AS h
         |    FROM ed JOIN a$i a ON ed.dst = a.id GROUP BY ed.src) f
         |  ON nodes.id = f.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |e0 AS (SELECT id AS src,
       |              (id * id * 31 + (2 * j + 1) * 97) % (SELECT n FROM n) AS dst
       |       FROM (SELECT id, unnest(range(0, 3)) AS j FROM nodes) z),
       |ed AS (SELECT DISTINCT src, dst FROM e0),
       |h0 AS (SELECT id, CAST(1000 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT CAST(rk AS INT) AS rk, id AS doc_id, auth_mass, hub_mass FROM (
       |  SELECT a3.id, a3.a AS auth_mass, h3.h AS hub_mass,
       |         row_number() OVER (ORDER BY a3.a DESC, a3.id) AS rk
       |  FROM a3 JOIN h3 ON a3.id = h3.id) z
       |WHERE rk <= 15 ORDER BY rk""".stripMargin
  }

  /** Multi-source BFS hop distance from a trusted seed set — the
    * "how many link hops from curated content" signal that complements
    * q_graph_ppr's rank mass: PPR says how MUCH trust flows to a node,
    * hop distance says how DIRECTLY (the crawl-frontier depth cap every
    * curation crawler enforces; cf. the frontier expansion in
    * Andersen-Chung-Lang seed sweeps). Synchronous Bellman-Ford rounds
    * with unit edge weight over the directed citation graph: dist'(v) =
    * min(dist(v), 1 + min over in-edges (u,v) of dist(u)), 5 rounds from
    * the q_graph_ppr seed slice (doc_id % 29 = 0), then a per-hop census
    * (nodes beyond the horizon report hop −1 — the kcore layer-census
    * output shape).
    *
    * Exact integer labels; the min-merge is an explicit shared-text CASE
    * (Spark's LEAST and DuckDB's LEAST both skip NULLs, but spelling the
    * null handling out keeps the recurrence engine-agnostic by
    * construction). Shuffle shape per round = pagerank's: edges laid out
    * by src once (localCheckpoint), the n-row distance table equi-joins +
    * map-side-combined MIN groupBy; per-round checkpoint truncates the
    * two-consumer lineage (dist feeds both the frontier join and the
    * merge — the kcore cadence).
    */
  def bfsHops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().repartition(col("src")).staged(eager = false)
    val sflag = seeds.select(col("id").as("sid"))
    var dist = nodes
      .join(sflag, nodes("id") === sflag("sid"), "left")
      .select(col("id"),
        expr("CASE WHEN sid IS NULL THEN CAST(NULL AS BIGINT) ELSE 0L END").as("hop"))
      .staged(eager = false)
    for (_ <- 1 to iters) {
      val cand = e.join(dist, e("src") === dist("id"))
        .where(col("hop").isNotNull)
        .groupBy(col("dst")).agg(min(col("hop") + 1).as("nh"))
      dist = dist.join(cand, dist("id") === cand("dst"), "left")
        .select(dist("id"),
          expr("""CASE WHEN hop IS NULL THEN nh
                 |     WHEN nh IS NULL THEN hop
                 |     WHEN nh < hop THEN nh ELSE hop END""".stripMargin).as("hop"))
        .staged(eager = false)
    }
    dist
  }

  private def bfsSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    val edges = syntheticEdgesRaw(docs)
    val seeds = docs.filter(expr("id % 29 = 0"))
    bfsHops(docs, edges, seeds, iters = 5)
      .groupBy(coalesce(col("hop"), lit(-1L)).as("hop"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        min("id").as("min_node"), max("id").as("max_node"),
        sum("id").cast("long").as("node_sum"))
      .select(col("hop").cast("int").as("hop"),
        col("n_nodes"), col("min_node"), col("max_node"), col("node_sum"))
      .orderBy("hop")
  }

  private def bfsDuck: String = {
    val rounds = (1 to 5).map { i =>
      s"""r$i AS MATERIALIZED (SELECT p.id,
         |  CASE WHEN p.hop IS NULL THEN f.nh
         |       WHEN f.nh IS NULL THEN p.hop
         |       WHEN f.nh < p.hop THEN f.nh ELSE p.hop END AS hop
         |  FROM r${i - 1} p LEFT JOIN (
         |    SELECT ed.dst, MIN(r.hop + 1) AS nh
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.id
         |    WHERE r.hop IS NOT NULL GROUP BY ed.dst) f
         |  ON p.id = f.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |e0 AS (SELECT id AS src,
       |              (id * id * 31 + (2 * j + 1) * 97) % (SELECT n FROM n) AS dst
       |       FROM (SELECT id, unnest(range(0, 3)) AS j FROM nodes) z),
       |ed AS (SELECT DISTINCT src, dst FROM e0),
       |r0 AS MATERIALIZED (SELECT nodes.id,
       |       CASE WHEN nodes.id % 29 = 0 THEN CAST(0 AS BIGINT)
       |            ELSE CAST(NULL AS BIGINT) END AS hop
       |       FROM nodes),
       |$rounds
       |SELECT CAST(COALESCE(hop, -1) AS INT) AS hop,
       |       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |       MIN(id) AS min_node, MAX(id) AS max_node,
       |       CAST(SUM(id) AS BIGINT) AS node_sum
       |FROM r5 GROUP BY COALESCE(hop, -1) ORDER BY hop""".stripMargin
  }

  /** Semi-supervised label SPREADING over the mutual kNN graph (Zhu &
    * Ghahramani, CMU-CALD-02-107, majority-vote form): seed vectors
    * (vec_id % 4 != 0) keep their ground-truth label CLAMPED; held-out
    * vectors take the majority label of their currently-labeled
    * neighbors each round (ties to the smallest label), 3 synchronous
    * rounds. This is transductive classification with the embedding
    * index as the only model — the cheap labeler a curation pipeline
    * runs when a fraction of the corpus has trusted labels — where
    * q_graph_label_prop (all nodes self-labeled, no clamping) discovers
    * COMMUNITIES instead. Output: per-true-label held-out accuracy — the
    * eval that says whether the graph is label-coherent enough to trust
    * the spread.
    *
    * Integer vote counts, deterministic tie-break; per-round shuffle =
    * one edge⋈labels equi-join + one map-side-combined (node, label)
    * count + one per-node argmax window (partition sized by degree);
    * rounds cpReset-checkpointed (labels have two consumers per round —
    * the vote join and the seed carry; see checkpointStatsReset).
    */
  private def labelSpreadSpark(s: SparkSession, d: String): DataFrame = {
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    val me = s.sql("""SELECT a.src AS id1, a.dst AS id2 FROM g_edges a
                     |JOIN g_edges b ON a.src = b.dst AND a.dst = b.src
                     |              AND a.src < a.dst""".stripMargin)
    val ue = checkpointStatsReset(
      me.selectExpr("id1 AS a", "id2 AS b")
        .unionByName(me.selectExpr("id2 AS a", "id1 AS b")), eager = false)
    val truth = checkpointStatsReset(
      Tables.embeddings(s, d).selectExpr("vec_id AS id", "label AS lbl"),
      eager = false)
    val seeds = checkpointStatsReset(truth.where("id % 4 != 0"), eager = false)
    var labs = seeds
    for (_ <- 1 to 3) {
      val votes = ue.join(labs, ue("b") === labs("id"))
        .groupBy(ue("a"), labs("lbl")).agg(count(lit(1)).as("c"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy("a").orderBy(col("c").desc, col("lbl"))
      val pred = votes.withColumn("rn", row_number().over(win))
        .where((col("rn") === 1).and(col("a") % 4 === 0))
        .select(col("a").as("id"), col("lbl"))
      labs = checkpointStatsReset(seeds.unionByName(pred), eager = false)
    }
    val hold = truth.where("id % 4 = 0")
    val pred = labs.where("id % 4 = 0")
      .select(col("id").as("pid"), col("lbl").as("plbl"))
    hold.join(pred, hold("id") === col("pid"), "left")
      .groupBy(col("lbl").as("true_label"))
      .agg(count(lit(1)).cast("long").as("n_holdout"),
        count(col("plbl")).cast("long").as("n_predicted"),
        sum(when(col("plbl") === col("lbl"), 1L).otherwise(0L)).cast("long").as("n_correct"))
      .selectExpr("CAST(true_label AS INT) AS true_label",
        "n_holdout", "n_predicted", "n_correct",
        "CAST((10000 * n_correct) DIV GREATEST(1, n_predicted) AS BIGINT) AS acc_bp")
      .orderBy("true_label")
  }

  private def labelSpreadDuck: String = {
    val rounds = (1 to 3).map { i =>
      s"""vt$i AS MATERIALIZED (SELECT e.a AS id, l.lbl, COUNT(*) AS c
         |  FROM ue e JOIN lb${i - 1} l ON e.b = l.id GROUP BY e.a, l.lbl),
         |nw$i AS MATERIALIZED (SELECT id, lbl FROM (
         |  SELECT id, lbl, row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) AS rn
         |  FROM vt$i) z WHERE rn = 1 AND id % 4 = 0),
         |lb$i AS MATERIALIZED (SELECT id, lbl FROM seeds
         |  UNION ALL SELECT id, lbl FROM nw$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |me AS (SELECT a.src AS id1, a.dst AS id2 FROM tk a
       |       JOIN tk b ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst),
       |ue AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM me
       |      UNION ALL SELECT id2 AS a, id1 AS b FROM me),
       |truth AS (SELECT vec_id AS id, label AS lbl FROM embeddings),
       |seeds AS MATERIALIZED (SELECT id, lbl FROM truth WHERE id % 4 != 0),
       |lb0 AS MATERIALIZED (SELECT id, lbl FROM seeds),
       |$rounds,
       |hold AS (SELECT id, lbl FROM truth WHERE id % 4 = 0),
       |pred AS (SELECT id AS pid, lbl AS plbl FROM lb3 WHERE id % 4 = 0)
       |SELECT CAST(hold.lbl AS INT) AS true_label,
       |       CAST(COUNT(*) AS BIGINT) AS n_holdout,
       |       CAST(COUNT(pred.plbl) AS BIGINT) AS n_predicted,
       |       CAST(SUM(CASE WHEN pred.plbl = hold.lbl THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |       CAST((10000 * SUM(CASE WHEN pred.plbl = hold.lbl THEN 1 ELSE 0 END))
       |            // GREATEST(1, COUNT(pred.plbl)) AS BIGINT) AS acc_bp
       |FROM hold LEFT JOIN pred ON hold.id = pred.pid
       |GROUP BY hold.lbl ORDER BY true_label""".stripMargin
  }

  /** ONE definition of the deterministic synthetic citation graph
    * (3 quadratic-hash outlinks per doc, parallel edges collapsed) for
    * the round-9 operators — the older call sites in this file inline
    * the same recipe and are pinned by the driver record; consolidating
    * them is a quiet-round cleanup, not worth re-gating mid-round.
    */
  private[llm] def syntheticEdgesRaw(docs: DataFrame): DataFrame = {
    val nDf = broadcast(docs.agg(count(lit(1)).as("n")))
    docs
      .crossJoin(nDf)
      .select(col("id").as("src"), explode(expr("sequence(0, 2)")).as("j"), col("n"))
      .select(col("src"), expr("(src * src * 31 + (2 * j + 1) * 97) % n").as("dst"))
  }

  private def syntheticEdges(docs: DataFrame): DataFrame =
    syntheticEdgesRaw(docs).distinct()

  /** The oracle-side twin of [[syntheticEdges]]: nodes/n/e0/ed CTEs. */
  private val syntheticEdgesDuckCtes: String =
    s"""nodes AS (SELECT doc_id AS id FROM documents),
       |n AS (SELECT COUNT(*) AS n FROM nodes),
       |e0 AS (SELECT id AS src,
       |              (id * id * 31 + (2 * j + 1) * 97) % (SELECT n FROM n) AS dst
       |       FROM (SELECT id, unnest(range(0, 3)) AS j FROM nodes) z),
       |ed AS (SELECT DISTINCT src, dst FROM e0)""".stripMargin

  /** Degree assortativity of the citation graph (Newman, "Assortative
    * mixing in networks", PRL 2002): the Pearson correlation of
    * (in-degree of source, in-degree of target) across directed edges —
    * do well-cited documents cite other well-cited documents? A crawl
    * pipeline reads this as one scalar health check of the link graph
    * (positive: hub-clustered web; negative: star-like spam topology).
    * Same deterministic synthetic citation graph as q_graph_pagerank
    * (the operator takes ANY (src, dst) edge table).
    *
    * Determinism: degrees and all five moment sums are exact BIGINTs
    * (order-independent integer folds); only the final correlation
    * combines them, as ONE shared double text over exact integers —
    * every op correctly-rounded IEEE, bit-identical across engines.
    * The moment products are computed in DOUBLE because m·Σxy overflows
    * int64 first (~10⁹ edges at avg degree 30; the at-scale rescale is
    * degree milli-shares, the q_cluster_purity note).
    *
    * 100 TB shape: the staged edge artifact (one materialization, three
    * consumers — the multi-consumer staging contract) feeds ONE groupBy
    * for in-degrees and two co-partitioned equi-joins back onto the
    * edges; the moment fold is a map-side-combined single-row aggregate.
    * No window, no sort, nothing driver-side.
    */
  private def assortSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    // Staged once: in-degree pass + both degree joins reuse this
    // materialization instead of re-deriving the explode per consumer.
    val edges = syntheticEdges(docs).staged(eager = false)
    val ind = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast("long").as("indeg"))
    val ex = edges
      .join(ind.select(col("id").as("sid"), col("indeg").as("dx")),
        col("src") === col("sid"), "left")
      .join(ind.select(col("id").as("did"), col("indeg").as("dy")),
        col("dst") === col("did"), "left")
      .select(coalesce(col("dx"), lit(0L)).as("dx"),
        coalesce(col("dy"), lit(0L)).as("dy"))
    ex.agg(
      count(lit(1)).cast("long").as("m"),
      sum(col("dx")).cast("long").as("sx"),
      sum(col("dy")).cast("long").as("sy"),
      sum(col("dx") * col("dx")).cast("long").as("sxx"),
      sum(col("dy") * col("dy")).cast("long").as("syy"),
      sum(col("dx") * col("dy")).cast("long").as("sxy"))
      .selectExpr("m", "sx", "sy", "sxx", "syy", "sxy",
        """CASE WHEN (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0E0
          |      AND (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0E0
          |     THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |          / SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |                 * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
          |     END AS assortativity""".stripMargin)
  }

  private def assortDuck: String =
    s"""WITH ${syntheticEdgesDuckCtes.replace("ed AS (", "ed AS MATERIALIZED (")},
       |ind AS MATERIALIZED (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS indeg
       |       FROM ed GROUP BY dst),
       |ex AS (SELECT COALESCE(i1.indeg, 0) AS dx, COALESCE(i2.indeg, 0) AS dy
       |       FROM ed LEFT JOIN ind i1 ON ed.src = i1.id
       |               LEFT JOIN ind i2 ON ed.dst = i2.id),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
       |             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
       |             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
       |             CAST(SUM(dy * dy) AS BIGINT) AS syy,
       |             CAST(SUM(dx * dy) AS BIGINT) AS sxy
       |      FROM ex)
       |SELECT m, sx, sy, sxx, syy, sxy,
       |       CASE WHEN (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0E0
       |             AND (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0E0
       |            THEN (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |                 / SQRT((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |                        * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |            END AS assortativity
       |FROM s""".stripMargin

  /** Seed-sampled betweenness centrality (Brandes, "A faster algorithm
    * for betweenness centrality", J. Math. Sociology 2001; the
    * pivot-sampled estimator: Brandes & Pich 2007): which documents sit
    * on the most shortest paths of the citation graph — the broker/
    * bottleneck complement to the volume-centric pagerank/HITS family.
    * Forward pass: 4-hop multi-source BFS carrying σ (shortest-path
    * counts, exact integers — a level-j node's σ is the sum over its
    * level-(j−1) predecessors, complete by level-synchronous rounds).
    * Backward pass: the Brandes dependency accumulation by decreasing
    * depth, δ(v) = Σ_{v→w, depth(w)=depth(v)+1} σᵥ·(1+δ(w))/σ_w, with
    * each edge term quantized to micro units via non-negative integer
    * division — so every fold is an order-independent BIGINT sum and
    * the whole estimator is bit-identical across engines.
    *
    * 100 TB shape: the work is FRONTIER-bounded, not graph-bounded —
    * each seed reaches ≤ Σ_{j≤4} outdeg^j nodes, so every per-round
    * table is ≤ seeds·121 rows joined against the staged edge artifact
    * (equi-joins on node; the anti-join enforces first-visit depth).
    * Seeds sample deterministically (id % 499 = 0, ~N/499 pivots —
    * the Brandes-Pich estimator scales by pivot count, not N). All
    * rounds localCheckpoint on the Spark side; the oracle MATERIALIZEs
    * every round (accumulator CTEs re-inline exponentially otherwise).
    */
  private val BcHops = 4

  private def betweennessSpark(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id").cast("long").as("id"))
    val edges = syntheticEdges(docs)
      .repartition(col("src"))
      .staged(eager = false)
    // forward: level-synchronous BFS with path counts
    var level = docs.filter(expr("id % 499 = 0"))
      .select(col("id").as("seed"), col("id").as("node"),
        lit(1L).as("sig"), lit(0).as("depth"))
      .staged(eager = false)
    var visited = level
    val levels = scala.collection.mutable.ArrayBuffer(level)
    for (j <- 1 to BcHops) {
      val nf = level.join(edges, col("node") === col("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum(col("sig")).cast("long").as("sig"))
        .select(col("seed"), col("dst").as("node"), col("sig"), lit(j).as("depth"))
        .join(visited.select(col("seed").as("vs"), col("node").as("vn")),
          col("seed") === col("vs") && col("node") === col("vn"), "left_anti")
        .staged(eager = false)
      levels += nf
      visited = visited.union(nf).staged(eager = false)
      level = nf
    }
    // backward: dependency accumulation by decreasing depth
    var delta = levels(BcHops)
      .select(col("seed"), col("node"), col("sig"), lit(0L).as("dm"))
      .staged(eager = false)
    for (j <- (BcHops - 1) to 1 by -1) {
      val cur = levels(j)
      val contrib = cur
        .join(edges, col("node") === col("src"))
        .join(delta.select(col("seed").as("ds"), col("node").as("dn"),
          col("sig").as("wsig"), col("dm")),
          col("seed") === col("ds") && col("dst") === col("dn"))
        .select(col("seed"), col("node"), col("sig"),
          expr("sig * (1000000 + dm) DIV wsig").as("term"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("term")).cast("long").as("dm"))
      val dj = cur.select(col("seed"), col("node"), col("sig"))
        .join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sig"),
          coalesce(col("dm"), lit(0L)).as("dm"))
        .staged(eager = false)
      delta = delta.union(dj).staged(eager = false)
    }
    // delta holds only depth-1..4 rows (the seed row never re-enters a
    // frontier — it is in v0), so no endpoint exclusion is needed here
    val bc = delta
      .groupBy(col("node"))
      .agg(sum(col("dm")).cast("long").as("bc_micro"),
        count(lit(1)).cast("long").as("n_seeds"))
    bc.select(
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bc_micro").desc, col("node"))).as("rk"),
      col("node").as("doc_id"), col("bc_micro"), col("n_seeds"))
      .filter(col("rk") <= 20)
      .orderBy("rk")
  }

  private def betweennessDuck: String = {
    val fwd = (1 to BcHops).map { j =>
      s"""f$j AS MATERIALIZED (
         |  SELECT nf.seed, nf.node, nf.sig, $j AS depth FROM (
         |    SELECT f.seed, ed.dst AS node, CAST(SUM(f.sig) AS BIGINT) AS sig
         |    FROM f${j - 1} f JOIN ed ON f.node = ed.src
         |    GROUP BY f.seed, ed.dst) nf
         |  WHERE NOT EXISTS (SELECT 1 FROM v${j - 1} v
         |                    WHERE v.seed = nf.seed AND v.node = nf.node)),
         |v$j AS MATERIALIZED (SELECT seed, node FROM v${j - 1}
         |  UNION ALL SELECT seed, node FROM f$j)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BcHops - 1) to 1 by -1).map { j =>
      val src = if (j == BcHops - 1) s"SELECT seed, node, sig, CAST(0 AS BIGINT) AS dm FROM f$BcHops"
      else s"SELECT seed, node, sig, dm FROM d${j + 1}"
      s"""w$j AS MATERIALIZED ($src),
         |d$j AS MATERIALIZED (
         |  SELECT c.seed, c.node, c.sig, COALESCE(t.dm, 0) AS dm
         |  FROM f$j c LEFT JOIN (
         |    SELECT c2.seed, c2.node,
         |           CAST(SUM(c2.sig * (1000000 + w.dm) // w.sig) AS BIGINT) AS dm
         |    FROM f$j c2 JOIN ed ON c2.node = ed.src
         |    JOIN w$j w ON w.seed = c2.seed AND w.node = ed.dst
         |    GROUP BY c2.seed, c2.node) t
         |  ON t.seed = c.seed AND t.node = c.node)""".stripMargin
    }.mkString(",\n")
    val deltaUnion = ((BcHops - 1) to 1 by -1)
      .map(j => s"SELECT seed, node, dm FROM d$j")
      .mkString("\n  UNION ALL ") +
      s"\n  UNION ALL SELECT seed, node, CAST(0 AS BIGINT) AS dm FROM f$BcHops"
    s"""WITH ${syntheticEdgesDuckCtes.replace("ed AS (", "ed AS MATERIALIZED (")},
       |f0 AS MATERIALIZED (SELECT id AS seed, id AS node, CAST(1 AS BIGINT) AS sig,
       |                           0 AS depth
       |                    FROM nodes WHERE id % 499 = 0),
       |v0 AS MATERIALIZED (SELECT seed, node FROM f0),
       |$fwd,
       |$bwd,
       |alld AS ($deltaUnion),
       |bc AS (SELECT node, CAST(SUM(dm) AS BIGINT) AS bc_micro,
       |              CAST(COUNT(*) AS BIGINT) AS n_seeds
       |       FROM alld GROUP BY node)
       |SELECT rk, doc_id, bc_micro, n_seeds FROM (
       |  SELECT node AS doc_id, bc_micro, n_seeds,
       |         CAST(row_number() OVER (ORDER BY bc_micro DESC, node) AS INT) AS rk
       |  FROM bc) z
       |WHERE rk <= 20 ORDER BY rk""".stripMargin
  }

  /** Unrolled 5-iteration DuckDB oracle: identical scaled-integer
    * arithmetic, so the hash comparison is exact — no rounding anywhere.
    */
  val specs: Map[String, QuerySpec] = {
    val iterCtes = (1 to 5).map { i =>
      s"""r$i AS (SELECT nodes.id,
         |  CAST((15 * (SELECT tele FROM t) + 85 * COALESCE(f.inflow, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst, SUM(r.rank // e.outdeg) AS inflow
         |    FROM e JOIN r${i - 1} r ON e.src = r.id GROUP BY e.dst) f
         |  ON nodes.id = f.dst)""".stripMargin
    }.mkString(",\n")
    Map(
      "q_graph_adamic_adar" -> QuerySpec.df(adamicSpark, adamicDuck),
      "q_graph_assortativity" -> QuerySpec.df(assortSpark, assortDuck),
      "q_graph_betweenness" -> QuerySpec.df(betweennessSpark, betweennessDuck),
      "q_graph_label_prop" -> QuerySpec.df(lpaSpark, lpaDuck),
      "q_graph_modularity" -> QuerySpec.df(modularitySpark, modularityDuck),
      "q_graph_triangles" -> QuerySpec.df(trianglesSpark, trianglesDuck),
      "q_graph_kcore" -> QuerySpec.df(kcoreSpark, kcoreDuck),
      "q_graph_ppr" -> QuerySpec.df(pprSpark, pprDuck),
      "q_graph_hits" -> QuerySpec.df(hitsSpark, hitsDuck),
      "q_graph_seed_distance" -> QuerySpec.df(bfsSpark, bfsDuck),
      "q_graph_label_spread" -> QuerySpec.df(labelSpreadSpark, labelSpreadDuck),
      "q_graph_pagerank" -> QuerySpec.df(
        pagerankSpark,
        s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |t AS (SELECT ${Scale} // n AS tele FROM n),
           |e0 AS (SELECT id AS src,
           |              (id * id * 31 + (2 * j + 1) * 97) % (SELECT n FROM n) AS dst
           |       FROM (SELECT id, unnest(range(0, 3)) AS j FROM nodes) z),
           |ed AS (SELECT DISTINCT src, dst FROM e0),
           |e AS (SELECT ed.src, ed.dst, od.outdeg
           |      FROM ed JOIN (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY src) od
           |      ON ed.src = od.src),
           |r0 AS (SELECT id, (SELECT tele FROM t) AS rank FROM nodes),
           |$iterCtes
           |SELECT CAST(rk AS INT) AS rk, id AS doc_id, rank AS rank_scaled FROM (
           |  SELECT id, rank, row_number() OVER (ORDER BY rank DESC, id) AS rk FROM r5) z
           |WHERE rk <= 20 ORDER BY rk""".stripMargin))
  }
}
