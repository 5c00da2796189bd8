package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.QuerySpec
import graft.Staging.checkpointStatsReset

/** Distributed minimum-spanning-forest over the mutual-kNN similarity
  * graph by Borůvka rounds (Borůvka 1926; the distributed formulation of
  * Chung & Condon, IPPS 1996 — each round every component hooks its
  * MINIMUM outgoing edge, components at least halve, so log₂(N) rounds
  * finish the forest). The MST of the embedding distance graph IS the
  * single-linkage dendrogram (cut it at distance d and the components
  * are the single-linkage clusters — the HDBSCAN/graph-clustering
  * primitive), so this is the corpus-clustering pass a curation pipeline
  * runs where centroid k-means (q_ann_kmeans) imposes the wrong shapes.
  *
  * Edge weights are integer micro-distances (1e6 − round(cos·1e6)) with
  * edge-identity tie-break (w, min id, max id) — a SIDE-INDEPENDENT total
  * order, which is what guarantees every pseudo-forest cycle formed by
  * the hook step is a 2-CYCLE (both endpoints of the cluster-minimum
  * edge pick it; a per-side order like (w, cb) loses that guarantee).
  * 2-cycles break to the smaller component id (the root), then pointer
  * jumping contracts each hook tree: `jumps` doublings cover trees of
  * depth 2^jumps — 5 covers the fixture with slack, a deployment
  * iterates to fixpoint (each jump is one comp-table equi-join).
  *
  * Output = the per-round census (components before, edges chosen, chosen
  * weight sum): n_after = n_before − n_chosen because every chosen set is
  * a forest on components (MstClusterSpec pins this and the
  * single-linkage equivalence on a hand graph).
  *
  * 100 TB shape: per round — 2 label equi-joins onto the (bounded-degree
  * mutual-kNN) edge list, one per-component window over candidate edges
  * (partition = component, sized by its cut degree), then comp-table-
  * sized pointer joins; labels localCheckpoint per round (the kcore
  * cadence). No cartesian anywhere; everything keys on node/component
  * ids.
  */
object MstCluster {

  /** Stats-resetting checkpoint — see [[graft.Staging.checkpointStatsReset]]
    * (this operator is where the pathology was first measured).
    */
  private def cpReset(df: DataFrame): DataFrame = checkpointStatsReset(df, eager = false)

  /** Borůvka census over an undirected weighted edge list (u, v, w) with
    * u < v. Returns one row per round.
    */
  def boruvkaCensus(edges: DataFrame, rounds: Int, jumps: Int): DataFrame =
    boruvkaRun(edges, rounds, jumps)._1

  /** Census plus the forest's chosen edge set (ea < eb, w). */
  def boruvkaRun(edges: DataFrame, rounds: Int, jumps: Int): (DataFrame, DataFrame) = {
    val ed = cpReset(edges.selectExpr("u", "v", "w")
      .unionByName(edges.selectExpr("v AS u", "u AS v", "w")))
    var lab = cpReset(ed.select(col("u").as("vid")).distinct()
      .select(col("vid"), col("vid").as("c")))
    var census: DataFrame = null
    var forest: DataFrame = null
    for (r <- 1 to rounds) {
      val la = lab.select(col("vid").as("uu"), col("c").as("ca"))
      val lb = lab.select(col("vid").as("vv"), col("c").as("cb"))
      val ce = ed.join(la, ed("u") === la("uu")).join(lb, ed("v") === lb("vv"))
        .where(col("ca") =!= col("cb"))
        .select(col("ca"), col("cb"), col("w"),
          least(col("u"), col("v")).as("ea"), greatest(col("u"), col("v")).as("eb"))
      val mn = cpReset(ce
        .withColumn("rn", row_number().over(
          Window.partitionBy("ca").orderBy(col("w"), col("ea"), col("eb"))))
        .where(col("rn") === 1).drop("rn"))
      val ch = cpReset(mn.select(col("ea"), col("eb"), col("w")).distinct())
      forest = if (forest == null) ch else forest.unionByName(ch)
      val cr = lab.agg(countDistinct("c").as("n_components"))
        .crossJoin(ch.agg(count(lit(1)).as("n_chosen"),
          coalesce(sum("w"), lit(0L)).as("w_sum")))
        .select(lit(r).cast("int").as("round"),
          col("n_components").cast("long").as("n_components"),
          col("n_chosen").cast("long").as("n_chosen"),
          col("w_sum").cast("long").as("w_sum"))
      census = if (census == null) cr else census.unionByName(cr)
      val comps = lab.select(col("c")).distinct()
      val hook = cpReset(comps.join(mn.select(col("ca"), col("cb")),
          comps("c") === col("ca"), "left")
        .select(comps("c"), coalesce(col("cb"), comps("c")).as("p")))
      var ptr = cpReset(hook.as("a").join(hook.as("b"), col("a.p") === col("b.c"))
        .select(col("a.c").as("c"),
          when(col("b.p") === col("a.c") && col("a.c") < col("a.p"), col("a.c"))
            .otherwise(col("a.p")).as("p")))
      for (_ <- 1 to jumps) {
        ptr = cpReset(ptr.as("a").join(ptr.as("b"), col("a.p") === col("b.c"))
          .select(col("a.c").as("c"), col("b.p").as("p")))
      }
      lab = cpReset(lab.join(ptr, lab("c") === ptr("c"))
        .select(lab("vid"), ptr("p").as("c")))
    }
    (census.orderBy("round"), forest)
  }

  private val rounds = 4
  private val jumps = 5

  /** Integer micro-distance mutual edge list over the staged directed-kNN
    * artifact (self-loops carry src = dst and are excluded by src < dst).
    */
  private val mutualWeightedSpark =
    """SELECT a.src AS u, a.dst AS v,
      |       CAST(1000000 - CAST(FLOOR(a.cos * 1.0E6 + 0.5E0) AS BIGINT) AS BIGINT) AS w
      |FROM g_edges a JOIN g_edges b
      |  ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst""".stripMargin

  /** Memoized (census, forest) per (session, dir): the census query and
    * the single-linkage cut consume the SAME Borůvka run — the forest is
    * a staged artifact like the kNN edge list itself (every frame inside
    * is already checkpointed, so the memo just skips re-running the
    * rounds).
    */
  private val mstRun = new graft.Artifacts.Value[(DataFrame, DataFrame)]

  /** Diagnostic: how many times the Borůvka rounds actually ran —
    * MstClusterSpec pins that the census and the single-linkage cut share
    * ONE run per (session, dir) (the memo-hit claim, made testable).
    */
  private[llm] val boruvkaBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def mstRunCached(s: SparkSession, d: String): (DataFrame, DataFrame) =
    mstRun(s, d) {
      boruvkaBuilds.incrementAndGet()
      LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
      boruvkaRun(s.sql(mutualWeightedSpark), rounds, jumps)
    }

  private def mstSpark(s: SparkSession, d: String): DataFrame =
    mstRunCached(s, d)._1

  /** Shared DuckDB CTE body (kNN edges → Borůvka rounds) for both the
    * census oracle and the single-linkage oracle.
    */
  private def mstDuckCtes: String = {
    val roundCtes = (1 to rounds).map { r =>
      val ptrJumps = (2 to jumps + 1).map { j =>
        s"""pt${r}_$j AS MATERIALIZED (SELECT a.c, b.p
           |  FROM pt${r}_${j - 1} a JOIN pt${r}_${j - 1} b ON a.p = b.c)""".stripMargin
      }.mkString(",\n")
      s"""ce$r AS MATERIALIZED (SELECT la.c AS ca, lb.c AS cb, e.w,
         |    LEAST(e.u, e.v) AS ea, GREATEST(e.u, e.v) AS eb
         |  FROM ed e JOIN lab${r - 1} la ON e.u = la.vid
         |            JOIN lab${r - 1} lb ON e.v = lb.vid
         |  WHERE la.c != lb.c),
         |mn$r AS MATERIALIZED (SELECT ca, cb, w, ea, eb FROM (
         |  SELECT ca, cb, w, ea, eb,
         |         row_number() OVER (PARTITION BY ca ORDER BY w, ea, eb) AS rn
         |  FROM ce$r) z WHERE rn = 1),
         |ch$r AS MATERIALIZED (SELECT DISTINCT ea, eb, w FROM mn$r),
         |cen$r AS (SELECT $r AS round,
         |  (SELECT COUNT(DISTINCT c) FROM lab${r - 1}) AS n_components,
         |  (SELECT COUNT(*) FROM ch$r) AS n_chosen,
         |  (SELECT COALESCE(SUM(w), 0) FROM ch$r) AS w_sum),
         |pt${r}_0 AS MATERIALIZED (SELECT d.c, COALESCE(m.cb, d.c) AS p
         |  FROM (SELECT DISTINCT c FROM lab${r - 1}) d
         |  LEFT JOIN mn$r m ON d.c = m.ca),
         |pt${r}_1 AS MATERIALIZED (SELECT a.c,
         |    CASE WHEN b.p = a.c AND a.c < a.p THEN a.c ELSE a.p END AS p
         |  FROM pt${r}_0 a JOIN pt${r}_0 b ON a.p = b.c),
         |$ptrJumps,
         |lab$r AS MATERIALIZED (SELECT l.vid, p.p AS c
         |  FROM lab${r - 1} l JOIN pt${r}_${jumps + 1} p ON l.c = p.c)""".stripMargin
    }.mkString(",\n")
    s"""${AnnSql.knnDirectedDuckCtes(3)},
       |me AS (SELECT a.src AS u, a.dst AS v,
       |              CAST(1000000 - CAST(FLOOR(a.cos * 1.0E6 + 0.5E0) AS BIGINT) AS BIGINT) AS w
       |       FROM tk a JOIN tk b
       |         ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst),
       |ed AS MATERIALIZED (SELECT u, v, w FROM me
       |      UNION ALL SELECT v AS u, u AS v, w FROM me),
       |lab0 AS MATERIALIZED (SELECT DISTINCT u AS vid, u AS c FROM ed),
       |$roundCtes""".stripMargin
  }

  private def mstDuck: String = {
    val cens = (1 to rounds).map(r => s"SELECT * FROM cen$r").mkString("\nUNION ALL\n")
    s"""WITH $mstDuckCtes
       |SELECT CAST(round AS INT) AS round,
       |       CAST(n_components AS BIGINT) AS n_components,
       |       CAST(n_chosen AS BIGINT) AS n_chosen,
       |       CAST(w_sum AS BIGINT) AS w_sum
       |FROM ($cens) z ORDER BY round""".stripMargin
  }

  /** Single-linkage cut threshold: micro-distance 750000 (cos ≥ 0.25) —
    * around the median mutual-kNN similarity, so the dendrogram cut
    * genuinely splits the forest into multi-node clusters AND singletons
    * at every shipped SF.
    */
  private val slCut = 750000L

  /** Single-linkage clusters = connected components of the MST edges at
    * distance ≤ cut (equivalently: cut the dendrogram at `slCut`). The
    * forest is ≤ N−1 edges, so the CC pass (pointer-jumping labels,
    * shared with q_dedup_cluster) runs on a FOREST-sized pair set —
    * single-linkage without ever clustering the raw O(N·k) graph. Output
    * = cluster-size histogram plus the singleton row (nodes whose every
    * incident MST edge was cut).
    */
  private def slSpark(s: SparkSession, d: String): DataFrame = {
    val (_, forest) = mstRunCached(s, d)
    val mutual = s.sql(mutualWeightedSpark)
    val kept = forest.where(col("w") <= lit(slCut))
    val labs = DedupCluster.clusters(
      kept.select(col("ea").as("id1"), col("eb").as("id2")))
    val hist = labs.groupBy("cluster_rep").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).cast("long").as("n_clusters"))
    val universe = mutual.select(col("u").as("n"))
      .unionByName(mutual.select(col("v").as("n"))).distinct()
    val singles = universe
      .join(labs, universe("n") === labs("doc_id"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .select(lit(1L).as("size"), col("n_clusters"))
      .where(col("n_clusters") > 0)
    hist.unionByName(singles).orderBy("size")
  }

  private def slDuck: String = {
    val chAll = (1 to rounds).map(r => s"SELECT ea, eb, w FROM ch$r").mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $mstDuckCtes,
       |kept AS (SELECT ea, eb FROM ($chAll) f WHERE w <= $slCut),
       |ke AS (SELECT ea AS a, eb AS b FROM kept
       |       UNION ALL SELECT eb AS a, ea AS b FROM kept),
       |reach(node, label) AS (
       |  SELECT a, a FROM ke
       |  UNION
       |  SELECT e.a, r.label FROM ke e JOIN reach r ON r.node = e.b),
       |cl AS (SELECT node, MIN(label) AS rep FROM reach GROUP BY node),
       |sz AS (SELECT rep, COUNT(*) AS size FROM cl GROUP BY rep),
       |hist0 AS (SELECT size, COUNT(*) AS n_clusters FROM sz GROUP BY size),
       |singles AS (SELECT COUNT(*) AS n FROM lab0 l
       |            LEFT JOIN cl ON l.vid = cl.node WHERE cl.node IS NULL),
       |hist AS (SELECT size, n_clusters FROM hist0
       |         UNION ALL SELECT 1 AS size, n AS n_clusters FROM singles WHERE n > 0)
       |SELECT CAST(size AS BIGINT) AS size, CAST(n_clusters AS BIGINT) AS n_clusters
       |FROM hist ORDER BY size""".stripMargin
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_graph_mst_boruvka" -> QuerySpec.df(mstSpark, mstDuck),
    "q_cluster_single_linkage" -> QuerySpec.df(slSpark, slDuck)
  )
}
