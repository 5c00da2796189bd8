package graft.llm

import graft.queries.QuerySpec
import graft.queries.Tables
import graft.Staging.StagedDataFrame

/** Hierarchical graph-routed ANN search — the full HNSW discipline
  * (Malkov & Yashunin, "Efficient and robust approximate nearest neighbor
  * search using Hierarchical Navigable Small World graphs",
  * arXiv:1603.09320), composed from the staged graph artifacts the flat
  * walk (q_ann_graph_search) already ships:
  *
  *  - every vector draws a deterministic geometric LEVEL
  *    ([[AnnSql.hnswLevelSpark]] — trailing base-4 zeros of an md5 slice,
  *    P(level ≥ k) = 4^-k, pure integer arithmetic);
  *  - the upper layer's edge list is the SAME blocked directed-kNN
  *    construction as layer 0, restricted to level ≥ 1 nodes
  *    ([[AnnSql.knnDirectedSparkOver]]) — an expected N/4-node graph;
  *  - search descends: greedy beam on the sparse upper layer finds good
  *    ENTRY points (2 hops over ~N/4 nodes), which seed a SHORTER beam
  *    walk on the dense base layer (3 hops vs q_ann_graph_search's 4,
  *    with recall at least matching it — the hierarchy replaces the
  *    walk's first ascent hop with cheap upper-layer hops over 1/4 the
  *    nodes; deeper corpora add layers, not hops). At scale this is the
  *    paper's O(log N) descent: each added layer cuts the entry distance
  *    geometrically while costing 1/4 the nodes of the layer below.
  *
  * Relational shape per hop (both layers): frontier ⋈ edges on src (equi),
  * candidates ⋈ embeddings on vec_id (equi), per-LABEL top-W window —
  * bounded at |labels|·W rows of state; only the 1-row query vector is
  * nested-looped (the sweep-allowlist convention). Both edge artifacts are
  * staged once per (session, dir) and checkpointed (they ARE the persisted
  * index); the DuckDB oracle re-derives both layers inline, so
  * staged == derived is re-verified by the driver gate every round.
  *
  * Determinism: integer levels, vec_id tie-breaks at every rank, cosine
  * ROUNDed only at the output edge.
  * (Reference behavior: datafusion-flight-sql-server delegates SQL; this
  * operator extends the beyond-reference ANN family.)
  */
object HnswSearch {

  private val qid = 7
  private val w1 = 2 // upper-layer beam width
  private val w0 = 4 // base-layer beam width (matches q_ann_graph_search)
  private val hops1 = 2
  private val hops0 = 3

  /** Staged upper-layer edge artifact: directed top-3 kNN among level ≥ 1
    * nodes, plus self-loops for EVERY node — the self-loop trick keeps a
    * frontier node alive through the same equi-join that expands it (one
    * frontier reference per hop, the q_ann_graph_search lesson), and
    * covering all nodes lets a label with no level ≥ 1 member carry its
    * fallback entry through the upper walk unchanged.
    */
  private val layer1 = new graft.Artifacts.Views

  /** Pre-stage hook for the bench's untimed setup (serving-index
    * convention: the walks time the PROBE path, the builds stay measured
    * by q_ann_knn_graph / the q_ann_* index queries).
    */
  private[graft] def stageEdges(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    // knnEdgesCached also registers the ann_sig signature view the
    // upper-layer builder reads
    LlmQueries.knnEdgesCached(s, d).createOrReplaceTempView("g_edges")
    layer1(s, d) {
      Seq("hnsw_l1" -> s.sql(AnnSql.knnDirectedSparkOver(3, s"${AnnSql.hnswLevelSpark} >= 1"))
        .unionByName(Tables.embeddings(s, d)
          .selectExpr("vec_id AS src", "vec_id AS dst", "CAST(1.0 AS DOUBLE) AS cos"))
        .staged())
    }
  }

  /** The descent, shared across dialects given `hnsw_l1` / `g_edges` edge
    * relations, a `lv` (vec_id, label, lvl) table and the dialect's cosine.
    */
  private def walkCtes(cosFn: (String, String) => String): String = {
    def hop(layer: String, idx: Int, prev: String, cur: String, w: Int): String =
      s"""${cur}h AS (SELECT DISTINCT g.dst AS vec_id
         |        FROM $prev JOIN $layer g ON g.src = $prev.vec_id),
         |${cur}s AS (SELECT h.vec_id, e.label, ${cosFn("e.embedding", "q.qe")} AS cos
         |        FROM ${cur}h h JOIN embeddings e ON h.vec_id = e.vec_id CROSS JOIN q
         |        WHERE h.vec_id != $qid),
         |$cur AS (SELECT vec_id, cos FROM (
         |  SELECT vec_id, cos,
         |         row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rn
         |  FROM ${cur}s) z WHERE rn <= $w)""".stripMargin
    val upper = (1 to hops1).map(r => hop("hnsw_l1", r, s"u${r - 1}", s"u$r", w1))
    val base = (1 to hops0).map(r =>
      hop("g_edges", r, if (r == 1) s"u$hops1" else s"b${r - 1}", s"b$r", w0))
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |ent AS (SELECT COALESCE(MIN(CASE WHEN lvl >= 1 THEN vec_id END), MIN(vec_id)) AS vec_id
       |        FROM lv GROUP BY label),
       |u0s AS (SELECT ent.vec_id, e.label, ${cosFn("e.embedding", "q.qe")} AS cos
       |       FROM ent JOIN embeddings e ON ent.vec_id = e.vec_id CROSS JOIN q
       |       WHERE ent.vec_id != $qid),
       |u0 AS (SELECT vec_id, cos FROM (
       |  SELECT vec_id, cos,
       |         row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rn
       |  FROM u0s) z WHERE rn <= $w1),
       |${(upper ++ base).mkString(",\n")}""".stripMargin
  }

  private val out =
    s"""SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rk,
       |       vec_id AS doc_id, ROUND(cos, 6) AS csim
       |FROM b$hops0 ORDER BY rk LIMIT 3""".stripMargin

  private def sparkSql: String =
    s"""WITH lv AS (SELECT vec_id, label, ${AnnSql.hnswLevelSpark} AS lvl FROM embeddings),
       |${walkCtes((a, b) => s"graft_cosine($a, $b)")}
       |$out""".stripMargin

  private def duckSql: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |g_edges AS (SELECT src, dst FROM tk
       |            UNION ALL
       |            SELECT vec_id AS src, vec_id AS dst FROM embeddings),
       |${AnnSql.knnDirectedDuckCtesOver(3, s"${AnnSql.hnswLevelDuck} >= 1", "l1")},
       |hnsw_l1 AS (SELECT src, dst FROM l1tk
       |            UNION ALL
       |            SELECT vec_id AS src, vec_id AS dst FROM embeddings),
       |lv AS (SELECT vec_id, label, ${AnnSql.hnswLevelDuck} AS lvl FROM embeddings),
       |${walkCtes(AnnSql.duckCos)}
       |$out""".stripMargin

  // ---- Round 9: full three-layer descent (the paper's O(log N) path) ----

  /** Layer-2 edge artifact: the SAME blocked directed-kNN construction,
    * restricted to level ≥ 2 nodes — an expected N/16-node graph — plus
    * universal self-loops (the frontier-keep trick, as layer 1). Staged
    * once per (session, dir) and checkpointed: at 100 TB each layer is a
    * persisted index table 1/4 the size of the one below, so the whole
    * hierarchy costs ~N/3 extra edge rows over the base graph.
    */
  private val layer2 = new graft.Artifacts.Views

  private[graft] def stageEdgesL2(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    stageEdges(s, d)
    layer2(s, d) {
      Seq("hnsw_l2" -> s.sql(AnnSql.knnDirectedSparkOver(3, s"${AnnSql.hnswLevelSpark} >= 2"))
        .unionByName(Tables.embeddings(s, d)
          .selectExpr("vec_id AS src", "vec_id AS dst", "CAST(1.0 AS DOUBLE) AS cos"))
        .staged())
    }
  }

  private val w2 = 2 // layer-2 beam width
  private val w1mid = 3 // layer-1 beam width in the 3-layer descent
  private val hops2 = 2
  private val hops0short = 3 // matches the 2-layer descent's base walk

  /** Three-layer descent: greedy beam over the N/16-node layer 2 finds
    * entries for the N/4-node layer 1 (walked at beam 3 — widening a
    * SPARSE layer's beam costs 1/4 the candidates of the layer below,
    * the cheap recall lever), whose exits seed the 3-hop base walk. Each
    * added layer cuts the entry distance geometrically at 1/4 the node
    * cost of the layer below — the paper's O(log N) descent; at corpus
    * scale the hierarchy bounds base-layer hops as N grows, which a flat
    * walk cannot (its entry distance grows with N). Entry: per label,
    * the lowest-id level ≥ 2 node, falling back to level ≥ 1 then any
    * (a label with no upper-layer member just starts its descent lower —
    * the paper's behavior when the level draw leaves a region flat).
    */
  private def walk3Ctes(cosFn: (String, String) => String): String = {
    def hop(layer: String, prev: String, cur: String, w: Int): String =
      s"""${cur}h AS (SELECT DISTINCT g.dst AS vec_id
         |        FROM $prev JOIN $layer g ON g.src = $prev.vec_id),
         |${cur}s AS (SELECT h.vec_id, e.label, ${cosFn("e.embedding", "q.qe")} AS cos
         |        FROM ${cur}h h JOIN embeddings e ON h.vec_id = e.vec_id CROSS JOIN q
         |        WHERE h.vec_id != $qid),
         |$cur AS (SELECT vec_id, cos FROM (
         |  SELECT vec_id, cos,
         |         row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rn
         |  FROM ${cur}s) z WHERE rn <= $w)""".stripMargin
    val top = (1 to hops2).map(r => hop("hnsw_l2", s"t${r - 1}", s"t$r", w2))
    val mid = (1 to hops1).map(r =>
      hop("hnsw_l1", if (r == 1) s"t$hops2" else s"m${r - 1}", s"m$r", w1mid))
    val base = (1 to hops0short).map(r =>
      hop("g_edges", if (r == 1) s"m$hops1" else s"b${r - 1}", s"b$r", w0))
    s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |ent AS (SELECT COALESCE(MIN(CASE WHEN lvl >= 2 THEN vec_id END),
       |                        MIN(CASE WHEN lvl >= 1 THEN vec_id END),
       |                        MIN(vec_id)) AS vec_id
       |        FROM lv GROUP BY label),
       |t0s AS (SELECT ent.vec_id, e.label, ${cosFn("e.embedding", "q.qe")} AS cos
       |       FROM ent JOIN embeddings e ON ent.vec_id = e.vec_id CROSS JOIN q
       |       WHERE ent.vec_id != $qid),
       |t0 AS (SELECT vec_id, cos FROM (
       |  SELECT vec_id, cos,
       |         row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_id) AS rn
       |  FROM t0s) z WHERE rn <= $w2),
       |${(top ++ mid ++ base).mkString(",\n")}""".stripMargin
  }

  /** Output edge rides the round-9 engine-neutral quantization (never a
    * native double ROUND — see FloatDisciplineSpec).
    */
  private val out3 =
    s"""SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rk,
       |       vec_id AS doc_id, FLOOR(cos * 1.0E6 + 0.5E0) / 1.0E6 AS csim
       |FROM b$hops0short ORDER BY rk LIMIT 3""".stripMargin

  private def sparkSqlL2: String =
    s"""WITH lv AS (SELECT vec_id, label, ${AnnSql.hnswLevelSpark} AS lvl FROM embeddings),
       |${walk3Ctes((a, b) => s"graft_cosine($a, $b)")}
       |$out3""".stripMargin

  private def duckSqlL2: String =
    s"""WITH ${AnnSql.knnDirectedDuckCtes(3)},
       |g_edges AS (SELECT src, dst FROM tk
       |            UNION ALL
       |            SELECT vec_id AS src, vec_id AS dst FROM embeddings),
       |${AnnSql.knnDirectedDuckCtesOver(3, s"${AnnSql.hnswLevelDuck} >= 1", "l1")},
       |hnsw_l1 AS (SELECT src, dst FROM l1tk
       |            UNION ALL
       |            SELECT vec_id AS src, vec_id AS dst FROM embeddings),
       |${AnnSql.knnDirectedDuckCtesOver(3, s"${AnnSql.hnswLevelDuck} >= 2", "l2")},
       |hnsw_l2 AS (SELECT src, dst FROM l2tk
       |            UNION ALL
       |            SELECT vec_id AS src, vec_id AS dst FROM embeddings),
       |lv AS (SELECT vec_id, label, ${AnnSql.hnswLevelDuck} AS lvl FROM embeddings),
       |${walk3Ctes(AnnSql.duckCos)}
       |$out3""".stripMargin

  val specs: Map[String, QuerySpec] = Map(
    "q_ann_hnsw_search" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        stageEdges(s, d)
        s.sql(sparkSql)
      },
      Some(duckSql)),
    "q_ann_hnsw_l2" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        stageEdgesL2(s, d)
        s.sql(sparkSqlL2)
      },
      Some(duckSqlL2))
  )
}
