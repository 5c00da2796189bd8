package graft.llm

import org.apache.spark.sql.SparkSession

import graft.queries.{QuerySpec, Tables}
import graft.Staging.StagedDataFrame

/** Maximal Marginal Relevance diversified selection (Carbonell &
  * Goldstein, SIGIR 1998) — the post-retrieval step between ranking and
  * context assembly: greedily pick documents maximizing
  * λ·relevance − (1−λ)·max-similarity-to-already-picked, so the packed
  * context covers distinct aspects instead of four near-duplicates of
  * the top hit. Complements q_search_rag_pack (which packs in pure rank
  * order): a RAG pipeline runs retrieve → MMR → pack.
  *
  * λ = 1/2, which makes argmax(λ·rel − (1−λ)·maxsim) ≡
  * argmax(rel_u − maxsim_u) on the integer micro-cosines — pure BIGINT
  * comparisons, no float weighting anywhere. Relevance and pairwise
  * similarity both quantize by FLOOR(cos·1e6 + 0.5) BEFORE any
  * comparison (the rank discipline: ordering on raw doubles diverges at
  * the last ulp across engines), ties break on doc_id. Four greedy picks
  * from the brute top-12 candidates of the fixed query vector (vec_id
  * 7 — the ANN family's standing probe).
  *
  * 100 TB shape: the ONLY corpus-sized work is the candidate retrieval
  * (one scoring pass, TakeOrdered 12 — at scale this is whatever index
  * the pipeline already has: IVF/HNSW feed the same 12-row table). The
  * candidate table is STAGED (localCheckpoint + temp view, the
  * `bm25_tf` convention) so the unrolled greedy rounds — whose CTE
  * consumers re-inline — replay a 12-row checkpoint, never the corpus
  * (the kcore/DSIR staging lesson; the DuckDB oracle pins the same with
  * MATERIALIZED). Everything after staging is candidate-bounded: the
  * 12×12 pairwise cosine table and three rounds of ≤12-row anti/semi
  * joins. Per-query cost is CONSTANT in corpus size; a batch of queries
  * adds rows to the candidate table, not plan nodes (the
  * q_search_hybrid_batch contract).
  */
object MmrSelect {

  private val qid = 7
  private val nCand = 12
  private val picks = 4

  private val candidates = new graft.Artifacts.Views

  private def candSparkSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid)
       |SELECT c.vec_id AS doc_id,
       |       CAST(FLOOR(graft_cosine(c.embedding, q.qe) * 1.0E6 + 0.5E0) AS BIGINT) AS rel_u,
       |       c.embedding
       |FROM embeddings c CROSS JOIN q
       |WHERE c.vec_id != $qid
       |ORDER BY rel_u DESC, doc_id LIMIT $nCand""".stripMargin

  private[graft] def stageCand(s: SparkSession, d: String): Unit = {
    Tables.registerAll(s, d)
    candidates(s, d) { Seq("mmr_cand" -> s.sql(candSparkSql).staged()) }
  }

  /** Dialect-shared greedy tail over `$cand(doc_id, rel_u, embedding)`
    * and a pairwise table `ps(a, b, sim_u)`.
    */
  private def mmrTail(cand: String): String = {
    val rounds = (2 to picks).map { i =>
      s"""m$i AS (SELECT c.doc_id, c.rel_u,
         |              CAST(c.rel_u - MAX(p.sim_u) AS BIGINT) AS mmr_u
         |       FROM $cand c
         |       LEFT JOIN sel${i - 1} x ON c.doc_id = x.doc_id
         |       JOIN ps p ON p.a = c.doc_id
         |       JOIN sel${i - 1} s ON p.b = s.doc_id
         |       WHERE x.doc_id IS NULL
         |       GROUP BY c.doc_id, c.rel_u),
         |pick$i AS (SELECT doc_id, rel_u, mmr_u FROM m$i
         |           ORDER BY mmr_u DESC, doc_id LIMIT 1),
         |sel$i AS (SELECT doc_id FROM sel${i - 1}
         |          UNION ALL SELECT doc_id FROM pick$i)""".stripMargin
    }.mkString(",\n")
    val outRows = (2 to picks)
      .map(i => s"SELECT $i AS rk, doc_id, rel_u, mmr_u FROM pick$i")
      .mkString("\n       |UNION ALL ")
    s"""pick1 AS (SELECT doc_id, rel_u, rel_u AS mmr_u FROM $cand
       |          ORDER BY rel_u DESC, doc_id LIMIT 1),
       |sel1 AS (SELECT doc_id FROM pick1),
       |$rounds,
       |out AS (SELECT 1 AS rk, doc_id, rel_u, mmr_u FROM pick1
       |UNION ALL $outRows)
       |SELECT CAST(rk AS INT) AS rk, doc_id,
       |       CAST(rel_u AS BIGINT) AS rel_u, CAST(mmr_u AS BIGINT) AS mmr_u
       |FROM out ORDER BY rk""".stripMargin
  }

  private def mmrSparkSql: String =
    s"""WITH ps AS (SELECT a.doc_id AS a, b.doc_id AS b,
       |                   CAST(FLOOR(graft_cosine(a.embedding, b.embedding) * 1.0E6 + 0.5E0) AS BIGINT) AS sim_u
       |            FROM mmr_cand a JOIN mmr_cand b ON a.doc_id != b.doc_id),
       |${mmrTail("mmr_cand")}""".stripMargin

  private def mmrDuckSql: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |cand AS MATERIALIZED (
       |  SELECT c.vec_id AS doc_id,
       |         CAST(FLOOR(${AnnSql.duckCos("c.embedding", "q.qe")} * 1.0E6 + 0.5E0) AS BIGINT) AS rel_u,
       |         c.embedding
       |  FROM embeddings c CROSS JOIN q
       |  WHERE c.vec_id != $qid
       |  ORDER BY rel_u DESC, doc_id LIMIT $nCand),
       |ps AS MATERIALIZED (
       |  SELECT a.doc_id AS a, b.doc_id AS b,
       |         CAST(FLOOR(${AnnSql.duckCos("a.embedding", "b.embedding")} * 1.0E6 + 0.5E0) AS BIGINT) AS sim_u
       |  FROM cand a JOIN cand b ON a.doc_id != b.doc_id),
       |${mmrTail("cand")}""".stripMargin

  val specs: Map[String, QuerySpec] = Map(
    "q_search_mmr" -> QuerySpec(
      (s, d) => { stageCand(s, d); s.sql(mmrSparkSql) },
      Some(mmrDuckSql))
  )
}
