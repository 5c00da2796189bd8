package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Empirical scale behavior beyond the fixture size: a deterministic
  * synthetic corpus 20x the sf0.001 embeddings table checks that the LSH
  * parameterization actually adapts — more signature bits, more buckets,
  * bounded bucket population — instead of just passing at toy N. This is
  * the "would it still hold at 1000x" property exercised, not asserted.
  */
class ScaleBehaviorSpec extends AnyFunSuite {

  test("LSH bucket key widens with corpus size and candidates stay bounded (20k vectors)") {
    val n = 20000L
    // isolated session: the synthetic corpus shadows the `embeddings` view
    val s = TestSpark.spark.newSession()
    org.apache.spark.sql.graftbridge.GraftSession.install(s)
    s.range(n).selectExpr(
      "id AS vec_id",
      // deterministic pseudo-random vector, uniform in [-0.5, 0.5) per
      // element (pmod keeps the hash residue non-negative — a signed %
      // skews the sign distribution and with it the bucket balance)
      "CAST(transform(sequence(1, 64), j -> CAST(pmod(xxhash64(id, j), 1000) AS DOUBLE) / 1000.0 - 0.5) AS ARRAY<FLOAT>) AS embedding",
      "CAST(id % 10 AS INT) AS label")
      .createOrReplaceTempView("embeddings")
    s.sql(AnnSql.sigStageSpark).localCheckpoint(true).createOrReplaceTempView("ann_sig")

    val row = s.sql(AnnSql.candidateBoundFromSigSpark).collect().head
    val (maxCand, bound, nbits, nBuckets, maxBucket) =
      (row.getLong(0), row.getLong(1), row.getInt(2), row.getLong(3), row.getLong(4))

    assert(nbits === AnnSql.nbitsFor(n), "SQL clamp mirrors nbitsFor at 20x scale")
    assert(nbits > AnnSql.nbitsFor(500), "bucket key must WIDEN as the corpus grows")
    // pseudo-random data populates (nearly) every (table, bucket) cell —
    // the signed-hash vectors are slightly sign-biased, so allow a few
    // empty cells
    val fullCells = AnnSql.numTables.toLong * (1L << nbits)
    assert(nBuckets >= fullCells * 9 / 10,
      s"expected >=90% of $fullCells bucket cells populated, got $nBuckets")
    // population stays near target: no bucket within 8x of the corpus size
    assert(maxBucket < n / 4,
      s"bucket population must stay bounded, got max=$maxBucket of n=$n")
    assert(maxCand <= bound,
      s"candidates $maxCand exceed the (nbits+1) x tables x bucket bound $bound")
  }

  test("hierarchical IVF eval budget grows sub-linearly in nlist (20k vectors)") {
    // The whole point of the two-level quantizer: per-vector distance
    // evaluations must track O(sqrt nlist), not nlist. At 20k vectors
    // nlist ≈ 142 — the flat design scores all of them per vector; the
    // two-level budget (nlist1 cells + p1 probed cells' centroids) must
    // stay well under half of that, on data with no convenient cluster
    // structure.
    val n = 20000L
    val s = TestSpark.spark.newSession()
    org.apache.spark.sql.graftbridge.GraftSession.install(s)
    s.range(n).selectExpr(
      "id AS vec_id",
      "CAST(transform(sequence(1, 64), j -> CAST(pmod(xxhash64(id, j), 1000) AS DOUBLE) / 1000.0 - 0.5) AS ARRAY<FLOAT>) AS embedding",
      "CAST(id % 10 AS INT) AS label")
      .createOrReplaceTempView("embeddings")
    val r = s.sql(AnnSql.ivfHierBoundSpark()).collect().head
    val (nlist, nlist1, maxCell, maxEvals) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nlist >= 100, s"20k corpus should size nlist ~sqrt(N), got $nlist")
    assert(maxEvals <= 2 * maxCell, "structural bound: p1=2 cells of centroids")
    assert(nlist1 + maxEvals < nlist / 2,
      s"two-level budget ${nlist1 + maxEvals} must undercut half of flat nlist=$nlist")
  }

  test("temperature mix survives a hostile source skew: giant source capped, tiny sources upweighted") {
    // One source with 50k docs and five with 50 each — the skew shape a
    // web-dominated 100 TB corpus actually has. Temperature flattening
    // must (a) give every tiny source a strictly higher admission rate
    // than the giant one, (b) keep the giant source's rate proportional to
    // its ~200-doc share (never a full pass), and (c) keep the whole plan
    // K-row-bounded (asserted by the sweep; here we assert the outputs).
    val s = TestSpark.spark.newSession()
    s.range(50000L + 5 * 50).selectExpr(
      "id AS doc_id",
      "CASE WHEN id < 50000 THEN 'giant' ELSE concat('tiny', CAST(id % 5 AS STRING)) END AS source",
      // ~20 deterministic words per doc
      "concat_ws(' ', transform(sequence(0, 19), j -> concat('w', CAST(pmod(xxhash64(id, j), 997) AS STRING)))) AS text")
      .createOrReplaceTempView("docs_tmix_scale")
    org.apache.spark.sql.graftbridge.GraftSession.install(s) // n^0.3 rides graft_ln_scaled/graft_exp_micro
    val rows = s.sql(LlmQueries.temperatureMixSparkSql("docs_tmix_scale")).collect()
    assert(rows.length == 6)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    val giant = byName("giant")
    val tinies = rows.filter(_.getString(0).startsWith("tiny"))
    assert(tinies.forall(_.getLong(3) > giant.getLong(3)),
      s"tiny sources must admit at a higher rate than the giant one " +
        s"(giant=${giant.getLong(3)}bp, tiny=${tinies.map(_.getLong(3)).mkString(",")}bp)")
    // the giant source admits ~its temperature share of the 200-doc
    // target, NOT a corpus-scale pass: with five 50-doc competitors its
    // share is well under the whole target
    assert(giant.getLong(4) < 400,
      s"giant source admitted ${giant.getLong(4)} docs — flattening failed")
    assert(giant.getLong(4) > 0, "giant source must still be represented")
    s.catalog.dropTempView("docs_tmix_scale")
  }

  test("paragraph dedup keeps a constant block set as duplicate copies multiply") {
    // The scale property of first-occurrence dedup: replicating the corpus
    // k-fold must not grow the KEPT set — every extra copy dedups away.
    // k = 1 vs k = 8 over the same 12 base documents of 3 blocks each.
    val s = TestSpark.spark.newSession()
    def corpus(copies: Int) = s.range(12L * copies).selectExpr(
      // doc i of copy c repeats base doc (i % 12); doc_id = c * 1200 + i
      // keeps ids unique and base docs (copy 0) FIRST in min() order.
      // Block text derives from the base id only -> exact duplicate blocks.
      "id % 12 AS base",
      "CAST((id div 12) * 1200 + (id % 12) * 20 AS BIGINT) AS doc_id")
      .selectExpr("doc_id",
        ("concat_ws(' ', " +
          "transform(sequence(0, 47), j -> concat('w', base, '_', CAST(j div 16 AS STRING), '_', j % 16))" +
          ") AS text"))
    for ((copies, expectKept) <- Seq(1 -> 36L, 8 -> 36L)) {
      corpus(copies).createOrReplaceTempView("docs_pdedup_scale")
      val rows = s.sql(LlmQueries.paragraphDedupSparkSql("docs_pdedup_scale")).collect()
      val totalKept = rows.map(_.getLong(2)).sum
      assert(rows.map(_.getLong(1)).sum === 3L * 12 * copies,
        s"copies=$copies total blocks")
      assert(totalKept === expectKept,
        s"copies=$copies: kept blocks must stay at the base-corpus set, got $totalKept")
    }
    s.catalog.dropTempView("docs_pdedup_scale")
  }
}
