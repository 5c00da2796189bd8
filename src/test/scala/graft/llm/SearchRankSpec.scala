package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.TestSpark

/** Behavior pins for the retrieval-ranking operators on hand-built
  * corpora with KNOWN span/frequency structure (the parquet fixtures are
  * oracle-checked by graft.Verify; these tests pin the algorithmic
  * guarantees controlled input makes visible).
  */
class SearchRankSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsView(name: String, rows: (Long, String)*): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*), schema)
      .createOrReplaceTempView(name)
  }

  private def words(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("substring dedup merges consecutive duplicated shingles into maximal spans") {
    // Docs 0 and 20 share two disjoint 12-token runs separated by
    // differing middles; doc 40 is fully unique. A shared run of L=12
    // tokens produces L-7=5 consecutive duplicated 8-gram positions that
    // must merge back to ONE span of exactly 12 tokens.
    val s = words("s", 12)
    val t = words("t", 12)
    docsView("sr_sub",
      0L -> s"$s ${words("a", 4)} $t",
      20L -> s"$s ${words("b", 4)} $t",
      40L -> words("u", 28))
    val got = spark.sql(SearchRank.substringSparkSql("sr_sub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((0L, 2L, 24L, 12L), (20L, 2L, 24L, 12L), (40L, 0L, 0L, 0L)))
  }

  test("substring dedup counts staggered overlapping matches as their exact union") {
    // Doc 0 = w1..w20; doc 20 carries doc 0's 8-grams starting at 1 and 4
    // in separate contexts (an X breaks every other gram), so doc 0's
    // duplicated starts are {1, 4}: intervals [1,8] and [4,11] overlap and
    // must merge to ONE 11-token span — summing per-island lengths would
    // report 16. Docs 40/60 pin the touching case: duplicated starts
    // {1, 9} (gap exactly 8) form one contiguous 16-token run.
    docsView("sr_stag",
      0L -> words("w", 20),
      20L -> s"${(1 to 8).map(i => s"w$i").mkString(" ")} X ${(4 to 11).map(i => s"w$i").mkString(" ")}",
      40L -> words("v", 16),
      60L -> s"${(1 to 8).map(i => s"v$i").mkString(" ")} Y ${(9 to 16).map(i => s"v$i").mkString(" ")}")
    val got = spark.sql(SearchRank.substringSparkSql("sr_stag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0L, 1L, 11L, 11L),   // union of [1,8] and [4,11], not 8 + 8
      (20L, 2L, 16L, 8L),   // its own matches sit 9 apart: two spans
      (40L, 1L, 16L, 16L),  // [1,8] touches [9,16]: one contiguous run
      (60L, 2L, 16L, 8L)))
  }

  test("substring clean keeps the corpus-first occurrence and excises later copies") {
    val s = words("s", 12)
    val t = words("t", 12)
    val doc0 = s"$s ${words("a", 4)} $t"
    docsView("sr_clean",
      0L -> doc0,                              // first occurrence of both runs
      20L -> s"$s ${words("b", 4)} $t",        // later copy: both runs removed
      40L -> words("u", 28))                   // unique: untouched
    def md5(x: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(x)
    val got = spark.sql(SearchRank.substringCleanSparkSql("sr_clean"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq === Seq(
      (0L, 28L, 28L, md5(doc0)),
      (20L, 28L, 4L, md5(words("b", 4))),
      (40L, 28L, 28L, md5(words("u", 28)))))
  }

  test("substring dedup: a run shared only WITHIN one doc is not cross-doc duplicated") {
    // The dup filter is COUNT(DISTINCT doc_id) > 1 — an 8-gram repeated
    // twice inside a single doc must not mark spans.
    val s = words("s", 8)
    docsView("sr_sub1", 0L -> s"$s ${words("a", 4)} $s", 20L -> words("u", 20))
    val got = spark.sql(SearchRank.substringSparkSql("sr_sub1"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 0L), (20L, 0L)))
  }

  test("winnow selection equals a direct reference implementation") {
    // Independent Scala replay of SIGMOD'03 winnowing (k=8, w=4,
    // min-by-(hash, leftmost-pos)) over a fixed doc — pins the SQL's
    // window/frame arithmetic (full windows only, position tie-break,
    // DISTINCT selection) against a loop-written ground truth.
    val text = (1 to 30).map(i => s"tok${i % 13}").mkString(" ")
    docsView("sr_win_ref", 0L -> text)
    val words = text.split(' ')
    val hashes = (0 to words.length - 8).map { i =>
      val gram = words.slice(i, i + 8).mkString(" ")
      val h = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(gram).substring(0, 8), 16)
      h * 1048576L + (i + 1) // the SQL's 1-based key encoding
    }
    val expected = (0 to hashes.length - 4).map(s => hashes.slice(s, s + 4).min).distinct.sorted
    val got = spark.sql(SearchRank.winnowSelectedSparkSql("sr_win_ref"))
      .collect().map(_.getLong(1)).toSeq
    assert(got === expected.map(_ / 1048576L), "selected hash set must match the reference loop")
    val agg = spark.sql(SearchRank.winnowSparkSql("sr_win_ref")).collect().head
    assert(agg.getLong(1) == hashes.length && agg.getLong(2) == expected.length)
  }

  test("winnow guarantee: docs sharing an 11+-token run share a selected hash") {
    // w + k - 1 = 11: any shared run of >= 11 tokens contains at least one
    // FULL shared window in both docs, whose min is selected by both —
    // regardless of surrounding context. Doc 40 is unrelated noise.
    val shared = (1 to 14).map(i => s"s$i").mkString(" ")
    docsView("sr_win_g",
      0L -> s"${(1 to 9).map(i => s"a$i").mkString(" ")} $shared",
      20L -> s"$shared ${(1 to 9).map(i => s"b$i").mkString(" ")}",
      40L -> (1 to 25).map(i => s"z$i").mkString(" "))
    val sel = spark.sql(SearchRank.winnowSelectedSparkSql("sr_win_g"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val by = sel.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((by(0L) & by(20L)).nonEmpty, "shared 14-token run must share a fingerprint")
    assert((by(0L) & by(40L)).isEmpty && (by(20L) & by(40L)).isEmpty,
      "unrelated docs share nothing")
  }

  test("BM25 ranks the term-dense short doc first and scores match the closed form") {
    // Fixture: 'vector' appears twice in doc 0 (length 4), once in doc 1
    // (length 8); doc 2 has no query term. N=3, df(vector)=2.
    docsView("sr_bm25",
      0L -> "vector vector filler filler",
      1L -> "vector filler filler filler filler filler filler filler",
      2L -> "noise noise noise noise")
    org.apache.spark.sql.graftbridge.GraftSession.install(spark) // idf rides graft_ln_scaled
    val got = spark.sql(SearchRank.bm25SparkSql("sr_bm25"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    def bm25(tf: Double, dl: Double): Double = {
      val avgdl = 16.0 / 3.0
      // idf = ln(1 + (N-df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1)), via the
      // engine-neutral micro-nat kernel the SQL uses (N=3, df=2); the
      // micro-nat quantization is part of the operator's definition
      val idf = NeutralMath.lnScaledJvm(2 * 3 + 2, 2 * 2 + 1, 1.0e6) / 1.0e6
      val s = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.toSeq === Seq(
      (1, 0L, bm25(2.0, 4.0)),
      (2, 1L, bm25(1.0, 8.0))))
    assert(got(0)._3 > got(1)._3)
  }

  test("CMS-pruned heavy hitters equal the exact unpruned answer on a skewed corpus") {
    // Hostile fixture: one dominant bigram ("hot pair") plus a long tail
    // of distinct bigrams engineered to collide arbitrarily in the 512
    // buckets. The CMS overestimate can only ADD candidates; the exact
    // final count must prune them back to precisely the unpruned answer.
    val hot = Array.fill(60)("hot pair").mkString(" ")
    val tail = (1 to 400).map(i => s"x$i y$i").zipWithIndex
      .map { case (t, i) => (100L + i, t) }
    docsView("sr_hh", ((0L, hot) +: tail): _*)
    val pruned = spark.sql(SearchRank.heavyHittersSparkSql("sr_hh"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val exact = spark.sql(SearchRank.heavyHittersExactSparkSql("sr_hh"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pruned === exact)
    assert(pruned.exists(_._1 == "hot pair"), s"dominant bigram missing from $pruned")
  }

  test("mutual k-NN graph: edges are mutual, ordered, and recall the within-label exact graph") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val got = graft.SparkEntry.queries("q_ann_knn_graph")(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => a < b })
    assert(got.distinct.size == got.size)
    // Ground truth the blocking targets: exact mutual 3-NN WITHIN each
    // label partition (the SemDeDup-style within-cluster neighborhood).
    val exact = s.sql(
      """WITH p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |                  graft_cosine(a.embedding, b.embedding) AS cos
        |           FROM embeddings a JOIN embeddings b
        |             ON a.label = b.label AND a.vec_id != b.vec_id),
        |tk AS (SELECT src, dst FROM (
        |         SELECT src, dst, cos,
        |                row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
        |         FROM p) t WHERE rn <= 3)
        |SELECT a.src AS id1, a.dst AS id2 FROM tk a
        |JOIN tk b ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.toSet.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall vs within-label exact mutual 3-NN (|exact|=${exact.size})")
  }

  test("per-source quality calibration keeps ~top-20% of EVERY source") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val got = graft.SparkEntry.queries("q_text_quality_calibrate")(s, sf).collect()
    assert(got.nonEmpty)
    val totals = s.sql("SELECT source, COUNT(*) AS n FROM documents GROUP BY source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.length == totals.size, "every source must survive calibration")
    got.foreach { r =>
      val (src, kept, belowAbs) = (r.getString(0), r.getLong(1), r.getLong(2))
      val n = totals(src)
      // pr >= 0.8 keeps n - ceil(0.8 * (n - 1)) rows — exactly the top fifth
      val expect = n - math.ceil(0.8 * (n - 1)).toLong
      assert(kept == expect, s"$src: kept $kept of $n, expected $expect")
      assert(belowAbs <= kept)
    }
  }

  test("leakage-safe split co-locates every near-dup pair; the naive split would not") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val pairs = MinHashDedup.nearDuplicatesCached(s, sf, 0.95)
      .select(col("id1"), col("id2"))
    val cl = DedupCluster.clusters(pairs)
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16) % 100
    val rep = cl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def split(id: Long): Boolean = bucket(rep.getOrElse(id, id)) < 90
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.nonEmpty)
    assert(p.forall { case (a, b) => split(a) == split(b) }, "a near-dup pair straddles the split")
    val naiveStraddles = p.count { case (a, b) => (bucket(a) < 90) != (bucket(b) < 90) }
    assert(naiveStraddles > 0, "fixture has no straddling pair — the pin is vacuous")
    // and the aggregate the driver checks agrees on totals
    val agg = graft.SparkEntry.queries("q_split_leakage_safe")(s, sf).collect()
    val nDocs = agg.map(_.getLong(1)).sum
    val subset = graft.queries.Tables.documents(s, sf).filter(col("doc_id") % 5 === 0).count()
    assert(nDocs == subset)
  }

  test("indexed hybrid (IVF branch) recalls the brute hybrid's fused list") {
    val sf = "/root/testdata/sf0.001"
    val brute = graft.SparkEntry.queries("q_search_hybrid_rrf")(spark.newSession(), sf)
      .collect().map(_.getLong(1))
    val ivf = graft.SparkEntry.queries("q_search_hybrid_ivf")(spark.newSession(), sf)
      .collect().map(_.getLong(1))
    assert(ivf.length == 20)
    // swapping the vector branch from brute scoring to the IVF probe may
    // drop candidates outside the probed lists, but the fused list must
    // stay substantially the same (measured 17/20 on the fixture) and
    // agree on the top hit
    assert(brute.toSet.intersect(ivf.toSet).size >= 13,
      s"fused-list overlap collapsed: brute=${brute.mkString(",")} ivf=${ivf.mkString(",")}")
    assert(brute.head == ivf.head)
  }

  test("hybrid RRF output is self-consistent with its branch ranks") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val rows = graft.SparkEntry.queries("q_search_hybrid_rrf")(s, sf).collect()
    assert(rows.length == 20)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getInt(0) == i + 1) // dense sequential ranks
      val (rrf, bm, vec) = (r.getDouble(2), r.getInt(3), r.getInt(4))
      assert(bm != -1 || vec != -1)
      val expect = (if (bm == -1) 0.0 else 1.0 / (60 + bm)) +
        (if (vec == -1) 0.0 else 1.0 / (60 + vec))
      assert(math.abs(rrf - expect) < 5e-7, s"row $i: $rrf vs $expect")
      assert(bm == -1 || bm <= 50)
      assert(vec == -1 || vec <= 50)
    }
    // fused order is non-increasing in rrf
    val scores = rows.map(_.getDouble(2)).toSeq
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("learned rerank: same candidate set as hybrid top-20, exact logits, a real reorder") {
    val s2 = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val rr = graft.SparkEntry.queries("q_search_rerank_probe")(s2, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    val hy = graft.SparkEntry.queries("q_search_hybrid_rrf")(s2, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    // stage 1 is candidate generation: the rerank must score EXACTLY the
    // fused top-20, never widen or narrow it
    assert(rr.map(_._2).toSet == hy.map(_._2).toSet)
    assert(rr.map(x => x._5 -> x._2).toMap == hy.map(x => x._1 -> x._2).toMap,
      "rrf_rk column must reproduce the hybrid ranking")
    // logits are the real probe scores: recompute one candidate's dot
    org.apache.spark.sql.graftbridge.GraftSession.install(s2)
    graft.queries.Tables.registerAll(s2, sf)
    val w = s2.sql(AnnSql.probeTrainSpark()).collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    val someDoc = rr.head._2
    val x = s2.sql(s"SELECT transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000 + 0.5) AS BIGINT)) FROM embeddings WHERE vec_id = $someDoc")
      .collect().head.getSeq[Long](0)
    val expect = x.zipWithIndex.map { case (v, j) => v * w(j.toLong) }.sum
    assert(rr.head._3 == expect, s"logit ${rr.head._3} vs replayed $expect")
    // the reranker must actually CHANGE the order on this fixture
    assert(rr.exists(x => x._1 != x._5), "rerank is a no-op reorder")
  }

  test("batch hybrid serving: query 0 reproduces the single-query indexed hybrid exactly") {
    // batch query 0 carries the SAME terms (vector/join/stream) and the
    // SAME query vector (vec_id 0) as q_search_hybrid_ivf, through the
    // SAME staged indexes — its per-query slice must reproduce the
    // single-query result row for row (the serving plan only changes |Q|)
    val s2 = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q_search_hybrid_batch")(s2, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4), r.getInt(5)))
    assert(batch.map(_._1).distinct.length == 10, "expected 10 queries in the batch")
    assert(batch.groupBy(_._1).values.forall(_.length == 5))
    val q0 = batch.filter(_._1 == 0L).sortBy(_._2)
      .map(x => (x._2, x._3, x._4, x._5, x._6))
    val single = graft.SparkEntry.queries("q_search_hybrid_ivf")(s2, sf).collect()
      .take(5).map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4)))
    assert(q0.toSeq == single.toSeq,
      s"batch q0 ${q0.toSeq} != single-query hybrid ${single.toSeq}")
  }
}
