package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.TestSpark

/** Algorithmic sanity for the LLM-pipeline operators on hand-built
  * fixtures with KNOWN duplicate structure (the parquet corpus is verified
  * against the DuckDB oracle by graft.Verify; these tests pin the
  * algorithms' recall/precision behavior on controlled input).
  */
class LlmSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, t) => Row(i, t) }: _*), schema)
  }

  test("row-wise band keys equal the grouped signature aggregation (stream/batch bucket alignment)") {
    import org.apache.spark.sql.functions._
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "alpha beta gamma delta epsilon zeta eta iota",
      4L -> "one")
    val grouped = MinHashDedup.banded(d)
      .select("doc_id", "band", "key").collect().map(_.toSeq).toSet
    val rowWise = d
      .select(col("doc_id"), explode(MinHashDedup.rowBandKeys(col("text"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .collect().map(_.toSeq).toSet
    assert(rowWise === grouped)
  }

  test("MinHash LSH finds an exact duplicate pair and skips disjoint docs") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta", // dup of 1
      3L -> "one two three four five six seven eight")
    val result = MinHashDedup.nearDuplicates(d, 0.9).collect()
    assert(result.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(result.head.getDouble(2) == 1.0)
  }

  test("incremental dedup flags new-vs-corpus duplicates but never new-vs-new") {
    val corpus = docs(
      10L -> "alpha beta gamma delta epsilon zeta eta theta",
      20L -> "one two three four five six seven eight")
    val fresh = docs(
      15L -> "alpha beta gamma delta epsilon zeta eta theta", // dup of corpus 10
      25L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen",
      35L -> "nine ten eleven twelve thirteen fourteen fifteen sixteen") // dup of NEW 25 only
    val out = MinHashDedup.incrementalNearDuplicates(fresh, corpus, 0.9).collect()
    // only 15 matches the corpus; the 25/35 new-new pair must not surface
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((15L, 1L, 10L)))
  }

  test("MinHash candidates contain every high-Jaccard pair (recall)") {
    // 9/11 shared words → J ≈ 0.82; with r=4,b=8 the miss rate at 0.82 is ~0.2% —
    // this seed must produce the candidate.
    val d = docs(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i k",
      3L -> "z y x w v u t s r q")
    val cands = MinHashDedup.candidatePairs(d).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.contains((1L, 2L)))
  }

  test("SimHash banded output equals brute-force hamming filter (pigeonhole completeness)") {
    val d = docs(
      1L -> "spark sql query engine fast scan",
      2L -> "spark sql query engine fast scan",   // identical → hd 0
      3L -> "spark sql query engine fast join",   // near
      4L -> "completely different words entirely here now")
    val banded = SimHashDedup.nearDuplicates(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the simhashes
    val sh = SimHashDedup.simhashes(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val brute = (for {
      i <- sh.keys; j <- sh.keys if i < j
      hd = java.lang.Long.bitCount(sh(i) ^ sh(j))
      if hd <= SimHashDedup.maxHamming
    } yield (i, j, hd)).toSet
    assert(banded == brute)
    assert(banded.exists { case (i, j, hd) => i == 1L && j == 2L && hd == 0 })
  }

  test("clustering propagates labels across multi-hop chains and keeps components apart") {
    import org.apache.spark.sql.Row
    val pairSchema = StructType(Seq(
      StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false)))
    // chain 1-2, 2-3, 3-4 (diameter 3) plus separate component 10-11
    val pairs = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, 2L), Row(2L, 3L), Row(3L, 4L), Row(10L, 11L)),
      pairSchema)
    val got = DedupCluster.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("paragraph dedup keeps first occurrence, drops later copies, reassembles in order") {
    val blockA = (1 to 16).map(i => s"a$i").mkString(" ")
    val blockB = (1 to 16).map(i => s"b$i").mkString(" ")
    val blockC = (1 to 16).map(i => s"c$i").mkString(" ")
    // doc 0 owns A and B; doc 20 repeats A (dropped) and introduces C;
    // doc 40 is an exact copy of doc 0 — every block dropped.
    val d = docs(
      0L -> s"$blockA $blockB",
      20L -> s"$blockA $blockC",
      40L -> s"$blockA $blockB")
    d.createOrReplaceTempView("docs_pdedup")
    try {
      val rows = spark.sql(LlmQueries.paragraphDedupSparkSql("docs_pdedup")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(rows(0L)._1 == 2 && rows(0L)._2 == 2, "doc 0 keeps both blocks")
      assert(rows(20L)._1 == 2 && rows(20L)._2 == 1, "doc 20 keeps only block C")
      assert(rows(40L)._1 == 2 && rows(40L)._2 == 0, "doc 40 loses every block")
      assert(rows(40L)._3 == "", "fully-deduped doc reassembles to the empty sentinel")
      val md5C = java.security.MessageDigest.getInstance("MD5")
        .digest(blockC.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(rows(20L)._3 == md5C, "doc 20's cleaned text is exactly block C")
    } finally spark.catalog.dropTempView("docs_pdedup")
  }

  test("list rebalance reports only genuinely hot lists and splits partition exactly") {
    val s = spark.newSession()
    val rows = graft.SparkEntry.queries("q_ann_list_rebalance")(s, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "the fixture must produce at least one hot list")
    val total = s.sql("SELECT COUNT(*) FROM embeddings").collect()(0).getLong(0)
    // nominal list count = |centroids| with the same stride rule as the query
    val nlist = s.sql(
      """SELECT COUNT(*) FROM embeddings WHERE vec_id %
        |  (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT)
        |   FROM embeddings) = 0""".stripMargin).collect()(0).getLong(0)
    rows.foreach { case (cid, pop, n1, n2) =>
      assert(n1 + n2 == pop, s"list $cid: split $n1 + $n2 must partition pop $pop")
      assert(n1 > 0 && n2 > 0, s"list $cid: both split halves must be non-empty")
      assert(pop * nlist > 2 * total, s"list $cid: pop $pop is not hot (nlist $nlist, N $total)")
    }
  }

  test("hard negatives recall the brute-force cross-label top-3 and never share the anchor label") {
    val s = spark.newSession()
    val got = graft.SparkEntry.queries("q_ann_hard_negatives")(s, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    got.foreach { case (_, ql, _, nl) => assert(ql != nl, "a negative must be cross-label") }
    val mined = got.map(r => (r._1, r._3)).toSet
    graft.functions.GraftFunctions.register(s)
    val brute = s.sql(
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
        |           FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT qid, cid FROM (
        |  SELECT q.qid, c.vec_id AS cid,
        |         row_number() OVER (PARTITION BY q.qid
        |           ORDER BY graft_cosine(q.qe, c.embedding) DESC, c.vec_id) AS rn
        |  FROM q JOIN embeddings c ON c.vec_id != q.qid AND c.label != q.ql) t
        |WHERE rn <= 3""".stripMargin).collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = brute.count(mined) / brute.length.toDouble
    assert(recall >= 0.9, s"hard-negative recall $recall vs brute cross-label top-3")
  }

  test("perceptron probe training: update rule exact on a separable pair; fixture signal learned") {
    // Micro fixture: two origin-separable vectors along dim 0. Round 1
    // (w = 0) misclassifies both, the averaged update is (+1000·1 +
    // (−1)·(−1000)) / 2 = 1000 on dim 0; rounds 2-3 classify both
    // correctly and leave w unchanged -> w = (1000, 0, ..., 0).
    val s = spark.newSession()
    graft.functions.GraftFunctions.register(s)
    val vecs = Seq(
      (1, Array(1.0f) ++ Array.fill(63)(0.0f)),
      (0, Array(-1.0f) ++ Array.fill(63)(0.0f)))
    s.createDataFrame(vecs).toDF("label", "embedding")
      .createOrReplaceTempView("probe_micro")
    val w = s.sql(AnnSql.probeTrainSpark("probe_micro"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(w(0) == 1000L && (1 until 64).forall(j => w(j) == 0L),
      s"expected w = (1000, 0...), got dim0=${w(0)}")

    // Fixture: the trained direction must concentrate label-1 vectors on
    // the positive side relative to the rest (learned signal, not chance).
    val s2 = spark.newSession()
    val wf = graft.SparkEntry.queries("q_embed_probe_train")(s2, "/root/testdata/sf0.001")
    wf.createOrReplaceTempView("probe_w")
    val Array(r) = s2.sql(
      s"""WITH wa AS (SELECT transform(array_sort(collect_list(struct(j, wj))),
         |                             s -> CAST(s.wj AS DOUBLE)) AS v FROM probe_w),
         |e AS (SELECT label, ${"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE))"} AS x
         |      FROM embeddings),
         |sc AS (SELECT label, graft_dot_d(x, wa.v) AS s FROM e CROSS JOIN wa)
         |SELECT SUM(CASE WHEN label = 1 AND s >= 0 THEN 1 ELSE 0 END) / SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS pos_rate,
         |       SUM(CASE WHEN label != 1 AND s >= 0 THEN 1 ELSE 0 END) / SUM(CASE WHEN label != 1 THEN 1 ELSE 0 END) AS neg_rate
         |FROM sc""".stripMargin).collect()
    val (posRate, negRate) = (r.getDouble(0), r.getDouble(1))
    assert(posRate > negRate + 0.1,
      s"trained probe must separate label 1 from the rest: pos $posRate vs neg $negRate")
  }

  test("band tuning curve: precision rises and recall falls with rows/band; r=2 recall ~1") {
    val s = spark.newSession()
    val rows = graft.SparkEntry.queries("q_dedup_band_tuning")(s, "/root/testdata/sf0.001")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8), "one row per band shape, ordered")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 > b._2, s"candidates must shrink with rows/band: ${a._2} vs ${b._2}")
      assert(a._5 <= b._5, s"precision must not fall with rows/band: ${a._5} vs ${b._5}")
      assert(a._6 >= b._6, s"recall must not rise with rows/band: ${a._6} vs ${b._6}")
    }
    rows.foreach { r => assert(r._3 <= r._4, "tp bounded by truth") }
    // 8 bands of 2 rows miss a J >= 0.9 pair w.p. (1 - 0.81)^8 ~ 1.7e-6
    assert(rows.head._6 >= 9900, s"r=2 recall must be ~complete, got ${rows.head._6} bp")
  }

  test("contamination score grades eval docs by exact gram-overlap fraction") {
    // doc 0 is the eval doc (0 % 97 = 0): 9 words -> 2 distinct 8-grams.
    // Train doc 1 contains exactly one of them; doc 2 is disjoint; doc 194
    // (also % 97 = 0) is a second eval doc fully contained in train doc 3.
    val d = docs(
      0L -> "a b c d e f g h i",
      1L -> "x a b c d e f g h y",
      2L -> "p q r s t u v w z",
      194L -> "m n o p1 q1 r1 s1 t1",
      3L -> "k m n o p1 q1 r1 s1 t1 k2")
    d.createOrReplaceTempView("docs_contam")
    try {
      val rows = spark.sql(LlmQueries.contaminationSparkSql("docs_contam"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(rows.keySet === Set(0L, 194L), "only eval docs appear")
      assert(rows(0L) === ((2L, 1L, 5000L)), "half of doc 0's grams leak from train")
      assert(rows(194L) === ((1L, 1L, 10000L)), "doc 194 is fully contained in train")
    } finally spark.catalog.dropTempView("docs_contam")
  }

  test("PQ ADC and IVF-PQ search rank true near neighbors highly (recall vs brute force)") {
    val sf = "/root/testdata/sf0.001"
    graft.queries.Tables.registerAll(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    val brute = spark.sql(AnnSql.l2BruteSpark(5)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // The fixture's near-random vectors are PQ's worst case (no cluster
    // structure for 8x16 codes to exploit), so absolute recall is modest
    // by construction: deterministically 0.18 (flat ADC) / 0.14 (IVF-PQ,
    // which additionally pays probe misses) vs ~0.01 for a random ranking
    // (5/499). The pins guard against ranking collapse — a broken LUT
    // join, probe restriction, or sum would drop these to the random
    // baseline.
    for ((sql, floor, tag) <- Seq(
        (AnnSql.pqSearchSpark(5), 0.15, "flat ADC"),
        (AnnSql.ivfPqSearchSpark(5), 0.10, "IVF-PQ"))) {
      val adc = spark.sql(sql).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val common = adc.keySet intersect brute.keySet
      assert(common.nonEmpty, s"$tag: query sets must overlap")
      val recall = common.toSeq.map(q => (adc(q) intersect brute(q)).size / 5.0).sum / common.size
      assert(recall >= floor, s"$tag mean recall@5 $recall collapsed")
    }
  }

  test("hierarchical IVF keeps flat IVF's recall (vs brute-force cosine)") {
    val sf = "/root/testdata/sf0.001"
    graft.queries.Tables.registerAll(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    def topk(sql: String): Map[Long, Set[Long]] =
      spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topk(AnnSql.bruteTopKSpark(3))
    def recall(got: Map[Long, Set[Long]]): Double = {
      val common = got.keySet intersect brute.keySet
      assert(common.nonEmpty)
      common.toSeq.map(q => (got(q) intersect brute(q)).size / 3.0).sum / common.size
    }
    val flat = recall(topk(AnnSql.ivfTopKSpark(3)))
    val hier = recall(topk(AnnSql.ivfHierTopKSpark(3)))
    // The two-level coarse assignment must not cost recall at the default
    // probe widths (nprobe=3 recovers the small-nlist routing noise —
    // measured 0.30 vs flat's 0.30 here); a drop means the cell routing
    // or the second-level equi-join went wrong.
    assert(hier >= flat - 1e-9, s"hier recall $hier collapsed vs flat $flat")
    assert(hier >= 0.25, s"hier recall@3 $hier below floor")
  }

  test("recall curve is monotone in nprobe and consistent with the flat IVF recall") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val rows = graft.SparkEntry.queries("q_ann_recall_curve")(s, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4))
    // widening the probe set can only add candidates: recall must be
    // monotone non-decreasing, hits bounded by the possible total
    val hits = rows.map(_.getLong(2))
    assert(hits.sorted.toSeq == hits.toSeq, s"recall not monotone in nprobe: ${hits.mkString(",")}")
    for (r <- rows) {
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1), s"recall_bp inconsistent: $r")
    }
    // non-vacuity: probing must find SOMETHING at the widest setting
    assert(rows.last.getLong(2) > 0)
  }

  test("q_search_ndcg: independent Scala replay of the IVF rank-quality audit") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val embs = graft.queries.Tables.embeddings(s, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    // Same op order as graftbridge.CosineSimilarity.compute — index-order
    // accumulation, so the replay's doubles are the query's doubles.
    def cosv(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var n1 = 0.0; var n2 = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; n1 += x * x; n2 += y * y; i += 1
      }
      dot / (math.sqrt(n1) * math.sqrt(n2))
    }
    val n = embs.length
    val stride = math.ceil(n / math.ceil(math.sqrt(n.toDouble))).toLong
    val cents = embs.filter(_._1 % stride == 0)
    def ranked(cands: Seq[(Long, Double)]): Seq[Long] =
      cands.sortBy { case (id, c) => (-c, id) }.map(_._1)
    val asn = embs.map { case (id, e) =>
      id -> ranked(cents.toSeq.map { case (cid, ce) => (cid, cosv(e, ce)) }).head
    }.toMap
    val lnm = (2 to 11).map(r => r -> graft.llm.NeutralMath.lnScaledJvm(r.toLong, 1L, 1.0e6)).toMap
    val idcgU = (1 to 10).map(r => (11 - r).toLong * 693147000000L / lnm(r + 1)).sum
    val expected = embs.filter(_._1 % 50 == 0).map { case (qid, qe) =>
      val probed = ranked(cents.toSeq.map { case (cid, ce) => (cid, cosv(qe, ce)) }).take(2).toSet
      val ivf10 = ranked(embs.toSeq.collect {
        case (cid, ce) if cid != qid && probed(asn(cid)) => (cid, cosv(qe, ce))
      }).take(10)
      val gt = ranked(embs.toSeq.collect {
        case (cid, ce) if cid != qid => (cid, cosv(qe, ce))
      }).take(10)
      val gtRank = gt.zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap
      val hits = ivf10.zipWithIndex.collect {
        case (id, i) if gtRank.contains(id) => (i + 1, gtRank(id))
      }
      val dcgU = hits.map { case (rn, g) => (11 - g).toLong * 693147000000L / lnm(rn + 1) }.sum
      val ndcg = dcgU.toDouble / idcgU
      (qid, hits.size.toLong, ndcg)
    }
    val got = graft.SparkEntry.queries("q_search_ndcg")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == expected.toSeq)
    // sanity bounds the replay shares: ndcg in [0, 1], hits capped at 10
    got.foreach { case (_, h, d) => assert(h <= 10 && d >= 0.0 && d <= 1.0) }
  }

  test("q_embed_ood_diag: z-scores replay from integer per-dim stats; in-dist floor holds") {
    val sf = "/root/testdata/sf0.001"
    val s = spark.newSession()
    val embs = graft.queries.Tables.embeddings(s, sf)
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def milli(x: Float): Long = math.floor(x.toDouble * 1000 + 0.5).toLong
    val d = embs.head._3.length
    val train = embs.filter(_._1 % 7 != 0)
    val stats = (0 until d).map { i =>
      val xs = train.map(e => milli(e._3(i)))
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val exp = embs.filter(_._1 % 7 == 0).map { case (id, lab, v) =>
      val z2 = (0 until d).map { i =>
        val (n, s1, s2) = stats(i)
        val num = (n * milli(v(i)) - s1); val den = math.max(n * s2 - s1 * s1, 1L)
        num * num * 1000 / den
      }.sum
      (id, lab, z2)
    }.sortBy { case (id, _, z) => (-z, id) }.take(20)
    val got = graft.SparkEntry.queries("q_embed_ood_diag")(s, sf).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(got.toSeq == exp.toSeq)
    // diagonal Mahalanobis on same-distribution data concentrates near
    // z²/d = 1; the top-20 must sit above the floor but not absurdly so
    got.foreach { case (_, _, z) => assert(z > d * 1000L / 2) }
  }

  test("containment finds subset duplication that symmetric Jaccard misses") {
    // doc 2's 5 words all sit inside doc 1's 20: containment(2→1) = 1.0
    // but J = 5/20 = 0.25 — invisible at any useful Jaccard threshold.
    // doc 3 shares nothing. Direction matters: 1 is NOT contained in 2.
    val d = docs(
      1L -> (1 to 20).map(i => s"w$i").mkString(" "),
      2L -> "w3 w7 w11 w15 w19",
      3L -> "x1 x2 x3 x4 x5")
    val cont = PrefixJaccard.containmentPairs(d, 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cont.toSeq == Seq((2L, 1L, 10000L)),
      s"expected exactly contained=2 in container=1 at 100%: ${cont.toSeq}")
    val jac = PrefixJaccard.pairs(d, 9, 10).collect()
    assert(jac.isEmpty, "Jaccard at 0.9 must NOT pair the subset docs")
  }

  test("sampled k-means keeps the centroid count and a bounded sample at hostile N") {
    // Regression pin 1: drawing centroid seeds from the SAMPLE thins nlist
    // to N / lcm(stride, smod). N=2500 with budget=1000 is hostile:
    // stride = 50, smod = ceil(2500/1000) = 3, lcm(50, 3) = 150 — the
    // buggy form yields ~16 seeds instead of the designed 50, and the
    // oracle can never catch it because both engines compute the same
    // wrong set.
    // Regression pin 2: the sample must be BOUNDED by the budget (a fixed
    // modulus selects a constant fraction — still linear in N); here
    // |sample| = ceil(2500/3) = 834 <= 1000.
    val s = TestSpark.spark.newSession()
    graft.functions.GraftFunctions.register(s)
    s.range(2500).selectExpr(
      "id AS vec_id",
      "CAST(transform(sequence(1, 64), j -> CAST(pmod(xxhash64(id, j), 1000) AS DOUBLE) / 1000.0 - 0.5) AS ARRAY<FLOAT>) AS embedding",
      "CAST(id % 10 AS INT) AS label")
      .createOrReplaceTempView("embeddings")
    val rows = s.sql(AnnSql.kmeansSampledSpark(1000))
      .select("cent_id", "n_sample").collect()
    val clusters = rows.map(_.getLong(0)).distinct.length
    assert(clusters > 40,
      s"expected ~50 seed clusters (stride 50 over N=2500), got $clusters — " +
        "seed set must come from the full table, not the sample")
    val sampled = rows.map(_.getLong(1)).sum
    assert(sampled <= 1000, s"training sample $sampled exceeds the fixed budget 1000")
    assert(sampled >= 500, s"training sample $sampled collapsed below half the budget")
    graft.queries.Tables.reregisterAll(s, "/root/testdata/sf0.001")
  }

  test("residual PQ beats raw-vector PQ where coarse structure exists") {
    // The parquet fixture's near-random vectors are the degenerate case
    // (x − centroid is as random as x, nothing for residual coding to
    // remove — measured there: raw 0.14 vs residual 0.10). The claim
    // residual coding exists for — FAISS IVFPQ, Jégou TPAMI'11 §IV —
    // needs data with coarse structure, so pin it on a clustered fixture:
    // 7 well-separated centers (id % 7 keeps the stride-16 centroid seeds
    // spread across clusters), noise sigma 5% of center scale. Residuals
    // then span ~5% of the raw range and the same 16-entry codebook
    // resolves them ~20x finer. Deterministic seed, so the measured
    // recalls are stable: raw 0.233, residual 0.300.
    val rnd = new scala.util.Random(42)
    val nclu = 7
    val centers = Array.fill(nclu)(Array.fill(AnnSql.dim)(rnd.nextGaussian().toFloat))
    val rows = (0L until 256L).map { id =>
      val c = (id % nclu).toInt
      (id, centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.05f).toSeq, c)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label").createOrReplaceTempView("embeddings")
    graft.functions.GraftFunctions.register(spark)
    try {
      def topk(sql: String): Map[Long, Set[Long]] =
        spark.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(2))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val brute = spark.sql(AnnSql.l2BruteSpark(5)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      def recall(got: Map[Long, Set[Long]]): Double = {
        val common = got.keySet intersect brute.keySet
        assert(common.nonEmpty)
        common.toSeq.map(q => (got(q) intersect brute(q)).size / 5.0).sum / common.size
      }
      val raw = recall(topk(AnnSql.ivfPqSearchSpark(5)))
      val res = recall(topk(AnnSql.ivfPqResidualSpark(5)))
      assert(res > raw,
        s"residual recall $res must beat raw-vector recall $raw on clustered data")
      assert(res >= 0.29, s"residual recall@5 $res below the measured 0.30 floor")
    } finally {
      // the shared session's `embeddings` view must go back to the parquet
      // fixture for every later suite — FORCED: the plain registerAll's
      // (session, dir) guard would no-op and leak this 256-row fixture
      // into every suite that runs after (caught by VectorIngestSpec)
      graft.queries.Tables.reregisterAll(spark, "/root/testdata/sf0.001")
    }
  }

  test("banded edit verification catches block-straddling pairs length blocking loses") {
    import org.apache.spark.sql.functions._
    // t2 = t1 + one REPEATED word: identical word SET (J = 1.0, so the
    // banded candidates pair them) and 6 edit operations over 28 chars
    // (21% <= 68%, so the verifier keeps them) — but lengths 22 vs 28
    // straddle the DIV-25 length blocks (blk 0 vs 1), so the length-
    // blocked candidate generation of q_dedup_edit_distance can never
    // compare them. doc 3 shares no words and must pair with nothing.
    val t1 = "alpha beta gamma delta" // 22 chars, blk 0
    val d = docs(
      1L -> t1,
      2L -> (t1 + " delta"), // 28 chars, blk 1
      3L -> "zz yy xx ww vv uu tt ss")
    val banded = MinHashDedup.editVerified(d, 0.95, 68)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(banded.toSeq == Seq((1L, 2L)),
      s"banded verifier must keep exactly the straddling pair: ${banded.toSeq}")
    // the length-blocked candidate join over the same fixture can never
    // generate (1, 2) — the gap this operator closes
    def blk(side: String) = expr(s"CAST(length($side.text) DIV 25 AS BIGINT)")
    val blocked = d.as("a")
      .join(d.as("b"),
        blk("a") === blk("b") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!blocked.contains((1L, 2L)),
      s"length blocks must miss the straddling pair: ${blocked.toSeq}")
  }

  test("multimodal generic decode routes by magic; only unrecognized bytes hit the stub") {
    import org.apache.spark.sql.functions.{col, encode}
    val d = docs(1L -> "ab cd", 2L -> "")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val result = Multimodal.decodeAny(d).collect()
    val r1 = result.find(_.getLong(0) == 1L).get
    assert(r1.getString(1) == "raw", "text bytes carry no media magic")
    assert(r1.getInt(2) == -1 && r1.getInt(3) == -1 && r1.getInt(4) == -1)
    assert(r1.getLong(5) == 5 && r1.getInt(6) == 5) // n_units = payload_bytes
    assert(r1.getLong(7) == 1)                      // checksum = stub space count
    val r2 = result.find(_.getLong(0) == 2L).get
    assert(r2.getString(1) == "raw" && r2.getInt(6) == 0 && r2.getLong(7) == 0)
  }

  test("perceptual phash dedup: decoded hash matches the closed form; planted near-dups surface") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val pairs = graft.SparkEntry.queries("q_multimodal_phash_dedup")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    assert(pairs.forall(_._3 <= 2))
    assert(pairs.exists(_._3 > 0), "perturbed copies should sit at nonzero hamming")
    // planted same-base copy: doc 0 (base 0, noise 0) vs doc 400 (base 0, noise 1)
    assert(pairs.contains((0L, 400L, 0)) || pairs.exists(p => p._1 == 0L && p._2 == 400L),
      s"planted near-dup (0, 400) missing from ${pairs.take(8).toSeq}")

    // independent closed-form replay of doc 0's aHash (base 0, noise 0):
    // channel bytes are (i*13) % 256 over a 4x3 image
    val w = 4; val h = 3
    val gray = (0 until w * h).map { j =>
      (0 to 2).map(c => ((3 * j + c) * 13) % 256).sum / 3
    }
    val mean = gray.map(_.toLong).sum / (w * h)
    var expect = 0L
    for (j <- 0 until math.min(w * h, 32) if gray(j) >= mean) expect |= 1L << j
    val got = s.table("mm_ph").filter("doc_id = 0").collect().head
      .getAs[Long]("ahash")
    assert(got == expect, s"decoded-path hash $got != closed-form $expect")
  }

  test("audio fingerprint dedup: decoded fingerprint matches the closed form; planted copies pair") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val pairs = graft.SparkEntry.queries("q_multimodal_audio_fp_dedup")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty && pairs.forall(_._3 <= 2))
    // planted same-base copy (doc 0 vs doc 400) must surface
    assert(pairs.exists(p => p._1 == 0L && p._2 == 400L),
      s"planted audio near-dup (0, 400) missing from ${pairs.take(8).toSeq}")
    // fingerprints must be discriminative: far fewer pairs than all-pairs
    val n = s.table("mm_afp").count()
    assert(pairs.length < n * (n - 1) / 8,
      s"fingerprint degenerate: ${pairs.length} pairs from $n clips")

    // closed-form replay of doc 0's fingerprint (base 0, noise 0):
    // s(i) = ((i*17) % 256 - 128) * (1 + (i div win) % 7), n = 64, win = 4
    val nS = 64; val win = nS / 16
    val en = (0 until 16).map { w =>
      (0 until win).map { k =>
        val i = w * win + k
        math.abs(((i * 17) % 256 - 128).toLong * (1 + (i / win) % 7))
      }.sum
    }
    val mean = en.sum / 16
    var expect = 0L
    for (w <- 0 until 16 if en(w) >= mean) expect |= 1L << w
    val got = s.table("mm_afp").filter("doc_id = 0").collect().head.getAs[Long]("afp")
    assert(got == expect, s"decoded-path fingerprint $got != closed-form $expect")
  }

  test("matryoshka eval: one row per query, overlap bounded, identity truncation = 10/10") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_embed_matryoshka_eval")(s, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(out.map(_._1).toSeq == (0L until 500L by 50L).toSeq)
    assert(out.forall { case (_, ov) => ov >= 0 && ov <= 10 })
    // harness self-check: with a 64-dim "truncation" (identity) the overlap
    // must be exactly 10 for every query — any rank instability would show
    graft.queries.Tables.registerAll(s, sf)
    val ident = s.sql(AnnSql.matryoshkaSpark.replace("slice(", "slice64(")
        .replace("slice64(q.qe, 1, 16)", "slice(q.qe, 1, 64)")
        .replace("slice64(c.embedding, 1, 16)", "slice(c.embedding, 1, 64)"))
      .collect().map(r => r.getInt(1))
    assert(ident.forall(_ == 10), s"identity truncation overlap != 10: ${ident.toSeq}")
  }

  test("video dedup: trimmed copies pair by shared frame fingerprints; no cross-content pairs") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val pairs = graft.SparkEntry.queries("q_multimodal_video_dedup")(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(pairs.nonEmpty)
    // every pair must share video content (same vbase) — the 32-bit frame
    // hash over the quadratic content formula leaves no accidental matches
    // on this fixture
    for ((id1, id2, _, _) <- pairs)
      assert((id1 / 10) % 25 == (id2 / 10) % 25, s"cross-content pair ($id1, $id2)")
    // the planted trim (doc 0 full vs doc 250 trimmed by one frame) must
    // surface with high containment despite differing frame counts
    val planted = pairs.find(p => p._1 == 0L && p._2 == 250L)
    assert(planted.isDefined, s"trimmed copy (0, 250) missing from ${pairs.take(6).toSeq}")
    assert(planted.get._4 >= 7000, s"containment too low: ${planted.get}")
  }

  test("q_text_watermark_detect: z-scores replay exactly from a JVM green-list recount") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("q_text_watermark_detect")(s, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getInt(5))).toMap
    assert(out.nonEmpty)
    def green(word: String): Boolean =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(word).substring(0, 6), 16) % 2 == 0
    val docs = s.read.parquet(s"$sf/documents.parquet")
      .filter("doc_id % 10 = 0").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.length == out.size)
    for ((id, text) <- docs) {
      val words = text.split(" ", -1)
      val n = words.length.toLong
      val g = words.count(green).toLong
      val (qn, qg, qz, qf) = out(id)
      assert((qn, qg) == (n, g), s"doc $id token/green recount mismatch")
      if (n >= 16) {
        val z = (2.0 * g - n) / math.sqrt(n.toDouble)
        assert(qz.contains(math.floor(z * 100 + 0.5).toLong), s"doc $id z mismatch")
        assert(qf == (if (z >= 2.0) 1 else 0), s"doc $id flag mismatch")
      } else assert(qz.isEmpty && qf == 0, s"doc $id under-powered row must not flag")
    }
    // the natural corpus is not watermarked: the detector must not fire
    // on more than a small false-positive tail (z >= 2 is the 2.3% tail)
    val flagged = out.values.count(_._4 == 1)
    assert(flagged <= out.size / 10, s"$flagged of ${out.size} docs flagged on clean text")
  }
}
