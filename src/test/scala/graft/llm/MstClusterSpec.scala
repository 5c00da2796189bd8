package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins the Borůvka forest three ways: a hand graph with a known MST
  * (including the cycle edge it must reject), the algebraic census
  * invariant (components shrink by exactly the chosen-edge count — the
  * chosen set is a forest on components), and full agreement of the
  * total forest weight/size with an independent Kruskal union-find over
  * the identical edge list.
  */
class MstClusterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("hand graph: rejects the heavy cycle edge, census telescopes") {
    // path 1-2-3-4 (weights 1, 2, 3) plus the heavy chord 1-3 (weight 9):
    // MST = the path, total 6; the chord must never be chosen.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 3L, 9L))
      .toDF("u", "v", "w")
    val cen = MstCluster.boruvkaCensus(edges, rounds = 3, jumps = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cen.map(_._3).sum == 3L, s"chose ${cen.map(_._3).sum} edges, want 3")
    assert(cen.map(_._4).sum == 6L, s"forest weight ${cen.map(_._4).sum}, want 6")
    // census telescopes: components(r+1) = components(r) - chosen(r)
    for (i <- 0 until cen.length - 1)
      assert(cen(i + 1)._2 == cen(i)._2 - cen(i)._3, s"census breaks at round ${i + 1}")
    assert(cen.head._2 == 4L && cen.last._2 - cen.last._3 == 1L)
  }

  test("q_graph_mst_boruvka: forest weight/size equals an independent Kruskal") {
    val sess = spark.newSession()
    LlmQueries.knnEdgesCached(sess, sf).createOrReplaceTempView("g_edges")
    val edges = sess.sql(
      """SELECT a.src AS u, a.dst AS v,
        |       CAST(1000000 - CAST(FLOOR(a.cos * 1.0E6 + 0.5E0) AS BIGINT) AS BIGINT) AS w
        |FROM g_edges a JOIN g_edges b
        |  ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct

    // Kruskal with union-find over the identical (w, u, v) total order
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    var (nEdges, wSum) = (0L, 0L)
    for ((u, v, w) <- edges.sortBy { case (u, v, w) => (w, u, v) }) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { parent(math.max(ru, rv)) = math.min(ru, rv); nEdges += 1; wSum += w }
    }
    val nComponents = nodes.length - nEdges

    val cen = graft.SparkEntry.queries("q_graph_mst_boruvka")(sess, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cen.head._2 == nodes.length.toLong, "round-1 component count != node count")
    assert(cen.map(_._3).sum == nEdges, s"forest size ${cen.map(_._3).sum} != kruskal $nEdges")
    assert(cen.map(_._4).sum == wSum, s"forest weight ${cen.map(_._4).sum} != kruskal $wSum")
    // and the 4 rounds actually finished the forest on this fixture
    assert(cen.last._2 - cen.last._3 == nComponents,
      s"rounds left ${cen.last._2 - cen.last._3} comps, kruskal says $nComponents")
    // telescoping census
    for (i <- 0 until cen.length - 1)
      assert(cen(i + 1)._2 == cen(i)._2 - cen(i)._3)
  }

  test("q_cluster_single_linkage: histogram equals union-find over the cut forest") {
    val sess = spark.newSession()
    LlmQueries.knnEdgesCached(sess, sf).createOrReplaceTempView("g_edges")
    val edges = sess.sql(
      """SELECT a.src AS u, a.dst AS v,
        |       CAST(1000000 - CAST(FLOOR(a.cos * 1.0E6 + 0.5E0) AS BIGINT) AS BIGINT) AS w
        |FROM g_edges a JOIN g_edges b
        |  ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct

    // exact single-linkage at the cut: Kruskal restricted to w <= cut —
    // identical components to cutting the MST at the same threshold
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((u, v, w) <- edges.sortBy { case (u, v, w) => (w, u, v) } if w <= 750000L) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    val exp = nodes.groupBy(find).map(_._2.length).groupBy(identity)
      .map { case (sz, g) => (sz.toLong, g.size.toLong) }.toSeq.sorted

    val got = graft.SparkEntry.queries("q_cluster_single_linkage")(sess, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp, s"got $got\nexp $exp")
    // the cut is non-trivial at this SF: singletons AND a multi-node cluster
    assert(exp.exists(_._1 == 1L) && exp.exists(_._1 > 1L), s"degenerate cut: $exp")
    // histogram covers the node universe
    assert(exp.map { case (sz, n) => sz * n }.sum == nodes.length.toLong)
  }

  test("census and single-linkage cut share ONE Borůvka run per (session, dir)") {
    // the r10 plan audit asked for proof the memo hits in-matrix: the two
    // heaviest graph queries must not each pay the rounds
    val sess = spark.newSession()
    val before = MstCluster.boruvkaBuilds.get()
    graft.SparkEntry.queries("q_graph_mst_boruvka")(sess, sf).collect()
    graft.SparkEntry.queries("q_cluster_single_linkage")(sess, sf).collect()
    assert(MstCluster.boruvkaBuilds.get() - before == 1,
      "the second consumer must reuse the memoized Borůvka run")
  }
}
