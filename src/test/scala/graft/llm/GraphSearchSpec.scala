package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.TestSpark

/** Recall + plan pins for graph-routed ANN search (q_ann_graph_search). */
class GraphSearchSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private lazy val beam =
    SparkEntry.queries("q_ann_graph_search")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))

  private lazy val brute = {
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    graft.queries.Tables.registerAll(spark, sf)
    spark.sql(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id, graft_cosine(embedding, q.qe) AS cos
        |FROM embeddings CROSS JOIN q WHERE vec_id != 7
        |ORDER BY cos DESC, vec_id LIMIT 3""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
  }

  test("beam search finds the EXACT top-1 and >= 2 of the brute top-3") {
    assert(beam.head._2 == brute.head._1,
      s"top-1: beam ${beam.head._2} vs brute ${brute.head._1}")
    val overlap = beam.map(_._2).toSet.intersect(brute.map(_._1).toSet).size
    assert(overlap >= 2, s"recall@3 too low: $overlap/3")
  }

  test("beam scores are exact cosines, strictly ranked, qid excluded") {
    assert(beam.map(_._1).toSeq == Seq(1, 2, 3))
    assert(beam.forall(_._2 != 7L), "query vector must not return itself")
    assert(beam.sliding(2).forall {
      case Array(a, b) => a._3 >= b._3
      case _ => true
    })
    // reported csim is the true cosine (rounded to 6), not a graph estimate
    val bruteAll = spark.sql(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 7)
        |SELECT vec_id, ROUND(graft_cosine(embedding, q.qe), 6) AS cos
        |FROM embeddings CROSS JOIN q""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    beam.foreach { case (_, id, cs) => assert(cs == bruteAll(id), s"$id score drift") }
  }

  test("q_ann_graph_connectivity: JVM union-find replay; census identities hold") {
    val sf = "/root/testdata/sf0.001"
    val sess = spark.newSession()
    LlmQueries.knnEdgesCached(sess, sf).createOrReplaceTempView("g_edges")
    val me = sess.sql(AnnSql.knnMutualOver("g_edges"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (me.map(_._1) ++ me.map(_._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    for ((a, b) <- me) { val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val comps = nodes.groupBy(find).map(_._2.length)
    val nVecs = graft.queries.Tables.embeddings(sess, sf).count()

    val got = graft.SparkEntry.queries("q_ann_graph_connectivity")(sess, sf).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (nVecs, comps.size.toLong, comps.max.toLong, nodes.length.toLong,
        nVecs - nodes.length),
      s"got ${r.toSeq}")
    assert(r.getLong(5) == 10000L * comps.max / nVecs)
    // identities: connected + isolated partition the vectors
    assert(r.getLong(3) + r.getLong(4) == r.getLong(0))
  }

  test("per-hop work is frontier x edges equi-joins; only the 1-row query nests") {
    val df = SparkEntry.queries("q_ann_graph_search")(spark, sf)
    val p = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the staged (checkpointed) edge table is scanned as-is; the LSH
    // probe chain that BUILDS it must never re-derive inside the search
    // plan (xxhash64 appears only in Spark's injected runtime bloom
    // filters, so probe for the construction's shiftleft bucket masking)
    assert(p.contains("Scan ExistingRDD"), "edges are not the staged table:\n" + p)
    assert(!p.contains("shiftleft"), "edge construction leaked into the search plan:\n" + p)
  }

  test("timing shape: scan counts stay the linear-chain constants (r10 flag adjudication)") {
    // The round-10 bench flagged an isolated 8.4s for this query; round-11
    // re-measurement (staging-aware harness, same 32-cpu class of box)
    // read 1.9s — the flag was an isolation child whose knn-edge staging
    // failed UNRECORDED, shifting the edge build into the timed region
    // (SCALE.md round-11 adjudication). The steady-state plan shape is
    // what this pins: (hops+1) scoring levels x 3 parquet probes
    // (embeddings/query/entry) and one staged-edge RDD scan per hop —
    // Catalyst re-inlining the frontier chain would multiply BOTH counts
    // (the measured 6.4s-vs-2.6s 2^hops blowup this query's linear chain
    // exists to avoid).
    val df = SparkEntry.queries("q_ann_graph_search")(spark, sf)
    val p = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    val parquetScans = "Scan parquet".r.findAllIn(p).length
    val rddScans = "Scan ExistingRDD".r.findAllIn(p).length
    assert(parquetScans == 15, s"expected 15 bounded parquet probes, got $parquetScans")
    assert(rddScans == 4, s"expected 4 staged-edge scans (one per hop), got $rddScans")
  }
}
