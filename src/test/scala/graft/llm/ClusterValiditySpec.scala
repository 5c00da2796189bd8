package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Replays the purity/MI/NMI arithmetic from the exact (cell, label)
  * contingency table the operator folds (same SQL prefix), through the
  * same NeutralMath JVM kernel — formula-level evidence the DuckDB hash
  * (engine agreement only) cannot give — plus the validity-bound
  * invariants that make the numbers mean something.
  */
class ClusterValiditySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("q_cluster_purity: JVM replay from the contingency table; bounds hold") {
    val sess = spark.newSession()
    graft.queries.Tables.registerAll(sess, sf)
    org.apache.spark.sql.graftbridge.GraftSession.install(sess)
    val ct = sess.sql(AnnSql.purityContingencySpark).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    val n = ct.map(_._3).sum
    val nc = ct.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nl = ct.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val pure = ct.groupBy(_._1).map(_._2.map(_._3).max).sum
    val iW = ct.map { case (c, l, ncl) =>
      ncl * NeutralMath.lnScaledJvm(ncl * n, nc(c) * nl(l), 1e6)
    }.sum
    val hcW = nc.values.map(x => x * NeutralMath.lnScaledJvm(n, x, 1e6)).sum
    val hlW = nl.values.map(x => x * NeutralMath.lnScaledJvm(n, x, 1e6)).sum
    val miMicro = math.max(0L, math.floor(iW.toDouble / n + 0.5).toLong)
    val hcMicro = hcW / n; val hlMicro = hlW / n
    val nmiMilli = (1000 * miMicro) /
      math.max(1L, math.floor(math.sqrt((hcMicro * hlMicro).toDouble)).toLong)
    val exp = (n, nc.size.toLong, nl.size.toLong, 10000 * pure / n, miMicro, nmiMilli)

    val got = graft.SparkEntry.queries("q_cluster_purity")(sess, sf).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == exp, s"got ${r.toSeq}\nexp $exp")

    // validity bounds: purity at least the majority-label baseline (a
    // single-cluster split achieves exactly that), NMI in [0, ~1]
    val majorityBp = 10000 * nl.values.max / n
    assert(r.getLong(3) >= majorityBp,
      s"purity ${r.getLong(3)} below majority baseline $majorityBp")
    assert(r.getLong(5) >= 0 && r.getLong(5) <= 1050, s"NMI ${r.getLong(5)} out of range")
    // MI respects its entropy ceiling (quantization slack of a few micro)
    assert(miMicro <= math.min(hcMicro, hlMicro) + 5)
  }

  test("q_cluster_silhouette: quantization + rollup replay from the pair table; bounds hold") {
    val sess = spark.newSession()
    graft.queries.Tables.registerAll(sess, sf)
    org.apache.spark.sql.graftbridge.GraftSession.install(sess)
    val pairs = sess.sql(AnnSql.silhouettePairsSpark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    def sMicro(a2: Long, b2: Long): Long =
      if (b2 <= 0) 0L
      else math.floor(1e6 * (math.sqrt(b2.toDouble) - math.sqrt(a2.toDouble))
        / math.sqrt(b2.toDouble) + 0.5).toLong
    val perCell = pairs.groupBy(_._2).map { case (c, ps) =>
      (c, ps.length.toLong, ps.map(p => sMicro(p._3, p._4)).sum)
    }.toSeq.sortBy(_._1)
    val total = (-1L, pairs.length.toLong, perCell.map(_._3).sum)
    val exp = (total +: perCell).map { case (c, n, s) =>
      (c, n, s, s.toDouble / (1e6 * n)) }

    val got = graft.SparkEntry.queries("q_cluster_silhouette")(sess, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == exp, s"got ${got.take(4).toSeq}\nexp ${exp.take(4)}")

    // b >= a by construction, so every per-point score sits in [0, 1e6]
    pairs.foreach { case (v, _, a2, b2) =>
      assert(b2 >= a2, s"vec $v: runner-up nearer than assignment")
      val s = sMicro(a2, b2)
      assert(s >= 0 && s <= 1000000L, s"vec $v: s_micro $s out of range")
    }
    // rollup row aggregates the cells exactly
    assert(got.head._1 == -1L && got.head._2 == got.tail.map(_._2).sum)
  }
}
