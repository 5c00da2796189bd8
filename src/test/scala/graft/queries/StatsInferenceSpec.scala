package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.TestSpark

/** Independent Scala replays for the categorical/rank inference operators —
  * the DuckDB hash confirms engine agreement; these confirm the formulas
  * implement the claimed statistics (the round-8 ADVICE #4 convention).
  */
class StatsInferenceSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark.newSession()

  private def rows(name: String) =
    SparkEntry.queries(name)(spark, sf).collect()

  test("q_stats_chi2: full Scala contingency replay — exact cell contributions and total") {
    val obs = Tables.orders(spark, sf)
      .select("o_orderstatus", "o_orderpriority").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = obs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rm = obs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val cm = obs.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val n = obs.length.toLong
    val expContrib = cells.map { case ((s, p), o) =>
      val dev = n * o - rm(s) * cm(p)
      (s, p) -> math.floor(
        dev.toDouble * dev.toDouble / (rm(s).toDouble * cm(p).toDouble * n.toDouble) * 1e6 + 0.5).toLong
    }
    val got = rows("q_stats_chi2").map(r =>
      ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(5), r.getLong(6))).toSeq
    assert(got.map(_._1).toSet == cells.keySet, "cell set mismatch")
    got.foreach { case (k, o, contrib, _) =>
      assert(o == cells(k), s"cell $k observed count")
      assert(contrib == expContrib(k), s"cell $k chi2 contribution")
    }
    val chi2 = expContrib.values.sum
    assert(got.forall(_._4 == chi2), "total chi2_micro differs from cell sum")
    // a 3x5 contingency over independent-ish synthetic draws: dof = 8
    val one = rows("q_stats_chi2").head
    assert(one.getLong(7) == (rm.size - 1).toLong * (cm.size - 1).toLong)
    // Cramér's V in [0, 1]
    assert(rows("q_stats_chi2").forall { r =>
      val v = r.getDouble(10); v >= 0.0 && v <= 1.0
    })
  }

  test("q_stats_chi2: an EMPTY contingency cell contributes its full Pearson term") {
    // the fixture populates all 15 cells, so this pins the dense-grid fix
    // on a synthetic table with one absent (status, priority) combo
    val s2 = TestSpark.spark.newSession()
    import scala.jdk.CollectionConverters._
    val rows2 = Seq(
      ("A", "p1", 30), ("A", "p2", 10),
      ("B", "p1", 20) /* (B, p2) absent */).flatMap { case (st, pr, k) =>
      (1 to k).map(_ => org.apache.spark.sql.Row(st, pr))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_orderpriority",
        org.apache.spark.sql.types.StringType)))
    s2.createDataFrame(rows2.asJava, schema).createOrReplaceTempView("orders")
    val got = s2.sql(SparkEntry.oracleSql("q_stats_chi2")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getLong(3),
        r.getLong(5), r.getLong(6)))
    assert(got.length == 4, "dense grid must emit the absent cell")
    val empty = got.find(_._1 == (("B", "p2"))).get
    assert(empty._2 == 0L, "absent cell observed count")
    // E = r*c/n = 20*10/60; its Pearson term for o=0 is exactly E
    val eMicro = math.floor(20.0 * 10.0 / 60.0 * 1e6 + 0.5).toLong
    assert(empty._3 == eMicro, "absent cell expected count")
    assert(empty._4 == eMicro, "absent cell chi2 contribution must equal E")
    // total includes the empty-cell mass on every row
    assert(got.forall(_._5 == got.map(_._4).sum))
  }

  test("q_stats_spearman: binned midrank replay matches the moment sums and rho") {
    val po = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey",
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (_, ls) => (ls.map(_._2).sum, ls.length.toLong) }
    val binned = po.map { case (cents, nl) => (cents / 1048576L, math.min(nl, 47L)) }
    def rank2(keys: Seq[Long]): Map[Long, Long] = {
      val counts = keys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val sorted = counts.toSeq.sortBy(_._1)
      var cum = 0L
      sorted.map { case (k, c) =>
        cum += c
        k -> (2 * cum - c + 1)
      }.toMap
    }
    val r2x = rank2(binned.map(_._1))
    val r2y = rank2(binned.map(_._2))
    val nn = binned.length.toLong
    val sx = binned.map(b => r2x(b._1)).sum
    val sy = binned.map(b => r2y(b._2)).sum
    val sxx = binned.map(b => r2x(b._1) * r2x(b._1)).sum
    val syy = binned.map(b => r2y(b._2) * r2y(b._2)).sum
    val sxy = binned.map(b => r2x(b._1) * r2y(b._2)).sum
    val got = rows("q_stats_spearman")
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      == ((nn, sx, sy, sxx, syy, sxy)), "moment sums differ from replay")
    val expRho = (nn.toDouble * sxy - sx.toDouble * sy) /
      math.sqrt((nn.toDouble * sxx - sx.toDouble * sx) * (nn.toDouble * syy - sy.toDouble * sy))
    assert(math.abs(r.getDouble(6) - expRho) < 1e-12)
    // price and line count are strongly rank-positively related by construction
    assert(r.getDouble(6) > 0.5, s"rho=${r.getDouble(6)}")
  }

  test("q_stats_anova: group-moment replay — exact SSB/SSW and F") {
    val xs = Tables.events(spark, sf)
      .selectExpr("event_type", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val gr = xs.groupBy(_._1).map { case (g, v) =>
      val s = v.map(_._2).sum
      (g, v.length.toLong, s, v.map(e => e._2 * e._2).sum,
        math.floor(s.toDouble * s.toDouble / v.length.toDouble + 0.5).toLong)
    }.toSeq.sortBy(_._1)
    val tn = gr.map(_._2).sum; val ts = gr.map(_._3).sum
    val tq = gr.map(_._4).sum; val tm2 = gr.map(_._5).sum
    val k = gr.length.toLong
    val ssb = tm2 - math.floor(ts.toDouble * ts.toDouble / tn.toDouble + 0.5).toLong
    val ssw = tq - tm2
    val expF = (ssb.toDouble / (k - 1).toDouble) / (ssw.toDouble / (tn - k).toDouble)

    val got = rows("q_stats_anova").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    assert(got.map(_._1).toSeq == gr.map(_._1))
    got.zip(gr).foreach { case ((g, n, mean, sb, sw, f, eta), (eg, en, es, _, _)) =>
      assert(g == eg && n == en && mean == es / en, s"group $g moments")
      assert(sb == ssb && sw == ssw, s"group $g SS")
      assert(math.abs(f - expF) < 1e-9, s"group $g F")
      assert(math.abs(eta - ssb.toDouble / (ssb + ssw).toDouble) < 1e-12)
    }
    // within-group variance dwarfs between-group on this uniform fixture
    assert(ssw > ssb)
  }

  test("q_stats_kendall: brute pair-count replay over the binned grid") {
    val po = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey",
        "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq
      .map { case (_, ls) => (ls.map(_._2).sum / 1048576L, math.min(ls.length.toLong, 47L)) }
    var conc = 0L; var disc = 0L
    for (i <- po.indices; j <- (i + 1) until po.length) {
      val (x1, y1) = po(i); val (x2, y2) = po(j)
      if (x1 != x2 && y1 != y2) {
        if ((x1 < x2) == (y1 < y2)) conc += 1 else disc += 1
      }
    }
    val n = po.length.toLong
    val n0 = n * (n - 1) / 2
    val tx = po.groupBy(_._1).values.map(v => v.length.toLong * (v.length - 1) / 2).sum
    val ty = po.groupBy(_._2).values.map(v => v.length.toLong * (v.length - 1) / 2).sum
    val got = rows("q_stats_kendall")
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((n, conc, disc, tx, ty)), "pair counts differ from brute replay")
    val expTau = (conc - disc).toDouble /
      math.sqrt((n0 - tx).toDouble * (n0 - ty).toDouble)
    assert(math.abs(r.getDouble(5) - expTau) < 1e-12)
    assert(r.getDouble(5) > 0.4, s"tau_b=${r.getDouble(5)}")
  }

  test("q_stats_ols: normal-equation replay — exact moments, Cramer solve") {
    val po = Tables.lineitem(spark, sf)
      .selectExpr("l_orderkey",
        "CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q",
        "CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS dollars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq
      .map { case (_, ls) => (ls.length.toLong, ls.map(_._2).sum, ls.map(_._3).sum) }
    val n = po.length.toLong
    val s1 = po.map(_._1).sum; val s2 = po.map(_._2).sum; val sy = po.map(_._3).sum
    val s11 = po.map(p => p._1 * p._1).sum; val s12 = po.map(p => p._1 * p._2).sum
    val s22 = po.map(p => p._2 * p._2).sum
    val s1y = po.map(p => p._1 * p._3).sum; val s2y = po.map(p => p._2 * p._3).sum
    val syy = po.map(p => p._3 * p._3).sum
    val a11 = n.toDouble * s11 - s1.toDouble * s1
    val a12 = n.toDouble * s12 - s1.toDouble * s2
    val a22 = n.toDouble * s22 - s2.toDouble * s2
    val c1 = n.toDouble * s1y - s1.toDouble * sy
    val c2 = n.toDouble * s2y - s2.toDouble * sy
    val det = a11 * a22 - a12 * a12
    val b1 = (c1 * a22 - c2 * a12) / det
    val b2 = (c2 * a11 - c1 * a12) / det
    val b0 = (sy.toDouble - b1 * s1 - b2 * s2) / n
    val r2 = (b1 * c1 + b2 * c2) / (n.toDouble * syy - sy.toDouble * sy)

    val got = rows("q_stats_ols")
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == n)
    assert(math.abs(r.getDouble(1) - b1) < math.abs(b1) * 1e-9)
    assert(math.abs(r.getDouble(2) - b2) < math.abs(b2) * 1e-6 + 1e-6)
    assert(math.abs(r.getDouble(3) - b0) < math.abs(b0) * 1e-6 + 1e-6)
    assert(math.abs(r.getDouble(4) - r2) < 1e-9)
    // fit quality: line count explains most order-value variance here
    assert(r.getDouble(4) > 0.5 && r.getDouble(4) <= 1.0)
  }

  test("q_events_interarrival: per-user gap replay — exact moments and CV²") {
    val evs = Tables.events(spark, sf)
      .selectExpr("event_type", "user_id", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000 AS sec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byType = evs.groupBy(_._1).toSeq.map { case (t, es) =>
      val gaps = es.groupBy(_._2).toSeq.flatMap { case (_, ue) =>
        val s = ue.sortBy(e => (e._4, e._3)).map(_._4)
        s.sliding(2).collect { case Array(a, b) => b - a }.toSeq
      }
      val n = gaps.length.toLong
      val sg = gaps.sum; val sgg = gaps.map(g => g * g).sum
      (t, n, sg / n, (n.toDouble * sgg - sg.toDouble * sg) / (sg.toDouble * sg))
    }.sortBy(_._1)
    val got = rows("q_events_interarrival").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got.map(_._1).toSeq == byType.map(_._1))
    got.zip(byType).foreach { case ((t, n, mg, cv2, b), (et, en, emg, ecv2)) =>
      assert(t == et && n == en && mg == emg, s"$t gap moments")
      assert(math.abs(cv2 - ecv2) < 1e-9, s"$t cv2")
      val cv = math.sqrt(ecv2)
      assert(math.abs(b - (cv - 1) / (cv + 1)) < 1e-9, s"$t burstiness")
      assert(b > -1.0 && b < 1.0)
    }
  }

  test("q_text_burstiness: word dispersion replay — exact tf/df/D") {
    val tok = Tables.documents(spark, sf)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nDocs = Tables.documents(spark, sf).count()
    val perWord = tok.groupBy(_._2).toSeq.map { case (w, occ) =>
      val byDoc = occ.groupBy(_._1).map(_._2.length.toLong)
      val tf = byDoc.sum; val df = byDoc.size.toLong
      val c2 = byDoc.map(c => c * c).sum
      (w, tf, df, tf * 1000 / df, (nDocs * c2 - tf * tf) * 1000 / (nDocs * tf))
    }.filter(_._2 >= 50)
    val expected = perWord.sortBy(x => (-x._5, x._1)).take(15)
    val got = rows("q_text_burstiness").map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.length == expected.length.min(15))
    got.zip(expected).foreach { case ((rk, w, tf, df, bm, dm), (ew, etf, edf, ebm, edm)) =>
      assert(w == ew, s"rank $rk word")
      assert(tf == etf && df == edf, s"rank $rk counts")
      assert(bm == ebm && dm == edm, s"rank $rk scores")
    }
  }

  test("q_events_stickiness: exact DAU/WAU replay over (user, day) pairs") {
    val ud = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val d0 = ud.map(_._2).min; val d1 = ud.map(_._2).max
    val dau = ud.groupBy(_._2).map { case (d, v) => d -> v.length.toLong }
    def wau(d: Long) = ud.filter(p => p._2 >= d - 6 && p._2 <= d).map(_._1).distinct.length.toLong
    val expected = dau.keys.filter(d => d >= d0 + 6 && d <= d1).toSeq.sorted
      .map(d => (d, dau(d), wau(d), dau(d) * 10000 / wau(d)))
    val got = rows("q_events_stickiness").map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected, "DAU/WAU table differs from replay")
    // a weekly-active population is never 100% daily-sticky here
    assert(got.forall(x => x._4 > 0 && x._4 <= 10000))
  }

  test("q_stats_hill_tail: top-k order-statistic replay through the JVM log kernel") {
    val cents = Tables.orders(spark, sf)
      .selectExpr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(x => (-x._1, x._2)).take(101).map(_._1)
    val xk = cents.min
    val up = cents.filter(_ > xk)
    val s = up.map(x => graft.llm.NeutralMath.lnScaledJvm(x, xk, 1e6)).sum
    val alpha = up.length.toLong * 1000000000L / math.max(1L, s)
    val got = rows("q_stats_hill_tail")
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((up.length.toLong, xk, s, alpha)), "Hill estimator differs from replay")
    // order values are light-tailed (bounded synthetic): alpha well above 2
    assert(alpha > 2000L)
  }

  test("q_stats_mad: exact lower-median and MAD against a full sort replay") {
    val cents = Tables.orders(spark, sf)
      .selectExpr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = cents.length
    val med = cents.sortBy(x => (x._1, x._2)).apply((n + 1) / 2 - 1)._1
    val dev = cents.map(x => (math.abs(x._1 - med), x._2))
    val mad = dev.sortBy(x => (x._1, x._2)).apply((n + 1) / 2 - 1)._1
    val got = rows("q_stats_mad")
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((n.toLong, med, mad, mad * 1482602L)), "median/MAD differ from sort replay")
    // robust sigma of a uniform-ish price distribution is well below the range
    assert(mad > 0 && mad < med)
  }

  // ---- degenerate-fixture guards (round-10 ADVICE: the shared SQL text
  // must carry its own CASE guards; each test below pins one) ----

  private def lineitemView(s: org.apache.spark.sql.SparkSession,
      rows: Seq[(Long, Double)]): Unit = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("l_extendedprice",
        org.apache.spark.sql.types.DoubleType)))
    s.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2)).asJava, schema)
      .createOrReplaceTempView("lineitem")
  }

  test("q_stats_kendall: a fully tied variable yields NULL tau_b, not a division by zero") {
    val s2 = TestSpark.spark.newSession()
    // every order lands in the SAME price bin (bx identical) -> n0 = tx
    lineitemView(s2, Seq((1L, 10.0), (1L, 10.0), (2L, 10.0), (3L, 10.0), (3L, 12.0)))
    val got = s2.sql(StatsInference.kendallSql("DIV")).collect()
    assert(got.length == 1)
    assert(got.head.isNullAt(5), "tau_b must be NULL on a degenerate grid")
    assert(got.head.getLong(0) == 3L) // the exact counts still report
  }

  test("q_events_interarrival: all-zero gaps yield NULL cv_sq/burstiness, not NaN") {
    val s2 = TestSpark.spark.newSession()
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampNTZType)))
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0, 0)
    // one user firing twice in the SAME second -> gap = 0 -> sg = 0
    val rows2 = Seq(
      org.apache.spark.sql.Row("burst", 1L, 1L, t0),
      org.apache.spark.sql.Row("burst", 1L, 2L, t0))
    s2.createDataFrame(rows2.asJava, schema).createOrReplaceTempView("events")
    val got = s2.sql(StatsInference.interarrivalSql(
      "unix_micros(CAST(ts AS TIMESTAMP))", "DIV")).collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 1L && got.head.getLong(2) == 0L)
    assert(got.head.isNullAt(3), "cv_sq must be NULL when sg = 0")
    assert(got.head.isNullAt(4), "burstiness must be NULL when sg = 0")
  }

  test("q_stats_anova: negative value sums keep truncation-toward-zero mean_cents") {
    val s2 = TestSpark.spark.newSession()
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // refunds: s = -3 cents over n = 2 -> mean_cents must be -1 (trunc),
    // never -2 (floor) on either engine
    val rows2 = Seq(
      org.apache.spark.sql.Row("refund", -0.01), org.apache.spark.sql.Row("refund", -0.02),
      org.apache.spark.sql.Row("sale", 1.0), org.apache.spark.sql.Row("sale", 2.0))
    s2.createDataFrame(rows2.asJava, schema).createOrReplaceTempView("events")
    val got = s2.sql(StatsInference.anovaSql("DIV")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("refund") == -1L, s"mean_cents trunc-toward-zero, got ${got("refund")}")
    assert(got("sale") == 150L)
  }

  test("q_stats_spearman: past 2^14 doubled ranks the in-text rescale keeps moments in int64") {
    val s2 = TestSpark.spark.newSession()
    // 9000 single-line orders -> 2N+1 = 18001 > 16384 -> sf = 2; prices
    // spread over ~900 distinct price bins so ranks genuinely vary
    val n = 9000
    val rows2 = (0 until n).map(i =>
      ((i + 1).toLong, (i % 900) * 10486.0 + 1.0))
    lineitemView(s2, rows2)
    val got = s2.sql(StatsInference.spearmanSql("DIV")).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == n.toLong)
    // quantized doubled ranks are <= 2^14, so sxx <= N * 2^28: replay it
    val sf = (2L * n + 16384L) / 16384L
    val binned = rows2.map { case (_, p) =>
      (math.floor(p * 100 + 0.5).toLong / 1048576L, 1L)
    }
    val counts = binned.map(_._1).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val sorted = counts.toSeq.sortBy(_._1)
    var cum = 0L
    val q2x = sorted.map { case (k, c) => cum += c; k -> (2 * cum - c + 1) / sf }.toMap
    val sxx = binned.map(b => q2x(b._1) * q2x(b._1)).sum
    assert(r.getLong(3) == sxx, "rescaled xx moment differs from replay")
    assert(sxx <= n.toLong * (1L << 28), "moment bound")
    // all line counts are 1 -> y fully tied -> rho undefined -> NULL
    assert(r.isNullAt(6))
  }

  test("q_stats_spearman: below the rescale threshold outputs are the unguarded form (sf = 1)") {
    val s2 = TestSpark.spark.newSession()
    // 100 orders, alternating 1/2-line, prices increasing with lines
    val rows2 = (0 until 100).flatMap { i =>
      val ok = (i + 1).toLong
      if (i % 2 == 0) Seq((ok, 2e6 + i * 3e4)) else Seq((ok, 1e6), (ok, 1e6 + i * 2e4))
    }
    lineitemView(s2, rows2)
    val got = s2.sql(StatsInference.spearmanSql("DIV")).collect().head
    // replay with RAW doubled ranks (sf = 1 path)
    val po = rows2.groupBy(_._1).toSeq.map { case (_, ls) =>
      (ls.map(p => math.floor(p._2 * 100 + 0.5).toLong).sum / 1048576L,
        math.min(ls.length.toLong, 47L))
    }
    def rank2(keys: Seq[Long]): Map[Long, Long] = {
      val sorted = keys.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
        .toSeq.sortBy(_._1)
      var cum = 0L
      sorted.map { case (k, c) => cum += c; k -> (2 * cum - c + 1) }.toMap
    }
    val r2x = rank2(po.map(_._1)); val r2y = rank2(po.map(_._2))
    assert(got.getLong(1) == po.map(b => r2x(b._1)).sum)
    assert(got.getLong(2) == po.map(b => r2y(b._2)).sum)
    assert(got.getLong(5) == po.map(b => r2x(b._1) * r2y(b._2)).sum)
  }

  test("q_stats_bh_fdr: per-type KS + BH replay through the JVM exp kernel") {
    val evs = Tables.events(spark, sf)
      .selectExpr("event_type",
        "LEAST(63, GREATEST(0, CAST(FLOOR(FLOOR(value * 100 + 0.5) / 800) AS BIGINT))) AS b")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val types = evs.map(_._1).distinct.sorted
    val m = types.length.toLong
    val perType = types.map { t =>
      val ct = Array.fill(64)(0L); val cc = Array.fill(64)(0L)
      evs.foreach { case (tt, b) =>
        if (tt == t) ct(b.toInt) += 1 else cc(b.toInt) += 1 }
      val nt = ct.sum; val nc = cc.sum
      var cumt = 0L; var cumc = 0L; var dnum = 0L
      (0 until 64).foreach { i =>
        cumt += ct(i); cumc += cc(i)
        dnum = math.max(dnum, math.abs(cumt * nc - cumc * nt))
      }
      val xm = math.min(29000000L, math.floor(
        2.0 * dnum.toDouble * dnum.toDouble /
          (nt.toDouble * nc.toDouble * (nt + nc).toDouble) * 1e6 + 0.5).toLong)
      val p = math.min(1000000L,
        math.floor(2.0e12 / graft.llm.NeutralMath.expMicroJvm(xm).toDouble + 0.5).toLong)
      (t, nt, 1000000L * dnum / (nt * nc), p)
    }
    val ranked = perType.sortBy(x => (x._4, x._1)).zipWithIndex
      .map { case ((t, nt, ks, p), i) => (t, nt, ks, p, i + 1L) }
    val kmax = ranked.collect { case (_, _, _, p, rk) if p * m <= rk * 50000 => rk }
      .foldLeft(0L)(math.max)
    val expected = ranked.sortBy(_._1).map { case (t, nt, ks, p, rk) =>
      (t, nt, ks, p, rk, m, if (rk <= kmax) 1 else 0) }
    val got = rows("q_stats_bh_fdr").map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getInt(6)))
    assert(got.toSeq == expected.toSeq, s"got ${got.toSeq}\nexp ${expected.toSeq}")
    // the uniform fixture draws every type from the same distribution —
    // BH must NOT discover anything here
    assert(got.forall(_._7 == 0), "false discovery on the null fixture")
  }

  test("q_stats_bh_fdr: a genuinely shifted segment is discovered, null segments are not") {
    val s2 = TestSpark.spark.newSession()
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // three null types share one distribution; a SMALL 'shifted' segment
    // sits far up-bin — small, so the complement each null type is tested
    // against stays nearly null (one-vs-rest contamination must not make
    // every segment a true discovery)
    def draws(t: String, base: Double, n: Int) =
      (0 until n).map(i => org.apache.spark.sql.Row(t, base + (i % 50) * 8.0))
    val rows2 = draws("a", 0.0, 400) ++ draws("b", 0.0, 400) ++ draws("c", 0.0, 400) ++
      draws("shifted", 160000.0, 40)
    s2.createDataFrame(rows2.asJava, schema).createOrReplaceTempView("events")
    org.apache.spark.sql.graftbridge.GraftSession.install(s2)
    val got = s2.sql(StatsInference.bhFdrSql(
      graft.llm.NeutralMath.SparkKernel, "explode(sequence(0, 63))", "DIV"))
      .collect().map(r => r.getString(0) -> r.getInt(6)).toMap
    assert(got("shifted") == 1, s"the shifted segment must be discovered: $got")
    assert(got("a") == 0 && got("b") == 0 && got("c") == 0,
      s"null segments must not be discovered: $got")
  }

  test("q_graph_assortativity: degree replay over the synthetic citation graph") {
    val n = Tables.documents(spark, sf).count()
    val edges = (0L until n).flatMap { id =>
      (0 to 2).map(j => (id, (id * id * 31 + (2 * j + 1) * 97) % n))
    }.distinct
    val indeg = edges.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val pts = edges.map { case (s, d) => (indeg.getOrElse(s, 0L), indeg.getOrElse(d, 0L)) }
    val m = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val got = rows("q_graph_assortativity")
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      == ((m, sx, sy, sxx, syy, sxy)), "edge-degree moments differ from replay")
    val expR = (m.toDouble * sxy - sx.toDouble * sy) /
      math.sqrt((m.toDouble * sxx - sx.toDouble * sx) * (m.toDouble * syy - sy.toDouble * sy))
    assert(math.abs(r.getDouble(6) - expR) < 1e-12)
    assert(math.abs(r.getDouble(6)) <= 1.0)
  }
}
