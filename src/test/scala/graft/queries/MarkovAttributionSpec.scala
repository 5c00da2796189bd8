package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.TestSpark

/** Full Scala replay of the removal-effect Markov attribution: journeys,
  * truncation-at-first-purchase, nano-scaled transition matrix, the
  * 24-step integer absorption iteration, and the removal scenarios are
  * all re-derived independently and compared EXACTLY (the arithmetic is
  * deterministic integer, so equality is bitwise, not tolerance).
  */
class MarkovAttributionSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark.newSession()

  test("q_events_markov_attribution: exact replay of matrix, absorption, and shares") {
    val evs = Tables.events(spark, sf)
      .selectExpr("user_id", "CAST(ts AS STRING) AS ts", "event_id", "event_type")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))

    // journeys truncated at first purchase (inclusive), states mapped
    val kept = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val ordered = es.sortBy(e => (e._2, e._3))
        .map(e => if (e._4 == "purchase") "CONV" else e._4)
      val cut = ordered.indexOf("CONV")
      val j = if (cut >= 0) ordered.take(cut + 1) else ordered
      j.zipWithIndex.map { case (st, i) => (u, st, i + 1, j.length, j.last) }
    }
    // transitions: START/lag pairs + unconverted terminal -> NULL
    val trans = kept.flatMap { case (u, st, rn, len, last) =>
      val prev = if (rn == 1) "START"
      else kept.find(k => k._1 == u && k._3 == rn - 1).get._2
      val base = Seq((prev, st))
      if (rn == len && st != "CONV") base :+ ((st, "NULL")) else base
    }
    val counts = trans.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val tot = counts.toSeq.groupBy(_._1._1).map { case (s, v) => s -> v.map(_._2).sum }
    val p9 = counts.map { case ((s, d), c) => (s, d) -> c * 1000000000L / tot(s) }

    val states = p9.keys.map(_._1).filter(_ != "START").toSeq.distinct.sorted
    def absorb(removed: Option[String]): Long = {
      val m = p9.filter { case ((s, _), _) => !removed.contains(s) }
      var p = Map.empty[String, Long].withDefaultValue(0L)
      for (_ <- 1 to 24) {
        val next = m.groupBy(_._1._1).map { case (s, rows) =>
          val num = rows.map { case ((_, dd), pp) =>
            pp * (if (dd == "CONV") 1000000000L else p(dd))
          }.sum
          s -> num / 1000000000L
        }
        p = next.withDefaultValue(0L)
      }
      p("START")
    }
    val base = absorb(None)
    val eff = states.map(x => x -> math.max(0L, base - absorb(Some(x)))).toMap
    val effSum = math.max(1L, eff.values.sum)

    val scoped = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val confBefore = scoped.map(spark.conf.getOption)
    val got = SparkEntry.queries("q_events_markov_attribution")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(scoped.map(spark.conf.getOption) == confBefore,
      "the absorption loop's width and AQE settings must not outlive it")
    assert(got.map(_._1).toSeq == states, "state set/order")
    got.foreach { case (x, vb, vr, e, bp) =>
      assert(vb == base, s"$x base conversion")
      assert(vr == base - eff(x) || e == base - vr, s"$x removed conversion consistency")
      assert(e == eff(x), s"$x removal effect")
      assert(bp == e * 10000L / effSum, s"$x share_bp")
    }
    // conversion probability is a probability; shares cover <= 100%
    assert(base >= 0L && base <= 1000000000L)
    assert(got.map(_._5).sum <= 10000L)
  }
}
