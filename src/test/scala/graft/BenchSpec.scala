package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's record, stdout line and record readers, with no Spark session
  * and no matrix run.
  */
class BenchSpec extends AnyFunSuite {
  import Bench.{Prev, Timing}

  private val sf = "data/sf0.1"
  private def ok(name: String, sec: Double) = Timing(name, sec, ok = true, gcSec = 0.0, memoSec = 0.0)
  private val staging = Seq(("bm25_index", 1.25, true))
  private val noIsolation: Seq[String] => (Map[String, Double], Boolean) =
    names => fail(s"no child run expected, got one for $names")

  private def record(results: Seq[Timing], prev: Prev,
      isolate: Seq[String] => (Map[String, Double], Boolean) = noIsolation): JObject =
    Bench.record(results, sf, 8, calibSec = 1.0, prev, staging, Nil, isolate)

  private def prev(cpus: Int, prevSf: String, queries: (String, Double)*): Prev =
    Prev(queries.toMap, 1.0, Some(cpus), Some(prevSf))

  test("the stdout line of 357 failing queries parses as JSON and stays under 1500 chars") {
    val failing = (1 to 357).map(i => Timing(f"q_synthetic_failure_$i%03d", 0.5, ok = false, 0.01, 0.0))
    val full = record(failing, Prev(Map.empty, -1.0, None, None))
    val line = Bench.leanLine(full, "bench_out.json")
    assert(line.length < 1500, s"${line.length} chars")
    val JObject(fields) = parse(line): @unchecked
    assert(fields.map(_._1) == Seq("metric", "value", "unit", "sf", "cpus", "calib_sec",
      "prev_calib_sec", "calib_factor", "isolation_valid", "n_flagged", "n_isolated", "n_ok", "n",
      "r1_queries_total", "prev_comparable", "full_record", "note"))
    assert(line.contains("\"value\":0.000") && line.contains("\"calib_sec\":1.000"))
    assert(parse(line) \ "n" == JInt(357) && parse(line) \ "n_ok" == JInt(0))
    // the full record keeps every failure as an explicit null
    val JObject(queries) = full \ "queries": @unchecked
    assert(queries.size == 357 && queries.forall(_._2 == JNull))
    assert((full \ "errors").children.size == 357)
  }

  test("a prev record at another cpus or sf flags nothing and starts no child") {
    val results = Seq(ok("q_slow", 3.0))
    for (p <- Seq(prev(32, sf, "q_slow" -> 1.0), prev(8, "data/sf0.01", "q_slow" -> 1.0))) {
      val r = record(results, p)
      assert(r \ "prev_comparable" == JBool(false))
      assert(r \ "n_flagged" == JInt(0))
      assert(r \ "regressions_vs_prev" == JObject() && r \ "noise_suppressed" == JObject())
    }
  }

  test("at the same cpus and sf, only a query 2x and >0.3 s slower is flagged") {
    var asked = Seq.empty[String]
    val r = record(
      Seq(ok("q_same", 1.0), ok("q_slow", 2.0), ok("q_tiny", 0.3)),
      prev(8, sf, "q_same" -> 1.0, "q_slow" -> 1.0, "q_tiny" -> 0.1),
      names => { asked = names; (Map("q_slow" -> 1.9), true) })
    assert(asked == Seq("q_slow"))
    assert(r \ "prev_comparable" == JBool(true))
    assert(r \ "n_flagged" == JInt(1) && r \ "n_isolated" == JInt(1))
    val flagged = r \ "regressions_vs_prev" \ "q_slow"
    assert(flagged \ "ratio" == JDecimal(BigDecimal("2.00")))
    assert(flagged \ "isolated" == JDecimal(BigDecimal("1.900")))
  }

  test("the prev reader takes times from queries, not from gc_sec under the same names") {
    val txt = s"""{"gc_sec":{"q_a":9.000,"q_b":4.000},"queries":{"q_a":1.000,"q_b":null},
      |"cpus":8,"sf":"$sf","calib_sec":0.250,"memo_sec":{"q_a":7.000}}""".stripMargin
    assert(Bench.parsePrev(txt) == Prev(Map("q_a" -> 1.0), 0.25, Some(8), Some(sf)))
    // a record this bench writes reads back as the next run's prev
    val written = record(Seq(ok("q_a", 1.5), Timing("q_b", 2.0, ok = false, 0.0, 0.0)),
      Prev(Map.empty, -1.0, None, None))
    assert(Bench.parsePrev(compact(render(written))) == Prev(Map("q_a" -> 1.5), 1.0, Some(8), Some(sf)))
  }

  test("an isolation child is clean only when every staging step is ok and no warm-up failed") {
    def child(staging: String, warmup: String) =
      s"""{"queries":{"q_a":1.250},"staging":$staging,"warmup_failed":$warmup}"""
    val okSteps = """{"bm25_index":{"sec":1.000,"ok":true},"knn_edges":{"sec":2.000,"ok":true}}"""
    assert(Bench.readChild(child(okSteps, "[]")) == (Map("q_a" -> 1.25), true))
    assert(!Bench.readChild(child(
      """{"bm25_index":{"sec":1.000,"ok":true},"knn_edges":{"sec":2.000,"ok":false}}""", "[]"))._2)
    assert(!Bench.readChild(child(okSteps, """["q_agg_q1"]"""))._2)
  }

  test("Verify's JSON maps round-trip control characters, quotes and backslashes") {
    val entries = Seq("q_tab" -> "SELECT\t1", "q_cr" -> "a\r\nb", "q_quote" -> "say \"hi\"",
      "q_backslash" -> "C:\\dir\\", "q_ctrl" -> "x\u0001y")
    val JObject(back) = parse(Verify.jsonMap(entries)): @unchecked
    assert(back == entries.map { case (k, v) => k -> JString(v) })
  }
}
