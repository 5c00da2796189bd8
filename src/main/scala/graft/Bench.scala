package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Benchmark main. Times every SparkEntry query at SPARK_GRAFT_SF_DIR with a
  * fully materializing action (noop-format write — nothing survives to be
  * optimized away, unlike count() which let Catalyst eliminate sorts and
  * projections), after an untimed warm-up pass that pays JIT/codegen/footer
  * costs once.
  *
  * Output: the full record in ./bench_out.json (SPARK_GRAFT_BENCH_OUT);
  * on stdout ONE line, the same record minus its per-query collections,
  * short enough for a reader that keeps a 2000-char tail. A failed query
  * records `null` + its name in `errors` and exits nonzero — a broken
  * query can never read as a fast query.
  *
  * Noise self-diagnosis, only against a previous-round record of the same
  * `cpus` and `sf` (`prev_comparable`; r12 "confirmed" a 3.5x phantom by
  * judging a c8 run against a c32 record): a query regressing >1.5x vs the
  * CALIB-ADJUSTED prev time is re-timed in one fresh flags-only child JVM;
  * within 1.3x there it moves to `noise_suppressed`, else it stays in
  * `regressions_vs_prev` with its `isolated` datum. A child whose own
  * staging/warm-up threw is an INVALID adjudicator (`isolation_valid:false`).
  */
object Bench {

  /** One timed query; a failed one (`ok = false`) records `null`. */
  final case class Timing(name: String, sec: Double, ok: Boolean, gcSec: Double, memoSec: Double)

  /** What a previous record contributes to this run's comparison. */
  final case class Prev(queries: Map[String, Double], calibSec: Double,
      cpus: Option[Int], sf: Option[String])

  /** Per-query collections: in the full record, not on the stdout line. */
  private val perQueryKeys: Set[String] = Set("queries", "errors", "gc_sec", "memo_sec",
    "staging", "warmup_failed", "regressions_vs_prev", "noise_suppressed")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Sessions.cpus
    val spark = Sessions.local(cpus)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warm-up + staging run UNTIMED relative to the query matrix, but each
    // step is itself timed and its success recorded (r10 verdict #2: an
    // unrecorded staging failure shifts the artifact build into the first
    // in-matrix consumer, producing regression flags no one can
    // adjudicate). The JSON carries `staging` = {step: {sec, ok}} and
    // `warmup_failed`; the isolation protocol refuses a child datum whose
    // own staging/warm-up failed.
    var stagingEntries = List.empty[(String, Double, Boolean)]
    var warmupFailed = List.empty[String]
    def staged(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      val ok = try { body; true } catch { case _: Throwable => false }
      stagingEntries ::= ((name, (System.nanoTime() - t0) / 1e9, ok))
    }

    // Warm-up: a scan+join+agg+sort covers the batch codegen paths the
    // matrix reuses (round-1 showed the first query absorbing ~4s of JIT);
    // one streaming query warms the micro-batch engine + state store the
    // same way (the first streaming query otherwise pays ~10s of one-off
    // JIT that is engine setup, not query cost), and one window query
    // warms WindowExec + the broadcast-build path (otherwise the
    // alphabetically-first window consumer absorbs that JIT).
    Seq("q_agg_q1", "q_join_inner", "q_scan_project", "q_stream_window", "q_win_rank")
      .filter(SparkEntry.queries.contains)
      .foreach(n => try materialize(n) catch { case _: Throwable => warmupFailed ::= n })

    // Fixture staging: these write on-disk fixtures once per (session,
    // dir); staging them here means the timed region measures stream
    // execution / the shuffle-free join, not fixture rewrites.
    staged("events_stream")(graft.streaming.EventStream.stageAll(spark, sfDir))
    staged("bucketed_tables")(graft.queries.ExtraQueries.ensureBucketed(spark, sfDir))
    // Serving-index staging: the BM25 posting/length tables and the
    // two-level IVF assignment are build-once serve-many artifacts (in
    // production, batch index jobs); the retrieval queries time the PROBE
    // path. The build cost itself stays measured — q_ann_ivf_hier derives
    // the same quantizer inline, and the text family pays its own corpus
    // explodes.
    staged("bm25_index")(graft.llm.SearchRank.stageBm25(spark, sfDir))
    staged("ivf_hier_index")(graft.llm.AnnSql.stageHierIndex(spark, sfDir))
    // graph-index artifacts for the walk-serving queries (the kNN edge
    // BUILD cost stays measured by q_ann_knn_graph itself)
    staged("knn_edges")(graft.llm.LlmQueries.knnEdgesCached(spark, sfDir))
    staged("hnsw_edges")(graft.llm.HnswSearch.stageEdgesL2(spark, sfDir)) // also stages layer 1
    staged("probe_weights")(graft.llm.SearchRank.stageProbeWeights(spark, sfDir))

    // Dev-only: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the timed matrix
    // (isolating one query from cross-query JVM state is the first step of
    // any regression bisect). The driver's invocation sets nothing and
    // times everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // an empty/blank env var means "time everything"
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown bench query name(s): ${unknown.mkString(", ")}")
    }
    // In a restricted (isolation-child) run, ALSO warm the target queries
    // themselves once untimed: the generic warm-up covers shared codegen
    // paths, but a fresh JVM still pays the target's own JIT/codegen on
    // first execution — which made isolated times read WORSE than
    // in-matrix ones (the matrix amortizes that across 190 predecessors)
    // and poisoned the isolated-vs-prev verdict. Steady-state is what the
    // prev record captures, so steady-state is what isolation must time.
    only.foreach(_.toSeq.sorted.foreach(n =>
      try { Staging.releaseTransient(); materialize(n) }
      catch { case _: Throwable => () }))

    // Machine-speed calibration: a fixed data-independent multicore
    // workload (hash + aggregate over an in-memory range), timed after
    // warm-up and emitted as calib_sec. Two benches on different VM boots
    // of "the same" box have differed by 1.5x uniformly across all ~190
    // queries; a per-record denominator lets any reader (and the
    // regression gate's consumers) separate machine drift from real
    // slowdowns before burning a round chasing phantoms.
    val calibSec: Double = {
      import org.apache.spark.sql.functions.{sum => fsum, xxhash64, col}
      def run(): Unit = spark.range(0, 1000000000L, 1, cpus)
        .select(fsum(xxhash64(col("id")).cast("double"))) // double: a long SUM of hashes overflows under ANSI
        .write.format("noop").mode("overwrite").save()
      try {
        run() // untimed JIT pass
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    }

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMillis(): Long = {
      var t = 0L; gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime)); t
    }

    var failures = List.empty[String]
    // Per-query bookkeeping beyond the time: gc seconds, and memo-build
    // seconds (family artifacts built inside this query's timing — the
    // r11 finding-#3 attribution: without it the record cannot
    // distinguish "operator got faster" from "operator's cost moved to
    // its first-consumer sibling"). Transient staged frames of the
    // PREVIOUS query are unpersisted before the timer starts (guide §5;
    // r11 finding #1: orphaned localCheckpoint block sets accumulated
    // across 357 queries and slowed the whole matrix).
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
      Staging.releaseTransient()
      val m0 = Staging.memoLedgerNanos
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      val ok =
        try { materialize(name); true }
        catch {
          case e: Throwable =>
            failures ::= s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
            false
        }
      Timing(name, (System.nanoTime() - t0) / 1e9, ok, (gcMillis() - g0) / 1e3,
        (Staging.memoLedgerNanos - m0) / 1e9)
    }

    // Per-query deltas vs the committed previous-round record, so the
    // round's JSON carries its own regression report (a total-only gate
    // let a 10-query 2-6x cluster hide inside an improved total in r4).
    val prev = Try(parsePrev(Files.readString(Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_PREV", "BENCH_PREV.json"))))).getOrElse(Prev(Map.empty, -1.0, None, None))
    // A restricted (BENCH_ONLY) run never isolates: it IS the isolation child.
    val rec = record(results, sfDir, cpus, calibSec, prev,
      stagingEntries.reverse, warmupFailed.reverse,
      if (only.nonEmpty) _ => (Map.empty, true) else isolatedTimes(sfDir, cpus))
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    Files.writeString(Paths.get(out), compact(render(rec)) + "\n")
    failures.foreach(f => System.err.println(s"[bench] FAIL $f"))
    spark.stop()
    // printed AFTER spark.stop() in one flushed write, so no executor or
    // log output can interleave with the line
    System.out.println(leanLine(rec, out))
    System.out.flush()
    if (failures.nonEmpty) sys.exit(1)
  }

  /** Reads the previous-round record: only its top-level `queries` object
    * (its `gc_sec` carries the same q_* names), `calib_sec`, `cpus` and
    * `sf`. Failed (`null`) entries are absent from `queries`.
    */
  def parsePrev(txt: String): Prev = {
    val j = parse(txt)
    Prev(times(j), number(j \ "calib_sec").getOrElse(-1.0),
      number(j \ "cpus").map(_.toInt), Some(j \ "sf").collect { case JString(s) => s })
  }

  /** An isolation child's `queries`, and whether it is a valid adjudicator:
    * every `staging` step ok and `warmup_failed` empty. A child whose own
    * staging or warm-up threw timed artifact BUILDS inside the flagged
    * queries, so its datum must not suppress (or confirm) anything.
    */
  def readChild(txt: String): (Map[String, Double], Boolean) = {
    val j = parse(txt)
    (times(j), (j \ "staging").children.forall(_ \ "ok" == JBool(true)) &&
      j \ "warmup_failed" == JArray(Nil))
  }

  private def times(j: JValue): Map[String, Double] = j \ "queries" match {
    case JObject(fs) => fs.flatMap { case (n, v) => number(v).map(n -> _) }.toMap
    case _ => Map.empty
  }

  private def number(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble); case _ => None
  }

  /** The full bench record. Flags are raised, and `isolate` called on them,
    * only when `prev` ran at this run's `cpus` and `sf`.
    */
  def record(results: Seq[Timing], sf: String, cpus: Int, calibSec: Double, prev: Prev,
      staging: Seq[(String, Double, Boolean)], warmupFailed: Seq[String],
      isolate: Seq[String] => (Map[String, Double], Boolean)): JObject = {
    val comparable = prev.cpus.contains(cpus) && prev.sf.contains(sf)
    // Machine-drift normalization (r8 verdict #3): two boots of "the same"
    // box have timed the identical code 1.5x apart uniformly. When both
    // rounds carry a calibration time, ratios are judged against the
    // calib-adjusted prev (prev · calibNow/calibPrev); the raw ratio
    // stays in the report so nothing is hidden.
    val calibFactor =
      if (calibSec > 0 && prev.calibSec > 0) calibSec / prev.calibSec else 1.0
    // Flag >1.5x and >0.3 s over the calib-adjusted prev time. The 0.3 s
    // floor: sub-second blips on a shared box are measurement noise (the
    // r4 cluster diagnosis). Memo-build seconds are subtracted first: a
    // family artifact's one-time build landing in a different first
    // consumer than last round is cost ATTRIBUTION moving, not a
    // regression (the raw time stays in `queries`).
    val candidates = results.filter(t => comparable && t.ok &&
      prev.queries.get(t.name).exists(p => p > 0 &&
        (t.sec - t.memoSec) / (p * calibFactor) > 1.5 && (t.sec - t.memoSec) - p * calibFactor > 0.3))
    val (isolated, isoValid) =
      if (candidates.isEmpty) (Map.empty[String, Double], true)
      else isolate(candidates.map(_.name).sorted)
    // confirmed = still >1.3x calib-adjusted prev when re-timed in the
    // fresh flags-only JVM (or no isolation datum); within 1.3x isolated
    // = matrix/noise, suppressed into its own object so the evidence
    // stays in the record. An INVALID isolation run (child staging or
    // warm-up threw) suppresses nothing — every flag stays confirmed with
    // its datum visible, and `isolation_valid:false` says why.
    val (noise, confirmed) = candidates.partition(t => isoValid &&
      isolated.get(t.name).exists(_ / (prev.queries(t.name) * calibFactor) <= 1.3))
    def entry(t: Timing): JField = {
      val p = prev.queries(t.name)
      t.name -> JObject("prev" -> num(p), "now" -> num(t.sec), "memo_s" -> num(t.memoSec),
        "ratio" -> num(t.sec / p, 2), "adj_ratio" -> num(t.sec / (p * calibFactor), 2),
        "isolated" -> isolated.get(t.name).fold[JValue](JNull)(num(_)))
    }
    val ok = results.filter(_.ok)
    JObject(
      "metric" -> JString("total"), "value" -> num(ok.map(_.sec).sum), "unit" -> JString("sec"),
      "queries" -> JObject(results.map(t => t.name -> (if (t.ok) num(t.sec) else JNull)): _*),
      "errors" -> JArray(results.filterNot(_.ok).map(t => JString(t.name)).toList),
      "sf" -> JString(sf), "cpus" -> JInt(cpus),
      "calib_sec" -> num(calibSec), "prev_calib_sec" -> num(prev.calibSec),
      "calib_factor" -> num(calibFactor),
      "isolation_valid" -> JBool(isoValid),
      "n_flagged" -> JInt(candidates.size),
      "n_isolated" -> JInt(candidates.count(t => isolated.contains(t.name))),
      "n_ok" -> JInt(ok.size), "n" -> JInt(results.size),
      // the 33-query round-1 matrix, reported separately so matrix growth
      // isn't mistaken for a slowdown
      "r1_queries_total" -> num(ok.filter(t => r1Names(t.name)).map(_.sec).sum),
      "prev_comparable" -> JBool(comparable),
      "gc_sec" -> JObject(results.map(t => t.name -> num(t.gcSec)): _*),
      "memo_sec" -> JObject(results.filter(_.memoSec > 0.0005).map(t => t.name -> num(t.memoSec)): _*),
      "staging" -> JObject(staging.map { case (n, s, stepOk) =>
        n -> JObject("sec" -> num(s), "ok" -> JBool(stepOk)) }: _*),
      "warmup_failed" -> JArray(warmupFailed.map(JString(_)).toList),
      "regressions_vs_prev" -> JObject(confirmed.map(entry): _*),
      "noise_suppressed" -> JObject(noise.map(entry): _*),
      "note" -> JString("r2 re-baseline: materializing noop-write action + warm-up " +
        "(r1 used count(), which let Catalyst drop sorts/projections); " +
        "r1_queries_total covers the original 33-query matrix under the new harness"))
  }

  /** The stdout line: `record` minus [[perQueryKeys]], pointing at the file
    * that holds the full record.
    */
  def leanLine(record: JObject, fullRecord: String): String = {
    val (scalars, note) = record.obj.filterNot(f => perQueryKeys(f._1)).partition(_._1 != "note")
    compact(render(JObject(scalars ++ (("full_record" -> JString(fullRecord)) :: note))))
  }

  private def num(v: Double, places: Int = 3): JValue =
    JDecimal(BigDecimal(v).setScale(places, BigDecimal.RoundingMode.HALF_UP))

  private val r1Names = Set(
    "q_scan_project", "q_filter_pred", "q_filter_in_like", "q_filter_null_distinct",
    "q_case_cast", "q_values_inline", "q_unnest", "q_agg_q1", "q_agg_ungrouped",
    "q_agg_having", "q_agg_stats", "q_agg_filter_clause", "q_join_inner",
    "q_join_left", "q_join_right", "q_join_full", "q_join_semi", "q_join_anti",
    "q_join_cross", "q_join_theta", "q_join_range", "q_join_using",
    "q_join_derived", "q_sort_nulls", "q_sort_multi_desc", "q_limit_offset",
    "q_union_all", "q_union_distinct", "q_intersect", "q_intersect_all",
    "q_except", "q_except_all", "q_distinct")

  /** Isolation protocol (the r4/r5 noise lesson made executable): EVERY
    * flagged query is re-timed in ONE fresh child JVM — same classpath,
    * module flags and heap as this process — whose matrix is the flagged
    * set only, each target warmed untimed first. That separates a real
    * slowdown from matrix context (GC pressure, state-store maintenance,
    * catalog growth, staged-artifact memory) and shared-box noise; one
    * batched child costs one ~30 s JVM setup regardless of flag count.
    * Child output goes to temp files, so the parent's stdout stays a
    * single JSON line.
    */
  private def isolatedTimes(sfDir: String, cpus: Int)(
      names: Seq[String]): (Map[String, Double], Boolean) =
    try {
      val tmp = Files.createTempFile("bench_iso_", ".json")
      val log = Files.createTempFile("bench_iso_", ".log")
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      rt.getInputArguments.forEach(a => cmd.add(a))
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_PREV", "/nonexistent")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", tmp.toString)
      pb.redirectOutput(log.toFile)
      pb.redirectErrorStream(true)
      val p = pb.start()
      // generous: warm+time two passes over the flagged set
      if (!p.waitFor(30, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly(); (Map.empty, false)
      }
      // read whatever the child recorded even on nonzero exit (a single
      // failing query must not discard the other adjudications)
      else readChild(Files.readString(tmp))
    } catch { case scala.util.control.NonFatal(_) => (Map.empty, false) }
}
