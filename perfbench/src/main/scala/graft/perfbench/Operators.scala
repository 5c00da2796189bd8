package graft.perfbench

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.graftperfbench.SparkBridge
import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Staging}
import graft.ipc.ArrowCodec
import graft.queries.Tables

/** In-process passes over a fixed list of `SparkEntry.queries`: each query
  * is constructed, drained through `ArrowCodec.encodeStream` and decoded by
  * one caller, and its fingerprint must equal the warm pass's on every pass.
  */
object Operators {
  val sf = 0.01

  /** The passes run the operator families that finish in about a second
    * each. The fixpoint-heavy ones (`q_ann_hnsw_l2`, `q_ann_ivfpq_residual`,
    * `q_ann_graph_connectivity`, `q_text_unigram_tok_em`,
    * `q_events_markov_attribution`) take 2.4 to 4.7 s each at any scale
    * because their cost is per-round job overhead, which would make one run
    * longer than the benchmark's time budget allows; `q_stream_window`
    * stages its input under a fixed path outside the working tree.
    */
  val queries: Seq[String] = Seq(
    "q_tpch_q3ish", "q_tpch_q5ish", "q_agg_q1", "q_win_rank", "q_distinct_on",
    "q_text_bm25", "q_search_rerank_probe", "q_dedup_edit_verified", "q_embed_pca_project")

  /** The serving-artifact builds of `graft.Bench` that these queries read. */
  val staging: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "bm25_index" -> ((s, d) => graft.llm.SearchRank.stageBm25(s, d)),
    "probe_weights" -> ((s, d) => { graft.llm.SearchRank.stageProbeWeights(s, d); () }))

  final case class QueryRun(
      name: String, pass: Int, start: Long, constructEnd: Long, executeEnd: Long, end: Long,
      rows: Long, bytes: Long, phases: Map[String, Long], error: Option[String]) {
    def s: Double = (end - start) / 1e9
  }

  def run(env: Env): Outcome = {
    val args = env.args
    val (dir, datagenS) = Stats.timed(env.data(sf))

    def setUp(): (SparkSession, Map[String, Double], Double) = {
      val spark = env.session()
      Tables.registerAll(spark, dir)
      val memo0 = Staging.memoLedgerNanos
      val steps = staging.map { case (name, stage) => name -> Stats.timed(stage(spark, dir))._2 }
      (spark, steps.toMap, (Staging.memoLedgerNanos - memo0) / 1e9)
    }

    def runQuery(spark: SparkSession, name: String, pass: Int): (QueryRun, Option[Fingerprint]) = {
      Staging.releaseTransient()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val t1 = System.nanoTime()
        val bytes = ArrowCodec.encodeStream(df).toBytes
        val t2 = System.nanoTime()
        val rows = ArrowCodec.decode(bytes).rows
        val t3 = System.nanoTime()
        val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        (QueryRun(name, pass, t0, t1, t2, t3, rows.size.toLong, bytes.length.toLong, phases, None),
          Some(Check.of(rows.iterator)))
      } catch {
        case e: Exception =>
          val t = System.nanoTime()
          (QueryRun(name, pass, t0, t, t, t, 0, 0, Map.empty,
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")), None)
      }
    }

    // Set up several times (fresh session, views, staging) and keep the last.
    val setups = (1 to env.setUps).map { i =>
      val (s, secs) = Stats.timed(setUp())
      if (i < env.setUps) s._1.stop()
      (s, secs)
    }
    val (spark, stagingS, memoS) = setups.last._1
    val memoBefore = Staging.memoLedgerNanos
    val (warm, warmS) = Stats.timed(queries.map(q => q -> runQuery(spark, q, 0)).toMap)
    val warmMemoS = (Staging.memoLedgerNanos - memoBefore) / 1e9
    val expected = warm.collect { case (q, (_, Some(fp))) => q -> fp }
    val setupS = Stats.median(setups.map(_._2))
    Stats.log(s"set-ups: ${setups.map(_._2)}; warm pass ${warmS}s")

    var pass = 0
    /** Whole passes until `seconds` elapse (at least one). */
    def measure(seconds: Double): Seq[QueryRun] = {
      System.gc() // every window starts from a collected heap
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val out = Seq.newBuilder[QueryRun]
      do {
        pass += 1
        queries.foreach { q =>
          val (r, fp) = runQuery(spark, q, pass)
          out += (if (r.error.isEmpty && fp != expected.get(q))
            r.copy(error = Some(s"wrong result: $fp vs ${expected.get(q)}")) else r)
        }
      } while (System.nanoTime() < deadline)
      out.result()
    }

    /** The first pass of a window still runs slower while the JIT settles;
      * it counts for correctness but not for timing when the window holds
      * another pass.
      */
    def settled(runs: Seq[QueryRun]): Seq[QueryRun] = {
      val first = runs.map(_.pass).min
      if (runs.exists(_.pass > first)) runs.filter(_.pass > first) else runs
    }

    def endToEnd(window: Seq[QueryRun]): ListMap[String, Metric] = {
      val runs = settled(window)
      val perQuery = runs.groupBy(_.name).map { case (_, rs) => Stats.median(rs.map(_.s)) }.toSeq
      val busy = runs.map(_.s).sum
      ListMap(
        "setup_s" -> Metric(setupS, "s"),
        "lat_p50_ms" -> Metric(Stats.median(perQuery) * 1e3, "ms"),
        "lat_tail_ms" -> Metric(Stats.quantile(perQuery, 0.9) * 1e3, "ms"),
        "req_per_s" -> Metric(runs.size / busy, "req/s"),
        "rows_per_s" -> Metric(runs.map(_.rows).sum / busy, "rows/s"),
        "ipc_mb_per_s" -> Metric(runs.map(_.bytes).sum / 1e6 / busy, "MB/s"),
        "pass_s" -> Metric(perQuery.sum, "s"),
        "rss_peak_mb" -> Metric(Jvm.rssPeakMb, "MB"))
    }

    val plain = measure(if (args.trace) args.seconds / 2 else args.seconds)
    val plainMetrics = endToEnd(plain)
    val tracer = new Tracer(1)
    val (all, metrics, layerRecord) =
      if (!args.trace) (plain, plainMetrics, Map.empty[String, Any])
      else {
        val listener = new SparkTrace
        spark.sparkContext.addSparkListener(listener)
        Jvm.resetHeapPeak()
        val gc0 = Jvm.gcMs
        val t0 = System.nanoTime()
        val traced = measure(args.seconds / 2)
        val wall = (System.nanoTime() - t0) / 1e9
        val gcS = (Jvm.gcMs - gc0) / 1e3
        SparkBridge.drainListenerBus(spark)
        spark.sparkContext.removeSparkListener(listener)
        tracer.on = true
        traced.zipWithIndex.foreach { case (r, i) =>
          tracer.add("query", "", r.start, r.end, i.toLong)
          tracer.add("queries.construct", "query", r.start, r.constructEnd, i.toLong)
          tracer.add("queries.execute", "query", r.constructEnd, r.executeEnd, i.toLong)
          tracer.add("ipc.decode", "query", r.executeEnd, r.end, i.toLong)
        }
        tracer.addSpark(listener, "query", oneCaller = true)
        val passes = traced.map(_.pass).distinct.size.toDouble
        val perQuery = traced.groupBy(_.name).map { case (q, rs) => q -> Stats.median(rs.map(_.s)) }
        // one caller: a job belongs to the construct window it started in
        val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000
        def wallMs(ns: Long) = ns / 1000000 + offsetMs
        val constructJobs = traced.map(r => listener.jobsIn(wallMs(r.start), wallMs(r.constructEnd))).sum
        def phaseMs(p: String) = traced.flatMap(_.phases.get(p)).sum / passes
        val rows = traced.map(_.rows).sum
        val overhead = endToEnd(traced)("pass_s").value / plainMetrics("pass_s").value - 1
        val layers = ListMap(
          "queries.construct_s" -> Metric(traced.map(r => (r.constructEnd - r.start) / 1e9).sum / passes, "s"),
          "queries.construct_jobs" -> Metric(constructJobs / passes, "count"),
          "queries.execute_s" -> Metric(traced.map(r => (r.executeEnd - r.constructEnd) / 1e9).sum / passes, "s"),
          "queries.warm_pass_s" -> Metric(warmS, "s")) ++
          queries.map(q => s"queries.${q}_s" -> Metric(perQuery.getOrElse(q, 0.0), "s")) ++
          stagingS.toSeq.sortBy(_._1).map { case (k, v) => s"staging.${k}_s" -> Metric(v, "s") } ++
          ListMap(
            "staging.memo_build_s" -> Metric(memoS + warmMemoS, "s"),
            "ipc.decode_ms" -> Metric(traced.map(r => (r.end - r.executeEnd) / 1e6).sum / traced.size, "ms"),
            "ipc.bytes_per_row" -> Metric(traced.map(_.bytes).sum.toDouble / math.max(1L, rows), "B"),
            "spark.jobs_per_req" -> Metric(listener.jobList.size.toDouble / traced.size, "count"),
            "spark.stages_per_req" -> Metric(listener.stageSpans.size.toDouble / traced.size, "count"),
            "spark.tasks_per_req" -> Metric(listener.tasks.get.toDouble / traced.size, "count"),
            "spark.executor_run_s" -> Metric(listener.runMs.get / 1e3 / passes, "s"),
            "spark.executor_cpu_s" -> Metric(listener.cpuNs.get / 1e9 / passes, "s"),
            "spark.shuffle_write_mb" -> Metric(listener.shuffleWrite.get / 1e6 / passes, "MB"),
            "spark.shuffle_read_mb" -> Metric(listener.shuffleRead.get / 1e6 / passes, "MB"),
            "spark.busy_frac" -> Metric(listener.runMs.get / 1e3 / (wall * env.cpus), "fraction"),
            "spark.phase.analysis_ms" -> Metric(phaseMs("analysis"), "ms"),
            "spark.phase.optimization_ms" -> Metric(phaseMs("optimization"), "ms"),
            "spark.phase.planning_ms" -> Metric(phaseMs("planning"), "ms"),
            "jvm.gc_s" -> Metric(gcS, "s"),
            "jvm.heap_peak_mb" -> Metric(Jvm.heapPeakMb, "MB"),
            "client.error_rate" -> Metric(plain.count(_.error.nonEmpty).toDouble / plain.size, "fraction"),
            "tracing.overhead_frac" -> Metric(overhead, "fraction"),
            "check.expected_s" -> Metric(warmS, "s"),
            "check.datagen_s" -> Metric(datagenS, "s"))
        val selfMs = tracer.selfMsByName(Seq("query", "queries.construct", "queries.execute", "ipc.decode"))
          .map { case (k, v) => k -> v / traced.size }
        (plain ++ traced, layers, Map("self_ms_per_query" -> selfMs))
      }
    Stats.log(s"measured ${all.size} queries")
    spark.stop()

    val failures = all.filter(_.error.nonEmpty) ++ warm.values.map(_._1).filter(_.error.nonEmpty)
    val record = Map(
      "workload" -> "operators", "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "git_commit" -> args.gitCommit, "source_sha" -> args.sourceSha, "cpus" -> env.cpus,
      "clients" -> 1, "loop" -> "closed", "sf" -> sf, "sf_dir" -> dir, "queries" -> queries,
      "passes" -> all.map(_.pass).distinct.size, "setup_s_each" -> setups.map(_._2),
      "staging_s" -> stagingS, "memo_build_s" -> (memoS + warmMemoS), "warm_pass_s" -> warmS,
      "datagen_s" -> datagenS,
      "per_query_s" -> all.groupBy(_.name).map { case (q, rs) => q -> rs.map(_.s) },
      "error_rate" -> failures.size.toDouble / math.max(1, all.size),
      "failures" -> failures.take(20).map(f => Map("query" -> f.name, "pass" -> f.pass, "error" -> f.error)),
      "metrics" -> metrics) ++ layerRecord
    Outcome(all.size.toLong, failures.size.toLong, metrics.toSeq, record,
      if (args.trace) Some(tracer.toJson) else None)
  }
}
