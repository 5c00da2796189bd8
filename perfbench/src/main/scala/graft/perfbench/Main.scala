package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Benchmark entry point, launched by perfbench/run.py:
  *
  * {{{
  * Main --workload serve_short|serve_scan|operators --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * The last stdout line is the result: `correct`, `attempted`, `failed` and
  * `metrics`, the end-to-end metrics when untraced and the per-layer metrics
  * when traced. The full record (configuration, routes, failures) and, when
  * traced, the spans are written under DIR/records.
  */
object Main {
  /** Per-layer metrics every traced run prints, in this order. */
  val perLayer: Seq[(String, String)] = Seq(
    "transport.rpc_overhead_ms" -> "ms", "transport.frames_per_req" -> "count",
    "transport.bytes_per_req" -> "B",
    "service.flightinfo_ms" -> "ms", "service.doput_ms" -> "ms", "service.doget_call_ms" -> "ms",
    "service.first_frame_ms" -> "ms", "service.first_batch_ms" -> "ms", "service.stream_ms" -> "ms",
    "service.stream_cpu_ms" -> "ms", "service.plan_calls_per_req" -> "count",
    "ipc.decode_ms" -> "ms", "ipc.bytes_per_row" -> "B",
    "spark.jobs_per_req" -> "count", "spark.stages_per_req" -> "count", "spark.tasks_per_req" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.busy_frac" -> "fraction",
    "spark.phase.analysis_ms" -> "ms", "spark.phase.optimization_ms" -> "ms",
    "spark.phase.planning_ms" -> "ms",
    "queries.construct_s" -> "s", "queries.construct_jobs" -> "count", "queries.execute_s" -> "s",
    "queries.warm_pass_s" -> "s") ++
    Operators.queries.map(q => s"queries.${q}_s" -> "s") ++
    Operators.staging.map { case (k, _) => s"staging.${k}_s" -> "s" } ++ Seq(
    "staging.memo_build_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "client.adhoc_p50_ms" -> "ms", "client.repeat_p50_ms" -> "ms", "client.prepared_p50_ms" -> "ms",
    "client.metadata_p50_ms" -> "ms", "client.error_rate" -> "fraction",
    "tracing.overhead_frac" -> "fraction", "check.expected_s" -> "s", "check.datagen_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val args = Args(opt("workload"), opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      Paths.get(opt("work")).toAbsolutePath, opts.getOrElse("git-commit", ""), opts.getOrElse("source-sha", ""))
    Stats.log(s"${args.workload} seed ${args.seed}")
    val env = new Env(args)
    val outcome = args.workload match {
      case "serve_short" => Serve.run(env, Serve.short)
      case "serve_scan" => Serve.run(env, Serve.scan)
      case "operators" => Operators.run(env)
      case other => sys.error(s"unknown workload $other")
    }
    // A layer a workload does not reach, or a request kind it does not
    // send, reads 0: every printed value is a finite number.
    def finite(m: Metric) = if (m.value.isNaN || m.value.isInfinite) m.copy(value = 0.0) else m
    val metrics =
      if (!args.trace) ListMap(outcome.metrics.map { case (k, m) => k -> finite(m) }: _*)
      else {
        val got = outcome.metrics.toMap
        ListMap(perLayer.map { case (k, unit) => k -> finite(got.getOrElse(k, Metric(0.0, unit))) }: _*)
      }
    val records = Files.createDirectories(args.work.resolve("records"))
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.writeString(records.resolve(s"$tag.json"), Json(outcome.record) + "\n")
    outcome.spans.foreach(s => Files.writeString(records.resolve(s"$tag.spans.json"), s))
    val line = Json(ListMap(
      "correct" -> (outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics))
    Stats.log("done")
    System.out.println(line)
    System.out.flush()
    sys.exit(0)
  }
}
