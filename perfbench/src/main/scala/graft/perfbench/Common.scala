package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    gitCommit: String,
    sourceSha: String)

/** Process-wide settings: every Spark scratch path stays under `work`
  * (run.py points SPARK_LOCAL_DIRS there too).
  */
final class Env(val args: Args) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  /** Set-ups per run; `setup_s` is their median, and the first one is cold. */
  val setUps = 5
  val dataRoot: Path = Files.createDirectories(args.work.resolve("data"))

  /** Table directory for `sf`, generated on first use. */
  def data(sf: Double): String =
    DataGen.existing(dataRoot, sf).getOrElse {
      val spark = session()
      try DataGen.ensure(spark, dataRoot, sf) finally spark.stop()
    }

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to Main: the contract line's fields plus the
  * full record (config, counts, failures) written beside the trace.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Metric)],
    record: Map[String, Any],
    spans: Option[String])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Quantile of `xs` where sample i carries weight `w(i)` (weights sum to 1). */
  def weightedQuantile(xs: Seq[Double], w: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.zip(w).sortBy(_._1)
      val total = w.sum
      var acc = 0.0
      sorted.find { case (_, wi) => acc += wi; acc >= q * total - 1e-12 }.getOrElse(sorted.last)._1
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  /** Timer for set-up steps. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** JSON rendering for the result line, the record and the spans (json4s
  * from the Spark classpath); maps keep their iteration order.
  */
object Json {
  def apply(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}
