package graft

import org.apache.spark.sql.SparkSession

/** Session shape of the command-line mains, and scoped session conf. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` (default 4): the mains' cores and shuffle width. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The one session builder: [[Bench]], [[Verify]], [[PlanDump]], the
    * `graft.examples` mains and the test suites run under it, so plans
    * dumped and results verified are the ones the bench times.
    */
  def local(cpus: Int = Sessions.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with `settings` applied to the session conf, then put each
    * key back as it was: its previous value, or unset if it had none. The
    * restore runs on return and on throw.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val previous = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally previous.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
