package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_<tag>.txt). Runs
  * under Bench's session ([[Sessions.local]]) so the captured plans are
  * the ones the bench actually executes.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query> [<query> ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query>...")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSeq
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${n}_$tag.txt"), txt)
      System.err.println(s"[plandump] wrote ${n}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
