package graft
import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Extra args (dev-only) restrict the dump to the named queries; the
    // driver's 2-arg invocation dumps everything.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    var errs = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // previous query's action is complete; drop its transient staged
      // blocks before building the next (guide §5, r11 finding #1)
      Staging.releaseTransient()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errs ::= name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonMap(SparkEntry.oracleSql))
    // Per-query error record (round-6 lesson: dropped entries hide the root
    // cause — a failed dump must leave machine-readable evidence behind).
    Files.writeString(Paths.get(s"$outDir/errors.json"), jsonMap(errs.reverse))
    spark.stop()
  }

  /** A JSON object of string values; every character Python's
    * `json.load` rejects raw (quotes, backslashes, control chars) is escaped.
    */
  private[graft] def jsonMap(entries: Iterable[(String, String)]): String =
    compact(render(JObject(entries.map { case (k, v) => k -> JString(v) }.toList)))
}
