package graft.examples

import graft.Sessions
import graft.llm.AnnSql

/** Runnable walk through the production ANN index lifecycle, composing
  * the engine's building blocks in the order a real deployment runs them
  * (every stage is the oracle-checked SQL behind its q_ann_* query):
  *
  *   1. TRAIN on a bounded sample      — q_ann_kmeans_sampled
  *      (O(|sample|·k) per Lloyd iteration at ANY corpus size)
  *   2. ASSIGN the full corpus two-level — q_ann_ivf_hier
  *      (O(sqrt nlist) distance evals per vector, not nlist)
  *   3. COMPRESS to residual PQ codes  — q_ann_ivfpq_residual
  *      (8 bytes/vector at serving time; codes quantize x − centroid(x))
  *   4. SERVE queries via probes + ADC — the same residual query path
  *
  * Run: sbt "runMain graft.examples.AnnIndexExample [sfDir]"
  */
object AnnIndexExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)
    graft.queries.Tables.registerAll(spark, sfDir)

    println("== 1. sampled k-means training step (bounded Lloyd budget) ==")
    val train = spark.sql(AnnSql.kmeansSampledSpark()).collect()
    println(s"   ${train.length} clusters; sample members: " +
      train.map(_.getLong(1)).sum + s", est corpus members: ${train.map(_.getLong(2)).sum}")

    println("== 2. two-level coarse assignment budget ==")
    val b = spark.sql(AnnSql.ivfHierBoundSpark()).collect().head
    println(s"   nlist=${b.getLong(0)} nlist1=${b.getLong(1)} " +
      s"max cell=${b.getLong(2)} max L2 evals/vector=${b.getLong(3)} " +
      s"(flat design would score all ${b.getLong(0)})")

    println("== 3+4. residual IVF-PQ search over the probed lists ==")
    val hits = spark.sql(AnnSql.ivfPqResidualSpark(3)).collect()
    println(s"   ${hits.length} (query, rank) results; first: " +
      hits.take(3).map(r => s"q=${r.getLong(0)} rk=${r.getInt(1)} cid=${r.getLong(2)}")
        .mkString(", "))

    println("== exact-rescore cross-check (hier IVF top-k) ==")
    val exact = spark.sql(AnnSql.ivfHierTopKSpark(3)).collect()
    println(s"   ${exact.length} exact-rescored results")

    spark.stop()
  }
}
