package graft.examples

import graft.Sessions
import graft.streaming.VectorIngest

/** Runnable walk through live vector ingest, composing the streaming side
  * of the ANN index lifecycle (AnnIndexExample is the batch side; every
  * stage here is the oracle-checked machinery behind q_stream_ann_ingest):
  *
  *   1. BUILD the index artifacts from the corpus — the N^(1/4)-row cell
  *      table (quantizer metadata an ingest node holds in memory) and the
  *      per-cell centroid arrays (the broadcast equi-join side)
  *   2. STREAM incoming vectors through the quantizer — a pure-projection
  *      cell probe, a stream-static equi-join, and one bounded per-vector
  *      min as the only state
  *   3. ROLL UP list population — what an index operator watches to decide
  *      when a posting list needs splitting
  *
  * Run: sbt "runMain graft.examples.VectorIngestExample [sfDir]"
  */
object VectorIngestExample {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local(4)

    println("== 1. index artifacts from the corpus subset ==")
    val idx = VectorIngest.buildIndex(spark, sfDir)
    val nlist = idx.members.collect()
      .map(_.getSeq[org.apache.spark.sql.Row](1).size).sum
    println(s"   ${idx.cells.size} cells (shipped as literals, " +
      s"${idx.cells.size * 64} doubles) routing $nlist centroids")

    println("== 2. streamed assignment of the incoming vectors ==")
    val assigned = VectorIngest.assignIngest(spark, sfDir, idx)
    val rows = assigned.collect()
    println(s"   ${rows.length} vectors assigned; first: " +
      rows.take(3).map(r => s"v=${r.getLong(0)}→list ${r.getLong(1)}").mkString(", "))

    println("== 3. posting-list population after ingest ==")
    val byList = rows.groupBy(_.getLong(1)).view.mapValues(_.length).toSeq.sortBy(-_._2)
    println(s"   ${byList.size} lists touched; hottest: " +
      byList.take(3).map { case (l, n) => s"list $l += $n" }.mkString(", "))

    spark.stop()
  }
}
