package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Pins for the streaming ANN ingest path: the index artifacts have the
  * designed two-tier shape (the cheap-to-ship cell metadata really is
  * ~N^¼, the centroid partition really is disjoint), and the STREAMED
  * assignment equals the batch closed form computed independently in
  * Spark — batch-boundary invariance on top of the cross-engine oracle.
  */
class VectorIngestSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("index artifacts: N^(1/4) cells partitioning the centroid set disjointly") {
    val idx = VectorIngest.buildIndex(spark, sf)
    val corpusN = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter("vec_id % 10 = 0").count()
    val nlist = math.ceil(corpusN / math.ceil(math.sqrt(corpusN.toDouble))).toLong
    assert(idx.cells.nonEmpty && idx.cells.size <= math.ceil(math.sqrt(nlist.toDouble)) + 1,
      s"${idx.cells.size} cells must stay ~sqrt(nlist=$nlist)")
    val members = idx.members.collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0))
    }
    assert(members.map(_._1).toSet == idx.cells.map(_._1).toSet,
      "every cell must own a member list")
    val all = members.flatMap(_._2)
    assert(all.length == all.distinct.length, "cells must partition the centroids disjointly")
    assert(members.forall(_._2.nonEmpty), "a cell always holds at least its own seed centroid")
  }

  test("ingest index metadata stays shippable at a 20x corpus (cells ~ N^(1/4))") {
    // The tier-size claim behind shipping the cell table as in-plan
    // literals: at 20k vectors (40x the sf0.001 fixture) the corpus
    // subset is 2000, nlist ~ 45, and the CELL metadata an ingest node
    // embeds must stay ~sqrt(nlist) rows — kilobytes — while the
    // centroid tier (equi-joined, never shipped) carries the sqrt(N)
    // growth.
    val s = TestSpark.spark.newSession()
    org.apache.spark.sql.graftbridge.GraftSession.install(s)
    val base = java.nio.file.Paths.get(
      s"target/fixtures/vecingest_scale_${System.nanoTime()}")
    s.range(20000).selectExpr(
      "id AS vec_id",
      "CAST(transform(sequence(1, 64), j -> CAST(pmod(xxhash64(id, j), 1000) AS DOUBLE) / 1000.0 - 0.5) AS ARRAY<FLOAT>) AS embedding",
      "CAST(id % 10 AS INT) AS label")
      .write.mode("overwrite").parquet(base.resolve("embeddings.parquet").toString)
    val idx = VectorIngest.buildIndex(s, base.toString)
    val nlist = idx.members.collect()
      .map(_.getSeq[org.apache.spark.sql.Row](1).size).sum
    assert(nlist >= 40, s"2000-vector corpus should size nlist ~sqrt(N), got $nlist")
    assert(idx.cells.size <= 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt,
      s"${idx.cells.size} cells must stay ~sqrt(nlist=$nlist) — the shippable tier")
    val metadataDoubles = idx.cells.size.toLong * 64
    assert(metadataDoubles <= 4096,
      s"cell metadata ($metadataDoubles doubles) must stay literal-embeddable")
    val walk = java.nio.file.Files.walk(base)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
  }

  test("streamed assignment equals the batch closed form (Spark-side)") {
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    // FORCED re-register: an earlier suite may have shadowed `embeddings`
    // on the shared session (the leak this spec originally caught)
    graft.queries.Tables.reregisterAll(spark, sf)
    // the SHARED closed form (VectorIngest.closedFormSql) in its Spark
    // dialect — the same body the DuckDB oracle runs, so this pin covers
    // batch-boundary invariance on top of the cross-engine check
    val batch = spark.sql(VectorIngest.sparkClosedFormSql)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = VectorIngest
      .assignIngest(spark, sf, VectorIngest.buildIndex(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty, "ingest fixture must carry vectors")
    assert(streamed == batch,
      "micro-batched assignment must equal the batch closed form exactly")
  }
}
