package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graftbridge.{InternalFrames, RddBlocks}

/** The staged-artifact memo policy: key (session, dir, arg), a per-artifact
  * LRU of 8 keys, views re-registered on every call, builds pinned, and a
  * failed build retried.
  */
class ArtifactsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("same (session, dir, arg) is served from the memo; a new session, dir or arg rebuilds") {
    val a = new Artifacts.Value[Int]
    var builds = 0
    def get(s: org.apache.spark.sql.SparkSession, d: String, arg: Any = ()): Int =
      a(s, d, arg) { builds += 1; builds }

    assert(get(spark, "d1") == 1)
    assert(get(spark, "d1") == 1 && builds == 1, "a second call must not rebuild")
    get(spark.newSession(), "d1")
    assert(builds == 2, "a new session rebuilds")
    get(spark, "d2")
    assert(builds == 3, "a new dir rebuilds")
    get(spark, "d1", 0.5)
    assert(builds == 4, "a new arg rebuilds")
    get(spark, "d1", 0.5)
    assert(builds == 4)
  }

  test("every call re-registers the views, a hit as well as a miss") {
    import spark.implicits._
    val v = new Artifacts.Views
    var builds = 0
    def stage(): Unit = v(spark, "views") {
      builds += 1
      Seq("artifacts_spec_a" -> Seq(1, 2, 3).toDF("x"), "artifacts_spec_b" -> Seq(7).toDF("y"))
    }
    def read(name: String): Seq[Int] = spark.table(name).as[Int].collect().toSeq.sorted

    stage()
    assert(read("artifacts_spec_a") == Seq(1, 2, 3) && read("artifacts_spec_b") == Seq(7))
    Seq(9).toDF("x").createOrReplaceTempView("artifacts_spec_a") // another query re-points it
    stage()
    assert(builds == 1, "the second call is a hit")
    assert(read("artifacts_spec_a") == Seq(1, 2, 3), "the hit points the view back at the artifact")
  }

  test("a frame staged inside a build keeps its blocks after releaseTransient") {
    import spark.implicits._
    val a = new Artifacts.Value[org.apache.spark.sql.DataFrame]
    val df = a(spark, "pinned") { Staging.checkpoint((1 to 100).toDF("v").repartition(4)) }
    val rdd = InternalFrames.checkpointRdd(df).get
    try {
      val before = RddBlocks.count(rdd)
      assert(before > 0)
      Staging.releaseTransient()
      assert(RddBlocks.count(rdd) == before, "an artifact's blocks are not transient")
      assert(df.count() == 100)
    } finally rdd.unpersist(blocking = true)
  }

  test("a build that throws is retried by the next caller") {
    val a = new Artifacts.Value[String]
    var builds = 0
    def build(): String = {
      builds += 1
      if (builds == 1) throw new IllegalStateException("boom") else "ok"
    }
    val e = intercept[IllegalStateException](a(spark, "retry")(build()))
    assert(e.getMessage == "boom")
    assert(a(spark, "retry")(build()) == "ok")
    assert(a(spark, "retry")(build()) == "ok" && builds == 2)
  }

  test("a ninth key evicts only the least recently used key of that one artifact") {
    val a = new Artifacts.Value[String]
    val other = new Artifacts.Value[String]
    var builds = 0
    def get(art: Artifacts.Value[String], d: String): String = art(spark, d) { builds += 1; d }

    get(other, "d1")
    (1 to 8).foreach(i => get(a, s"d$i"))
    get(a, "d1") // touch d1 so d2 is the least recently used key
    assert(builds == 9)
    get(a, "d9")
    builds = 0
    (Seq(1, 9) ++ (3 to 8)).foreach(i => get(a, s"d$i"))
    get(other, "d1")
    assert(builds == 0, "the other seven keys and the other artifact stay memoized")
    get(a, "d2")
    assert(builds == 1, "only the evicted key rebuilds")
  }
}
