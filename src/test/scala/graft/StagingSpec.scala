package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.graftbridge.{InternalFrames, RddBlocks}

/** Pins the single staging definition (round-10 verdict #6): stats reset
  * vs stats carry-through, the local/reliable backend switch, the
  * transient-frame release, and the on-disk fixture stager's contract.
  */
class StagingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def sizeInBytes(df: org.apache.spark.sql.DataFrame): BigInt =
    df.asInstanceOf[Dataset[_]].queryExecution.optimizedPlan.stats.sizeInBytes

  test("checkpointStatsReset resets the carried size estimate (the Borůvka BigInt pathology)") {
    import spark.implicits._
    val base = (1 to 64).toDF("v")
    val plain = Staging.checkpoint(base)
    val reset = Staging.checkpointStatsReset(base)
    // plain carries the checkpointed plan's real (small) estimate through;
    // reset rebuilds to the session default
    val defaultSize = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    assert(sizeInBytes(reset) == defaultSize,
      s"reset stats must be the session default, got ${sizeInBytes(reset)}")
    assert(sizeInBytes(plain) < defaultSize,
      "plain checkpoint must keep the real small estimate (broadcast eligibility)")
    // the pathology guard: joining the RESET frame to itself k times must
    // keep the estimate's bit length LINEAR in k, not exponential — the
    // digit-count blowup is what burned 15+ driver-minutes in
    // SizeInBytesOnlyStatsPlanVisitor before the reset existed
    var joined = reset
    val bits0 = sizeInBytes(joined).bitLength
    for (_ <- 1 to 4) {
      joined = Staging.checkpointStatsReset(
        joined.as("a").join(reset.as("b"), $"a.v" === $"b.v").select($"a.v"))
      assert(sizeInBytes(joined).bitLength <= bits0 + 8,
        "per-round estimate must stay flat after each reset")
    }
    assert(reset.collect().map(_.getInt(0)).sorted.sameElements(1 to 64))
  }

  test("the reliable backend writes through the SparkContext checkpoint dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Staging.BackendKey, "reliable")
    try {
      val df = Staging.checkpoint((1 to 10).toDF("v"))
      assert(df.count() == 10)
      def files(p: java.io.File): Seq[java.io.File] = {
        val kids = Option(p.listFiles()).map(_.toSeq).getOrElse(Nil)
        kids ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(new java.io.File(dir)).exists(_.isFile),
        "reliable checkpoint must persist partitions under the checkpoint dir")
    } finally {
      spark.conf.unset(Staging.BackendKey)
    }
  }

  test("default backend is local: no checkpoint-dir requirement") {
    import spark.implicits._
    assert(spark.conf.getOption(Staging.BackendKey).isEmpty)
    val df = Staging.checkpoint((1 to 5).toDF("v"))
    assert(df.count() == 5)
  }

  test("releaseTransient removes transient blocks before it returns; pinned frames keep theirs") {
    import spark.implicits._
    def blocks(df: org.apache.spark.sql.DataFrame): Int =
      RddBlocks.count(InternalFrames.checkpointRdd(df).get)
    val kept = Staging.pinned(Staging.checkpoint((1 to 100).toDF("v").repartition(4)))
    val transient = Staging.checkpoint((1 to 100).toDF("v").repartition(4))
    try {
      val keptBlocks = blocks(kept)
      assert(blocks(transient) > 0 && keptBlocks > 0)
      Staging.releaseTransient()
      assert(blocks(transient) == 0, "a transient frame's blocks must be gone on return")
      assert(blocks(kept) == keptBlocks, "a frame staged inside pinned must keep its blocks")
      assert(kept.count() == 100)
    } finally InternalFrames.checkpointRdd(kept).get.unpersist(blocking = true)
  }

  // Fixture-stager cases: each uses a fresh temp dir as the source dir, so
  // its keys are new to the JVM-wide map; the writes only count calls.
  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_fixture_src_").toString

  test("fixture: 8 concurrent callers of one key run write once and share its path") {
    val dir = freshDir()
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await()
            Staging.fixture("concurrent", dir) { _ => writes.incrementAndGet(); Thread.sleep(200) }
          }
        })
      }
      gate.countDown()
      val paths = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(writes.get == 1, "write must run exactly once per key")
      assert(paths.distinct.size == 1)
    } finally pool.shutdownNow()
  }

  test("fixture: a write may stage a second key from a cold map") {
    val dir = freshDir()
    var inner = ""
    val outer = Staging.fixture("outer", dir) { _ =>
      inner = Staging.fixture("inner", dir)(_ => ())
    }
    assert(inner.nonEmpty && inner != outer)
    // both keys are now staged: neither write runs again
    assert(Staging.fixture("inner", dir)(_ => fail("inner re-staged")) == inner)
    assert(Staging.fixture("outer", dir)(_ => fail("outer re-staged")) == outer)
  }

  test("fixture: a write that throws leaves no entry and the next caller retries") {
    val dir = freshDir()
    val boom = intercept[IllegalStateException] {
      Staging.fixture("flaky", dir)(_ => throw new IllegalStateException("disk full"))
    }
    assert(boom.getMessage == "disk full")
    var retried = false
    Staging.fixture("flaky", dir) { _ => retried = true }
    assert(retried, "the failed write must not be cached")
  }

  test("fixture: the path is fixtureRoot/<name>_<first 4 MD5 bytes of dir, hex><ext>") {
    val dir = freshDir()
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
    val hex = Integer.toHexString(md5.take(4).foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))
    assert(Staging.fixture("pathcheck", dir, ".parquet")(_ => ()) ==
      s"${Staging.fixtureRoot}/pathcheck_$hex.parquet")
    assert(Staging.fixtureRoot == java.nio.file.Paths.get("target", "fixtures").toAbsolutePath.toString)
  }
}
