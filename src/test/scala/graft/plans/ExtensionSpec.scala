package graft.plans

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.{BindFilterLiterals, Carried, GraftSession, PlanSmallResults}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.engine.StaticSessionProvider
import graft.service.FlightSqlService

/** The config-driven extension surface: a session built with
  * `spark.sql.extensions=graft.plans.GraftSparkSessionExtension` has the
  * graft functions without any imperative registration, the
  * canonicalization rule rewrites commutative cosine calls, and graft's
  * planner strategies are there once each, as they are in a session
  * `GraftSession.install` equipped, however often it ran.
  */
class ExtensionSpec extends AnyFunSuite {

  private def withExtensionSession[A](f: SparkSession => A): A = {
    val prev = TestSpark.spark // ensures a SparkContext exists to share
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions is the programmatic form of
      // spark.sql.extensions=graft.plans.GraftSparkSessionExtension (the
      // config form only applies to a fresh SparkContext, which a shared
      // test JVM can't create)
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftSparkSessionExtension)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("spark.sql.extensions injects graft functions at session build") {
    withExtensionSession { s =>
      import s.implicits._
      Seq((Seq(1f, 2f), Seq(2f, 4f))).toDF("a", "b").createOrReplaceTempView("v")
      val row = s.sql(
        """SELECT graft_cosine(a, b) AS c, graft_dot(a, array(1.0D, 1.0D)) AS d,
          |graft_dot_d(array(2.0D, 3.0D), array(4.0D, 5.0D)) AS dd,
          |graft_overlap(array('x', 'y'), array('y', 'z')) AS ov FROM v""".stripMargin)
        .collect().head
      assert(math.abs(row.getDouble(0) - 1.0) < 1e-12) // parallel vectors
      assert(row.getDouble(1) == 3.0)
      assert(row.getDouble(2) == 23.0)
      assert(row.getInt(3) == 1)
    }
  }

  test("the extension installs every function GraftSession lists") {
    val calls = Map(
      "graft_cosine" -> "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F))",
      "graft_dot" -> "SELECT graft_dot(array(1.0F, 2.0F), array(3.0D, 4.0D))",
      "graft_dot_d" -> "SELECT graft_dot_d(array(2.0D), array(4.0D))",
      "graft_overlap" -> "SELECT graft_overlap(array('x', 'y'), array('y', 'z'))",
      "graft_ngrams" ->
        "SELECT ng FROM VALUES ('a b c') t(text) LATERAL VIEW graft_ngrams(text, 2) g AS pos, ng",
      "graft_ln_scaled" -> "SELECT graft_ln_scaled(CAST(1 AS BIGINT), CAST(1 AS BIGINT), 1.0E6)",
      "graft_exp_micro" -> "SELECT graft_exp_micro(CAST(0 AS BIGINT))")
    assert(calls.keySet == GraftSession.functions.map(_._1).toSet)
    withExtensionSession { s =>
      calls.foreach { case (name, sql) => assert(s.sql(sql).collect().nonEmpty, name) }
    }
  }

  test("Tables.registerAll keeps a function the caller registered under a graft name") {
    val s = TestSpark.spark.newSession()
    s.udf.register("graft_dot", (_: Seq[Float], _: Seq[Double]) => 42.0)
    graft.queries.Tables.registerAll(s, "/root/testdata/sf0.001")
    assert(s.sql("SELECT graft_dot(array(1.0F), array(1.0D))").head().getDouble(0) == 42.0)
    assert(s.sql("SELECT graft_cosine(array(1.0F), array(1.0F))").head().getDouble(0) == 1.0)
  }

  test("optimizer canonicalizes commutative cosine argument order") {
    withExtensionSession { s =>
      // parquet-backed (a LocalRelation would be eagerly evaluated by
      // ConvertToLocalRelation, leaving no expression to inspect)
      s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("embedding AS a", "embedding AS b")
        .createOrReplaceTempView("v2")
      val optimized = s.sql("SELECT graft_cosine(b, a) AS c FROM v2")
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan
      val cos = optimized.expressions.flatMap(_.collect {
        case c: org.apache.spark.sql.graftbridge.CosineSimilarity => c
      }).head
      assert(cos.left.sql <= cos.right.sql,
        s"arguments must be canonically ordered, got ${cos.sql}")
      // and the swapped call computes the identical value
      val v = s.sql("SELECT graft_cosine(b, a) AS c FROM v2").collect().head.getDouble(0)
      val v2 = s.sql("SELECT graft_cosine(a, b) AS c FROM v2").collect().head.getDouble(0)
      assert(v == v2)
    }
  }

  /** Codegen compiles of a lookup with a second, fresh key, after a first. */
  private def secondLookupCompiles(s: SparkSession, column: String): Long = {
    def lookup(key: Int) = s.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .where(s"$column = $key").collect()
    lookup(1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    lookup(2)
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** All 7 functions, the rule once and each strategy once. */
  private val once = (7, Seq(1), Seq(1, 1))

  test("the extension's session binds filter literals: a second key compiles nothing") {
    withExtensionSession { s =>
      assert(Carried(s) == once)
      assert(secondLookupCompiles(s, "o_orderkey") == 0)
      // install, through the service and registerAll, finds the extension's
      // functions, rule and strategies and adds none; a child shares them
      new FlightSqlService(new StaticSessionProvider(s)).getFlightInfoCatalogs()
      graft.queries.Tables.registerAll(s, "/root/testdata/sf0.001")
      assert(Carried(s) == once)
      assert(s.experimental.extraStrategies.isEmpty && s.experimental.extraOptimizations.isEmpty)
      assert(Carried(s.newSession()) == once)
    }
  }

  test("a provider-wrapped session binds filter literals: a second key compiles nothing") {
    val s = TestSpark.spark.newSession()
    assert(Carried.noStrategies(s))
    new FlightSqlService(new StaticSessionProvider(s)).getFlightInfoStatement("SELECT 1 AS one")
    assert(Carried(s) == once)
    assert(secondLookupCompiles(s, "o_custkey") == 0)
  }

  test("install twice leaves each function, the rule and each strategy once") {
    val s = TestSpark.spark.newSession()
    GraftSession.install(s)
    GraftSession.install(s)
    assert(Carried(s) == once)
    assert(s.experimental.extraStrategies.map(_.getClass) ==
      Seq(classOf[BindFilterLiterals], classOf[PlanSmallResults]))
  }
}
