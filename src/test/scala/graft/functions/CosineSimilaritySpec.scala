package graft.functions

import org.apache.spark.sql.graftbridge.GraftSession
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.TestSpark

/** The native cosine expression: correctness vs the SQL lambda fold it
  * replaces (must be bit-identical — the DuckDB oracle contract), null
  * handling, SQL registration, and codegen path.
  */
class CosineSimilaritySpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def vecs(rows: (Long, Seq[Float])*) = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(FloatType), nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, v) =>
        Row(i, if (v == null) null else v)
      }: _*), schema)
  }

  test("matches the SQL aggregate/zip_with fold bit-for-bit") {
    GraftSession.install(spark)
    val df = vecs(
      1L -> Seq(0.1f, -0.2f, 0.3f, 0.7f),
      2L -> Seq(0.5f, 0.1f, -0.3f, 0.2f),
      3L -> Seq(1.0f, 2.0f, 3.0f, 4.0f))
    df.createOrReplaceTempView("vecs_test")
    val result = spark.sql(
      """SELECT a.id, b.id,
        |graft_cosine(a.v, b.v) AS native,
        |aggregate(zip_with(a.v, b.v, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) /
        |(SQRT(aggregate(a.v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
        | SQRT(aggregate(b.v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS lambda
        |FROM vecs_test a JOIN vecs_test b ON a.id < b.id""".stripMargin).collect()
    assert(result.nonEmpty)
    result.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3),
        s"native ${r.getDouble(2)} != lambda ${r.getDouble(3)}")
    }
  }

  test("graft_dot_d on integer-valued double arrays is exact (k-means contract)") {
    GraftSession.install(spark)
    vecs(
      1L -> Seq(0.123f, -0.456f, 0.789f, 0.001f),
      2L -> Seq(-0.5f, 0.25f, 0.125f, 0.999f)).createOrReplaceTempView("vecs_dd")
    // quantize exactly as the k-means query does, then check the codegen'd
    // dot equals the interpreted lambda fold AND plain integer math
    val r = spark.sql(
      """SELECT graft_dot_d(qa, qb) AS native,
        |aggregate(zip_with(qa, qb, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS lambda
        |FROM (SELECT
        |  (SELECT transform(v, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) FROM vecs_dd WHERE id = 1) AS qa,
        |  (SELECT transform(v, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS DOUBLE)) FROM vecs_dd WHERE id = 2) AS qb)""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == r.getDouble(1))
    // 123*-500 + -456*250 + 789*125 + 1*999 = -75876
    assert(r.getDouble(0) == -75876.0)
  }

  test("identical vectors give 1.0; nulls propagate") {
    GraftSession.install(spark)
    vecs(1L -> Seq(0.3f, 0.4f), 2L -> null).createOrReplaceTempView("vecs_null")
    val self = spark.sql("SELECT graft_cosine(v, v) FROM vecs_null WHERE id = 1").collect()
    assert(math.abs(self.head.getDouble(0) - 1.0) < 1e-12)
    val n = spark.sql("SELECT graft_cosine(v, v) FROM vecs_null WHERE id = 2").collect()
    assert(n.head.isNullAt(0))
  }
}
