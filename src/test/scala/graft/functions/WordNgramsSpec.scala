package graft.functions

import org.apache.spark.sql.graftbridge.GraftSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The graft_ngrams table-valued function (Catalyst Generator): row
  * fan-out, 1-based positions, and degenerate inputs.
  */
class WordNgramsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("emits positioned n-grams via LATERAL VIEW; short/null rows emit nothing") {
    import spark.implicits._
    GraftSession.install(spark)
    Seq((1L, "a b c d"), (2L, "x"), (3L, null))
      .toDF("id", "t").createOrReplaceTempView("ng_v")

    val bi = spark.sql(
      "SELECT id, pos, ng FROM ng_v LATERAL VIEW graft_ngrams(t, 2) g AS pos, ng ORDER BY id, pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(bi.toSeq === Seq((1L, 1, "a b"), (1L, 2, "b c"), (1L, 3, "c d")))

    val tri = spark.sql(
      "SELECT COUNT(*) FROM ng_v LATERAL VIEW graft_ngrams(t, 3) g AS pos, ng")
      .head.getLong(0)
    assert(tri === 2) // only id=1 is long enough

    val uni = spark.sql(
      "SELECT ng FROM ng_v LATERAL VIEW graft_ngrams(t, 1) g AS pos, ng WHERE id = 2")
      .head.getString(0)
    assert(uni === "x")
  }
}
