package graft.functions

import org.apache.spark.sql.graftbridge.GraftSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** graft_overlap (codegen'd sorted-merge intersection count) must agree
  * with size(array_intersect(...)) on every sorted-distinct-array input —
  * it replaces it in the set-similarity verify paths.
  */
class SortedOverlapSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("equals size(array_intersect) on random sorted word sets") {
    import spark.implicits._
    GraftSession.install(spark)
    val rng = new scala.util.Random(11)
    val vocab = ('a' to 'z').map(_.toString) ++ Seq("ü", "日本", "", "zz")
    val rows = Seq.fill(300) {
      def set() = rng.shuffle(vocab).take(rng.nextInt(vocab.size)).sorted
      (set(), set())
    }
    val df = rows.toDF("a", "b").selectExpr(
      "graft_overlap(a, b) AS got",
      "size(array_intersect(a, b)) AS want")
    assert(df.filter("got <> want").count() === 0)
  }

  test("nulls propagate; empty arrays overlap nothing") {
    GraftSession.install(spark)
    val r = spark.sql(
      """SELECT graft_overlap(array('x'), CAST(NULL AS ARRAY<STRING>)) AS n,
        |       graft_overlap(CAST(array() AS ARRAY<STRING>), array('x')) AS e""".stripMargin).head
    assert(r.isNullAt(0) && r.getInt(1) === 0)
  }
}
