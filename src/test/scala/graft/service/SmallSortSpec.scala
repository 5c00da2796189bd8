package graft.service

import org.apache.spark.graftbridge.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.{Carried, UnsafeRows}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Sessions, Staging, TestSpark}
import graft.engine.{Params, StaticSessionProvider}

/** A served global sort over a small input runs in one task: the child is
  * coalesced to one partition under the sort, so no range exchange, no
  * sampling job and no shuffle is planned. The rows are those of a session
  * without graft's strategies, in order up to ties; above the size guard,
  * and under a `LIMIT`, Spark's own plan is kept.
  */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  /** 4000 rows in 4 parquet files; `k` has 80 rows per value, `v` repeats
    * and is NULL on every 7th row.
    */
  private lazy val path = Staging.fixture("small_sort", "SmallSortSpec", ".parquet") { p =>
    TestSpark.spark.range(0, 4000, 1, 4).selectExpr("id", "id % 50 AS k",
      "IF(id % 7 = 0, NULL, id * 37 % 101) AS v", "concat('s', id % 13) AS s")
      .write.mode("overwrite").parquet(p)
  }

  private def session(): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.read.parquet(path).createOrReplaceTempView("small_sort")
    s
  }
  private lazy val served = session()
  /** The reference: no service and no `Tables.registerAll` ever sees it. */
  private lazy val plain = session()
  private lazy val service = new FlightSqlService(new StaticSessionProvider(served))

  private val lookup = "SELECT id, k, v, s FROM small_sort WHERE k = 7 ORDER BY id"
  private val grouped = "SELECT k, COUNT(*) AS n, SUM(v) AS sv FROM small_sort GROUP BY k ORDER BY k"

  /** The decoded rows of `text` served through GetFlightInfo and DoGet, and
    * the Spark jobs the DoGet started.
    */
  private def doGet(text: String) = {
    val ticket = service.getFlightInfoStatement(text).ticket
    val (frames, jobs) = Jobs.counted(served.sparkContext)(service.doGet(ticket).toBytes)
    (UnsafeRows.decoded(frames), jobs)
  }

  private def plan(text: String): SparkPlan =
    Params.plan(served, text).df.asInstanceOf[ClassicDataset[_]].queryExecution.executedPlan

  private def rangeExchanges(p: SparkPlan) =
    collect(p) { case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e }

  test("a sorted single-key lookup starts 1 job, with no range exchange") {
    assert(plain.table("small_sort").rdd.getNumPartitions >= 4)
    assert(doGet(lookup)._2 == 1)
    val p = plan(lookup)
    assert(rangeExchanges(p).isEmpty)
    assert(collect(p) { case c: CoalesceExec => c.numPartitions } == Seq(1))
  }

  test("GROUP BY … ORDER BY starts 2 jobs: the aggregate's shuffle and the sort") {
    assert(doGet(grouped)._2 == 2)
  }

  for (text <- Seq(lookup, grouped,
      "SELECT id, v, s FROM small_sort ORDER BY v DESC NULLS LAST, id",
      "SELECT id, k, v, s FROM small_sort ORDER BY s DESC, v NULLS LAST, id DESC"))
    test(s"$text serves the rows, in order, of a session without graft strategies") {
      val expected = UnsafeRows.collected(plain.sql(text))
      assert(Carried.noStrategies(plain))
      assert(expected.size > 1)
      assert(doGet(text)._1 == expected)
    }

  // Rows equal on every sort key come out in an order SQL leaves open, and
  // that differs between the two plans, so ties are checked as a multiset.
  for (text <- Seq("SELECT k, id, v FROM small_sort ORDER BY k",
      "SELECT v, id, s FROM small_sort ORDER BY v DESC NULLS LAST"))
    test(s"$text serves the rows of a session without graft strategies, keys in order") {
      def key(rows: Seq[UnsafeRow]) = rows.map(r => Option.when(!r.isNullAt(0))(r.getLong(0)))
      def counts(rows: Seq[UnsafeRow]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
      val expected = UnsafeRows.collected(plain.sql(text))
      val served = doGet(text)._1
      assert(key(served) == key(expected))
      assert(key(expected).distinct.size < expected.size)
      assert(counts(served) == counts(expected))
    }

  test("above the size guard the sort keeps its range exchange and the parent's job count") {
    Sessions.withConf(served, "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1") {
      assert(rangeExchanges(plan(lookup)).size == 1)
      val (rows, jobs) = doGet(lookup)
      assert(jobs == 3)
      assert(rows == UnsafeRows.collected(plain.sql(lookup)))
    }
  }

  test("ORDER BY … LIMIT still plans TakeOrderedAndProject") {
    val p = plan("SELECT id, v FROM small_sort ORDER BY v DESC NULLS LAST, id LIMIT 3")
    assert(collect(p) { case t: TakeOrderedAndProjectExec => t.limit } == Seq(3))
    assert(collect(p) { case c: CoalesceExec => c }.isEmpty)
  }
}
