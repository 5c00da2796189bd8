package graft.substrait

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QuerySpec, Tables}
import SubstraitBuilder._

/** Oracle-backed inventory entries for the Substrait execution path
  * (SURVEY §2.A9/A11): each builds a plan with [[SubstraitBuilder]] —
  * exactly the bytes a Flight SQL client would put in
  * `CommandStatementSubstraitPlan.plan` — decodes it through
  * [[SubstraitDecoder]], and runs the resulting DataFrame against the
  * DuckDB SQL twin. This puts the substrait consumer under the same
  * rows+schema+hash gate as every SQL operator, not just a unit spec.
  *
  * Determinism: final sort on a unique key set; the only double arithmetic
  * is an exact DECIMAL(18,2) fold cast back to DOUBLE (CLAUDE.md rules).
  */
object SubstraitQueries {

  /** read(orders) → filter(custkey%10=3) → project(cast decimal) →
    * aggregate(priority; count(*), sum) → project(cast fp64) → sort.
    *
    * scripts/check_substrait.py pins that Acero rejects this plan *only*
    * for its missing `modulus` kernel — the wire bytes parse there.
    */
  private[graft] def aggPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriComparison, "equal:any_any"),
      Fn(2, UriArithmetic, "modulus:i64_i64"),
      Fn(3, UriAggGeneric, "count:"),
      Fn(4, UriArithmetic, "sum:dec"))
    val read = readNamed("orders", Seq(
      "o_custkey" -> typ(I64),
      "o_totalprice" -> typ(FP64),
      "o_orderpriority" -> typ(STR)))
    val cond = fn(1, typ(BOOL),
      fn(2, typ(I64), fieldRef(0), litI64(10)), litI64(3))
    val filtered = filterRel(read, cond)
    // direct [ck, tp, pri, dec(tp)] → emit [pri, dec]
    val projected = project(filtered,
      Seq(cast(fieldRef(1), decimalType(18, 2))), Some(Seq(2, 3)))
    val agged = aggregate(projected,
      groups = Seq(fieldRef(0)),
      measures = Seq(
        measure(3, typ(I64), Nil),
        measure(4, decimalType(38, 2), Seq(fieldRef(1)))))
    // direct [pri, n, s, fp64(s)] → emit [pri, n, fp64(s)]
    val recast = project(agged,
      Seq(cast(fieldRef(2), typ(FP64))), Some(Seq(0, 1, 3)))
    val sorted = sort(recast, Seq(fieldRef(0) -> AscLast))
    plan(sorted, Seq("o_orderpriority", "n", "total"), fns)
  }

  private def aggPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, aggPlanBytes)
  }

  /** read(customer) ⋈ read(orders) on custkey → FilterRel → emit →
    * sort → fetch: the join/fetch arms under the oracle gate.
    *
    * The price predicate is a FilterRel ABOVE the join, not
    * JoinRel.post_join_filter: at least one mainstream consumer (Acero)
    * silently ignores post_join_filter, so a portable producer must not
    * emit it — and keeping the plan Acero-runnable is what lets
    * scripts/check_substrait.py cross-check these exact bytes against an
    * independent consumer. post_join_filter decoding stays covered by
    * SubstraitSpec.
    */
  private[graft] def joinPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriComparison, "equal:any_any"),
      Fn(2, UriComparison, "gt:any_any"))
    val cust = readNamed("customer", Seq(
      "c_custkey" -> typ(I64),
      "c_mktsegment" -> typ(STR)))
    val ords = readNamed("orders", Seq(
      "o_orderkey" -> typ(I64),
      "o_custkey" -> typ(I64),
      "o_totalprice" -> typ(FP64)))
    // combined frame [c_custkey, c_mktsegment, o_orderkey, o_custkey, o_totalprice]
    val joined = join(cust, ords,
      fn(1, typ(BOOL), fieldRef(0), fieldRef(3)), Inner)
    val filtered = filterRel(joined, fn(2, typ(BOOL), fieldRef(4), litF64(100000.0)))
    // passthrough project + emit trimming to [o_orderkey, c_mktsegment, o_totalprice]
    // (the canonical producer pattern: new exprs appended after the 5 input
    // fields, emit selecting only them)
    val trimmed = project(filtered,
      Seq(fieldRef(2), fieldRef(1), fieldRef(4)), Some(Seq(5, 6, 7)))
    val sorted = sort(trimmed, Seq(fieldRef(0) -> AscLast))
    val limited = fetch(sorted, 0, 50)
    plan(limited, Seq("o_orderkey", "c_mktsegment", "price"), fns)
  }

  private def joinPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, joinPlanBytes)
  }

  /** Two filtered reads of orders → SetRel UNION_ALL → sort: the set-op
    * arm (what a DataFusion federation client emits most after the core
    * set). The two price ranges are disjoint so UNION ALL is
    * duplicate-free and the final sort on the unique o_orderkey is
    * deterministic. Acero-runnable end-to-end (check_substrait.py row 3).
    */
  private[graft] def unionPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriComparison, "gt:any_any"),
      Fn(2, UriComparison, "lt:any_any"))
    def ordersRead = readNamed("orders", Seq(
      "o_orderkey" -> typ(I64),
      "o_totalprice" -> typ(FP64)))
    val hi = filterRel(ordersRead, fn(1, typ(BOOL), fieldRef(1), litF64(400000.0)))
    val lo = filterRel(ordersRead, fn(2, typ(BOOL), fieldRef(1), litF64(2000.0)))
    val unioned = set(Seq(hi, lo), UnionAll)
    val sorted = sort(unioned, Seq(fieldRef(0) -> AscLast))
    plan(sorted, Seq("o_orderkey", "price"), fns)
  }

  private def unionPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, unionPlanBytes)
  }

  /** read(orders) → project(+row_number over (partition priority, order
    * price desc)) → filter(rk <= 3) → project+emit → sort: the window-
    * expression arm (the next construct a DataFusion federation client
    * emits after set ops). Acero has no window-function conversion, so the
    * cross-check pins its rejection; result equivalence rides the DuckDB
    * oracle. rk is INT on both sides (Spark's row_number is IntegerType;
    * the twin casts DuckDB's BIGINT).
    */
  private[graft] def windowPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriArithmetic, "row_number:"),
      Fn(2, UriComparison, "lte:any_any"))
    val read = readNamed("orders", Seq(
      "o_orderkey" -> typ(I64),
      "o_totalprice" -> typ(FP64),
      "o_orderpriority" -> typ(STR)))
    // direct [ok, tp, pri, rk]
    val ranked = project(read, Seq(
      cast(windowFn(1, typ(I64),
        partitions = Seq(fieldRef(2)),
        sorts = Seq(fieldRef(1) -> DescLast, fieldRef(0) -> AscLast)), typ(I32))))
    val filtered = filterRel(ranked, fn(2, typ(BOOL), fieldRef(3), litI32(3)))
    // trim to [pri, ok, rk]
    val trimmed = project(filtered,
      Seq(fieldRef(2), fieldRef(0), fieldRef(3)), Some(Seq(4, 5, 6)))
    val sorted = sort(trimmed, Seq(fieldRef(0) -> AscLast, fieldRef(2) -> AscLast))
    plan(sorted, Seq("o_orderpriority", "o_orderkey", "rk"), fns)
  }

  private def windowPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, windowPlanBytes)
  }

  /** read(orders) → project(decimal cast) → AggregateRel with THREE
    * groupings ((status), (priority), ()) in the expression_references +
    * grouping_expressions form DataFusion's producer emits → recast →
    * sort: grouping sets through the wire format. Output contract per
    * the substrait spec: distinct grouping exprs, measures, then the i32
    * grouping-set index.
    */
  private[graft] def groupingSetsPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriAggGeneric, "count:"),
      Fn(2, UriArithmetic, "sum:dec"))
    val read = readNamed("orders", Seq(
      "o_totalprice" -> typ(FP64),
      "o_orderstatus" -> typ(STR),
      "o_orderpriority" -> typ(STR)))
    // direct [tp, st, pri, dec(tp)] → emit [st, pri, dec]
    val projected = project(read,
      Seq(cast(fieldRef(0), decimalType(18, 2))), Some(Seq(1, 2, 3)))
    // output: [st, pri, n, s, gset]
    val agged = aggregateSets(projected,
      groupingExpressions = Seq(fieldRef(0), fieldRef(1)),
      sets = Seq(Seq(0), Seq(1), Seq()),
      measures = Seq(
        measure(1, typ(I64), Nil),
        measure(2, decimalType(38, 2), Seq(fieldRef(2)))))
    // direct [st, pri, n, s, gset, fp64(s)] → emit [st, pri, n, fp64, gset]
    val recast = project(agged,
      Seq(cast(fieldRef(3), typ(FP64))), Some(Seq(0, 1, 2, 5, 4)))
    val sorted = sort(recast, Seq(
      fieldRef(4) -> AscLast, fieldRef(0) -> AscLast, fieldRef(1) -> AscLast))
    plan(sorted, Seq("o_orderstatus", "o_orderpriority", "n", "total", "gset"), fns)
  }

  private def groupingSetsPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, groupingSetsPlanBytes)
  }

  /** read(customer) → FilterRel( c_custkey IN (SELECT o_custkey FROM
    * orders WHERE price > 400k) AND c_acctbal > 0 ) → sort: the subquery
    * IN-predicate arm — graft's consumer lowers the conjunct to a
    * left_semi join and keeps the residual predicate an ordinary filter.
    */
  private[graft] def inSubqueryPlanBytes: Array[Byte] = {
    val fns = Seq(
      Fn(1, UriComparison, "gt:any_any"),
      Fn(2, UriBoolean, "and:bool"))
    val cust = readNamed("customer", Seq(
      "c_custkey" -> typ(I64),
      "c_acctbal" -> typ(FP64)))
    val ords = readNamed("orders", Seq(
      "o_custkey" -> typ(I64),
      "o_totalprice" -> typ(FP64)))
    val haystack = project(
      filterRel(ords, fn(1, typ(BOOL), fieldRef(1), litF64(400000.0))),
      Seq(fieldRef(0)), Some(Seq(2)))
    val cond = fn(2, typ(BOOL),
      inSubquery(Seq(fieldRef(0)), haystack),
      fn(1, typ(BOOL), fieldRef(1), litF64(0.0)))
    val filtered = filterRel(cust, cond)
    val sorted = sort(filtered, Seq(fieldRef(0) -> AscLast))
    plan(sorted, Seq("c_custkey", "c_acctbal"), fns)
  }

  private def inSubqueryPlan(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    SubstraitDecoder.decode(spark, inSubqueryPlanBytes)
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_substrait_exec" -> QuerySpec.df(aggPlan,
      """SELECT o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_custkey % 10 = 3
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    "q_substrait_join" -> QuerySpec.df(joinPlan,
      """SELECT o_orderkey, c_mktsegment, o_totalprice AS price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |WHERE o_totalprice > 100000.0
        |ORDER BY o_orderkey LIMIT 50""".stripMargin),

    "q_substrait_union" -> QuerySpec.df(unionPlan,
      """SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_totalprice > 400000.0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice AS price FROM orders WHERE o_totalprice < 2000.0
        |ORDER BY o_orderkey""".stripMargin),

    "q_substrait_grouping_sets" -> QuerySpec.df(groupingSetsPlan,
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |       CAST(CASE WHEN GROUPING(o_orderstatus) = 0 AND GROUPING(o_orderpriority) = 1 THEN 0
        |                 WHEN GROUPING(o_orderstatus) = 1 AND GROUPING(o_orderpriority) = 0 THEN 1
        |                 ELSE 2 END AS INT) AS gset
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY gset, o_orderstatus NULLS LAST, o_orderpriority NULLS LAST""".stripMargin),

    "q_substrait_in_subquery" -> QuerySpec.df(inSubqueryPlan,
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |  AND c_acctbal > 0.0
        |ORDER BY c_custkey""".stripMargin),

    "q_substrait_window" -> QuerySpec.df(windowPlan,
      """SELECT o_orderpriority, o_orderkey, rk FROM (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |                                 ORDER BY o_totalprice DESC NULLS LAST,
        |                                          o_orderkey ASC NULLS LAST) AS INT) AS rk
        |  FROM orders) z
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin))
}
