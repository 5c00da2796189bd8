package graft.queries

import org.apache.spark.sql.functions.col

import QuerySpec.{df, sql, sql2}

/** Aggregation long tail (SURVEY.md §2.B.4): GROUPING SETS / ROLLUP / CUBE,
  * approximate aggregates, array_agg/string_agg, bool/bit aggregates,
  * first/last (as deterministic min_by/max_by), median/percentile.
  *
  * Approx aggregates can't hash-match an exact oracle, so they are written
  * as self-verifying queries: Spark computes BOTH the approximate and the
  * exact value and emits a within-tolerance flag; the oracle emits the exact
  * value and a constant 1. A failing sketch flips the flag → hash mismatch.
  *
  * Scale notes: all grouping flows are partial→final hash aggregates
  * (map-side combine) on naturally high-cardinality keys; collect_list is
  * only applied to bounded per-key groups (orders per customer).
  */
object AggQueries {

  val specs: Map[String, QuerySpec] = Map(
    "q_agg_grouping_sets" -> sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin),

    "q_agg_rollup" -> sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |COUNT(*) AS n, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    "q_agg_cube" -> sql(
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |CAST(grouping(l_returnflag) AS INT) AS g_rf, CAST(grouping(l_linestatus) AS INT) AS g_ls,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, rf, ls""".stripMargin),

    // Winsorization (outlier clamping at exact p01/p99) — the numeric
    // data-cleaning pass ahead of feature aggregation. Quantiles are exact
    // and engine-identical: rank thresholds are pure integer arithmetic
    // (ceil(p*n) as (p*n + 99) DIV 100 — no float percentile) and money
    // stays in lossless DECIMAL(18,2) until the final DOUBLE cast (the
    // clamp is a CASE, not LEAST/GREATEST: DuckDB's LEAST promotes DECIMAL
    // args to DOUBLE). The Spark side is the DISTRIBUTED exact quantile
    // (ExactQuantile: histogram routing + boundary-bucket refinement) —
    // l_extendedprice is nearly unique, so a per-group running-count
    // window would sort each group's whole frequency table in ONE task;
    // with 3 groups that is 3 straggler tasks at 100 TB. The oracle keeps
    // the sequential-window form: an independent formulation of the same
    // discrete quantile.
    "q_agg_winsorize" -> df(
      (s, d) => ExactQuantile.winsorizedSums(
        Tables.lineitem(s, d).select(
          col("l_returnflag").as("g"),
          col("l_extendedprice").cast("decimal(18,2)").as("x"))),
      """WITH f AS (SELECT l_returnflag AS g, CAST(l_extendedprice AS DECIMAL(18,2)) AS x, COUNT(*) AS c
        |           FROM lineitem GROUP BY l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2))),
        |r AS (SELECT g, x, c,
        |        CAST(SUM(c) OVER (PARTITION BY g ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |        CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS ntot FROM f),
        |s AS (SELECT g, x, c,
        |        MIN(CASE WHEN cum >= (ntot + 99) // 100 THEN x END) OVER (PARTITION BY g) AS lo,
        |        MIN(CASE WHEN cum >= (99 * ntot + 99) // 100 THEN x END) OVER (PARTITION BY g) AS hi
        |      FROM r)
        |SELECT g, CAST(SUM(c) AS BIGINT) AS n_rows,
        |       CAST(lo AS DOUBLE) AS p01, CAST(hi AS DOUBLE) AS p99,
        |       CAST(SUM((CASE WHEN x < lo THEN lo WHEN x > hi THEN hi ELSE x END) * c) AS DOUBLE) AS wsum
        |FROM s GROUP BY g, lo, hi
        |ORDER BY g""".stripMargin),

    // Self-verifying approximate aggregates: HLL++ distinct count and
    // quantile sketch within 5% of exact, asserted inside the query.
    // Plan shape is deliberate for scale: mixing COUNT(DISTINCT) with other
    // aggregates in one SELECT triggers an Expand (duplicates every input
    // row), and exact percentile() funnels all rows into one ObjectHashAgg
    // buffer per group (3 groups = 3 hot reducers). Instead: (a) sketches in
    // one codegen'd hash-agg pass; (b) exact distinct as its own two-phase
    // aggregate (no Expand); (c) exact median over a value-compressed
    // (flag, qty, count) frequency table via percentile's frequency arg —
    // the buffers hold |distinct qty| entries, not |rows|; then join the
    // per-flag results (tiny).
    "q_agg_approx" -> sql2(
      """WITH sk AS (SELECT l_returnflag, approx_count_distinct(l_partkey) AS hll_nd,
        |                   percentile_approx(l_quantity, 0.5, 100) AS approx_med
        |            FROM lineitem GROUP BY l_returnflag),
        |nd AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_nd
        |       FROM lineitem GROUP BY l_returnflag),
        |fq AS (SELECT l_returnflag, l_quantity, COUNT(*) AS c
        |       FROM lineitem GROUP BY l_returnflag, l_quantity),
        |md AS (SELECT l_returnflag, percentile(l_quantity, 0.5, c) AS exact_med
        |       FROM fq GROUP BY l_returnflag)
        |SELECT nd.l_returnflag, nd.exact_nd,
        |CASE WHEN abs(sk.hll_nd - nd.exact_nd) <= 0.05 * nd.exact_nd THEN 1 ELSE 0 END AS hll_ok,
        |CASE WHEN abs(sk.approx_med - md.exact_med) <= 1.0 THEN 1 ELSE 0 END AS pct_ok
        |FROM nd JOIN sk ON nd.l_returnflag = sk.l_returnflag
        |        JOIN md ON nd.l_returnflag = md.l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_nd,
        |1 AS hll_ok, 1 AS pct_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // SQL-standard ordered-set aggregates: PERCENTILE_CONT / PERCENTILE_DISC
    // WITHIN GROUP (ORDER BY ...) — one shared text; inputs quantize to
    // integer cents first so both engines interpolate over the identical
    // integer-valued doubles (a + f·(b − a) is then the same IEEE op), and
    // the display ROUNDs to 4 places.
    "q_agg_percentile_within" -> sql(
      """SELECT o_orderpriority,
        |  ROUND(percentile_cont(0.25) WITHIN GROUP (
        |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)), 4) AS p25,
        |  ROUND(percentile_cont(0.9) WITHIN GROUP (
        |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)), 4) AS p90,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (
        |    ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS p50_disc
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Pearson correlation via EXACT integer raw moments (the
    // q_embed_covariance discipline applied to the SQL aggregate surface):
    // native corr() accumulates floats in engine-specific single-pass
    // formulas whose last-ulp drift can flip a ROUND, so the parity row
    // folds integer Σx/Σy/Σxy/Σx²/Σy² — every SUM stays below 2^53 at
    // these SFs (whole-dollar prices, not cents, keep Σy² small; a 100 TB
    // run widens the moments to DECIMAL), each operand casts to double
    // INDIVIDUALLY before the n·sxy − sx·sy style products (the raw
    // integer products would overflow BIGINT where DuckDB's HUGEINT
    // would not — a silent cross-engine divergence), and the one
    // multiply/sqrt/divide chain runs on identical doubles at the edge.
    "q_agg_corr_exact" -> sql(
      """WITH v AS (SELECT l_returnflag,
        |                 CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
        |                 CAST(FLOOR(l_extendedprice + 0.5) AS BIGINT) AS y
        |          FROM lineitem),
        |m AS (SELECT l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
        |             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |             CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |             CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy
        |      FROM v GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |       CAST(FLOOR((n * sxy - sx * sy)
        |                  / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
        |                  * 1000000 + 0.5) AS BIGINT) AS corr_micro
        |FROM m ORDER BY l_returnflag""".stripMargin),

    "q_agg_median" -> sql2(
      """SELECT l_returnflag, ROUND(median(l_quantity), 4) AS med_qty,
        |ROUND(percentile(l_quantity, 0.25), 4) AS q25,
        |ROUND(percentile(l_quantity, 0.9), 4) AS q90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      """SELECT l_returnflag, ROUND(median(l_quantity), 4) AS med_qty,
        |ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25,
        |ROUND(quantile_cont(l_quantity, 0.9), 4) AS q90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // array_agg: arrays rendered to strings so both engines serialize
    // identically through the parquet/pandas compare.
    "q_agg_collect" -> sql2(
      """SELECT o_custkey,
        |array_join(transform(sort_array(collect_list(o_orderkey)), x -> CAST(x AS STRING)), ',') AS order_keys,
        |concat_ws(',', sort_array(collect_set(o_orderstatus))) AS statuses
        |FROM orders WHERE o_custkey % 100 = 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
      """SELECT o_custkey,
        |array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
        |FROM orders WHERE o_custkey % 100 = 0
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    "q_agg_string_agg" -> sql2(
      """SELECT c_nationkey, concat_ws('|', sort_array(collect_list(c_mktsegment))) AS segs
        |FROM customer WHERE c_custkey % 200 = 0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
      """SELECT c_nationkey, string_agg(c_mktsegment, '|' ORDER BY c_mktsegment) AS segs
        |FROM customer WHERE c_custkey % 200 = 0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    "q_agg_bool_bit" -> sql(
      """SELECT o_orderstatus,
        |bool_and(o_totalprice > 1000) AS all_big,
        |bool_or(o_totalprice > 400000) AS any_huge,
        |bit_and(o_custkey) AS b_and, bit_or(o_custkey) AS b_or, bit_xor(o_custkey) AS b_xor
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // first/last-style aggregates, made deterministic: min_by/max_by keyed by
    // the unique o_orderkey ("value of the first/last order").
    "q_agg_arg_minmax" -> sql2(
      """SELECT o_orderstatus,
        |min_by(o_orderdate, o_orderkey) AS first_date,
        |max_by(o_orderdate, o_orderkey) AS last_date,
        |ROUND(min_by(o_totalprice, o_orderkey), 2) AS first_price,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      """SELECT o_orderstatus,
        |arg_min(o_orderdate, o_orderkey) AS first_date,
        |arg_max(o_orderdate, o_orderkey) AS last_date,
        |ROUND(arg_min(o_totalprice, o_orderkey), 2) AS first_price,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "q_agg_sum_distinct" -> sql(
      """SELECT l_returnflag,
        |CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sd_qty,
        |COUNT(DISTINCT l_suppkey) AS nd_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Scale-safe formulation of the q_join_theta BNLJ pattern: band the
    // continuous join key into buckets, equi-join on bucket pairs, filter the
    // residual — a hash join with bounded fan-out instead of O(n²) BNLJ.
    "q_join_theta_banded" -> sql(
      """WITH s AS (SELECT s_suppkey, s_acctbal,
        |                  CAST(FLOOR(s_acctbal / 1000.0) AS INT) AS band
        |           FROM supplier),
        |bands AS (SELECT DISTINCT band FROM s),
        |pairs AS (SELECT b1.band AS band1, b2.band AS band2
        |          FROM bands b1 JOIN bands b2 ON b1.band >= b2.band)
        |SELECT s1.s_suppkey AS k1, s2.s_suppkey AS k2
        |FROM pairs
        |JOIN s s1 ON s1.band = pairs.band1
        |JOIN s s2 ON s2.band = pairs.band2
        |WHERE s1.s_suppkey < s2.s_suppkey AND s1.s_acctbal > s2.s_acctbal
        |ORDER BY k1, k2""".stripMargin)
  )
}
