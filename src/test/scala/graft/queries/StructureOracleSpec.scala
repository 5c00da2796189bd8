package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Sessions, SparkEntry, TestSpark}

/** Content pins for the engine-specific metadata queries the driver can
  * only rows-check (`no_oracle` rows in CORRECTNESS): q_show and
  * q_describe get exact normalized-relation assertions here (round-10
  * verdict #8), so "returns rows" is backed by "returns THE rows". The
  * typed geometric-mean aggregator behind q_udaf_geomean is pinned to its
  * SQL formulation with the codegen factory at CODEGEN_ONLY, where a
  * projection Spark cannot compile throws instead of falling back to the
  * interpreter.
  */
class StructureOracleSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_show: exactly the ten fixture temp views, all temporary, no namespace") {
    // fresh session: the shared one accumulates staged views (g_edges,
    // ann_sig, …) from other suites. The GLOBAL catalog is still shared —
    // suites that saveAsTable permanent fixtures (ensureBucketed's
    // b_orders/b_orders2) leak into every session's SHOW TABLES — so the
    // exact-set pin covers the TEMPORARY rows (the fixture registry);
    // permanent rows are only required to live outside the "" namespace.
    val spark = TestSpark.spark.newSession()
    val rows = SparkEntry.queries("q_show")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    val (temp, perm) = rows.partition(_._3)
    val expected = Tables.names.map(n => ("", n, true)).toSet
    assert(temp.toSet == expected,
      s"SHOW TABLES must list exactly the fixture registry; got ${temp.toSet}")
    assert(temp.length == Tables.names.length, "no duplicate rows")
    // Permanent rows: subset of the registered permanent-fixture
    // allowlist (r11 advice: namespace-only let ANY leaked permanent
    // table pass unnoticed). ensureBucketed's saveAsTable fixtures are
    // today's only legitimate entries; a suite leaking another permanent
    // table into the shared global catalog must fail here.
    val permAllowed = Set("b_orders", "b_orders2")
    assert(perm.forall(p => p._1.nonEmpty && permAllowed.contains(p._2)),
      s"permanent tables must be registered bucketed fixtures; got ${perm.toSet}")
  }

  test("q_describe: the orders relation schema, column for column") {
    val spark = TestSpark.spark.newSession()
    val rows = SparkEntry.queries("q_describe")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // normalized expectation: DESCRIBE returns (col_name, data_type) in
    // declaration order; the comment column is NULL/empty for parquet
    // fixtures. Types pinned literally — FixtureSchemaCanarySpec guards
    // the loader, this guards what DESCRIBE exposes of it.
    val expected = Seq(
      "o_orderkey" -> "bigint",
      "o_custkey" -> "bigint",
      "o_orderstatus" -> "string",
      "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp_ntz", // parquet timestamp[us] reads NTZ (FixtureSchemaCanarySpec contract)
      "o_orderpriority" -> "string")
    assert(rows.map(r => (r._1, r._2)).toSeq == expected,
      s"DESCRIBE orders mismatch: ${rows.toSeq}")
  }

  test("q_udaf_geomean returns its rows with the interpreted fallback disabled") {
    val spark = TestSpark.spark.newSession() // its own views: the fixture replaces orders
    val spec = ExtraQueries.specs("q_udaf_geomean")
    val rows = Sessions.withConf(spark, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      spec.run(spark, sf).collect().toSeq
    }
    assert(rows.nonEmpty)
    assert(rows == spark.sql(spec.oracle.get).collect().toSeq)
  }
}
