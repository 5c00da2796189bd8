package graft.queries

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixture-schema canary (round-6 lesson): the driver regenerates
  * `/root/testdata` between rounds, and a silent schema drift (events.ts
  * went TIMESTAMP(NANOS) -> TIMESTAMP_MICROS at r6) previously failed 185
  * queries with 185 identical stacks and no root-cause line. This suite
  * asserts the dtype contract of every fixture table in ONE clearly-named
  * assertion each, so the next drift produces exactly one readable failure.
  */
class FixtureSchemaCanarySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private lazy val s = TestSpark.spark

  /** The contract each loader-exposed frame must satisfy. Timestamp columns
    * accept TIMESTAMP or TIMESTAMP_NTZ (the fixture has shipped with
    * isAdjustedToUTC both ways across regens; all queries compare against
    * literals under a UTC session so either works).
    */
  private def ts(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  private val contract: Map[String, Map[String, DataType => Boolean]] = Map(
    "region" -> Map("r_regionkey" -> (_ == IntegerType), "r_name" -> (_ == StringType)),
    "nation" -> Map("n_nationkey" -> (_ == IntegerType), "n_name" -> (_ == StringType),
      "n_regionkey" -> (_ == IntegerType)),
    "customer" -> Map("c_custkey" -> (_ == LongType), "c_name" -> (_ == StringType),
      "c_nationkey" -> (_ == IntegerType), "c_acctbal" -> (_ == DoubleType),
      "c_mktsegment" -> (_ == StringType)),
    "supplier" -> Map("s_suppkey" -> (_ == LongType), "s_name" -> (_ == StringType),
      "s_nationkey" -> (_ == IntegerType), "s_acctbal" -> (_ == DoubleType)),
    "part" -> Map("p_partkey" -> (_ == LongType), "p_name" -> (_ == StringType),
      "p_brand" -> (_ == StringType), "p_type" -> (_ == StringType),
      "p_size" -> (_ == IntegerType), "p_retailprice" -> (_ == DoubleType)),
    "orders" -> Map("o_orderkey" -> (_ == LongType), "o_custkey" -> (_ == LongType),
      "o_orderstatus" -> (_ == StringType), "o_totalprice" -> (_ == DoubleType),
      "o_orderdate" -> ts _, "o_orderpriority" -> (_ == StringType)),
    "lineitem" -> Map("l_orderkey" -> (_ == LongType), "l_partkey" -> (_ == LongType),
      "l_suppkey" -> (_ == LongType), "l_linenumber" -> (_ == IntegerType),
      "l_quantity" -> (_ == DoubleType), "l_extendedprice" -> (_ == DoubleType),
      "l_discount" -> (_ == DoubleType), "l_tax" -> (_ == DoubleType),
      "l_returnflag" -> (_ == StringType), "l_linestatus" -> (_ == StringType),
      "l_shipdate" -> ts _),
    // events is contract-normalized BY the loader: whatever the parquet
    // encoding (nanos-long or micros), Tables.events must expose ts as a
    // timestamp type. The loader itself throws a one-line diagnosis on an
    // unknown encoding (Tables.eventsRaw).
    "events" -> Map("event_id" -> (_ == LongType), "ts" -> ts _,
      "user_id" -> (_ == LongType), "event_type" -> (_ == StringType),
      "value" -> (_ == DoubleType), "props" -> (_ == StringType)),
    "documents" -> Map("doc_id" -> (_ == LongType), "text" -> (_ == StringType),
      "lang" -> (_ == StringType), "source" -> (_ == StringType),
      "n_chars" -> (_ == LongType)),
    "embeddings" -> Map("vec_id" -> (_ == LongType),
      "embedding" -> (dt => dt == ArrayType(FloatType) || dt == ArrayType(FloatType, containsNull = true)),
      "label" -> (_ == IntegerType))
  )

  for (name <- Tables.names) {
    test(s"fixture canary: $name matches its dtype contract") {
      val df = Tables.table(s, dir, name)
      val want = contract(name)
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = want.keySet.diff(got.keySet)
      assert(missing.isEmpty,
        s"FIXTURE DRIFT: $dir/$name.parquet lost column(s) ${missing.mkString(", ")} " +
          s"(have: ${got.keys.toSeq.sorted.mkString(", ")}) — update Tables/queries")
      val bad = want.collect { case (c, ok) if !ok(got(c)) => s"$c is ${got(c)}" }
      assert(bad.isEmpty,
        s"FIXTURE DRIFT: $dir/$name.parquet dtype changed: ${bad.mkString("; ")} — " +
          "the driver regenerated the fixture with a new schema; update " +
          "Tables (loader normalization) and any affected queries")
      assert(df.count() > 0, s"FIXTURE DRIFT: $dir/$name.parquet is empty")
    }
  }

  test("events loader accepts the legacy long-encoded ts fixture") {
    // Simulate the pre-r6 encoding: Spark reads parquet TIMESTAMP(NANOS)
    // as raw Long under nanosAsLong, which to the reader is the same shape
    // as a plain INT64 ts column — write one and assert the LongType branch
    // of Tables.eventsRaw still converts nanos -> micros TIMESTAMP_NTZ.
    val tmp = java.nio.file.Files.createTempDirectory("events_legacy_").toString
    s.sql(
      """SELECT CAST(1 AS BIGINT) AS event_id,
        |       CAST(1704067200000000000 AS BIGINT) AS ts,
        |       CAST(7 AS BIGINT) AS user_id, 'click' AS event_type,
        |       CAST(1.5 AS DOUBLE) AS value, '{}' AS props""".stripMargin)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val ev = Tables.events(s, tmp)
    assert(ev.schema("ts").dataType == TimestampNTZType)
    val got = ev.selectExpr("CAST(ts AS STRING)").head().getString(0)
    assert(got == "2024-01-01 00:00:00", s"nanos->micros conversion drifted: $got")
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("events loader leaves nanosAsLong unset for a µs fixture") {
    val fresh = s.newSession()
    assert(Tables.events(fresh, dir).schema("ts").dataType == TimestampNTZType)
    assert(!fresh.conf.getAll.contains(nanosAsLong),
      s"loading µs events set $nanosAsLong on the session")
  }

  test("events loader reads a TIMESTAMP(NANOS) fixture as µs TIMESTAMP_NTZ") {
    // Spark 4 refuses TIMESTAMP(NANOS) unless nanosAsLong is set: the
    // loader's fallback sets it and truncates the raw nanos to µs.
    val tmp = java.nio.file.Files.createTempDirectory("events_nanos_").toString
    val script =
      """import sys, pyarrow as pa, pyarrow.parquet as pq
        |t = pa.table({
        |    "event_id": pa.array([1], pa.int64()),
        |    "ts": pa.array([1704067200123456789], pa.timestamp("ns")),
        |    "user_id": pa.array([7], pa.int64()),
        |    "event_type": ["click"], "value": [1.5], "props": ["{}"]})
        |pq.write_table(t, sys.argv[1], version="2.6")
        |assert "timeUnit=nanoseconds" in str(pq.ParquetFile(sys.argv[1]).schema)
        |""".stripMargin
    val rc = new ProcessBuilder("python3", "-c", script, s"$tmp/events.parquet")
      .inheritIO().start().waitFor()
    assert(rc == 0, "python3 + pyarrow failed to write the nanos fixture")
    val fresh = s.newSession()
    val ev = Tables.events(fresh, tmp)
    assert(ev.schema("ts").dataType == TimestampNTZType)
    val got = ev.selectExpr("CAST(ts AS STRING)").head().getString(0)
    assert(got == "2024-01-01 00:00:00.123456", s"nanos->micros conversion drifted: $got")
  }

  test("registerAll isolates a broken table instead of failing all ten") {
    val tmp = java.nio.file.Files.createTempDirectory("broken_fix_").toString
    // valid copies of nine tables (symlinks to the real fixture)...
    for (n <- Tables.names if n != "events")
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$tmp/$n.parquet"),
        java.nio.file.Paths.get(s"$dir/$n.parquet"))
    // ...and an events whose ts dtype the loader must reject
    s.sql("SELECT CAST(1 AS BIGINT) AS event_id, 'not-a-time' AS ts, " +
        "CAST(1 AS BIGINT) AS user_id, 'x' AS event_type, " +
        "CAST(0.0 AS DOUBLE) AS value, '{}' AS props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val iso = s.newSession()
    Tables.registerAll(iso, tmp) // must NOT throw
    // the nine healthy tables are queryable...
    assert(iso.sql("SELECT count(*) AS c FROM documents").head().getLong(0) > 0)
    assert(iso.sql("SELECT count(*) AS c FROM lineitem").head().getLong(0) > 0)
    // ...and only events fails, individually, at analysis
    intercept[Exception] { iso.sql("SELECT count(*) FROM events").collect() }
  }
}
