package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.types._

import graft.engine.Params
import graft.ipc.ArrowCodec

import QuerySpec.sql

/** Coverage closers for the remaining SURVEY §2 rows: qualified `*`,
  * NATURAL join, post-outer-join COUNT(col) null-skipping, parameter
  * placeholders through the engine's bind path, external-table DDL,
  * INSERT INTO, Arrow IPC as a source, and the UDAF registration hook.
  *
  * Declared gaps kept honest: Avro scan needs the spark-avro connector
  * (absent offline, like substrait-java) — documented, not stubbed.
  */
/** Buffer of [[ExtraQueries]]' geometric-mean aggregator. Top-level and
  * public so Spark's generated projections can construct it; a private
  * nested class compiles only through the interpreted fallback.
  */
final case class GeoMeanBuf(sumLn: Double, n: Long)

object ExtraQueries {

  /** Geometric mean as a typed Aggregator — the UDAF surface of §2.B.11
    * (the reference delegates create_udaf to the embedding application via
    * the session hook, session.rs:9-12).
    */
  private object GeoMean extends Aggregator[Double, GeoMeanBuf, Double] {
    override def zero: GeoMeanBuf = GeoMeanBuf(0.0, 0L)
    override def reduce(b: GeoMeanBuf, x: Double): GeoMeanBuf =
      GeoMeanBuf(b.sumLn + math.log(x), b.n + 1)
    override def merge(a: GeoMeanBuf, b: GeoMeanBuf): GeoMeanBuf =
      GeoMeanBuf(a.sumLn + b.sumLn, a.n + b.n)
    override def finish(r: GeoMeanBuf): Double =
      if (r.n == 0) Double.NaN else math.exp(r.sumLn / r.n)
    override def bufferEncoder: org.apache.spark.sql.Encoder[GeoMeanBuf] =
      org.apache.spark.sql.Encoders.product[GeoMeanBuf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  private def paramsBind(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val paramSchema = StructType(Seq(
      StructField("$1", DoubleType, nullable = false),
      StructField("$2", StringType, nullable = false)))
    val ipc = ArrowCodec.encodeStream(
      s.createDataFrame(java.util.Arrays.asList(Row(350000.0, "F")), paramSchema)).toBytes
    Params.plan(s,
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_totalprice > $1 AND o_orderstatus = $2 ORDER BY o_orderkey""".stripMargin,
      Some(ipc)).df
  }

  private def externalTable(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val loc = s"${graft.Staging.fixtureRoot}/ext_orders.parquet"
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 400000")
      .write.mode("overwrite").parquet(loc)
    s.sql("DROP TABLE IF EXISTS ext_orders")
    s.sql(s"CREATE TABLE ext_orders USING parquet LOCATION '$loc'")
    s.sql(
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM ext_orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }

  private def insertInto(s: SparkSession, d: String): DataFrame = {
    val loc = java.nio.file.Paths.get(graft.Staging.fixtureRoot, "ins_demo")
    s.sql("DROP TABLE IF EXISTS ins_demo")
    deleteRecursively(loc) // external location survives DROP; reset for determinism
    s.sql(s"CREATE TABLE ins_demo (k INT, v STRING) USING parquet LOCATION '$loc'")
    s.sql("INSERT INTO ins_demo VALUES (1, 'a'), (2, 'b')")
    s.sql("INSERT INTO ins_demo SELECT 3, 'c'")
    s.sql("SELECT k, v FROM ins_demo ORDER BY k")
  }

  /** Arrow IPC as a SOURCE: a table round-trips through the IPC codec and
    * is re-registered as a DataFrame (§2.B.1 Arrow IPC scan).
    */
  private def arrowIpcScan(s: SparkSession, d: String): DataFrame = {
    val (schema, rows) = ArrowCodec.read(ArrowCodec.encodeStream(Tables.region(s, d)).toBytes)
    org.apache.spark.sql.graftbridge.SparkArrowBridge.localRelation(s, schema, rows)
      .orderBy("r_regionkey")
  }

  /** Bucketed co-located join: both sides pre-bucketed on the join key, so
    * the join runs WITHOUT a shuffle exchange on either side — the
    * pre-partitioning strategy that keeps a 100 TB fact⋈fact join off the
    * network (asserted in PlanAuditSpec). Bucket files live under
    * target/fixtures via explicit path (no warehouse pollution).
    */
  // Bucketed-table creation is setup, not query: do it only when the
  // bucketed tables don't already hold THIS dir's data, so repeat
  // invocations (and the bench) time the shuffle-free join itself, not two
  // table rewrites. The b_orders/b_orders2 names and their fixture paths
  // are SHARED across sessions (sessions share the catalog's SharedState),
  // so the guard is a single JVM-global dir — per-session guards would let
  // one session's rebuild silently invalidate another's.
  private val bucketedFor = new java.util.concurrent.atomic.AtomicReference[String]()

  /** Create the bucketed fixture tables for dir if they don't already hold
    * this dir's data. Setup, not query — Bench calls this in its untimed
    * phase so the timed region measures the shuffle-free join itself.
    */
  def ensureBucketed(s: SparkSession, d: String): Unit = {
    Tables.registerAll(s, d)
    bucketedFor.synchronized {
      if (bucketedFor.get != d || !s.catalog.tableExists("b_orders")) {
        def ensure(name: String, sql: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $name")
          s.sql(sql).write
            .bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", s"${graft.Staging.fixtureRoot}/bucketed_$name")
            .mode("overwrite")
            .saveAsTable(name)
          // the relation/file-listing caches are shared across sessions;
          // without this, a session that read the PREVIOUS incarnation
          // fails with FILE_NOT_EXIST on the rewritten path
          s.catalog.refreshTable(name)
        }
        ensure("b_orders", "SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
        ensure("b_orders2", "SELECT o_orderkey AS o2_orderkey, o_custkey, o_totalprice AS o2_totalprice FROM orders")
        bucketedFor.set(d)
      }
    }
  }

  private def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    ensureBucketed(s, d)
    s.sql(
      """SELECT a.o_custkey, COUNT(*) AS n_pairs
        |FROM b_orders a JOIN b_orders2 b
        |ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o2_orderkey
        |GROUP BY a.o_custkey ORDER BY a.o_custkey""".stripMargin)
  }

  private def udafGeoMean(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.udf.register("geo_mean", udaf(GeoMean))
    s.sql(
      """SELECT o_orderstatus, ROUND(geo_mean(o_totalprice), 2) AS gm, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_select_star_qualified" -> sql(
      """SELECT u.* FROM (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 301 = 0) u
        |ORDER BY o_orderkey""".stripMargin),

    "q_join_natural" -> sql(
      """WITH n AS (SELECT n_nationkey AS nationkey, n_name FROM nation),
        |     c AS (SELECT c_nationkey AS nationkey, c_custkey FROM customer)
        |SELECT nationkey, n_name, c_custkey FROM n NATURAL JOIN c
        |WHERE c_custkey % 7 = 0
        |ORDER BY nationkey, c_custkey""".stripMargin),

    "q_agg_count_col" -> sql(
      """SELECT c_custkey, COUNT(o.o_orderkey) AS n_orders, COUNT(*) AS n_rows
        |FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
        |ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    "q_params_bind" -> QuerySpec.df(paramsBind,
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_totalprice > 350000.0 AND o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin),

    "q_src_external_table" -> QuerySpec.df(externalTable,
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders WHERE o_totalprice > 400000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    "q_src_insert" -> QuerySpec.df(insertInto,
      """SELECT k, v FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(k, v) ORDER BY k""".stripMargin),

    "q_src_arrow_ipc" -> QuerySpec.df(arrowIpcScan,
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    "q_src_bucketed_join" -> QuerySpec.df(bucketedJoin,
      """SELECT a.o_custkey, COUNT(*) AS n_pairs
        |FROM orders a JOIN orders b
        |ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |GROUP BY a.o_custkey ORDER BY a.o_custkey""".stripMargin),

    "q_udaf_geomean" -> QuerySpec.df(udafGeoMean,
      """SELECT o_orderstatus, ROUND(EXP(AVG(LN(o_totalprice))), 2) AS gm, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // UDTF hook (SURVEY §2.B.11's third leg): a native Catalyst Generator
    // (graftbridge.WordNgrams) exploding word bigrams with positions via
    // LATERAL VIEW — generators run inside GenerateExec, so the fan-out
    // never leaves the executor (no per-row driver work, unlike an
    // iterator UDF). Oracle: 1-based generate_series slicing in DuckDB.
    "q_udtf_ngrams" -> QuerySpec.sql2(
      """SELECT doc_id, pos, ng
        |FROM documents LATERAL VIEW graft_ngrams(text, 2) t AS pos, ng
        |WHERE doc_id % 10 = 0
        |ORDER BY doc_id, pos""".stripMargin,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE doc_id % 10 = 0)
        |SELECT doc_id, CAST(i.g AS INT) AS pos, ws[i.g] || ' ' || ws[i.g + 1] AS ng
        |FROM d, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS g) i
        |ORDER BY doc_id, pos""".stripMargin)
  )
}
