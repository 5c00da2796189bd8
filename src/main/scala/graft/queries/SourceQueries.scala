package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import QuerySpec.df

/** Source/sink surface (SURVEY.md §2.B.1): CSV scan with header + type
  * inference (mirrors the reference's `register_csv` of examples/test.csv,
  * datafusion-flight-sql-server/examples/flight-sql.rs:25-27), NDJSON scan,
  * CREATE VIEW DDL, and a write→read-back sink round-trip (the reference's
  * INSERT/COPY surface arrives via the prepared-update DDL path,
  * service.rs:864-875).
  *
  * Fixture files are materialized under `Staging.fixtureRoot` (the oracle
  * can't see them, so oracles are inline VALUES / base-table equivalents).
  */
object SourceQueries {

  private val fixtureDir = graft.Staging.fixtureRoot

  private def ensureFile(name: String, content: String): String = synchronized {
    val p = Paths.get(fixtureDir, name)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    p.toString
  }

  /** Same shape as the reference's examples/test.csv (header + inferred
    * string/int columns).
    */
  private def csvScan(s: SparkSession, d: String): DataFrame = {
    val path = ensureFile("test.csv", "foo,bar\na,1\nb,2\nc,3\n")
    s.read.option("header", "true").option("inferSchema", "true").csv(path)
      .orderBy("foo")
  }

  private def jsonScan(s: SparkSession, d: String): DataFrame = {
    val path = ensureFile("test.ndjson",
      """{"k": "a", "v": 1}
        |{"k": "b", "v": 2}
        |{"k": "c", "v": 3}
        |""".stripMargin)
    s.read.json(path).select("k", "v").orderBy("k")
  }

  /** Sink round-trip: write a filtered projection to parquet (the COPY ...
    * TO equivalent), read it back, aggregate. Distributed write — no
    * coalesce(1), partitions land as separate files.
    */
  /** Avro scan (§2.B.1, reference Cargo.toml `avro` feature): Spark 4.1
    * bundles AvroFileFormat inside spark-sql (no separate spark-avro jar),
    * but without a DataSourceRegister entry — so the format is addressed
    * by class name. Round-trip: write a filtered projection as Avro, scan
    * it back, aggregate.
    */
  private val avroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private def avroRoundtrip(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/avro_out"
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 350000")
      .write.mode("overwrite").format(avroFormat).save(out)
    s.read.format(avroFormat).load(out).createOrReplaceTempView("avro_back")
    s.sql(
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM avro_back GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** ORC scan: columnar-format breadth beyond parquet/avro (ORC ships
    * registered in Spark's DataSourceRegister).
    */
  private def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/orc_out"
    s.sql("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity >= 45")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).createOrReplaceTempView("orc_back")
    s.sql(
      """SELECT l_orderkey, l_linenumber, ROUND(l_quantity, 2) AS qty FROM orc_back
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  }

  /** XML scan: Spark 4 bundles the (former spark-xml) XML source,
    * registered as `xml`. Round-trip nation through row-tagged XML; the
    * reader's schema inference widens ints to BIGINT, so the readback
    * projection casts back to INT for a type-stable oracle compare.
    */
  private def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/xml_out"
    s.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation")
      .write.mode("overwrite").option("rowTag", "nation").format("xml").save(out)
    s.read.option("rowTag", "nation").format("xml").load(out)
      .createOrReplaceTempView("xml_back")
    s.sql(
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
        |CAST(n_regionkey AS INT) AS n_regionkey
        |FROM xml_back ORDER BY n_nationkey""".stripMargin)
  }

  /** Hive-style partitioned layout + partition pruning: write orders
    * partitioned by status, read back with a partition predicate — the
    * scan must prune to one directory (PartitionFilters, pinned in
    * PlanAuditSpec). At 100 TB, partition layout is the first-line data
    *-skipping mechanism ahead of row-group stats.
    */
  private def partitionedWrite(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/part_orders"
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    s.read.parquet(out).createOrReplaceTempView("part_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey FROM part_orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin)
  }

  /** Schema evolution across ingest batches: two parquet batches with
    * drifting columns (an early batch without `o_totalprice`, a later one
    * with it) read back under `mergeSchema` — missing columns surface as
    * NULLs, the 100 TB ingest reality where producers add fields over
    * time. The oracle replays the same drift with an explicit NULL-padded
    * UNION ALL.
    */
  private def schemaMerge(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/evolving_orders"
    s.sql("SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0")
      .write.mode("overwrite").parquet(s"$out/batch=1")
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 1")
      .write.mode("overwrite").parquet(s"$out/batch=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .createOrReplaceTempView("evolving")
    s.sql(
      """SELECT o_orderkey, o_custkey,
        |CAST(o_totalprice AS DOUBLE) AS o_totalprice, CAST(batch AS INT) AS batch
        |FROM evolving ORDER BY o_orderkey""".stripMargin)
  }

  /** binaryFile source — the multimodal ingest path: raw media files land
    * as (path, length, content: binary) rows, no decode at scan time. The
    * fixture stages one file per nation row with deterministic bytes
    * (content differs per sfDir only if nation does; the dir is keyed by
    * the content hash so distinct corpora never share staging). Staging
    * collects the 25-row DIMENSION table driver-side — fixture setup, not
    * a query hot path. The oracle reproduces name/length/md5 closed-form
    * from the same construction, so a scan that drops or truncates a file
    * diverges.
    */
  private def binaryFileScan(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val rows = s.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")
      .collect().map(r => (String.valueOf(r.get(0)), r.getString(1), String.valueOf(r.get(2))))
    val key = java.lang.Integer.toHexString(
      java.util.Arrays.hashCode(rows.map(_.toString.hashCode): Array[Int]))
    val dir = Paths.get(fixtureDir, s"binsrc_$key")
    synchronized {
      if (!Files.exists(dir)) {
        Files.createDirectories(dir)
        rows.foreach { case (k, name, rk) =>
          Files.write(dir.resolve(s"nation_$k.bin"), s"$name|$rk".getBytes("UTF-8"))
        }
      }
    }
    s.read.format("binaryFile").load(dir.toString)
      .selectExpr(
        "element_at(split(path, '/'), -1) AS fname",
        "length AS n_bytes",
        "md5(content) AS content_md5")
      .orderBy("fname")
  }

  private def copyRoundtrip(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    val out = s"$fixtureDir/copy_out.parquet"
    s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 300000")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out).createOrReplaceTempView("copy_back")
    s.sql(
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM copy_back GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_src_csv" -> df(csvScan,
      """SELECT foo, bar FROM (VALUES ('a', 1), ('b', 2), ('c', 3)) t(foo, bar)
        |ORDER BY foo""".stripMargin),

    "q_src_json" -> df(jsonScan,
      """SELECT k, CAST(v AS BIGINT) AS v
        |FROM (VALUES ('a', 1), ('b', 2), ('c', 3)) t(k, v) ORDER BY k""".stripMargin),

    "q_src_view_ddl" -> QuerySpec(
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW top_orders AS
            |SELECT * FROM orders WHERE o_totalprice > 400000""".stripMargin)
        s.sql("SELECT o_orderkey, o_custkey FROM top_orders ORDER BY o_orderkey")
      },
      Some(
        """SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000
          |ORDER BY o_orderkey""".stripMargin)),

    "q_src_avro_roundtrip" -> df(avroRoundtrip,
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders WHERE o_totalprice > 350000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    "q_src_orc_roundtrip" -> df(orcRoundtrip,
      """SELECT l_orderkey, l_linenumber, ROUND(l_quantity, 2) AS qty FROM lineitem
        |WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber""".stripMargin),

    "q_src_schema_merge" -> df(schemaMerge,
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice, 1 AS batch
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 2 AS batch
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin),

    "q_src_xml_roundtrip" -> df(xmlRoundtrip,
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin),

    "q_src_partitioned_write" -> df(partitionedWrite,
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_orderstatus = 'F' ORDER BY o_orderkey""".stripMargin),

    "q_src_binary_file" -> df(binaryFileScan,
      """SELECT 'nation_' || n_nationkey || '.bin' AS fname,
        |CAST(octet_length(encode(n_name || '|' || n_regionkey)) AS BIGINT) AS n_bytes,
        |md5(n_name || '|' || n_regionkey) AS content_md5
        |FROM nation ORDER BY fname""".stripMargin),

    "q_src_copy_roundtrip" -> df(copyRoundtrip,
      """SELECT o_custkey, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |FROM orders WHERE o_totalprice > 300000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  )
}
