package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic TPC-H-ish tables plus the events / documents / embeddings
  * side tables, in the schemas `graft.queries.Tables` reads. Every value is
  * a hash of (row id, column salt), so a scale factor always yields the
  * same bytes; the workload seed only drives the request stream, never the
  * data. Row counts follow TPC-H ratios: lineitem = 6M x sf (four lines per
  * order, in order-key order), orders = 1.5M x sf, and so on.
  */
object DataGen {
  val version = "v2"

  def existing(root: Path, sf: Double): Option[String] =
    Some(root.resolve(s"$version-sf$sf")).filter(Files.isDirectory(_)).map(_.toString)

  /** Row groups of 512 KB: tables stored in key order (orders, customer,
    * lineitem by l_orderkey, as TPC-H generates them) let a key lookup or
    * range read the row groups holding its keys, and a full scan splits
    * across tasks.
    */
  private val rowGroupBytes = 512 * 1024

  /** Generate `sf` under `root` once; returns the table directory. */
  def ensure(spark: SparkSession, root: Path, sf: Double): String = {
    val dir = root.resolve(s"$version-sf$sf")
    if (!Files.isDirectory(dir)) {
      val tmp = root.resolve(s".tmp-$version-sf$sf-${ProcessHandle.current().pid()}")
      tables(spark, sf).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").option("parquet.block.size", rowGroupBytes)
          .parquet(tmp.resolve(s"$name.parquet").toString)
      }
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException => deleteTree(tmp) }
    }
    dir.toString
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(deleteTree)
    Files.deleteIfExists(p)
  }

  private def n(base: Double, sf: Double): Long = math.max(1L, math.round(base * sf))

  /** Uniform integer in [0, m) from (id, salt). */
  private def h(salt: Int, m: Long, id: String = "id"): String = s"pmod(xxhash64($id, $salt), $m)"
  /** Uniform double in (0, 1) from (id, salt). */
  private def u(salt: Int, id: String = "id"): String = s"((${h(salt, 1000003L, id)} + 0.5) / 1000003.0)"
  private def pick(salt: Int, values: Seq[String]): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), CAST(${h(salt, values.size)} + 1 AS INT))"
  private def money(salt: Int, lo: Double, hi: Double): String =
    s"ROUND($lo + ${u(salt)} * ${hi - lo}, 2)"
  private def day(salt: Int, from: String, days: Int): String =
    s"CAST(date_add(DATE'$from', CAST(${h(salt, days)} AS INT)) AS TIMESTAMP_NTZ)"

  private val words = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Key ranges the request generators draw literals from. */
  final case class Sizes(sf: Double) {
    val customers: Long = n(150000, sf); val suppliers: Long = n(10000, sf)
    val parts: Long = n(200000, sf); val orders: Long = n(1500000, sf)
    val lineitems: Long = n(6000000, sf); val events: Long = n(1000000, sf)
    val users: Long = n(15000, sf)
    val documents: Long = math.max(500L, n(50000, sf)); val vectors: Long = math.max(500L, n(20000, sf))
  }

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val z = Sizes(sf)
    val (nCust, nSupp, nPart, nOrders) = (z.customers, z.suppliers, z.parts, z.orders)
    val (nLine, nEvents, nUsers, nDocs, nVecs) = (z.lineitems, z.events, z.users, z.documents, z.vectors)
    def range(rows: Long) = spark.range(0, rows, 1, 4)

    val region = range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id + 1 AS INT)) AS r_name")
    val nation = range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey")
    val customer = range(nCust).selectExpr("id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"CAST(${h(1, 25)} AS INT) AS c_nationkey", s"${money(2, -999.99, 9999.99)} AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
    val supplier = range(nSupp).selectExpr("id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      s"CAST(${h(4, 25)} AS INT) AS s_nationkey", s"${money(5, -999.99, 9999.99)} AS s_acctbal")
    val part = range(nPart).selectExpr("id AS p_partkey",
      s"concat(${pick(6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"))}, ' ', " +
        s"${pick(7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))}) AS p_name",
      s"concat('Brand#', ${h(8, 25)} + 1) AS p_brand",
      s"${pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} AS p_type",
      s"CAST(${h(10, 50)} + 1 AS INT) AS p_size", "ROUND(900 + (id % 1000) / 10.0, 2) AS p_retailprice")
    val orders = range(nOrders).selectExpr("id AS o_orderkey", s"${h(11, nCust)} AS o_custkey",
      s"${pick(12, Seq("F", "O", "P"))} AS o_orderstatus", s"${money(13, 1000, 500000)} AS o_totalprice",
      s"${day(14, "1995-01-01", 2405)} AS o_orderdate",
      s"${pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
    val lineitem = range(nLine).selectExpr(s"CAST(id * $nOrders / $nLine AS BIGINT) AS l_orderkey",
      s"${h(17, nPart)} AS l_partkey", s"${h(18, nSupp)} AS l_suppkey",
      s"CAST(id % ${nLine / nOrders} + 1 AS INT) AS l_linenumber", s"CAST(${h(20, 50)} + 1 AS DOUBLE) AS l_quantity",
      s"${money(21, 900, 105000)} AS l_extendedprice", s"${h(22, 11)} / 100.0 AS l_discount",
      s"${h(23, 9)} / 100.0 AS l_tax", s"${pick(24, Seq("A", "N", "R"))} AS l_returnflag",
      s"${pick(25, Seq("F", "O"))} AS l_linestatus", s"${day(26, "1995-01-02", 2499)} AS l_shipdate")
    val events = range(nEvents).selectExpr("id AS event_id",
      s"CAST(timestamp_micros(1704067200000000 + CAST(${u(27)} * 2592000000000 AS BIGINT)) AS TIMESTAMP_NTZ) AS ts",
      s"${h(28, nUsers)} AS user_id",
      s"${pick(29, Seq("click", "error", "purchase", "signup", "view"))} AS event_type",
      s"ROUND(-ln(${u(30)}) * 50, 2) AS value", s"concat('{\"k\": ', ${h(31, 100)}, '}') AS props")
    // One document in twenty repeats an earlier one with a trailing "dup",
    // so the near-duplicate operators have pairs to find.
    val vocab = words.map(w => s"'$w'").mkString("array(", ",", ")")
    val documents = range(nDocs)
      .selectExpr("id",
        s"CASE WHEN id > 5 AND ${h(32, 20)} = 0 THEN id - 1 - ${h(33, 5)} ELSE id END AS base")
      .selectExpr("id AS doc_id",
        s"concat_ws(' ', transform(sequence(1, CAST(${h(34, 93, "base")} + 8 AS INT)), " +
          s"j -> element_at($vocab, CAST(pmod(xxhash64(base, j, 35), ${words.size}) + 1 AS INT)))) " +
          "|| CASE WHEN base = id THEN '' ELSE ' dup' END AS text",
        s"CASE WHEN ${h(36, 5)} < 2 THEN 'en' ELSE ${pick(37, Seq("de", "es", "fr", "zh"))} END AS lang",
        s"concat('src', ${h(38, 20)}) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "CAST(length(text) AS BIGINT) AS n_chars")
    // Ten label clusters of unit vectors: centroid per label plus noise.
    def gauss(key: String, salt: Int) =
      s"sqrt(-2 * ln((pmod(xxhash64($key, j, $salt), 1000003) + 0.5) / 1000003.0)) * " +
        s"cos(2 * pi() * (pmod(xxhash64($key, j, ${salt + 1}), 1000003) + 0.5) / 1000003.0)"
    val embeddings = range(nVecs)
      .selectExpr("id AS vec_id", s"CAST(${h(39, 10)} AS INT) AS label")
      .selectExpr("vec_id", "label",
        s"transform(sequence(0, 63), j -> ${gauss("label", 40)} + 0.6 * ${gauss("vec_id", 42)}) AS raw")
      .selectExpr("vec_id",
        "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) AS FLOAT)) AS embedding",
        "label")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
