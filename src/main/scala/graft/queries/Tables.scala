package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders over the driver-generated parquet fixtures
  * (`/root/testdata/sf*`, see TESTDATA.md / FIXTURES.md).
  *
  * Every query in the inventory takes `(spark, sfDir)` and loads inputs
  * through here, so filters/projections written against these frames are
  * pushed straight into the parquet scan by Catalyst (PushedFilters /
  * ReadSchema — verified via `.explain("formatted")`).
  */
object Tables {
  // DataFrames are immutable plans; caching them avoids re-listing the
  // parquet footer on every one of the ~100 inventory queries. BOUNDED
  // (LruMemo, not a bare ConcurrentHashMap): entries are keyed by session,
  // and a long-lived per-request-session service would otherwise pin every
  // dead session's plans (and the sessions themselves) forever. Evicted
  // entries just re-read a parquet footer.
  private val frames =
    new graft.LruMemo[(SparkSession, String, String), DataFrame](256)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    frames.getOrElseUpdate((spark, dir, name)) {
      if (name == "events") eventsRaw(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    }

  /** events.ts has shipped in two encodings across fixture generations:
    * TIMESTAMP(NANOS) — which Spark 4 only reads as raw nanos via
    * nanosAsLong — and plain TIMESTAMP_MICROS (isAdjustedToUTC=0, i.e.
    * TIMESTAMP_NTZ). Branch on the dtype Spark actually read so either
    * fixture works; both paths land on µs-precision TIMESTAMP_NTZ, the same
    * value DuckDB's epoch_us sees, so oracles agree (SURVEY §7.6.3).
    *
    * The file is read plainly first, so a µs fixture leaves the session
    * conf untouched. Only a read that Spark refuses as TIMESTAMP(NANOS)
    * sets nanosAsLong and reads again: execution-time Parquet readers take
    * that key from the session conf, and no per-read option exists for it.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val raw = try spark.read.parquet(path) catch {
      case e: Throwable if isNanosTimestampError(e) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(path)
    }
    val tsConv = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // legacy TIMESTAMP(NANOS) read as raw nanos: truncate to µs
        "CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"
      case _: org.apache.spark.sql.types.TimestampNTZType |
           _: org.apache.spark.sql.types.TimestampType =>
        "CAST(ts AS TIMESTAMP_NTZ)"
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected parquet-read dtype $other in $dir — " +
            "expected LongType (nanosAsLong) or TIMESTAMP[_NTZ]; " +
            "fixture schema drifted again, update Tables.eventsRaw")
    }
    raw.withColumn("ts", org.apache.spark.sql.functions.expr(tsConv))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Spark's illegal-Parquet-type error for a TIMESTAMP(NANOS) column,
    * anywhere in the cause chain (footer reads may run as a Spark job).
    */
  private def isNanosTimestampError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case t: org.apache.spark.SparkThrowable =>
        t.getCondition == "PARQUET_TYPE_ILLEGAL" &&
          String.valueOf(t.getMessage).contains("TIMESTAMP(NANOS")
      case _ => false
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Last directory registered per session: re-registering the same dir on
  // every query would re-read parquet footers for nothing; switching dirs
  // must re-point the views. WEAK keys: the guard must not be the thing
  // that keeps a finished request's session alive in a long-lived service.
  private val lastDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register all fixture tables as temp views so `spark.sql` queries can
    * reference them by name (mirrors the reference's `register_table` /
    * `register_csv` catalog registration,
    * datafusion-flight-sql-server/tests/integration_test.rs:34-35).
    *
    * Temp views are a per-session namespace: if the caller has registered
    * its OWN view under a fixture name, the per-(session, dir) guard will
    * not re-point it — callers that mix fixture queries with their own
    * same-named views must use separate sessions (which is the service's
    * per-user session model anyway, A2).
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    // The engine's native expressions (graft_ln_scaled / graft_exp_micro /
    // graft_cosine, …), its optimizer rule and its planner strategies are
    // part of every session graft plans on, so the matrix plans as the
    // service does; install adds only what the session lacks.
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)
    if (lastDir.get(spark) != dir) {
      // Fault-isolated per table: one broken fixture (round 6: a regenerated
      // events.parquet) must not take down queries over the other nine
      // tables. A table that fails to load stays unregistered — queries
      // touching it fail individually at analysis with TABLE_OR_VIEW_NOT_
      // FOUND — and the root cause is printed ONCE here, not 185 times.
      val failed = names.flatMap { n =>
        try { table(spark, dir, n).createOrReplaceTempView(n); None }
        catch { case e: Throwable =>
          frames.remove((spark, dir, n)) // don't cache a broken loader
          Some(n -> e)
        }
      }
      lastDir.put(spark, dir)
      if (failed.nonEmpty) {
        System.err.println(
          s"[graft.Tables] ${failed.size}/${names.size} fixture table(s) failed to load " +
            s"from $dir (the rest are registered; queries touching these fail " +
            "individually): " +
            failed.map { case (n, e) =>
              s"$n -> ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            }.mkString(" | "))
      }
    }
  }

  /** Force every fixture view back to `dir`, bypassing the (session, dir)
    * guard. For callers that deliberately SHADOWED a fixture name with
    * their own temp view (hand-built test fixtures): a plain registerAll
    * afterwards is a silent no-op — the guard still remembers `dir` — and
    * the shadow would leak into every later consumer of the session.
    */
  def reregisterAll(spark: SparkSession, dir: String): Unit = {
    lastDir.remove(spark)
    registerAll(spark, dir)
  }
}
