package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions.withConf
import graft.queries.{QuerySpec, Tables}

/** Structured Streaming over the events table (SURVEY §2.B.10 extension:
  * the reference's only streaming is incremental result delivery; this is
  * the Spark-native stream-processing path for the same data).
  *
  * The batch parquet fixture is replayed as a file stream; the windowed
  * aggregation (1-hour tumbling windows per event_type, with a watermark
  * for state cleanup at scale) runs through the streaming engine and
  * drains into a memory sink. At 100 TB/day this exact plan runs
  * unchanged against a Kafka/file source — tumbling windows shuffle once
  * on (window, event_type), and the watermark bounds state.
  */
object EventStream {

  /** ONE definition of the 64-bucket value quantization shared by the
    * quantile sketch and the drift monitor on BOTH the streaming side and
    * their oracle texts — a clamp fix must not be able to land in one
    * copy only (the first-review-round lesson).
    */
  private val bucketSqlBigint =
    "LEAST(63, GREATEST(0, CAST(FLOOR(FLOOR(value * 100 + 0.5) / 800) AS BIGINT))) AS b"
  private val bucketSqlInt =
    "LEAST(63, GREATEST(0, CAST(FLOOR(FLOOR(value * 100 + 0.5) / 800) AS INT))) AS b"

  /** The streaming results equal the batch aggregations — which is exactly
    * what the DuckDB oracles compute.
    */
  val specs: Map[String, QuerySpec] = Map(
    "q_stream_window" -> QuerySpec.df(
      (s, d) => windowedCounts(s, d),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin),

    // Sliding windows: every event lands in w/s = 2 windows; the oracle
    // reproduces that with an explicit 2-offset expansion.
    "q_stream_sliding" -> QuerySpec.df(
      (s, d) => slidingCounts(s, d),
      """SELECT ws, event_type, COUNT(*) AS n FROM (
        |  SELECT CAST(date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS TIMESTAMP) AS ws, event_type
        |  FROM events CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) ks) t
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin),

    // Custom state: per-user running totals via mapGroupsWithState; the
    // final state equals the batch per-user count.
    "q_stream_stateful" -> QuerySpec.df(
      (s, d) => statefulCounts(s, d),
      """SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // Multi-row custom state: flatMapGroupsWithState milestone emission
    // (batch-boundary-invariant crossings — milestoneCounts doc). Oracle =
    // the closed form floor(total/10) milestones per user.
    "q_stream_milestones" -> QuerySpec.df(
      (s, d) => milestoneCounts(s, d),
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |m AS (SELECT user_id, unnest(range(1, CAST(n // 10 AS INT) + 1)) * 10 AS milestone
        |      FROM c WHERE n >= 10)
        |SELECT user_id, CAST(milestone AS BIGINT) AS milestone
        |FROM m ORDER BY user_id, milestone""".stripMargin),

    // Stream-static join: each micro-batch hash-joins against a static
    // dimension (re-broadcast per batch by the engine) — the enrichment
    // shape of a streaming ingest pipeline. Oracle = the batch join.
    "q_stream_static_join" -> QuerySpec.df(
      (s, d) => staticJoinCounts(s, d),
      """WITH dim AS (SELECT DISTINCT user_id, user_id % 4 AS tier FROM events)
        |SELECT tier, event_type, COUNT(*) AS n
        |FROM events JOIN dim USING (user_id)
        |GROUP BY tier, event_type ORDER BY tier, event_type""".stripMargin),

    // Streaming deduplication: stateful dropDuplicates on (user_id,
    // event_type) — the streaming-ingest dedup primitive (state keyed on
    // the dedup tuple, watermark bounds state lifetime at scale); the
    // emitted first-occurrences aggregate to the batch distinct counts.
    "q_stream_dedup" -> QuerySpec.df(
      (s, d) => dedupCounts(s, d),
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Watermark-bounded dedup: state expires with the watermark (see
    // dedupWithinWatermarkCounts) — the unbounded-ingest dedup shape.
    "q_stream_dedup_within_wm" -> QuerySpec.df(
      (s, d) => dedupWithinWatermarkCounts(s, d),
      """SELECT user_id, COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Stream-stream interval join: click→purchase attribution within 1h,
    // per user — both sides are live streams (not stream-static), joined
    // on user_id with a time-range predicate. Watermarks on BOTH sides let
    // the state store evict rows once they can no longer match (Spark
    // derives the retention bound from the range condition), so state is
    // bounded on an unbounded stream; the shuffle is on user_id for both
    // sides. Inner-join matches emit as soon as both rows arrive; the sink
    // rollup equals the batch interval join.
    "q_stream_stream_join" -> QuerySpec.df(
      (s, d) => streamStreamJoinCounts(s, d),
      """WITH a AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM a JOIN b ON a.user_id = b.user_id
        |              AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),

    // Stream-stream LEFT OUTER interval join: click→purchase attribution
    // where clicks with NO purchase inside the hour ALSO emit (null-padded)
    // — but only once the watermark proves no matching purchase can still
    // arrive (leftOuterJoinCounts doc). Oracle = the batch left join's
    // per-user row/match/unmatched counts.
    "q_stream_left_outer" -> QuerySpec.df(
      (s, d) => leftOuterJoinCounts(s, d),
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS pts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, c.ts, p.pts
        |      FROM c LEFT JOIN p ON c.user_id = p.p_user
        |                        AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 1 HOUR)
        |SELECT user_id, COUNT(*) AS n_rows, COUNT(pts) AS n_matched,
        |       COUNT(*) - COUNT(pts) AS n_unmatched
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Stream-stream FULL OUTER interval join: both sides' unmatched rows
    // emit null-padded at watermark eviction (fullOuterJoinCounts doc).
    // Oracle = the batch full join's per-user matched/click-only/
    // purchase-only partition.
    "q_stream_full_outer" -> QuerySpec.df(
      (s, d) => fullOuterJoinCounts(s, d),
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user, ts AS pts FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.user_id, p.p_user, p.pts
        |      FROM c FULL OUTER JOIN p ON c.user_id = p.p_user
        |                              AND p.pts >= c.ts AND p.pts <= c.ts + INTERVAL 1 HOUR)
        |SELECT COALESCE(user_id, p_user) AS uid, COUNT(*) AS n_rows,
        |       COUNT(CASE WHEN user_id IS NOT NULL AND pts IS NOT NULL THEN 1 END) AS n_matched,
        |       COUNT(CASE WHEN pts IS NULL THEN 1 END) AS n_click_only,
        |       COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS n_purchase_only
        |FROM j GROUP BY uid ORDER BY uid""".stripMargin),

    // Ingest-time corpus dedup: incoming docs stream STATELESSLY against
    // the persistent corpus band index (row-wise band keys + broadcast
    // stream-static equi-join + graft_overlap verify) — see CorpusIngest.
    // Oracle = the batch brute-force cross-subset Jaccard.
    "q_stream_dedup_corpus" -> QuerySpec.df(
      (s, d) => CorpusIngest.dedupedIngest(
        s, d, graft.llm.LlmQueries.corpusIndexCached(s, d), 0.95),
      """WITH dn AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 9),
        |dc AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |wn AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM dn),
        |wc AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word FROM dc),
        |szn AS (SELECT doc_id, COUNT(*) AS n FROM wn GROUP BY doc_id),
        |szc AS (SELECT doc_id, COUNT(*) AS n FROM wc GROUP BY doc_id),
        |c AS (SELECT n.doc_id AS new_id, o.doc_id AS old_id, COUNT(*) AS c
        |      FROM wn n JOIN wc o ON n.word = o.word GROUP BY n.doc_id, o.doc_id),
        |m AS (SELECT new_id, old_id
        |      FROM c JOIN szn ON new_id = szn.doc_id JOIN szc ON old_id = szc.doc_id
        |      WHERE c >= 0.95 * (szn.n + szc.n - c))
        |SELECT new_id, COUNT(*) AS n_matches, MIN(old_id) AS first_match
        |FROM m GROUP BY new_id ORDER BY new_id""".stripMargin),

    // Ingest-time perceptual media dedup: crawl-batch payloads decode +
    // fingerprint INSIDE the stream (real PPM parser via typed
    // mapPartitions), stateful dropDuplicates admits first-seen
    // fingerprints; the contract aggregates the admitted SET (arrival-
    // order invariant), per-dimension unique counts. Oracle = the batch
    // COUNT(DISTINCT fingerprint) from the closed pixel formula.
    "q_stream_media_dedup" -> QuerySpec.df(
      (s, d) => CorpusIngest.mediaDedupIngest(s, d),
      """WITH p AS (SELECT doc_id, (doc_id // 10) % 40 AS base FROM documents WHERE doc_id % 10 = 9),
        |d AS (SELECT doc_id, base, 4 + base % 5 AS w, 3 + base % 4 AS h FROM p),
        |g AS (SELECT doc_id, w, h, j,
        |        ((base * 7 + (3 * j) * 13     + CASE WHEN (3 * j)     % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256
        |       + (base * 7 + (3 * j + 1) * 13 + CASE WHEN (3 * j + 1) % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256
        |       + (base * 7 + (3 * j + 2) * 13 + CASE WHEN (3 * j + 2) % 29 = 0 THEN (doc_id // 400) % 3 ELSE 0 END) % 256) // 3 AS gray
        |      FROM (SELECT doc_id, base, w, h, unnest(range(0, CAST(w * h AS INT))) AS j FROM d) z),
        |m AS (SELECT doc_id, CAST(SUM(gray) AS BIGINT) // COUNT(*) AS mean FROM g GROUP BY doc_id),
        |hsh AS (SELECT g.doc_id, MIN(g.w) AS w, MIN(g.h) AS h,
        |               CAST(SUM(CASE WHEN g.gray >= m.mean AND g.j < 32
        |                             THEN CAST(1 AS BIGINT) << CAST(g.j AS INT)
        |                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ahash
        |        FROM g JOIN m ON g.doc_id = m.doc_id GROUP BY g.doc_id)
        |SELECT CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       COUNT(DISTINCT ahash) AS n_unique
        |FROM hsh GROUP BY w, h ORDER BY width, height""".stripMargin),

    // Ingest-time ANN list assignment: incoming vectors stream through the
    // batch-built two-level quantizer — cells as in-plan literals (pure
    // projection probe), centroids via a broadcast stream-static equi-join
    // on c1_id, one bounded per-vector min as the only state
    // (VectorIngest doc). Oracle = the batch closed form of the same
    // stride/cell/probe conventions, integer-exact on both sides.
    "q_stream_ann_ingest" -> QuerySpec.df(
      (s, d) => VectorIngest.assignIngest(s, d, VectorIngest.buildIndex(s, d)),
      VectorIngest.oracleSql),

    // Streaming SCD2 dimension maintenance: per-key change SET in
    // ListState, intervals re-derived as a pure function of the set —
    // invariant to chopping and arrival order (Scd2StreamSpec). Oracle =
    // the batch scdChain closed form in epoch micros.
    "q_stream_scd2" -> QuerySpec.df(
      (s, d) => scd2Stream(s, d),
      """WITH ch AS (SELECT o_custkey AS key,
        |                  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ts,
        |                  o_orderkey AS seq, o_orderstatus AS attr
        |           FROM orders WHERE o_custkey % 10 = 0),
        |sel AS (SELECT key, ts, attr,
        |               lag(ts) OVER (PARTITION BY key ORDER BY ts, seq DESC) AS pts
        |        FROM ch),
        |ded AS (SELECT key, ts, attr FROM sel WHERE pts IS NULL OR pts <> ts),
        |runs AS (SELECT key, ts, attr,
        |                lag(attr) OVER (PARTITION BY key ORDER BY ts) AS prev
        |         FROM ded),
        |st AS (SELECT key, ts, attr FROM runs
        |       WHERE prev IS NULL OR prev <> attr),
        |scd AS (SELECT key, attr, ts AS vfrom_us,
        |               lead(ts) OVER (PARTITION BY key ORDER BY ts) AS vto_us
        |        FROM st)
        |SELECT key, attr, vfrom_us, vto_us,
        |       CAST(CASE WHEN vto_us IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM scd ORDER BY key, vfrom_us""".stripMargin),

    // Spark 4 transformWithState (the new arbitrary-state API): per-user
    // top-3 purchase amounts in one typed ValueState tuple — bounded
    // per-key state, commutative merge (batch-chop invariant), RocksDB
    // state store. Oracle = the batch ranked-window closed form.
    "q_stream_top_purchases" -> QuerySpec.df(
      (s, d) => topPurchasesCounts(s, d),
      """WITH e AS (SELECT user_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        |          FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, cents,
        |             row_number() OVER (PARTITION BY user_id ORDER BY cents DESC) AS rk
        |      FROM e)
        |SELECT user_id, CAST(rk AS INT) AS rk, cents FROM r WHERE rk <= 3
        |ORDER BY user_id, rk""".stripMargin),

    // Streaming drift monitor: live per-type value histogram chi-squared
    // against the static "training period" reference (driftAlertCounts
    // doc). Oracle = the batch closed form with the identical per-bucket
    // integer-FLOOR discipline over all 64 buckets.
    "q_stream_drift_alert" -> QuerySpec.df(
      (s, d) => driftAlertCounts(s, d),
      // rooted in the OBSERVED types (obsn), mirroring the streaming side
      // exactly: a type absent from the reference slice scores against the
      // all-zero smoothed reference (chi2Micro's getOrElse fallback), and
      // a reference-only type emits nothing (no stream state exists)
      s"""WITH e AS (SELECT event_type, event_id, $bucketSqlBigint
        |          FROM events),
        |ref AS (SELECT event_type, b, COUNT(*) AS r FROM e WHERE event_id % 3 = 0 GROUP BY event_type, b),
        |refm AS (SELECT event_type, SUM(r) AS m FROM ref GROUP BY event_type),
        |obs AS (SELECT event_type, b, COUNT(*) AS o FROM e WHERE event_id % 3 != 0 GROUP BY event_type, b),
        |obsn AS (SELECT event_type, SUM(o) AS n FROM obs GROUP BY event_type),
        |bx AS (SELECT onn.event_type, gb.b,
        |              COALESCE(o.o, 0) AS o, COALESCE(r.r, 0) AS r,
        |              COALESCE(rm.m, 0) AS m, onn.n
        |       FROM obsn onn
        |       CROSS JOIN (SELECT unnest(range(0, 64)) AS b) gb
        |       LEFT JOIN refm rm ON onn.event_type = rm.event_type
        |       LEFT JOIN ref r ON onn.event_type = r.event_type AND gb.b = r.b
        |       LEFT JOIN obs o ON onn.event_type = o.event_type AND gb.b = o.b),
        |chi AS (SELECT event_type, n,
        |               CAST(SUM(CAST(FLOOR(CAST(o * (m + 64) - n * (r + 1) AS DOUBLE)
        |                              * CAST(o * (m + 64) - n * (r + 1) AS DOUBLE)
        |                              / CAST(n * (r + 1) * (m + 64) AS DOUBLE)
        |                              * 1000000) AS BIGINT)) AS BIGINT) AS chi2_micro
        |        FROM bx GROUP BY event_type, n)
        |SELECT event_type, CAST(n AS BIGINT) AS n, chi2_micro
        |FROM chi ORDER BY event_type""".stripMargin),

    // Streaming quantile sketch: per-event-type 64-bucket value histogram
    // in bounded GroupState, re-emitting p50/p90/p99 bucket estimates each
    // batch — the live percentile monitor an ops pipeline keeps over an
    // unbounded stream. Histogram increments COMMUTE, so the final sketch
    // (and its quantile read-off) is invariant to micro-batch chopping and
    // equals the batch closed form exactly.
    "q_stream_quantile_sketch" -> QuerySpec.df(
      (s, d) => quantileSketchCounts(s, d),
      s"""WITH e AS (SELECT event_type, $bucketSqlBigint
        |          FROM events),
        |h AS (SELECT event_type, b, COUNT(*) AS c FROM e GROUP BY event_type, b),
        |cum AS (SELECT event_type, b,
        |               SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
        |               SUM(c) OVER (PARTITION BY event_type) AS n
        |        FROM h)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       CAST(MIN(CASE WHEN cum * 100 >= 50 * n THEN b END) AS INT) AS p50_b,
        |       CAST(MIN(CASE WHEN cum * 100 >= 90 * n THEN b END) AS INT) AS p90_b,
        |       CAST(MIN(CASE WHEN cum * 100 >= 99 * n THEN b END) AS INT) AS p99_b
        |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Session windows (12h gap); oracle = gaps-and-islands over the batch
    // table. Spark's session_window is half-open [start, last_ts + gap), so
    // an event exactly 12h after its predecessor starts a NEW session — the
    // oracle predicate is therefore >= (not >) to match.
    "q_stream_session" -> QuerySpec.df(
      (s, d) => sessionCounts(s, d),
      """WITH x AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= INTERVAL 12 HOUR
        |       THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts,
        |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(*) AS n
        |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin))

  /** Stage the µs-normalized events once per (session, dir) — the raw
    * fixture is ns-precision parquet which Spark can't stream directly.
    * The staged path is derived from the source dir so interleaved sfDirs
    * or concurrent sessions never clobber each other, and repeat queries
    * pay zero rewrites (ConcurrentHashMap guard). Keyed by dir ONLY: the
    * staged bytes depend on nothing session-specific, and a per-session
    * key would let two sessions with the same dir race mode("overwrite")
    * rewrites of the same path under each other's running streams.
    * computeIfAbsent serializes writers per dir; later sessions reuse the
    * file. Keys are bounded by the number of distinct fixture dirs.
    */
  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dirKey(dir: String): String =
    java.lang.Integer.toHexString(
      java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
        .take(4).foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))

  private def stage(spark: SparkSession, dir: String): String =
    stagedCache.computeIfAbsent(dir, { _ =>
      val staged = s"/root/repo/target/fixtures/events_us_${dirKey(dir)}.parquet"
      Tables.events(spark, dir).write.mode("overwrite").parquet(staged)
      staged
    })

  /** Orders replayed as a CDC change stream for the streaming SCD2
    * maintainer (the batch q_dim_scd2's source convention: key =
    * o_custkey, event time = o_orderdate, tiebreak seq = o_orderkey,
    * tracked attribute = o_orderstatus). Pre-filtered to the key % 10
    * slice the batch operator reports, so state exists only for emitted
    * keys.
    */
  private def stageOrders(spark: SparkSession, dir: String): String =
    stagedCache.computeIfAbsent(s"$dir#orders", { _ =>
      val staged = s"/root/repo/target/fixtures/orders_scd_${dirKey(dir)}.parquet"
      Tables.orders(spark, dir)
        .where("o_custkey % 10 = 0")
        .selectExpr("o_custkey AS key",
          "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS ts_us",
          "o_orderkey AS seq", "o_orderstatus AS attr")
        .write.mode("overwrite").parquet(staged)
      staged
    })

  /** Pre-stage every streaming fixture for (session, dir). Bench calls this
    * in its untimed setup phase so the timed region measures stream
    * execution, not fixture rewrites.
    */
  def stageAll(spark: SparkSession, dir: String): Unit = {
    stage(spark, dir)
    stageSession(spark, dir)
    stageOuter(spark, dir)
    stageOrders(spark, dir)
    CorpusIngest.stageAll(spark, dir)
    VectorIngest.stageAll(spark, dir)
    ()
  }

  /** Stateful-shuffle width for the replayed streams. Every stateful
    * operator instantiates one state store PER shuffle partition (two for
    * a stream-stream join), each with its own checkpoint directory,
    * per-micro-batch commit file and maintenance — at this fixture's
    * volume that fixed overhead dominates wall time (measured: the
    * interval join runs 8s at 32 partitions, 3s at 8, identical results;
    * r11 re-measured the full streaming family at 4 vs 8 and 4 wins
    * another ~15% with identical results). Streaming state width must be
    * sized to stream volume / key cardinality, NOT inherited from the
    * batch shuffle default — so it is a conf
    * (`spark.graft.stream.shufflePartitions`, default 4): a production
    * deployment raises it with throughput; partition count never changes
    * results, only parallelism per micro-batch.
    */
  private def streamShufflePartitions(spark: SparkSession): String =
    spark.conf.get("spark.graft.stream.shufflePartitions", "4")

  /** transformWithState requires the RocksDB state store; set it only for
    * the stream's session capture.
    */
  private val rocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** JVM-global streaming-activity sweep: StateStore.stop() is JVM-global,
    * but StreamingQueryManager (spark.streams) is per-SESSION — an active
    * stream on a sibling session (newSession() multi-tenancy, exactly the
    * scenario the release guard exists for) is invisible to the caller's
    * manager. Every active StreamExecution runs its batch loop on a
    * dedicated QueryExecutionThread for precisely the query's active
    * lifetime, so sweeping live threads for that (public) type is the
    * whole-JVM activity signal no per-session registry can give. A
    * replay's own call never sees itself: query.stop() joins the
    * execution thread before returning.
    */
  private def anyStreamActiveInJvm: Boolean = {
    // root-ThreadGroup enumeration, NOT Thread.getAllStackTraces: the
    // latter snapshots every thread's full stack at a safepoint when all
    // this check needs is the thread objects themselves
    var g = Thread.currentThread().getThreadGroup
    while (g.getParent != null) g = g.getParent
    val threads = new Array[Thread](g.activeCount() + 16)
    val n = g.enumerate(threads, true)
    (0 until n).exists { i =>
      val t = threads(i)
      t != null && t.isAlive &&
        t.isInstanceOf[org.apache.spark.sql.execution.streaming.runtime.QueryExecutionThread]
    }
  }

  /** Unload state-store providers (and their maintenance task) once a
    * replay-to-completion query drains. Loaded providers otherwise outlive
    * the query for the JVM's lifetime — snapshot/cleanup maintenance keeps
    * running in the background and competes with every subsequent batch
    * query on the same executors (a mixed batch+streaming server pays it
    * on every batch query). The next streaming query reloads providers
    * lazily and restarts maintenance, so this is pure lifecycle hygiene.
    * StateStore.stop() is JVM-GLOBAL — it would evict a concurrently
    * running stream's providers mid-batch (forcing checkpoint reload and
    * silently stopping its maintenance) — so release only when no other
    * streaming query is active anywhere in the JVM: the calling session's
    * manager (covers queries still starting, whose execution thread may
    * not have spawned yet) AND the thread sweep (covers sibling sessions,
    * which the per-session manager cannot see).
    */
  private[streaming] def releaseStateStores(spark: SparkSession): Unit =
    if (spark.streams.active.isEmpty && !anyStreamActiveInJvm)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Complete-mode drain for sibling ingest runners (VectorIngest). */
  private[streaming] def runToTableComplete(stream: DataFrame): DataFrame =
    runToTable(stream, "complete")

  private def runToTable(stream: DataFrame, mode: String): DataFrame = {
    val spark = stream.sparkSession
    val queryName = s"graft_event_stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // The width is captured into the stream's cloned session when the
    // query starts; hold it until the replay drains, then restore the
    // session default (runners execute streams synchronously, so the
    // mutation window is contained).
    withConf(spark, "spark.sql.shuffle.partitions" -> streamShufflePartitions(spark)) {
      val query = stream.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(queryName)
        .start()
      try query.processAllAvailable()
      finally { query.stop(); releaseStateStores(spark) }
    }
    // Drop the sink's temp view: each run registers a fresh UUID-named
    // view which would otherwise accumulate for the life of the session (a
    // leak per streaming query in a long-running server). spark.table()
    // analyzes eagerly, so the returned frame holds the resolved memory
    // relation and survives the drop — no data copy needed; the sink's
    // rows live exactly as long as the frame does.
    val out = spark.table(queryName)
    spark.catalog.dropTempView(queryName)
    out
  }

  /** Replay events as a stream → tumbling-window counts. Returns the final
    * (batch-equivalent) result so correctness is oracle-checkable.
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      // watermarks require an instant (TIMESTAMP); session tz is UTC so the
      // NTZ wall-clock maps 1:1 and the window starts cast back losslessly
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(stream, "complete")
      .select(col("window.start").cast("timestamp_ntz").as("ws"),
        col("event_type"), col("n"))
      .orderBy("ws", "event_type")
  }

  /** Sliding windows (2h width, 1h slide). */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToTable(stream, "complete")
      .select(col("window.start").cast("timestamp_ntz").as("ws"),
        col("event_type"), col("n"))
      .orderBy("ws", "event_type")
  }

  /** Session windows (12-hour inactivity gap) per user. Session-window
    * aggregation only supports append/update output, and append finalizes a
    * session only in a micro-batch AFTER the watermark passes its end — so
    * the staging dir gets two far-future sentinel files and the stream
    * processes one file per batch: the first sentinel batch advances the
    * watermark past every real session, the second evicts and emits them
    * (standard stream-closing technique). The sentinel user is dropped.
    */
  private def stageSession(spark: SparkSession, dir: String): String = {
    // stage() BEFORE entering computeIfAbsent: a nested computeIfAbsent on
    // the same ConcurrentHashMap throws "Recursive update" when both keys
    // hash to one bin
    val src = stage(spark, dir)
    stagedCache.computeIfAbsent(s"$dir#session", { _ =>
      val base = spark.read.parquet(src)
      val dedicated = s"/root/repo/target/fixtures/events_session_${dirKey(dir)}"
      base.coalesce(2).write.mode("overwrite").parquet(dedicated)
      Seq("2099-01-01 00:00:00", "2099-06-01 00:00:00").foreach { far =>
        base.limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", expr(s"timestamp_ntz '$far'"))
          .write.mode("append").parquet(dedicated)
      }
      dedicated
    })
  }

  def sessionCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val dedicated = stageSession(spark, dir)
    val schema = spark.read.parquet(dedicated).schema

    val queryName = s"graft_session_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1") // one file per batch → watermark advances across batches
      .parquet(dedicated)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "12 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    // same state-width sizing as runToTable: one state store per shuffle
    // partition PER micro-batch; hold the narrowed width until the replay
    // drains (the cloned session captures it at start())
    withConf(spark, "spark.sql.shuffle.partitions" -> streamShufflePartitions(spark)) {
      val query = stream.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try query.awaitTermination()
      finally { if (query.isActive) query.stop(); releaseStateStores(spark) }
    }

    // same sink-view cleanup as runToTable (eager analysis survives the drop)
    val sunk = spark.table(queryName)
    spark.catalog.dropTempView(queryName)
    sunk
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("n"))
      .orderBy("user_id", "session_start")
  }

  /** Events + far-future sentinel files for the OUTER stream-stream join:
    * each sentinel file carries one 'click' AND one 'purchase' row (user
    * -1) so it survives BOTH sides' event-type filters and advances BOTH
    * watermarks — an outer join's null-padded rows only emit once the
    * GLOBAL watermark (min across inputs) proves no match can still
    * arrive, and a sentinel filtered out of either side would stall that
    * side's watermark at its last real row. Two sentinel files, one file
    * per micro-batch: the first advances the watermark past every real
    * row, the second runs the batch in which eviction emits the unmatched
    * clicks (same stream-closing technique as [[stageSession]]).
    */
  private def stageOuter(spark: SparkSession, dir: String): String = {
    val src = stage(spark, dir)
    stagedCache.computeIfAbsent(s"$dir#outer", { _ =>
      val base = spark.read.parquet(src)
      val dedicated = s"/root/repo/target/fixtures/events_outer_${dirKey(dir)}"
      base.coalesce(2).write.mode("overwrite").parquet(dedicated)
      Seq("2099-01-01 00:00:00", "2099-06-01 00:00:00").foreach { far =>
        base.limit(1)
          .withColumn("event_type", explode(array(lit("click"), lit("purchase"))))
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", expr(s"timestamp_ntz '$far'"))
          .select(base.columns.map(col).toIndexedSeq: _*)
          .coalesce(1)
          .write.mode("append").parquet(dedicated)
      }
      dedicated
    })
  }

  /** Stream-stream LEFT OUTER interval join: every click emits — matched
    * clicks as soon as both rows arrive (inner behavior), unmatched
    * clicks null-padded only when the watermark passes click_ts + 1h and
    * the engine can PROVE no qualifying purchase is still in flight (the
    * correctness contract that distinguishes streaming outer joins from
    * batch: early emission would double-emit on a late match). State
    * stays bounded exactly as in the inner form — the range condition
    * derives both sides' retention. The sentinel rows close the stream so
    * the replay flushes its unmatched state; the rollup drops them.
    */
  /** The click/purchase interval join over the sentinel-closed staging,
    * parameterized by join type — the left- and full-outer operators share
    * everything except the null-padding sides and their rollups.
    */
  private def outerJoined(spark: SparkSession, dir: String, joinType: String): DataFrame = {
    val staged = stageOuter(spark, dir)
    val schema = spark.read.parquet(staged).schema
    def side(eventType: String, userName: String, tsName: String) = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
      .filter(col("event_type") === eventType)
      .select(col("user_id").as(userName), col("ts").cast("timestamp").as(tsName))
      .withWatermark(tsName, "1 hour")
    val clicks = side("click", "user_id", "click_ts")
    val purchases = side("purchase", "p_user", "p_ts")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
  }

  def leftOuterJoinCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(outerJoined(spark, dir, "leftOuter"), "append")
      .filter(col("user_id") >= 0)
      .groupBy("user_id").agg(
        count(lit(1)).as("n_rows"),
        count(col("p_ts")).as("n_matched"),
        (count(lit(1)) - count(col("p_ts"))).as("n_unmatched"))
      .orderBy("user_id")

  /** Stream-stream FULL OUTER interval join: the symmetric completion of
    * [[leftOuterJoinCounts]] — unmatched PURCHASES also emit null-padded
    * once the global watermark proves no qualifying click can still
    * arrive, so both sides' state is eviction-bounded and every event is
    * accounted for exactly once (matched, click-only, or purchase-only).
    * The same sentinel staging closes both watermarks; rows group by
    * whichever side's key survived.
    */
  def fullOuterJoinCounts(spark: SparkSession, dir: String): DataFrame =
    runToTable(outerJoined(spark, dir, "fullOuter"), "append")
      .filter(coalesce(col("user_id"), col("p_user")) >= 0)
      .select(coalesce(col("user_id"), col("p_user")).as("uid"),
        col("user_id"), col("p_ts"))
      .groupBy("uid").agg(
        count(lit(1)).as("n_rows"),
        count(when(col("user_id").isNotNull && col("p_ts").isNotNull, 1)).as("n_matched"),
        count(when(col("p_ts").isNull, 1)).as("n_click_only"),
        count(when(col("user_id").isNull, 1)).as("n_purchase_only"))
      .orderBy("uid")

  /** Stream-stream interval join (see the spec comment): two independent
    * readStream scans of the staged events, filtered to clicks and
    * purchases, joined per user within [click_ts, click_ts + 1h]. The
    * memory sink collects matched pairs (append); the batch-side rollup
    * makes the result oracle-comparable.
    */
  def streamStreamJoinCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    def side(eventType: String, tsName: String) = spark.readStream
      .schema(schema)
      .parquet(staged)
      .filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts").cast("timestamp").as(tsName))
      .withWatermark(tsName, "1 hour")
    val clicks = side("click", "click_ts")
    val purchases = side("purchase", "p_ts").withColumnRenamed("user_id", "p_user")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
    runToTable(joined, "append")
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join: the static dim side is planned as a
    * broadcast into every micro-batch; aggregation runs post-join in the
    * same streaming query.
    */
  def staticJoinCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val dim = spark.read.parquet(staged)
      .select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % 4)
    val stream = spark.readStream
      .schema(schema)
      .parquet(staged)
      .join(dim, "user_id")
      .groupBy("tier", "event_type").agg(count(lit(1)).as("n"))
    runToTable(stream, "complete").orderBy("tier", "event_type")
  }

  /** Streaming dedup: dropDuplicates keyed on (user_id, event_type) emits
    * each pair's first occurrence (append mode); the batch-side rollup of
    * the sink equals COUNT(DISTINCT user_id) per event_type. The watermark
    * lets the state store evict old keys on a real unbounded stream.
    */
  def dedupCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val firsts = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "24 hours")
      .dropDuplicates("user_id", "event_type")
    runToTable(firsts, "append")
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark):
    * unlike dropDuplicates — whose state for a non-event-time key set
    * lives forever — each key's state carries an expiry of
    * first-seen event time + the watermark delay, and is EVICTED the
    * moment the watermark passes it. That is the 100 TB contract for
    * deduplicating an unbounded ingest stream on a content key (state is
    * sized by the delay window, not by the key universe), at the cost of
    * re-admitting a key whose duplicate arrives after eviction —
    * StreamRecoverySpec pins that re-emission boundary with controlled
    * micro-batches. Here the delay (60 days) exceeds the fixture's event
    * span, so no eviction fires mid-replay and the sink's first
    * occurrences roll up to the batch distinct counts — the closed form
    * the oracle checks.
    */
  def dedupWithinWatermarkCounts(spark: SparkSession, dir: String): DataFrame = {
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val firsts = spark.readStream
      .schema(schema)
      .parquet(staged)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("user_id", "event_type", "ts")
      .withWatermark("ts", "60 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    runToTable(firsts, "append")
      .groupBy("user_id").agg(count(lit(1)).as("n_types"))
      .orderBy("user_id")
  }

  /** Custom per-key state (mapGroupsWithState): running per-user event
    * totals; the final state per user equals the batch count. At scale the
    * state store bounds memory per key and the shuffle is on user_id.
    */
  def statefulCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val updates = spark.readStream
      .schema(schema)
      .parquet(staged)
      .selectExpr("user_id")
      .as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          (user, total)
      }
      .toDF("user_id", "n")
    // Update mode appends one row per key per micro-batch; the max is the
    // final state.
    runToTable(updates, "update")
      .groupBy("user_id").agg(max(col("n")).as("n"))
      .orderBy("user_id")
  }

  /** Streaming quantile sketch: a fixed 64-bucket histogram of the value
    * column per event_type, maintained in GroupState (bounded: 64 longs
    * per key, regardless of stream length — the mergeable-summary
    * discipline of a production percentile monitor), with p50/p90/p99
    * bucket indices re-derived from the sketch on every batch. The
    * quantile rule is the exact integer form `smallest b with
    * 100·cum(b) >= q·n`, so the final emission equals the batch closed
    * form bit-for-bit; histogram increments commute, making the result
    * invariant to how the stream chops into micro-batches.
    */
  def quantileSketchCounts(spark: SparkSession, dir: String): DataFrame =
    quantileSketchFrom(spark, stage(spark, dir), Map.empty)

  /** Source-path variant: StreamRecoverySpec drives it with
    * maxFilesPerTrigger=1 over a multi-file copy to pin that micro-batch
    * chopping cannot change the sketch.
    */
  private[streaming] def quantileSketchFrom(
      spark: SparkSession, staged: String, opts: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val schema = spark.read.parquet(staged).schema
    val sketched = spark.readStream
      .schema(schema)
      .options(opts)
      .parquet(staged)
      .selectExpr("event_type", bucketSqlInt)
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[(String, Int)], state: GroupState[Seq[Long]]) =>
          val h = foldHistogram(rows, state)
          val n = h.sum
          def pct(q: Long): Int = {
            var cum = 0L
            var i = 0
            while (i < 64 && cum * 100 < q * n) { cum += h(i); i += 1 }
            math.max(0, i - 1)
          }
          (et, n, pct(50), pct(90), pct(99))
      }
      .toDF("event_type", "n", "p50_b", "p90_b", "p99_b")
    // Update mode re-emits the sketch read-off per batch; n is strictly
    // increasing, so the max-n row is the final state.
    runToTable(sketched, "update")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("p50_b"), col("p90_b"), col("p99_b"))).as("x"))
      .selectExpr("event_type", "x.n AS n",
        "CAST(x.p50_b AS INT) AS p50_b", "CAST(x.p90_b AS INT) AS p90_b",
        "CAST(x.p99_b AS INT) AS p99_b")
      .orderBy("event_type")
  }

  /** Fold a batch of bucket hits into the bounded 64-long histogram
    * state (shared by the sketch and drift processors).
    */
  private def foldHistogram(
      rows: Iterator[(String, Int)],
      state: org.apache.spark.sql.streaming.GroupState[Seq[Long]]): Array[Long] = {
    val h = state.getOption.map(_.toArray).getOrElse(Array.fill(64)(0L))
    rows.foreach { case (_, b) => h(b) += 1 }
    state.update(h.toIndexedSeq)
    h
  }

  /** Streaming distribution-drift monitor: the live value histogram per
    * event_type (same 64-bucket sketch as [[quantileSketchCounts]])
    * scores against a STATIC reference histogram (the event_id % 3 = 0
    * "training period" slice of the batch table) with a chi-square
    * statistic re-emitted per batch — the alert a serving pipeline keeps
    * on input drift. The reference is a constant ≤ |types| x 64 table
    * computed once and captured (the broadcast-artifact shape); state is
    * the bounded histogram; increments commute, so the FINAL emission
    * equals the batch closed form.
    *
    * Determinism: with add-1-smoothed reference mass R_b = r_b + 1 over
    * M = m + 64, each bucket contributes
    * FLOOR((o_b·M − n·R_b)² / (n·R_b·M) · 1e6) — the difference and the
    * denominator are exact integers below 2^53, the one square/divide
    * runs on identical doubles in both engines, and the per-bucket FLOOR
    * makes the 64-term sum an integer fold (exact in any order).
    */
  def driftAlertCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import spark.implicits._
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val bucketExpr = bucketSqlInt
    // constant-size reference artifact (types x 64), computed batch-side
    val ref: Map[String, Array[Long]] = spark.read.parquet(staged)
      .where("event_id % 3 = 0")
      .selectExpr("event_type", bucketExpr)
      .groupBy("event_type", "b").count()
      .collect()
      .groupBy(_.getString(0))
      .map { case (et, rows) =>
        val h = Array.fill(64)(0L)
        rows.foreach(r => h(r.getInt(1)) = r.getLong(2))
        et -> h
      }
    def chi2Micro(et: String, o: Array[Long], n: Long): Long = {
      val r = ref.getOrElse(et, Array.fill(64)(0L))
      val m = r.sum
      val bigM = m + 64
      var acc = 0L
      var b = 0
      while (b < 64) {
        val bigR = r(b) + 1
        val diff = (o(b) * bigM - n * bigR).toDouble
        acc += math.floor(diff * diff / (n * bigR * bigM).toDouble * 1000000).toLong
        b += 1
      }
      acc
    }
    val scored = spark.readStream
      .schema(schema)
      .parquet(staged)
      .where("event_id % 3 != 0")
      .selectExpr("event_type", bucketExpr)
      .as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[(String, Int)], state: GroupState[Seq[Long]]) =>
          val h = foldHistogram(rows, state)
          val n = h.sum
          (et, n, chi2Micro(et, h, n))
      }
      .toDF("event_type", "n", "chi2_micro")
    runToTable(scored, "update")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("chi2_micro"))).as("x"))
      .selectExpr("event_type", "x.n AS n", "x.chi2_micro AS chi2_micro")
      .orderBy("event_type")
  }

  /** Spark 4 `transformWithState` processor: per-user top-3 purchase
    * amounts in a single typed ValueState tuple (n_seen, top1..top3) —
    * bounded state per key, and the top-3-of-a-multiset merge commutes,
    * so the final emission is invariant to micro-batch chopping and
    * equals the batch window closed form. This is the NEW arbitrary-state
    * API (SPARK-40434, the mapGroupsWithState successor): typed state
    * handles acquired in init() from the processor handle, TTL-capable,
    * RocksDB-backed.
    */
  private class TopPurchasesProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Int, Long)] {
    private val Min = Long.MinValue
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Long)]("top3",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, Int, Long)] = {
      var (n, a, b, c) = Option(st.get()).getOrElse((0L, Min, Min, Min))
      rows.foreach { case (_, v) =>
        n += 1
        if (v >= a) { c = b; b = a; a = v }
        else if (v >= b) { c = b; b = v }
        else if (v > c) c = v
      }
      st.update((n, a, b, c))
      Seq((key, n, 1, a), (key, n, 2, b), (key, n, 3, c))
        .filter(_._4 != Min).iterator
    }
  }

  /** Streaming SCD2 dimension maintenance (the incremental twin of the
    * batch q_dim_scd2): per-key change history in a transformWithState
    * ListState, re-deriving the type-2 validity intervals whenever the
    * key's history changes. Handles OUT-OF-ORDER arrivals exactly — the
    * state is the (ts, seq, attr) change SET (same-ts collapsed to the
    * max-seq row, the batch dedupe rule), and interval derivation is a
    * pure function of that set, so the final emission is invariant to
    * micro-batch chopping AND to arrival order (Scd2StreamSpec pins both).
    * State per key = its collapsed change list — the SCD2 dimension
    * content itself, the honest lower bound for this operator (a
    * watermark-bounded deployment closes out versions older than the
    * watermark and spills them to the dimension table; the fixture replay
    * keeps the whole list).
    *
    * Update-mode re-emits the key's full current interval set per batch
    * with a monotone per-key change counter; the sink keeps each key's
    * max-counter emission (the top_purchases selection pattern).
    */
  private class Scd2Processor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, String), (Long, Long, String, Long, Long, Int)] {
    @transient private var hist: org.apache.spark.sql.streaming.ListState[(Long, Long, String)] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(
        outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      hist = getHandle.getListState[(Long, Long, String)]("changes",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("n_seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[(Long, Long, String, Long, Long, Int)] = {
      val incoming = rows.map { case (_, ts, seq, attr) => (ts, seq, attr) }.toVector
      val merged = (hist.get().toVector ++ incoming)
        .groupBy(_._1).map { case (_, g) => g.maxBy(_._2) }
        .toVector.sortBy(r => (r._1, r._2))
      hist.clear()
      merged.foreach(hist.appendValue)
      val n = Option(seen.get()).getOrElse(0L) + incoming.length
      seen.update(n)
      // run-length collapse on attr, then validity intervals
      val starts = merged.zipWithIndex.collect {
        case ((ts, _, attr), i) if i == 0 || merged(i - 1)._3 != attr => (ts, attr)
      }
      starts.zipWithIndex.iterator.map { case ((ts, attr), i) =>
        val vto = if (i + 1 < starts.length) starts(i + 1)._1 else Long.MinValue
        (key, n, attr, ts, vto, if (vto == Long.MinValue) 1 else 0)
      }
    }
  }

  /** Replay the orders change stream through [[Scd2Processor]] and read
    * off each key's final interval set (max per-key change counter).
    */
  def scd2Stream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val staged = stageOrders(spark, dir)
    val schema = spark.read.parquet(staged).schema
    withConf(spark, rocksDbProvider) {
      val reader = spark.readStream.schema(schema)
      val src = maxFilesPerTrigger
        .fold(reader)(m => reader.option("maxFilesPerTrigger", m))
        .parquet(staged)
        .as[(Long, Long, Long, String)]
      val out = src
        .groupByKey(_._1)
        .transformWithState(
          new Scd2Processor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("key", "n", "attr", "vfrom_us", "vto_us", "is_current")
      val drained = runToTable(out, "update")
      val latest = drained
        .withColumn("w", max("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy("key")))
        .where(col("n") === col("w"))
      latest.selectExpr("key", "attr", "vfrom_us",
          s"CASE WHEN vto_us = ${Long.MinValue}L THEN CAST(NULL AS BIGINT) ELSE vto_us END AS vto_us",
          "CAST(is_current AS INT) AS is_current")
        .orderBy("key", "vfrom_us")
    }
  }

  /** Replay purchases through [[TopPurchasesProcessor]]; update-mode
    * re-emits each key's current top-3 per batch with a monotone n_seen,
    * so the max-n_seen row per (user, rank) is the final state.
    * transformWithState requires the RocksDB state store; the provider is
    * pinned for the stream's session capture and restored after.
    */
  def topPurchasesCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    withConf(spark, rocksDbProvider) {
      val tops = spark.readStream
        .schema(schema)
        .parquet(staged)
        .where("event_type = 'purchase'")
        .selectExpr("user_id", "CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents")
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(
          new TopPurchasesProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n_seen", "rk", "cents")
      runToTable(tops, "update")
        .groupBy("user_id", "rk")
        .agg(max(struct(col("n_seen"), col("cents"))).as("x"))
        .selectExpr("user_id", "CAST(rk AS INT) AS rk", "x.cents AS cents")
        .orderBy("user_id", "rk")
    }
  }

  /** Multi-row custom state (flatMapGroupsWithState): per-user MILESTONE
    * emission — a row whenever a user's running event count crosses a
    * multiple of 10. Each invocation may emit zero or many rows (the
    * capability mapGroupsWithState lacks), and the emitted set is
    * batch-boundary-INVARIANT: a crossing happens exactly once no matter
    * how the stream is chopped into micro-batches, because each batch
    * emits the multiples inside (prev_count, new_count]. That invariance
    * is what makes the final sink oracle-comparable to the batch closed
    * form (floor(total/10) milestones per user), with no watermark or
    * timeout dependence.
    */
  def milestoneCounts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import spark.implicits._
    val staged = stage(spark, dir)
    val schema = spark.read.parquet(staged).schema
    val milestones = spark.readStream
      .schema(schema)
      .parquet(staged)
      .selectExpr("user_id")
      .as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Long],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + events.size
          state.update(now)
          ((prev / 10 + 1) to now / 10).iterator.map(m => (user, m * 10))
      }
      .toDF("user_id", "milestone")
    runToTable(milestones, "update")
      .orderBy("user_id", "milestone")
  }
}
