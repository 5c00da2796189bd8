package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.channels.Channels
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.SparkSession

import org.apache.spark.graftperfbench.SparkBridge

import graft.catalog.Metadata
import graft.engine.StaticSessionProvider
import graft.ipc.ArrowCodec
import graft.protocol.Commands.CommandGetTables
import graft.queries.Tables
import graft.service.{FlightSqlService, FlightSqlServiceConfig, SocketClient, SocketServer}

/** The Flight SQL traffic workloads. Clients run a closed loop over the
  * loopback `SocketServer`, taking requests from one seeded stream of blocks
  * with a fixed mix. Statement GetFlightInfo and every DoGet go over the
  * socket, the only calls `SocketClient` has; the prepared-statement and
  * metadata calls go to the same service instance from the client thread.
  */
object Serve {
  sealed trait Req {
    /** adhoc, repeat, prepared or metadata on serve_short; the scan name on serve_scan. */
    def kind: String
    /** Finer class the mix shares are fixed for; latency statistics weight by it. */
    def cls: String = kind
    /** Text whose `spark.sql(...).collect()` (or metadata call) is the expected result. */
    def expectKey: String
    def ordered: Boolean
    /** Set for single-key lookups, whose expected rows come from one IN-list query per table. */
    def lookup: Option[(Lookup, Long)] = None
  }
  final case class Stmt(kind: String, sql: String, ordered: Boolean, sub: String = "") extends Req {
    def expectKey: String = sql
    override def cls: String = if (sub.isEmpty) kind else s"${kind}_$sub"
  }
  final case class KeyStmt(by: Lookup, key: Long) extends Req {
    def kind = "adhoc"
    override def cls = s"adhoc_${by.table}"
    def ordered: Boolean = by.orderBy.nonEmpty
    def expectKey: String = by.sql(key.toString)
    override def lookup: Option[(Lookup, Long)] = Some((by, key))
  }
  final case class Prep(stmt: Int, value: Long, params: Array[Byte]) extends Req {
    def kind = "prepared"
    override def cls = s"prepared_${preparedLookups(stmt).table}"
    def ordered = true
    def expectKey: String = preparedLookups(stmt).sql(value.toString)
    override def lookup: Option[(Lookup, Long)] = Some((preparedLookups(stmt), value))
  }
  final case class MetaTables(pattern: String) extends Req {
    def kind = "metadata"
    override def cls = "metadata_tables"
    def ordered = true
    def expectKey = s"GetTables $pattern"
    def cmd: CommandGetTables = CommandGetTables(None, None, Some(pattern), Seq.empty, includeSchema = false)
  }
  case object MetaTableTypes extends Req {
    def kind = "metadata"
    override def cls = "metadata_tabletypes"
    def ordered = true
    def expectKey = "GetTableTypes"
  }

  /** `SELECT cols FROM table WHERE keyCol = key [ORDER BY orderBy]`. */
  final case class Lookup(cols: String, table: String, keyCol: String, orderBy: String) {
    def sql(key: String): String =
      s"SELECT $cols FROM $table WHERE $keyCol = $key" + (if (orderBy.isEmpty) "" else s" ORDER BY $orderBy")
    /** All keys' rows at once, key first, each key's rows in `orderBy` order. */
    def batchSql(keys: Iterable[Long]): String =
      s"SELECT $keyCol AS perfbench_key, $cols FROM $table WHERE $keyCol IN (${keys.mkString(",")}) " +
        "ORDER BY perfbench_key" + (if (orderBy.isEmpty) "" else s", $orderBy")
  }

  private val orderByKey = Lookup(
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate", "orders", "o_orderkey", "")
  private val customerByKey = Lookup(
    "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment", "customer", "c_custkey", "")
  private val preparedLookups = IndexedSeq(
    Lookup("o_orderkey, o_orderstatus, o_totalprice, o_orderdate", "orders", "o_custkey", "o_orderkey"),
    Lookup("l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount", "lineitem", "l_orderkey",
      "l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount"))
  val prepared: IndexedSeq[String] = preparedLookups.map(_.sql("$1"))

  val dashboards: IndexedSeq[String] = IndexedSeq(
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "SELECT n_name, COUNT(*) AS customers FROM customer JOIN nation ON c_nationkey = n_nationkey " +
      "GROUP BY n_name ORDER BY customers DESC, n_name LIMIT 10",
    "SELECT c_mktsegment, ROUND(AVG(c_acctbal), 2) AS avg_bal FROM customer " +
      "GROUP BY c_mktsegment ORDER BY c_mktsegment",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type")

  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val tablePatterns = Seq("%", "l%", "%order%", "c%", "e%", "%s")
  private val epochDay = java.time.LocalDate.parse("1995-01-01")
  private def date(r: Random, fromDay: Int, span: Int) = epochDay.plusDays(fromDay + r.nextInt(span)).toString

  /** A workload: client count, data scale, the percentile its tail latency
    * is reported at, whether a window runs on to the end of a block (single
    * client only), the mix share of each request class, one block of the mix
    * (the request stream is a seeded sequence of blocks) and the warm-up list.
    */
  final case class Spec(
      name: String,
      clients: Int,
      sf: Double,
      tailPct: Double,
      wholeBlocks: Boolean,
      shares: Map[String, Double],
      block: (Random, DataGen.Sizes, Int) => Seq[Req],
      warm: DataGen.Sizes => Seq[Req])

  private def adhoc(kind: Int, r: Random, z: DataGen.Sizes): Req = kind match {
    case 0 => KeyStmt(orderByKey, r.nextLong(z.orders))
    case 1 => KeyStmt(customerByKey, r.nextLong(z.customers))
    case 2 => Stmt("adhoc",
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty, " +
        "ROUND(SUM(l_extendedprice), 2) AS base, ROUND(AVG(l_discount), 4) AS disc FROM lineitem " +
        s"WHERE l_shipdate <= TIMESTAMP_NTZ'${date(r, 1200, 1200)} 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", ordered = true, "q1")
    case 3 =>
      val from = java.time.LocalDate.parse(date(r, 0, 2000))
      val disc = 2 + r.nextInt(7)
      Stmt("adhoc",
        "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue FROM lineitem " +
          s"WHERE l_shipdate >= TIMESTAMP_NTZ'$from 00:00:00' " +
          s"AND l_shipdate < TIMESTAMP_NTZ'${from.plusYears(1)} 00:00:00' " +
          s"AND l_discount BETWEEN ${disc - 1}e-2 AND ${disc + 1}e-2 AND l_quantity < ${20 + r.nextInt(11)}",
        ordered = true, "q6")
    case _ => Stmt("adhoc",
      "SELECT c_custkey, c_name, ROUND(SUM(o_totalprice), 2) AS total FROM customer " +
        "JOIN orders ON c_custkey = o_custkey " +
        s"WHERE c_mktsegment = '${segments(r.nextInt(segments.size))}' " +
        s"AND o_orderdate >= TIMESTAMP_NTZ'${date(r, 0, 1800)} 00:00:00' " +
        "GROUP BY c_custkey, c_name ORDER BY total DESC, c_custkey LIMIT 10", ordered = true, "top10")
  }

  private def repeat(i: Int): Req = Stmt("repeat", dashboards(i), ordered = true, i.toString)

  private def prep(stmt: Int, r: Random, z: DataGen.Sizes): Req = {
    val v = r.nextLong(if (stmt == 0) z.customers else z.orders)
    Prep(stmt, v, paramStream(v))
  }

  private def meta(r: Random, i: Int): Req =
    if (i == 0) MetaTables(tablePatterns(r.nextInt(tablePatterns.size))) else MetaTableTypes

  val short: Spec = Spec(
    name = "serve_short", clients = 4, sf = 0.1, tailPct = 0.9, wholeBlocks = false,
    shares = Map("adhoc_orders" -> 0.1, "adhoc_customer" -> 0.1, "adhoc_q1" -> 0.05, "adhoc_q6" -> 0.05,
      "adhoc_top10" -> 0.1, "prepared_orders" -> 0.15, "prepared_lineitem" -> 0.15,
      "metadata_tables" -> 0.05, "metadata_tabletypes" -> 0.05) ++
      dashboards.indices.map(i => s"repeat_$i" -> 0.2 / dashboards.size),
    // Block i, 10 requests in seeded order: 4 ad hoc (order and customer
    // lookups, a Q1-style aggregate in even blocks and a Q6-style one in odd
    // blocks, a top-10 join), 2 dashboard repeats (dashboards cycle), 3
    // prepared, 1 metadata (GetTables in even blocks, GetTableTypes in odd).
    block = (r, z, i) => r.shuffle(
      Seq(0, 1, 2 + i % 2, 4).map(adhoc(_, r, z)) ++
        Seq(repeat(2 * i % dashboards.size), repeat((2 * i + 1) % dashboards.size)) ++
        Seq(0, 1, i % 2).map(prep(_, r, z)) ++
        Seq(meta(r, i % 2))),
    warm = z => {
      val r = new Random(0)
      (0 to 4).map(adhoc(_, r, z)) ++ dashboards.indices.map(repeat) ++
        Seq(0, 1).map(prep(_, r, z)) ++ Seq(0, 1).map(meta(r, _))
    })

  private def range(kind: String, keys: Long, r: Random, z: DataGen.Sizes): Req = {
    val lo = r.nextLong(z.orders - keys)
    Stmt(kind, s"SELECT * FROM lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + keys - 1}", ordered = false)
  }

  private val fullLineitem = Stmt("full_lineitem", "SELECT * FROM lineitem", ordered = false)
  private val embeddings = Stmt("embeddings", "SELECT * FROM embeddings", ordered = false)
  private val documents = Stmt("documents", "SELECT doc_id, text FROM documents", ordered = false)

  val scan: Spec = Spec(
    // One full-table scan takes about half of a block, so the window always
    // ends on a block boundary: every class is measured in every run.
    name = "serve_scan", clients = 1, sf = 0.1, tailPct = 0.85, wholeBlocks = true,
    shares = Map("range_20k" -> 4.0 / 11, "range_100k" -> 2.0 / 11, "full_lineitem" -> 1.0 / 11,
      "embeddings" -> 2.0 / 11, "documents" -> 2.0 / 11),
    // Fixed order, seeded range bounds; lineitem holds 4 rows per order key,
    // so 5,000 keys ~ 2e4 rows and 25,000 ~ 1e5.
    block = (r, z, _) => Seq(
      range("range_20k", 5000, r, z), embeddings, range("range_100k", 25000, r, z), documents,
      fullLineitem, range("range_20k", 5000, r, z), embeddings, range("range_100k", 25000, r, z),
      documents, range("range_20k", 5000, r, z), range("range_20k", 5000, r, z)),
    warm = z => {
      val r = new Random(0)
      Seq(range("range_20k", 5000, r, z), embeddings, documents)
    })

  /** One-row Arrow IPC parameter stream binding `$1` to a BIGINT. */
  def paramStream(v: Long): Array[Byte] = {
    val allocator = new RootAllocator(Long.MaxValue)
    val field = new Field("$1", FieldType.notNullable(new ArrowType.Int(64, true)), null)
    val root = VectorSchemaRoot.create(new Schema(java.util.List.of(field)), allocator)
    try {
      val vec = root.getVector(0).asInstanceOf[BigIntVector]
      vec.allocateNew(1); vec.set(0, v); root.setRowCount(1)
      val out = new ByteArrayOutputStream()
      val w = new ArrowStreamWriter(root, null, Channels.newChannel(out))
      w.start(); w.writeBatch(); w.end(); w.close()
      out.toByteArray
    } finally { root.close(); allocator.close() }
  }

  /** A started service with its connected clients. */
  final class Stack(
      val spark: SparkSession,
      val service: FlightSqlService,
      val server: SocketServer,
      val clients: IndexedSeq[SocketClient],
      val handles: IndexedSeq[IndexedSeq[Array[Byte]]]) {
    def close(): Unit = {
      clients.foreach(c => try c.close() catch { case _: Exception => () })
      server.stop()
      spark.stop()
    }
  }

  final case class Sample(
      kind: String, cls: String, start: Long, end: Long,
      rows: Long, bytes: Long, error: Option[String], key: String) {
    def ms: Double = (end - start) / 1e6
  }

  def run(env: Env, spec: Spec): Outcome = {
    val args = env.args
    val tracer = new Tracer(spec.clients)
    val routes = new ConcurrentHashMap[String, AtomicLong]()
    def route(name: String): Unit = { routes.computeIfAbsent(name, _ => new AtomicLong()).incrementAndGet(); () }

    val (dir, datagenS) = Stats.timed(env.data(spec.sf))
    val sizes = DataGen.Sizes(spec.sf)

    def execute(stack: Stack, c: Int, req: Req): (Long, Seq[Seq[Any]], Long) = {
      val client = stack.clients(c)
      def doGet(ticket: Array[Byte]): Array[Byte] = {
        route("socket.doget")
        tracer.span("client.doget", "request")(client.doGet(ticket))
      }
      val t0 = System.nanoTime()
      val bytes = req match {
        case p: Prep =>
          route("direct.doput_prepared"); route("direct.flightinfo_prepared")
          val bound = tracer.span("direct.doput", "request")(
            stack.service.doPutPreparedStatementQuery(stack.handles(c)(p.stmt), p.params))
          val info = tracer.span("direct.flightinfo", "request")(stack.service.getFlightInfoPreparedStatement(bound))
          doGet(info.ticket)
        case m: MetaTables =>
          route("direct.flightinfo_tables")
          doGet(tracer.span("direct.flightinfo", "request")(stack.service.getFlightInfoTables(m.cmd)).ticket)
        case MetaTableTypes =>
          route("direct.flightinfo_tabletypes")
          doGet(tracer.span("direct.flightinfo", "request")(stack.service.getFlightInfoTableTypes()).ticket)
        case statement =>
          route("socket.flightinfo_statement")
          val (_, ticket) = tracer.span("client.flightinfo", "request")(
            client.getFlightInfoStatement(statement.expectKey))
          doGet(ticket)
      }
      val rows = tracer.span("client.decode", "request")(ArrowCodec.decode(bytes).rows)
      (t0, rows, bytes.length.toLong)
    }

    /** Set-up: Spark session, views, service, server, connected clients and
      * their prepared statements.
      */
    def setUp(traced: Boolean): Stack = {
      val spark = env.session()
      Tables.registerAll(spark, dir)
      val provider = new StaticSessionProvider(spark)
      val service =
        if (traced) new TracedService(provider, tracer) else new FlightSqlService(provider, FlightSqlServiceConfig())
      val server = new SocketServer(service)
      val port = server.start()
      val clients = (0 until spec.clients).map(_ => new SocketClient("127.0.0.1", port))
      clients.zipWithIndex.foreach { case (cl, c) => cl.getFlightInfoStatement(Identity.sql(c)) }
      val handles = clients.indices.map { _ =>
        route("direct.create_prepared")
        prepared.map(service.createPreparedStatement(_).handle)
      }
      new Stack(spark, service, server, clients, handles)
    }

    // Set up several times and keep the last stack; set-up time is the median.
    val setups = (1 to env.setUps).map { i =>
      val (stack, s) = Stats.timed(setUp(args.trace))
      if (i < env.setUps) stack.close()
      (stack, s)
    }
    val stack = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    Stats.log(s"set-ups: ${setups.map(_._2)}")

    // Untimed warm-up: the warm list once, spread over the clients.
    val warm = spec.warm(sizes).zipWithIndex
    val warmLatency = new ConcurrentLinkedQueue[java.lang.Double]()
    val (_, warmS) = Stats.timed(inParallel(spec.clients) { c =>
      warm.filter(_._2 % spec.clients == c).foreach { case (req, _) =>
        val t0 = System.nanoTime()
        execute(stack, c, req)
        warmLatency.add((System.nanoTime() - t0) / 1e9)
      }
    })

    // One request stream shared by the clients: blocks generated from the
    // seed before any timing, as many as the warm latency says the run will
    // use if requests get 30% faster. A stream that runs out starts over;
    // the record counts it.
    val blockSize = spec.block(new Random(0), sizes, 0).size
    val warmMedian = Stats.median(warmLatency.asScala.toSeq.map(_.doubleValue))
    val blocks = math.min(400, math.max(1,
      math.ceil(spec.clients * args.seconds / (0.7 * warmMedian) / blockSize).toInt))
    val stream: IndexedSeq[Req] = {
      val r = new Random(args.seed)
      (0 until blocks).flatMap(spec.block(r, sizes, _))
    }

    Stats.log(s"warm-up ${warmS}s; $blocks blocks of $blockSize requests")
    val (expected, expectedS) = Stats.timed(expectedResults(stack.spark, stream, env.cpus))
    Stats.log(s"expected results ${expectedS}s")

    val cursor = new java.util.concurrent.atomic.AtomicInteger(0)
    val reqIds = new AtomicLong()

    /** Closed loop: each client takes the next request of the shared stream
      * until `seconds` elapse (and, for whole-block workloads, the stream is
      * at a block boundary); requests issued before then all complete and
      * count.
      */
    def measure(seconds: Double): Seq[Sample] = {
      System.gc() // every window starts from a collected heap
      val samples = new ConcurrentLinkedQueue[Sample]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      inParallel(spec.clients) { c =>
        tracer.bindThread(c)
        while (System.nanoTime() < deadline || (spec.wholeBlocks && cursor.get % blockSize != 0)) {
          val req = stream(cursor.getAndIncrement() % stream.size)
          val id = reqIds.incrementAndGet()
          tracer.begin(c, id)
          val s0 = System.nanoTime()
          val sample =
            try {
              val (start, rows, bytes) = execute(stack, c, req)
              val end = System.nanoTime()
              tracer.add("request", "", start, end, id)
              val fp = Check.of(rows.iterator)
              val ok = expected.get(req.expectKey).exists(_.matches(fp, req.ordered))
              Sample(req.kind, req.cls, start, end, rows.size.toLong, bytes,
                if (ok) None else Some(s"wrong result: $fp vs ${expected.get(req.expectKey)}"), req.expectKey)
            } catch {
              case e: Exception =>
                Sample(req.kind, req.cls, s0, System.nanoTime(), 0, 0,
                  Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), req.expectKey)
            }
          samples.add(sample)
        }
      }
      samples.asScala.toSeq
    }

    /** End-to-end metrics of the designed mix: each sample is weighted by
      * its class's mix share over the class's sample count, so a window that
      * happened to hold more of one class does not shift the result.
      * Throughput follows from the weighted mean latency by Little's law for
      * a closed loop: clients / mean latency.
      */
    def endToEnd(samples: Seq[Sample]): ListMap[String, Metric] = {
      val counts = samples.groupBy(_.cls).map { case (k, v) => k -> v.size }
      val present = spec.shares.filter { case (k, _) => counts.contains(k) }
      val total = present.values.sum
      val w = samples.map(x => present.getOrElse(x.cls, 0.0) / total / counts(x.cls))
      def wmean(f: Sample => Double) = samples.zip(w).map { case (x, wi) => f(x) * wi }.sum
      val reqPerS = spec.clients / (wmean(_.ms) / 1e3)
      ListMap(
        "setup_s" -> Metric(setupS, "s"),
        "lat_p50_ms" -> Metric(Stats.weightedQuantile(samples.map(_.ms), w, 0.5), "ms"),
        "lat_tail_ms" -> Metric(Stats.weightedQuantile(samples.map(_.ms), w, spec.tailPct), "ms"),
        "req_per_s" -> Metric(reqPerS, "req/s"),
        "rows_per_s" -> Metric(reqPerS * wmean(_.rows.toDouble), "rows/s"),
        "ipc_mb_per_s" -> Metric(reqPerS * wmean(_.bytes.toDouble) / 1e6, "MB/s"),
        "pass_s" -> Metric(blockSize / reqPerS, "s"),
        "rss_peak_mb" -> Metric(Jvm.rssPeakMb, "MB"))
    }
    def mainMetric(m: ListMap[String, Metric]): Double =
      if (spec.clients > 1) m("lat_p50_ms").value else m("rows_per_s").value

    val setupRoutes = routes.asScala.map { case (k, v) => k -> v.getAndSet(0) }.toMap
    val gc0 = Jvm.gcMs
    val plain = measure(if (args.trace) args.seconds / 2 else args.seconds)
    val plainMetrics = endToEnd(plain)

    val (all, metrics, layerRecord) =
      if (!args.trace) (plain, plainMetrics, Map.empty[String, Any])
      else {
        val traced = stack.service.asInstanceOf[TracedService]
        val listener = new SparkTrace
        stack.spark.sparkContext.addSparkListener(listener)
        Jvm.resetHeapPeak()
        val gcT0 = Jvm.gcMs
        tracer.on = true
        val t0 = System.nanoTime()
        val tr = measure(args.seconds / 2)
        val trWall = (System.nanoTime() - t0) / 1e9
        tracer.on = false
        val gcS = (Jvm.gcMs - gcT0) / 1e3
        SparkBridge.drainListenerBus(stack.spark)
        stack.spark.sparkContext.removeSparkListener(listener)
        tracer.addSpark(listener, "request", oneCaller = spec.clients == 1)
        val trMetrics = endToEnd(tr)
        val overhead = {
          val (u, t) = (mainMetric(plainMetrics), mainMetric(trMetrics))
          if (spec.clients > 1) t / u - 1 else u / t - 1
        }
        val layers = serveLayers(spec, tracer, traced, listener, tr, trWall, env.cpus, gcS, plain, overhead) ++
          ListMap("check.expected_s" -> Metric(expectedS, "s"), "check.datagen_s" -> Metric(datagenS, "s"))
        val selfMs = tracer.selfMsByName(Seq("request", "client.flightinfo", "client.doget", "client.decode",
          "direct.doput", "direct.flightinfo")).map { case (k, v) => k -> v / math.max(1, tr.size) }
        (plain ++ tr, layers, Map("traced_end_to_end" -> trMetrics, "self_ms_per_request" -> selfMs))
      }

    val failures = all.filter(_.error.nonEmpty)
    Stats.log(s"measured ${all.size} requests, ${failures.size} failed")
    stack.close()
    val record = Map(
      "workload" -> spec.name, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "git_commit" -> args.gitCommit, "source_sha" -> args.sourceSha, "cpus" -> env.cpus,
      "clients" -> spec.clients, "loop" -> "closed", "sf" -> spec.sf, "sf_dir" -> dir,
      "mix_shares" -> spec.shares, "block_size" -> blockSize, "stream_blocks" -> blocks,
      "request_stream_wraps" -> math.max(0, cursor.get - 1) / stream.size,
      "service_config" -> FlightSqlServiceConfig().toString,
      "tail_percentile" -> spec.tailPct * 100, "samples" -> plain.size,
      "samples_beyond_tail" -> plain.count(_.ms > plainMetrics("lat_tail_ms").value),
      "samples_by_class" -> plain.groupBy(_.cls).map { case (k, v) => k -> v.size },
      "setup_s_each" -> setups.map(_._2), "warm_s" -> warmS, "expected_s" -> expectedS,
      "datagen_s" -> datagenS,
      "gc_s" -> (Jvm.gcMs - gc0) / 1e3,
      "routes_setup_and_warmup" -> setupRoutes,
      "routes_timed" -> routes.asScala.map { case (k, v) => k -> v.get }.toMap,
      "requests_by_kind" -> all.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "p50_ms_by_class" -> plain.groupBy(_.cls).map { case (k, v) => k -> Stats.median(v.map(_.ms)) },
      "error_rate" -> failures.size.toDouble / math.max(1, all.size),
      "failures" -> failures.take(20).map(f => Map("kind" -> f.kind, "request" -> f.key, "error" -> f.error)),
      "metrics" -> metrics) ++ layerRecord
    Outcome(all.size.toLong, failures.size.toLong, metrics.toSeq, record,
      if (args.trace) Some(tracer.toJson) else None)
  }

  private def serveLayers(
      spec: Spec, tracer: Tracer, svc: TracedService, spark: SparkTrace, samples: Seq[Sample],
      wall: Double, cpus: Int, gcS: Double, untraced: Seq[Sample], overhead: Double): ListMap[String, Metric] = {
    val n = math.max(1, samples.size).toDouble
    val by = tracer.byName
    def spans(name: String, parent: String = null) =
      by.getOrElse(name, Nil).filter(s => parent == null || s.parent == parent)
    def meanMs(name: String) = Stats.mean(spans(name).map(_.ms))
    def sumMs(name: String, parent: String = null) = spans(name, parent).map(_.ms).sum
    val socketService = sumMs("service.flightinfo", "client.flightinfo") +
      sumMs("service.doget_call") + sumMs("service.stream")
    val rows = samples.map(_.rows).sum
    def kindP50(kinds: String*) = Stats.median(untraced.filter(s => kinds.contains(s.kind)).map(_.ms))
    val jobs = spark.jobList
    ListMap(
      "transport.rpc_overhead_ms" -> Metric(
        (sumMs("client.flightinfo") + sumMs("client.doget") - socketService) / n, "ms"),
      "transport.frames_per_req" -> Metric(svc.frames.get / n, "count"),
      "transport.bytes_per_req" -> Metric(svc.frameBytes.get / n, "B"),
      "service.flightinfo_ms" -> Metric(meanMs("service.flightinfo"), "ms"),
      "service.doput_ms" -> Metric(meanMs("service.doput"), "ms"),
      "service.doget_call_ms" -> Metric(meanMs("service.doget_call"), "ms"),
      "service.first_frame_ms" -> Metric(meanMs("service.first_frame"), "ms"),
      "service.first_batch_ms" -> Metric(meanMs("service.first_batch"), "ms"),
      "service.stream_ms" -> Metric(meanMs("service.stream"), "ms"),
      "service.stream_cpu_ms" -> Metric(meanMs("service.stream_cpu"), "ms"),
      "service.plan_calls_per_req" -> Metric(svc.planCalls.get / n, "count"),
      "ipc.decode_ms" -> Metric(sumMs("client.decode") / n, "ms"),
      "ipc.bytes_per_row" -> Metric(samples.map(_.bytes).sum.toDouble / math.max(1L, rows), "B"),
      "spark.jobs_per_req" -> Metric(jobs.size / n, "count"),
      "spark.stages_per_req" -> Metric(spark.stageSpans.size / n, "count"),
      "spark.tasks_per_req" -> Metric(spark.tasks.get / n, "count"),
      "spark.executor_run_s" -> Metric(spark.runMs.get / 1e3, "s"),
      "spark.executor_cpu_s" -> Metric(spark.cpuNs.get / 1e9, "s"),
      "spark.shuffle_write_mb" -> Metric(spark.shuffleWrite.get / 1e6, "MB"),
      "spark.shuffle_read_mb" -> Metric(spark.shuffleRead.get / 1e6, "MB"),
      "spark.busy_frac" -> Metric(spark.runMs.get / 1e3 / (wall * cpus), "fraction"),
      "jvm.gc_s" -> Metric(gcS, "s"),
      "jvm.heap_peak_mb" -> Metric(Jvm.heapPeakMb, "MB"),
      "client.adhoc_p50_ms" -> Metric(kindP50("adhoc"), "ms"),
      "client.repeat_p50_ms" -> Metric(kindP50("repeat"), "ms"),
      "client.prepared_p50_ms" -> Metric(kindP50("prepared"), "ms"),
      "client.metadata_p50_ms" -> Metric(kindP50("metadata"), "ms"),
      "client.error_rate" -> Metric(untraced.count(_.error.nonEmpty).toDouble / math.max(1, untraced.size), "fraction"),
      "tracing.overhead_frac" -> Metric(overhead, "fraction"))
  }

  /** Expected fingerprint per request text, computed without the service
    * or the wire: `spark.sql(text).collect()` for statements, one IN-list
    * query per lookup table for single-key lookups, and the `Metadata`
    * builders for catalog calls.
    */
  private def expectedResults(spark: SparkSession, reqs: Seq[Req], threads: Int): Map[String, Fingerprint] = {
    val out = new ConcurrentHashMap[String, Fingerprint]()
    val (lookups, others) = reqs.groupBy(_.expectKey).values.map(_.head).toSeq.partition(_.lookup.nonEmpty)
    val lookupJobs = lookups.groupBy(_.lookup.get._1).toSeq.map { case (by, rs) => () =>
      val keys = rs.map(_.lookup.get._2).distinct
      val rows = spark.sql(by.batchSql(keys)).collect().groupBy(_.getLong(0))
      keys.foreach { k =>
        val fp = Check.of(rows.getOrElse(k, Array.empty).iterator.map(_.toSeq.drop(1)))
        out.put(by.sql(k.toString), fp)
      }
    }
    val otherJobs = others.map { req => () =>
      val fp = req match {
        case m: MetaTables => Check.ofRows(Metadata.tables(spark, m.cmd).collect())
        case MetaTableTypes => Check.ofRows(Metadata.tableTypes(spark).collect())
        case other => Check.ofRows(spark.sql(other.expectKey).collect())
      }
      out.put(req.expectKey, fp)
    }
    val pool = Executors.newFixedThreadPool(threads)
    val futures = (lookupJobs ++ otherJobs).map(job => pool.submit(new Runnable { def run(): Unit = { job(); () } }))
    pool.shutdown()
    futures.foreach(_.get())
    out.asScala.toMap
  }

  /** Run `body(c)` for c in 0 until n on n threads and wait for all. */
  def inParallel(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => errors.add(e); () }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}
