package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.engine.SessionProvider
import graft.ipc.ArrowCodec
import graft.protocol.Commands.{CommandGetTables, CommandPreparedStatementQuery, CommandStatementQuery, CommandTicket}
import graft.service.{FlightInfo, FlightSqlService}

/** One timed interval. `req` is the request id (-1 outside any request),
  * `parent` the name of the enclosing span, times are System.nanoTime.
  */
final case class Span(req: Long, name: String, parent: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span store for the traced run; written out when the run ends.
  * Client threads announce which client they are; server worker threads
  * are bound to a client by the identity statement each connection sends
  * first, so a server-side span finds the request its client has in flight.
  */
final class Tracer(clients: Int) {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new AtomicLongArray(math.max(1, clients))
  private val clientOfThread = new java.util.concurrent.ConcurrentHashMap[Thread, Integer]()

  def bindThread(client: Int): Unit = { clientOfThread.put(Thread.currentThread(), client); () }
  def begin(client: Int, req: Long): Unit = current.set(client, req)

  def requestOfThisThread: Long = {
    val c = clientOfThread.get(Thread.currentThread())
    if (c == null) -1L else current.get(c)
  }

  def add(name: String, parent: String, start: Long, end: Long, req: Long = requestOfThisThread): Unit =
    if (on) { spans.add(Span(req, name, parent, start, end)); () }

  def span[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(name, parent, t0, System.nanoTime())
  }

  /** Spark jobs and stages as `spark.job` / `spark.stage` spans under
    * `root`. With one caller each belongs to the `root` span whose interval
    * holds its start; otherwise Spark jobs carry no request tag and get
    * request -1.
    */
  def addSpark(spark: SparkTrace, root: String, oneCaller: Boolean): Unit = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000
    val roots = spans.asScala.filter(_.name == root).toSeq
    def add(name: String, startMs: Long, endMs: Long): Unit = {
      val start = (startMs - offsetMs) * 1000000
      val end = if (endMs < startMs) start else (endMs - offsetMs) * 1000000
      val req =
        if (!oneCaller) -1L
        else roots.find(s => s.start <= start && start <= s.end).map(_.req).getOrElse(-1L)
      spans.add(Span(req, name, root, start, end))
    }
    spark.jobList.foreach(j => add("spark.job", j.startMs, j.endMs))
    spark.stageSpans.forEach { case (startMs, endMs) => add("spark.stage", startMs, endMs) }
  }

  /** Self time per span name, summed over spans, in ms. */
  def selfMsByName(names: Seq[String]): Map[String, Double] = names.map(n => n -> selfMs(n)).toMap

  def byName: Map[String, Seq[Span]] = spans.asScala.toSeq.groupBy(_.name)

  /** Span time not covered by its children (children = spans of the same
    * request whose parent is this span's name, inside its interval).
    */
  def selfMs(name: String): Double = {
    val all = spans.asScala.toSeq
    val kids = all.filter(_.parent == name).groupBy(_.req)
    all.filter(_.name == name).map { s =>
      val covered = kids.getOrElse(s.req, Nil)
        .filter(k => k.start >= s.start && k.end <= s.end)
        .sortBy(_.start)
        .foldLeft((0L, s.start)) { case ((sum, edge), k) =>
          val from = math.max(edge, k.start)
          (sum + math.max(0L, k.end - from), math.max(edge, k.end))
        }._1
      (s.end - s.start - covered) / 1e6
    }.sum
  }

  def toJson: String = Json(spans.asScala.toSeq)
}

/** The `FlightSqlService` endpoints, timed. The returned stream's frames
  * are timed per pull: the first pull is the schema frame (optimize,
  * physical planning, AQE stages before the final one), the second the
  * first record batch; CPU time of the pulling thread comes from
  * ThreadMXBean.
  */
final class TracedService(provider: SessionProvider, tracer: Tracer)
    extends FlightSqlService(provider) {
  private val threads = ManagementFactory.getThreadMXBean
  val planCalls = new AtomicLong(0)
  val frames = new AtomicLong(0)
  val frameBytes = new AtomicLong(0)

  private def countPlan(): Unit = if (tracer.on) { planCalls.incrementAndGet(); () }

  override def getFlightInfoStatement(sql: String, meta: Map[String, String]): FlightInfo = {
    Identity.clientOf(sql).foreach(tracer.bindThread)
    countPlan()
    tracer.span("service.flightinfo", "client.flightinfo")(super.getFlightInfoStatement(sql, meta))
  }

  override def getFlightInfoPreparedStatement(handle: Array[Byte], meta: Map[String, String]): FlightInfo = {
    countPlan()
    tracer.span("service.flightinfo", "direct.flightinfo")(super.getFlightInfoPreparedStatement(handle, meta))
  }

  override def getFlightInfoTables(cmd: CommandGetTables, meta: Map[String, String]): FlightInfo =
    tracer.span("service.flightinfo", "direct.flightinfo")(super.getFlightInfoTables(cmd, meta))

  override def getFlightInfoTableTypes(meta: Map[String, String]): FlightInfo =
    tracer.span("service.flightinfo", "direct.flightinfo")(super.getFlightInfoTableTypes(meta))

  override def doPutPreparedStatementQuery(
      handle: Array[Byte], params: Array[Byte], meta: Map[String, String]): Array[Byte] =
    tracer.span("service.doput", "direct.doput")(super.doPutPreparedStatementQuery(handle, params, meta))

  override def doGet(ticket: Array[Byte], meta: Map[String, String]): ArrowCodec.EncodedStream = {
    val entry = System.nanoTime()
    val req = tracer.requestOfThisThread
    CommandTicket.decode(ticket).command match {
      case _: CommandStatementQuery | _: CommandPreparedStatementQuery => countPlan()
      case _ => ()
    }
    val stream = super.doGet(ticket, meta)
    tracer.add("service.doget_call", "client.doget", entry, System.nanoTime(), req)
    if (!tracer.on) stream
    else {
      val inner = stream.frames
      val timed = new Iterator[Array[Byte]] {
        private var pulls = 0
        private var pullNs = 0L
        private var cpuNs = 0L
        private var done = false
        def hasNext: Boolean = {
          val more = inner.hasNext
          if (!more && !done) {
            done = true
            tracer.add("service.stream", "client.doget", entry, entry + pullNs, req)
            tracer.add("service.stream_cpu", "client.doget", entry, entry + cpuNs, req)
          }
          more
        }
        def next(): Array[Byte] = {
          val c0 = threads.getCurrentThreadCpuTime
          val t0 = System.nanoTime()
          val frame = inner.next()
          val t1 = System.nanoTime()
          pullNs += t1 - t0
          cpuNs += threads.getCurrentThreadCpuTime - c0
          pulls += 1
          frames.incrementAndGet(); frameBytes.addAndGet(frame.length)
          if (pulls == 1) tracer.add("service.first_frame", "client.doget", t0, t1, req)
          if (pulls == 2) tracer.add("service.first_batch", "client.doget", entry, t1, req)
          frame
        }
      }
      stream.copy(frames = timed)
    }
  }
}

/** The statement each client connection sends first, naming its client. */
object Identity {
  private val pattern = """SELECT (\d+) AS perfbench_client""".r
  def sql(client: Int): String = s"SELECT $client AS perfbench_client"
  def clientOf(sql: String): Option[Int] = sql match {
    case pattern(n) => Some(n.toInt)
    case _ => None
  }
}

/** One Spark job, wall-clock ms. */
final case class SparkJob(id: Int, startMs: Long, var endMs: Long)

/** Spark scheduler events of the traced window: jobs and stages as spans
  * (wall-clock ms), task metrics as sums.
  */
final class SparkTrace extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, SparkJob]()
  val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  val tasks = new AtomicLong(0)
  val runMs = new AtomicLong(0)
  val cpuNs = new AtomicLong(0)
  val shuffleWrite = new AtomicLong(0)
  val shuffleRead = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, SparkJob(e.jobId, e.time, -1L)); ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stageSpans.add((s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L))); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
    ()
  }

  def jobList: Seq[SparkJob] = jobs.values.asScala.toSeq.sortBy(_.startMs)
  def jobsIn(fromMs: Long, toMs: Long): Int = jobList.count(j => j.startMs >= fromMs && j.startMs <= toMs)
}

/** JVM counters: GC time, heap pool peaks, process peak RSS. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set (VmHWM) of this process, in MB. */
  def rssPeakMb: Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
