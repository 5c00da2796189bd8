package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of the staged-artifact memo policy: every
  * build-once-serve-many intermediate (signatures, posting lists, kNN and
  * HNSW edges, CC labels, IVF cells, mix weights) is a `Value` or `Views`
  * declared by its operator and memoized here.
  *
  *  - Key: (session, dir, optional arg). The session is part of the key
  *    because a memoized frame registers its views in the session that
  *    built it, and its plan belongs to that session.
  *  - Bound: each declared artifact keeps at most `Capacity` keys in LRU
  *    order, in its own map, so one artifact's traffic never evicts
  *    another's entry (a shared LRU would rebuild e.g. the Borůvka run
  *    that the MST census and the single-linkage cut share).
  *  - Builds go through [[LruMemo]]: they run inside [[Staging.pinned]],
  *    so the frames they stage outlive [[Staging.releaseTransient]], and
  *    outermost builds add their seconds to [[Staging.memoLedgerNanos]].
  *    A build that throws is retried by the next caller.
  */
object Artifacts {
  private val Capacity = 8

  /** Value form: memoizes whatever `build` returns. */
  final class Value[V] {
    private val memo = new LruMemo[(SparkSession, String, Any), V](Capacity)

    def apply(s: SparkSession, d: String, arg: Any = ())(build: => V): V =
      memo.getOrElseUpdate((s, d, arg))(build)
  }

  /** Views form: memoizes (view name, frame) pairs and registers each
    * frame as a temp view of `s` on every call, a hit as well as a miss,
    * because other queries re-point the same view names.
    */
  final class Views {
    private val frames = new Value[Seq[(String, DataFrame)]]

    def apply(s: SparkSession, d: String, arg: Any = ())(
        build: => Seq[(String, DataFrame)]): Unit =
      frames(s, d, arg)(build).foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }
}
