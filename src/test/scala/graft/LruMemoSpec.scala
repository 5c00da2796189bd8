package graft

import org.scalatest.funsuite.AnyFunSuite

/** The staged-intermediate memos (graft.Artifacts, the Tables loader plans)
  * must evict ONLY the least-recently-used entry past capacity — a ninth
  * tenant arriving on a shared server must not cold-start the other
  * eight (the old clear()-the-world behavior).
  */
class LruMemoSpec extends AnyFunSuite {

  test("inserting a 9th entry evicts only the least-recently-used of 8") {
    val memo = new LruMemo[Int, String](8)
    var computes = 0
    def get(k: Int): String = memo.getOrElseUpdate(k) { computes += 1; s"v$k" }

    (1 to 8).foreach(get)
    assert(computes == 8 && memo.size == 8)

    get(1) // touch 1 so 2 becomes the LRU entry
    assert(computes == 8, "touch is a hit, not a recompute")

    get(9) // capacity exceeded: exactly one eviction
    assert(memo.size == 8)
    assert(!memo.contains(2), "the untouched LRU entry is the one evicted")
    (Seq(1, 9) ++ (3 to 8)).foreach(k =>
      assert(memo.contains(k), s"entry $k must stay warm"))

    computes = 0
    (Seq(1, 9) ++ (3 to 8)).foreach(get)
    assert(computes == 0, "all surviving entries are served from the memo")
    get(2)
    assert(computes == 1, "only the evicted entry recomputes")
  }

  test("a slow compute on one key does not block other keys") {
    // Staging a checkpoint takes seconds; one tenant's cold-start must not
    // hold the map lock against every other tenant. Thread A parks inside
    // its compute; key B must still complete — which is only possible if
    // the lock is NOT held during computation.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val memo = new LruMemo[String, String](8)
    val aEntered = new CountDownLatch(1)
    val aRelease = new CountDownLatch(1)
    val a = new Thread(() => {
      memo.getOrElseUpdate("a") {
        aEntered.countDown()
        assert(aRelease.await(30, TimeUnit.SECONDS), "release latch")
        "va"
      }
      ()
    })
    a.start()
    assert(aEntered.await(10, TimeUnit.SECONDS), "A must enter its compute")
    @volatile var bResult: Option[String] = None
    val b = new Thread(() => { bResult = Some(memo.getOrElseUpdate("b") { "vb" }) })
    b.start()
    b.join(10000)
    val got = bResult // read once: B either finished (Some) or is deadlocked (None)
    aRelease.countDown() // un-park A before asserting so a failure can't hang the suite
    a.join(10000)
    assert(got.contains("vb"), "key B blocked behind key A's in-flight compute")
    assert(memo.getOrElseUpdate("a")("never") == "va", "A's result is memoized")
  }
}
