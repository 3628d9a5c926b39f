package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Memos.clearAll]] reaches every [[BoundedMemo]] through the
  * registry each memo joins when built — including the memos a
  * hand-kept clear list used to skip (the broadcast gate, k-means) —
  * and the registry holds memos weakly. */
class MemosSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** The `[memo] <name> <outcome>` stderr lines `body` prints. */
  private def memoLines(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(old)
    buf.toString("UTF-8").linesIterator.filter(_.startsWith("[memo] ")).toSeq
  }

  private def outcome(lines: Seq[String], memo: String): Seq[String] =
    lines.filter(_.startsWith(s"[memo] $memo ")).map(_.split(' ')(2))

  test("clearAll clears the broadcast-gate and k-means memos") {
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    def fill(): Unit = {
      graft.ops.Joins.vectorSideBroadcastable(vecs, "embedding")
      graft.ops.Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
        k = 2, iters = 1)
    }
    fill()
    val warm = memoLines(fill())
    assert(outcome(warm, "bcast-gate") == Seq("hit"), warm)
    assert(outcome(warm, "kmeans") == Seq("hit"), warm)
    Memos.clearAll()
    val cleared = memoLines(fill())
    assert(outcome(cleared, "bcast-gate") == Seq("miss"), cleared)
    assert(outcome(cleared, "kmeans") == Seq("miss"), cleared)
  }

  test("clearAll runs each memo's own onClear release, not its evict hook") {
    val released = new java.util.concurrent.atomic.AtomicInteger
    val evicted = new java.util.concurrent.atomic.AtomicInteger
    val memo = new BoundedMemo[Int, String](4, _ => evicted.incrementAndGet(),
      name = "spec-local", onClear = _ => released.incrementAndGet())
    memo.putIfAbsent(1, "a"); memo.putIfAbsent(2, "b")
    Memos.clearAll()
    assert(released.get == 2 && evicted.get == 0)
    assert(memo.get(1).isEmpty && memo.get(2).isEmpty)
  }

  test("the registry does not keep an unreferenced memo alive") {
    def build(): java.lang.ref.WeakReference[BoundedMemo[Int, Int]] =
      new java.lang.ref.WeakReference(new BoundedMemo[Int, Int](4, name = "spec-gc"))
    val ref = build()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null, "a memo nothing references must be collectable")
  }
}
