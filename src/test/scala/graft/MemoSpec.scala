package graft

import graft.tx.CommitLog

/** The engine memo's contract: LRU and weight bounds with an on-drop
  * action, hit/miss/evict counters, stamp-keyed entries (no stamp is a
  * miss; a re-created table is a new stamp), and one release for every
  * memo. Nested and failed builds are pinned through QueryMemoSpec. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  test("the least recently used entry is dropped past the bound, never the one just published") {
    val dropped = scala.collection.mutable.Buffer.empty[String]
    val memo = new Memo[String, String](maxEntries = 2,
      onDrop = v => dropped += v)
    memo("a")("A")
    memo("b")("B")
    assert(memo("a")("rebuilt") === "A") // a is now the most recent
    memo("c")("C")
    assert(dropped.toSeq === Seq("B"))
    assert((memo.hits, memo.misses, memo.evictions) === ((1L, 3L, 1L)))
    assert(memo("b")("B2") === "B2")
    assert(memo.size === 2)
  }

  test("weight bounds the total, and an entry heavier than the bound still publishes") {
    val dropped = scala.collection.mutable.Buffer.empty[Int]
    val memo = new Memo[Int, Int](maxWeight = 10,
      weight = _.toLong, onDrop = v => dropped += v)
    memo(1)(6)
    memo(2)(3)
    assert(dropped.isEmpty)
    memo(3)(4)
    assert(dropped.toSeq === Seq(6))
    memo(4)(20)
    assert(dropped.toSeq === Seq(6, 3, 4))
    assert(memo(4)(0) === 20)
    assert(memo.size === 1)
  }

  test("a deleted table has no stamp, and a table re-created at its root gets a new one") {
    val t = s"${tmpDir("graft_memospec")}/t"
    assert(CommitLog.latestStamp(t) === None)
    CommitLog.commit(Seq(1).toDF("id"), t, "append")
    val first = CommitLog.latestStamp(t).get
    assert(CommitLog.stamp(t, first.version) === Some(first))
    CommitLog.commit(Seq(2).toDF("id"), t, "append")
    assert(CommitLog.latestStamp(t).get.version === first.version + 1,
      "a commit moves the stamp")
    SparkSpec.deleteTree(java.nio.file.Paths.get(t))
    assert(CommitLog.latestStamp(t) === None)
    CommitLog.commit(Seq(3).toDF("id"), t, "append")
    val again = CommitLog.latestStamp(t).get
    assert(again.version === first.version)
    assert(again !== first, "a re-created commit file must not match the old stamp")

    var builds = 0
    val memo = new Memo[CommitLog.Stamp, Int]()
    assert(memo.stamped(Some(again)) { builds += 1; 1 } === 1)
    assert(memo.stamped(Some(again)) { builds += 1; 2 } === 1)
    assert(memo.stamped(None) { builds += 1; 3 } === 3)
    assert(memo.stamped(None) { builds += 1; 4 } === 4, "no stamp is never cached")
    assert(builds === 3)
    assert((memo.hits, memo.misses, memo.size) === ((1L, 3L, 1)))
  }

  test("releaseAll forgets every entry of every memo and runs each drop action") {
    var dropped = 0
    val a = new Memo[String, String](onDrop = _ => dropped += 1)
    val b = new Memo[String, String](onDrop = _ => dropped += 1)
    a("k")("A")
    b("k")("B")
    Memo.releaseAll()
    assert((a.size, b.size, dropped) === ((0, 0, 2)))
    assert(a("k")("A2") === "A2")
    assert(b("k")("B2") === "B2")
  }
}
