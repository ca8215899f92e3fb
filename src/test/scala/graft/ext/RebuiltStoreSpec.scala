package graft.ext

import java.nio.file.Paths

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** A store deleted and rebuilt at the same root restarts its tables'
  * version numbers, so its in-JVM memos must key on the commit stamp, not
  * the bare version: each case builds, serves once (filling the memo),
  * deletes the index root, rebuilds it with other parameters or inputs,
  * and checks that the next call serves the NEW index. */
class RebuiltStoreSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")

  private def rebuildAt(index: String)(build: => Unit): Unit = {
    SparkSpec.deleteTree(Paths.get(index))
    build
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def docs(ids: Range, text: Long => String) =
    ids.map(i => (i.toLong, text(i.toLong))).toDF("doc_id", "text")

  private def nearDups(i: Long): String =
    if (i % 2 == 0) s"alpha beta gamma delta epsilon zeta eta theta common tail $i"
    else s"unrelated document number $i with words of its own here"

  test("DedupStore rebuilt at its root with other bands re-runs its config check") {
    val root = tmpDir("graft_rebuilt_dedup")
    val (base, index) = (s"$root/base", s"$root/index")
    CommitLog.commit(docs(0 until 12, nearDups), base, "append")
    DedupStore.build(spark, base, index, bands = 4)
    val c0 = DedupStore.checkedConfigs.misses
    DedupStore.pairs(spark, index).count()
    rebuildAt(index)(DedupStore.build(spark, base, index, bands = 8))
    val rebuilt = DedupStore.pairs(spark, index).as[(Long, Long)].collect().toSet
    assert(DedupStore.checkedConfigs.misses === c0 + 2)
    val fresh = s"$root/fresh"
    DedupStore.build(spark, base, fresh, bands = 8)
    assert(rebuilt === DedupStore.pairs(spark, fresh).as[(Long, Long)].collect().toSet)
  }

  test("IvfStore rebuilt at its root with more cells probes the new centroids") {
    val root = tmpDir("graft_rebuilt_ivf")
    val (base, index) = (s"$root/base", s"$root/index")
    CommitLog.commit(emb, base, "append")
    val queries = emb.filter(col("vec_id") < 20)
    IvfStore.build(spark, base, index, nCells = 2)
    IvfStore.topK(spark, index, queries, k = 5, nProbe = 2).count()
    rebuildAt(index)(IvfStore.build(spark, base, index, nCells = 8))
    // probing every cell is exact
    val exact = pairsOf(Similarity.topKExact(emb, queries, k = 5))
    assert(pairsOf(IvfStore.topK(spark, index, queries, k = 5, nProbe = 8)) === exact)
  }

  test("PqStore rebuilt at its root with other subspaces reads the new codebooks") {
    val root = tmpDir("graft_rebuilt_pq")
    val (base, index) = (s"$root/base", s"$root/index")
    CommitLog.commit(emb, base, "append")
    val queries = emb.filter(col("vec_id") < 20)
    PqStore.build(spark, base, index, m = 8)
    PqStore.topK(spark, base, index, queries, k = 5, refine = 1).count()
    rebuildAt(index)(PqStore.build(spark, base, index, m = 4))
    val fresh = s"$root/fresh"
    PqStore.build(spark, base, fresh, m = 4)
    assert(pairsOf(PqStore.topK(spark, base, index, queries, k = 5, refine = 1)) ===
      pairsOf(PqStore.topK(spark, base, fresh, queries, k = 5, refine = 1)))
  }

  test("DecontaminationStore rebuilt over another train table flags the new passage") {
    val root = tmpDir("graft_rebuilt_decon")
    val index = s"$root/index"
    val (oldPassage, newPassage) = ("alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight")
    CommitLog.commit(docs(0 until 4, i => s"$oldPassage train doc $i pad"),
      s"$root/trainA", "append")
    CommitLog.commit(docs(0 until 4, i => s"$newPassage train doc $i pad"),
      s"$root/trainB", "append")
    val batch = Seq((900L, s"leaks $oldPassage here"), (901L, s"leaks $newPassage here"))
      .toDF("doc_id", "text")
    DecontaminationStore.build(spark, s"$root/trainA", index)
    assert(DecontaminationStore.flaggedDocs(spark, index, batch).as[Long].collect().contains(900L))
    rebuildAt(index)(DecontaminationStore.build(spark, s"$root/trainB", index))
    assert(DecontaminationStore.flaggedDocs(spark, index, batch).as[Long].collect().contains(901L),
      "a rebuilt sketch must never false-negative its own train passage")
  }

  test("a deleted store is a miss, and a commit to it forces a re-check") {
    val root = tmpDir("graft_rebuilt_contract")
    val (base, index) = (s"$root/base", s"$root/index")
    CommitLog.commit(docs(0 until 8, nearDups), base, "append")
    DedupStore.build(spark, base, index)
    DedupStore.pairs(spark, index).count()
    val c0 = DedupStore.checkedConfigs.misses
    DedupStore.pairs(spark, index).count()
    assert(DedupStore.checkedConfigs.misses === c0, "an unchanged store is a hit")
    CommitLog.commit(docs(8 until 12, nearDups), base, "append")
    DedupStore.refresh(spark, base, index)
    DedupStore.pairs(spark, index).count()
    assert(DedupStore.checkedConfigs.misses === c0 + 1, "a refresh commit re-checks")
    SparkSpec.deleteTree(Paths.get(index))
    val e = intercept[IllegalStateException](DedupStore.pairs(spark, index).count())
    assert(e.getMessage.contains("no built index"))
  }
}
