package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** The persisted dedup band table: build once, fold EVERY base change in
  * through the change feed (appends, text rewrites, deletes), and the
  * incrementally maintained candidate set must EQUAL a batch recompute —
  * there is no fitted model, so incremental maintenance loses nothing. */
class DedupStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    graft.SparkSpec.tmpPath("graft_dedupstore").toString

  // two planted near-dup clusters + singletons; texts long enough to shingle
  private def corpus(ids: Long*): Seq[(Long, String)] = ids.map { i =>
    val t = i % 3 match {
      case 0 => s"alpha beta gamma delta epsilon zeta eta theta common tail $i"
      case 1 => s"alpha beta gamma delta epsilon zeta eta theta common tail ${i - 1}x"
      case _ => s"totally unrelated document number $i with its own words here"
    }
    (i, t)
  }

  private def batchPairs(docs: Seq[(Long, String)]): Set[(Long, Long)] =
    Dedup.minhashCandidates(docs.toDF("doc_id", "text"),
        col("text"), col("doc_id"))
      .select("a", "b").as[(Long, Long)].collect().toSet

  test("build → append → refresh equals the batch recompute; watermark is idempotent") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 19L: _*)
    val (seed, late) = all.partition(_._1 < 14)
    CommitLog.commit(seed.toDF("doc_id", "text"), base, "append")
    val covered = DedupStore.build(spark, base, index)
    assert(covered === 1L)
    assert(DedupStore.coveredVersion(index) === Some(1L))
    CommitLog.commit(late.toDF("doc_id", "text"), base, "append")
    val v2 = DedupStore.refresh(spark, base, index)
    assert(v2 === 2L)
    val stored = DedupStore.pairs(spark, index)
      .as[(Long, Long)].collect().toSet
    assert(stored === batchPairs(all))
    assert(stored.nonEmpty, "fixture must plant near-dup pairs")
    // replayed refresh re-applies nothing
    assert(DedupStore.refresh(spark, base, index) === 2L)
    assert(DedupStore.pairs(spark, index)
      .as[(Long, Long)].collect().toSet === stored)
  }

  test("text rewrites re-band and deletes retire — CDC folding, not append-only") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 11L: _*)
    CommitLog.commit(all.toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)
    // doc 2 (a singleton) is REWRITTEN to duplicate doc 0's text; doc 1
    // (doc 0's near-dup) is DELETED
    CommitLog.merge(spark, base,
      Seq((2L, all.find(_._1 == 0L).get._2 + " v2")).toDF("doc_id", "text"),
      Seq("doc_id"))
    CommitLog.deleteKeys(spark, base, Seq(1L).toDF("doc_id"), Seq("doc_id"))
    DedupStore.refresh(spark, base, index)
    val expected = batchPairs(
      all.filterNot(_._1 == 1L).map {
        case (2L, _) => (2L, all.find(_._1 == 0L).get._2 + " v2")
        case other => other
      })
    val stored = DedupStore.pairs(spark, index)
      .as[(Long, Long)].collect().toSet
    assert(stored === expected)
    assert(!stored.exists(p => p._1 == 1L || p._2 == 1L),
      "deleted doc's bands must retire")
    assert(stored.exists(p => p._1 == 0L && p._2 == 2L),
      "rewritten doc must re-band into its new cluster")
  }

  test("build refuses a base with duplicate ids; a torn re-build refuses loudly") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    // duplicate-id contract: the change feed folds per id, so a multi-row
    // id could never be retired row-by-row — refuse at build
    CommitLog.commit(
      (corpus(0L to 5L: _*) :+ (3L -> "a second row for doc three oops"))
        .toDF("doc_id", "text"),
      base, "append")
    val dup = intercept[IllegalArgumentException] {
      DedupStore.build(spark, base, index)
    }
    assert(dup.getMessage.contains("duplicate"))
    // clean base → build succeeds
    CommitLog.delete(spark, base, col("text").contains("oops"))
    DedupStore.build(spark, base, index)
    assert(DedupStore.pairs(spark, index).count() >= 0L)
    // torn re-build: a parameter change whose bands overwrite never
    // landed — emulated by overwriting ONLY the config (what a crash
    // between build's two commits leaves behind). Readers and refresh
    // must refuse, not probe old-parameter bands with new-parameter keys.
    import spark.implicits._
    CommitLog.commit(
      Seq((5, 8, 2, "w5b8r2")).toDF("w", "bands", "rows_per_band", "build_id"),
      s"$index/config", "overwrite")
    val torn = intercept[IllegalArgumentException] {
      DedupStore.pairs(spark, index).count()
    }
    assert(torn.getMessage.contains("re-build crashed"))
    intercept[IllegalArgumentException] {
      DedupStore.candidates(spark, index,
        corpus(100L).toDF("doc_id", "text")).count()
    }
    // re-running build repairs both tables
    DedupStore.build(spark, base, index, bands = 8)
    assert(DedupStore.pairs(spark, index).count() >= 0L)
  }

  test("a stale replayed slice's delete AND merge are both watermark-fenced") {
    // round-13 ADVICE (medium): doc X is deleted in slice (v1→v2) and
    // re-inserted in (v2→v3). The winner refreshes to v3 (X's final
    // action over v1→v3 is upsert — its bands land). A stalled refresher
    // that computed the OLD slice and resumes now would replay delete(X)
    // — with an unfenced delete that silently diverges the store.
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 11L: _*)
    CommitLog.commit(all.toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)                     // covers v1
    CommitLog.deleteKeys(spark, base, Seq(1L).toDF("doc_id"), Seq("doc_id")) // v2
    CommitLog.commit(Seq(all.find(_._1 == 1L).get).toDF("doc_id", "text"),
      base, "append")                                        // v3: re-insert
    DedupStore.refresh(spark, base, index)                   // winner
    val before = DedupStore.pairs(spark, index)
      .as[(Long, Long)].collect().toSet
    assert(before.exists(p => p._1 == 1L || p._2 == 1L),
      "re-inserted doc must be banded after the winner's refresh")
    // the stale replayer's two mutations, exactly as refresh issues them
    // for latest=2: both must be skipped by the txn fast path
    val bands = DedupStore.artifactTable(index)
    CommitLog.deleteKeys(spark, bands, Seq(1L).toDF("doc_id"), Seq("doc_id"),
      txn = Some((DedupStore.DelAppId, 2L)))
    CommitLog.merge(spark, bands,
      CommitLog.read(spark, bands).limit(1)
        .withColumn("bandkey", lit("poisoned-stale-key")),
      Seq("doc_id", "band"), txn = Some((DedupStore.AppId, 2L)))
    val after = DedupStore.pairs(spark, index)
      .as[(Long, Long)].collect().toSet
    assert(after === before, "stale slice replay must change nothing")
    assert(after === batchPairs(all), "store must still equal batch recompute")
  }

  test("aggregate build_id check refuses a bands table with MIXED builds") {
    // round-13 ADVICE (low): a re-build racing an in-flight refresh can
    // land old-build rows inside the new bands table — a single sampled
    // row can miss the mix; the distinct-set check cannot.
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(corpus(0L to 8L: _*).toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)
    val bands = DedupStore.artifactTable(index)
    // one foreign-build row amid many current ones (sampling would
    // almost certainly return a current row and pass)
    CommitLog.commit(
      CommitLog.read(spark, bands).limit(1)
        .withColumn("doc_id", lit(999L))
        .withColumn("build_id", lit("w9b9r9")),
      bands, "append")
    val mixed = intercept[IllegalArgumentException] {
      DedupStore.pairs(spark, index).count()
    }
    assert(mixed.getMessage.contains("w9b9r9"))
    // re-build repairs
    DedupStore.build(spark, base, index)
    assert(DedupStore.pairs(spark, index).count() >= 0L)
  }

  test("config check is memoized per (root, versions): one job set across repeated probes") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 11L: _*)
    CommitLog.commit(all.toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)
    DedupStore.checkedConfigs.release()
    val c0 = DedupStore.checkedConfigs.misses
    DedupStore.pairs(spark, index).count()
    DedupStore.candidates(spark, index,
      corpus(100L).toDF("doc_id", "text")).count()
    DedupStore.pairs(spark, index).count()
    assert(DedupStore.checkedConfigs.misses === c0 + 1,
      "repeated probes of an unchanged store must not re-run the check")
    // any commit to either table invalidates: a re-build bumps versions
    // and the NEXT probe re-checks (and still refuses a planted tear)
    DedupStore.build(spark, base, index, bands = 8)
    DedupStore.pairs(spark, index).count()
    assert(DedupStore.checkedConfigs.misses === c0 + 2)
  }

  test("small-batch candidates gate the stored scan through bandkey blooms") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 199L: _*)
    CommitLog.commit(all.toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)
    val bands = DedupStore.artifactTable(index)
    // the range-clustered build spread the band table over many files;
    // a point bandkey read must OPEN only the files whose bloom admits
    // it — bandkey is a hash, so only the sidecar can prune it
    val full = CommitLog.read(spark, bands).inputFiles.length
    assert(full >= 4, s"fixture too small to prove pruning ($full files)")
    val k = CommitLog.read(spark, bands).select("bandkey")
      .head().getString(0)
    val pruned = CommitLog.readPruned(spark, bands,
      col("bandkey") === k).inputFiles.length
    assert(pruned < full,
      s"bandkey bloom pruned nothing ($pruned of $full files)")
    // and the gated serving path (small batch → IN pushdown) answers
    // exactly like the full bucket join
    val batch = Seq(
      (900L, all.find(_._1 == 0L).get._2 + " y"),
      (901L, "entirely novel text with no shared shingles at all right"))
    val got = DedupStore.candidates(spark, index,
        batch.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    val expected = batchPairs(all ++ batch).collect {
      case (a, b) if a >= 900L => (a, b)
      case (a, b) if b >= 900L => (b, a)
    }
    assert(got === expected)
    assert(got.exists(_._1 == 900L))
  }

  test("candidates probes the store for a new batch without re-signing the corpus") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    val all = corpus(0L to 11L: _*)
    CommitLog.commit(all.toDF("doc_id", "text"), base, "append")
    DedupStore.build(spark, base, index)
    // a fresh batch: one near-dup of cluster {0,1}, one novel doc
    val batch = Seq(
      (100L, all.find(_._1 == 0L).get._2 + " y"),
      (101L, "entirely novel text with no shared shingles at all right"))
    val got = DedupStore.candidates(spark, index,
        batch.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    val expected = batchPairs(all ++ batch)
      .collect {
        case (a, b) if a >= 100L => (a, b)
        case (a, b) if b >= 100L => (b, a)
      }
    assert(got === expected)
    assert(got.exists(_._1 == 100L), "planted near-dup must match the corpus")
    assert(!got.exists(_._1 == 101L), "novel doc must match nothing")
    // a batch doc already IN the index matches its neighbors, not itself
    val self = DedupStore.candidates(spark, index,
        Seq(all.find(_._1 == 0L).get).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(!self.contains((0L, 0L)))
    assert(self.contains((0L, 1L)))
  }
}
