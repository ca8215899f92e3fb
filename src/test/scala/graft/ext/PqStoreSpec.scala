package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** The persisted PQ index: build once, answer from storage in any later
  * process, fold base changes in through an encode-only refresh against
  * frozen codebooks, fetch re-rank vectors from the base via a key-pruned
  * point read. */
class PqStoreSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(): String =
    graft.SparkSpec.tmpPath("graft_pqstore").toString

  private def emb = graft.queries.Tables.embeddings(spark, sf)

  private def recall(ex: org.apache.spark.sql.DataFrame,
      ap: org.apache.spark.sql.DataFrame): Double = {
    val e = ex.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val a = ap.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    e.intersect(a).size.toDouble / e.size
  }

  test("build → query from storage; appended vectors fold in via encode-only refresh") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7), base, "append")
    val covered = PqStore.build(spark, base, index)
    assert(covered === 1L)
    assert(PqStore.coveredVersion(index) === Some(1L))
    val nBase = CommitLog.read(spark, base).count()
    assert(CommitLog.read(spark, s"$index/codes").count() === nBase)
    // the stored artifact is codes ONLY — no vector column (compression)
    assert(CommitLog.read(spark, s"$index/codes").columns.toSeq
      === Seq("vec_id", "pq_code"))

    // restart simulation: the persisted index must answer with NOTHING in
    // this process but the storage (PqIndex session caches dropped)
    graft.Memo.releaseAll()
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.topKExact(emb, queries, k = 5)
    // floor vs the FULL corpus exact even though the index covers 90% yet
    val r0 = recall(exact, PqStore.topK(spark, base, index, queries, k = 5))
    assert(r0 >= 0.3, s"pre-refresh recall $r0")

    // append the held-out tenth; refresh encodes ONLY the delta against
    // the FROZEN codebooks (mode merge, prior files carried by reference)
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) === 7), base, "append")
    assert(PqStore.refresh(spark, base, index) === 2L)
    assert(PqStore.coveredVersion(index) === Some(2L))
    assert(CommitLog.read(spark, s"$index/codes").count() === emb.count())
    val m2 = CommitLog.manifest(s"$index/codes", 2L)
    assert(m2.mode === "merge")
    assert(CommitLog.manifest(s"$index/codes", 1L).files.forall(m2.files.contains))
    // codebooks untouched by the refresh
    assert(CommitLog.latestVersion(s"$index/codebooks") === Some(1L))

    val r1 = recall(exact, PqStore.topK(spark, base, index, queries, k = 5))
    assert(r1 >= graft.queries.VectorQueries.PqMinRecall, s"post-refresh recall $r1")
    assert(r1 >= r0)

    // replayed refresh is a watermark no-op: same version, no new rows
    assert(PqStore.refresh(spark, base, index) === 2L)
    assert(CommitLog.latestVersion(s"$index/codes") === Some(2L))
    assert(CommitLog.read(spark, s"$index/codes").count() === emb.count())
  }

  test("refresh's frozen-codebook encode reproduces the build's codes") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(col("vec_id") >= 20), base, "append")
    PqStore.build(spark, base, index)
    // re-append vectors the BUILD already encoded: the refresh encode
    // (loadBooks round-trip + per-row argmin) must emit the same codes
    val dup = CommitLog.read(spark, base).limit(30)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    CommitLog.commit(dup, base, "append")
    PqStore.refresh(spark, base, index)
    val codes = CommitLog.read(spark, s"$index/codes")
    val mismatch = codes.filter(col("vec_id") >= 1000000L)
      .withColumn("orig_id", col("vec_id") - 1000000L)
      .select(col("orig_id"), col("pq_code").as("inc_code"))
      .join(codes.filter(col("vec_id") < 1000000L)
        .select(col("vec_id").as("orig_id"), col("pq_code").as("fit_code")), "orig_id")
      .filter(col("inc_code") =!= col("fit_code"))
      .count()
    assert(mismatch === 0L)
  }

  test("rebuild at an unchanged base version rewrites codes (no watermark skip)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb, base, "append")
    PqStore.build(spark, base, index)
    assert(CommitLog.read(spark, s"$index/codebooks").count() === 8L * 256L)
    // drift re-build with different m, NO intervening base commit: a
    // txn-guarded overwrite would be silently skipped and leave m = 16
    // codebooks over m = 8 codes
    PqStore.build(spark, base, index, m = 16)
    assert(CommitLog.read(spark, s"$index/codebooks").count() === 16L * 256L)
    val cv = CommitLog.latestVersion(s"$index/codes").get
    assert(cv === 2L) // the rewrite genuinely published
    assert(CommitLog.manifest(s"$index/codes", cv).mode === "overwrite")
    assert(CommitLog.read(spark, s"$index/codes")
      .select(size(col("pq_code"))).distinct().as[Int].collect().toSeq === Seq(16))
    // watermark intact; a later append + refresh still folds with m = 16
    assert(PqStore.coveredVersion(index) === Some(1L))
    CommitLog.commit(CommitLog.read(spark, base).limit(10)
      .withColumn("vec_id", col("vec_id") + 5000000L), base, "append")
    assert(PqStore.refresh(spark, base, index) === 2L)
    val after = CommitLog.read(spark, s"$index/codes")
    assert(after.count() === emb.count() + 10L)
    assert(after.select(size(col("pq_code"))).distinct().as[Int].collect().toSeq === Seq(16))
  }

  test("refresh folds deletes, re-embeddings, and appends; re-rank point-reads the base") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb, base, "append")
    PqStore.build(spark, base, index)
    def codeIds: Set[Long] = CommitLog.read(spark, s"$index/codes")
      .select("vec_id").as[Long].collect().toSet
    def baseIds: Set[Long] = CommitLog.read(spark, base)
      .select("vec_id").as[Long].collect().toSet

    CommitLog.delete(spark, base, col("vec_id") < 5L)
    val reembed = emb.filter(col("vec_id").between(110L, 114L))
      .withColumn("vec_id", col("vec_id") - 100L)
    CommitLog.merge(spark, base, reembed, Seq("vec_id"))
    CommitLog.commit(emb.filter(col("vec_id") < 5L)
      .withColumn("vec_id", col("vec_id") + 7000000L), base, "append")
    assert(PqStore.refresh(spark, base, index) === CommitLog.latestVersion(base).get)
    assert(codeIds === baseIds) // deletes out, appends in, no ghosts
    // a re-embedded id carries its NEW embedding's code: id 10 now holds
    // 110's vector, so its stored code equals 110's build-time code
    val codes = CommitLog.read(spark, s"$index/codes")
    val got = codes.filter(col("vec_id") === 10L).select("pq_code")
      .as[Seq[Int]].head()
    val want = codes.filter(col("vec_id") === 110L).select("pq_code")
      .as[Seq[Int]].head()
    assert(got === want)

    // the refine fetch reads the CURRENT base snapshot: a retired id in
    // the shortlist simply drops out of the re-rank, and results never
    // resurrect deleted ids
    val res = PqStore.topK(spark, base, index,
      emb.filter(col("vec_id") < 20), k = 5)
    val ids = res.select("neighbor_id").as[Long].collect().toSet
    assert(ids.intersect(Set(0L, 1L, 2L, 3L, 4L)).isEmpty)
    // every query answered with a full k (corpus is large enough)
    val perQ = res.groupBy("query_id").count().select("count").as[Long].collect()
    assert(perQ.nonEmpty && perQ.forall(_ === 5L))

    // drift proxy: the merge-maintained share is visible (at this tiny
    // scale the deleteKeys+merge rewrites touch every file, so the
    // documented overestimate saturates at 1.0 — the assertion is that
    // merges REGISTER, not the magnitude)
    val drift = PqStore.staleFraction(index)
    assert(drift > 0.0, s"staleFraction $drift")
  }

  test("IVF-PQ composite: cell-gated ADC with frozen cells across refresh") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7), base, "append")
    PqStore.build(spark, base, index, nCells = 16)
    // the composite's three tables, codes carrying their cell
    assert(CommitLog.read(spark, s"$index/cells").count() === 16L)
    val codes = CommitLog.read(spark, s"$index/codes")
    assert(codes.columns.contains("cell"))
    assert(codes.agg(min("cell"), max("cell"))
      .as[(Int, Int)].head() match { case (lo, hi) => lo >= 0 && hi < 16 })

    // refresh bins the delta against FROZEN cells: a re-appended copy of
    // an already-indexed vector lands in the same cell with the same code
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) === 7), base, "append")
    val dup = CommitLog.read(spark, base).limit(20)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    CommitLog.commit(dup, base, "append")
    PqStore.refresh(spark, base, index)
    assert(CommitLog.latestVersion(s"$index/cells") === Some(1L)) // frozen
    val after = CommitLog.read(spark, s"$index/codes")
    val mismatch = after.filter(col("vec_id") >= 1000000L)
      .withColumn("orig_id", col("vec_id") - 1000000L)
      .select(col("orig_id"), col("pq_code").as("ic"), col("cell").as("icell"))
      .join(after.filter(col("vec_id") < 1000000L)
        .select(col("vec_id").as("orig_id"), col("pq_code").as("fc"),
          col("cell").as("fcell")), "orig_id")
      .filter(col("ic") =!= col("fc") || col("icell") =!= col("fcell"))
      .count()
    assert(mismatch === 0L)

    // gated answers clear the compound (cell miss × PQ error) floor over
    // the FULL corpus, held-out tenth included
    graft.Memo.releaseAll()
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.topKExact(emb, queries, k = 5)
    val r = recall(exact,
      PqStore.topK(spark, base, index, queries, k = 5, nProbe = 8))
    assert(r >= graft.queries.VectorQueries.IvfPqMinRecall, s"gated recall $r")
    // recall@5 is NON-DECREASING in nProbe (round-7 VERDICT item 7): the
    // per-cell shortlist quotas make the candidate set monotone in the
    // probed-cell set (nearestCells ranks cells once, so probe sets are
    // nested), and under the exact-cosine re-rank any candidate that
    // outranks a true neighbor is itself a true neighbor — so a widened
    // probe can no longer evict a found neighbor. (The pre-quota global
    // k × refine ADC cut was measured non-monotone, NOTES_r7; the old
    // "full probe == ungated scan" equivalence is gone by design —
    // residual codes cannot be ADC'd without a cell, and per-cell quotas
    // retain a SUPERSET of any global cut's candidates.)
    val recalls = Seq(1, 2, 4, 8, 16).map { p =>
      p -> recall(exact, PqStore.topK(spark, base, index, queries, k = 5, nProbe = p))
    }
    recalls.sliding(2).foreach {
      case Seq((p0, r0), (p1, r1)) =>
        assert(r1 >= r0, s"recall regressed widening nProbe $p0->$p1: $recalls")
      case _ => ()
    }

    // interrupted ungated→gated rebuild: a cells table over cell-less
    // codes must refuse, not gate on a missing column
    val root2 = freshRoot()
    CommitLog.commit(emb.limit(100), s"$root2/base", "append")
    PqStore.build(spark, s"$root2/base", s"$root2/index")
    CommitLog.commit(CommitLog.read(spark, s"$index/cells"),
      s"$root2/index/cells", "overwrite")
    val e = intercept[IllegalStateException] {
      PqStore.topK(spark, s"$root2/base", s"$root2/index",
        emb.filter(col("vec_id") < 5), k = 3)
    }
    assert(e.getMessage.contains("no cell column"))
  }

  test("a build crash between the codebooks and codes overwrites fails loudly, not silently") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb, base, "append")
    PqStore.build(spark, base, index)
    // simulate a drift re-build(m = 16) dying AFTER the codebooks
    // overwrite and BEFORE the codes overwrite: new 16-subspace books
    // over old 8-wide codes (the documented honest-unadvanced window)
    val wide = CommitLog.read(spark, s"$index/codebooks")
      .withColumn("subspace", col("subspace") + lit(8))
      .union(CommitLog.read(spark, s"$index/codebooks"))
    CommitLog.commit(wide, s"$index/codebooks", "overwrite")
    // a cron refresh over a base advance must ABORT with nothing applied
    // (merging 16-wide delta codes into the 8-wide table would null-pad
    // stale rows to the TOP of every ADC shortlist), and queries must
    // refuse too — the repair is re-running build
    CommitLog.commit(emb.limit(5)
      .withColumn("vec_id", col("vec_id") + 9000000L), base, "append")
    val nCodes = CommitLog.read(spark, s"$index/codes").count()
    val e1 = intercept[IllegalStateException] {
      PqStore.refresh(spark, base, index)
    }
    assert(e1.getMessage.contains("structurally inconsistent"))
    assert(CommitLog.read(spark, s"$index/codes").count() === nCodes)
    assert(PqStore.coveredVersion(index) === Some(1L)) // honest: not advanced
    intercept[IllegalStateException] {
      PqStore.topK(spark, base, index, emb.filter(col("vec_id") < 5), k = 3)
        .collect()
    }
    // re-running build repairs the window; refresh then folds normally
    PqStore.build(spark, base, index, m = 16)
    assert(PqStore.refresh(spark, base, index) === CommitLog.latestVersion(base).get)
    assert(CommitLog.read(spark, s"$index/codes").count()
      === CommitLog.read(spark, base).count())
  }
}
