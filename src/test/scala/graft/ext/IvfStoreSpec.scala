package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** The persisted IVF index: build once, answer from storage in any later
  * process (no refit, no session cache), fold base appends in through the
  * change feed with an idempotent watermark, refuse mutation slices. */
class IvfStoreSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(): String =
    graft.SparkSpec.tmpPath("graft_ivfstore").toString

  private def emb = graft.queries.Tables.embeddings(spark, sf)

  test("build → query from storage; appended vectors fold in via refresh without refit") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7), base, "append")
    val covered = IvfStore.build(spark, base, index, nCells = 16)
    assert(covered === 1L)
    assert(IvfStore.coveredVersion(index) === Some(1L))
    val nBase = CommitLog.read(spark, base).count()
    assert(CommitLog.read(spark, s"$index/assigned").count() === nBase)

    // restart simulation: drop every in-memory index cache — the persisted
    // index must answer with NOTHING in this process but the storage
    graft.Memo.releaseAll()
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.topKExact(emb, queries, k = 5)
    val approx = IvfStore.topK(spark, index, queries, k = 5)
    def recall(ex: org.apache.spark.sql.DataFrame, ap: org.apache.spark.sql.DataFrame): Double = {
      val e = ex.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val a = ap.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      e.intersect(a).size.toDouble / e.size
    }
    // floor vs the FULL corpus exact even though the index covers 90% yet
    val r0 = recall(exact, approx)
    assert(r0 >= 0.3, s"pre-refresh recall $r0")

    // append the held-out tenth; refresh assigns ONLY the delta
    CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) === 7), base, "append")
    val newCovered = IvfStore.refresh(spark, base, index)
    assert(newCovered === 2L)
    assert(IvfStore.coveredVersion(index) === Some(2L))
    val nAll = emb.count()
    assert(CommitLog.read(spark, s"$index/assigned").count() === nAll)
    // the delta landed as ONE upsert version whose insert-only merge
    // carried every pre-existing file by reference (no refit, no rewrite)
    val m2 = CommitLog.manifest(s"$index/assigned", 2L)
    assert(m2.mode === "merge")
    assert(CommitLog.manifest(s"$index/assigned", 1L).files.forall(m2.files.contains))

    // recall over the full corpus clears the production floor now
    val r1 = recall(exact, IvfStore.topK(spark, index, queries, k = 5))
    assert(r1 >= graft.queries.VectorQueries.IvfMinRecall, s"post-refresh recall $r1")
    assert(r1 >= r0)

    // replayed refresh is a watermark no-op: same version, no new rows
    assert(IvfStore.refresh(spark, base, index) === 2L)
    assert(CommitLog.latestVersion(s"$index/assigned") === Some(2L))
    assert(CommitLog.read(spark, s"$index/assigned").count() === nAll)
  }

  test("incremental assignment bins a vector into the same cell as the fit's metric") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(col("vec_id") >= 20), base, "append")
    IvfStore.build(spark, base, index, nCells = 8)
    // re-append vectors the MODEL already assigned during build: refresh
    // must put each copy (re-keyed) into the same cell the model chose
    val dup = CommitLog.read(spark, base).limit(30)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    CommitLog.commit(dup, base, "append")
    IvfStore.refresh(spark, base, index)
    val assigned = CommitLog.read(spark, s"$index/assigned")
    val mismatch = assigned.filter(col("vec_id") >= 1000000L)
      .withColumn("orig_id", col("vec_id") - 1000000L)
      .select(col("orig_id"), col("cell").as("inc_cell"))
      .join(assigned.filter(col("vec_id") < 1000000L)
        .select(col("vec_id").as("orig_id"), col("cell").as("fit_cell")), "orig_id")
      .filter(col("inc_cell") =!= col("fit_cell"))
      .count()
    assert(mismatch === 0L)
  }

  test("rebuild at an unchanged base version rewrites assignments (no watermark skip)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb, base, "append")
    IvfStore.build(spark, base, index, nCells = 4)
    assert(CommitLog.read(spark, s"$index/centroids").count() === 4L)
    // drift re-index with a different cell count, NO intervening base
    // commit: the watermark already covers v1, so a txn-guarded overwrite
    // would be silently skipped and leave new centroids over old cells
    IvfStore.build(spark, base, index, nCells = 12)
    assert(CommitLog.read(spark, s"$index/centroids").count() === 12L)
    val aV = CommitLog.latestVersion(s"$index/assigned").get
    assert(aV === 2L) // the rewrite genuinely published
    assert(CommitLog.manifest(s"$index/assigned", aV).mode === "overwrite")
    // index self-consistent: every assigned cell has a centroid row
    val cells = CommitLog.read(spark, s"$index/assigned")
      .select("cell").distinct().as[Int].collect().toSet
    val centroidCells = CommitLog.read(spark, s"$index/centroids")
      .select("cell").as[Int].collect().toSet
    assert(cells.subsetOf(centroidCells))
    // watermark intact; a later append + refresh still folds
    assert(IvfStore.coveredVersion(index) === Some(1L))
    CommitLog.commit(CommitLog.read(spark, base).limit(10)
      .withColumn("vec_id", col("vec_id") + 5000000L), base, "append")
    assert(IvfStore.refresh(spark, base, index) === 2L)
    assert(CommitLog.read(spark, s"$index/assigned").count() === emb.count() + 10L)
  }

  test("refresh pins the watermark across empty-effect slices") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb.filter(col("vec_id") < 100L).repartition(4), base, "append")
    IvfStore.build(spark, base, index, nCells = 4)
    val n0 = CommitLog.read(spark, s"$index/assigned").count()
    // compaction-only slice: the feed emits ZERO rows for it — the
    // watermark must still advance or every later refresh re-derives the
    // slice (and a vacuum inside the stale range would brick the read)
    CommitLog.compact(spark, base)
    assert(IvfStore.refresh(spark, base, index) === CommitLog.latestVersion(base).get)
    assert(IvfStore.coveredVersion(index) === CommitLog.latestVersion(base))
    assert(CommitLog.read(spark, s"$index/assigned").count() === n0)
    // insert-and-delete within one slice: the final action is a delete of
    // a NEVER-indexed id — deleteKeys matches nothing, yet the watermark
    // must pin
    CommitLog.commit(emb.filter(col("vec_id") === 499L)
      .withColumn("vec_id", lit(8000000L)), base, "append")
    CommitLog.delete(spark, base, col("vec_id") === 8000000L)
    assert(IvfStore.refresh(spark, base, index) === CommitLog.latestVersion(base).get)
    assert(IvfStore.coveredVersion(index) === CommitLog.latestVersion(base))
    assert(CommitLog.read(spark, s"$index/assigned").count() === n0)
    // and a genuinely effectful refresh still works afterwards
    CommitLog.commit(emb.filter(col("vec_id") === 499L), base, "append")
    IvfStore.refresh(spark, base, index)
    assert(CommitLog.read(spark, s"$index/assigned").count() === n0 + 1)
  }

  test("assignToNearest: brute-force agreement, deterministic tie-break, O(delta) shuffle shape") {
    import org.apache.spark.sql.expressions.Window
    val fresh = emb.filter(col("vec_id") < 200L)
    // centroids drawn from the corpus itself so distances genuinely vary
    val centroids = emb.filter(col("vec_id").between(300L, 315L))
      .select((col("vec_id") - 300L).cast("int").as("cell"),
        col("embedding").as("centroid"))
    val got = IvfStore.assignToNearest(fresh, centroids, "vec_id", "embedding")
    // brute-force oracle: the window-ranked argmin the fix replaced
    val dist = aggregate(
      zip_with(col("embedding").cast("array<double>"),
        col("centroid").cast("array<double>"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)
    val w = Window.partitionBy("vec_id").orderBy(col("__dist").asc, col("cell").asc)
    val want = fresh.crossJoin(centroids)
      .withColumn("__dist", dist)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("vec_id"), col("cell"))
    val mismatch = got.select(col("vec_id"), col("cell").as("got_cell"))
      .join(want.withColumnRenamed("cell", "want_cell"), "vec_id")
      .filter(col("got_cell") =!= col("want_cell")).count()
    assert(mismatch === 0L)
    assert(got.count() === fresh.count())

    // tie-break: two centroids at the SAME point must resolve cell-asc
    val dupCentroids = centroids.limit(1).select(lit(7).as("cell"), col("centroid"))
      .union(centroids.limit(1).select(lit(3).as("cell"), col("centroid")))
    val nearDup = IvfStore.assignToNearest(fresh.limit(5), dupCentroids, "vec_id", "embedding")
    assert(nearDup.select("cell").distinct().as[Int].collect().toSeq === Seq(3))

    // plan shape (round-6 VERDICT item 1): the argmin is a per-row map —
    // the delta never meets a join, a ranking window, or an exchange; the
    // candidate space (delta × nCells) exists only inside the fold
    // expression, never as rows
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"candidate ranking window crept back:\n$plan")
    assert(!plan.contains("Exchange"), s"per-row argmin must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"per-row argmin must not join:\n$plan")
  }

  test("assignToNearest survives design-target nCells: brute-force agreement at 2048 cells") {
    import org.apache.spark.sql.expressions.Window
    // 2048 synthetic centroids in the corpus's own dimension — the regime
    // where the round-7 Catalyst HOF fold was a CodegenFallback allocation
    // storm (measured minutes; NOTES_r7) and 100 TB IVF actually lives
    // (nCells ≈ 10⁴). The mapPartitions argmin must agree with the
    // crossJoin + window brute force on every row and stay exchange-free.
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val rnd = new scala.util.Random(1234L)
    val cents = (0 until 2048).map { c =>
      (c, Seq.fill(dim)(rnd.nextDouble().toFloat))
    }.toDF("cell", "centroid")
    // filter, not limit: a global limit plans its own SinglePartition
    // exchange, which would trip the plan-shape assertion below for
    // reasons unrelated to the argmin
    val fresh = emb.filter(col("vec_id") < 150L)
    val t0 = System.nanoTime()
    val got = IvfStore.assignToNearest(fresh, cents, "vec_id", "embedding")
    val gotRows = got.select(col("vec_id"), col("cell").as("got_cell")).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"assignToNearest at nCells=2048 over ${gotRows.length} rows: $secs%.2f s")
    val dist = aggregate(
      zip_with(col("embedding").cast("array<double>"),
        col("centroid").cast("array<double>"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, e) => acc + e)
    val w = Window.partitionBy("vec_id").orderBy(col("__dist").asc, col("cell").asc)
    val want = fresh.crossJoin(broadcast(cents))
      .withColumn("__dist", dist)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col("vec_id"), col("cell").as("want_cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotRows.length === fresh.count())
    gotRows.foreach { r =>
      assert(want(r.getLong(0)) === r.getInt(1), s"vec ${r.getLong(0)}")
    }
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange") &&
      !plan.contains("Join"), s"argmin must stay a per-row map:\n$plan")
  }

  test("refresh folds deletes, re-embeddings, appends, and overwrites from the change feed") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(emb, base, "append")
    IvfStore.build(spark, base, index, nCells = 8)
    def assignedIds: Set[Long] = CommitLog.read(spark, s"$index/assigned")
      .select("vec_id").as[Long].collect().toSet
    def baseIds: Set[Long] = CommitLog.read(spark, base)
      .select("vec_id").as[Long].collect().toSet

    // v2: retire vectors; v3: RE-EMBED ids 10-14 (merge replaces their
    // vectors with other rows' embeddings); v4: append new ids
    CommitLog.delete(spark, base, col("vec_id") < 5L)
    val reembed = emb.filter(col("vec_id").between(110L, 114L))
      .withColumn("vec_id", col("vec_id") - 100L)
    CommitLog.merge(spark, base, reembed, Seq("vec_id"))
    CommitLog.commit(emb.filter(col("vec_id") < 5L)
      .withColumn("vec_id", col("vec_id") + 7000000L), base, "append")
    val covered = IvfStore.refresh(spark, base, index)
    assert(covered === CommitLog.latestVersion(base).get)
    assert(assignedIds === baseIds) // deletes out, appends in, no ghosts
    // the re-embedded vectors carry their NEW embedding in the index
    val got = CommitLog.read(spark, s"$index/assigned")
      .filter(col("vec_id") === 10L).select("embedding")
      .as[Seq[Float]].head()
    val want = emb.filter(col("vec_id") === 110L).select("embedding")
      .as[Seq[Float]].head()
    assert(got === want)
    // replayed refresh: watermark no-op, no duplicate rows
    assert(IvfStore.refresh(spark, base, index) === covered)
    assert(assignedIds === baseIds)

    // a plain OVERWRITE folds too (snapshot-diff slice)
    CommitLog.commit(emb.filter(col("vec_id") >= 250L), base, "overwrite")
    IvfStore.refresh(spark, base, index)
    assert(assignedIds === baseIds)
    assert(IvfStore.topK(spark, index, emb.filter(col("vec_id") < 270L)
      .filter(col("vec_id") >= 250L).limit(5), k = 3).count() > 0L)
  }
}
