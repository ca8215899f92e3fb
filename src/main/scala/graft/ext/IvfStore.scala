package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo
import graft.tx.CommitLog

/** IVF index PERSISTED as commit-log tables and maintained from the base
  * table's change feed (round-5 VERDICT item 5). At 100 TB the index IS the
  * artifact: the full-corpus assignment pass is the expensive step, and the
  * per-JVM session cache in [[IvfIndex]] throws it away at process exit.
  * Here the index lives on storage:
  *
  * {{{
  *   <indexRoot>/centroids   (cell INT, centroid ARRAY<FLOAT>)
  *   <indexRoot>/assigned    (<idCol>, <vecCol>, cell INT)
  * }}}
  *
  * The covered base version rides on the `assigned` table as a transaction
  * watermark (appId [[AppId]]) — CommitLog's own exactly-once primitive —
  * so [[refresh]] folds EVERY base change since the watermark (appends,
  * deletes, re-embeddings, even plain overwrites via the snapshot-diff
  * feed) through an assign-only pass (broadcast-centroid argmin, NO
  * refit, cost O(delta × nCells) + O(touched files)), and a replayed
  * refresh re-applies nothing. Queries ([[topK]]) read both tables fresh
  * each call: a new session (process restart, another executor fleet)
  * answers immediately without refitting, which is the whole point.
  *
  * Centroids intentionally stay FROZEN across refreshes (the standard IVF
  * maintenance contract): changed vectors are binned into existing cells,
  * and recall degrades only if the data distribution drifts — at which
  * point [[build]] is the explicit re-index maintenance op, exactly like
  * `compact` is for the commit log's file layout. */
object IvfStore {

  /** Writer id for the version watermark on `assigned`. */
  val AppId = "graft-ivf"

  private def centroidsTable(root: String) = s"$root/centroids"
  private def assignedTable(root: String) = s"$root/assigned"

  /** Fit + assign the FULL base snapshot and publish both tables; returns
    * the covered base version. One sampled quantizer fit + one assignment
    * pass over the corpus — the bounded one-time index-build cost.
    * Re-building at an UNCHANGED base version (the documented drift
    * re-index path, e.g. a different `nCells`) must still rewrite the
    * assignments — so the txn watermark is attached only when it ADVANCES;
    * when the watermark already covers `baseVersion`, the overwrite
    * commits bare and the inherited watermark stays correct (it equals
    * this rebuild's own base version). Attaching it unconditionally would
    * trip CommitLog's exactly-once fast path and silently SKIP the
    * assignment rewrite while the centroids table was already replaced —
    * a permanently inconsistent index. */
  def build(spark: SparkSession, baseTable: String, indexRoot: String,
      nCells: Int = 16, idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    // read PINNED at the resolved version (round-13 ADVICE on DedupStore,
    // applied store-wide): a commit landing between latestVersion() and a
    // live read would index a snapshot NEWER than the recorded watermark
    val baseVersion = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    val corpus = CommitLog.readAt(spark, baseTable, baseVersion)
    val idx = IvfIndex.build(corpus, nCells, idCol, vecCol)
    import spark.implicits._
    val txn =
      if (coveredVersion(indexRoot).exists(_ >= baseVersion)) None
      else Some((AppId, baseVersion))
    // centroids FIRST, assignments (carrying the watermark) LAST: a crash
    // between the two leaves the watermark UN-advanced — an honest state a
    // re-run of build() fully repairs — rather than a watermark that
    // claims currency over a half-published index (refresh would then
    // no-op forever on silently degraded recall). The cost is a transient
    // reader race (new centroids over old assignments) during the build,
    // bounded by the build itself.
    CommitLog.commit(idx.centroids.toDF("cell", "centroid"),
      centroidsTable(indexRoot), "overwrite")
    CommitLog.commit(
      idx.assigned.select(col(idCol), col(vecCol), col("__cell").as("cell")),
      assignedTable(indexRoot), "overwrite", txn = txn)
    baseVersion
  }

  /** Base version the index currently covers (the txn watermark). */
  def coveredVersion(indexRoot: String): Option[Long] =
    CommitLog.txnVersion(assignedTable(indexRoot), AppId)

  /** The assigned artifact table path — the table a maintenance cycle
    * re-clusters ([[graft.tools.Maintenance]]). */
  def artifactTable(indexRoot: String): String = assignedTable(indexRoot)

  /** Fold EVERY base change since the covered watermark into the index
    * WITHOUT refitting — full CDC-driven maintenance over frozen
    * centroids. The slice (including plain overwrites, derived as a
    * snapshot diff) reduces to one final action per vector id — the
    * highest-version row, insert winning over delete at the same version
    * (an overwrite diff emits both for a changed id) — then:
    *
    *  - retired ids ([[CommitLog.deleteKeys]] on `assigned`) leave their
    *    cells file-granularly;
    *  - new and re-embedded vectors are assigned to their nearest frozen
    *    centroid via [[assignToNearest]] — a per-row argmin over the
    *    collected centroid array, no join/exchange — and upserted
    *    ([[CommitLog.merge]]).
    *
    * O(delta × nCells) compute plus O(touched files) rewrite — never a
    * corpus pass. The watermark rides the LAST mutation, so a replay
    * after a crash between the two re-runs the delete (idempotent — the
    * keys are already gone) and then the upsert; a fully replayed refresh
    * is a watermark no-op. Returns the newly covered version. */
  def refresh(spark: SparkSession, baseTable: String, indexRoot: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val covered = coveredVersion(indexRoot).getOrElse(
      throw new IllegalStateException(s"$indexRoot has no built index; run build first"))
    val latest = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    if (latest <= covered) return covered
    val feed = CommitLog.changeFeed(spark, baseTable, covered, Some(latest),
      overwriteDiff = true)
    val finalActs = IndexUpkeep.finalActions(feed, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val retired = finalActs.filter(col(CommitLog.ChangeTypeCol) === "delete")
        .select(col(idCol))
      val fresh = finalActs.filter(col(CommitLog.ChangeTypeCol) =!= "delete")
        .select(col(idCol), col(vecCol))
      val hasFresh = !fresh.isEmpty
      CommitLog.deleteKeys(spark, assignedTable(indexRoot), retired, Seq(idCol),
        txn = if (hasFresh) None else Some((AppId, latest)))
      if (hasFresh) {
        val centroids = CommitLog.read(spark, centroidsTable(indexRoot))
        val assignedDelta = assignToNearest(fresh, centroids, idCol, vecCol)
        CommitLog.merge(spark, assignedTable(indexRoot), assignedDelta, Seq(idCol),
          txn = Some((AppId, latest)))
      }
      // a no-op terminal mutation (empty slice; retirements of never-
      // indexed ids) records no txn — pin the watermark with an empty
      // append, or every later refresh re-derives this same slice and a
      // vacuum inside the stale range would eventually brick the feed read
      if (!coveredVersion(indexRoot).exists(_ >= latest))
        CommitLog.commit(
          CommitLog.read(spark, assignedTable(indexRoot)).limit(0),
          assignedTable(indexRoot), "append", txn = Some((AppId, latest)))
      latest
    } finally finalActs.unpersist(blocking = false): Unit
  }

  /** Assign each delta vector to its nearest frozen centroid — the
    * incremental twin of `IvfIndex.build`'s per-row `model.transform`
    * (`IvfIndex.scala:97`), and like it a pure per-row map: the centroid
    * table is COLLECTED (bounded by construction — nCells rows, the same
    * driver-side materialization [[topK]] already performs every query),
    * BROADCAST, and the argmin runs as a tight JVM loop inside
    * `mapPartitions` ([[IndexUpkeep.nearestIndex]] — the same shared core
    * [[PqIndex]]'s encoder uses), so the delta meets NO join, NO ranking
    * window, and NO exchange. Two rejected shapes, both measured:
    * crossJoin(broadcast) + `Window.partitionBy(id)` shuffled delta ×
    * nCells candidate rows (round-6 VERDICT item 1); the round-7 Catalyst
    * higher-order `aggregate` fold over a `typedLit` centroid array kept
    * the plan exchange-free but is a CodegenFallback allocation storm at
    * design-target candidate counts — the PQ encoder measured the same
    * shape at MINUTES vs sub-second for 2048 candidates/row (NOTES_r7),
    * and 100 TB IVF wants nCells ≈ 10⁴ (round-7 VERDICT item 1).
    *
    * Metric: squared Euclidean in DOUBLE precision — the k-means fit's
    * own metric; float rounding could flip a near-equidistant vector.
    * Tie-break: centroids are scanned in cell-ASC order under a strict
    * `<`, so the lowest cell id wins exact distance ties
    * deterministically. Cell ids need not be contiguous: the argmin runs
    * over array positions and maps back through the sorted id table. */
  private[graft] def assignToNearest(fresh: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val centArr = centroids.select(col("cell").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(centArr.nonEmpty, "assignToNearest: empty centroid table")
    val spark = fresh.sparkSession
    val bIds = spark.sparkContext.broadcast(centArr.map(_._1))
    val bCents = spark.sparkContext.broadcast(centArr.map(_._2))
    val in = fresh.select(col(idCol), col(vecCol),
      col(vecCol).cast("array<double>").as("__vd"))
    val outSchema = org.apache.spark.sql.types.StructType(
      in.schema.fields.dropRight(1) :+
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { it =>
      val ids = bIds.value
      val cents = bCents.value
      it.map { r =>
        val v = r.getSeq[Double](2).toArray
        org.apache.spark.sql.Row(r.get(0), r.get(1),
          ids(IndexUpkeep.nearestIndex(v, cents)))
      }
    }(enc)
  }

  /** Cheap drift proxy for "does this index need a [[build]] rather than
    * another [[refresh]]": the byte share of the current `assigned`
    * snapshot attributable to refresh MERGES since the last build — i.e.
    * how much of the index was binned against frozen centroids instead of
    * fit. Accumulated from per-VERSION file deltas of `merge` manifests
    * after the newest `overwrite` (the build — both compaction tiers
    * publish mode `compact`, so a later compaction rearranges files
    * without contributing drift; a dir-membership measure would spuriously
    * report ~1.0 after any compaction). Metadata-only (a manifest walk
    * plus `Files.size` — no data scan), so a maintenance cycle can
    * evaluate it every run at any scale. OVERestimates drift (a merge
    * rewrite carries untouched neighbors of changed rows into its delta)
    * and UNDERestimates once vacuum deletes a merge's delta files that a
    * later compaction folded — threshold-alarm semantics, not a
    * measurement; the false-positive cost is one early re-index. */
  def staleFraction(indexRoot: String): Double =
    IndexUpkeep.mergeDriftFraction(assignedTable(indexRoot))

  /** Frozen centroids: centroids are frozen between builds, so collecting
    * the centroid table on EVERY query call is a driver-blocking job for
    * bytes that cannot have changed under the same centroid-table stamp
    * (a driver-side log listing and stat, no job). */
  private val frozenCentroids =
    new Memo[(String, CommitLog.Stamp), Seq[(Int, Array[Float])]](maxEntries = 16)

  /** Answer queries from the PERSISTED index — no fit, no session cache;
    * any process with the storage answers immediately. Same probe/rerank
    * plan as [[IvfIndex.topK]]. */
  def topK(spark: SparkSession, indexRoot: String, queries: DataFrame, k: Int,
      nProbe: Int = 4, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = CommitLog.read(spark, assignedTable(indexRoot))
      .withColumnRenamed("cell", "__cell")
    // a deleted/never-created centroids table has no stamp: it builds
    // uncached, so CommitLog.read fails loudly instead of serving centroids
    // for an index that no longer exists
    val frozen = frozenCentroids.stamped(
        CommitLog.latestStamp(centroidsTable(indexRoot)).map((indexRoot, _))) {
      CommitLog.read(spark, centroidsTable(indexRoot))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .toSeq.sortBy(_._1)
    }
    IvfIndex.probeTopK(assigned, frozen, queries, k, nProbe, idCol, vecCol)
  }
}
