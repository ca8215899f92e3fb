package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo
import graft.tx.CommitLog

/** MinHash-LSH band table PERSISTED as a commit-log table and maintained
  * from the base table's change feed — INCREMENTAL corpus dedup. At 100 TB
  * the expensive step of near-dup detection is shingling + signing the
  * corpus; a batch pipeline pays it on EVERY run, even when 99.9% of the
  * corpus is unchanged. Here the band table lives on storage:
  *
  * {{{
  *   <indexRoot>/config   (w INT, bands INT, rows_per_band INT, build_id STRING)
  *   <indexRoot>/bands    (<idCol>, band INT, bandkey STRING, build_id STRING)
  * }}}
  *
  * and [[refresh]] folds base changes through a delta-only
  * sign-and-band pass, so the steady-state cost of "dedup the day's crawl
  * against the whole corpus" is O(delta), never O(corpus).
  *
  * CONTRACT: the base table's `idCol` is a KEY — one row per document
  * (the same contract [[IvfStore]] places on `vec_id`); [[build]] refuses
  * a base with duplicate ids rather than banding rows the change feed's
  * per-id folding could never retire individually.
  *
  * Unlike [[IvfStore]]/[[PqStore]] there is NO fitted model to freeze:
  * the signature of a document depends on nothing but that document (the
  * md5 hash family is fixed), so an incrementally maintained band table
  * is EXACTLY equal to a full recompute — pinned by the `dedup_incremental`
  * oracle query, whose DuckDB twin re-derives the candidates of the whole
  * corpus from scratch. The same durability contract as the other stores:
  * the covered base version rides as a txn watermark (appId [[AppId]]),
  * and BOTH halves of a refresh are fenced by a watermark — retirements
  * by their own appId ([[DelAppId]], pinned unconditionally before the
  * merge so a slice's deletes can never be older than its upserts), fresh
  * bands by [[AppId]] on the keyed (id, band) MERGE upsert. A stalled
  * refresher that resumes AFTER a newer refresh completed replays an
  * already-superseded slice: its delete AND its merge are both skipped by
  * the txn fast path (round-13 ADVICE — with an unfenced delete, a stale
  * slice could remove band rows a newer slice re-inserted). Any process
  * answers from storage without re-signing the corpus.
  *
  * CONCURRENCY SCOPE: replays, crashes mid-refresh, and stalled
  * refreshers resuming after a winner are all harmless (above). Two
  * refreshers INTERLEAVING their mutations live, or a [[build]] racing an
  * in-flight refresh, still require a single serialized maintainer (the
  * [[graft.tools.Maintenance]] cycle) — the same single-maintainer
  * contract as [[IvfStore]]; the build_id aggregate check below turns a
  * build-vs-refresh mix into a loud refusal rather than silent
  * mixed-parameter probing.
  *
  * `build_id` is the banding-parameter fingerprint, stamped on BOTH
  * tables: a re-[[build]] with different parameters that crashes between
  * the config overwrite and the bands overwrite leaves a mismatch that
  * [[refresh]]/[[pairs]]/[[candidates]] REFUSE loudly (re-run build),
  * instead of silently probing old-parameter bands with new-parameter
  * keys — the watermark cannot catch this (a same-base-version re-build
  * leaves it valid). */
object DedupStore {

  /** Writer id for the version watermark on `bands`. */
  val AppId = "graft-dedup"

  /** Writer id fencing refresh RETIREMENTS separately from upserts: the
    * delete and the merge of one slice must both run (same target
    * version), so they cannot share an appId — the first would trip the
    * second's exactly-once fast path. A separate delete watermark lets a
    * stale slice's delete be skipped without blocking its merge check. */
  val DelAppId = "graft-dedup-del"

  private def configTable(root: String) = s"$root/config"
  private def bandsTable(root: String) = s"$root/bands"

  private def buildId(w: Int, bands: Int, rowsPerBand: Int): String =
    s"w${w}b${bands}r$rowsPerBand"

  /** Sign + band the FULL base snapshot and publish the band table;
    * returns the covered base version. Config commits FIRST (a first-build
    * crash leaves config without bands — [[pairs]] refuses on the missing
    * table; a RE-build crash leaves mismatched build_ids — every reader
    * refuses on the stamp, see the class doc); the watermark is attached
    * only when it ADVANCES, for the same reason [[IvfStore.build]]
    * documents — an unconditional txn would trip the exactly-once fast
    * path on a same-version re-build and silently skip the overwrite. */
  def build(spark: SparkSession, baseTable: String, indexRoot: String,
      w: Int = 5, bands: Int = 4, rowsPerBand: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val baseVersion = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    // read PINNED at the resolved version (round-13 ADVICE): a commit
    // landing between latestVersion() and a live-table read would band a
    // snapshot NEWER than the recorded watermark — safe in direction
    // (refresh re-folds idempotently) but the duplicate-id check and the
    // banded content would disagree with the version the watermark claims
    val corpus = CommitLog.readAt(spark, baseTable, baseVersion)
    val cnts = corpus
      .agg(count(lit(1)).as("n"), countDistinct(col(idCol)).as("nd")).head()
    require(cnts.getLong(0) == cnts.getLong(1),
      s"$baseTable holds duplicate $idCol values (${cnts.getLong(0)} rows, " +
        s"${cnts.getLong(1)} distinct) — the dedup store folds the change " +
        "feed per id and cannot represent multi-row ids; de-duplicate the " +
        "base first")
    import spark.implicits._
    val bid = buildId(w, bands, rowsPerBand)
    val txn =
      if (coveredVersion(indexRoot).exists(_ >= baseVersion)) None
      else Some((AppId, baseVersion))
    CommitLog.commit(
      Seq((w, bands, rowsPerBand, bid))
        .toDF("w", "bands", "rows_per_band", "build_id"),
      configTable(indexRoot), "overwrite")
    // RANGE-CLUSTERED on the doc id (round-14 ScaleSmoke finding): the
    // refresh path's keyed mutations (deleteKeys retirements, the
    // (id, band) MERGE) pre-shrink their probe with per-file id BOUNDS —
    // a hash-spread layout puts the whole id domain in every file's
    // [min,max], so each refresh scanned the ENTIRE band table (O(corpus)
    // hiding inside the O(delta) claim). Tight disjoint ranges prune a
    // fresh-id append's merge to ZERO probed files and a rewrite to the
    // files actually holding those ids; merge debt re-erodes the
    // clustering, which the maintenance cycle's width-gated re-cluster
    // (IndexRef(kind = "dedup").clusterBy) repays — the same layout
    // story as PqStore's cell-clustered codes.
    // Bloom sidecars on the mutation keys AND the probe key: the id/band
    // blooms give refresh's trickle mutations file skipping even where
    // clustering has eroded (a scattered-rewrite slice's ids hit every
    // range), and the bandkey bloom powers [[candidates]]' gated serving
    // probe — bandkey is a hash, so min/max bounds can never prune it;
    // a per-file bloom answers the membership question layout can't.
    graft.tx.BloomIndex.setColumns(bandsTable(indexRoot),
      Seq(idCol, "band", "bandkey"))
    CommitLog.commit(
      bandRows(corpus, w, bands, rowsPerBand, idCol, textCol, bid)
        .repartitionByRange(
          spark.sessionState.conf.numShufflePartitions, col(idCol)),
      bandsTable(indexRoot), "overwrite", txn = txn)
    baseVersion
  }

  /** Base version the index currently covers (the txn watermark). */
  def coveredVersion(indexRoot: String): Option[Long] =
    CommitLog.txnVersion(bandsTable(indexRoot), AppId)

  /** The store's data table, for maintenance (width-gated compaction —
    * refresh merges accumulate commit dirs on `bands` like any hot
    * table). */
  def artifactTable(indexRoot: String): String = bandsTable(indexRoot)

  /** Merge-accumulation fraction of the bands snapshot since the last
    * build — [[IndexUpkeep.mergeDriftFraction]], the same metadata-only
    * walk [[IvfStore.staleFraction]] runs. NOT semantic drift: the store
    * has no fitted model (incremental maintenance is EXACTLY a full
    * recompute — class doc), so a high value never means wrong answers;
    * it is layout debt — the snapshot is mostly merge deltas, and a
    * clean re-[[build]] (one overwrite) or compaction resets it. The
    * maintenance cycle surfaces it with the same threshold-alarm
    * semantics as the ANN stores. */
  def staleFraction(indexRoot: String): Double =
    IndexUpkeep.mergeDriftFraction(bandsTable(indexRoot))

  /** Fold every base change since the covered watermark into the band
    * table: the change-feed slice reduces to one final action per doc
    * ([[IndexUpkeep.finalActions]]); retired docs leave the table
    * file-granularly via [[CommitLog.deleteKeys]] (idempotent — a replay
    * re-deletes nothing), and fresh docs' bands are signed delta-only and
    * MERGE-upserted on (id, band) — a rewritten doc emits the same band
    * indexes, so the upsert replaces its stale keys in place and a
    * replayed refresh is a txn no-op. O(delta) compute + O(touched files)
    * rewrite; the no-op-slice watermark pin mirrors [[IvfStore.refresh]].
    *
    * Fencing order (class doc, CONCURRENCY SCOPE): delete under
    * [[DelAppId]], pin [[DelAppId]] BEFORE the merge, merge under
    * [[AppId]], pin [[AppId]] — so the moment a slice's upserts are
    * visible, every older slice's delete is already fenced, and a crash
    * at any point re-runs idempotently. */
  def refresh(spark: SparkSession, baseTable: String, indexRoot: String,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val covered = coveredVersion(indexRoot).getOrElse(
      throw new IllegalStateException(s"$indexRoot has no built index; run build first"))
    val latest = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    if (latest <= covered) return covered
    val (w, bands, rowsPerBand, bid) = checkedConfig(spark, indexRoot)
    val feed = CommitLog.changeFeed(spark, baseTable, covered, Some(latest),
      overwriteDiff = true)
    val finalActs = IndexUpkeep.finalActions(feed, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val retired = finalActs.filter(col(CommitLog.ChangeTypeCol) === "delete")
        .select(col(idCol))
      val fresh = finalActs.filter(col(CommitLog.ChangeTypeCol) =!= "delete")
        .select(col(idCol), col(textCol))
      def pin(app: String): Unit =
        if (!CommitLog.txnVersion(bandsTable(indexRoot), app).exists(_ >= latest))
          CommitLog.commit(
            CommitLog.read(spark, bandsTable(indexRoot)).limit(0),
            bandsTable(indexRoot), "append", txn = Some((app, latest))): Unit
      CommitLog.deleteKeys(spark, bandsTable(indexRoot), retired, Seq(idCol),
        txn = Some((DelAppId, latest)))
      // pin the delete watermark BEFORE the merge: once this slice's
      // upserts are visible, no older slice's delete may still be live
      // (deleteKeys records its txn only when keys matched — an empty or
      // all-miss retirement set leaves the fence to this pin)
      pin(DelAppId)
      if (!fresh.isEmpty)
        CommitLog.merge(spark, bandsTable(indexRoot),
          bandRows(fresh, w, bands, rowsPerBand, idCol, textCol, bid),
          Seq(idCol, "band"), txn = Some((AppId, latest)))
      pin(AppId)
      latest
    } finally finalActs.unpersist(blocking = false): Unit
  }

  /** Candidate near-dup pairs (a < b) of the WHOLE indexed corpus — a
    * band-key self-join over the stored table, no signing, no text read.
    * Equal to [[Dedup.minhashCandidates]] over the base snapshot (the
    * signature is per-document, so incremental maintenance loses
    * nothing — the oracle pins this). */
  def pairs(spark: SparkSession, indexRoot: String,
      idCol: String = "doc_id"): DataFrame = {
    checkedConfig(spark, indexRoot): Unit
    val bd = CommitLog.read(spark, bandsTable(indexRoot))
    val a = bd.select(col("band").as("band_a"), col("bandkey").as("key_a"),
      col(idCol).as("a"))
    val b = bd.select(col("band").as("band_b"), col("bandkey").as("key_b"),
      col(idCol).as("b"))
    a.join(b, col("band_a") === col("band_b") &&
        col("key_a") === col("key_b") && col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Distinct batch band keys at or under which the serving probe gates
    * the stored scan through the bandkey bloom sidecars (matches
    * [[CommitLog.BloomKeyProbeMaxKeys]]' trickle bound — an IN list
    * beyond this stops being a point probe). */
  val ProbeMaxKeys: Int = 4096

  /** Candidates of a NEW batch against the indexed corpus — the serving
    * shape ("dedup today's crawl against everything"): the batch is
    * signed in-flight (O(batch)) and its bands probe the stored table;
    * the corpus is never re-signed and only band-matching rows are
    * touched. A SMALL batch (≤ [[ProbeMaxKeys]] distinct band keys —
    * the serving norm) goes further: its keys push as an IN predicate
    * through [[CommitLog.readPruned]], and the per-file bandkey BLOOM
    * sidecars (registered at [[build]]) skip stored files that cannot
    * hold any of them — at 100 TB the difference between scanning the
    * corpus's whole band table per probe and opening the handful of
    * files that might answer. Collecting the key list is one eager
    * action over the (small) batch; larger batches keep the lazy full
    * bucket join. Output: (query_id, match_id), match ≠ query — a batch
    * doc already present in the index matches everything it collides
    * with EXCEPT itself. */
  def candidates(spark: SparkSession, indexRoot: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (w, bands, rowsPerBand, bid) = checkedConfig(spark, indexRoot)
    val qb = bandRows(batch, w, bands, rowsPerBand, idCol, textCol, bid)
      .select(col("band").as("band_q"), col("bandkey").as("key_q"),
        col(idCol).as("query_id"))
    // bandkey alone gates conservatively (it omits the band index, so a
    // cross-band hash collision keeps a file the join then rejects) —
    // exactly the pruning contract
    val probeKeys = qb.select("key_q").distinct()
      .limit(ProbeMaxKeys + 1).collect().map(_.getString(0))
    val stored =
      if (probeKeys.nonEmpty && probeKeys.length <= ProbeMaxKeys)
        CommitLog.readPruned(spark, bandsTable(indexRoot),
          col("bandkey").isin(probeKeys.toSeq: _*))
      else CommitLog.read(spark, bandsTable(indexRoot))
    val sb = stored
      .select(col("band").as("band_s"), col("bandkey").as("key_s"),
        col(idCol).as("match_id"))
    qb.join(sb, col("band_q") === col("band_s") &&
        col("key_q") === col("key_s") && col("query_id") =!= col("match_id"))
      .select("query_id", "match_id").distinct()
  }

  /** Checked configs, keyed by the (config, bands) table stamps the check
    * ran against: the verified result is a function of immutable versioned
    * storage, so a hot serving loop of [[pairs]]/[[candidates]] calls pays
    * two driver-side listings (no Spark actions) per probe instead of two
    * jobs, and ANY commit to either table — a re-build, a refresh merge —
    * changes a stamp and forces a re-check. Its miss counter counts the
    * checks that ran jobs. */
  private[ext] val checkedConfigs =
    new Memo[(String, CommitLog.Stamp, CommitLog.Stamp), (Int, Int, Int, String)](
      maxEntries = 16)

  /** Load the banding config AND verify the bands table carries the same
    * parameter fingerprint — a torn re-build (config overwritten, bands
    * overwrite crashed) must refuse loudly, never probe old-parameter
    * bands with new-parameter keys. AGGREGATE check (round-13 ADVICE): a
    * re-build racing an in-flight refresh can land old-build rows in the
    * new bands table, so a single sampled row could miss the mix — the
    * distinct build_id set must be exactly {config's}. An EMPTY bands
    * table has nothing to mismatch and passes. */
  private def checkedConfig(spark: SparkSession,
      indexRoot: String): (Int, Int, Int, String) = {
    val cs = CommitLog.latestStamp(configTable(indexRoot)).getOrElse(
      throw new IllegalStateException(s"$indexRoot has no built index; run build first"))
    val bs = CommitLog.latestStamp(bandsTable(indexRoot)).getOrElse(
      throw new IllegalStateException(
        s"$indexRoot: config exists but bands table has no versions — a " +
          "first build crashed before its bands overwrite; run build again"))
    checkedConfigs((indexRoot, cs, bs)) {
      val row = CommitLog.readAt(spark, configTable(indexRoot), cs.version)
        .select("w", "bands", "rows_per_band", "build_id").head()
      val cfg = (row.getInt(0), row.getInt(1), row.getInt(2), row.getString(3))
      val ids = CommitLog.readAt(spark, bandsTable(indexRoot), bs.version)
        .select("build_id").distinct().limit(3)
        .collect().map(_.getString(0)).sorted.toSeq
      require(ids.isEmpty || ids == Seq(cfg._4),
        s"$indexRoot: bands table carries builds [${ids.mkString(", ")}] but " +
          s"config says ${cfg._4} — a re-build crashed between its config " +
          "and bands overwrites, or raced an in-flight refresh; run build again")
      cfg
    }
  }

  /** (idCol, band, bandkey, build_id) rows of a document frame — the
    * fused signature expression + banding, delta-sized input in the
    * refresh and serving paths. */
  private def bandRows(docs: DataFrame, w: Int, bands: Int, rowsPerBand: Int,
      idCol: String, textCol: String, bid: String): DataFrame =
    Dedup.lshBands(
        Dedup.minhashSignature(docs, col(textCol), col(idCol),
          w, bands * rowsPerBand), bands, rowsPerBand)
      .select(col("__id").as(idCol), col("__band").as("band"),
        col("__bandkey").as("bandkey"), lit(bid).as("build_id"))
}
