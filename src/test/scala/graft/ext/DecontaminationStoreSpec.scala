package graft.ext

import java.nio.file.Files

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** The persisted decontamination sketch: build once on the train corpus,
  * fold newly arrived train docs through the change feed as Bloom unions,
  * and the stored probe must keep the no-false-negative contract a fresh
  * batch rebuild would give — plus replay/stale-slice safety via the
  * watermark and the saturation gauge for the frozen capacity. */
class DecontaminationStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    graft.SparkSpec.tmpPath("graft_deconstore").toString

  // train docs share an 8-token passage with some test docs (planted
  // contamination); others are clean
  private val passage = "alpha beta gamma delta epsilon zeta eta theta"
  private def trainDocs(ids: Range): Seq[(Long, String)] =
    ids.map(i => (i.toLong, s"$passage train doc $i filler words here"))
  private val contaminatedTest = Seq(
    (900L, s"completely new intro then $passage and an outro"),
    (901L, s"$passage verbatim leak right at the start here"))
  private val cleanTest = Seq(
    (950L, "nothing in common with the training corpus at all in here truly"),
    (951L, "independent words that never appeared before anywhere else okay"))

  test("build → append → refresh: stored probe has NO false negatives vs the full train set") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    val covered = DecontaminationStore.build(spark, base, index)
    assert(covered === 1L)
    assert(DecontaminationStore.coveredVersion(index) === Some(1L))
    // a LATE train doc introduces a brand-new passage, then leaks into test
    val latePassage = "one two three four five six seven eight"
    CommitLog.commit(Seq((100L, s"$latePassage late train arrival text pad"))
      .toDF("doc_id", "text"), base, "append")
    assert(DecontaminationStore.refresh(spark, base, index) === 2L)
    val batch = (contaminatedTest ++ cleanTest :+
      (902L, s"leaks the late passage $latePassage here")).toDF("doc_id", "text")
    val flagged = DecontaminationStore.flaggedDocs(spark, index, batch)
      .as[Long].collect().toSet
    assert(Set(900L, 901L, 902L).subsetOf(flagged),
      s"every exactly-contaminated doc must flag (got $flagged)")
    // the late doc's flagging PROVES the refresh folded the delta: the
    // built sketch never saw latePassage
    assert(flagged.contains(902L))
    // replayed refresh is a txn no-op — no new version
    val v = CommitLog.latestVersion(DecontaminationStore.artifactTable(index)).get
    assert(DecontaminationStore.refresh(spark, base, index) === 2L)
    assert(CommitLog.latestVersion(
      DecontaminationStore.artifactTable(index)) === Some(v))
    // clean docs USUALLY pass (fpp 1e-4 — not pinned, but both missing
    // would smell like an always-true sketch)
    assert(!flagged.contains(950L) || !flagged.contains(951L))
  }

  test("deletes fold ADD-ONLY: a retired train doc keeps flagging (conservative)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 6).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    CommitLog.deleteKeys(spark, base, Seq(0L, 1L).toDF("doc_id"), Seq("doc_id"))
    DecontaminationStore.refresh(spark, base, index)
    val flagged = DecontaminationStore.flaggedDocs(spark, index,
      contaminatedTest.toDF("doc_id", "text")).as[Long].collect().toSet
    assert(flagged === Set(900L, 901L),
      "stale positives are the documented safe direction — never a leak")
  }

  test("delete rows with a NULL pre-image text still accrue delete debt " +
      "via the shingles-per-doc estimate (round-15 ADVICE — a null-text " +
      "feed must not defer the precision rebuild forever)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    // a doc whose text is NULL contributes no shingles at build — its
    // later delete row carries a null pre-image
    CommitLog.commit((trainDocs(0 until 4) :+ (99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    assert(DecontaminationStore.deleteDebt(spark, index) === 0.0)
    CommitLog.deleteKeys(spark, base, Seq(99L).toDF("doc_id"), Seq("doc_id"))
    DecontaminationStore.refresh(spark, base, index)
    // before the fix the null text shingled to nothing → debt stayed 0 and
    // Maintenance never rebuilt; the estimate must move the gauge
    assert(DecontaminationStore.deleteDebt(spark, index) > 0.0,
      "null-pre-image deletes must be estimated into the debt gauge")
    // mixed slice: a text-carrying delete provides the measured basis
    val root2 = freshRoot()
    val base2 = s"$root2/base"
    val index2 = s"$root2/index"
    CommitLog.commit((trainDocs(0 until 4) :+ (99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), base2, "append")
    DecontaminationStore.build(spark, base2, index2)
    CommitLog.deleteKeys(spark, base2, Seq(0L, 99L).toDF("doc_id"), Seq("doc_id"))
    DecontaminationStore.refresh(spark, base2, index2)
    val debt2 = DecontaminationStore.deleteDebt(spark, index2)
    assert(debt2 > 0.0)
    // the measured basis (doc 0's real shingle count) is far below the
    // conservative 256-shingle default — proves the estimate used the
    // slice's own average, not the fallback constant
    val row = CommitLog.read(spark,
      DecontaminationStore.artifactTable(index2))
      .select("n_deleted", "n_inserted").head()
    assert(row.getLong(0) < DecontaminationStore.NullTextShingleEstimate,
      s"expected measured per-doc estimate, got n_deleted=${row.getLong(0)}")
  }

  test("SHARDED store: build writes one row per prefix shard, probe " +
      "answers exactly like the unsharded twin, no false negatives " +
      "(round-15 VERDICT item 1)") {
    val root = freshRoot()
    val base = s"$root/base"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, s"$root/mono")
    DecontaminationStore.build(spark, base, s"$root/shard", nShards = 4)
    val rows = CommitLog.read(spark,
      DecontaminationStore.artifactTable(s"$root/shard"))
      .select("shard", "shards", "n_inserted").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3))
    assert(rows.forall(_._2 === 4))
    // the shards partition the shingle set: per-shard counts sum to the
    // unsharded store's inserted count
    val mono = CommitLog.read(spark,
      DecontaminationStore.artifactTable(s"$root/mono"))
      .select("n_inserted").as[Long].head()
    assert(rows.map(_._3).sum === mono)
    val batch = (contaminatedTest ++ cleanTest).toDF("doc_id", "text")
    val fromMono = DecontaminationStore.flaggedDocs(spark, s"$root/mono", batch)
      .as[Long].collect().toSet
    val fromShard = DecontaminationStore.flaggedDocs(spark, s"$root/shard", batch)
      .as[Long].collect().toSet
    assert(Set(900L, 901L).subsetOf(fromShard), "no false negatives")
    assert(fromShard === fromMono,
      "sharded and monolithic probes must agree on this corpus")
  }

  test("SHARDED refresh rewrites ONLY touched shard files — untouched " +
      "shards carry into the new version by reference") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index, nShards = 4)
    val table = DecontaminationStore.artifactTable(index)
    val v0 = CommitLog.latestVersion(table).get
    val files0 = CommitLog.manifest(table, v0).files.toSet
    // ONE tiny arrival: a 9-token doc has exactly 2 distinct w=8 shingles
    // — it can touch at most 2 of the 4 shards
    val late = "uno dos tres cuatro cinco seis siete ocho nueve"
    CommitLog.commit(Seq((100L, late)).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.refresh(spark, base, index)
    val v1 = CommitLog.latestVersion(table).get
    val files1 = CommitLog.manifest(table, v1).files.toSet
    val carried = files0.intersect(files1)
    val rewritten = files1.diff(files0)
    assert(rewritten.size <= 2,
      s"a 2-shingle delta must rewrite at most 2 shard files, got " +
        s"${rewritten.size} (carried ${carried.size})")
    assert(carried.size >= 2,
      "untouched shard files must carry by REFERENCE across the fold")
    // and the fold is correct: the late passage flags
    val flagged = DecontaminationStore.flaggedDocs(spark, index,
      Seq((902L, s"leak of $late right here")).toDF("doc_id", "text"))
      .as[Long].collect().toSet
    assert(flagged === Set(902L))
  }

  test("a slice contributing NO shingles (all-null text) advances the " +
      "watermark with ZERO shard files rewritten") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index, nShards = 4)
    val table = DecontaminationStore.artifactTable(index)
    val files0 = CommitLog.manifest(table,
      CommitLog.latestVersion(table).get).files.toSet
    CommitLog.commit(Seq((200L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"), base, "append")
    assert(DecontaminationStore.refresh(spark, base, index)
      === CommitLog.latestVersion(base).get)
    assert(DecontaminationStore.coveredVersion(index)
      === CommitLog.latestVersion(base))
    val files1 = CommitLog.manifest(table,
      CommitLog.latestVersion(table).get).files.toSet
    assert(files1 === files0,
      "an empty fold must carry every shard file by reference")
    // and the slice never re-folds
    val v = CommitLog.latestVersion(table).get
    assert(DecontaminationStore.refresh(spark, base, index)
      === CommitLog.latestVersion(base).get)
    assert(CommitLog.latestVersion(table) === Some(v))
  }

  test("SHARDED interleaved refresh loses the compare-and-set loudly " +
      "(replaceWhere CAS — no cross-shard false-negative window)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index, nShards = 4)
    val table = DecontaminationStore.artifactTable(index)
    val vRead = CommitLog.latestVersion(table).get
    // winner folds first
    CommitLog.commit(Seq((100L, "winner arrival doc pad pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.refresh(spark, base, index)
    assert(CommitLog.latestVersion(table).get > vRead)
    // the stalled refresher's replaceWhere is CAS against the version IT
    // read — landing it would drop the winner's bits from the touched
    // shards while the untouched ones keep them: a PARTIAL false-negative
    // window no probe must ever see
    intercept[java.util.ConcurrentModificationException] {
      CommitLog.replaceWhere(spark, table,
        Seq((0, 4, 8, 1000L, 1e-4, 1L, 0L, Array[Byte](1, 2, 3)))
          .toDF("shard", "shards", "w", "capacity", "fpp",
            "n_inserted", "n_deleted", "sketch"),
        col("shard") === 0, partitionBy = Seq("shard"),
        txn = Some((DecontaminationStore.AppId, 99L)),
        expectPriorVersion = Some(vRead))
    }
    // recovery: re-run refresh — clean no-op on the winner's watermark
    assert(DecontaminationStore.refresh(spark, base, index)
      === CommitLog.latestVersion(base).get)
  }

  test("rebuildShards re-sizes ONLY the given shards from the covered " +
      "snapshot; refusal when the watermark lags the base") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index, nShards = 4)
    val table = DecontaminationStore.artifactTable(index)
    val before = CommitLog.read(spark, table)
      .select("shard", "capacity", "sketch").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toMap
    DecontaminationStore.rebuildShards(spark, base, index, Seq(1, 2))
    val after = CommitLog.read(spark, table)
      .select("shard", "capacity", "sketch").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).toMap
    assert(after(0) === before(0) && after(3) === before(3),
      "untouched shards must be byte-identical")
    // probe still has no false negatives after the partial rebuild
    val flagged = DecontaminationStore.flaggedDocs(spark, index,
      contaminatedTest.toDF("doc_id", "text")).as[Long].collect().toSet
    assert(Set(900L, 901L).subsetOf(flagged))
    // watermark unchanged — the partial rebuild covers the same snapshot
    assert(DecontaminationStore.coveredVersion(index) === Some(1L))
    // a lagging watermark refuses: rebuilt shards would cover data the
    // others haven't folded
    CommitLog.commit(Seq((200L, "new arrival pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append")
    val e = intercept[IllegalArgumentException](
      DecontaminationStore.rebuildShards(spark, base, index, Seq(0)))
    assert(e.getMessage.contains("refresh first"), e.getMessage)
  }

  test("a LEGACY (pre-sharding) store migrates to the sharded layout on " +
      "its first refresh, keeping its filter and watermark") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 6).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    val table = DecontaminationStore.artifactTable(index)
    // rewrite the store in the PRE-SHARDING schema (no shard/shards
    // columns) — txn watermarks carry through overwrites, so this is a
    // faithful legacy store with a live covered version
    val legacyRow = CommitLog.read(spark, table)
      .select("w", "capacity", "fpp", "n_inserted", "n_deleted", "sketch")
    CommitLog.commit(legacyRow, table, "overwrite")
    assert(!CommitLog.read(spark, table).columns.contains("shard"))
    assert(DecontaminationStore.coveredVersion(index) === Some(1L))
    // gauges read the legacy row as shard 0 of 1
    assert(DecontaminationStore.saturation(spark, index) > 0.0)
    // a new arrival folds through the migrating refresh
    val late = "one two three four five six seven eight"
    CommitLog.commit(Seq((100L, s"$late late arrival text pad"))
      .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.refresh(spark, base, index)
    val cols = CommitLog.read(spark, table).columns.toSet
    assert(cols.contains("shard") && cols.contains("shards"),
      "first refresh must migrate the legacy row to the sharded layout")
    val flagged = DecontaminationStore.flaggedDocs(spark, index,
      (contaminatedTest :+ (902L, s"leaks $late here")).toDF("doc_id", "text"))
      .as[Long].collect().toSet
    assert(Set(900L, 901L, 902L).subsetOf(flagged),
      "migration must preserve the stored bits AND fold the delta")
  }

  test("a stale replayed refresh slice cannot regress the sketch") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 4).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    CommitLog.commit(Seq((50L, "first appended passage alpha omega pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append") // v2
    CommitLog.commit(Seq((51L, "second appended words nine ten eleven twelve pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append") // v3
    DecontaminationStore.refresh(spark, base, index) // winner covers v3
    // a stalled refresher replays the (v1→v2) slice's commit: one
    // overwrite with an OLDER watermark — the txn fast path must skip it
    val table = DecontaminationStore.artifactTable(index)
    val before = CommitLog.read(spark, table)
      .select("n_inserted").as[Long].head()
    val vBefore = CommitLog.latestVersion(table).get
    CommitLog.commit(
      Seq((8, 1000L, 1e-4, 1L, Array[Byte](1, 2, 3)))
        .toDF("w", "capacity", "fpp", "n_inserted", "sketch"),
      table, "overwrite", txn = Some((DecontaminationStore.AppId, 2L)))
    assert(CommitLog.latestVersion(table) === Some(vBefore))
    assert(CommitLog.read(spark, table)
      .select("n_inserted").as[Long].head() === before)
  }

  test("an interleaved refresh fails LOUDLY instead of silently dropping " +
      "the winner's union (compare-and-set overwrite — round-14 ADVICE)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 4).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    val table = DecontaminationStore.artifactTable(index)
    val vRead = CommitLog.latestVersion(table).get
    // the WINNER lands its fold first (advancing the sketch version past
    // what the stalled refresher read)
    CommitLog.commit(Seq((100L, "winner fold arrival doc pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.refresh(spark, base, index)
    assert(CommitLog.latestVersion(table).get > vRead)
    val winner = CommitLog.read(spark, table)
      .select("n_inserted").as[Long].head()
    // the stalled refresher's overwrite is compare-and-set against the
    // version IT read — exactly what refresh passes — and must refuse,
    // because landing it would drop the winner's bits: false NEGATIVES,
    // the one direction the store promises never to err in
    intercept[java.util.ConcurrentModificationException] {
      CommitLog.commit(
        Seq((8, 1000L, 1e-4, 1L, 0L, Array[Byte](1, 2, 3)))
          .toDF("w", "capacity", "fpp", "n_inserted", "n_deleted", "sketch"),
        table, "overwrite",
        txn = Some((DecontaminationStore.AppId, 99L)),
        expectPriorVersion = Some(vRead))
    }
    // the winner's fold is intact
    assert(CommitLog.read(spark, table)
      .select("n_inserted").as[Long].head() === winner)
    // and a re-run of refresh (the documented recovery) is a clean no-op
    assert(DecontaminationStore.refresh(spark, base, index)
      === CommitLog.latestVersion(base).get)
  }

  test("delete churn past the debt threshold triggers an IN-CYCLE rebuild " +
      "that reclaims stale positives (round-14 VERDICT item 7)") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    // doc 0 carries a passage UNIQUE to it — after its retirement and a
    // rebuild, that passage must stop flagging
    val uniq = "uno dos tres cuatro cinco seis siete ocho"
    CommitLog.commit(
      ((0L, s"$uniq retired doc zero filler pad") +:
        (1 until 5).map(i => (i.toLong, s"$passage train doc $i filler pad")))
        .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index)
    val probe = Seq((902L, s"eval doc leaking $uniq verbatim here"))
      .toDF("doc_id", "text")
    assert(DecontaminationStore.flaggedDocs(spark, index, probe)
      .as[Long].collect().toSet === Set(902L))
    assert(DecontaminationStore.deleteDebt(spark, index) === 0.0)
    // GDPR-style churn: retire docs 0 and 1 (≈2/5 of the corpus' shingles)
    CommitLog.deleteKeys(spark, base, Seq(0L, 1L).toDF("doc_id"), Seq("doc_id"))
    DecontaminationStore.refresh(spark, base, index)
    // add-only fold: still flags (conservative), but the DEBT is measured
    val debt = DecontaminationStore.deleteDebt(spark, index)
    assert(debt > 0.25, s"retiring 2 of 5 docs must cross the default threshold (got $debt)")
    assert(DecontaminationStore.flaggedDocs(spark, index, probe)
      .as[Long].collect().toSet === Set(902L), "pre-rebuild: stale positive")
    // the maintenance cycle sees the debt and REBUILDS in-cycle
    val pol = graft.tools.Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 8, indexStaleThreshold = 1e9,
      indexes = Seq(graft.tools.Maintenance.IndexRef(
        index, idCol = "doc_id", kind = "decon")))
    val r = graft.tools.Maintenance.run(spark, base, pol)
    assert(r.rebuiltIndexes === Seq(index))
    // stale positives gone, debt reset, live train still covered
    assert(DecontaminationStore.flaggedDocs(spark, index, probe)
      .as[Long].collect().isEmpty, "rebuild must reclaim the retired passage")
    assert(DecontaminationStore.deleteDebt(spark, index) === 0.0)
    val live = DecontaminationStore.flaggedDocs(spark, index,
      contaminatedTest.toDF("doc_id", "text")).as[Long].collect().toSet
    assert(live === Set(900L, 901L), "live train contamination must keep flagging")
    // no churn, no debt → the next cycle does NOT rebuild
    CommitLog.commit(Seq((500L, "quiet arrival doc pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append")
    val r2 = graft.tools.Maintenance.run(spark, base, pol)
    assert(r2.rebuiltIndexes.isEmpty)
  }

  test("saturation gauges fill against the frozen capacity") {
    val root = freshRoot()
    val base = s"$root/base"
    val index = s"$root/index"
    CommitLog.commit(trainDocs(0 until 8).toDF("doc_id", "text"), base, "append")
    DecontaminationStore.build(spark, base, index, expectedItems = 100L)
    val s0 = DecontaminationStore.saturation(spark, index)
    assert(s0 > 0.0 && s0 < 10.0)
    CommitLog.commit(
      (200 until 220).map(i => (i.toLong,
        s"fresh unique words row$i alpha$i beta$i gamma$i delta$i more$i"))
        .toDF("doc_id", "text"), base, "append")
    DecontaminationStore.refresh(spark, base, index)
    assert(DecontaminationStore.saturation(spark, index) > s0,
      "refresh insertions must move the gauge")
    // and the maintenance cycle drives the store through IndexRef
    val pol = graft.tools.Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 6, indexStaleThreshold = 1e9,
      indexes = Seq(graft.tools.Maintenance.IndexRef(
        index, idCol = "doc_id", kind = "decon")))
    CommitLog.commit(Seq((300L, "maintenance tick arrival doc pad pad pad pad pad"))
      .toDF("doc_id", "text"), base, "append")
    val r = graft.tools.Maintenance.run(spark, base, pol)
    assert(r.refreshedIndexes ===
      Seq(index -> CommitLog.latestVersion(base).get))
    assert(DecontaminationStore.coveredVersion(index) ===
      CommitLog.latestVersion(base))
  }
}
