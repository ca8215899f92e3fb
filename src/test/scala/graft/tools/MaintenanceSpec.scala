package graft.tools

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ext.{Dedup, DedupStore}
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** The maintenance driver: one cycle over a mutated, subscribed table
  * must heal, compact, vacuum, and sweep WITHOUT losing a live row,
  * breaking the subscriber, or leaving the audit dirty. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("a full cycle on a mutated table: nothing live lost, feed intact, width bounded, audit clean") {
    val t = graft.SparkSpec.tmpPath("graft_maint").resolve("t").toString
    val ck = graft.SparkSpec.tmpPath("graft_maint_ck").toString
    val out = graft.SparkSpec.tmpPath("graft_maint_out").toString
    // 16 single-row appends (auto-compaction off so the WIDTH is really
    // there for the cycle to fix), then the full mutation family
    (0 until 16).foreach { i =>
      CommitLog.commit(Seq((i.toLong, s"s$i")).toDF("id", "s"), t, "append",
        autoCompactEvery = 0)
    }
    CommitLog.merge(spark, t,
      Seq((3L, "UPD3"), (100L, "NEW100")).toDF("id", "s"), Seq("id"))
    CommitLog.delete(spark, t, col("id") === 5L)
    CommitLog.update(spark, t, col("id") === 7L, Map("s" -> lit("s7!")))
    // a checkpointed graft-stream subscriber consumes every change
    def drain(): Seq[(Long, String, Long, String)] = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "earliest").load(t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(q.exception.isEmpty)
      spark.read.parquet(out).select(CommitLog.CommitVersionCol,
        CommitLog.ChangeTypeCol, "id", "s")
        .as[(Long, String, Long, String)].collect().toSeq
    }
    // the table the subscriber rebuilds by folding its rows in version
    // order, removals first within a version
    def replica(rows: Seq[(Long, String, Long, String)]): Set[(Long, String)] = {
      val removal = Set("delete", "update_preimage")
      val acc = scala.collection.mutable.Buffer.empty[(Long, String)]
      rows.sortBy(r => (r._1, !removal(r._2))).foreach {
        case (_, ct, id, s) if removal(ct) => acc -= ((id, s))
        case (_, _, id, s) => acc += ((id, s))
      }
      acc.toSet
    }
    val first = drain()
    assert(first.count(_._2 == "insert") === 17) // 16 appends + merge's new key
    CommitLog.commit(Seq((150L, "mid")).toDF("id", "s"), t, "append",
      autoCompactEvery = 0)
    val second = drain()
    assert(second.size === first.size + 1)
    val before = CommitLog.read(spark, t).as[(Long, String)].collect().toSet
    assert(replica(second) === before)
    // the subscriber registers its cursor so retention never outruns it:
    // the START of its last committed batch, because a restart re-plans
    // that batch before asking for new versions
    val cursor = first.map(_._1).max
    CommitLog.registerCdcReader(spark, t, "maint-sub", cursor)

    val report = Maintenance.run(spark, t, Maintenance.Policy(
      compactWhenDirsExceed = 4, zorderBy = Seq("id"),
      minAgeMillis = 0, force = true))

    // compaction fired and bounded the plan width to one commit dir
    assert(report.compactedTo.isDefined)
    val latest = CommitLog.latestVersion(t).get
    val dirs = CommitLog.manifest(t, latest).files
      .map(_.split("/").take(2).mkString("/")).distinct
    assert(dirs.size === 1)
    // old versions vacuumed up to the reader's cursor and no further;
    // audit clean
    assert(report.vacuumedFiles > 0L)
    assert(report.laggingReaderCursor === Some(cursor))
    assert(CommitLog.versions(t).head === cursor)
    assert(report.healthy, s"fsck: ${report.fsck}")
    // nothing live lost (merge/delete/update results intact post-compact)
    val after = CommitLog.read(spark, t).as[(Long, String)].collect().toSet
    assert(after === before)
    assert(after.contains((3L, "UPD3")) && after.contains((7L, "s7!")))
    assert(!after.exists(_._1 == 5L))
    // the restarted subscriber sees every committed row exactly once: the
    // compaction is not replayed, and a post-maintenance commit flows
    // through the feed
    CommitLog.commit(Seq((200L, "late")).toDF("id", "s"), t, "append")
    val drained = drain()
    assert(drained.count(r => r._2 == "insert" && r._3 == 200L) === 1)
    assert(drained.size === second.size + 1)
    assert(replica(drained) ===
      CommitLog.read(spark, t).as[(Long, String)].collect().toSet)

    // a second cycle is an idempotent no-op on a healthy table
    CommitLog.registerCdcReader(spark, t, "maint-sub", second.map(_._1).max)
    val again = Maintenance.run(spark, t, Maintenance.Policy(
      compactWhenDirsExceed = 4, minAgeMillis = 0, force = true))
    assert(again.repairedCdc === 0L)
    assert(again.compactedTo.isEmpty)
    assert(again.healthy)
  }

  test("the CLI takes <table> [zorderCols] [indexRoots]; a subscriber checkpoint is no index root") {
    // the 4-argument shape of older releases fails with the usage line
    val e = intercept[IllegalArgumentException](
      Maintenance.main(Array("t", "id", "ck", "ix")))
    assert(e.getMessage.contains("usage: Maintenance <table> [zorderCols] [indexRoots]"))
    // in the 3-argument shape a checkpoint lands in the index slot as a
    // bare (IVF) root: refresh refuses it before writing anything
    val t = graft.SparkSpec.tmpPath("graft_maint_cli").resolve("t").toString
    val ck = graft.SparkSpec.tmpPath("graft_maint_cli_ck").toString
    CommitLog.commit(Seq((1L, "a")).toDF("id", "s"), t, "append")
    val q = spark.readStream.format("graft").option("startingVersion", "earliest").load(t)
      .writeStream.format("noop").option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def listing(): Seq[(String, Long)] = {
      val walk = Files.walk(Paths.get(ck))
      try walk.iterator().asScala.map(p => (p.toString, Files.getLastModifiedTime(p).toMillis))
        .toSeq.sorted
      finally walk.close()
    }
    val before = listing()
    assert(before.exists(_._1.endsWith("commits")))
    val e2 = intercept[IllegalStateException](Maintenance.IndexRef(ck).refresh(spark, t))
    assert(e2.getMessage.contains("no built index"))
    assert(listing() === before)
  }

  test("the cycle upgrades legacy stats sidecars so grandfathered " +
      "coverage becomes measured (round-15 ADVICE on FileStats)") {
    val t = graft.SparkSpec.tmpPath("graft_maint_sc").resolve("t").toString
    CommitLog.commit((0L until 50L).toDF("id").coalesce(1), t, "append")
    val m = CommitLog.manifest(t, 1L)
    val dir = Paths.get(t).resolve(CommitLog.commitDirOf(m.files.head))
    val sc = dir.resolve(graft.tx.FileStats.SidecarName)
    // doctor to the legacy 8-field form (pre-row-count)
    val legacy = new String(Files.readAllBytes(sc), "UTF-8").split("\n")
      .map(l => l.split("\t", -1).take(8).mkString("\t")).mkString("\n")
    Files.write(sc, legacy.getBytes("UTF-8"))
    val r = Maintenance.run(spark, t,
      Maintenance.Policy(minAgeMillis = 0, force = true))
    assert(r.upgradedSidecars === 1, r.toString)
    assert(graft.tx.FileStats.readSidecar(dir)
      .values.flatMap(_.values).forall(s => s.rows === 50L && s.covered))
    // quiet follow-up cycle: nothing left to upgrade
    val r2 = Maintenance.run(spark, t,
      Maintenance.Policy(minAgeMillis = 0, force = true))
    assert(r2.upgradedSidecars === 0)
  }

  test("the cycle re-sizes SATURATED decon shards alone — per-shard " +
      "capacity decisions (round-15 VERDICT item 1)") {
    val root = graft.SparkSpec.tmpPath("graft_maint_decon").toString
    val base = s"$root/base"
    val index = s"$root/index"
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, (0 until 20).map(j => s"w$i-$j").mkString(" ")))
    // tight explicit sizing: 4 shards × 1000-capacity each
    graft.tx.CommitLog.commit(docs(0 until 10).toDF("doc_id", "text"),
      base, "append")
    graft.ext.DecontaminationStore.build(spark, base, index,
      expectedItems = 4000L, nShards = 4)
    assert(graft.ext.DecontaminationStore.saturation(spark, index) < 1.0)
    // ~300 unique docs × ~13 distinct shingles ≈ 3900 shingles — every
    // shard's fill crosses its frozen 1000 capacity
    graft.tx.CommitLog.commit(docs(10 until 310).toDF("doc_id", "text"),
      base, "append")
    graft.ext.DecontaminationStore.refresh(spark, base, index)
    val sat = graft.ext.DecontaminationStore.saturatedShards(spark, index)
    assert(sat.nonEmpty,
      s"expected saturated shards, gauge=" +
        graft.ext.DecontaminationStore.saturation(spark, index))
    val pol = Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 8, indexStaleThreshold = 1e9,
      indexes = Seq(Maintenance.IndexRef(index, idCol = "doc_id",
        kind = "decon")))
    val r = Maintenance.run(spark, base, pol)
    assert(r.rebuiltIndexes.exists(_.startsWith(s"$index#shards=")),
      r.rebuiltIndexes.toString)
    // the offenders re-sized; the store's fpp contract is honest again
    assert(graft.ext.DecontaminationStore.saturation(spark, index) <= 1.0)
    assert(graft.ext.DecontaminationStore
      .saturatedShards(spark, index).isEmpty)
    // and the probe still flags a live-train leak
    val flagged = graft.ext.DecontaminationStore.flaggedDocs(spark, index,
      Seq((9000L, docs(42 until 43).head._2)).toDF("doc_id", "text"))
      .as[Long].collect().toSet
    assert(flagged === Set(9000L))
  }

  test("accumulated deletion vectors trigger the cycle's compact — merge-on-read debt repaid") {
    val t = graft.SparkSpec.tmpPath("graft_maint_dv").resolve("t").toString
    CommitLog.commit((0 until 200).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .repartition(2), t, "append")
    // a trickle of DV deletes: few commit dirs (width trigger stays cold),
    // many DV dirs (merge-on-read debt accumulates)
    (0 until 4).foreach(i => CommitLog.deleteDv(spark, t, col("id") === i.toLong))
    assert(CommitLog.manifest(t, CommitLog.latestVersion(t).get).dvDirs.size === 4)
    // below the DV threshold: no compact
    val r0 = Maintenance.run(spark, t, Maintenance.Policy(
      compactWhenDvDirsExceed = 8, minAgeMillis = 0, force = true))
    assert(r0.compactedTo.isEmpty)
    // at the threshold: the cycle folds the deaths into clean files
    val r1 = Maintenance.run(spark, t, Maintenance.Policy(
      compactWhenDvDirsExceed = 3, minAgeMillis = 0, force = true))
    assert(r1.compactedTo.nonEmpty)
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(m.dvDirs.isEmpty)
    assert(CommitLog.read(spark, t).count() === 196L)
    assert(r1.healthy, r1.toString)
  }

  test("the cycle refreshes a registered IVF index, replay-safe, and flags drift-staleness") {
    val root = graft.SparkSpec.tmpPath("graft_maint_ivf").toString
    val base = s"$root/base"
    val index = s"$root/index"
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    CommitLog.commit(emb.filter(col("vec_id") < 400L), base, "append")
    graft.ext.IvfStore.build(spark, base, index, nCells = 8)
    // base advances between cron ticks; the cycle must fold the delta in
    CommitLog.commit(
      emb.filter(col("vec_id") >= 400L && col("vec_id") < 450L), base, "append")
    val pol = Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 3, indexes = Seq(Maintenance.IndexRef(index)))
    val r1 = Maintenance.run(spark, base, pol)
    assert(r1.refreshedIndexes === Seq(index -> CommitLog.latestVersion(base).get))
    assert(graft.ext.IvfStore.coveredVersion(index) === CommitLog.latestVersion(base))
    assert(CommitLog.read(spark, s"$index/assigned").count()
      === CommitLog.read(spark, base).count())
    assert(r1.staleIndexes.isEmpty) // ~11% of the corpus binned post-build
    assert(r1.healthy)
    // replay-safe: a second cycle no-ops the refresh — covered watermark
    // unchanged, NO new version published on the assigned table
    val aV = CommitLog.latestVersion(s"$index/assigned").get
    val r2 = Maintenance.run(spark, base, pol)
    assert(r2.refreshedIndexes === Seq(index -> CommitLog.latestVersion(base).get))
    assert(CommitLog.latestVersion(s"$index/assigned") === Some(aV))
    // a compaction of the assigned table rearranges files without drift:
    // the alarm must not fire (delta-walk accumulation, not dir
    // membership — review finding: the latter reads ~1.0 after ANY
    // compaction and pages the operator into a pointless rebuild)
    val preCompact = graft.ext.IvfStore.staleFraction(index)
    CommitLog.compact(spark, s"$index/assigned")
    val postCompact = graft.ext.IvfStore.staleFraction(index)
    assert(postCompact < 0.5, s"compaction inflated drift to $postCompact")
    assert(math.abs(postCompact - preCompact) < 0.2,
      s"compaction moved drift $preCompact -> $postCompact")
    // heavy growth: the cycle still folds it (recall is served) but flags
    // the index as drift-stale — the rebuild is an explicit operator op,
    // like a Z-order re-cluster
    CommitLog.commit(emb.withColumn("vec_id", col("vec_id") + 1000000L),
      base, "append")
    val r3 = Maintenance.run(spark, base, pol.copy(indexStaleThreshold = 0.3))
    assert(r3.refreshedIndexes === Seq(index -> CommitLog.latestVersion(base).get))
    assert(r3.staleIndexes === Seq(index))
    assert(CommitLog.read(spark, s"$index/assigned").count()
      === CommitLog.read(spark, base).count())
    // an explicit rebuild resets the drift measure
    graft.ext.IvfStore.build(spark, base, index, nCells = 8)
    assert(graft.ext.IvfStore.staleFraction(index) <= 0.3)
  }

  test("the cycle refreshes a registered PQ index through the same IndexRef contract") {
    val root = graft.SparkSpec.tmpPath("graft_maint_pq").toString
    val base = s"$root/base"
    val index = s"$root/index"
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    CommitLog.commit(emb.filter(col("vec_id") < 400L), base, "append")
    graft.ext.PqStore.build(spark, base, index)
    CommitLog.commit(
      emb.filter(col("vec_id") >= 400L && col("vec_id") < 450L), base, "append")
    val pol = Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 3,
      indexes = Seq(Maintenance.IndexRef(index, kind = "pq")))
    val r1 = Maintenance.run(spark, base, pol)
    assert(r1.refreshedIndexes === Seq(index -> CommitLog.latestVersion(base).get))
    assert(graft.ext.PqStore.coveredVersion(index) === CommitLog.latestVersion(base))
    assert(CommitLog.read(spark, s"$index/codes").count()
      === CommitLog.read(spark, base).count())
    assert(r1.healthy)
    // replay-safe: a second cycle no-ops the refresh
    val cV = CommitLog.latestVersion(s"$index/codes").get
    val r2 = Maintenance.run(spark, base, pol)
    assert(r2.refreshedIndexes === Seq(index -> CommitLog.latestVersion(base).get))
    assert(CommitLog.latestVersion(s"$index/codes") === Some(cV))
    // the maintained index keeps answering from storage
    graft.Memo.releaseAll()
    val res = graft.ext.PqStore.topK(spark, base, index,
      emb.filter(col("vec_id") < 10), k = 3)
    assert(res.groupBy("query_id").count().count() === 10L)
  }

  test("the cycle refreshes a registered dedup store alongside both ANN stores") {
    // round-13 VERDICT item 2: the band table has the identical watermark
    // contract as the ANN stores, so the hourly cron analogue must drive
    // all three from one Policy — no separate dedup cron.
    val root = graft.SparkSpec.tmpPath("graft_maint_dedup").toString
    val base = s"$root/base"
    val (ivf, pq, ddp) = (s"$root/ivf", s"$root/pq", s"$root/dedup")
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.documents(spark, dir).select("doc_id", "text")
    val emb = graft.queries.Tables.embeddings(spark, dir)
    val full = docs.join(emb, col("doc_id") === col("vec_id"))
      .select("doc_id", "text", "vec_id", "embedding")
    CommitLog.commit(full.filter(col("doc_id") < 400L), base, "append")
    graft.ext.IvfStore.build(spark, base, ivf, nCells = 8)
    graft.ext.PqStore.build(spark, base, pq)
    graft.ext.DedupStore.build(spark, base, ddp)
    // base advances between cron ticks: an append AND a doc retirement
    CommitLog.commit(
      full.filter(col("doc_id") >= 400L && col("doc_id") < 450L), base, "append")
    CommitLog.deleteKeys(spark, base,
      full.filter(col("doc_id") === 7L).select("doc_id"), Seq("doc_id"))
    val pol = Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 6, indexes = Seq(
        Maintenance.IndexRef(ivf),
        Maintenance.IndexRef(pq, kind = "pq"),
        Maintenance.IndexRef(ddp, idCol = "doc_id", kind = "dedup")))
    val r1 = Maintenance.run(spark, base, pol)
    val latest = CommitLog.latestVersion(base).get
    assert(r1.refreshedIndexes === Seq(ivf -> latest, pq -> latest, ddp -> latest))
    assert(graft.ext.DedupStore.coveredVersion(ddp) === Some(latest))
    assert(r1.healthy)
    // the maintained store answers exactly like a batch recompute of the
    // mutated base — and the retired doc's bands are gone
    val stored = DedupStore.pairs(spark, ddp)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashCandidates(
        CommitLog.read(spark, base).select("doc_id", "text"),
        col("text"), col("doc_id"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === batch)
    assert(!stored.exists(p => p._1 == 7L || p._2 == 7L))
    // replay-safe: a second cycle no-ops all three refreshes
    val bV = CommitLog.latestVersion(graft.ext.DedupStore.artifactTable(ddp)).get
    val r2 = Maintenance.run(spark, base, pol)
    assert(r2.refreshedIndexes.map(_._2).forall(_ === latest))
    assert(CommitLog.latestVersion(graft.ext.DedupStore.artifactTable(ddp)) === Some(bV))
  }

  test("the cycle re-clusters a gated index's codes once refresh merges widen it") {
    val root = graft.SparkSpec.tmpPath("graft_maint_ivfpq").toString
    val base = s"$root/base"
    val index = s"$root/index"
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    CommitLog.commit(emb.filter(col("vec_id") < 300L), base, "append")
    graft.ext.PqStore.build(spark, base, index, nCells = 8)
    val codes = s"$index/codes"
    // several appends + cycle-driven refresh merges: each merge lands a
    // NEW unclustered dir on the codes table
    // tiny target bytes so the re-cluster emits several cell-range files
    // at this corpus size (128 MB would coalesce to one file and leave
    // the gate nothing to skip)
    val pol = Maintenance.Policy(minAgeMillis = 0, force = true,
      vacuumKeepVersions = 3, compactWhenDirsExceed = 1, targetBytes = 2048,
      indexes = Seq(Maintenance.IndexRef(index, kind = "pq")))
    (0 until 3).foreach { i =>
      CommitLog.commit(
        emb.filter(col("vec_id") >= 300L + i * 50L && col("vec_id") < 350L + i * 50L),
        base, "append")
      Maintenance.run(spark, base, pol)
    }
    // settling cycle: the last refresh merge landed AFTER its cycle's
    // compact; an idle cycle re-clusters it (and no-ops the refresh)
    Maintenance.run(spark, base, pol)
    val lv = CommitLog.latestVersion(codes).get
    val m = CommitLog.manifest(codes, lv)
    // the width gate held: the codes snapshot spans few dirs again and
    // the re-cluster published as a compact
    val dirs = m.files.map(CommitLog.commitDirOf).distinct.size
    assert(dirs <= 3, s"codes snapshot spans $dirs dirs after the cycles")
    assert(CommitLog.versions(codes)
      .map(CommitLog.manifest(codes, _).mode).contains("compact"))
    // the covered watermark SURVIVED the rewrites (compaction carries
    // txns forward) — a lost watermark would make every refresh re-fold
    assert(graft.ext.PqStore.coveredVersion(index) === CommitLog.latestVersion(base))
    // cell-clustering restored: a 2-of-8-cells probe set prunes files
    val kept = CommitLog.pruneFiles(codes, m,
      Seq(org.apache.spark.sql.sources.In("cell", Array(Int.box(0), Int.box(1)))))
    assert(kept.size < m.files.size,
      s"cell gate prunes nothing: ${kept.size} of ${m.files.size}")
    // and the gated query still answers
    graft.Memo.releaseAll()
    val res = graft.ext.PqStore.topK(spark, base, index,
      emb.filter(col("vec_id") < 10), k = 3, nProbe = 4)
    assert(res.groupBy("query_id").count().count() === 10L)
  }

  test("an abandoned reader cursor pinning vacuum is surfaced, and the override drops it") {
    val t = graft.SparkSpec.tmpPath("graft_maint4").resolve("t").toString
    (0 until 3).foreach { i =>
      CommitLog.commit(Seq((i.toLong, s"s$i")).toDF("id", "s"), t, "append",
        autoCompactEvery = 0)
    }
    CommitLog.registerCdcReader(spark, t, "ghost", 1L) // then decommissioned
    CommitLog.commit(Seq((9L, "z")).toDF("id", "s"), t, "append", autoCompactEvery = 0)
    val pol = Maintenance.Policy(vacuumKeepVersions = 1, minAgeMillis = 0, force = true)
    val r = Maintenance.run(spark, t, pol)
    // vacuum held back by the ghost cursor — and the report SAYS so
    // (review finding: silently-disabled vacuum grew disk with healthy=true)
    assert(r.vacuumedFiles === 0L)
    assert(r.laggingReaderCursor === Some(1L))
    assert(CommitLog.versions(t).head === 1L)
    // the documented override is reachable from the cron policy
    val r2 = Maintenance.run(spark, t, pol.copy(dropLaggingReaders = true))
    assert(r2.laggingReaderCursor.isEmpty)
    assert(CommitLog.versions(t) === Seq(CommitLog.latestVersion(t).get))
  }

  test("cycles overlapping live writers never page on a healthy table") {
    // round-6 ADVICE (low): the final audit always reported pendingCdc
    // regardless of age, so a cron overlapping a writer's
    // millisecond publish window returned healthy=false — a spurious page.
    // The cycle now re-heals and re-audits once before declaring unhealthy
    // (safe because repairCdc is publish-race-free as of this round).
    val t = graft.SparkSpec.tmpPath("graft_maint3").resolve("t").toString
    CommitLog.commit((0 until 200).map(i => (i.toLong, s"s$i"))
      .toDF("id", "s").repartition(4), t, "append")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until 6).foreach { i =>
          var done = false
          var tries = 0
          while (!done && tries < 32) {
            tries += 1
            try { CommitLog.delete(spark, t, col("id") === i.toLong); done = true }
            catch { case _: IllegalStateException => () }
          }
          assert(done, s"delete $i never committed")
        }
      })
      // default policy: retention windows at production values, vacuum and
      // compaction no-op — the pure audit cadence racing the writer
      val reports = (0 until 3).map(_ => Maintenance.run(spark, t, Maintenance.Policy()))
      writer.get(300, java.util.concurrent.TimeUnit.SECONDS)
      reports.foreach(r => assert(r.healthy, s"spurious page: ${r.fsck}"))
    } finally pool.shutdown()
    // and nothing was damaged: every mutation still serves its change rows
    val latest = CommitLog.latestVersion(t).get
    assert(CommitLog.changeFeed(spark, t, 1L, Some(latest))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 6L)
    assert(CommitLog.read(spark, t).count() === 194L)
  }

  test("the cycle heals a crashed cdc publish before auditing") {
    val t = graft.SparkSpec.tmpPath("graft_maint2").resolve("t").toString
    CommitLog.commit((0 until 10).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
      t, "append")
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    // simulate the crash window: slot move never happened
    val man = CommitLog.manifest(t, v)
    val cdcRoot = Paths.get(t).resolve("_cdc")
    Files.move(cdcRoot.resolve(f"$v%020d"), cdcRoot.resolve(man.cdcName.get))
    assert(CommitLog.fsck(t).pendingCdc === Seq(v))
    val report = Maintenance.run(spark, t, Maintenance.Policy(
      vacuumKeepVersions = 3, minAgeMillis = 0, force = true))
    assert(report.repairedCdc === 1L)
    assert(report.healthy)
    // the healed slot serves the feed normally
    assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
  }
}
