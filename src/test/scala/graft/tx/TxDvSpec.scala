package graft.tx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Deletion vectors (merge-on-read): a trickle delete publishes dead row
  * POSITIONS and carries every data file by reference — O(rows) bytes
  * written, not O(files) rewritten — and every reader, mutation probe,
  * feed, and maintenance op stays exact. */
class TxDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_dv").resolve("t").toString

  /** 400 rows, 4 id-clustered files. */
  private def seed(t: String): Unit =
    CommitLog.commit(
      (0 until 400).map(i => (i.toLong, s"s$i", i % 5)).toDF("id", "s", "grp")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, "append")

  test("deleteDv removes rows WITHOUT rewriting any data file") {
    val t = freshTable()
    seed(t)
    val before = CommitLog.manifest(t, 1L)
    val v = CommitLog.deleteDv(spark, t, col("id").isin(3L, 77L, 250L))
    assert(v === 2L)
    val after = CommitLog.manifest(t, v)
    // THE merge-on-read claim: identical file list, by reference
    assert(after.files === before.files)
    assert(after.dvDirs.size === 1)
    assert(after.mode === "delete")
    // the snapshot is exact
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 397L)
    assert(rows.filter(col("id").isin(3L, 77L, 250L)).count() === 0L)
    // time travel still sees the full pre-delete snapshot
    assert(CommitLog.readAt(spark, t, 1L).count() === 400L)
    // the change feed serves the same delete rows a copy-on-write would
    val feed = CommitLog.changeFeed(spark, t, fromVersion = 1L)
    assert(feed.filter(col(CommitLog.ChangeTypeCol) === "delete")
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 77L, 250L))
    // and the DV artifact is tiny — row-scale, not file-scale
    def treeBytes(p: java.nio.file.Path): Long = {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
    val dvBytes = treeBytes(Paths.get(t).resolve(after.dvDirs.head))
    val dataBytes = before.files.map(f => Files.size(Paths.get(t).resolve(f))).sum
    assert(dvBytes < dataBytes / 2, s"dv $dvBytes vs data $dataBytes")
    // plan shape: the death set BROADCASTS into a left-anti join — the
    // table side must never shuffle for merge-on-read (the whole point
    // of bounding the DV set is that reads pay a map-side probe)
    val readPlan = {
      val df = CommitLog.read(spark, t)
      df.count()
      df.queryExecution.executedPlan.toString
    }
    assert(readPlan.contains("BroadcastHashJoin") && readPlan.contains("LeftAnti"),
      s"DV filter must be a broadcast anti-join:\n$readPlan")
    assert(!readPlan.contains("SortMergeJoin"),
      s"DV filter must not shuffle the table side:\n$readPlan")
    // death-SCOPED: the deaths live in 2 of the 4 data files, so the plan
    // must union a probe-free clean scan beside the anti-joined dead scan
    // — at 100 TB under a trickle, the clean majority never pays the probe
    assert(readPlan.contains("Union"),
      s"clean files must scan outside the DV join:\n$readPlan")
  }

  test("layered DVs: a second deleteDv only journals NEW deaths; readPruned stays exact") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") < 10L)
    val v3 = CommitLog.deleteDv(spark, t, col("id") < 20L) // overlaps the first
    val feed = CommitLog.changeFeed(spark, t, fromVersion = 2L, toVersion = Some(v3))
    // only ids 10-19 die at v3 — 0-9 were already dead and must not re-journal
    assert(feed.select("id").as[Long].collect().sorted.toSeq === (10L until 20L))
    assert(CommitLog.read(spark, t).count() === 380L)
    assert(CommitLog.manifest(t, v3).dvDirs.size === 2)
    // pruned read composes with DVs
    val pruned = CommitLog.readPruned(spark, t, col("id") < 30L)
    assert(pruned.select("id").as[Long].collect().sorted.toSeq === (20L until 30L))
    // no-match deleteDv is a version no-op
    assert(CommitLog.deleteDv(spark, t, col("id") === -1L) === v3)
  }

  test("mutations on a DV table neither match nor resurrect dead rows; DV refs carry") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") === 100L)
    // copy-on-write UPDATE touching the dead row's FILE: the dead row must
    // not reappear in the rewritten file, and untouched files keep DV refs
    CommitLog.update(spark, t, col("id") === 101L, Map("s" -> lit("updated")))
    val rows = CommitLog.read(spark, t)
    assert(rows.filter(col("id") === 100L).count() === 0L)
    assert(rows.filter(col("id") === 101L).select("s").head().getString(0) === "updated")
    assert(rows.count() === 399L)
    assert(CommitLog.manifest(t, CommitLog.latestVersion(t).get).dvDirs.nonEmpty) // carried forward
    // a merge can't resurrect it either
    CommitLog.merge(spark, t,
      Seq((100L, "back", 0)).toDF("id", "s", "grp"), Seq("id"))
    assert(CommitLog.read(spark, t).filter(col("id") === 100L).count() === 1L) // insert path
    assert(CommitLog.read(spark, t).count() === 400L)
  }

  test("compact folds DVs into clean files; metaAggregate honest before, exact after") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") < 50L)
    // metadata aggregates stay EXACT while DVs ride (round-8 item 6):
    // the death-carrying files re-aggregate their live rows driver-side
    assert(CommitLog.metaAggregate(t, Seq("id")) ===
      Some(CommitLog.MetaAgg(350L, Map("id" ->
        CommitLog.MetaColAgg(Some(50L), Some(399L), 350L)))))
    // the SQL source serves the DV snapshot through the merge-on-read
    // fallback relation — correct rows, pushed filter included
    assert(spark.read.format("graft").load(t).count() === 350L)
    assert(spark.read.format("graft").load(t)
      .filter(col("id") < 60L).count() === 10L)
    CommitLog.compact(spark, t)
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(m.dvDirs.isEmpty)
    assert(CommitLog.read(spark, t).count() === 350L)
    assert(CommitLog.metaAggregate(t, Seq("id")).nonEmpty)
    assert(spark.read.format("graft").load(t).count() === 350L)
    // fsck clean end to end (live DV dirs of OLD versions are not orphans)
    assert(CommitLog.fsck(t).clean, CommitLog.fsck(t).toString)
  }

  test("vacuum keeps live DV dirs, reclaims dropped ones; fsck flags a missing DV dir") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") === 7L) // v2 + dv1
    CommitLog.deleteDv(spark, t, col("id") === 8L) // v3 + dv2
    val dv1 = CommitLog.manifest(t, 2L).dvDirs.head
    CommitLog.compact(spark, t)                    // v4, no DVs
    CommitLog.deleteDv(spark, t, col("id") === 9L) // v5 + dv3
    val dv3 = CommitLog.manifest(t, 5L).dvDirs.head
    CommitLog.vacuum(t, keepVersions = 2, minAgeMillis = 0, force = true)
    // dv3 is referenced by a kept version — alive; dv1/dv2 only by dropped ones — gone
    assert(Files.isDirectory(Paths.get(t).resolve(dv3)))
    assert(!Files.exists(Paths.get(t).resolve(dv1)))
    assert(CommitLog.read(spark, t).count() === 397L)
    assert(CommitLog.fsck(t).clean)
    // a vanished LIVE DV dir is manifest-referenced damage
    TxIO.io.deleteTree(Paths.get(t).resolve(dv3))
    val report = CommitLog.fsck(t)
    assert(report.missingFiles.exists(_._2 == dv3), report.toString)
  }

  test("DV-dir fold: the trickle's accumulated dirs collapse at the threshold, deaths intact") {
    val t = freshTable()
    seed(t)
    // foldAt = 3: the 4th trickle delete finds 3 dirs and absorbs every
    // prior death into ONE — bounding the per-read DV relation count and
    // broadcast size that an unbounded trickle would otherwise grow
    (0 until 4).foreach(i =>
      CommitLog.deleteDv(spark, t, col("id") === (i * 10L), foldAt = 3))
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(m.dvDirs.size === 1, m.dvDirs)
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 396L)
    assert(rows.filter(col("id").isin(0L, 10L, 20L, 30L)).count() === 0L)
    // superseded dirs are unreferenced by the latest version → vacuumable
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(CommitLog.read(spark, t).count() === 396L)
    assert(CommitLog.fsck(t).clean)
  }

  test("mergeDv upserts with ZERO file rewrites: matched rows die by position, source appends") {
    val t = freshTable()
    seed(t)
    val before = CommitLog.manifest(t, 1L)
    // 5 updates (existing ids, changed payload) + 3 inserts (new ids)
    val src = ((10 until 15).map(i => (i.toLong, "upd", 99)) ++
      (900 until 903).map(i => (i.toLong, "new", 99))).toDF("id", "s", "grp")
    val v = CommitLog.mergeDv(spark, t, src, Seq("id"))
    val after = CommitLog.manifest(t, v)
    // merge-on-read claim: every pre-existing file carried BY REFERENCE
    assert(before.files.forall(after.files.contains))
    assert(after.dvDirs.size === 1)
    assert(after.mode === "merge")
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 403L) // 400 − 5 dead + 8 source
    assert(rows.filter(col("s") === "upd").count() === 5L)
    assert(rows.filter(col("id") >= 900L).count() === 3L)
    // the OLD images of updated ids are gone (DV'd, not rewritten away)
    assert(rows.filter(col("id").between(10L, 14L) && col("s") =!= "upd").count() === 0L)
    // typed change feed, exactly copy-on-write merge's rows
    val feed = CommitLog.changeFeed(spark, t, fromVersion = v - 1, toVersion = Some(v))
    val byType = feed.groupBy(CommitLog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 5L, "update_postimage" -> 5L,
      "insert" -> 3L))
    // txn replay re-applies nothing
    val v2 = CommitLog.mergeDv(spark, t, src, Seq("id"), txn = Some(("cdc", 7L)))
    assert(CommitLog.mergeDv(spark, t, src, Seq("id"), txn = Some(("cdc", 7L))) === v2)
    // a later copy-on-write mutation and a compact both stay exact
    CommitLog.delete(spark, t, col("id") === 900L)
    CommitLog.compact(spark, t)
    assert(CommitLog.manifest(t, CommitLog.latestVersion(t).get).dvDirs.isEmpty)
    assert(CommitLog.read(spark, t).count() === 402L)
    assert(CommitLog.fsck(t).clean, CommitLog.fsck(t).toString)
  }

  test("updateDv rewrites nothing: matched rows die by position, post-images append") {
    val t = freshTable()
    seed(t)
    val before = CommitLog.manifest(t, 1L)
    val v = CommitLog.updateDv(spark, t, col("id").between(40L, 44L),
      Map("s" -> concat(col("s"), lit("!")), "grp" -> lit(77)))
    val after = CommitLog.manifest(t, v)
    assert(before.files.forall(after.files.contains)) // zero rewrites
    assert(after.dvDirs.size === 1)
    assert(after.mode === "update")
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 400L) // update: row count preserved
    val updated = rows.filter(col("id").between(40L, 44L)).orderBy("id").collect()
    assert(updated.length === 5)
    updated.foreach { r =>
      assert(r.getString(1).endsWith("!"), r.toString)
      assert(r.getInt(2) === 77)
    }
    // typed change feed: 5 pre + 5 post images
    val byType = CommitLog.changeFeed(spark, t, fromVersion = v - 1, toVersion = Some(v))
      .groupBy(CommitLog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("update_preimage" -> 5L, "update_postimage" -> 5L))
    // no-match updateDv is a version no-op; SET can't add columns
    assert(CommitLog.updateDv(spark, t, col("id") === -1L, Map("s" -> lit("x"))) === v)
    intercept[IllegalArgumentException] {
      CommitLog.updateDv(spark, t, col("id") === 1L, Map("nope" -> lit("x")))
    }
    assert(CommitLog.fsck(t).clean)
  }

  test("changeFeedStream subscribers see DV mutations like any other (streaming CDC apply works)") {
    // the DV mutations publish their change rows through the same slot
    // protocol as copy-on-write — a streaming CDC consumer must see the
    // trickle deletes and upserts with their versions, indistinguishably
    val t = freshTable()
    CommitLog.commit((0 until 20).map(i => (i.toLong, s"s$i", 0)).toDF("id", "s", "grp"),
      t, "append")
    CommitLog.deleteDv(spark, t, col("id") === 2L)                        // v2
    CommitLog.mergeDv(spark, t, Seq((3L, "UP", 9)).toDF("id", "s", "grp"),
      Seq("id"))                                                          // v3
    val root = graft.SparkSpec.tmpPath("graft_dvstream")
    // from v1: the mutations' change rows, not the seeding append's inserts
    val q = spark.readStream.format("graft").option("startingVersion", "1").load(t)
      .writeStream.format("parquet").option("path", root.resolve("out").toString)
      .option("checkpointLocation", root.resolve("ck").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.read.parquet(root.resolve("out").toString)
      .select(col(CommitLog.CommitVersionCol), col(CommitLog.ChangeTypeCol), col("id"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(rows === Seq(
      (2L, "delete", 2L),
      (3L, "update_postimage", 3L), (3L, "update_preimage", 3L)))
  }

  test("metaRowCount is DV-exact: deaths subtract, dangling entries don't count") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") < 50L)
    // COUNT(*) from metadata alone — no scan, no Spark job
    assert(CommitLog.metaRowCount(t) === Some(350L))
    // column stats answer DV-exact too: the dead extremum (ids 0–49) must
    // not surface — min comes from the LIVE re-aggregation, not the footer
    assert(CommitLog.metaAggregate(t, Seq("id")) ===
      Some(CommitLog.MetaAgg(350L, Map("id" ->
        CommitLog.MetaColAgg(Some(50L), Some(399L), 350L)))))
    // a copy-on-write delete rewrites the death-carrying file: its DV
    // entries now DANGLE (name a file no longer in the manifest) and must
    // not be subtracted
    CommitLog.delete(spark, t, col("id") === 60L)
    assert(CommitLog.read(spark, t).count() === 349L)
    assert(CommitLog.metaRowCount(t) === Some(349L))
    // updateDv preserves the count (death + post-image append)
    CommitLog.updateDv(spark, t, col("id") === 70L, Map("s" -> lit("x")))
    assert(CommitLog.metaRowCount(t) === Some(349L))
    // mergeDv: one update (count-neutral) + one insert
    CommitLog.mergeDv(spark, t,
      Seq((75L, "u", 1), (901L, "n", 1)).toDF("id", "s", "grp"), Seq("id"))
    assert(CommitLog.metaRowCount(t) === Some(350L))
    // time travel answers from the OLD manifest's files + DVs
    assert(CommitLog.metaRowCount(t, Some(1L)) === Some(400L))
    assert(CommitLog.metaRowCount(t, Some(2L)) === Some(350L))
    // past the driver-read cap the honest answer is "scan"
    assert(CommitLog.metaAggregate(t, Nil, None, maxDvRows = 1L).isEmpty)
  }

  test("a DV side past the broadcast cap reads DISTRIBUTED — no driver collect, still exact") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") < 50L)
    // small side (default cap): the DV rows are collected once — the
    // analyzed plan carries them as a LocalRelation the join broadcasts
    val small = CommitLog.read(spark, t)
    assert(small.queryExecution.analyzed.toString.contains("LocalRelation"))
    assert(small.count() === 350L)
    spark.conf.set("spark.graft.dv.broadcastMaxRows", "1")
    try {
      // big side: the DV rows stay a parquet scan end to end — the driver
      // never materializes the death set (NOTES_r8 watch 3: a table with
      // millions of un-compacted deaths must survive being read)
      val big = CommitLog.read(spark, t)
      assert(!big.queryExecution.analyzed.toString.contains("LocalRelation"),
        big.queryExecution.analyzed.toString)
      assert(big.count() === 350L)
      assert(big.filter(col("id") < 60L).select("id").as[Long].collect().sorted
        .toSeq === (50L until 60L))
      // mutation probes and pruned reads compose with the distributed side
      assert(CommitLog.readPruned(spark, t, col("id") < 60L).count() === 10L)
      val v = CommitLog.updateDv(spark, t, col("id") === 200L,
        Map("s" -> lit("big")))
      assert(CommitLog.read(spark, t).filter(col("s") === "big").count() === 1L)
      assert(v === CommitLog.latestVersion(t).get)
    } finally spark.conf.unset("spark.graft.dv.broadcastMaxRows")
  }

  test("death rows stay globally unique across mutations and folds (the COUNT(*) invariant)") {
    val t = freshTable()
    seed(t)
    // overlapping conditions, fold pressure, and a kill of appended
    // post-images — every generation must stay disjoint because each
    // probe reads THROUGH the existing DV filter
    CommitLog.deleteDv(spark, t, col("id") < 10L, foldAt = 2)
    CommitLog.updateDv(spark, t, col("id").between(5L, 15L),
      Map("s" -> lit("u")), foldAt = 2) // ids 5-9 already dead: only 10-15 die
    CommitLog.mergeDv(spark, t, Seq((12L, "m", 1)).toDF("id", "s", "grp"),
      Seq("id"), foldAt = 2)
    CommitLog.deleteDv(spark, t, col("s") === "u", foldAt = 2) // kills post-images
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val dv = spark.read.parquet(m.dvDirs.map(d => s"$t/$d"): _*)
      .select("file", "row_index")
    assert(dv.count() === dv.distinct().count(), "duplicate death rows")
    // and therefore the undeduped metadata count agrees with the scan
    assert(CommitLog.metaRowCount(t) === Some(CommitLog.read(spark, t).count()))
  }

  test("clone and restore carry deletion vectors with the snapshot") {
    val t = freshTable()
    seed(t)
    CommitLog.deleteDv(spark, t, col("id") < 5L) // v2
    val c = freshTable()
    CommitLog.cloneTable(t, c)
    assert(CommitLog.read(spark, c).count() === 395L)
    assert(CommitLog.manifest(c, CommitLog.latestVersion(c).get).dvDirs.nonEmpty)
    // source vacuum can't break the clone's DVs (hard links)
    CommitLog.compact(spark, t)
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(CommitLog.read(spark, c).count() === 395L)
    // restore back to the DV-carrying version re-references its dvDirs
    CommitLog.commit(Seq((9000L, "x", 0)).toDF("id", "s", "grp"), c, "overwrite")
    assert(CommitLog.read(spark, c).count() === 1L)
    CommitLog.restore(spark, c, 1L)
    assert(CommitLog.read(spark, c).count() === 395L)
    assert(CommitLog.manifest(c, CommitLog.latestVersion(c).get).dvDirs.nonEmpty)
  }
}
