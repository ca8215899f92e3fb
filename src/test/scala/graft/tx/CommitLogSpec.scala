package graft.tx

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Transactional semantics of the mini commit log: snapshot isolation,
  * atomic-rename commits, additive evolution, time travel, concurrent
  * appends without lost updates (round-2 VERDICT item 3). */
class CommitLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txspec").resolve("t").toString

  test("append/read roundtrip and version history") {
    val t = freshTable()
    val v1 = CommitLog.commit(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, "append")
    val v2 = CommitLog.commit(Seq((3, "c")).toDF("id", "s"), t, "append")
    assert((v1, v2) === (1L, 2L))
    assert(CommitLog.versions(t) === Seq(1L, 2L))
    assert(CommitLog.read(spark, t).as[(Int, String)].collect().sorted
      === Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("overwrite replaces the snapshot; old version still readable") {
    val t = freshTable()
    CommitLog.commit(Seq(1, 2, 3).toDF("id"), t, "append")
    CommitLog.commit(Seq(9).toDF("id"), t, "overwrite")
    assert(CommitLog.read(spark, t).as[Int].collect().toSeq === Seq(9))
    assert(CommitLog.readAt(spark, t, 1).as[Int].collect().sorted === Seq(1, 2, 3))
  }

  test("invalid mode throws like the reference's ValueError") {
    val t = freshTable()
    val e = intercept[IllegalArgumentException] {
      CommitLog.commit(Seq(1).toDF("id"), t, "merge")
    }
    assert(e.getMessage.contains("Invalid mode"))
  }

  test("additive schema evolution: old rows read NULL, type change rejected") {
    val t = freshTable()
    CommitLog.commit(Seq((1, "a")).toDF("id", "s"), t, "append")
    CommitLog.commit(Seq((2, "b", 7.5)).toDF("id", "s", "score"), t, "append")
    val snap = CommitLog.read(spark, t)
    assert(snap.columns.toSeq === Seq("id", "s", "score"))
    val rows = snap.as[(Int, String, Option[Double])].collect().sortBy(_._1)
    assert(rows === Seq((1, "a", None), (2, "b", Some(7.5))))
    // time travel also time-travels the schema
    assert(CommitLog.readAt(spark, t, 1).columns.toSeq === Seq("id", "s"))
    val e = intercept[IllegalArgumentException] {
      CommitLog.commit(Seq(("x", "c")).toDF("id", "s"), t, "append")
    }
    assert(e.getMessage.contains("cannot change column"))
  }

  test("partitioned commit keeps hive layout and partition pruning") {
    val t = freshTable()
    CommitLog.commit(
      Seq((1, 2024, 1), (2, 2024, 2), (3, 2025, 1)).toDF("id", "year", "month"),
      t, "append", partitionBy = Seq("year", "month"))
    val snap = CommitLog.read(spark, t)
    assert(snap.filter(col("year") === 2024).count() === 2)
    // the filter must prune to the year=2024 files at planning time
    val planned = snap.filter(col("year") === 2024)
      .queryExecution.executedPlan.toString
    assert(planned.contains("year=2024") || !planned.contains("year=2025"))
  }

  test("uncommitted data files are invisible (torn write isolation)") {
    val t = freshTable()
    CommitLog.commit(Seq(1, 2).toDF("id"), t, "append")
    // a writer that died after writing data but before publishing a manifest
    Seq(99).toDF("id").write.parquet(s"$t/data/orphan-${java.util.UUID.randomUUID()}")
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === Seq(1, 2))
  }

  test("concurrent appends all land with distinct versions, no lost updates") {
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val futures = (0 until 8).map { i =>
      Future(CommitLog.commit(Seq(i).toDF("id"), t, "append"))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    pool.shutdown()
    assert(versions.sorted === (1L to 8L))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (0 until 8))
  }

  test("txn watermarks make commits idempotent per (appId, batchId)") {
    val t = freshTable()
    val v1 = CommitLog.commit(Seq(1, 2).toDF("id"), t, "append", txn = Some(("job", 0L)))
    // replay of batch 0: skipped, returns the containing version
    val vReplay = CommitLog.commit(Seq(1, 2).toDF("id"), t, "append", txn = Some(("job", 0L)))
    assert(vReplay === v1)
    assert(CommitLog.read(spark, t).count() === 2)
    // next batch lands; watermark advances
    CommitLog.commit(Seq(3).toDF("id"), t, "append", txn = Some(("job", 1L)))
    assert(CommitLog.txnVersion(t, "job") === Some(1L))
    // a stale batch (<= watermark) is also skipped
    CommitLog.commit(Seq(99).toDF("id"), t, "append", txn = Some(("job", 1L)))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === Seq(1, 2, 3))
    // an unrelated writer is not gated by this app's watermark
    CommitLog.commit(Seq(4).toDF("id"), t, "append", txn = Some(("other", 0L)))
    assert(CommitLog.read(spark, t).count() === 4)
    // watermarks survive an overwrite (replay after truncation still skips)
    CommitLog.commit(Seq(7).toDF("id"), t, "overwrite")
    CommitLog.commit(Seq(1, 2).toDF("id"), t, "append", txn = Some(("job", 1L)))
    assert(CommitLog.read(spark, t).as[Int].collect().toSeq === Seq(7))
  }

  test("streaming commitLogSink batch body is exactly-once under replay") {
    val t = freshTable()
    val body = graft.streaming.StreamingJobs.commitBatch(t, "stream-app", Nil)
    val batch0 = Seq((1L, 2024, 1)).toDF("event_id", "year", "month")
    body(batch0, 0L)
    body(batch0, 0L) // restart replays the last uncommitted-offset batch
    body(Seq((2L, 2024, 2)).toDF("event_id", "year", "month"), 1L)
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 2)
    assert(snap.select("event_id").as[Long].collect().sorted === Seq(1L, 2L))
  }

  test("readStream starts on a table with no mirrored commit yet (empty feed)") {
    val t = freshTable()
    CommitLog.commit(Seq((1, "a")).toDF("id", "s"), t, "append") // no mirror
    // regression: _stream/ didn't exist and the file source threw at
    // query start; now it pre-creates and drains an empty feed cleanly
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("empty_feed")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_emptyfeed").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("empty_feed").count() === 0L)
  }

  test("compaction merges small files into few, keeps rows and time travel") {
    val t = freshTable()
    // 10 tiny commits → >= 10 data files
    (1 to 10).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append",
      txn = Some(("w", i.toLong))))
    val before = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(before.files.size >= 10)
    val cv = CommitLog.compact(spark, t)
    val after = CommitLog.manifest(t, cv)
    assert(after.files.size < before.files.size)
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 10))
    // old versions still readable (files retained)
    assert(CommitLog.readAt(spark, t, 3).count() === 3)
    // txn watermarks survive compaction: replay of batch 10 still skips
    CommitLog.commit(Seq(999).toDF("id"), t, "append", txn = Some(("w", 10L)))
    assert(CommitLog.read(spark, t).count() === 10)
  }

  test("vacuum deletes only files unreachable from the kept versions") {
    val t = freshTable()
    (1 to 6).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append"))
    CommitLog.compact(spark, t) // v7: compacted snapshot in fresh files
    assert(CommitLog.versions(t).size === 7)
    // minAge 0 (forced): this test's files are seconds old, and the
    // reachability contract is what's under test, not the age window
    val deleted = CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(deleted > 0)
    assert(CommitLog.versions(t) === Seq(7L))
    // the kept snapshot is intact and fully readable
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 6))
    // vacuumed history is gone
    intercept[IllegalArgumentException](CommitLog.readAt(spark, t, 3))
  }

  test("vacuum's age window protects young unreferenced files from in-flight-writer races") {
    val t = freshTable()
    (1 to 3).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append"))
    CommitLog.compact(spark, t)
    def dataFiles() = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      try walk.iterator().asScala.count(java.nio.file.Files.isRegularFile(_))
      finally walk.close()
    }
    val before = dataFiles()
    // default window (7 days): everything here is seconds old → nothing dies
    assert(CommitLog.vacuum(t, keepVersions = 1) === 0L)
    assert(dataFiles() === before)
    // a sub-default window is refused unless the caller forces it
    val e = intercept[IllegalArgumentException](
      CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 1000))
    assert(e.getMessage.contains("force"))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 3))
  }

  test("a registered CDC reader's cursor pins vacuum retention; the override bricks it knowingly") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, "append") // v1
    CommitLog.commit(Seq((3L, "c")).toDF("id", "s"), t, "append")            // v2
    // a lagging subscriber checkpoints its consumption through v1
    val rv = CommitLog.registerCdcReader(spark, t, "sub", 1L)                // v3
    assert(rv === 3L)
    assert(CommitLog.minCdcReaderCursor(t) === Some(1L))
    // a non-advancing call no-ops on the txn fast path: no new version
    assert(CommitLog.registerCdcReader(spark, t, "sub", 1L) === 3L)
    assert(CommitLog.latestVersion(t) === Some(3L))
    CommitLog.commit(Seq((9L, "z")).toDF("id", "s"), t, "overwrite")         // v4 (plain!)
    CommitLog.commit(Seq((10L, "y")).toDF("id", "s"), t, "append")           // v5
    // default vacuum would keep only v4..v5 — the reader guard keeps
    // everything from the cursor version on, so NOTHING drops here
    assert(CommitLog.vacuum(t, keepVersions = 2, minAgeMillis = 0, force = true) === 0L)
    assert(CommitLog.versions(t) === (1L to 5L))
    // the lagging subscriber SURVIVES: its next slice (v2..v5) still
    // derives, including the plain overwrite's snapshot diff, which reads
    // the PRE-overwrite manifest a default vacuum would have deleted
    val slice = CommitLog.changeFeed(spark, t, 1L, overwriteDiff = true)
    assert(slice.filter(col(CommitLog.ChangeTypeCol) === "insert")
      .select("id").as[Long].collect().toSet === Set(3L, 9L, 10L))
    // the reader catches up and checkpoints; retention follows it
    CommitLog.registerCdcReader(spark, t, "sub", 5L)                         // v6
    assert(CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true) > 0L)
    assert(CommitLog.versions(t) === Seq(5L, 6L))
    // an abandoned reader pins forever — dropLaggingReaders is the
    // explicit, documented brick
    CommitLog.commit(Seq((11L, "x")).toDF("id", "s"), t, "append")           // v7
    CommitLog.commit(Seq((12L, "w")).toDF("id", "s"), t, "append")           // v8
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true,
      dropLaggingReaders = true)
    assert(CommitLog.versions(t) === Seq(8L))
    intercept[Exception] { CommitLog.changeFeed(spark, t, 5L).count() }
  }

  test("deregisterCdcReader removes one cursor; remaining readers stay guarded") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a")).toDF("id", "s"), t, "append")  // v1
    CommitLog.commit(Seq((2L, "b")).toDF("id", "s"), t, "append")  // v2
    CommitLog.registerCdcReader(spark, t, "ghost", 1L)             // v3
    CommitLog.registerCdcReader(spark, t, "live", 3L)              // v4
    CommitLog.commit(Seq((3L, "c")).toDF("id", "s"), t, "append")  // v5
    assert(CommitLog.minCdcReaderCursor(t) === Some(1L))
    // the ghost pins everything; deregistering ONLY it restores the live
    // reader's horizon instead of unguarding all readers the way a
    // permanently-enabled dropLaggingReaders would
    CommitLog.deregisterCdcReader(t, "ghost")                      // v6
    assert(CommitLog.minCdcReaderCursor(t) === Some(3L))
    assert(CommitLog.txnVersion(t, CommitLog.CdcReaderPrefix + "live") === Some(3L))
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(CommitLog.versions(t).head === 3L) // live cursor still holds
    // deregistering an unknown reader no-ops; the rewrite emitted no rows
    assert(CommitLog.deregisterCdcReader(t, "nope") === CommitLog.latestVersion(t).get)
    assert(CommitLog.changeFeed(spark, t, 5L).count() === 0L)
  }

  test("auto-compaction bounds snapshot scan width at the policy threshold") {
    val t = freshTable()
    (1 to 30).foreach(i =>
      CommitLog.commit(Seq(i).toDF("id"), t, "append", autoCompactEvery = 8))
    def commitDirs(m: CommitLog.Manifest) =
      m.files.map(_.split("/").take(2).mkString("/")).distinct.size
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    // plan width == distinct commit dirs == scan nodes in the union
    assert(commitDirs(m) <= 8, s"snapshot spans ${commitDirs(m)} commit dirs")
    // the rewrites are real compaction versions in the chain (a dedicated
    // mode, so the change feed can SKIP them instead of refusing)
    assert(CommitLog.versions(t).exists(v => CommitLog.manifest(t, v).mode == "compact"))
    // and no row was lost or duplicated across the rewrites
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 30))
  }

  test("compact with zorderBy clusters the rewrite") {
    val t = freshTable()
    val rnd = new scala.util.Random(4)
    (1 to 4).foreach { _ =>
      CommitLog.commit(Seq.fill(500)((rnd.nextInt(1000), rnd.nextInt(1000)))
        .toDF("x", "y"), t, "append")
    }
    val cv = CommitLog.compact(spark, t, zorderBy = Seq("x", "y"),
      targetBytes = 8L * 1024)
    val m = CommitLog.manifest(t, cv)
    assert(m.files.size > 1)
    // Z-clustering narrows per-file ranges: every output file's x-range
    // should be far narrower than the full domain (a random row scatter
    // would give each file ~the whole 0..999 span)
    val spans = m.files.map { f =>
      val mm = spark.read.parquet(s"$t/$f")
        .agg(min(col("x")), max(col("x"))).head()
      mm.getInt(1) - mm.getInt(0)
    }
    assert(CommitLog.read(spark, t).count() === 2000)
    assert(spans.min < 600, s"no file is range-clustered: $spans")
  }

  test("mirrored commits are consumable as a streaming source; torn writes never appear") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 2024), (2L, 2025)).toDF("id", "year"), t, "append",
      partitionBy = Seq("year"), mirror = true)
    CommitLog.commit(Seq((3L, 2024)).toDF("id", "year"), t, "append",
      partitionBy = Seq("year"), mirror = true)
    // a dead writer's files: in data/, never mirrored, never visible
    Seq((99L, 2024)).toDF("id", "year").write
      .parquet(s"$t/data/orphan-${java.util.UUID.randomUUID()}")
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txstream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT id, year FROM txstream")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(rows === Seq((1L, 2024), (2L, 2025), (3L, 2024))) // partition col recovered
  }

  test("replayed txn commit after compaction never re-mirrors the rewrite (exactly-once feed)") {
    val t = freshTable()
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 0L)))
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 1L)))
    CommitLog.compact(spark, t) // v3: full-table rewrite, never mirrored
    CommitLog.commit(Seq(3L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 2L)))
    // streaming restart: the last batch replays through the txn fast path,
    // which runs the mirror repair over the whole chain
    CommitLog.commit(Seq(3L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 2L)))
    // the feed holds exactly the three inserted rows — the compacted
    // rewrite (which lists rows 1..2 again) must NOT have been mirrored
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txrepair")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM txrepair").as[Long].collect().sorted === Seq(1L, 2L, 3L))
  }

  test("repairMirror heals a lost mirror step from the version's file delta") {
    val t = freshTable()
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 0L)))
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 1L)))
    // simulate a crash between v2's manifest publish and its mirror step
    val stream = java.nio.file.Paths.get(t, "_stream")
    val v2Ledger = stream.resolve("_ledger").resolve(f"${2L}%020d")
    new String(Files.readAllBytes(v2Ledger), "UTF-8").split("\n").foreach { rel =>
      Files.delete(stream.resolve(rel))
    }
    Files.delete(v2Ledger)
    // replaying v2's txn repairs exactly the missing delta
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 1L)))
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txheal")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM txheal").as[Long].collect().sorted === Seq(1L, 2L))
  }

  test("pruneMirror reclaims consumed feed history up to the subscriber watermark") {
    val t = freshTable()
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true)
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true)
    val stream = java.nio.file.Paths.get(t, "_stream")
    def mirrorFiles() = {
      val walk = Files.walk(stream)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .size
      finally walk.close()
    }
    assert(mirrorFiles() === 2)
    // slowest subscriber has committed through v1 → v1's history is reclaimable
    assert(CommitLog.pruneMirror(t, throughVersion = 1L) === 1L)
    assert(mirrorFiles() === 1)
    // a new subscriber starting now sees only the unpruned suffix
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txpruned")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM txpruned").as[Long].collect().toSeq === Seq(2L))
    // prune + vacuum together actually release the bytes: both names of the
    // inode are gone once the table is truncated and history dropped
    CommitLog.commit(Seq(9L).toDF("id"), t, "overwrite")
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(CommitLog.pruneMirror(t, throughVersion = Long.MaxValue) === 1L)
    assert(mirrorFiles() === 0)
  }

  test("incremental compaction rewrites only the small-dir delta, never the big base") {
    val t = freshTable()
    CommitLog.commit(spark.range(200000).toDF("id"), t, "append")
    val tdir = java.nio.file.Paths.get(t)
    val baseFiles = CommitLog.manifest(t, 1L).files.toSet
    val baseBytes = baseFiles.toSeq.map(f => Files.size(tdir.resolve(f))).sum
    (1 to 6).foreach(i => CommitLog.commit(Seq(i.toLong).toDF("id"), t, "append"))
    val cv = CommitLog.compactIncremental(spark, t, keepLargest = 1)
    val m = CommitLog.manifest(t, cv)
    // the big dir's files are carried over by PATH — zero bytes of the base
    // were read or rewritten; the fold is O(delta)
    assert(baseFiles.subsetOf(m.files.toSet))
    val rewrittenBytes = (m.files.toSet -- baseFiles).toSeq
      .map(f => Files.size(tdir.resolve(f))).sum
    assert(rewrittenBytes < baseBytes / 5,
      s"fold rewrote $rewrittenBytes bytes against a $baseBytes-byte base")
    // plan width collapsed to base dir + one folded dir
    def dirs(man: CommitLog.Manifest) =
      man.files.map(_.split("/").take(2).mkString("/")).distinct.size
    assert(dirs(m) === 2)
    // rows preserved; time travel intact (old files never deleted)
    assert(CommitLog.read(spark, t).count() === 200006)
    assert(CommitLog.readAt(spark, t, 1).count() === 200000)
  }

  test("auto-compaction via incremental fold bounds plan width across 200 appends") {
    val t = freshTable()
    (1 to 200).foreach(i =>
      CommitLog.commit(Seq(i).toDF("id"), t, "append", autoCompactEvery = 16))
    def commitDirs(m: CommitLog.Manifest) =
      m.files.map(_.split("/").take(2).mkString("/")).distinct.size
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(commitDirs(m) <= 16, s"snapshot spans ${commitDirs(m)} commit dirs")
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 200))
  }

  test("a published commit survives an auto-compaction failure (no phantom failure)") {
    val t = freshTable()
    (1 to 3).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append"))
    // sabotage the fold: a manifest-referenced file vanishes, so the
    // incremental compactor's Files.size throws NoSuchFileException — a
    // non-IllegalState failure that must NOT surface from commit() once the
    // version is published (a retrying caller would double-append)
    Files.delete(java.nio.file.Paths.get(t).resolve(CommitLog.manifest(t, 1L).files.head))
    val v = CommitLog.commit(Seq(4).toDF("id"), t, "append", autoCompactEvery = 4)
    assert(v === 4L)
    assert(CommitLog.versions(t).contains(4L))
  }

  test("pruned feed history is never resurrected by a later mirror repair") {
    val t = freshTable()
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 0L)))
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 1L)))
    CommitLog.commit(Seq(3L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 2L)))
    val stream = java.nio.file.Paths.get(t, "_stream")
    def mirrorFiles() = {
      val walk = Files.walk(stream)
      try walk.iterator().asScala
        .count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
    }
    assert(CommitLog.pruneMirror(t, throughVersion = 2L) === 2L)
    assert(mirrorFiles() === 1)
    // a streaming restart replays the last batch through the txn fast path,
    // which runs repairMirror over the whole chain — versions 1..2 are
    // PRUNED, not crashed, and must stay reclaimed (round-4 ADVICE, high)
    CommitLog.commit(Seq(3L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 2L)))
    assert(mirrorFiles() === 1)
    // a new subscriber sees only the unpruned suffix
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txnoresurrect")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM txnoresurrect").as[Long].collect().toSeq === Seq(3L))
  }

  test("repairMirror heals a crashed overwrite mirror step (feed completeness)") {
    val t = freshTable()
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true, txn = Some(("app", 0L)))
    CommitLog.commit(Seq(7L, 8L).toDF("id"), t, "overwrite", mirror = true,
      txn = Some(("app", 1L)))
    // simulate a crash between the overwrite's manifest publish and mirror
    val stream = java.nio.file.Paths.get(t, "_stream")
    val v2Ledger = stream.resolve("_ledger").resolve(f"${2L}%020d")
    new String(Files.readAllBytes(v2Ledger), "UTF-8").split("\n").filter(_.nonEmpty)
      .foreach(rel => Files.delete(stream.resolve(rel)))
    Files.delete(v2Ledger)
    // replaying the txn heals exactly the overwrite's own new rows — an
    // overwrite manifest lists only its new files, so no predecessor needed
    CommitLog.commit(Seq(7L, 8L).toDF("id"), t, "overwrite", mirror = true,
      txn = Some(("app", 1L)))
    val q = CommitLog.readStream(spark, t)
      .writeStream.format("memory").queryName("txowrepair")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM txowrepair").as[Long].collect().sorted
      === Seq(1L, 7L, 8L))
  }

  test("pruneMirrorConsumed prunes exactly the subscriber's committed progress") {
    val t = freshTable()
    val ck = Files.createTempDirectory("graft_ckprune").toString
    val out = Files.createTempDirectory("graft_ckout").toString
    CommitLog.commit(Seq(1L).toDF("id"), t, "append", mirror = true)
    CommitLog.commit(Seq(2L).toDF("id"), t, "append", mirror = true)
    // a checkpoint-recoverable subscriber (parquet sink, append mode)
    def drain(): Seq[Long] = {
      val q = CommitLog.readStream(spark, t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).as[Long].collect().sorted.toSeq
    }
    assert(drain() === Seq(1L, 2L))
    // v3 lands after the subscriber's last committed batch — not consumed
    CommitLog.commit(Seq(3L).toDF("id"), t, "append", mirror = true)
    assert(CommitLog.pruneMirrorConsumed(t, ck) === 2L)
    val ledger = java.nio.file.Paths.get(t, "_stream", "_ledger")
    assert(!Files.exists(ledger.resolve(f"${1L}%020d")))
    assert(!Files.exists(ledger.resolve(f"${2L}%020d")))
    assert(Files.exists(ledger.resolve(f"${3L}%020d")))
    // the same subscriber restarts cleanly: v3 appended exactly once, the
    // pruned (already-consumed) files neither reprocessed nor missed
    assert(drain() === Seq(1L, 2L, 3L))
    // the restart consumed v3, so a second pass reclaims it too
    assert(CommitLog.pruneMirrorConsumed(t, ck) === 1L)
  }

  test("a DV-free single-layout snapshot reads as one file relation, partition columns last") {
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val t = freshTable()
    (0 until 3).foreach { i =>
      CommitLog.commit(Seq((i.toLong, 2020 + i % 2, s"r$i")).toDF("id", "year", "s"),
        t, "append", partitionBy = Seq("year"))
    }
    def relations(df: org.apache.spark.sql.DataFrame) = {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
      plan.collect { case lr: LogicalRelation => lr.relation }
    }
    val rows = Seq(Row(0L, "r0", 2020), Row(1L, "r1", 2021), Row(2L, "r2", 2020))
    Seq(CommitLog.read(spark, t), CommitLog.readAt(spark, t, 3L),
        spark.read.format("graft").load(t)).foreach { df =>
      val rels = relations(df)
      assert(rels.size === 1)
      assert(rels.head.asInstanceOf[HadoopFsRelation].location
        .isInstanceOf[graft.sources.GraftFileIndex])
      assert(df.columns.toSeq === Seq("id", "s", "year"))
      assert(df.orderBy("id").collect().toSeq === rows)
    }
    val slice = CommitLog.changesSince(spark, t, fromVersion = 1L)
    assert(relations(slice).size === 1)
    assert(slice.orderBy("id").collect().toSeq === rows.drop(1))
  }

  test("mixed hive layouts read by name on both read paths") {
    // A: an unpartitioned commit, then an append that adopts a layout
    val a = freshTable()
    CommitLog.commit(Seq((2020, 1L, "a")).toDF("year", "id", "s"), a, "append")
    CommitLog.commit(Seq((2021, 2L, "b")).toDF("year", "id", "s"), a, "append",
      partitionBy = Seq("year"))
    // B: a declared layout, then an append without the partition column
    val b = freshTable()
    CommitLog.commit(Seq((2020, 1L, "a")).toDF("year", "id", "s"), b, "append",
      partitionBy = Seq("year"))
    CommitLog.commit(Seq((2L, "b")).toDF("id", "s"), b, "append")
    assert(CommitLog.manifest(b, 2L).partitionBy === Seq("year"))
    Seq(a -> Seq(Row(2020, 1L, "a"), Row(2021, 2L, "b")),
        b -> Seq(Row(2020, 1L, "a"), Row(null, 2L, "b"))).foreach { case (t, want) =>
      Seq(CommitLog.read(spark, t), spark.read.format("graft").load(t)).foreach { df =>
        assert(df.columns.toSeq === Seq("year", "id", "s"))
        assert(df.orderBy("id").collect().toSeq === want)
        assert(df.filter(col("id") === 2L).collect().toSeq === want.drop(1))
      }
    }
  }

  test("changesSince feeds exact incremental silver maintenance") {
    val t = freshTable()
    def batch(ids: Range, ts: Int) = ids.map(i => (i.toLong, 2020 + (i % 3), 1, ts))
      .toDF("event_id", "year", "month", "tsunami")
      .withColumn("tsunami", when(col("tsunami") > 0, 1).otherwise(0))
    val v1 = CommitLog.commit(batch(0 until 40, 1), t, "append",
      partitionBy = Seq("year", "month"))
    val facts1 = graft.silver.TsunamiFacts.yearly(CommitLog.readAt(spark, t, v1))
    CommitLog.commit(batch(40 until 70, 1), t, "append", partitionBy = Seq("year", "month"))
    val delta = CommitLog.changesSince(spark, t, fromVersion = v1)
    assert(delta.count() === 30)
    // merged incremental facts == recompute over the full snapshot
    val merged = graft.silver.TsunamiFacts.yearlyIncrement(facts1, delta)
      .as[(Int, Long)].collect().toSeq
    val full = graft.silver.TsunamiFacts.yearly(CommitLog.read(spark, t))
      .as[(Int, Long)].collect().toSeq
    assert(merged === full)
    // an overwrite in the range breaks append-only CDC → explicit error
    CommitLog.commit(batch(0 until 5, 1), t, "overwrite", partitionBy = Seq("year", "month"))
    intercept[IllegalStateException](CommitLog.changesSince(spark, t, fromVersion = v1))
  }

  test("bronze a3/a4 fact shapes match direct-parquet results through the snapshot path") {
    val t = freshTable()
    val ev = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("event_type"),
        year(col("ets")).as("year"), month(col("ets")).as("month"),
        when(col("event_type") === "error", 1).otherwise(0).as("tsunami"))
    // two appends, partitioned like the reference bronze (year, month)
    CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 0), t, "append",
      partitionBy = Seq("year", "month"))
    CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 1), t, "append",
      partitionBy = Seq("year", "month"))
    val snap = CommitLog.read(spark, t)
    val direct = graft.silver.TsunamiFacts.yearly(ev)
      .as[(Int, Long)].collect().toSeq
    val viaLog = graft.silver.TsunamiFacts.yearly(snap)
      .as[(Int, Long)].collect().toSeq
    assert(viaLog === direct)
    val directM = graft.silver.TsunamiFacts.monthly(ev).as[(Int, Int, Long)].collect().toSeq
    val viaLogM = graft.silver.TsunamiFacts.monthly(snap).as[(Int, Int, Long)].collect().toSeq
    assert(viaLogM === directM)
  }
}
