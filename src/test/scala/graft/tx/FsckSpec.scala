package graft.tx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integrity tooling: fsck must see exactly the damage that exists,
  * repairMissing must make the latest snapshot readable again, and
  * fsckClean must remove only age-safe crash leftovers. */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_fsck").resolve("t").toString

  private def seed(t: String): Unit = {
    CommitLog.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, "append")
    CommitLog.commit(Seq((3L, "c")).toDF("id", "s"), t, "append")
  }

  test("a healthy table is clean") {
    val t = freshTable()
    seed(t)
    CommitLog.delete(spark, t, col("id") === 1L) // leaves a _cdc dir too
    assert(CommitLog.fsck(t).clean)
  }

  test("fsck reports missing files; repairMissing heals the latest snapshot") {
    val t = freshTable()
    seed(t)
    val m = CommitLog.manifest(t, 2L)
    val victim = m.files.head
    Files.delete(Paths.get(t).resolve(victim))
    val report = CommitLog.fsck(t)
    assert(report.missingFiles.nonEmpty)
    assert(report.missingFiles.forall(_._2 == victim))
    // every read path fails and names the file, filtered or not; none may
    // drop the missing file's rows silently
    val victimName = victim.substring(victim.lastIndexOf('/') + 1)
    Seq[() => org.apache.spark.sql.DataFrame](
      () => CommitLog.read(spark, t),
      () => spark.read.format("graft").load(t),
      () => spark.read.format("graft").load(t).filter(col("id") > 0L)
    ).foreach { r =>
      val e = intercept[Exception] { r().count() }
      assert(e.getMessage.contains(victimName), e.getMessage)
    }
    val v = CommitLog.repairMissing(t)
    assert(v === 3L)
    assert(CommitLog.fsck(t).missingFiles.forall(_._1 < v)) // history stays broken
    CommitLog.read(spark, t).count() // latest snapshot readable again
    assert(CommitLog.repairMissing(t) === v) // idempotent no-op when whole
  }

  test("fsck reports orphan commit dirs, orphan cdc dirs, and tmp manifests; fsckClean removes them") {
    val t = freshTable()
    seed(t)
    // crashed writer: a data dir no manifest references
    val orphan = Paths.get(t).resolve("data/deadbeef-orphan")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // stray cdc dir for a non-mutation version
    val strayCdc = Paths.get(t).resolve("_cdc").resolve(f"${1L}%020d")
    Files.createDirectories(strayCdc)
    // crash-leftover tmp manifest
    val tmp = Paths.get(t).resolve("_graft_log").resolve(".tmp-crashed")
    Files.write(tmp, "junk".getBytes("UTF-8"))
    val report = CommitLog.fsck(t)
    assert(report.orphanDirs === Seq("data/deadbeef-orphan"))
    assert(report.orphanCdc === Seq(1L))
    assert(report.tmpManifests === Seq(".tmp-crashed"))
    // age window protects a possibly-in-flight writer...
    assert(CommitLog.fsckClean(t) === 0L)
    assert(Files.exists(orphan))
    // ...force asserts no writer is live (tests, decommissioned tables)
    assert(CommitLog.fsckClean(t, minAgeMillis = 0, force = true) === 3L)
    assert(!Files.exists(orphan) && !Files.exists(strayCdc) && !Files.exists(tmp))
    assert(CommitLog.fsck(t).clean)
    // the table itself was never touched
    assert(CommitLog.read(spark, t).count() === 3L)
  }

  test("young crash leftovers don't dirty an age-gated audit (in-flight writer window)") {
    val t = freshTable()
    seed(t)
    // all three leftover shapes, freshly written — exactly what a LIVE
    // writer's in-flight commit looks like from the outside
    val orphan = Paths.get(t).resolve("data/inflight-commit")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-0.parquet"), Array[Byte](1))
    Files.write(Paths.get(t).resolve("_graft_log").resolve(".tmp-inflight"),
      "x".getBytes("UTF-8"))
    Files.createDirectories(Paths.get(t).resolve("_cdc").resolve(".tmp-inflight"))
    // forensic default reports everything...
    val forensic = CommitLog.fsck(t)
    assert(forensic.orphanDirs.nonEmpty && forensic.tmpManifests.nonEmpty &&
      forensic.orphanCdcTmp.nonEmpty && !forensic.clean)
    // ...but the operational audit (Maintenance's view) must not page on a
    // healthy table mid-commit
    assert(CommitLog.fsck(t, leftoverMinAgeMillis = 3600000L).clean)
    // manifest-referenced damage is reported regardless of age
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    CommitLog.deleteTree(Paths.get(t).resolve("_cdc").resolve(f"$v%020d"))
    assert(CommitLog.fsck(t, leftoverMinAgeMillis = 3600000L).missingCdc === Seq(v))
  }

  test("a crashed cdc slot move is pendingCdc, readable, and repairCdc completes it") {
    val t = freshTable()
    seed(t)
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    val man = CommitLog.manifest(t, v)
    assert(man.cdcName.isDefined) // manifest records the attempt dir
    // simulate the crash window: the manifest linked but the slot move never
    // ran — put the rows back at the attempt-unique dir
    val cdcRoot = Paths.get(t).resolve("_cdc")
    Files.move(cdcRoot.resolve(f"$v%020d"), cdcRoot.resolve(man.cdcName.get))
    val report = CommitLog.fsck(t)
    assert(report.pendingCdc === Seq(v))
    assert(report.missingCdc.isEmpty) // rows are safe, not lost
    // changeFeed serves the pending rows straight from the manifest
    val feed = CommitLog.changeFeed(spark, t, v - 1, Some(v))
    assert(feed.filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
    assert(CommitLog.repairCdc(t) === 1L)
    assert(CommitLog.fsck(t).clean)
    // and the published slot serves the same rows after the repair
    assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
    assert(CommitLog.repairCdc(t) === 0L) // idempotent
  }

  test("repairCdc replaces a genuine stale slot with the authoritative attempt rows") {
    val t = freshTable()
    seed(t)
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    val man = CommitLog.manifest(t, v)
    val cdcRoot = Paths.get(t).resolve("_cdc")
    val slot = cdcRoot.resolve(f"$v%020d")
    val attempt = cdcRoot.resolve(man.cdcName.get)
    // pre-fix crash shape: the manifest-named attempt holds the real rows
    // while the slot is occupied by something stale (here: an empty husk)
    Files.move(slot, attempt)
    Files.createDirectories(slot)
    Files.write(slot.resolve("stale.bin"), Array[Byte](1, 2, 3))
    assert(CommitLog.repairCdc(t) === 1L)
    assert(!Files.exists(attempt))
    assert(!Files.exists(slot.resolve("stale.bin")))
    assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
    assert(CommitLog.fsck(t).clean)
  }

  test("repairCdc racing live publishers never destroys published change rows") {
    // round-6 ADVICE (medium): the old delete-then-move could observe the
    // attempt dir, lose the slot race to the writer's own post-link move,
    // deleteTree the JUST-published rows, and throw on the vanished
    // attempt — permanent CDC loss. Twelve pending versions are published
    // by four writer threads (the writer's exact move-and-swallow shape)
    // while repairCdc sweeps the same table concurrently; afterwards every
    // version must still serve its change rows from the version slot.
    val t = freshTable()
    CommitLog.commit((0 until 12).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
      t, "append")
    val cdcRoot = Paths.get(t).resolve("_cdc")
    val pending = (0 until 12).map { i =>
      val v = CommitLog.delete(spark, t, col("id") === i.toLong)
      val man = CommitLog.manifest(t, v)
      val slot = cdcRoot.resolve(f"$v%020d")
      val attempt = cdcRoot.resolve(man.cdcName.get)
      Files.move(slot, attempt) // crash window: linked, slot move pending
      (v, attempt, slot)
    }
    assert(CommitLog.fsck(t).pendingCdc.size === 12)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val repairer = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = { start.await(); CommitLog.repairCdc(t) + CommitLog.repairCdc(t) }
      })
      val publishers = (0 until 4).map { g =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            start.await()
            pending.drop(g * 3).take(3).foreach { case (_, attempt, slot) =>
              // the writer's publish shape (CommitLog.publishRewrite): plain
              // move, any failure swallowed — repair owns the leftover
              try Files.move(attempt, slot)
              catch { case scala.util.control.NonFatal(_) => () }
            }
          }
        })
      }
      start.countDown()
      publishers.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      repairer.get(120, java.util.concurrent.TimeUnit.SECONDS): Unit
    } finally pool.shutdown()
    // invariant: every version's rows live at the slot, no attempt remains
    pending.foreach { case (v, attempt, slot) =>
      assert(Files.isDirectory(slot), s"v$v slot lost")
      assert(!Files.exists(attempt), s"v$v attempt dir leaked")
      assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
        .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L,
        s"v$v change rows destroyed")
    }
    assert(CommitLog.fsck(t).clean)
    assert(CommitLog.repairCdc(t) === 0L)
  }

  test("concurrent stale-slot repairs serialize on the lock; exactly one publishes") {
    // review finding (round 7): two concurrent repairCdc calls in the
    // stale-slot branch could interleave delete-then-move — the loser
    // deleting the rows the winner just published. The .repair-<v> lock
    // dir serializes the replace; the loser skips and the next cycle
    // no-ops.
    val t = freshTable()
    seed(t)
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    val man = CommitLog.manifest(t, v)
    val cdcRoot = Paths.get(t).resolve("_cdc")
    val slot = cdcRoot.resolve(f"$v%020d")
    val attempt = cdcRoot.resolve(man.cdcName.get)
    (0 until 4).foreach { round =>
      // (re)create the stale-slot shape: attempt authoritative, slot stale
      Files.move(slot, attempt)
      Files.createDirectories(slot)
      Files.write(slot.resolve("stale.bin"), Array[Byte](9))
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs = (0 until 2).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = { start.await(); CommitLog.repairCdc(t) }
          }))
        start.countDown()
        assert(fs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).sum === 1L,
          s"round $round: exactly one repairer must publish")
      } finally pool.shutdown()
      assert(Files.isDirectory(slot) && !Files.exists(slot.resolve("stale.bin")),
        s"round $round: slot must hold the authoritative rows")
      assert(!Files.exists(attempt), s"round $round: attempt must be consumed")
      assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
        .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L,
        s"round $round: change rows destroyed")
      assert(!Files.exists(cdcRoot.resolve(s".repair-$v"))) // lock released
    }
  }

  test("an orphaned repair lock blocks the replace until fsckClean reclaims it") {
    val t = freshTable()
    seed(t)
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    val man = CommitLog.manifest(t, v)
    val cdcRoot = Paths.get(t).resolve("_cdc")
    val slot = cdcRoot.resolve(f"$v%020d")
    val attempt = cdcRoot.resolve(man.cdcName.get)
    Files.move(slot, attempt)
    Files.createDirectories(slot)
    Files.write(slot.resolve("stale.bin"), Array[Byte](9))
    // a repairer crashed while holding the lock
    Files.createDirectory(cdcRoot.resolve(s".repair-$v"))
    assert(CommitLog.repairCdc(t) === 0L) // skipped — never delete under a foreign lock
    assert(Files.isDirectory(attempt)) // nothing destroyed
    // rows stay readable through the manifest's attempt name meanwhile
    assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
    // the dot-prefixed lock is visible to the forensic audit meanwhile
    assert(CommitLog.fsck(t).orphanCdcTmp.contains(s".repair-$v"))
    // once the lock outlives its lease the next repair STEALS it and
    // completes the publish — without this, a crashed lock holder would
    // leave the version paging as pendingCdc (and the stale slot serving
    // the stream) for the full fsckClean age window
    Files.setLastModifiedTime(cdcRoot.resolve(s".repair-$v"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 11L * 60 * 1000))
    assert(CommitLog.repairCdc(t) === 1L)
    assert(!Files.exists(cdcRoot.resolve(s".repair-$v")))
    assert(CommitLog.fsck(t).clean)
    assert(CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 1L)
  }

  test("a mutation whose change rows are truly gone is missingCdc") {
    val t = freshTable()
    seed(t)
    val v = CommitLog.delete(spark, t, col("id") === 1L)
    CommitLog.deleteTree(Paths.get(t).resolve("_cdc").resolve(f"$v%020d"))
    val report = CommitLog.fsck(t)
    assert(report.missingCdc === Seq(v))
    intercept[IllegalStateException] {
      CommitLog.changeFeed(spark, t, v - 1, Some(v)).count()
    }
  }

  test("a lost mirror step is flagged unmirrored; repairMirror clears it") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a")).toDF("id", "s"), t, "append", mirror = true)
    val v2 = CommitLog.commit(Seq((2L, "b")).toDF("id", "s"), t, "append", mirror = true)
    assert(CommitLog.fsck(t).unmirrored.isEmpty)
    // simulate the swallowed mirror failure: v2's ledger entry never landed
    Files.delete(Paths.get(t).resolve("_stream/_ledger").resolve(f"$v2%020d"))
    assert(CommitLog.fsck(t).unmirrored === Seq(v2))
    CommitLog.repairMirror(t)
    assert(CommitLog.fsck(t).unmirrored.isEmpty)
  }

  test("an un-ledgered append past a vacuumed predecessor is counted unknowable") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a")).toDF("id", "s"), t, "append", mirror = true)
    val v2 = CommitLog.commit(Seq((2L, "b")).toDF("id", "s"), t, "append", mirror = true)
    CommitLog.commit(Seq((3L, "c")).toDF("id", "s"), t, "append", mirror = true)
    // v2's mirror step was lost AND its predecessor manifest is vacuumed:
    // the file delta is permanently underivable — before round 7 fsck
    // silently excluded the version; now it must COUNT it
    Files.delete(Paths.get(t).resolve("_stream/_ledger").resolve(f"$v2%020d"))
    CommitLog.vacuum(t, keepVersions = 2, minAgeMillis = 0, force = true)
    val report = CommitLog.fsck(t)
    assert(report.unknowable === 1L)
    assert(report.unmirrored.isEmpty) // not listed as repairable
    assert(report.clean) // permanent history, not actionable damage
    CommitLog.repairMirror(t) // must still no-op, not throw
    assert(CommitLog.fsck(t).unknowable === 1L)
  }

  test("an externally damaged delta chain is REPORTED, not thrown") {
    val t = freshTable()
    (1 to 5).foreach(i => CommitLog.commit(Seq((i.toLong, "x")).toDF("id", "s"),
      t, "append", autoCompactEvery = 0))
    // v3 is a delta on v2; deleting v2's commit file (external damage —
    // vacuum never leaves this state) breaks reconstruction of v3..v5
    // for a COLD reader (a live cache legitimately keeps serving)
    Files.delete(Paths.get(t).resolve("_graft_log").resolve(f"${2L}%020d.commit"))
    CommitLog.invalidateCachedManifests(t)
    val report = CommitLog.fsck(t)
    assert(report.unreadableManifests === Seq(3L, 4L, 5L))
    assert(!report.clean)
    // the intact prefix still reads; the broken suffix throws loudly
    assert(CommitLog.readAt(spark, t, 1L).count() === 1L)
    intercept[IllegalArgumentException] { CommitLog.readAt(spark, t, 4L).count() }
  }

  test("fsckClean refuses the orphan sweep while any manifest is unreadable") {
    val t = freshTable()
    (1 to 5).foreach(i => CommitLog.commit(Seq((i.toLong, "x")).toDF("id", "s"),
      t, "append", autoCompactEvery = 0))
    // a genuine crash leftover: a commit dir no manifest references
    val orphan = Paths.get(t).resolve("data/00000000-0000-0000-0000-00000000dead")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    // damage the chain: v3..v5 become unreadable for a cold reader — the
    // orphan classification is now POISONED (v3..v5's commit dirs look
    // unreferenced), so the sweep must not delete ANY dir
    val v2file = Paths.get(t).resolve("_graft_log").resolve(f"${2L}%020d.commit")
    val saved = Files.readAllBytes(v2file)
    Files.delete(v2file)
    CommitLog.invalidateCachedManifests(t)
    CommitLog.fsckClean(t, minAgeMillis = 0, force = true)
    assert(Files.isDirectory(orphan),
      "fsckClean deleted an 'orphan' while the referenced set was unknowable")
    // v3's live commit dir also survives (the data the sweep would have lost)
    assert(CommitLog.fsck(t).unreadableManifests.nonEmpty)
    // repair the log: the sweep proceeds and removes ONLY the true orphan
    Files.write(v2file, saved)
    CommitLog.invalidateCachedManifests(t)
    assert(CommitLog.fsck(t).unreadableManifests.isEmpty)
    CommitLog.fsckClean(t, minAgeMillis = 0, force = true)
    assert(!Files.exists(orphan))
    assert(CommitLog.read(spark, t).count() === 5L)
  }
}
