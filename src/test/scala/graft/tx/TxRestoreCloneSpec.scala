package graft.tx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RESTORE / replaceWhere / shallow CLONE on the commit log — the three
  * snapshot-manipulation operations whose value at 100 TB is that they
  * move METADATA, not data: restore re-references an old manifest's files,
  * replaceWhere rewrites only the predicate's files, clone hard-links.
  * Each test pins both the row-level result and the file-level zero-copy
  * claim (manifest paths / inode link counts). */
class TxRestoreCloneSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_txrc").resolve("t").toString

  /** 100 rows in 4 bucket-partitioned files (ids 0-24 / 25-49 / 50-74 /
    * 75-99 via bucket = id/25), one file per bucket. */
  private def seedRanged(t: String): Seq[String] = {
    val df = (0 until 100).map(i => (i.toLong, s"s$i", i / 25)).toDF("id", "s", "bucket")
    CommitLog.commit(df.repartition(4, col("bucket")), t, "append")
    CommitLog.manifest(t, 1L).files
  }

  // ---------------------------------------------------------------- restore

  test("restore re-references the target version's files verbatim — no data write") {
    val t = freshTable()
    val v1Files = seedRanged(t)
    CommitLog.delete(spark, t, col("id") < 50)            // v2
    CommitLog.commit(Seq((999L, "x", 9)).toDF("id", "s", "bucket"), t, "append") // v3
    assert(CommitLog.read(spark, t).count() === 51L)
    val v = CommitLog.restore(spark, t, 1L)
    assert(v === 4L)
    val m = CommitLog.manifest(t, v)
    // THE zero-copy claim: the restored manifest is exactly v1's file list
    assert(m.files.sorted === v1Files.sorted)
    assert(m.mode === "overwrite")
    assert(CommitLog.read(spark, t).count() === 100L)
    // history preserved: the undone versions stay time-travelable
    assert(CommitLog.readAt(spark, t, 2L).count() === 50L)
    assert(CommitLog.readAt(spark, t, 3L).count() === 51L)
  }

  test("restore restores the target's schema (additive evolution undone)") {
    val t = freshTable()
    seedRanged(t)
    CommitLog.commit(Seq((200L, "y", 8, "late")).toDF("id", "s", "bucket", "tag"),
      t, "append") // v2 adds `tag`
    assert(CommitLog.read(spark, t).columns.contains("tag"))
    CommitLog.restore(spark, t, 1L)
    assert(!CommitLog.read(spark, t).columns.contains("tag"))
    assert(CommitLog.read(spark, t).count() === 100L)
  }

  test("restore(cdc = true) journals the diff; changeFeed serves it with no opt-in") {
    val t = freshTable()
    seedRanged(t)
    CommitLog.delete(spark, t, col("id") < 10) // v2: 90 rows
    val v = CommitLog.restore(spark, t, 1L, cdc = true) // v3: back to 100
    val feed = CommitLog.changeFeed(spark, t, fromVersion = 2L, toVersion = Some(v))
    val byType = feed.groupBy(CommitLog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // restoring re-inserts exactly the 10 deleted rows; nothing else changed
    assert(byType === Map("insert" -> 10L))
    assert(feed.filter(col("id") >= 10).count() === 0L)
    // and a plain restore stays feed-invisible without overwriteDiff
    val t2 = freshTable()
    seedRanged(t2)
    CommitLog.delete(spark, t2, col("id") < 10)
    val v2 = CommitLog.restore(spark, t2, 1L)
    intercept[IllegalStateException] {
      CommitLog.changeFeed(spark, t2, fromVersion = 2L, toVersion = Some(v2)).count()
    }
  }

  test("restore refuses a vacuumed target, names the casualty count") {
    val t = freshTable()
    seedRanged(t)
    CommitLog.commit((0 until 10).map(i => (i.toLong, "z", 0)).toDF("id", "s", "bucket"),
      t, "overwrite") // v2 drops v1's files from the live set
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    val e = intercept[IllegalArgumentException] { CommitLog.restore(spark, t, 1L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("restore to the current version is a no-op") {
    val t = freshTable()
    seedRanged(t)
    assert(CommitLog.restore(spark, t, 1L) === 1L)
    assert(CommitLog.versions(t) === Seq(1L))
  }

  // ----------------------------------------------------------- replaceWhere

  test("replaceWhere swaps one predicate region; untouched files carry by reference") {
    val t = freshTable()
    val before = seedRanged(t)
    val replacement = (1000 until 1005).map(i => (i.toLong, s"r$i", 0))
      .toDF("id", "s", "bucket")
    val v = CommitLog.replaceWhere(spark, t, replacement, col("bucket") === 0)
    assert(v === 2L)
    val after = CommitLog.manifest(t, v).files
    // files of buckets 1-3 survive with their exact relative paths
    val survivors = before.filter(after.contains)
    assert(survivors.size === before.size - 1)
    assert(CommitLog.manifest(t, v).mode === "replace")
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 80L) // 75 untouched + 5 replacements
    assert(rows.filter(col("bucket") === 0 && col("id") < 1000).count() === 0L)
    assert(rows.filter(col("id") >= 1000).count() === 5L)
    // change feed: 25 deletes + 5 inserts, served from the journal
    val feed = CommitLog.changeFeed(spark, t, fromVersion = 1L)
    val byType = feed.groupBy(CommitLog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 25L, "insert" -> 5L))
  }

  test("replaceWhere PARTITION-ONLY fast path: metadata-evaluated touch " +
      "set and probe, zero survivor scan, results identical to the row " +
      "path (round 16)") {
    val t = freshTable()
    val df = ((0 until 100).map(i => (i.toLong, s"s$i", i / 25)) :+
      (500L, "nul", -1)).toDF("id", "s", "bucket")
      .withColumn("bucket",
        when(col("bucket") === -1, lit(null)).otherwise(col("bucket")))
    CommitLog.commit(df, t, "append", partitionBy = Seq("bucket"))
    val before = CommitLog.manifest(t, 1L).files
    val repl = (1000 until 1005).map(i => (i.toLong, s"r$i", 0))
      .toDF("id", "s", "bucket")
    val v = CommitLog.replaceWhere(spark, t, repl, col("bucket") === 0,
      partitionBy = Seq("bucket"))
    val after = CommitLog.manifest(t, v).files
    // every non-bucket-0 file (the null-bucket one included) carried by
    // its exact relative path — the fast path's touch set is exact
    assert(before.filterNot(_.contains("bucket=0"))
      .forall(after.contains))
    assert(after.forall(f => !before.contains(f) || !f.contains("bucket=0")))
    val rows = CommitLog.read(spark, t)
    assert(rows.count() === 81L) // 75 + null row + 5 replacements
    assert(rows.filter(col("bucket") === 0 && col("id") < 1000).count() === 0L)
    assert(rows.filter(col("id") === 500L).count() === 1L,
      "the null-partition file must never be touched by bucket = 0")
    // the journal rides the fast path by default: 25 deletes + 5 inserts
    val byType = CommitLog.changeFeed(spark, t, fromVersion = 1L)
      .groupBy(CommitLog.ChangeTypeCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 25L, "insert" -> 5L))
    // IS NULL is partition-only too: replacing the null region touches
    // exactly the __HIVE_DEFAULT_PARTITION__ file
    val v2 = CommitLog.replaceWhere(spark, t,
      Seq((501L, "nul2", null.asInstanceOf[Integer])).toDF("id", "s", "bucket"),
      col("bucket").isNull, partitionBy = Seq("bucket"))
    val rows2 = CommitLog.read(spark, t)
    assert(rows2.filter(col("bucket").isNull).select("id")
      .collect().map(_.getLong(0)).toSeq === Seq(501L))
    assert(rows2.count() === 81L)
    // the metadata probe still refuses out-of-region source rows
    val bad = Seq((2000L, "r", 3)).toDF("id", "s", "bucket")
    val e = intercept[IllegalArgumentException] {
      CommitLog.replaceWhere(spark, t, bad, col("bucket") === 0,
        partitionBy = Seq("bucket"))
    }
    assert(e.getMessage.contains("NOT matching"))
    assert(CommitLog.versions(t) === Seq(1L, 2L, 3L))
  }

  test("replaceWhere journalChanges = false: no change rows written, feed " +
      "reads refuse loudly, fsck stays clean (round 16 — artifact tables)") {
    val t = freshTable()
    CommitLog.commit((0 until 40).map(i => (i.toLong, s"s$i", i / 10))
      .toDF("id", "s", "bucket"), t, "append", partitionBy = Seq("bucket"))
    val v = CommitLog.replaceWhere(spark, t,
      Seq((1000L, "r", 0)).toDF("id", "s", "bucket"),
      col("bucket") === 0, partitionBy = Seq("bucket"),
      journalChanges = false)
    assert(CommitLog.read(spark, t).count() === 31L)
    // no cdc slot, no attempt dir — by construction, not damage
    assert(!Files.isDirectory(Paths.get(t).resolve("_cdc").resolve(f"$v%020d")))
    val audit = CommitLog.fsck(t, leftoverMinAgeMillis = 0L)
    assert(audit.clean, audit.toString)
    // the feed refuses THIS version with the journalChanges message
    val e = intercept[IllegalStateException] {
      CommitLog.changeFeed(spark, t, fromVersion = v - 1, toVersion = Some(v))
        .count()
    }
    assert(e.getMessage.contains("journalChanges"), e.getMessage)
  }

  test("replaceWhere rejects source rows outside the condition") {
    val t = freshTable()
    seedRanged(t)
    val bad = Seq((1000L, "r", 0), (2000L, "r", 3)).toDF("id", "s", "bucket")
    val e = intercept[IllegalArgumentException] {
      CommitLog.replaceWhere(spark, t, bad, col("bucket") === 0)
    }
    assert(e.getMessage.contains("NOT matching"))
    assert(CommitLog.versions(t) === Seq(1L)) // nothing published
  }

  test("replaceWhere with an empty region inserts the source; empty source deletes the region") {
    val t = freshTable()
    seedRanged(t)
    // nothing matches bucket 7 yet: pure insert
    val ins = Seq((7000L, "n", 7)).toDF("id", "s", "bucket")
    CommitLog.replaceWhere(spark, t, ins, col("bucket") === 7)
    assert(CommitLog.read(spark, t).count() === 101L)
    // empty source now clears it: pure delete (idempotent backfill of zero rows)
    CommitLog.replaceWhere(spark, t, ins.limit(0), col("bucket") === 7)
    assert(CommitLog.read(spark, t).count() === 100L)
    assert(CommitLog.read(spark, t).filter(col("bucket") === 7).count() === 0L)
  }

  test("replaceWhere txn makes the backfill exactly-once under replay") {
    val t = freshTable()
    seedRanged(t)
    val repl = Seq((1000L, "r", 0)).toDF("id", "s", "bucket")
    val v1 = CommitLog.replaceWhere(spark, t, repl, col("bucket") === 0,
      txn = Some(("backfill", 1L)))
    val v2 = CommitLog.replaceWhere(spark, t, repl, col("bucket") === 0,
      txn = Some(("backfill", 1L))) // replayed micro-batch
    assert(v1 === v2)
    assert(CommitLog.read(spark, t).filter(col("id") === 1000L).count() === 1L)
  }

  test("replaceWhere evaluates a non-deterministic source ONCE: journal == committed rows") {
    val t = freshTable()
    seedRanged(t)
    // rand() re-evaluates differently per pass — under the old
    // probe/write/journal triple evaluation the CDC insert rows could
    // differ from the committed snapshot; single materialization makes
    // them identical by construction
    val src = (1000 until 1010).map(i => (i.toLong, 0)).toDF("id", "bucket")
      .withColumn("s", concat(lit("r"), (rand() * 1e9).cast("long").cast("string")))
      .select("id", "s", "bucket")
    val v = CommitLog.replaceWhere(spark, t, src, col("bucket") === 0)
    val committed = CommitLog.read(spark, t)
      .filter(col("id") >= 1000L).orderBy("id").collect()
    val journaled = CommitLog.changeFeed(spark, t, fromVersion = v - 1, toVersion = Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "insert")
      .select("id", "s", "bucket").orderBy("id").collect()
    assert(committed.length === 10)
    assert(journaled.sameElements(committed))
  }

  test("fsck is clean after replaceWhere and changesSince refuses the range") {
    val t = freshTable()
    seedRanged(t)
    CommitLog.replaceWhere(spark, t,
      Seq((1000L, "r", 0)).toDF("id", "s", "bucket"), col("bucket") === 0)
    val report = CommitLog.fsck(t)
    assert(report.clean, report.toString)
    intercept[IllegalStateException] { CommitLog.changesSince(spark, t, 0L).count() }
  }

  // ------------------------------------------------------------------ clone

  test("cloneTable hard-links data files (zero-copy) and shares stats sidecars") {
    val t = freshTable()
    seedRanged(t)
    val c = freshTable()
    assert(CommitLog.cloneTable(t, c) === 1L)
    val srcRows = CommitLog.read(spark, t).orderBy("id").collect()
    val cloneRows = CommitLog.read(spark, c).orderBy("id").collect()
    assert(srcRows.sameElements(cloneRows))
    // zero-copy: every clone data file shares its inode with the source
    val m = CommitLog.manifest(c, 1L)
    m.files.foreach { f =>
      val nlink = Files.getAttribute(Paths.get(c).resolve(f), "unix:nlink")
        .asInstanceOf[Number].intValue
      assert(nlink >= 2, s"$f was copied, not linked")
    }
    // stats sidecars travelled: file-skipping works on the clone
    val pruned = CommitLog.pruneFiles(c, m,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 3L)))
    assert(pruned.size < m.files.size)
  }

  test("clone and source are independent: mutations and vacuum don't cross") {
    val t = freshTable()
    seedRanged(t)
    val c = freshTable()
    CommitLog.cloneTable(t, c)
    // mutate + vacuum the SOURCE hard: overwrite drops every original file
    CommitLog.commit(Seq((1L, "only", 0)).toDF("id", "s", "bucket"), t, "overwrite")
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    // the clone still reads all 100 rows — its hard links kept the inodes
    assert(CommitLog.read(spark, c).count() === 100L)
    assert(CommitLog.fsck(c).clean)
    // and mutating the clone leaves the source alone
    CommitLog.delete(spark, c, col("id") < 50)
    assert(CommitLog.read(spark, c).count() === 50L)
    assert(CommitLog.read(spark, t).count() === 1L)
  }

  test("cloneTable refuses a snapshot with vacuumed files up front — nothing created under dst") {
    val t = freshTable()
    val files = seedRanged(t)
    // simulate what a vacuum (or a racing one) does to an old snapshot:
    // the manifest survives, a referenced data file is gone
    Files.delete(Paths.get(t).resolve(files.head))
    val c = freshTable()
    val e = intercept[IllegalStateException] { CommitLog.cloneTable(t, c) }
    assert(e.getMessage.contains("vacuumed"))
    assert(e.getMessage.contains(s"1 of ${files.size}"))
    // the counted refusal happened BEFORE any dst mutation — no partial clone
    assert(!Files.exists(Paths.get(c)))
  }

  test("cloneTable can clone a time-travel version and refuses a non-empty target") {
    val t = freshTable()
    seedRanged(t)                                        // v1: 100 rows
    CommitLog.delete(spark, t, col("id") < 50)           // v2: 50 rows
    val c = freshTable()
    CommitLog.cloneTable(t, c, version = Some(1L))
    assert(CommitLog.read(spark, c).count() === 100L)
    intercept[IllegalArgumentException] { CommitLog.cloneTable(t, c) }
  }
}
