package graft.tx

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Copy-on-write DELETE and MERGE on the commit log: only files containing
  * a matched row may be rewritten — every other file must carry into the
  * new version BY REFERENCE (same relative path), which is what keeps a
  * trickle of point mutations O(touched files), not O(table), at 100 TB. */
class TxMutationSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_txmut").resolve("t").toString

  /** 100 rows in 4 range-partitioned files: ids 0-24 / 25-49 / 50-74 / 75-99,
    * one file per range, so a predicate on one range touches exactly one
    * file and the other three must survive untouched. */
  private def seedRanged(t: String): Seq[String] = {
    val df = (0 until 100).map(i => (i.toLong, s"s$i", i / 25)).toDF("id", "s", "bucket")
    CommitLog.commit(df.repartition(4, col("bucket")), t, "append")
    CommitLog.manifest(t, 1L).files
  }

  test("delete rewrites only the files containing matches; others carry by reference") {
    val t = freshTable()
    val before = seedRanged(t)
    assert(before.size >= 2) // granularity exists to preserve
    // which files hold ids < 10? (hash partitioning on bucket: all in bucket-0's file(s))
    val touched = CommitLog.read(spark, t).filter(col("id") < 10)
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    val touchedRel = before.filter(f => touched.exists(_.endsWith(f.split("/").last)))
    assert(touchedRel.nonEmpty && touchedRel.size < before.size)
    val v = CommitLog.delete(spark, t, col("id") < 10)
    assert(v === 2L)
    val after = CommitLog.manifest(t, v).files
    // untouched files: same relative paths, never rewritten
    val untouched = before.filterNot(touchedRel.contains)
    assert(untouched.forall(after.contains))
    // touched files are gone from the manifest (still on disk for time travel)
    assert(touchedRel.forall(f => !after.contains(f)))
    assert(touchedRel.forall(f => Files.exists(java.nio.file.Paths.get(t).resolve(f))))
    // rows: 90 survivors, old snapshot intact via time travel
    assert(CommitLog.read(spark, t).count() === 90L)
    assert(CommitLog.read(spark, t).filter(col("id") < 10).count() === 0L)
    assert(CommitLog.readAt(spark, t, 1L).count() === 100L)
    assert(CommitLog.manifest(t, v).mode === "delete")
  }

  test("delete with no matches is a no-op returning the current version") {
    val t = freshTable()
    seedRanged(t)
    assert(CommitLog.delete(spark, t, col("id") > 1000) === 1L)
    assert(CommitLog.versions(t) === Seq(1L))
  }

  test("delete keeps NULL-condition rows (SQL DELETE semantics)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, Some("x")), (2L, None), (3L, Some("y")))
      .toDF("id", "s"), t, "append")
    CommitLog.delete(spark, t, col("s") === "x")
    // row 2's condition is NULL -> kept; only the TRUE row is deleted
    assert(CommitLog.read(spark, t).select("id").as[Long].collect().sorted
      === Seq(2L, 3L))
  }

  test("merge upserts: matched rows replaced, new keys inserted, untouched files by reference") {
    val t = freshTable()
    val before = seedRanged(t)
    // source: update ids 3 and 7 (bucket 0), insert ids 1003/1007
    val source = Seq(
      (3L, "UPD3", 0), (7L, "UPD7", 0),
      (1003L, "NEW3", 40), (1007L, "NEW7", 40)).toDF("id", "s", "bucket")
    val v = CommitLog.merge(spark, t, source, Seq("id"))
    assert(v === 2L)
    val after = CommitLog.manifest(t, v).files
    val touched = CommitLog.readAt(spark, t, 1L)
      .join(source.select("id"), Seq("id"), "left_semi")
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    val touchedRel = before.filter(f => touched.exists(_.endsWith(f.split("/").last)))
    assert(touchedRel.nonEmpty && touchedRel.size < before.size)
    val untouched = before.filterNot(touchedRel.contains)
    assert(untouched.forall(after.contains))
    assert(touchedRel.forall(f => !after.contains(f)))
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 102L) // 100 + 2 inserts
    assert(snap.filter(col("id") === 3L).select("s").as[String].head() === "UPD3")
    assert(snap.filter(col("id") === 1007L).select("s").as[String].head() === "NEW7")
    // unmatched rows in the rewritten file survive
    assert(snap.filter(col("id") === 5L).select("s").as[String].head() === "s5")
    assert(CommitLog.manifest(t, v).mode === "merge")
  }

  test("update rewrites only matched files; SET sees the old row; no new columns") {
    val t = freshTable()
    val before = seedRanged(t)
    val v = CommitLog.update(spark, t, col("id") < 10,
      Map("s" -> concat(col("s"), lit("!")), "bucket" -> (col("bucket") + 100)))
    assert(v === 2L)
    val after = CommitLog.manifest(t, v).files
    val carried = before.filter(after.contains)
    assert(carried.nonEmpty && carried.size < before.size)
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 100L) // update never changes cardinality
    assert(snap.filter(col("id") === 3L).select("s").as[String].head() === "s3!")
    assert(snap.filter(col("id") === 3L).select("bucket").as[Int].head() === 100)
    assert(snap.filter(col("id") === 50L).select("s").as[String].head() === "s50")
    assert(CommitLog.manifest(t, v).mode === "update")
    // no-match update is a no-op; unknown SET column rejected
    assert(CommitLog.update(spark, t, col("id") > 1000, Map("s" -> lit("x"))) === v)
    val e = intercept[IllegalArgumentException] {
      CommitLog.update(spark, t, col("id") < 10, Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("cannot add column"))
  }

  test("merge inserts NULL-key source rows as NOT MATCHED (never drops them)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a")).toDF("id", "s"), t, "append")
    // regression: the key-bounds pre-filter's early return keyed on
    // min==NULL alone, which silently dropped an all-NULL-key source
    val allNull = Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("id", "s")
    CommitLog.merge(spark, t, allNull, Seq("id"))
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 3L)
    assert(snap.filter(col("id").isNull).count() === 2L)
    assert(snap.filter(col("id") === 1L).select("s").as[String].head() === "a")
    // and a genuinely empty source is still a no-op
    val v = CommitLog.latestVersion(t).get
    assert(CommitLog.merge(spark, t,
      Seq.empty[(Long, String)].toDF("id", "s"), Seq("id")) === v)
  }

  test("update with a non-deterministic SET publishes post-images matching the committed data") {
    val t = freshTable()
    seedRanged(t)
    // rand() is the adversarial case (round-5 ADVICE, low): evaluating SET
    // once for the data files and again for the CDC post-images would
    // publish post-images disagreeing with what was committed
    val v = CommitLog.update(spark, t, col("id") < 10,
      Map("s" -> concat(lit("r"), (rand() * 1e9).cast("long").cast("string"))))
    val committed = CommitLog.read(spark, t).filter(col("id") < 10)
      .select("id", "s").as[(Long, String)].collect().toMap
    val postImages = CommitLog.changeFeed(spark, t, v - 1, Some(v))
      .filter(col(CommitLog.ChangeTypeCol) === "update_postimage")
      .select("id", "s").as[(Long, String)].collect().toMap
    assert(postImages.keySet === committed.keySet)
    assert(postImages === committed)
  }

  test("update condition is evaluated on the OLD row even when SET rewrites its column") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 5.0), (2L, 9.8), (3L, 20.0)).toDF("id", "v"), t, "append")
    // 9.8 + 1.0 = 10.8 no longer satisfies v < 10; the post-image must
    // still carry it (hit is decided pre-update, SQL UPDATE semantics)
    val ver = CommitLog.update(spark, t, col("v") < 10.0, Map("v" -> (col("v") + 1.0)))
    assert(CommitLog.read(spark, t).orderBy("id").select("v").as[Double].collect()
      === Seq(6.0, 10.8, 20.0))
    assert(CommitLog.changeFeed(spark, t, ver - 1, Some(ver))
      .filter(col(CommitLog.ChangeTypeCol) === "update_postimage")
      .count() === 2L)
  }

  test("applyCounts rejects NULL group keys in the folded delta") {
    val base = freshTable()
    val agg = freshTable()
    CommitLog.commit(Seq((1L, Option("x")), (2L, Option.empty[String]))
      .toDF("id", "g"), base, "append")
    CommitLog.commit(Seq.empty[(String, Long)].toDF("g", "n"), agg, "append")
    val e = intercept[IllegalArgumentException] {
      ChangeApply.applyCounts(spark, agg,
        CommitLog.changeFeed(spark, base, 0L), Seq("g"))
    }
    assert(e.getMessage.contains("NULL group keys"))
    // a coalesced feed folds fine
    ChangeApply.applyCounts(spark, agg,
      CommitLog.changeFeed(spark, base, 0L)
        .withColumn("g", coalesce(col("g"), lit("__null__"))), Seq("g"))
    assert(CommitLog.read(spark, agg).count() === 2L)
  }

  test("applyCounts with a txn watermark ignores a replayed slice") {
    val base = freshTable()
    val agg = freshTable()
    CommitLog.commit(Seq((1L, "x"), (2L, "y")).toDF("id", "g"), base, "append")
    CommitLog.commit(Seq.empty[(String, Long)].toDF("g", "n"), agg, "append")
    val feed = CommitLog.changeFeed(spark, base, 0L)
    ChangeApply.applyCounts(spark, agg, feed, Seq("g"), txn = Some(("ivm", 1L)))
    // the replayed slice (same appId+batchId) must re-apply NOTHING
    ChangeApply.applyCounts(spark, agg, feed, Seq("g"), txn = Some(("ivm", 1L)))
    assert(CommitLog.read(spark, agg).as[(String, Long)].collect().toMap
      === Map("x" -> 1L, "y" -> 1L))
  }

  test("merge rejects duplicate source keys (Delta's multiple-source-rows error)") {
    val t = freshTable()
    seedRanged(t)
    val dup = Seq((3L, "a", 0), (3L, "b", 0)).toDF("id", "s", "bucket")
    val e = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, t, dup, Seq("id"))
    }
    assert(e.getMessage.contains("multiple rows"))
  }

  test("merge evolves the schema additively; old files back-fill NULL") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, "append")
    val source = Seq((2L, "B", 9.5), (3L, "c", 7.0)).toDF("id", "s", "score")
    CommitLog.merge(spark, t, source, Seq("id"))
    val snap = CommitLog.read(spark, t)
    assert(snap.columns.toSeq === Seq("id", "s", "score"))
    val rows = snap.as[(Long, String, Option[Double])].collect().sortBy(_._1)
    assert(rows === Seq((1L, "a", None), (2L, "B", Some(9.5)), (3L, "c", Some(7.0))))
  }

  test("mutations work on multi-commit-dir snapshots with a file-backed source") {
    // regression: input_file_name() refuses plans with >1 file source — the
    // probe must attach it under each per-commit-dir scan, not above the
    // union/join (the first cut failed exactly here at sf0.01, where the
    // merge source is itself a parquet scan and the snapshot spans commits)
    val t = freshTable()
    CommitLog.commit((0 until 50).map(i => (i.toLong, s"s$i")).toDF("id", "s"), t, "append")
    CommitLog.commit((50 until 100).map(i => (i.toLong, s"s$i")).toDF("id", "s"), t, "append")
    val srcPath = Files.createTempDirectory("graft_txmut_src").resolve("src").toString
    Seq((7L, "UPD7"), (63L, "UPD63"), (1000L, "NEW")).toDF("id", "s")
      .write.parquet(srcPath)
    val v = CommitLog.merge(spark, t, spark.read.parquet(srcPath), Seq("id"))
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 101L)
    assert(snap.filter(col("id") === 63L).select("s").as[String].head() === "UPD63")
    val v2 = CommitLog.delete(spark, t, col("id") >= 90L && col("id") < 100L)
    assert(v2 === v + 1)
    assert(CommitLog.read(spark, t).count() === 91L)
  }

  test("changeFeed yields typed row changes across append, delete, update, merge") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t, "append") // v1
    CommitLog.commit(Seq((4L, "d")).toDF("id", "s"), t, "append")                        // v2
    CommitLog.delete(spark, t, col("id") === 2L)                                         // v3
    CommitLog.update(spark, t, col("id") === 3L, Map("s" -> lit("C")))                   // v4
    CommitLog.merge(spark, t, Seq((4L, "D"), (5L, "e")).toDF("id", "s"), Seq("id"))      // v5
    val feed = CommitLog.changeFeed(spark, t, 0L)
      .as[(Long, String, String, Long)].collect().toSeq
      .map { case (id, s, ct, v) => (v, ct, id, s) }.sorted
    assert(feed === Seq(
      (1L, "insert", 1L, "a"), (1L, "insert", 2L, "b"), (1L, "insert", 3L, "c"),
      (2L, "insert", 4L, "d"),
      (3L, "delete", 2L, "b"),
      (4L, "update_postimage", 3L, "C"), (4L, "update_preimage", 3L, "c"),
      (5L, "insert", 5L, "e"),
      (5L, "update_postimage", 4L, "D"), (5L, "update_preimage", 4L, "d")))
    // a partial range reads only its versions
    assert(CommitLog.changeFeed(spark, t, 4L).count() === 3L)
    // a compaction is row-preserving: the feed SKIPS it (zero changes) —
    // incremental consumers survive the auto-compaction cadence...
    CommitLog.compact(spark, t)
    assert(CommitLog.changeFeed(spark, t, 4L).count() === 3L)
    // ...and appends after it still derive their inserts exactly
    CommitLog.commit(Seq((7L, "g")).toDF("id", "s"), t, "append")
    assert(CommitLog.changeFeed(spark, t, 4L)
      .filter(col(CommitLog.ChangeTypeCol) === "insert")
      .select("id").as[Long].collect().sorted === Seq(5L, 7L))
    // a genuine overwrite is a data change no feed row can express
    CommitLog.commit(Seq((1L, "reset")).toDF("id", "s"), t, "overwrite")
    val e = intercept[IllegalStateException] { CommitLog.changeFeed(spark, t, 4L) }
    assert(e.getMessage.contains("rewrite"))
    // vacuum reclaims the dropped versions' change rows with their manifests
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(!Files.isDirectory(java.nio.file.Paths.get(t).resolve("_cdc")
      .resolve(f"${3L}%020d")))
  }

  test("a journaled overwrite (cdc = true) stores its diff and serves it without overwriteDiff") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t, "append")
    // (2,b) retired, (3,c) rewritten to (3,C), (4,d) new, (1,a) survives
    CommitLog.commit(Seq((1L, "a"), (3L, "C"), (4L, "d")).toDF("id", "s"), t,
      "overwrite", cdc = true)
    val man = CommitLog.manifest(t, 2L)
    assert(man.cdcName.isDefined) // the manifest names the journal dir
    def slice(): Seq[(Long, String, Long, String)] =
      CommitLog.changeFeed(spark, t, 1L) // note: NO overwriteDiff opt-in
        .select(col(CommitLog.CommitVersionCol), col(CommitLog.ChangeTypeCol),
          col("id"), col("s"))
        .as[(Long, String, Long, String)].collect().toSeq.sorted
    assert(slice() === Seq(
      (2L, "delete", 2L, "b"), (2L, "delete", 3L, "c"),
      (2L, "insert", 3L, "C"), (2L, "insert", 4L, "d")))
    // fsck accounts the journaled overwrite as cdc-bearing: clean now, and
    // the crash window (linked manifest, slot move pending) is pendingCdc
    assert(CommitLog.fsck(t).clean)
    val cdcRoot = java.nio.file.Paths.get(t).resolve("_cdc")
    Files.move(cdcRoot.resolve(f"${2L}%020d"), cdcRoot.resolve(man.cdcName.get))
    assert(CommitLog.fsck(t).pendingCdc === Seq(2L))
    assert(slice().size === 4) // pending rows serve from the manifest name
    assert(CommitLog.repairCdc(t) === 1L)
    assert(CommitLog.fsck(t).clean)
    // retention decoupled: vacuuming the PREDECESSOR manifest (the thing
    // that bricks read-time overwrite-diff) leaves the stored rows served
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(slice().size === 4)
    // appends never journal — they stream through the _stream mirror
    intercept[IllegalArgumentException] {
      CommitLog.commit(Seq((9L, "z")).toDF("id", "s"), t, "append", cdc = true)
    }
  }

  test("changeFeedStream streams mutation rows with their commit versions") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t, "append")
    CommitLog.delete(spark, t, col("id") === 2L)                                    // v2
    CommitLog.update(spark, t, col("id") === 3L, Map("s" -> lit("C")))              // v3
    val root = Files.createTempDirectory("graft_cdcstream")
    val ck = root.resolve("ck").toString
    val out = root.resolve("out").toString
    // parquet sink (append) recovers from its checkpoint, so the second
    // drain on the SAME checkpoint reads only the files it hasn't seen
    def drain(): Seq[(Long, String, Long, String)] = {
      val q = CommitLog.changeFeedStream(spark, t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).as[(Long, String, String, Long)].collect().toSeq
        .map { case (id, s, ct, v) => (v, ct, id, s) }.sorted
    }
    assert(drain() === Seq(
      (2L, "delete", 2L, "b"),
      (3L, "update_postimage", 3L, "C"), (3L, "update_preimage", 3L, "c")))
    // a later mutation arrives incrementally on the same checkpoint
    CommitLog.merge(spark, t, Seq((9L, "z")).toDF("id", "s"), Seq("id"))            // v4
    assert(drain() === Seq(
      (2L, "delete", 2L, "b"),
      (3L, "update_postimage", 3L, "C"), (3L, "update_preimage", 3L, "c"),
      (4L, "insert", 9L, "z")))
  }

  test("ChangeApply.applyCounts maintains a keyed rollup without rescanning the base") {
    val base = freshTable()
    val agg = freshTable()
    CommitLog.commit(Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "g"), base, "append")
    CommitLog.commit(Seq.empty[(String, Long)].toDF("g", "n"), agg, "append")
    def applyAll(from: Long): Long = {
      val to = CommitLog.latestVersion(base).get
      ChangeApply.applyCounts(spark,
        agg, CommitLog.changeFeed(spark, base, from, Some(to)), Seq("g"))
      to
    }
    var cursor = applyAll(0L)
    def counts(): Map[String, Long] = CommitLog.read(spark, agg)
      .as[(String, Long)].collect().toMap
    assert(counts() === Map("x" -> 2L, "y" -> 1L))
    // delete one x; update moves the other x to group y; insert a z
    CommitLog.delete(spark, base, col("id") === 1L)
    CommitLog.update(spark, base, col("id") === 2L, Map("g" -> lit("y")))
    CommitLog.merge(spark, base, Seq((9L, "z")).toDF("id", "g"), Seq("id"))
    cursor = applyAll(cursor)
    // x netted to zero and LEFT the aggregate; y gained the moved row
    assert(counts() === Map("y" -> 2L, "z" -> 1L))
    // the rollup equals a full recompute of the base at every point
    val recomputed = CommitLog.read(spark, base).groupBy("g").count()
      .as[(String, Long)].collect().toMap
    assert(counts() === recomputed)
    // idempotence on an empty slice
    val v = CommitLog.latestVersion(agg).get
    assert(applyAll(cursor) === cursor)
    assert(CommitLog.latestVersion(agg).get === v)
  }

  test("ChangeApply.applyAggregates maintains exact decimal sums per key") {
    import org.apache.spark.sql.types._
    val base = freshTable()
    val agg = freshTable()
    CommitLog.commit(
      Seq((1L, "x", Some(1.25)), (2L, "x", Some(2.5)), (3L, "y", Some(10.0)),
        (4L, "y", Option.empty[Double])).toDF("id", "g", "v"),
      base, "append")
    CommitLog.commit(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("g", StringType), StructField("n", LongType),
          StructField("sum_v", ChangeApply.SumType), StructField("cnt_v", LongType)))),
      agg, "append")
    def applyAll(from: Long): Long = {
      val to = CommitLog.latestVersion(base).get
      ChangeApply.applyAggregates(spark,
        agg, CommitLog.changeFeed(spark, base, from, Some(to)), Seq("g"), Seq("v"))
      to
    }
    var cursor = applyAll(0L)
    def state(): Map[String, (Long, Option[BigDecimal], Long)] =
      CommitLog.read(spark, agg).as[(String, Long, Option[BigDecimal], Long)]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // NULL value rows count in n but not in sum/cnt — SQL SUM semantics
    assert(state() === Map(
      "x" -> ((2L, Some(BigDecimal("3.750000")), 2L)),
      "y" -> ((2L, Some(BigDecimal("10.000000")), 1L))))
    // a value-only UPDATE nets __dn = 0 but must still land (-pre +post);
    // a delete subtracts; a group-moving update shifts both groups
    CommitLog.update(spark, base, col("id") === 1L, Map("v" -> lit(2.0)))
    CommitLog.delete(spark, base, col("id") === 3L)
    CommitLog.update(spark, base, col("id") === 2L, Map("g" -> lit("y")))
    cursor = applyAll(cursor)
    assert(state() === Map(
      "x" -> ((1L, Some(BigDecimal("2.000000")), 1L)),
      "y" -> ((2L, Some(BigDecimal("2.500000")), 1L))))
    // maintained == recomputed, bit-for-bit (decimal associativity)
    val recomputed = CommitLog.read(spark, base).groupBy("g")
      .agg(count(lit(1)), sum(col("v").cast(ChangeApply.SumType)), count("v"))
      .as[(String, Long, Option[BigDecimal], Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(state() === recomputed)
    // replay with a txn watermark re-applies nothing
    val slice = CommitLog.changeFeed(spark, base, 0L, Some(cursor))
    val agg2 = freshTable()
    CommitLog.commit(CommitLog.read(spark, agg).limit(0), agg2, "append")
    ChangeApply.applyAggregates(spark, agg2, slice, Seq("g"), Seq("v"),
      txn = Some(("w", cursor)))
    val v2 = CommitLog.latestVersion(agg2).get
    ChangeApply.applyAggregates(spark, agg2, slice, Seq("g"), Seq("v"),
      txn = Some(("w", cursor)))
    assert(CommitLog.latestVersion(agg2).get === v2)
    assert(CommitLog.read(spark, agg2).as[(String, Long, Option[BigDecimal], Long)]
      .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap === recomputed)
    // an ALL-NULL-value group: counted in n, stored sum 0 / cnt 0 — the
    // state where the serving rule (SQL SUM = NULL when cnt = 0) applies
    CommitLog.merge(spark, base,
      Seq((50L, "z", Option.empty[Double])).toDF("id", "g", "v"), Seq("id"))
    applyAll(cursor)
    assert(state()("z") === ((1L, Some(BigDecimal("0.000000")), 0L)))
  }

  test("deleteKeys retires a key set file-granularly with delete change rows") {
    val t = freshTable()
    val before = seedRanged(t)
    // keys confined to one range file; NULL key tuples match nothing
    val keys = Seq(Some(3L), Some(7L), Option.empty[Long]).toDF("id")
    val v = CommitLog.deleteKeys(spark, t, keys, Seq("id"))
    assert(v === 2L)
    val after = CommitLog.manifest(t, v).files
    assert(before.count(after.contains) === before.size - 1,
      "exactly the one file holding ids 3 and 7 may be rewritten")
    assert(CommitLog.manifest(t, v).mode === "delete")
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 98L)
    assert(snap.filter(col("id").isin(3L, 7L)).count() === 0L)
    // change rows: exactly the retired rows
    val cdc = CommitLog.changeFeed(spark, t, v - 1, Some(v))
    assert(cdc.filter(col(CommitLog.ChangeTypeCol) === "delete")
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 7L))
    // no-match and empty key sets are version no-ops
    assert(CommitLog.deleteKeys(spark, t,
      Seq(9999L).toDF("id"), Seq("id")) === v)
    assert(CommitLog.deleteKeys(spark, t,
      Seq.empty[Long].toDF("id"), Seq("id")) === v)
    // txn watermark: a replayed slice re-applies nothing
    val v2 = CommitLog.deleteKeys(spark, t, Seq(11L).toDF("id"), Seq("id"),
      txn = Some(("delk-app", 1L)))
    assert(CommitLog.deleteKeys(spark, t, Seq(12L).toDF("id"), Seq("id"),
      txn = Some(("delk-app", 1L))) === v2)
    assert(CommitLog.read(spark, t).filter(col("id") === 12L).count() === 1L)
  }

  test("merge probe pre-shrinks with per-file bounds: multi-key and disjoint key clusters") {
    val t = freshTable()
    // 4 single-file commits with disjoint id ranges and a distinct bucket
    // each — deterministic per-file bounds on BOTH key columns
    (0 until 4).foreach { q =>
      val df = (q * 25 until (q + 1) * 25)
        .map(i => (i.toLong, s"s$i", q)).toDF("id", "s", "bucket")
      CommitLog.commit(df.coalesce(1), t, "append")
    }
    val m = CommitLog.manifest(t, 4L)
    assert(m.files.size === 4)
    // 2-key source confined to one file's (id, bucket) bounds → 1 of 4
    // (round-5 VERDICT item 4: the old pre-shrink only fired for 1 key)
    val src2 = Seq((30L, 1), (40L, 1)).toDF("id", "bucket")
    assert(CommitLog.pruneFilesByKeys(spark, t, m, Seq("id", "bucket"), src2).size === 1)
    // single-key DISJOINT clusters: ids {3, 80} keep exactly the two files
    // whose ranges admit them — a global [3,80] filter would keep all 4
    val src1 = Seq(Tuple1(3L)).toDF("id").union(Seq(Tuple1(80L)).toDF("id"))
    assert(CommitLog.pruneFilesByKeys(spark, t, m, Seq("id"), src1).size === 2)
    // stats can prove total absence: a key tuple outside every file's
    // bounds plans ZERO probe files (the merge then inserts it whole)
    assert(CommitLog.pruneFilesByKeys(spark, t, m, Seq("s", "id"),
      Seq(("zzz", 1L)).toDF("s", "id")).isEmpty)
    // end-to-end: a 2-key merge rewrites only the one candidate file
    val before = m.files
    val source = Seq((30L, "UPD30", 1), (1030L, "NEW", 40)).toDF("id", "s", "bucket")
    val v = CommitLog.merge(spark, t, source, Seq("id", "bucket"))
    val after = CommitLog.manifest(t, v).files
    val carried = before.filter(after.contains)
    assert(carried.size === 3, "exactly one file may be rewritten")
    val snap = CommitLog.read(spark, t)
    assert(snap.count() === 101L)
    assert(snap.filter(col("id") === 30L).select("s").as[String].head() === "UPD30")
    assert(snap.filter(col("id") === 29L).select("s").as[String].head() === "s29")
  }

  test("changeFeed derives an overwrite as a minimal snapshot diff when opted in") {
    val t = freshTable()
    // v1: a,a,b,c — duplicate 'a' rows exercise BAG semantics
    CommitLog.commit(Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "s"), t, "append")
    // v2 overwrite: one 'a' dropped, 'b' survives identically, 'c' → 'C',
    // new column tag appears (schema-evolving overwrite)
    CommitLog.commit(Seq((1L, "a", "t1"), (2L, "b", null), (3L, "C", "t3"))
      .toDF("id", "s", "tag"), t, "overwrite")
    // default contract unchanged: refuse, pointing at the opt-in
    val e = intercept[IllegalStateException] {
      CommitLog.changeFeed(spark, t, 0L).count()
    }
    assert(e.getMessage.contains("overwriteDiff"))
    val feed = CommitLog.changeFeed(spark, t, 0L, overwriteDiff = true)
      .filter(col(CommitLog.CommitVersionCol) === 2L)
      .select(col("id"), col("s"), col("tag"), col(CommitLog.ChangeTypeCol))
      .as[(Long, String, Option[String], String)].collect()
      .sortBy(r => (r._1, r._2, r._3.getOrElse(""), r._4)).toSeq
    // identical survivor (2,b,NULL-aligned) emits nothing; both duplicate
    // 'a' rows differ from the new (a,t1) on the evolved column, so both
    // delete and the new row inserts; c→C is delete+insert
    assert(feed === Seq(
      (1L, "a", None, "delete"),
      (1L, "a", None, "delete"),
      (1L, "a", Some("t1"), "insert"),
      (3L, "C", Some("t3"), "insert"),
      (3L, "c", None, "delete")))
    // bag multiplicity: overwriting a,a with a,a,a emits exactly ONE insert
    val t3 = freshTable()
    CommitLog.commit(Seq((9L, "z"), (9L, "z")).toDF("id", "s"), t3, "append")
    CommitLog.commit(Seq((9L, "z"), (9L, "z"), (9L, "z")).toDF("id", "s"), t3, "overwrite")
    val d3 = CommitLog.changeFeed(spark, t3, 1L, overwriteDiff = true)
      .select(col(CommitLog.ChangeTypeCol)).as[String].collect().toSeq
    assert(d3 === Seq("insert"))
    // and a same-schema overwrite whose rows all survive emits NOTHING
    val t2 = freshTable()
    CommitLog.commit(Seq((1L, "x")).toDF("id", "s"), t2, "append")
    CommitLog.commit(Seq((1L, "x")).toDF("id", "s"), t2, "overwrite")
    assert(CommitLog.changeFeed(spark, t2, 1L, overwriteDiff = true).count() === 0L)
  }

  test("concurrent mutations race the version link without losing change rows") {
    // round-5 ADVICE (medium) under REAL concurrency: the old protocol let
    // a LOSING rewrite evict the winner's published _cdc slot. Eight
    // threads retire disjoint key ranges with the standard retry-on-
    // conflict loop; afterwards EVERY mutation version must serve its
    // change rows, and the losers' attempt dirs must be gone.
    val t = freshTable()
    CommitLog.commit((0 until 800).map(i => (i.toLong, s"s$i"))
      .toDF("id", "s").repartition(8), t, "append")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (0 until 8).map { g =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var done = -1L
            var attempts = 0
            while (done < 0 && attempts < 64) {
              attempts += 1
              try done = CommitLog.delete(spark, t,
                col("id") >= g * 100L && col("id") < g * 100L + 10L)
              catch { case _: IllegalStateException => () } // lost the race; rerun
            }
            assert(done > 0, s"group $g never committed")
            done
          }
        })
      }
      val versions = tasks.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size === 8) // all eight landed, distinct versions
    } finally pool.shutdown()
    // final state: exactly the 80 targeted rows gone
    assert(CommitLog.read(spark, t).count() === 720L)
    // every mutation version serves EXACTLY its own 10 delete rows
    CommitLog.versions(t).map(v => CommitLog.manifest(t, v))
      .filter(_.mode == "delete").foreach { man =>
        val rows = CommitLog.changeFeed(spark, t, man.version - 1, Some(man.version))
          .filter(col(CommitLog.ChangeTypeCol) === "delete")
          .select("id").as[Long].collect()
        assert(rows.length === 10, s"v${man.version} lost change rows")
        assert(rows.map(_ / 100L).distinct.length === 1, s"v${man.version} mixed groups")
      }
    // losers' attempt dirs cleaned, audit clean (age gate off for the test)
    assert(CommitLog.fsck(t).clean, CommitLog.fsck(t).toString)
  }

  test("racing DISJOINT mutations: the loser's re-run lands both effects (round-7 item 6)") {
    // The conflict contract, pinned end-to-end: a rewrite is valid only
    // against the exact snapshot it read — any intervening commit
    // invalidates it (stricter than Delta's WriteSerializable, which lets
    // disjoint-FILE mutations both succeed first-try). The loser re-runs
    // against the winner's snapshot; because each mutation re-derives its
    // touched set from the CURRENT snapshot, disjoint changes compose and
    // BOTH effects must be present afterwards, under every interleaving.
    val t = freshTable()
    CommitLog.commit((0 until 100).map(i => (i.toLong, s"s$i", i / 25))
      .toDF("id", "s", "bucket").repartition(4, col("bucket")), t, "append")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def retrying(op: () => Long): java.util.concurrent.Future[Long] =
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          var done = -1L; var attempts = 0
          while (done < 0 && attempts < 64) {
            attempts += 1
            try done = op()
            catch { case _: IllegalStateException => () } // invalidated; re-run
          }
          assert(done > 0, "mutation never committed"); done
        }
      })
    try {
      val del = retrying(() => CommitLog.delete(spark, t, col("id") < 10L))
      val mrg = retrying(() => CommitLog.merge(spark, t,
        ((990 until 995).map(i => (i.toLong, "new", 9)) ++
          (50 until 55).map(i => (i.toLong, "upd", 2))).toDF("id", "s", "bucket"),
        Seq("id")))
      del.get(300, java.util.concurrent.TimeUnit.SECONDS)
      mrg.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val rows = CommitLog.read(spark, t)
    assert(rows.filter(col("id") < 10L).count() === 0L)            // delete landed
    assert(rows.filter(col("id") >= 990L).count() === 5L)          // merge inserts landed
    assert(rows.filter(col("id").between(50L, 54L) && col("s") === "upd")
      .count() === 5L)                                             // merge updates landed
    assert(rows.count() === 95L)                                   // 100 − 10 + 5
    assert(CommitLog.fsck(t).clean)
  }

  test("racing OVERLAPPING updates: no lost update — both apply in some serial order") {
    // Two writers mutate the SAME row. The losing rewrite is cleanly
    // invalidated (never published over the winner) and its retry
    // re-reads the winner's snapshot, so both SETs apply serially: the
    // classic read-modify-write that silently loses one increment under
    // snapshot-blind publishing must end with BOTH marks present.
    val t = freshTable()
    seedRanged(t)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def retrying(tag: String): java.util.concurrent.Future[Long] =
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          var done = -1L; var attempts = 0
          while (done < 0 && attempts < 64) {
            attempts += 1
            try done = CommitLog.update(spark, t, col("id") === 5L,
              Map("s" -> concat(col("s"), lit(tag))))
            catch { case _: IllegalStateException => () }
          }
          assert(done > 0, s"update $tag never committed"); done
        }
      })
    try {
      val a = retrying("+A"); val b = retrying("+B")
      a.get(300, java.util.concurrent.TimeUnit.SECONDS)
      b.get(300, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val s5 = CommitLog.read(spark, t).filter(col("id") === 5L)
      .select("s").head().getString(0)
    assert(s5 === "s5+A+B" || s5 === "s5+B+A", s"lost update: $s5")
    assert(CommitLog.fsck(t).clean)
  }

  test("copy-on-write and deletion-vector twins leave equal snapshots and change rows") {
    // one seeded multi-file table, committed twice: `cow` takes delete,
    // update and merge, `dv` their twins deleteDv, updateDv and mergeDv
    val seeded = (0 until 120).map { i =>
      val s = if (i % 7 == 0) None else if (i % 5 == 0) Some("x")
        else if (i % 3 == 0) Some("y") else Some(s"s$i")
      (i.toLong, i / 30, s, i * 1.5)
    }.toDF("id", "grp", "s", "v")
    val (cow, dv) = (freshTable(), freshTable())
    Seq(cow, dv).foreach(t => CommitLog.commit(seeded.repartition(4, col("grp")), t, "append"))
    assert(CommitLog.manifest(cow, 1L).files.size > 1)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    def sameAfter(step: String): Seq[String] = {
      val v = CommitLog.latestVersion(cow).get
      assert(CommitLog.latestVersion(dv).get === v, step)
      assert(sorted(CommitLog.read(spark, cow)) === sorted(CommitLog.read(spark, dv)), step)
      val feed = sorted(CommitLog.changeFeed(spark, cow, v - 1, Some(v)))
      assert(feed === sorted(CommitLog.changeFeed(spark, dv, v - 1, Some(v))), step)
      feed
    }

    // NULL `s` makes the condition NULL below v = 170 (row kept) and TRUE
    // above it (NULL OR TRUE)
    val del = col("s") === "x" || col("v") > 170.0
    CommitLog.delete(spark, cow, del)
    CommitLog.deleteDv(spark, dv, del)
    sameAfter("delete")
    assert(CommitLog.read(spark, cow).filter(col("s").isNull).count() === 17L)

    // SET reads the row as it was: s takes the OLD grp, grp the OLD s's length
    val before = CommitLog.read(spark, cow).filter(col("s") === "y")
      .select("id", "grp").as[(Long, Int)].collect().toMap
    val set = Map("s" -> col("grp").cast("string"), "grp" -> length(col("s")),
      "v" -> col("v") * 10)
    CommitLog.update(spark, cow, col("s") === "y", set)
    CommitLog.updateDv(spark, dv, col("s") === "y", set)
    assert(sameAfter("update").count(_.contains("update_postimage")) === before.size)
    val after = CommitLog.read(spark, cow).filter(col("id").isin(before.keys.toSeq: _*))
      .select("id", "grp", "s").as[(Long, Int, String)].collect()
    assert(after.toSet === before.map { case (id, g) => (id, 1, g.toString) }.toSet)

    // 2-key merge whose source adds a column: 4 matched (id, grp) pairs, an
    // existing id under another grp, a NULL grp and two new ids all insert
    val live = CommitLog.read(spark, cow).orderBy("id").limit(5)
      .select("id", "grp").as[(Long, Int)].collect()
    val src = (live.take(4).map { case (id, g) => (id, Option(g), Option("upd"), -1.0, "e") } ++
      Seq((live(4)._1, Option(live(4)._2 + 100), Option("other"), -2.0, "e"),
        (live(4)._1, Option.empty[Int], Option("nullkey"), -3.0, "e"),
        (500L, Option(9), Option("new"), -4.0, "e"), (501L, Option(9), None, -5.0, "e")))
      .toSeq.toDF("id", "grp", "s", "v", "extra")
    CommitLog.merge(spark, cow, src, Seq("id", "grp"))
    CommitLog.mergeDv(spark, dv, src, Seq("id", "grp"))
    val feed = sameAfter("merge")
    assert(Seq("update_preimage", "update_postimage", "insert")
      .map(c => feed.count(_.contains(c))) === Seq(4, 4, 4))
    assert(CommitLog.read(spark, cow).filter(col("extra") === "e").count() === 8L)
    Seq(cow, dv).foreach(t => assert(CommitLog.fsck(t).clean, CommitLog.fsck(t).toString))
  }

  test("changesSince refuses ranges containing a delete or merge") {
    val t = freshTable()
    seedRanged(t)
    CommitLog.delete(spark, t, col("id") < 10)
    val e = intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t, 1L)
    }
    assert(e.getMessage.contains("not an append"))
  }
}
