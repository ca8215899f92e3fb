package graft.tx

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In}
import graft.SparkSpec

/** Per-file Bloom sidecars ([[BloomIndex]]): point lookups prune files on
  * layouts where min/max stats cannot (round-robin writes, every file
  * spanning the whole key domain), conservatively (missing sidecars,
  * unregistered columns, and false positives only KEEP files), and the
  * sidecars survive the lifecycle (compact backfill, clone, vacuum). */
class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  /** 1..1000 round-robin'd into 8 files: every file's [min,max] ≈ the whole
    * domain, so stats pruning keeps everything and only blooms can shrink
    * a point lookup. */
  private def freshTable(prefix: String, bloomOn: Seq[String] = Seq("id")): String = {
    val table = tmpDir(prefix)
    new java.io.File(table).delete()
    if (bloomOn.nonEmpty) BloomIndex.setColumns(table, bloomOn)
    val df = (1L to 1000L).map(i => (i, s"name_$i", i % 7)).toDF("id", "nm", "grp")
    CommitLog.commit(df.repartition(8), table, "append")
    table
  }

  private def planned(table: String, filters: org.apache.spark.sql.sources.Filter*): Int = {
    val m = CommitLog.manifest(table, CommitLog.latestVersion(table).get)
    CommitLog.pruneFiles(table, m, filters.toSeq).size
  }

  private def files(table: String): Int =
    CommitLog.manifest(table, CommitLog.latestVersion(table).get).files.size

  test("point lookup prunes files that stats cannot") {
    val t = freshTable("bloom_point")
    assert(files(t) === 8)
    // stats keep everything (round-robin layout)…
    val statsOnly = freshTable("bloom_none", bloomOn = Nil)
    assert(planned(statsOnly, EqualTo("id", 437L)) === 8)
    // …the bloom plans O(1) files
    val withBloom = planned(t, EqualTo("id", 437L))
    assert(withBloom < 8, s"bloom failed to prune: planned $withBloom of 8")
    // and the lookup still finds its row (no false negative, ever)
    val got = CommitLog.readPruned(spark, t, col("id") === 437L)
      .select("id", "nm").as[(Long, String)].collect()
    assert(got.toSeq === Seq((437L, "name_437")))
  }

  test("IN probes prune to the union of candidate files") {
    val t = freshTable("bloom_in")
    val p = planned(t, In("id", Array(3L, 500L, 999L)))
    assert(p < 8)
    val got = CommitLog.readPruned(spark, t, col("id").isin(3L, 500L, 999L))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === Seq(3L, 500L, 999L))
  }

  test("string columns bloom too") {
    val t = freshTable("bloom_str", bloomOn = Seq("nm"))
    val p = planned(t, EqualTo("nm", "name_271"))
    assert(p < 8)
    val got = CommitLog.readPruned(spark, t, col("nm") === "name_271")
      .select("id").as[Long].collect()
    assert(got.toSeq === Seq(271L))
  }

  test("an absent key prunes everything a bloom can prove absent") {
    val t = freshTable("bloom_absent")
    // 1% FPP per file over 8 files: typically 0 planned, always correct
    val p = planned(t, EqualTo("id", 999999L))
    assert(p <= 2, s"absent key planned $p of 8 files")
    assert(CommitLog.readPruned(spark, t, col("id") === 999999L).isEmpty)
  }

  test("missing sidecar and unregistered columns stay conservative") {
    val t = freshTable("bloom_missing")
    // unregistered column: no pruning, full answer
    assert(planned(t, EqualTo("grp", 3L)) === 8)
    // deleted sidecar: no pruning, full answer
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    m.files.map(CommitLog.commitDirOf).distinct.foreach { dir =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(t).resolve(dir).resolve(BloomIndex.SidecarName))
    }
    assert(planned(t, EqualTo("id", 437L)) === 8)
    assert(CommitLog.readPruned(spark, t, col("id") === 437L).count() === 1L)
  }

  test("compact backfills a late registration") {
    val t = freshTable("bloom_late", bloomOn = Nil)
    assert(planned(t, EqualTo("id", 437L)) === 8)
    BloomIndex.setColumns(t, Seq("id"))
    // registration affects future writes only — compaction IS the rewrite
    CommitLog.compact(spark, t, targetBytes = 4L * 1024 * 1024)
    val p = planned(t, EqualTo("id", 437L))
    val n = files(t)
    assert(p < n || n == 1,
      s"compaction did not backfill blooms: planned $p of $n")
    assert(CommitLog.readPruned(spark, t, col("id") === 437L).count() === 1L)
  }

  test("clone carries the sidecars and the registration") {
    val t = freshTable("bloom_clone_src")
    val dst = tmpDir("bloom_clone_dst")
    new java.io.File(dst).delete()
    CommitLog.cloneTable(t, dst)
    assert(planned(dst, EqualTo("id", 437L)) < 8)
    assert(BloomIndex.columns(dst) === Seq("id"))
  }

  test("vacuum keeps live sidecars") {
    val t = freshTable("bloom_vac")
    CommitLog.commit(Seq((2000L, "name_2000", 5L)).toDF("id", "nm", "grp"), t, "append")
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(planned(t, EqualTo("id", 437L)) < files(t))
    assert(CommitLog.readPruned(spark, t, col("id") === 437L).count() === 1L)
  }

  test("a kind-mismatched probe never prunes (no cross-type false negative)") {
    val t = freshTable("bloom_kind", bloomOn = Seq("nm"))
    // probing the string-hashed nm filter with an Int — the shape Spark
    // would answer via numeric coercion — must keep every file
    assert(planned(t, EqualTo("nm", 5)) === 8)
    // and a long-bloomed column probed with a string keeps too
    val t2 = freshTable("bloom_kind2")
    assert(planned(t2, EqualTo("id", "437")) === 8)
  }

  test("hive-partitioned tables bloom per file despite colliding basenames") {
    val table = tmpDir("bloom_hive")
    new java.io.File(table).delete()
    BloomIndex.setColumns(table, Seq("id"))
    // 2 partitions × several part files; one write task emits the SAME
    // basename into both partition dirs — identity must be the relative
    // path, not the basename
    val df = (1L to 1000L).map(i => (i, i % 2)).toDF("id", "par")
    CommitLog.commit(df.repartition(4), table, "append", partitionBy = Seq("par"))
    val m = CommitLog.manifest(table, 1L)
    assert(m.files.size >= 4)
    val p = planned(table, EqualTo("id", 437L))
    assert(p < m.files.size, s"partitioned bloom failed to prune: $p of ${m.files.size}")
    assert(CommitLog.readPruned(spark, table, col("id") === 437L).count() === 1L)
  }

  test("merge key probes prune through blooms on unclustered layouts") {
    val t = freshTable("bloom_mergeprobe")
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val src = Seq(437L, 11L).toDF("id")
    // bounds alone keep all 8 (round-robin layout); the key probe shrinks
    val kept = CommitLog.pruneFilesByKeys(spark, t, m, Seq("id"), src)
    assert(kept.size < 8, s"bloom key probe kept ${kept.size} of 8")
    // and a real merge-on-read upsert through the shrunk probe is exact
    val upd = Seq((437L, "name_437_v2", 437L % 7)).toDF("id", "nm", "grp")
    CommitLog.mergeDv(spark, t, upd, Seq("id"))
    val read = CommitLog.read(spark, t)
    assert(read.count() === 1000L)
    assert(read.filter(col("id") === 437L).select("nm").as[String].collect()
      .toSeq === Seq("name_437_v2"))
  }

  test("NULL-key source rows drop out of the probe without crashing") {
    val t = freshTable("bloom_nullkey")
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val src = Seq(Some(437L), None).toDF("id")
    val kept = CommitLog.pruneFilesByKeys(spark, t, m, Seq("id"), src)
    assert(kept.size < 8)
  }

  test("setColumns refuses non-indexable known types") {
    val t = tmpDir("bloom_badcol")
    new java.io.File(t).delete()
    CommitLog.commit(Seq((1L, 2.5)).toDF("id", "v"), t, "append")
    val e = intercept[IllegalArgumentException] {
      BloomIndex.setColumns(t, Seq("v"))
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("setColumns from two threads on one table never collide: no call " +
      "throws, and the config holds one caller's columns whole") {
    val table = tmpDir("graft_bloom_race")
    val inputs = Seq(Seq("id"), Seq("nm", "grp"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = inputs.map { cols =>
      new Thread(() => {
        start.await()
        (1 to 200).foreach { _ =>
          try BloomIndex.setColumns(table, cols)
          catch { case e: Throwable => failures.add(e) }
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(failures.isEmpty,
      s"${failures.size} of 400 calls threw; first: ${failures.peek()}")
    assert(inputs.contains(BloomIndex.columns(table)))
  }
}
