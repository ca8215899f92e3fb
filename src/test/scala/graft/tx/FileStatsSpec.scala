package graft.tx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** File-level data skipping over the commit log's footer-stats sidecars:
  * pruning must be exact where provable and conservative everywhere else —
  * `readPruned` must ALWAYS equal `read().filter(cond)`, with fewer files
  * planned whenever stats allow. */
class FileStatsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_fstats").resolve("t").toString

  /** 4 single-file commits with EXACT disjoint id ranges [0,25), [25,50),
    * [50,75), [75,100) — deterministic stats bounds (a hash repartition
    * could collide two ranges into one file and widen them). */
  private def seedRanged(t: String): CommitLog.Manifest = {
    (0 until 4).foreach { q =>
      val df = (q * 25 until (q + 1) * 25)
        .map(i => (i.toLong, s"s%03d".format(i), i / 25)).toDF("id", "s", "bucket")
      CommitLog.commit(df.coalesce(1), t, "append")
    }
    CommitLog.manifest(t, 4L)
  }

  test("commit writes a stats sidecar; pruneFiles keeps only files admitting the key") {
    val t = freshTable()
    val m = seedRanged(t)
    val dirs = m.files.map(_.split("/").take(2).mkString("/")).distinct
    dirs.foreach { d =>
      assert(Files.exists(Paths.get(t).resolve(d).resolve(FileStats.SidecarName)))
    }
    val kept = CommitLog.pruneFiles(t, m, Seq(EqualTo("id", 7L)))
    assert(kept.size === 1) // only the [0,25) file admits id=7
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("id", 7000L))).isEmpty)
    // range predicates
    assert(CommitLog.pruneFiles(t, m, Seq(GreaterThan("id", 74L))).size === 1)
    assert(CommitLog.pruneFiles(t, m, Seq(LessThanOrEqual("id", 25L))).size === 2)
    // string stats prune too
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("s", "s050"))).size === 1)
    assert(CommitLog.pruneFiles(t, m, Seq(StringStartsWith("s", "s09"))).size === 1)
    assert(CommitLog.pruneFiles(t, m, Seq(StringStartsWith("s", "zzz"))).isEmpty)
  }

  test("upgradeLegacySidecars rewrites rows=-1 lines with footer row " +
      "counts, preserving string exactness (round-15 ADVICE — legacy " +
      "grandfathered coverage becomes a measured fact)") {
    val t = freshTable()
    val m = seedRanged(t)
    val dir = Paths.get(t).resolve(m.files.head.split("/").take(2).mkString("/"))
    val sidecar = dir.resolve(FileStats.SidecarName)
    // doctor to the legacy 8-field form (strip the trailing rows field)
    val legacy = new String(Files.readAllBytes(sidecar), "UTF-8").split("\n")
      .map(l => l.split("\t", -1).take(8).mkString("\t")).mkString("\n")
    Files.write(sidecar, legacy.getBytes("UTF-8"))
    val before = FileStats.readSidecar(dir)
    assert(before.nonEmpty &&
      before.values.flatMap(_.values).forall(_.rows < 0L))
    val exactBefore = before.map { case (f, cs) =>
      f -> cs.map { case (c, s) => c -> s.exact } }
    val n = FileStats.upgradeLegacySidecars(dir)
    assert(n === before.size)
    val after = FileStats.readSidecar(dir)
    assert(after.keySet === before.keySet)
    after.foreach { case (f, cols) =>
      cols.foreach { case (c, s) =>
        assert(s.rows === 25L, s"$f/$c footer row count")
        assert(s.covered && s.values === s.rows,
          s"$f/$c coverage must now be measured")
        assert(s.exact === exactBefore(f)(c),
          s"$f/$c exactness must carry over, not re-derive")
      }
    }
    // idempotent: a current-form sidecar is a no-op
    assert(FileStats.upgradeLegacySidecars(dir) === 0)
    // and pruning on the upgraded dir still answers exactly
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("id", 7L))).size === 1)
  }

  test("readPruned equals read().filter for every predicate shape") {
    val t = freshTable()
    seedRanged(t)
    val preds = Seq(
      col("id") === 7L,
      col("id") > 80L && col("s") < "s095",
      col("id") === 7L || col("id") === 93L,
      col("bucket").isin(1, 2) && col("id") % 2 === 0, // untranslatable residue
      col("s").startsWith("s04"))
    preds.foreach { p =>
      val expect = CommitLog.read(spark, t).filter(p)
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      val got = CommitLog.readPruned(spark, t, p)
        .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      assert(got === expect, s"for predicate $p")
    }
  }

  test("missing sidecar disables pruning, never correctness") {
    val t = freshTable()
    val m = seedRanged(t)
    val dir = m.files.head.split("/").take(2).mkString("/")
    Files.delete(Paths.get(t).resolve(dir).resolve(FileStats.SidecarName))
    // the sidecar-less dir's files always survive; the other dirs still prune
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("id", 7000L)))
      === m.files.filter(_.startsWith(dir + "/")))
    assert(CommitLog.readPruned(spark, t, col("id") === 7L).count() === 1L)
  }

  test("all-null columns prune comparisons but keep IsNull") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "s"),
      t, "append")
    CommitLog.commit(Seq((3L, Some("x"))).toDF("id", "s"), t, "append")
    val m = CommitLog.manifest(t, 2L)
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("s", "x"))).size === 1)
    assert(CommitLog.pruneFiles(t, m, Seq(IsNull("s"))).size >= 1)
    assert(CommitLog.readPruned(spark, t, col("s") === "x").count() === 1L)
    assert(CommitLog.readPruned(spark, t, col("s").isNull).count() === 2L)
  }

  test("hive partition segments prune files on partition columns") {
    val t = freshTable()
    val df = (0 until 100).map(i => (i.toLong, s"s$i", i % 4)).toDF("id", "s", "p")
    CommitLog.commit(df, t, "append", partitionBy = Seq("p"))
    val m = CommitLog.manifest(t, 1L)
    // partition columns never reach parquet footers; the path segments must
    // carry the bound instead
    val kept = CommitLog.pruneFiles(t, m, Seq(EqualTo("p", 2)))
    assert(kept.nonEmpty && kept.size < m.files.size)
    assert(kept.forall(_.contains("p=2")))
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("p", 9))).isEmpty)
    // a string-typed literal against the long-guessed kind stays conservative
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("p", "2"))) === m.files)
    assert(CommitLog.readPruned(spark, t, col("p") === 2).count() === 25L)
  }

  test("partition values containing '+' prune correctly (hive unescape, not URL-decode)") {
    val t = freshTable()
    // Spark does NOT escape '+' in partition paths; URLDecoder would read
    // 'a+b' back as 'a b', mis-bound the file, and silently exclude it
    // from mutations and pruned reads
    val df = Seq((1L, "a+b"), (2L, "a+b"), (3L, "c d"), (4L, "x%y")).toDF("id", "p")
    CommitLog.commit(df, t, "append", partitionBy = Seq("p"))
    val m = CommitLog.manifest(t, 1L)
    assert(CommitLog.pruneFiles(t, m, Seq(EqualTo("p", "a+b"))).nonEmpty)
    assert(CommitLog.readPruned(spark, t, col("p") === "a+b").count() === 2L)
    assert(CommitLog.readPruned(spark, t, col("p") === "c d").count() === 1L)
    assert(CommitLog.readPruned(spark, t, col("p") === "x%y").count() === 1L)
    val v = CommitLog.delete(spark, t, col("p") === "a+b")
    assert(v === 2L && CommitLog.read(spark, t).count() === 2L)
  }

  test("vacuum keeps the stats sidecars of dirs with surviving files") {
    val t = freshTable()
    val m = seedRanged(t)
    CommitLog.commit((100 until 125).map(i => (i.toLong, s"s$i", 4)).toDF("id", "s", "bucket"),
      t, "append") // v5; v1-v4's dirs stay fully referenced
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    // the sweep must not delete live dirs' sidecars (they are never
    // manifest-listed) — skipping would silently die table-wide otherwise
    m.files.map(_.split("/").take(2).mkString("/")).distinct.foreach { d =>
      assert(Files.exists(Paths.get(t).resolve(d).resolve(FileStats.SidecarName)),
        s"sidecar of live dir $d was vacuumed")
    }
    val latest = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(CommitLog.pruneFiles(t, latest, Seq(EqualTo("id", 7L))).size === 1)
  }

  test("multi-row-group files merge stats across blocks (min of mins, max of maxes)") {
    val t = freshTable()
    // tiny block size forces several row groups in one file; the sidecar
    // must aggregate across them, not record just the first block's bounds
    val df = (0 until 20000).map(i => (i.toLong, s"v%05d".format(i))).toDF("id", "s")
    val dataDir = java.nio.file.Paths.get(t, "raw")
    df.coalesce(1).write
      .option("parquet.block.size", "65536")
      .option("parquet.page.size", "8192")
      .parquet(dataDir.toString)
    val files = java.nio.file.Files.list(dataDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size === 1)
    FileStats.writeSidecar(dataDir, files, exactStrings = true)
    val stats = FileStats.readSidecar(dataDir)(dataDir.relativize(files.head).toString)
    assert(stats("id").min.contains("0") && stats("id").max.contains("19999"))
    assert(stats("s").min.contains("v00000") && stats("s").max.contains("v19999"))
    // and the file genuinely has >1 row group, or this test proves nothing
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.toUri),
      new org.apache.hadoop.conf.Configuration())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try assert(reader.getFooter.getBlocks.size() > 1)
    finally reader.close()
  }

  test("timestamp stats prune time-clustered files (1 of N planned)") {
    val t = freshTable()
    // 4 single-file commits of one UTC day each — the time-clustered layout
    // every ingest window produces (the reference's dominant filter shape)
    (0 until 4).foreach { d =>
      val rows = (0 until 24).map { h =>
        (d * 24L + h, java.time.Instant.parse(f"2024-01-${d + 1}%02d" + f"T$h%02d:00:00Z"))
      }
      CommitLog.commit(rows.toDF("id", "ets").coalesce(1), t, "append")
    }
    val m = CommitLog.manifest(t, 4L)
    assert(m.files.size === 4)
    // java.sql.Timestamp literal (datetime.java8API off — Spark's default)
    val cut = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-04T00:00:00Z"))
    assert(CommitLog.pruneFiles(t, m, Seq(GreaterThanOrEqual("ets", cut))).size === 1)
    // java.time.Instant literal (java8 API shape)
    assert(CommitLog.pruneFiles(t, m,
      Seq(LessThan("ets", java.time.Instant.parse("2024-01-02T00:00:00Z")))).size === 1)
    assert(CommitLog.pruneFiles(t, m,
      Seq(GreaterThan("ets", java.sql.Timestamp.from(
        java.time.Instant.parse("2024-01-04T23:00:00Z"))))).isEmpty)
    // end-to-end via the translated Column predicate, equality with plain read
    val pruned = CommitLog.readPruned(spark, t, col("ets") >= lit(cut))
    assert(pruned.count() === 24L)
    assert(CommitLog.read(spark, t).filter(col("ets") >= lit(cut)).count() === 24L)
  }

  test("date stats prune via epoch-day rendering") {
    val t = freshTable()
    (0 until 3).foreach { mth =>
      val rows = (1 to 28).map { dd =>
        (mth * 28L + dd, java.sql.Date.valueOf(f"2024-${mth + 1}%02d-$dd%02d"))
      }
      CommitLog.commit(rows.toDF("id", "d").coalesce(1), t, "append")
    }
    val m = CommitLog.manifest(t, 3L)
    assert(CommitLog.pruneFiles(t, m,
      Seq(GreaterThanOrEqual("d", java.sql.Date.valueOf("2024-03-01")))).size === 1)
    assert(CommitLog.pruneFiles(t, m,
      Seq(EqualTo("d", java.time.LocalDate.parse("2024-02-10")))).size === 1)
    assert(CommitLog.readPruned(spark, t,
      col("d") === lit(java.sql.Date.valueOf("2024-02-10"))).count() === 1L)
  }

  test("struct leaf stats prune nested predicates (dotted footer paths)") {
    val t = freshTable()
    (0 until 4).foreach { q =>
      val df = (q * 25 until (q + 1) * 25).map(i => (i.toLong, i.toDouble, s"n$i"))
        .toDF("id", "lat", "name")
        .select(col("id"), struct(col("lat"), col("name")).as("geo"))
      CommitLog.commit(df.coalesce(1), t, "append")
    }
    val m = CommitLog.manifest(t, 4L)
    val kept = CommitLog.pruneFiles(t, m, Seq(EqualTo("geo.lat", 80.0)))
    assert(kept.size === 1, "nested predicate must plan 1 of 4 files")
    // through the Column translation path too (nested pushdown enabled)
    assert(CommitLog.readPruned(spark, t, col("geo.lat") === 80.0).count() === 1L)
    assert(CommitLog.readPruned(spark, t, col("geo.lat") === 80.0 )
      .select("id").as[Long].head() === 80L)
  }

  test("date-typed hive partition segments prune with date literals") {
    val t = freshTable()
    val df = (0 until 60).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"2024-01-${i % 3 + 1}%02d"))
    }.toDF("id", "d")
    CommitLog.commit(df, t, "append", partitionBy = Seq("d"))
    val m = CommitLog.manifest(t, 1L)
    val kept = CommitLog.pruneFiles(t, m,
      Seq(EqualTo("d", java.sql.Date.valueOf("2024-01-02"))))
    assert(kept.nonEmpty && kept.size < m.files.size)
    assert(kept.forall(_.contains("d=2024-01-02")))
    assert(CommitLog.readPruned(spark, t,
      col("d") === lit(java.sql.Date.valueOf("2024-01-02"))).count() === 20L)
  }

  test("delete's probe scans only stats-surviving files") {
    val t = freshTable()
    val before = seedRanged(t)
    // a point delete: stats confine the probe to one file, and the rewrite
    // touches exactly that file
    val v = CommitLog.delete(spark, t, col("id") === 7L)
    val after = CommitLog.manifest(t, v).files
    val carried = before.files.filter(after.contains)
    assert(carried.size === before.files.size - 1)
    assert(CommitLog.read(spark, t).count() === 99L)
  }
}
