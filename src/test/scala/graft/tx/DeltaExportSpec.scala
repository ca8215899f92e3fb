package graft.tx

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** `_delta_log` export (round-11 VERDICT item 2): the spec plays the role
  * of a FOREIGN Delta reader — it re-reads the exported log with an
  * independent parser (Spark's JSON reader, not graft's manifest code),
  * proves file-set + schema equality with the graft snapshot, and
  * reconstructs the table the way `delta_scan`/`read_delta` would: scan
  * exactly the `add` paths, rebuild partition columns from
  * `partitionValues`. */
class DeltaExportSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_dexp").resolve("t").toString

  private def logFile(t: String): String =
    Paths.get(t).resolve("_delta_log").resolve(f"${0L}%020d.json").toString

  test("exported log names exactly the snapshot's files, schema, and partition values") {
    val t = freshTable()
    CommitLog.commit(
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5), (4L, null, 4.5))
        .toDF("id", "k", "v"),
      t, "append", partitionBy = Seq("k"))
    CommitLog.commit(Seq((5L, "c", 5.5)).toDF("id", "k", "v"), t, "append")
    val exported = DeltaExport.writeDeltaLog(t)
    assert(exported === CommitLog.latestVersion(t).get)

    // independent parse: Spark's JSON reader over the action lines
    val actions = spark.read.json(logFile(t))
    assert(actions.filter(col("protocol").isNotNull).count() === 1L)
    val meta = actions.filter(col("metaData").isNotNull).select("metaData.*")
    assert(meta.count() === 1L)
    val m = CommitLog.manifest(t, exported)
    // schemaString round-trips to the exact snapshot schema
    val schemaStr = meta.select("schemaString").as[String].head()
    assert(DataType.fromJson(schemaStr).asInstanceOf[StructType] === m.schema)
    assert(meta.select("partitionColumns").as[Seq[String]].head() === Seq("k"))

    // add actions name EXACTLY the manifest's files (relative paths)
    val adds = actions.filter(col("add").isNotNull).select("add.*")
    // add.path is protocol-encoded: a conforming reader DECODES it back
    // onto the on-disk (hive-escaped) relative paths
    assert(adds.select("path").as[String].collect()
      .map(DeltaPaths.decode).toSet === m.files.toSet)
    assert(adds.filter(col("size") <= 0L).count() === 0L)

    // foreign-reader reconstruction: scan each add path, rebuild the
    // partition column from partitionValues (null for
    // __HIVE_DEFAULT_PARTITION__), union — must equal the graft snapshot
    val rebuilt = adds.select("path", "partitionValues.k").as[(String, String)]
      .collect().toSeq.map { case (path, kVal) =>
        spark.read.parquet(s"$t/${DeltaPaths.decode(path)}")
          .withColumn("k", lit(kVal).cast("string"))
          .select("id", "k", "v")
      }.reduce(_ unionByName _)
    val expect = CommitLog.read(spark, t).select("id", "k", "v")
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
    assert(rebuilt.as[(Long, String, Double)].collect().toSeq.sortBy(_._1)
      === expect)
    assert(expect.find(_._1 == 4L).get._2 === null) // default-partition row
  }

  test("exported adds carry per-file stats a foreign reader can skip with") {
    val t = freshTable()
    CommitLog.commit(
      Seq((1L, 1.5, "alpha", Some(10L)), (2L, 2.5, "bravo", None),
        (3L, -3.5, "charlie", Some(30L)))
        .toDF("id", "v", "name", "opt").coalesce(1),
      t, "append")
    CommitLog.commit(Seq((9L, 9.5, "zulu", Some(90L)))
      .toDF("id", "v", "name", "opt").coalesce(1), t, "append")
    DeltaExport.writeDeltaLog(t)
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path", "add.stats")
      .as[(String, String)].collect().toMap
    assert(adds.size === 2)
    adds.values.foreach(s => assert(s != null, "every add must carry stats"))
    val parsed = adds.map { case (p, s) =>
      DeltaPaths.decode(p) -> new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s)
    }
    // numRecords per file is exact, so a count-only foreign scan reads
    // zero data
    assert(parsed.values.map(_.path("numRecords").asLong()).toSeq.sorted
      === Seq(1L, 3L))
    val big = parsed.values.find(_.path("numRecords").asLong() == 3L).get
    assert(big.path("minValues").path("id").asLong() === 1L)
    assert(big.path("maxValues").path("id").asLong() === 3L)
    assert(big.path("minValues").path("v").asDouble() === -3.5)
    assert(big.path("maxValues").path("v").asDouble() === 2.5)
    // engine-written strings are proven untruncated → exported exactly
    assert(big.path("minValues").path("name").asText() === "alpha")
    assert(big.path("maxValues").path("name").asText() === "charlie")
    assert(big.path("nullCount").path("opt").asLong() === 1L)
    assert(big.path("nullCount").path("id").asLong() === 0L)
    // the skipping contract a foreign reader derives: only the small
    // file's [min,max] admits id = 9
    val smallOnly = parsed.filter { case (_, n) =>
      n.path("minValues").path("id").asLong() <= 9L &&
        n.path("maxValues").path("id").asLong() >= 9L
    }
    assert(smallOnly.size === 1)
    val skipped = spark.read.parquet(s"$t/${smallOnly.keys.head}")
      .select("id").as[Long].collect().toSeq
    assert(skipped === Seq(9L))
  }

  test("re-export appends an O(diff) Delta commit; full replay equals the snapshot") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t)
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    // a compaction rewrites the file set — the re-export diff must carry
    // removes too, not just adds
    CommitLog.compact(spark, t)
    val v = DeltaExport.writeDeltaLog(t)
    assert(v === CommitLog.latestVersion(t).get)
    val logDir = Paths.get(t).resolve("_delta_log")
    // the incremental export wrote version 1, it did NOT rewrite version 0
    assert(Files.isRegularFile(logDir.resolve(f"${1L}%020d.json")))
    val v1 = spark.read.json(logDir.resolve(f"${1L}%020d.json").toString)
    assert(v1.filter(col("remove").isNotNull).count() >= 1L)
    // foreign replay across BOTH versions: adds minus removes == snapshot
    val all = spark.read.json(logDir.resolve("*.json").toString)
    val adds = all.filter(col("add").isNotNull).select("add.path").as[String]
      .collect().toSet
    val removes = all.filter(col("remove").isNotNull).select("remove.path")
      .as[String].collect().toSet
    assert((adds -- removes) === CommitLog.manifest(t, v).files.toSet)
    val marker = new String(Files.readAllBytes(
      logDir.resolve("_graft_export")), "UTF-8")
    assert(marker.contains(s"graft_version=$v") && marker.contains("delta_version=1"))
    // idempotent: re-exporting the same version writes nothing new
    DeltaExport.writeDeltaLog(t)
    assert(!Files.exists(logDir.resolve(f"${2L}%020d.json")))
    // and graft's own reader is undisturbed by the foreign log dir
    assert(CommitLog.read(spark, t).count() === 2L)
  }

  test("FORCE over a clean prior rebuilds a fresh v0-only log, never an " +
      "incremental append") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t)
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t) // incremental → delta v1
    val logDir = Paths.get(t).resolve("_delta_log")
    assert(Files.isRegularFile(logDir.resolve(f"${1L}%020d.json")))
    // FORCE with NO foreign commits (the clean-prior case): the contract
    // is a full rebuild — before the fix this silently fell through to an
    // incremental append at v2, leaving the caller's fresh baseline unmet
    CommitLog.commit(Seq((3L, 3.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t, force = true)
    assert(Files.isRegularFile(logDir.resolve(f"${0L}%020d.json")))
    assert(!Files.exists(logDir.resolve(f"${1L}%020d.json")),
      "FORCE must sweep the stale incremental chain")
    assert(!Files.exists(logDir.resolve(f"${2L}%020d.json")))
    val marker = new String(Files.readAllBytes(
      logDir.resolve("_graft_export")), "UTF-8")
    assert(marker.contains("delta_version=0"))
    // the fresh v0 names exactly the latest snapshot
    val adds = spark.read.json(logDir.resolve(f"${0L}%020d.json").toString)
      .filter(col("add").isNotNull).select("add.path").as[String].collect().toSet
    assert(adds === CommitLog.manifest(t, CommitLog.latestVersion(t).get)
      .files.toSet)
    // and the incremental chain restarts cleanly on top of the rebuild
    CommitLog.commit(Seq((4L, 4.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t)
    assert(Files.isRegularFile(logDir.resolve(f"${1L}%020d.json")))
  }

  test("an incrementally exported multi-version log re-imports exactly") {
    val src = freshTable()
    CommitLog.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), src, "append")
    DeltaExport.writeDeltaLog(src)
    CommitLog.commit(Seq((3L, 3.0)).toDF("id", "v"), src, "append")
    CommitLog.delete(spark, src, col("id") === 2L) // copy-on-write rewrite
    val v = DeltaExport.writeDeltaLog(src)
    // foreign-style copy: live files + the whole multi-version log
    val dst = graft.SparkSpec.tmpPath("graft_dexp_inc").resolve("t")
    val srcDir = Paths.get(src)
    CommitLog.manifest(src, v).files.foreach { rel =>
      val d = dst.resolve(rel)
      Files.createDirectories(d.getParent)
      Files.copy(srcDir.resolve(rel), d)
    }
    Files.createDirectories(dst.resolve("_delta_log"))
    Seq(f"${0L}%020d.json", f"${1L}%020d.json").foreach { n =>
      Files.copy(srcDir.resolve("_delta_log").resolve(n),
        dst.resolve("_delta_log").resolve(n))
    }
    CommitLog.convert(spark, dst.toString)
    assert(CommitLog.read(spark, dst.toString).select("id").as[Long]
      .collect().sorted === Seq(1L, 3L))
  }

  test("the 10th incremental export writes a parquet checkpoint a foreign " +
      "reader (and our import) can load without the early JSON commits") {
    val src = freshTable()
    CommitLog.commit(Seq((0L, 0.0)).toDF("id", "v"), src, "append")
    DeltaExport.writeDeltaLog(src) // delta version 0
    (1 to DeltaExport.CheckpointInterval).foreach { i =>
      CommitLog.commit(Seq((i.toLong, i * 1.0)).toDF("id", "v"), src, "append")
      DeltaExport.writeDeltaLog(src) // delta versions 1..10
    }
    val logDir = Paths.get(src).resolve("_delta_log")
    val ckpt = logDir.resolve(
      f"${DeltaExport.CheckpointInterval.toLong}%020d.checkpoint.parquet")
    assert(Files.isRegularFile(ckpt), "10th export must checkpoint")
    assert(new String(Files.readAllBytes(logDir.resolve("_last_checkpoint")),
      "UTF-8").contains("\"version\":10"))
    // the checkpoint parquet carries MAP-typed partitionValues and the
    // full snapshot's adds
    val ck = spark.read.parquet(ckpt.toString)
    assert(ck.schema("add").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType]("partitionValues").dataType
      .isInstanceOf[org.apache.spark.sql.types.MapType])
    assert(ck.filter(col("add").isNotNull).count()
      === CommitLog.manifest(src, CommitLog.latestVersion(src).get).files.size.toLong)
    // foreign-style copy WITHOUT the pre-checkpoint JSON commits: the
    // import must reconstruct from checkpoint alone (a Delta reader's
    // cold load does exactly this after log cleanup)
    val dst = graft.SparkSpec.tmpPath("graft_dexp_ck").resolve("t")
    val srcDir = Paths.get(src)
    val latest = CommitLog.latestVersion(src).get
    CommitLog.manifest(src, latest).files.foreach { rel =>
      val d = dst.resolve(rel)
      Files.createDirectories(d.getParent)
      Files.copy(srcDir.resolve(rel), d)
    }
    Files.createDirectories(dst.resolve("_delta_log"))
    Files.copy(ckpt, dst.resolve("_delta_log")
      .resolve(f"${10L}%020d.checkpoint.parquet"))
    Files.copy(logDir.resolve("_last_checkpoint"),
      dst.resolve("_delta_log").resolve("_last_checkpoint"))
    CommitLog.convert(spark, dst.toString)
    assert(CommitLog.read(spark, dst.toString).select("id").as[Long]
      .collect().sorted === (0L to 10L).toArray)
  }

  test("hive-escaped partition values survive export → foreign replay; " +
      "the codec is UTF-8-correct") {
    // unit level first: multi-byte runes decode byte-wise (delta-rs
    // encodes 'city=Zürich' as 'city=Z%C3%BCrich'; a char-wise decoder
    // yields mojibake 'ZÃ¼rich' and a spurious missing-file refusal) —
    // unit-only because this container's non-UTF8 filesystem locale
    // cannot CREATE non-ASCII file names to drive it end-to-end
    assert(DeltaPaths.decode("city=Z%C3%BCrich/part-0.parquet")
      === "city=Zürich/part-0.parquet")
    assert(DeltaPaths.decode(DeltaPaths.encode("k=a%3Db/p 1.parquet"))
      === "k=a%3Db/p 1.parquet")
    val t = freshTable()
    // 'a=b' hive-escapes to a%3Db on disk and 'a b' keeps a raw space —
    // the shapes that break a raw-path export (a conforming reader
    // percent-DECODES add.path, and a raw space breaks URI parsing)
    CommitLog.commit(
      Seq((1L, "a=b", 1.0), (2L, "a b", 2.0), (3L, "plain", 3.0))
        .toDF("id", "k", "v"),
      t, "append", partitionBy = Seq("k"))
    DeltaExport.writeDeltaLog(t)
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String].collect().toSeq
    // protocol-encoded: the on-disk '%' of the hive escape must arrive
    // as %25, never verbatim
    assert(adds.exists(_.contains("%253D")), s"hive '%' not re-encoded: $adds")
    // a conforming reader's decode must land exactly on the on-disk files
    adds.foreach { p =>
      assert(Files.isRegularFile(Paths.get(t).resolve(DeltaPaths.decode(p))),
        s"decoded add.path does not resolve on disk: $p")
    }
    // and the full import roundtrip preserves the values byte-for-byte
    val dst = graft.SparkSpec.tmpPath("graft_dexp_esc").resolve("t")
    val srcDir = Paths.get(t)
    CommitLog.manifest(t, 1L).files.foreach { rel =>
      val d = dst.resolve(rel)
      Files.createDirectories(d.getParent)
      Files.copy(srcDir.resolve(rel), d)
    }
    Files.createDirectories(dst.resolve("_delta_log"))
    Files.copy(srcDir.resolve("_delta_log").resolve(f"${0L}%020d.json"),
      dst.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    CommitLog.convert(spark, dst.toString)
    assert(CommitLog.read(spark, dst.toString).select("id", "k")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
      === Seq((1L, "a=b"), (2L, "a b"), (3L, "plain")))
  }

  test("a DV-carrying snapshot exports by folding deletions into a COW " +
      "side dir (round-12 VERDICT item 5); column mapping composes") {
    val t = freshTable()
    // two files so the fold is provably SCOPED: only the death-carrying
    // file is rewritten, the clean one is shared as-is. coalesce(1) makes
    // the dirty file's LIVE remainder deterministic (a scattered layout
    // could isolate the deaths in a fully-dead part, whose fold is empty)
    CommitLog.commit((1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.commit((21 to 30).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.deleteDv(spark, t, col("id") <= 5L)
    val v = DeltaExport.writeDeltaLog(t)
    assert(v === CommitLog.latestVersion(t).get)
    // independent parse: death-carrying file replaced by a COW rewrite,
    // clean file shared under its original data/ path
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String]
      .collect().toSeq.map(DeltaPaths.decode)
    assert(adds.exists(_.startsWith("_graft_export_cow/")),
      s"no COW add action in $adds")
    assert(adds.exists(_.startsWith("data/")),
      s"clean file not shared as-is in $adds")
    // the COW rewrites carry per-file stats too — the dirty subset must
    // not be the one place a foreign reader loses skipping. numRecords
    // totals the LIVE rows and the id bounds exclude the folded deaths.
    val om0 = new com.fasterxml.jackson.databind.ObjectMapper()
    val cowStats = spark.read.json(logFile(t)).filter(col("add").isNotNull)
      .select("add.path", "add.stats").as[(String, String)].collect()
      .filter(r => DeltaPaths.decode(r._1).startsWith("_graft_export_cow/"))
    assert(cowStats.nonEmpty)
    cowStats.foreach { case (p, s) => assert(s != null, s"COW add $p lacks stats") }
    val cowNodes = cowStats.map(r => om0.readTree(r._2))
    assert(cowNodes.map(_.path("numRecords").asLong()).sum === 15L)
    assert(cowNodes.map(_.path("minValues").path("id").asLong()).min >= 6L,
      "COW stats must reflect the folded (live-only) rows")
    adds.foreach { p =>
      assert(Files.isRegularFile(Paths.get(t).resolve(p)),
        s"add.path does not resolve on disk: $p")
    }
    // foreign reconstruction hash-matches the graft snapshot — dead rows
    // do NOT resurrect
    val rebuilt = adds.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt.select("id").as[Long].collect().sorted
      === CommitLog.read(spark, t).select("id").as[Long].collect().sorted)
    assert(rebuilt.select("id").as[Long].collect().sorted === (6L to 30L).toArray)
    // column mapping + DV COMPOSE: the rename exports natively (name
    // mode), and the COW rewrites store PHYSICAL names like every other
    // file the mapped log describes
    CommitLog.renameColumn(t, "v", "val")
    val vMapped = DeltaExport.writeDeltaLog(t)
    assert(vMapped === CommitLog.latestVersion(t).get)
    val actions3 = spark.read.json(logFile(t))
    assert(actions3.filter(col("metaData").isNotNull)
      .select("metaData.configuration.`delta.columnMapping.mode`")
      .as[String].head() === "name")
    val adds3 = actions3.filter(col("add").isNotNull).select("add.path")
      .as[String].collect().toSeq.map(DeltaPaths.decode)
    assert(adds3.exists(_.startsWith("_graft_export_cow/")))
    adds3.foreach { p =>
      assert(spark.read.parquet(s"$t/$p").columns.toSeq === Seq("id", "v"),
        s"exported file $p must store the PHYSICAL column name")
    }
    val rebuilt3 = adds3.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
      .select(col("id"), col("v").as("val")) // the mapping reader's move
    assert(rebuilt3.select("id").as[Long].collect().sorted === (6L to 30L).toArray)
    CommitLog.compact(spark, t) // rewrites under logical names, clears map
    val v2 = DeltaExport.writeDeltaLog(t)
    assert(v2 === CommitLog.latestVersion(t).get)
    // the full re-export reclaimed the superseded COW snapshot (compact
    // folded the DVs, so the fresh export needs none)
    assert(!Files.exists(Paths.get(t).resolve("_graft_export_cow")),
      "stale COW dir not reclaimed by the full re-export")
    val adds2 = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String].collect()
    val rebuilt2 = adds2.toSeq.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt2.select("id").as[Long].collect().sorted === (6L to 30L).toArray)
  }

  test("NATIVE deletionVectors export: O(DV bytes), zero data-file " +
      "rewrites, protocol rises to table features, and a full import " +
      "round-trip serves the live rows (round-15 VERDICT item 5)") {
    val t = freshTable()
    CommitLog.commit((1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.commit((21 to 30).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.deleteDv(spark, t, col("id") <= 5L)
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val dataMtimes = m.files.map(f =>
      f -> Files.getLastModifiedTime(Paths.get(t).resolve(f)).toMillis).toMap
    val v = DeltaExport.writeDeltaLog(t, nativeDv = true)
    assert(v === CommitLog.latestVersion(t).get)
    // ZERO data-file rewrites: the adds are exactly the manifest's files,
    // untouched on disk; no COW side dir exists
    val actions = spark.read.json(logFile(t))
    val addPaths = actions.filter(col("add").isNotNull)
      .select("add.path").as[String].collect().toSeq.map(DeltaPaths.decode)
    assert(addPaths.toSet === m.files.toSet)
    assert(!Files.exists(Paths.get(t).resolve("_graft_export_cow")))
    m.files.foreach(f => assert(Files.getLastModifiedTime(
      Paths.get(t).resolve(f)).toMillis === dataMtimes(f),
      s"data file $f was rewritten by a DV export"))
    // protocol: reader 3 / writer 7 declaring the feature; metaData
    // config enables it
    val proto = actions.filter(col("protocol").isNotNull)
      .select(col("protocol.minReaderVersion").cast("int"),
        col("protocol.minWriterVersion").cast("int"),
        col("protocol.readerFeatures"), col("protocol.writerFeatures"))
      .as[(Int, Int, Seq[String], Seq[String])].head()
    assert(proto === ((3, 7, Seq("deletionVectors"), Seq("deletionVectors"))))
    assert(actions.filter(col("metaData").isNotNull)
      .select("metaData.configuration.`delta.enableDeletionVectors`")
      .as[String].head() === "true")
    // exactly the dirty file carries a descriptor; the DV file itself is
    // O(deleted rows) — a few hundred bytes against the table's data
    val withDv = actions.filter(col("add").isNotNull)
      .filter(col("add.deletionVector").isNotNull)
      .select(col("add.path"), col("add.deletionVector.storageType"),
        col("add.deletionVector.cardinality").cast("long"),
        col("add.deletionVector.sizeInBytes").cast("int"),
        col("add.deletionVector.pathOrInlineDv"),
        col("add.deletionVector.offset").cast("long"),
        col("add.stats"))
      .collect()
    assert(withDv.length === 1)
    assert(withDv(0).getString(1) === "u")
    assert(withDv(0).getLong(2) === 5L)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val statsNode = om.readTree(withDv(0).getString(6))
    assert(!statsNode.path("tightBounds").asBoolean(true),
      "DV-carrying stats must declare tightBounds:false")
    assert(statsNode.path("numRecords").asLong() === 20L,
      "numRecords stays PHYSICAL per the protocol")
    val dvBins = {
      val st = Files.list(Paths.get(t))
      try st.iterator().asScala.filter(
        _.getFileName.toString.startsWith("deletion_vector_")).toList
      finally st.close()
    }
    assert(dvBins.size === 1)
    assert(Files.size(dvBins.head) < 4096L,
      s"DV file should be O(deleted rows), got ${Files.size(dvBins.head)} B")
    // descriptor resolves through the codec to exactly the dead positions
    val desc = DeltaDv.Descriptor("u", withDv(0).getString(4),
      Some(withDv(0).getLong(5)), withDv(0).getInt(3), withDv(0).getLong(2))
    assert(DeltaDv.readDescriptor(Paths.get(t), desc).length === 5)

    // ROUND-TRIP through the engine's own importer: copy the exported
    // view (data files + _delta_log + the DV file — NOT _graft_log) to a
    // fresh directory and CONVERT it
    val dst = graft.SparkSpec.tmpPath("graft_dvrt").resolve("t")
    Files.createDirectories(dst)
    m.files.foreach { f =>
      val to = dst.resolve(f)
      Files.createDirectories(to.getParent)
      Files.copy(Paths.get(t).resolve(f), to): Unit
    }
    val logSrc = Paths.get(t).resolve("_delta_log")
    Files.createDirectories(dst.resolve("_delta_log"))
    val ls = Files.list(logSrc)
    try ls.iterator().asScala.filter(Files.isRegularFile(_)).foreach(p =>
      Files.copy(p, dst.resolve("_delta_log").resolve(p.getFileName)): Unit)
    finally ls.close()
    dvBins.foreach(p => Files.copy(p, dst.resolve(p.getFileName)): Unit)
    CommitLog.convert(spark, dst.toString)
    val got = CommitLog.read(spark, dst.toString)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (6L to 30L),
      "imported DV table must serve exactly the live rows")
    // the import materialized an engine DV dir; mutations keep working
    assert(CommitLog.manifest(dst.toString,
      CommitLog.latestVersion(dst.toString).get).dvDirs.nonEmpty)
    CommitLog.deleteDv(spark, dst.toString, col("id") === 30L)
    assert(CommitLog.read(spark, dst.toString)
      .select("id").as[Long].collect().sorted.toSeq === (6L to 29L))
  }

  test("a fully-dead dirty file folds to NO zero-row cow add") {
    val t = freshTable()
    CommitLog.commit((1 to 5).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.commit((6 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    CommitLog.deleteDv(spark, t, col("id") <= 5L) // kills file 1 entirely
    DeltaExport.writeDeltaLog(t)
    val adds = spark.read.json(logFile(t)).filter(col("add").isNotNull)
      .select("add.path").as[String].collect().toSeq.map(DeltaPaths.decode)
    // no pointless zero-row adds: every listed file holds live rows
    adds.foreach { p =>
      assert(spark.read.parquet(s"$t/$p").count() > 0L,
        s"zero-row add exported: $p")
    }
    val rebuilt = adds.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt.select("id").as[Long].collect().sorted === (6L to 10L).toArray)
  }

  test("vacuum refreshes the exported log first — a foreign reader of the " +
      "latest Delta view never sees a missing file (round-12 VERDICT item 1)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t) // exports graft v1
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    CommitLog.compact(spark, t) // rewrites the file set: v1's files become unreferenced
    val latest = CommitLog.latestVersion(t).get
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0L, force = true)
    val logDir = Paths.get(t).resolve("_delta_log")
    // the marker moved to the surviving version BEFORE anything fell
    assert(new String(Files.readAllBytes(logDir.resolve("_graft_export")),
      "UTF-8").contains(s"graft_version=$latest"))
    // independent replay of the WHOLE foreign log: the latest view's
    // files (adds minus removes) must all resolve on disk post-vacuum
    val all = spark.read.json(logDir.resolve("*.json").toString)
    val adds = all.filter(col("add").isNotNull).select("add.path").as[String]
      .collect().toSet
    val removes = all.filter(col("remove").isNotNull).select("remove.path")
      .as[String].collect().toSet
    val live = (adds -- removes).map(DeltaPaths.decode)
    assert(live.nonEmpty)
    live.foreach { p =>
      assert(Files.isRegularFile(Paths.get(t).resolve(p)),
        s"vacuum deleted a file the exported log still lists: $p")
    }
    val rebuilt = live.toSeq.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt.select("id").as[Long].collect().sorted === Seq(1L, 2L))
    // and tx roundtrip health: graft's own reader is untouched
    assert(CommitLog.read(spark, t).count() === 2L)
  }

  test("vacuum × DV export compose: refreshing a COW-bearing export " +
      "re-folds against the latest snapshot and the foreign view survives " +
      "the sweep") {
    val t = freshTable()
    CommitLog.commit((1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      t, "append")
    CommitLog.deleteDv(spark, t, col("id") <= 5L)
    DeltaExport.writeDeltaLog(t) // COW export of the DV snapshot
    CommitLog.commit((21 to 25).map(i => (i.toLong, i * 1.0)).toDF("id", "v"),
      t, "append")
    CommitLog.compact(spark, t) // folds DVs, rewrites the file set
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0L, force = true)
    // the refresh was a FULL re-export (prior was COW), against the
    // folded snapshot: no COW needed anymore, old COW dir reclaimed
    assert(!Files.exists(Paths.get(t).resolve("_graft_export_cow")))
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String]
      .collect().toSeq.map(DeltaPaths.decode)
    adds.foreach { p =>
      assert(Files.isRegularFile(Paths.get(t).resolve(p)),
        s"vacuum deleted a file the refreshed export lists: $p")
    }
    val rebuilt = adds.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt.select("id").as[Long].collect().sorted === (6L to 25L).toArray)
  }

  test("a COLUMN-MAPPED snapshot exports as a name-mode Delta log: a " +
      "foreign reader serves logical names over physical files " +
      "(round-13 VERDICT item 1)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), t, "append")
    CommitLog.renameColumn(t, "v", "value") // schema-only: files store `v`
    val exported = DeltaExport.writeDeltaLog(t)
    assert(exported === CommitLog.latestVersion(t).get)

    // independent parse: protocol rose to the legacy mapping protocol,
    // metaData declares name mode, and the schema's field metadata maps
    // logical `value` to physical `v`
    val actions = spark.read.json(logFile(t))
    val proto = actions.filter(col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.minWriterVersion")
      .as[(Long, Long)].head()
    assert(proto === ((2L, 5L)))
    val meta = actions.filter(col("metaData").isNotNull).select("metaData.*")
    val conf = meta.select("configuration.`delta.columnMapping.mode`")
      .as[String].head()
    assert(conf === "name")
    val schemaStr = meta.select("schemaString").as[String].head()
    val parsed = DataType.fromJson(schemaStr).asInstanceOf[StructType]
    assert(parsed.fieldNames.toSeq === Seq("id", "value"))
    val valueField = parsed.fields.find(_.name == "value").get
    assert(valueField.metadata.getString(
      "delta.columnMapping.physicalName") === "v")
    assert(parsed.fields.find(_.name == "id").get.metadata.getString(
      "delta.columnMapping.physicalName") === "id")

    // foreign-reader reconstruction: scan the add paths (physical
    // columns), serve them under the mapped logical names
    val adds = actions.filter(col("add").isNotNull).select("add.path")
      .as[String].collect().map(DeltaPaths.decode)
    assert(adds.toSet === CommitLog.manifest(t, exported).files.toSet)
    val rebuilt = adds.toSeq.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
      .select(col("id"), col("v").as("value")) // what a mapping reader does
    assert(rebuilt.as[(Long, Double)].collect().sorted
      === Seq((1L, 1.0), (2L, 2.0)))

    // VACUUM on the renamed+exported table succeeds — the export-refresh
    // guard no longer turns a rename into an O(table) OPTIMIZE
    CommitLog.commit(Seq((3L, 3.0)).toDF("id", "value"), t, "append")
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0L, force = true)
    val liveAdds = {
      val all = spark.read.json(
        Paths.get(t).resolve("_delta_log").resolve("*.json").toString)
      val a = all.filter(col("add").isNotNull).select("add.path").as[String]
        .collect().toSet
      val r = if (!all.columns.contains("remove")) Set.empty[String]
        else all.filter(col("remove").isNotNull).select("remove.path")
          .as[String].collect().toSet
      (a -- r).map(DeltaPaths.decode)
    }
    liveAdds.foreach(p => assert(Files.isRegularFile(Paths.get(t).resolve(p)),
      s"vacuum deleted a file the mapped exported log still lists: $p"))
    assert(CommitLog.read(spark, t).count() === 3L)

    // ROUNDTRIP: a foreign-style copy of the exported mapped table
    // re-imports through our own name-mode import, logical names intact
    val dst = graft.SparkSpec.tmpPath("graft_dexp_cm").resolve("t")
    val srcDir = Paths.get(t)
    val latestM = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    latestM.files.foreach { rel =>
      val d = dst.resolve(rel)
      Files.createDirectories(d.getParent)
      Files.copy(srcDir.resolve(rel), d)
    }
    Files.createDirectories(dst.resolve("_delta_log"))
    import scala.jdk.CollectionConverters._
    val st = Files.list(srcDir.resolve("_delta_log"))
    try st.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .foreach(p => Files.copy(p,
        dst.resolve("_delta_log").resolve(p.getFileName.toString)))
    finally st.close()
    CommitLog.convert(spark, dst.toString)
    val back = CommitLog.read(spark, dst.toString)
    assert(back.schema.fieldNames.toSeq === Seq("id", "value"))
    assert(back.select("id", "value").as[(Long, Double)].collect().sorted
      === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("export chain stays consistent across rename → incremental → " +
      "OPTIMIZE → incremental (protocol rises once, identity mapping after)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t) // delta v0: clean, reader v1
    CommitLog.renameColumn(t, "v", "value")
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "value"), t, "append")
    DeltaExport.writeDeltaLog(t) // delta v1: the mapping appears here
    val logDir = Paths.get(t).resolve("_delta_log")
    val v1 = new String(Files.readAllBytes(
      logDir.resolve(f"${1L}%020d.json")), "UTF-8")
    assert(v1.contains(""""minReaderVersion":2"""),
      "the protocol must RISE in the same commit the mapping first appears")
    assert(v1.contains("delta.columnMapping.mode"))
    // OPTIMIZE clears the map and rewrites files under logical names;
    // the next incremental export re-emits IDENTITY name-mode metadata
    // (protocol never downgrades mid-chain)
    CommitLog.compact(spark, t)
    DeltaExport.writeDeltaLog(t) // delta v2
    val v2 = new String(Files.readAllBytes(
      logDir.resolve(f"${2L}%020d.json")), "UTF-8")
    assert(!v2.contains(""""minReaderVersion":1"""))
    assert(v2.contains("delta.columnMapping.mode"))
    // the physicalName rides ESCAPED inside schemaString's JSON string
    assert(v2.contains("delta.columnMapping.physicalName\\\":\\\"value"))
    // full replay serves the final logical schema and all rows
    val all = spark.read.json(logDir.resolve("*.json").toString)
    val adds = all.filter(col("add").isNotNull).select("add.path").as[String]
      .collect().toSet
    val removes = all.filter(col("remove").isNotNull).select("remove.path")
      .as[String].collect().toSet
    val live = (adds -- removes).map(DeltaPaths.decode)
    val rebuilt = live.toSeq.map(p => spark.read.parquet(s"$t/$p"))
      .reduce(_ unionByName _)
    assert(rebuilt.columns.toSeq === Seq("id", "value")) // post-OPTIMIZE: logical
    assert(rebuilt.as[(Long, Double)].collect().sorted
      === Seq((1L, 1.0), (2L, 2.0)))
  }

  test("re-export refuses when the exported log gained foreign Delta " +
      "commits; FORCE deliberately discards them (round-12 ADVICE, medium)") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    DeltaExport.writeDeltaLog(t) // delta version 0
    val logDir = Paths.get(t).resolve("_delta_log")
    // a foreign Delta writer appends version 1 (the exported log IS a
    // valid writable Delta table)
    Files.write(logDir.resolve(f"${1L}%020d.json"),
      """{"commitInfo":{"operation":"FOREIGN WRITE"}}""".getBytes("UTF-8"))
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    val e = intercept[IllegalArgumentException](DeltaExport.writeDeltaLog(t))
    assert(e.getMessage.contains("foreign"))
    // the foreign commit survived the refusal
    assert(Files.isRegularFile(logDir.resolve(f"${1L}%020d.json")))
    // FORCE: full re-export, foreign commit deliberately discarded
    val v = DeltaExport.writeDeltaLog(t, force = true)
    assert(v === CommitLog.latestVersion(t).get)
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String].collect()
    assert(adds.map(DeltaPaths.decode).toSet === CommitLog.manifest(t, v).files.toSet)
    assert(!Files.exists(logDir.resolve(f"${1L}%020d.json")))
    // and a _delta_log we NEVER wrote (no marker) refuses outright
    val t2 = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t2, "append")
    val logDir2 = Paths.get(t2).resolve("_delta_log")
    Files.createDirectories(logDir2)
    Files.write(logDir2.resolve(f"${0L}%020d.json"),
      """{"commitInfo":{"operation":"SOMEONE ELSES TABLE"}}""".getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException](DeltaExport.writeDeltaLog(t2))
    assert(e2.getMessage.contains("did not write"))
  }

  test("the foreign guard sees CHECKPOINT-only logs, FORCE sweeps every " +
      "checkpoint form, and our own crashed commit self-heals via full " +
      "re-export instead of a false foreign diagnosis") {
    // (a) a foreign log readable via checkpoint ALONE (JSON commits
    // metadata-cleaned) must refuse — a *.json-only scan would miss it
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    val logDir = Paths.get(t).resolve("_delta_log")
    Files.createDirectories(logDir)
    Files.write(logDir.resolve(f"${7L}%020d.checkpoint.parquet"), Array[Byte]())
    Files.write(logDir.resolve("_last_checkpoint"),
      """{"version":7,"size":3}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaExport.writeDeltaLog(t))
    assert(e.getMessage.contains("did not write"))
    // (b) FORCE replaces it — and the sweep must also remove MULTI-PART
    // and v2 UUID checkpoint files, or a Delta reader would reconstruct
    // the discarded snapshot from a checkpoint above the fresh v0
    Files.write(logDir.resolve(
      f"${9L}%020d.checkpoint.0000000001.0000000002.parquet"), Array[Byte]())
    Files.write(logDir.resolve(
      f"${9L}%020d.checkpoint.3a0f5b0e-9c7d-4b6a-8f21-0123456789ab.parquet"),
      Array[Byte]())
    DeltaExport.writeDeltaLog(t, force = true)
    val leftovers = {
      val st = Files.list(logDir)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(".checkpoint.")).toList
      } finally st.close()
    }
    assert(leftovers.isEmpty, s"stale checkpoints survived FORCE: $leftovers")
    assert(!Files.exists(logDir.resolve("_last_checkpoint")))
    // (c) crash window: an export that wrote its Delta commit but died
    // before the marker update must NOT lock later exports behind a
    // "foreign writer" refusal — the stamped commit is provably ours,
    // and the next export self-heals with a full re-export
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    Files.write(logDir.resolve(f"${1L}%020d.json"),
      ("""{"commitInfo":{"operation":"GRAFT EXPORT"}}""" + "\n")
        .getBytes("UTF-8")) // simulated crashed own commit beyond marker
    val v = DeltaExport.writeDeltaLog(t) // NO force needed
    assert(v === CommitLog.latestVersion(t).get)
    // full re-export: single fresh v0, the orphaned v1 swept
    assert(!Files.exists(logDir.resolve(f"${1L}%020d.json")))
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String].collect()
    assert(adds.map(DeltaPaths.decode).toSet
      === CommitLog.manifest(t, v).files.toSet)
  }

  test("a large FULL export checkpoints immediately: a foreign cold load " +
      "(and our import) reads one parquet, not an O(table) JSON parse") {
    val t = freshTable()
    spark.conf.set("spark.graft.export.checkpointAt", "2")
    try {
      CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
      CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
      CommitLog.commit(Seq((3L, 3.0)).toDF("id", "v"), t, "append")
      DeltaExport.writeDeltaLog(t)
      val logDir = Paths.get(t).resolve("_delta_log")
      val ckpt = logDir.resolve(f"${0L}%020d.checkpoint.parquet")
      assert(Files.isRegularFile(ckpt), "full export above threshold must checkpoint")
      assert(new String(Files.readAllBytes(logDir.resolve("_last_checkpoint")),
        "UTF-8").contains("\"version\":0"))
      // a foreign-style copy with ONLY the checkpoint (no JSON) imports
      val dst = graft.SparkSpec.tmpPath("graft_dexp_fullck").resolve("t")
      val srcDir = Paths.get(t)
      CommitLog.manifest(t, 3L).files.foreach { rel =>
        val d = dst.resolve(rel)
        Files.createDirectories(d.getParent)
        Files.copy(srcDir.resolve(rel), d)
      }
      Files.createDirectories(dst.resolve("_delta_log"))
      Files.copy(ckpt, dst.resolve("_delta_log")
        .resolve(f"${0L}%020d.checkpoint.parquet"))
      CommitLog.convert(spark, dst.toString)
      assert(CommitLog.read(spark, dst.toString).select("id").as[Long]
        .collect().sorted === Seq(1L, 2L, 3L))
    } finally spark.conf.unset("spark.graft.export.checkpointAt")
  }

  test("a CONVERT-imported foreign footer without numNulls exports stats " +
      "whose nullCount OMITS the column — never the -1 sentinel " +
      "(round-14 VERDICT item 1)") {
    val t = freshTable()
    Files.createDirectories(Paths.get(t))
    // foreign writer with statistics DISABLED: the footer's column chunks
    // carry EMPTY Statistics (numNulls unset, no bounds) — FileStats
    // records nulls = -1, its 'unknown' sentinel
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional binary s (STRING); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(
      Paths.get(t).resolve("foreign.parquet").toUri)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(p, conf))
      .withConf(conf).withType(schema).withStatisticsEnabled(false).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    (1 to 5).foreach { i =>
      val g = gf.newGroup()
      g.add("id", i.toLong)
      if (i != 3) g.add("s", s"v$i")
      w.write(g)
    }
    w.close()
    CommitLog.convert(spark, t)
    // the sidecar pins the sentinel path: nulls unknown, footer total known
    val m = CommitLog.manifest(t, 1L)
    val dir = m.files.head.split("/").take(2).mkString("/")
    val sc = FileStats.readSidecar(Paths.get(t).resolve(dir))(
      m.files.head.stripPrefix(dir + "/"))
    assert(sc("id").nulls === -1L)
    assert(sc("id").rows === 5L)
    DeltaExport.writeDeltaLog(t)
    val statsStr = spark.read.json(logFile(t)).filter(col("add").isNotNull)
      .select("add.stats").as[String].head()
    assert(statsStr != null, "numRecords is still provable from the footer total")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(statsStr)
    // exact despite the stats-less chunks: numRecords is a block-header fact
    assert(node.path("numRecords").asLong() === 5L)
    // NO nullCount entries (every column's numNulls is unset) and no
    // negative value anywhere — a reader serving COUNT(col) as
    // numRecords − nullCount can never derive a wrong answer
    import scala.jdk.CollectionConverters._
    assert(!node.path("nullCount").properties().iterator().hasNext,
      s"sentinel leaked into nullCount: $statsStr")
    assert(!node.path("minValues").properties().iterator().hasNext)
    node.path("nullCount").properties().asScala
      .foreach(e => assert(e.getValue.asLong() >= 0L))
  }

  test("partial-coverage column stats export numRecords but neither bounds " +
      "nor nullCount for the uncovered column; pruning and metadata counts " +
      "stand down too (round-14 ADVICE)") {
    import org.apache.spark.sql.sources.GreaterThan
    val t = freshTable()
    CommitLog.commit(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
      .coalesce(1), t, "append")
    val m = CommitLog.manifest(t, 1L)
    val dir = m.files.head.split("/").take(2).mkString("/")
    val sidecar = Paths.get(t).resolve(dir).resolve(FileStats.SidecarName)
    // simulate a stats-less row group on `v` alone: values < rows (the
    // shape a foreign multi-group file with one bare chunk produces)
    val doctored = new String(Files.readAllBytes(sidecar), "UTF-8")
      .split("\n").map { line =>
        val f = line.split("\t", -1)
        if (f(1) == "v") { f(6) = "2"; f.mkString("\t") } else line
      }.mkString("\n")
    Files.write(sidecar, doctored.getBytes("UTF-8"))
    // pruning conservatism: partial bounds may NOT drop the file
    assert(CommitLog.pruneFiles(t, m, Seq(GreaterThan("v", 1000.0))) === m.files)
    assert(CommitLog.pruneFiles(t, m, Seq(GreaterThan("id", 1000L))).isEmpty)
    // metadata COUNT(v) refuses (values/nulls are partial sums); COUNT(*)
    // stays exact from the footer total
    assert(CommitLog.metaRowCount(t) === Some(3L))
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("v")).isEmpty)
    DeltaExport.writeDeltaLog(t)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      spark.read.json(logFile(t)).filter(col("add").isNotNull)
        .select("add.stats").as[String].head())
    assert(node.path("numRecords").asLong() === 3L)
    assert(node.path("minValues").path("id").asLong() === 1L)
    assert(node.path("nullCount").path("id").asLong() === 0L)
    assert(node.path("minValues").path("v").isMissingNode, "partial bound exported")
    assert(node.path("maxValues").path("v").isMissingNode)
    assert(node.path("nullCount").path("v").isMissingNode)

    // and per-column footer row counts that DISAGREE refuse loudly — a
    // corrupt sidecar must not export a plausible-but-wrong numRecords
    val t2 = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v").coalesce(1), t2, "append")
    val m2 = CommitLog.manifest(t2, 1L)
    val dir2 = m2.files.head.split("/").take(2).mkString("/")
    val sidecar2 = Paths.get(t2).resolve(dir2).resolve(FileStats.SidecarName)
    val corrupt = new String(Files.readAllBytes(sidecar2), "UTF-8")
      .split("\n").map { line =>
        val f = line.split("\t", -1)
        if (f(1) == "v") { f(8) = "999"; f.mkString("\t") } else line
      }.mkString("\n")
    Files.write(sidecar2, corrupt.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaExport.writeDeltaLog(t2))
    assert(e.getMessage.contains("disagree"))
  }

  test("a legacy (pre-row-count) sidecar exports NO stats blob: numRecords " +
      "is unprovable without the footer total") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").coalesce(1),
      t, "append")
    val m = CommitLog.manifest(t, 1L)
    val dir = m.files.head.split("/").take(2).mkString("/")
    val sidecar = Paths.get(t).resolve(dir).resolve(FileStats.SidecarName)
    // strip to the 8-field legacy form (drop the rows column)
    val legacy = new String(Files.readAllBytes(sidecar), "UTF-8")
      .split("\n").map(_.split("\t", -1).take(8).mkString("\t")).mkString("\n")
    Files.write(sidecar, legacy.getBytes("UTF-8"))
    DeltaExport.writeDeltaLog(t)
    val raw = new String(Files.readAllBytes(Paths.get(logFile(t))), "UTF-8")
    assert(!raw.contains("\"stats\""),
      "legacy sidecar must export no stats blob (historical max-of-values " +
        "under-counted foreign files with stats-less chunks)")
  }

  test("timestamp/date bounds export in Delta's ISO forms; a foreign " +
      "reader's one-day window keeps file skipping on the time-clustered " +
      "table (round-14 VERDICT item 3)") {
    val t = freshTable()
    // 4 single-file commits of one UTC day each — the reference's ingest
    // layout and its dominant filter shape
    (0 until 4).foreach { d =>
      val rows = (0 until 24).map { h =>
        (d * 24L + h,
          java.time.Instant.parse(f"2024-01-${d + 1}%02dT$h%02d:00:00Z"),
          java.sql.Date.valueOf(f"2024-01-${d + 1}%02d"))
      }
      CommitLog.commit(rows.toDF("id", "ets", "dt")
        .withColumn("nts", lit("2024-01-05T06:07:08").cast("timestamp_ntz"))
        .coalesce(1), t, "append")
    }
    DeltaExport.writeDeltaLog(t)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = spark.read.json(logFile(t)).filter(col("add").isNotNull)
      .select("add.stats").as[String].collect().toSeq.map(om.readTree)
    assert(parsed.size === 4)
    val day1 = parsed.find(_.path("minValues").path("id").asLong() == 0L).get
    // micros-precision ISO with Z for TZ timestamps, none for NTZ, plain
    // ISO dates — byte-stable forms a foreign JSON stats parser accepts
    assert(day1.path("minValues").path("ets").asText()
      === "2024-01-01T00:00:00.000000Z")
    assert(day1.path("maxValues").path("ets").asText()
      === "2024-01-01T23:00:00.000000Z")
    assert(day1.path("minValues").path("dt").asText() === "2024-01-01")
    assert(day1.path("minValues").path("nts").asText()
      === "2024-01-05T06:07:08.000000")
    // the skipping derivation a foreign reader runs: a one-day window
    // [2024-01-02, 2024-01-03) admits exactly 1 of 4 files
    val lo = java.time.Instant.parse("2024-01-02T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-03T00:00:00Z")
    val admitted = parsed.filter { n =>
      val mn = java.time.Instant.parse(n.path("minValues").path("ets").asText())
      val mx = java.time.Instant.parse(n.path("maxValues").path("ets").asText())
      !mx.isBefore(lo) && mn.isBefore(hi)
    }
    assert(admitted.size === 1, "one-day window must keep 1 of 4 files")
    // Spark-as-foreign-reader: from_json with the table's types parses the
    // exported forms to the exact original values
    val back = spark.range(1).select(from_json(
      lit(day1.path("minValues").toString),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ets",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("dt",
          org.apache.spark.sql.types.DateType)))).as("s"))
      .select("s.ets", "s.dt")
      .as[(java.sql.Timestamp, java.sql.Date)].head()
    assert(back._1.toInstant === java.time.Instant.parse("2024-01-01T00:00:00Z"))
    assert(back._2 === java.sql.Date.valueOf("2024-01-01"))
  }

  test("a CONVERT-imported foreign MICROS timestamp exports ISO bounds " +
      "(unit-proven exact — delta-rs writes MICROS, so converted reference " +
      "tables keep time skipping); a NANOS one stays unexported (widened)") {
    // MICROS foreign file (Spark's writer under a tmp dir, adopted as
    // foreign: CONVERT marks its strings inexact, but the ts unit proof
    // is per-chunk and writer-independent)
    val t = freshTable()
    val tmp = graft.SparkSpec.tmpPath("graft_dexp_fts")
    Seq((1L, java.time.Instant.parse("2024-01-01T00:00:00Z")))
      .toDF("id", "ets").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val st = Files.list(tmp)
    val part =
      try st.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      finally st.close()
    Files.createDirectories(Paths.get(t))
    Files.move(part, Paths.get(t).resolve("foreign.parquet"))
    CommitLog.convert(spark, t) // exactStrings=false: foreign writer config
    DeltaExport.writeDeltaLog(t)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      spark.read.json(logFile(t)).filter(col("add").isNotNull)
        .select("add.stats").as[String].head())
    assert(node.path("numRecords").asLong() === 1L)
    assert(node.path("minValues").path("id").asLong() === 1L)
    assert(node.path("minValues").path("ets").asText()
      === "2024-01-01T00:00:00.000000Z",
      "MICROS foreign ts bounds are unit-exact and must export")

    // NANOS foreign file: unit normalization floor/ceil-WIDENS the bounds
    // — valid for skipping, NOT the tight stats Delta readers serve
    // metadata MIN/MAX from, so export refuses them
    val t2 = freshTable()
    Files.createDirectories(Paths.get(t2))
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message t { required int64 id; required int64 ets (TIMESTAMP(NANOS,true)); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val p = new org.apache.hadoop.fs.Path(
      Paths.get(t2).resolve("foreign.parquet").toUri)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(p, conf))
      .withConf(conf).withType(schema).build()
    val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
    (1 to 3).foreach { i =>
      val g = gf.newGroup()
      g.add("id", i.toLong)
      g.add("ets", 1704067200000000000L + i * 1000000321L) // non-whole micros
      w.write(g)
    }
    w.close()
    CommitLog.convert(spark, t2)
    DeltaExport.writeDeltaLog(t2)
    val node2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      spark.read.json(logFile(t2)).filter(col("add").isNotNull)
        .select("add.stats").as[String].head())
    assert(node2.path("numRecords").asLong() === 3L)
    assert(node2.path("minValues").path("ets").isMissingNode,
      "NANOS-widened ts bounds must stay unexported")
  }

  test("nested struct fields carry columnMapping id + physicalName; " +
      "maxColumnId counts every stamped field (round-14 ADVICE)") {
    val t = freshTable()
    val df = Seq((1L, 2.0, "x", 0.5), (2L, 3.0, "y", 0.7))
      .toDF("id", "lat", "name", "x")
      .select(col("id"), struct(col("lat"), col("name")).as("geo"),
        array(struct(col("x"))).as("tags"),
        (col("id") * 2.0).as("v"))
    CommitLog.commit(df, t, "append")
    CommitLog.renameColumn(t, "v", "value")
    DeltaExport.writeDeltaLog(t)
    val meta = spark.read.json(logFile(t)).filter(col("metaData").isNotNull)
      .select("metaData.schemaString",
        "metaData.configuration.`delta.columnMapping.maxColumnId`")
      .as[(String, String)].head()
    val parsed = DataType.fromJson(meta._1).asInstanceOf[StructType]
    // every field — nested included — carries the id+physicalName pair
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def walk(st: StructType, path: String): Unit = st.fields.foreach { f =>
      assert(f.metadata.contains("delta.columnMapping.id"),
        s"field $path${f.name} lacks a mapping id")
      assert(f.metadata.contains("delta.columnMapping.physicalName"),
        s"field $path${f.name} lacks a physicalName")
      ids += f.metadata.getLong("delta.columnMapping.id")
      f.dataType match {
        case s: StructType => walk(s, s"$path${f.name}.")
        case a: org.apache.spark.sql.types.ArrayType =>
          a.elementType match {
            case s: StructType => walk(s, s"$path${f.name}[].")
            case _ => ()
          }
        case _ => ()
      }
    }
    walk(parsed, "")
    // top-level: id, geo, tags, value; nested: geo.{lat,name}, tags[].x
    assert(ids.size === 7)
    assert(ids.toSet.size === 7, s"mapping ids must be unique: $ids")
    assert(meta._2 === "7", "maxColumnId must count every stamped field")
    // nested physical names are identity; the renamed top-level maps back
    val geo = parsed.fields.find(_.name == "geo").get
    geo.dataType.asInstanceOf[StructType].fields.foreach { nf =>
      assert(nf.metadata.getString("delta.columnMapping.physicalName") === nf.name)
    }
    assert(parsed.fields.find(_.name == "value").get.metadata
      .getString("delta.columnMapping.physicalName") === "v")
    // roundtrip: our own import accepts identity-stamped nested fields
    val dst = graft.SparkSpec.tmpPath("graft_dexp_nest").resolve("t")
    val srcDir = Paths.get(t)
    CommitLog.manifest(t, CommitLog.latestVersion(t).get).files.foreach { rel =>
      val d = dst.resolve(rel)
      Files.createDirectories(d.getParent)
      Files.copy(srcDir.resolve(rel), d)
    }
    Files.createDirectories(dst.resolve("_delta_log"))
    Files.copy(srcDir.resolve("_delta_log").resolve(f"${0L}%020d.json"),
      dst.resolve("_delta_log").resolve(f"${0L}%020d.json"))
    CommitLog.convert(spark, dst.toString)
    val back = CommitLog.read(spark, dst.toString)
    assert(back.schema.fieldNames.toSeq === Seq("id", "geo", "tags", "value"))
    assert(back.select("value").as[Double].collect().sorted === Seq(2.0, 4.0))
    assert(back.select("geo.lat").as[Double].collect().sorted === Seq(2.0, 3.0))
  }

  test("SQL surface: EXPORT <table> TO DELTA [VERSION AS OF]") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
    val out = spark.sql(s"EXPORT '$t' TO DELTA").as[Long].head()
    assert(out === 2L)
    assert(Files.exists(Paths.get(logFile(t))))
    // pinned-version export serves the OLD snapshot to foreign readers
    assert(spark.sql(s"EXPORT '$t' TO DELTA VERSION AS OF 1").as[Long].head() === 1L)
    val adds = spark.read.json(logFile(t))
      .filter(col("add").isNotNull).select("add.path").as[String].collect()
    assert(adds.toSet === CommitLog.manifest(t, 1L).files.toSet)
    // NATIVE DV option routes through the deletionVectors feature path
    val t2 = freshTable()
    CommitLog.commit((1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .coalesce(1), t2, "append")
    CommitLog.deleteDv(spark, t2, col("id") <= 2L)
    assert(spark.sql(s"EXPORT '$t2' TO DELTA NATIVE DV").as[Long].head() === 2L)
    val dvAdds = spark.read.json(logFile(t2)).filter(col("add").isNotNull)
      .filter(col("add.deletionVector").isNotNull).count()
    assert(dvAdds === 1L)
    assert(!Files.exists(Paths.get(t2).resolve("_graft_export_cow")))
  }
}
