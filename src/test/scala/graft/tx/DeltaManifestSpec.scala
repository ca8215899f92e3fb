package graft.tx

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Delta-encoded commit manifests + periodic checkpoints (round-11
  * VERDICT item 1 — the one `weak`): an append's manifest write is
  * O(delta), not O(total files); every [[CommitLog.CheckpointEvery]]-th
  * version (and any version whose delta would exceed its snapshot, e.g.
  * an overwrite) is a full self-contained checkpoint; readers reconstruct
  * delta versions against their predecessor; vacuum promotes the oldest
  * surviving delta to a checkpoint in place before cutting its chain. */
class DeltaManifestSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_deltaman").resolve("t").toString

  private def rawLines(t: String, v: Long): Seq[String] =
    new String(Files.readAllBytes(
      Paths.get(t).resolve("_graft_log").resolve(f"$v%020d.commit")),
      "UTF-8").split("\n", -1).toSeq

  private def isDelta(t: String, v: Long): Boolean =
    rawLines(t, v).head.split(" ").drop(1).exists(_.startsWith("delta="))

  test("appends delta-encode; every CheckpointEvery-th version checkpoints") {
    val t = freshTable()
    (1 to 20).foreach(i => CommitLog.commit(
      Seq((i.toLong, s"s$i")).toDF("id", "s"), t, "append", autoCompactEvery = 0))
    assert(!isDelta(t, 1)) // v1 has no predecessor
    (2 to 16).foreach(v => assert(isDelta(t, v), s"v$v should be a delta"))
    assert(!isDelta(t, 17), "v17 = 1 + CheckpointEvery must checkpoint")
    (18 to 20).foreach(v => assert(isDelta(t, v), s"v$v should be a delta"))

    // the write cost claim itself: a late append's manifest carries ONLY
    // its own add lines — O(delta) — while the snapshot spans 16 commits
    val adds16 = rawLines(t, 16).count(_.startsWith("add:"))
    assert(adds16 >= 1 && adds16 < CommitLog.manifest(t, 16).files.size,
      s"delta v16 carries $adds16 adds vs ${CommitLog.manifest(t, 16).files.size} total files")
    assert(rawLines(t, 16).count(_.startsWith("remove:")) === 0)

    // reconstruction equality across the whole chain, through a checkpoint
    (1 to 20).foreach { v =>
      assert(CommitLog.readAt(spark, t, v).count() === v.toLong, s"v$v")
    }
    assert(CommitLog.read(spark, t).as[(Long, String)].collect().map(_._1).sorted
      === (1L to 20L).toArray)
  }

  test("an overwrite auto-selects the checkpoint encoding; the chain restarts above it") {
    val t = freshTable()
    (1 to 4).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append",
      autoCompactEvery = 0))
    CommitLog.commit(Seq(100, 101).toDF("id"), t, "overwrite") // v5
    assert(!isDelta(t, 5), "a full file replacement is smaller as a checkpoint")
    CommitLog.commit(Seq(102).toDF("id"), t, "append") // v6: delta on v5
    assert(isDelta(t, 6))
    assert(CommitLog.manifest(t, 6).checkpointVersion === 5L)
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === Seq(100, 101, 102))
    assert(CommitLog.readAt(spark, t, 4).count() === 4L)
  }

  test("schema-/constraint-/DV-only commits are O(1)-line deltas") {
    val t = freshTable()
    CommitLog.commit((1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
      .repartition(8), t, "append")
    val nFiles = CommitLog.manifest(t, 1).files.size
    assert(nFiles >= 8)
    // constraint registration: zero file lines in the commit body
    Constraints.add(spark, t, "pos", "v >= 0")
    val v2 = CommitLog.latestVersion(t).get
    assert(isDelta(t, v2))
    assert(!rawLines(t, v2).exists(l =>
      l.startsWith("add:") || l.startsWith("remove:")))
    assert(rawLines(t, v2).exists(_.startsWith("check:")))
    // trickle DV delete: one dvadd line, no file churn
    CommitLog.deleteDv(spark, t, col("id") === 7L)
    val v3 = CommitLog.latestVersion(t).get
    assert(isDelta(t, v3))
    assert(rawLines(t, v3).count(_.startsWith("dvadd:")) === 1)
    assert(!rawLines(t, v3).exists(_.startsWith("add:")))
    // rename: schema-only delta, files untouched by reference (renames
    // 'id', not 'v' — the CHECK constraint pins that one)
    CommitLog.renameColumn(t, "id", "ident")
    val v4 = CommitLog.latestVersion(t).get
    assert(isDelta(t, v4))
    assert(rawLines(t, v4).exists(_.startsWith("rename:")))
    assert(CommitLog.manifest(t, v4).files === CommitLog.manifest(t, 1).files)
    // the reconstructed snapshot is still exact
    assert(CommitLog.read(spark, t).agg(sum("v")).as[Double].head()
      === (1 to 50).filter(_ != 7).map(_.toDouble).sum)
  }

  test("vacuum promotes the oldest kept delta to a checkpoint in place " +
      "(mtime preserved for TIMESTAMP AS OF)") {
    val t = freshTable()
    (1 to 6).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append",
      autoCompactEvery = 0))
    assert(isDelta(t, 5))
    val mtimeBefore = CommitLog.stamp(t, 5L).get.mtime
    CommitLog.vacuum(t, keepVersions = 2, minAgeMillis = 0, force = true)
    assert(CommitLog.versions(t) === Seq(5L, 6L))
    // v5 was a delta whose bases are gone — it must now be a checkpoint
    assert(!isDelta(t, 5))
    assert(CommitLog.stamp(t, 5L).get.mtime === mtimeBefore,
      "promotion must not move the version's commit time")
    // and both survivors still read exactly
    assert(CommitLog.readAt(spark, t, 5L).count() === 5L)
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 6))
    // v6 (a delta on the promoted v5) still parses
    assert(isDelta(t, 6))
  }

  test("vacuum keepVersions=1 promotes the LATEST delta; appends chain on top") {
    val t = freshTable()
    (1 to 6).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append",
      autoCompactEvery = 0))
    CommitLog.vacuum(t, keepVersions = 1, minAgeMillis = 0, force = true)
    assert(CommitLog.versions(t) === Seq(6L))
    assert(!isDelta(t, 6))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 6))
    CommitLog.commit(Seq(7).toDF("id"), t, "append", autoCompactEvery = 0)
    assert(isDelta(t, 7))
    assert(CommitLog.manifest(t, 7L).checkpointVersion === 6L)
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 7))
  }

  test("crash between vacuum's promote and its manifest drops leaves a fully " +
      "readable log; a re-vacuum converges") {
    val t = freshTable()
    (1 to 6).foreach(i => CommitLog.commit(Seq(i).toDF("id"), t, "append",
      autoCompactEvery = 0))
    val logDir = Paths.get(t).resolve("_graft_log")
    // snapshot the pre-vacuum commit files
    val saved = Files.list(logDir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".commit"))
      .map(p => p.getFileName.toString ->
        Files.readAllBytes(p)).toMap
    // age-gated vacuum: manifests drop (and the boundary promotes) but no
    // data file falls — exactly the promote-then-drop half of the protocol
    CommitLog.vacuum(t, keepVersions = 2)
    assert(CommitLog.versions(t) === Seq(5L, 6L))
    assert(!isDelta(t, 5))
    // resurrect the dropped commit files: the on-disk state is now what a
    // crash BETWEEN the promote and the drops would leave — a checkpointed
    // boundary version coexisting with its (stale, still-valid) delta chain
    saved.foreach { case (name, bytes) =>
      val p = logDir.resolve(name)
      if (!Files.exists(p)) Files.write(p, bytes)
    }
    assert(CommitLog.versions(t) === (1L to 6L))
    (1 to 6).foreach(v => assert(CommitLog.readAt(spark, t, v).count() === v.toLong))
    assert(CommitLog.fsck(t).clean)
    // re-running vacuum completes the interrupted cut
    CommitLog.vacuum(t, keepVersions = 2, minAgeMillis = 0, force = true)
    assert(CommitLog.versions(t) === Seq(5L, 6L))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 6))
  }

  test("pre-delta (all-checkpoint) logs read and extend unchanged") {
    val t = freshTable()
    CommitLog.commit(Seq(1, 2).toDF("id"), t, "append")
    CommitLog.commit(Seq(3).toDF("id"), t, "append")
    // rewrite v2 in the legacy full-snapshot encoding (what a pre-delta
    // engine wrote): reader must treat it as its own checkpoint
    val m2 = CommitLog.manifest(t, 2L)
    val legacy = (Seq(m2.mode, m2.schema.json, "") ++ m2.files).mkString("\n")
    val p = Paths.get(t).resolve("_graft_log").resolve(f"${2L}%020d.commit")
    val tmp = p.getParent.resolve(".tmp-legacy")
    Files.write(tmp, legacy.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    assert(!isDelta(t, 2))
    assert(CommitLog.manifest(t, 2L).checkpointVersion === 2L)
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === Seq(1, 2, 3))
    // appends on top delta against it
    CommitLog.commit(Seq(4).toDF("id"), t, "append")
    assert(isDelta(t, 3))
    assert(CommitLog.read(spark, t).as[Int].collect().sorted === (1 to 4))
  }
}
