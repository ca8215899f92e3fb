package graft.tx

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Crash points enumerated through the file seam: each operation runs
  * once per mutating op it makes, on a fresh copy of one 2-commit table,
  * with a [[CrashingIO]] that dies at that op. Whatever the crash point,
  * the table must be recoverable: the latest snapshot holds the pre-op or
  * the post-op rows, fsckClean leaves no missing file, the change-feed
  * repair converges to a clean fsck, and a crash that left the pre-op
  * snapshot retries to the post-op rows. */
class TxCrashSpec extends SparkSpec {
  import spark.implicits._

  private val io = new TxIO

  /** A 2-commit table (both appends) built once per spec. */
  private lazy val base: Path = {
    val t = tmpPath("graft_crash_base").resolve("t")
    Seq((1L, "a"), (2L, "b")).foreach { r =>
      CommitLog.commit(Seq(r).toDF("id", "s").coalesce(1), t.toString, "append")
    }
    t
  }

  private def copyOfBase(): Path = {
    val dst = tmpPath("graft_crash").resolve("t")
    io.walk(base).foreach { p =>
      val d = dst.resolve(base.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    }
    dst
  }

  private def rows(t: Path): Seq[(Long, String)] =
    CommitLog.read(spark, t.toString).as[(Long, String)].collect().toSeq.sorted

  private def enumerate(op: String => Unit): Unit = {
    val pre = rows(base)
    val counted = copyOfBase()
    val counter = new CrashingIO(counted)
    CrashingIO.installed(counter)(op(counted.toString))
    val post = rows(counted)
    assert(post !== pre)
    assert(counter.ops > 0)
    (1L to counter.ops).foreach { n =>
      val t = copyOfBase()
      val fake = new CrashingIO(t, crashAt = n)
      try CrashingIO.installed(fake)(op(t.toString))
      catch { case _: CrashingIO.Crash => () }
      assert(fake.crashed, s"op $n of ${counter.ops} never ran")
      val after = rows(t)
      assert(after === pre || after === post, s"crash at op $n")
      CommitLog.fsckClean(t.toString, minAgeMillis = 0, force = true)
      assert(CommitLog.fsck(t.toString).missingFiles.isEmpty, s"crash at op $n")
      CommitLog.repairCdc(t.toString)
      val report = CommitLog.fsck(t.toString)
      assert(report.clean, s"crash at op $n: $report")
      if (after === pre) {
        op(t.toString)
        assert(rows(t) === post, s"retry after a crash at op $n")
      }
    }
  }

  test("every crash point of a mirrored append recovers") {
    enumerate(t => CommitLog.commit(Seq((3L, "c")).toDF("id", "s").coalesce(1),
      t, "append"))
  }

  test("every crash point of a journaled overwrite recovers") {
    enumerate(t => CommitLog.commit(Seq((9L, "z")).toDF("id", "s").coalesce(1),
      t, "overwrite", cdc = true))
  }

  test("every crash point of a deletion-vector delete recovers") {
    enumerate(t => CommitLog.deleteDv(spark, t, col("id") === 2L))
  }
}
