package graft.tx

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The publish seam (round-12 VERDICT item 7): every version claim must
  * flow through ONE pluggable [[TxIO.claim]], so an object-store
  * deployment swaps the exclusivity primitive (conditional PUT / lock
  * table) without touching the commit path. The spec proves (a) the POSIX
  * implementation honors the claim contract, (b) the seam is really the
  * only claim path — and the only mutating file path of `graft.tx` — and
  * (c) a lost race surfaced by ANY implementation drives the caller's
  * documented re-merge/retry behavior. */
class PublishProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_pub").resolve("t").toString

  test("POSIX contract: first claim wins; a second claim of the same slot " +
      "returns false and never modifies the winner") {
    val dir = graft.SparkSpec.tmpPath("graft_pub_unit")
    val target = dir.resolve("00000000000000000001.commit")
    val posix = new TxIO
    assert(posix.claim(target, "winner".getBytes("UTF-8")))
    assert(new String(Files.readAllBytes(target), "UTF-8") === "winner")
    // the lost claim reports false instead of throwing
    assert(!posix.claim(target, "loser".getBytes("UTF-8")))
    // the winner's content is untouched, and each claim removed its own
    // tmp, won or lost
    assert(new String(Files.readAllBytes(target), "UTF-8") === "winner")
    assert(posix.list(dir).map(_.getFileName.toString) ===
      Seq("00000000000000000001.commit"))
  }

  test("the seam is the only claim path: appends, rewrites, and DML all " +
      "publish through the installed protocol") {
    val claims = new AtomicInteger(0)
    CrashingIO.installed(new TxIO {
      override def claim(target: Path, bytes: Array[Byte]): Boolean = {
        claims.incrementAndGet()
        super.claim(target, bytes)
      }
    }) {
      val t = freshTable()
      CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")   // v1
      CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")   // v2
      CommitLog.delete(spark, t,
        org.apache.spark.sql.functions.col("id") === 1L)              // v3
      CommitLog.compact(spark, t)                                     // v4
      assert(CommitLog.latestVersion(t) === Some(4L))
      assert(claims.get() === 4,
        s"expected every version claim through the seam, saw ${claims.get()}")
      assert(CommitLog.read(spark, t).select("id").as[Long].collect()
        .sorted === Seq(2L))
    }
  }

  test("a lost race reported by the protocol drives the documented " +
      "re-merge: the commit retries and both appends survive") {
    // an implementation that fakes ONE lost race on its first claim —
    // exactly the signal a conditional-PUT 412 would map to
    val fakeLosses = new AtomicInteger(1)
    val claims = new AtomicInteger(0)
    CrashingIO.installed(new TxIO {
      override def claim(target: Path, bytes: Array[Byte]): Boolean = {
        claims.incrementAndGet()
        fakeLosses.getAndDecrement() <= 0 && super.claim(target, bytes)
      }
    }) {
      val t = freshTable()
      CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
      // the first claim "lost"; the retry re-merged and won
      assert(claims.get() === 2)
      assert(CommitLog.latestVersion(t).isDefined)
      CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
      assert(CommitLog.read(spark, t).select("id").as[Long].collect()
        .sorted === Seq(1L, 2L))
    }
  }

  test("TxIO is the only mutating file path of graft.tx, and the only " +
      "tree delete in the engine") {
    val main = java.nio.file.Paths.get("src/main/scala")
    val io = new TxIO
    val sources = io.walk(main).filter(_.toString.endsWith(".scala"))
    assert(sources.size > 50, s"source scan found only ${sources.size} files")
    def body(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val mutating = ("""\bFiles\s*\.\s*(write|move|createLink|copy|delete|""" +
      """deleteIfExists|createDirectories|createDirectory|setLastModifiedTime)\b""").r
    val txOffenders = sources
      .filter(p => p.getParent.endsWith("graft/tx") &&
        p.getFileName.toString != "TxIO.scala")
      .flatMap(p => mutating.findAllIn(body(p)).map(m => s"${p.getFileName}: $m"))
    assert(txOffenders.isEmpty,
      s"graft.tx must mutate files through TxIO only: ${txOffenders.mkString(", ")}")
    val treeDeletes = """\bdef\s+(deleteTree|deleteRecursively)\b""".r
    val treeOffenders = sources
      .filter(_.getFileName.toString != "TxIO.scala")
      .filter(p => treeDeletes.findFirstIn(body(p)).isDefined)
    assert(treeOffenders.isEmpty,
      s"tree deletes outside TxIO: ${treeOffenders.mkString(", ")}")
  }

  test("the stream start anchor is first-writer-wins: a starter that loses " +
      "the claim returns the anchor already stored") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
    val meta = graft.SparkSpec.tmpPath("graft_anchor")
    // a competing starter stores its anchor just before this one claims
    val source = CrashingIO.installed(new TxIO {
      override def claim(target: Path, bytes: Array[Byte]): Boolean = {
        if (target.getFileName.toString == "graft-start")
          Files.write(target, "9".getBytes("UTF-8"))
        super.claim(target, bytes)
      }
    }) {
      new graft.sources.GraftSourceProvider().createSource(spark.sqlContext,
        meta.toString, None, "graft", Map("path" -> t))
    }
    val stored = new String(Files.readAllBytes(meta.resolve("graft-start")), "UTF-8")
    assert(stored === "9")
    assert(source.toString.endsWith(s" from v$stored]"), source.toString)
  }
}
