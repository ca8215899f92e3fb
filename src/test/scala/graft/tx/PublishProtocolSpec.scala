package graft.tx

import java.nio.file.{FileAlreadyExistsException, Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** The publish seam (round-12 VERDICT item 7): every version claim must
  * flow through ONE pluggable [[PublishProtocol]], so an object-store
  * deployment swaps the exclusivity primitive (conditional PUT / lock
  * table) without touching the commit path. The spec proves (a) the POSIX
  * implementation honors the trait contract, (b) the seam is really the
  * only claim path, and (c) a lost race surfaced by ANY implementation
  * drives the caller's documented re-merge/retry behavior. */
class PublishProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_pub").resolve("t").toString

  test("POSIX contract: first claim wins; a second claim of the same slot " +
      "throws FileAlreadyExistsException and never modifies the winner") {
    val dir = graft.SparkSpec.tmpPath("graft_pub_unit")
    val target = dir.resolve("00000000000000000001.commit")
    val src1 = dir.resolve("tmp-1")
    val src2 = dir.resolve("tmp-2")
    Files.write(src1, "winner".getBytes("UTF-8"))
    Files.write(src2, "loser".getBytes("UTF-8"))
    PosixHardLinkPublish.publishExclusive(target, src1)
    assert(new String(Files.readAllBytes(target), "UTF-8") === "winner")
    intercept[FileAlreadyExistsException](
      PosixHardLinkPublish.publishExclusive(target, src2))
    // the winner's content is untouched, and the loser's src is intact
    // (the CALLER deletes it, per the contract)
    assert(new String(Files.readAllBytes(target), "UTF-8") === "winner")
    assert(Files.isRegularFile(src2))
  }

  test("the seam is the only claim path: appends, rewrites, and DML all " +
      "publish through the installed protocol") {
    val claims = new AtomicInteger(0)
    val original = CommitLog.publishProtocol
    CommitLog.publishProtocol = new PublishProtocol {
      override def publishExclusive(target: Path, src: Path): Unit = {
        claims.incrementAndGet()
        PosixHardLinkPublish.publishExclusive(target, src)
      }
    }
    try {
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
    } finally CommitLog.publishProtocol = original
  }

  test("a lost race reported by the protocol drives the documented " +
      "re-merge: the commit retries and both appends survive") {
    // an implementation that fakes ONE lost race on its first claim —
    // exactly the signal a conditional-PUT 412 would map to
    val fakeLosses = new AtomicInteger(1)
    val claims = new AtomicInteger(0)
    val original = CommitLog.publishProtocol
    CommitLog.publishProtocol = new PublishProtocol {
      override def publishExclusive(target: Path, src: Path): Unit = {
        claims.incrementAndGet()
        if (fakeLosses.getAndDecrement() > 0)
          throw new FileAlreadyExistsException(target.toString)
        PosixHardLinkPublish.publishExclusive(target, src)
      }
    }
    try {
      val t = freshTable()
      CommitLog.commit(Seq((1L, 1.0)).toDF("id", "v"), t, "append")
      // the first claim "lost"; the retry re-merged and won
      assert(claims.get() === 2)
      assert(CommitLog.latestVersion(t).isDefined)
      CommitLog.commit(Seq((2L, 2.0)).toDF("id", "v"), t, "append")
      assert(CommitLog.read(spark, t).select("id").as[Long].collect()
        .sorted === Seq(1L, 2L))
    } finally CommitLog.publishProtocol = original
  }
}
