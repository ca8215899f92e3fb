package graft.tx

import graft.SparkSpec
import org.apache.spark.sql.streaming.Trigger

/** The `_stream` mirror under a running subscriber: pruning what the
  * subscriber's checkpoint says it consumed must never take a row it has
  * not written yet, and a restart after pruning resumes without loss. */
class MirrorPruneSpec extends SparkSpec {
  import spark.implicits._

  test("a running mirrored subscriber and pruneMirrorConsumed together: " +
      "the subscriber's output holds every committed row exactly once") {
    val t = tmpPath("graft_mirror").resolve("t").toString
    val ck = tmpDir("graft_mirror_ck")
    val out = tmpDir("graft_mirror_out")
    def commit(id: Long): Unit =
      CommitLog.commit(Seq((id, s"s$id")).toDF("id", "s"), t, "append", mirror = true)
    def subscribe(trigger: Trigger) =
      CommitLog.readStream(spark, t).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(trigger).start()
    commit(0L)
    var pruned = 0L
    val q = subscribe(Trigger.ProcessingTime(50))
    try {
      (1L to 12L).foreach { id =>
        commit(id)
        pruned += CommitLog.pruneMirrorConsumed(t, ck)
      }
      q.processAllAvailable()
      pruned += CommitLog.pruneMirrorConsumed(t, ck)
    } finally q.stop()
    assert(pruned > 0L)
    // a restart after pruning, with one more commit to pick up
    commit(13L)
    val again = subscribe(Trigger.AvailableNow())
    again.awaitTermination(60000)
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(ids === (0L to 13L))
  }
}
