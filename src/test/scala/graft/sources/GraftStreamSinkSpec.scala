package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tx.CommitLog

/** `df.writeStream.format("graft")` — every micro-batch is one
  * exactly-once commit-log transaction; merge-keyed sinks apply batches
  * as upserts (the CDC-apply shape); Complete mode overwrites per batch.
  * The input side uses the graft STREAMING SOURCE, so these are full
  * graft→graft streaming round-trips. */
class GraftStreamSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, rows: Seq[(Long, String, Double)]): String = {
    val table = tmpDir(prefix)
    new java.io.File(table).delete()
    CommitLog.commit(rows.toDF("id", "typ", "value"), table, "append")
    table
  }

  test("graft-to-graft streaming replication is exactly-once across restarts") {
    val src = freshTable("gsk_repl_src", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val dst = tmpDir("gsk_repl_dst"); new java.io.File(dst).delete()
    val ckpt = tmpDir("gsk_repl_ck")
    def run() = spark.readStream.format("graft")
      .option("startingVersion", "earliest").load(src)
      .filter(col(CommitLog.ChangeTypeCol) === "insert")
      .select("id", "typ", "value")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .start(dst)
    val q1 = run()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(CommitLog.read(spark, dst).select("id").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L))
    // append while down; the restarted query must apply it exactly once
    CommitLog.commit(Seq((3L, "c", 3.0)).toDF("id", "typ", "value"), src, "append")
    val q2 = run()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(CommitLog.read(spark, dst).select("id").as[Long].collect().sorted
      .toSeq === Seq(1L, 2L, 3L))
  }

  test("merge-keyed sink applies batches as upserts (CDC-apply)") {
    val src = freshTable("gsk_mrg_src", Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val dst = tmpDir("gsk_mrg_dst"); new java.io.File(dst).delete()
    val ckpt = tmpDir("gsk_mrg_ck")
    def run() = spark.readStream.format("graft")
      .option("startingVersion", "earliest").load(src)
      .filter(col(CommitLog.ChangeTypeCol).isin("insert", "update_postimage"))
      .select("id", "typ", "value")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("mergeKeys", "id")
      .start(dst)
    val q1 = run()
    try {
      q1.processAllAvailable()
      // an upsert lands in the source; the sink must apply it by key
      CommitLog.mergeDv(spark, src,
        Seq((2L, "b", 99.0), (4L, "d", 4.0)).toDF("id", "typ", "value"),
        Seq("id"))
      q1.processAllAvailable()
      val got = CommitLog.read(spark, dst).select("id", "value")
        .as[(Long, Double)].collect().sortBy(_._1)
      assert(got.toSeq === Seq((1L, 1.0), (2L, 99.0), (4L, 4.0)))
    } finally q1.stop()
  }

  test("invalid option combinations refuse at start, not mid-stream") {
    val src = freshTable("gsk_bad_src", Seq((1L, "a", 1.0)))
    def start(opts: Map[String, String], mode: String) = {
      var w = spark.readStream.format("graft")
        .option("startingVersion", "earliest").load(src)
        .filter(col(CommitLog.ChangeTypeCol) === "insert")
        .select("id", "typ", "value")
        .writeStream.format("graft").outputMode(mode)
        .option("checkpointLocation", tmpDir("gsk_bad_ck"))
      opts.foreach { case (k, v) => w = w.option(k, v) }
      w.start(tmpDir("gsk_bad_dst") + "_t")
    }
    // cdc journaling needs the overwrite (Complete) shape
    val e1 = intercept[Exception](start(Map("cdc" -> "true"), "append"))
    assert(e1.getMessage.contains("cdc"))
    // the retired mirror option refuses, naming the stream that replaced it
    val e2 = intercept[IllegalArgumentException](
      start(Map("mergeKeys" -> "id", "mirror" -> "true"), "append"))
    assert(e2.getMessage.contains("readStream.format(\"graft\")"))
    // Complete + mergeKeys would strand vanished keys
    val e3 = intercept[Exception](start(Map("mergeKeys" -> "id"), "complete"))
    assert(e3.getMessage.contains("Complete"))
  }

  test("Update mode refuses without mergeKeys; Complete mode overwrites per batch") {
    val src = freshTable("gsk_cmp_src", Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0)))
    val dst = tmpDir("gsk_cmp_dst"); new java.io.File(dst).delete()
    val e = intercept[Exception] {
      spark.readStream.format("graft").option("startingVersion", "earliest")
        .load(src).groupBy("typ").count()
        .writeStream.format("graft").outputMode("update")
        .option("checkpointLocation", tmpDir("gsk_bad_ck")).start(dst)
    }
    assert(e.getMessage.contains("mergeKeys"))
    val q = spark.readStream.format("graft").option("startingVersion", "earliest")
      .load(src)
      .filter(col(CommitLog.ChangeTypeCol) === "insert")
      .groupBy("typ").agg(count(lit(1)).as("n"))
      .writeStream.format("graft").outputMode("complete")
      .option("checkpointLocation", tmpDir("gsk_cmp_ck")).start(dst)
    try {
      q.processAllAvailable()
      val got = CommitLog.read(spark, dst).as[(String, Long)].collect().sortBy(_._1)
      assert(got.toSeq === Seq(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }
}
