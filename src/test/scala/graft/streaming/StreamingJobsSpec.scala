package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming pipeline over a temp landing dir: dedup-by-id drops the
  * cross-window duplicates the reference appends blindly; windowed counts
  * aggregate with watermarked state; foreachBatch fans out bronze + silver. */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("eventtime", TimestampType),
    StructField("tsunami", IntegerType),
    StructField("year", IntegerType),
    StructField("month", IntegerType),
  ))

  def writeLanding(dir: String): Unit = {
    val rows = Seq(
      ("ev1", "2014-01-10 00:00:00", 1, 2014, 1),
      ("ev2", "2014-01-10 00:30:00", 0, 2014, 1),
      ("ev1", "2014-01-10 00:00:00", 1, 2014, 1), // duplicate page overlap
      ("ev3", "2014-01-10 01:15:00", 1, 2014, 1),
    ).toDF("id", "ts", "tsunami", "year", "month")
      .select(col("id"), col("ts").cast("timestamp").as("eventtime"),
        col("tsunami"), col("year"), col("month"))
    rows.write.mode("overwrite").parquet(dir)
  }

  test("streaming dedup drops duplicate event ids") {
    val dir = tmpDir("landing1")
    writeLanding(dir)
    val events = StreamingJobs.readEvents(spark, dir, schema)
    assert(events.isStreaming)
    val q = StreamingJobs.runToMemory(
      StreamingJobs.dedup(events, "eventtime", "id"), "dedup_out")
    try {
      val ids = spark.sql("SELECT id FROM dedup_out").as[String].collect().sorted.toSeq
      assert(ids === Seq("ev1", "ev2", "ev3"))
    } finally q.stop()
  }

  test("bounded-state dedup (withinWatermark) also drops the page-overlap duplicates") {
    val dir = tmpDir("landing_bd")
    writeLanding(dir)
    val events = StreamingJobs.readEvents(spark, dir, schema)
    val q = StreamingJobs.runToMemory(
      StreamingJobs.dedupBounded(events, "eventtime", "id"), "dedup_bd_out")
    try {
      val ids = spark.sql("SELECT id FROM dedup_bd_out").as[String].collect().sorted.toSeq
      assert(ids === Seq("ev1", "ev2", "ev3"))
    } finally q.stop()
  }

  test("windowed flag counts aggregate per hour") {
    val dir = tmpDir("landing2")
    writeLanding(dir)
    val events = StreamingJobs.readEvents(spark, dir, schema)
    val agg = StreamingJobs.windowedFlagCounts(events, "eventtime", "tsunami")
    val q = StreamingJobs.runToMemory(agg, "win_out", outputMode = "complete")
    try {
      val out = spark.sql("SELECT tsunami, n FROM win_out ORDER BY window_start, tsunami")
        .as[(Int, Long)].collect().toSeq
      // hour 0: (0→1, 1→2 incl. duplicate), hour 1: (1→1)
      assert(out === Seq((0, 1L), (1, 2L), (1, 1L)))
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running counts across micro-batches") {
    val dir = tmpDir("landing_state")
    // two flat files, one per micro-batch (maxFilesPerTrigger=1 below) —
    // the file stream source does not recurse into subdirectories.
    def writeFlat(users: Seq[Long], name: String): Unit = {
      val stage = tmpDir(s"stage_$name")
      users.toDF("user").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    writeFlat(Seq(1L, 1L), "f1")
    writeFlat(Seq(1L, 2L), "f2")
    val events = spark.readStream
      .schema(StructType(Seq(StructField("user", LongType))))
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val counts = StreamingJobs.runningCounts(events.toDF(), "user")
    val q = counts.toDF("user", "n").writeStream.format("memory")
      .queryName("state_out").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.sql("SELECT user, n FROM state_out")
      .as[(Long, Long)].collect().toSeq
    // user 1 appears in both batches → emitted twice with growing count;
    // final running count must reach 3 for user 1 and 1 for user 2.
    assert(rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap === Map(1L -> 3L, 2L -> 1L))
  }

  test("flatMapGroupsWithState sessionization closes sessions across batches") {
    val dir = tmpDir("landing_sess")
    def writeFlat(rows: Seq[(Long, Long)], name: String): Unit = {
      val stage = tmpDir(s"sess_stage_$name")
      rows.toDF("user", "ts").coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
    }
    // batch 1: user 1 events at t=0 and t=10 (one open session)
    writeFlat(Seq((1L, 0L), (1L, 10L)), "f1")
    // batch 2: user 1 at t=5000 (> 1800 gap → closes the first session);
    //          user 2 at t=100 (opens its own, never closed)
    writeFlat(Seq((1L, 5000L), (2L, 100L)), "f2")
    val events = spark.readStream
      .schema(StructType(Seq(StructField("user", LongType), StructField("ts", LongType))))
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sessions = StreamingJobs.sessionizeStream(events.toDF(), "user", "ts", gapSeconds = 1800)
    val q = sessions.toDF("user", "start", "end", "n").writeStream
      .format("memory").queryName("sess_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT user, start, end, n FROM sess_out")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 0L, 10L, 2L))) // only the closed session emitted
  }

  test("foreachBatch fans out to partitioned bronze and silver") {
    val dir = tmpDir("landing3")
    writeLanding(dir)
    val bronze = tmpDir("s_bronze")
    val silver = tmpDir("s_silver")
    val ck = tmpDir("s_ck")
    val events = StreamingJobs.readEvents(spark, dir, schema)
    val q = StreamingJobs.fanOut(events, bronze, silver, ck).start()
    q.awaitTermination(60000)
    assert(new java.io.File(s"$bronze/batch_id=0/year=2014/month=1").exists())
    assert(spark.read.parquet(bronze).count() === 4)
    val s = spark.read.parquet(silver).select("year", "flag_count")
      .as[(Int, Long)].collect().toSeq
    assert(s === Seq((2014, 3L)))
  }

  test("commitLogSink lands a stream as committed snapshot versions") {
    val dir = tmpDir("landing_tx")
    writeLanding(dir)
    val table = tmpDir("tx_bronze") + "/t"
    val ck = tmpDir("tx_ck")
    val events = StreamingJobs.readEvents(spark, dir, schema)
    val q = StreamingJobs.commitLogSink(events, table, ck, "spec-stream").start()
    q.awaitTermination(60000)
    val snap = graft.tx.CommitLog.read(spark, table)
    assert(snap.count() === 4)
    assert(snap.filter(col("year") === 2014).count() === 4) // partition cols intact
    assert(graft.tx.CommitLog.txnVersion(table, "spec-stream").isDefined)
    // restarting the SAME stream over the same checkpoint adds nothing
    val q2 = StreamingJobs.commitLogSink(
      StreamingJobs.readEvents(spark, dir, schema), table, ck, "spec-stream").start()
    q2.awaitTermination(60000)
    assert(graft.tx.CommitLog.read(spark, table).count() === 4)
  }

  test("mergeSink applies a CDC stream as exactly-once upserts") {
    import spark.implicits._
    val table = tmpDir("cdc_table") + "/t"
    graft.tx.CommitLog.commit(
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "s", "v"),
      table, "append")
    // CDC landing: two files -> two micro-batches of key-unique upserts
    val landing = tmpDir("cdc_landing")
    Seq((2L, "B", 21), (4L, "d", 40)).toDF("id", "s", "v")
      .coalesce(1).write.parquet(s"$landing/f1")
    Seq((3L, "C", 31), (5L, "e", 50)).toDF("id", "s", "v")
      .coalesce(1).write.parquet(s"$landing/f2")
    val updates = spark.readStream
      .schema(Seq((1L, "a", 1)).toDF("id", "s", "v").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/*")
    val q = StreamingJobs.mergeSink(updates, table, tmpDir("cdc_ck"),
      "cdc-app", keys = Seq("id")).start()
    q.awaitTermination(60000)
    val got = graft.tx.CommitLog.read(spark, table)
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "a", 10), (2L, "B", 21), (3L, "C", 31),
      (4L, "d", 40), (5L, "e", 50)))
    // a replayed micro-batch (same appId+batchId) re-applies nothing
    val vBefore = graft.tx.CommitLog.latestVersion(table).get
    StreamingJobs.mergeBatch(table, "cdc-app", Seq("id"))(
      Seq((2L, "ZZZ", 999)).toDF("id", "s", "v"), 0L)
    assert(graft.tx.CommitLog.latestVersion(table).get === vBefore)
    assert(graft.tx.CommitLog.read(spark, table)
      .filter(col("id") === 2L).select("s").as[String].head() === "B")
  }

  test("full streaming medallion: landing -> transactional bronze -> streaming silver") {
    val dir = tmpDir("landing_med")
    writeLanding(dir)
    val table = tmpDir("med_bronze") + "/t"
    // stage 1: land the stream exactly-once into bronze
    val in = StreamingJobs.commitLogSink(
      StreamingJobs.readEvents(spark, dir, schema), table,
      tmpDir("med_ck1"), "med-app").start()
    in.awaitTermination(60000)
    // stage 2: an independent streaming job tails bronze's committed
    // inserts and maintains the silver aggregate
    val silver = spark.readStream.format("graft")
      .option("startingVersion", "earliest").load(table)
      .filter(col(graft.tx.CommitLog.ChangeTypeCol) === "insert")
      .drop(graft.tx.CommitLog.ChangeTypeCol, graft.tx.CommitLog.CommitVersionCol)
      .filter(col("tsunami") === 1)
      .groupBy("year").count()
    val out = silver.writeStream.format("memory").queryName("med_silver")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("med_ck2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    out.awaitTermination(60000)
    val facts = spark.sql("SELECT year, count FROM med_silver")
      .as[(Int, Long)].collect().toSeq
    assert(facts === Seq((2014, 3L)))
  }

  test("fanOut silver is correct across MULTIPLE micro-batches (ADVICE r1)") {
    // 12 single-row landing files > maxFilesPerTrigger=8 → at least 2
    // batches; the old implementation overwrote silver from the current
    // batch only, so the final silver held just the last batch's counts.
    val dir = tmpDir("landing_multi")
    (1 to 12).foreach { i =>
      val stage = tmpDir(s"mb_stage_$i")
      Seq((s"ev$i", 1, 2014, 1))
        .toDF("id", "tsunami", "year", "month")
        .select(col("id"), lit("2014-01-10 00:00:00").cast("timestamp").as("eventtime"),
          col("tsunami"), col("year"), col("month"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"f$i.parquet"))
    }
    val bronze = tmpDir("mb_bronze")
    val silver = tmpDir("mb_silver")
    val ck = tmpDir("mb_ck")
    val events = StreamingJobs.readEvents(spark, dir, schema)
    val q = StreamingJobs.fanOut(events, bronze, silver, ck).start()
    q.awaitTermination(120000)
    // more than one micro-batch actually ran
    assert(new java.io.File(bronze).listFiles().count(_.getName.startsWith("batch_id=")) >= 2)
    assert(spark.read.parquet(bronze).count() === 12)
    val s = spark.read.parquet(silver).select("year", "flag_count")
      .as[(Int, Long)].collect().toSeq
    assert(s === Seq((2014, 12L))) // all batches, not just the last one
  }

  test("a journaled overwrite lands mid-stream; the subscriber's rollup equals batch") {
    // round-6 VERDICT item 2: a streaming subscriber used to miss plain
    // overwrites that the batch feed could reconstruct (overwriteDiff). A
    // journaled overwrite (commit(cdc = true)) stores its diff as change
    // rows, so the graft stream serves it and the subscriber stays
    // consistent.
    import graft.tx.CommitLog
    val t = tmpDir("cdc_ow") + "/t"
    CommitLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), t, "append")
    CommitLog.delete(spark, t, col("id") === 2L) // v2: ordinary mutation
    val root = tmpDir("cdc_ow_stream")
    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("startingVersion", "1").load(t)
        .writeStream.format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000): Unit
    }
    drain() // subscriber is live, has consumed v2
    // the reference's prod shape (save_to_raw_delta_prod.py:143): a
    // page-sized OVERWRITE lands mid-stream — journaled so the feed
    // carries it: (3,c)->(3,C) rewritten, (4,d) new, (1,a) survives
    CommitLog.commit(Seq((1L, "a"), (3L, "C"), (4L, "d")).toDF("id", "s"), t,
      "overwrite", cdc = true) // v3
    drain()
    // fold the streamed changes over the v1 snapshot in version order;
    // the replica must equal a fresh batch read of the table
    val streamed = spark.read.parquet(s"$root/out")
      .select(col(CommitLog.CommitVersionCol), col(CommitLog.ChangeTypeCol),
        col("id"), col("s"))
      .as[(Long, String, Long, String)].collect().toSeq.sortBy(_._1)
    assert(streamed.map(_._1).distinct === Seq(2L, 3L))
    val replica = scala.collection.mutable.Buffer[(Long, String)](
      (1L, "a"), (2L, "b"), (3L, "c"))
    streamed.foreach {
      case (_, "delete" | "update_preimage", id, s) => replica -= ((id, s))
      case (_, _, id, s) => replica += ((id, s))
    }
    val batch = CommitLog.read(spark, t).as[(Long, String)].collect().toSeq
    assert(replica.sorted === batch.sorted)
    // contract boundary: a PLAIN overwrite stores no change rows, so the
    // stream fails loudly on it instead of skipping it — subscribers of
    // overwrite-prone tables must journal
    CommitLog.commit(Seq((5L, "e")).toDF("id", "s"), t, "overwrite")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](drain())
    assert(e.getMessage.contains("no stored change rows"))
    assert(spark.read.parquet(s"$root/out").count() === streamed.size.toLong)
  }

  test("changeStreamUnified carries mirror insertions and cdc rows in one subscription") {
    import graft.tx.CommitLog
    val t = tmpDir("cdc_uni") + "/t"
    CommitLog.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"),
      t, "append")                                                       // v1
    CommitLog.delete(spark, t, col("id") === 2L)                         // v2
    val root = tmpDir("cdc_uni_stream")
    def drainRows(): Seq[(Option[Long], String, Long, String)] = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "earliest").load(t)
        .writeStream.format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(s"$root/out")
        .select(col(CommitLog.CommitVersionCol), col(CommitLog.ChangeTypeCol),
          col("id"), col("s"))
        .collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getString(1), r.getLong(2), r.getString(3)))
        .toSeq
    }
    val first = drainRows()
    // three insertions, each at the append's version, plus the delete's
    // change row
    assert(first.count(r => r._1.contains(1L) && r._2 == "insert") === 3)
    assert(first.collect { case (Some(v), "delete", id, _) => (v, id) } === Seq((2L, 2L)))
    assert(first.size === 4)
    // a journaled overwrite lands mid-stream — the same subscription
    // picks up exactly its diff
    CommitLog.commit(Seq((1L, "a"), (4L, "d")).toDF("id", "s"), t,
      "overwrite", cdc = true)                                           // v3
    val second = drainRows()
    assert(second.size === first.size + 2)
    assert(second.collect { case (Some(3L), ct, id, _) => (ct, id) }.toSet
      === Set(("delete", 3L), ("insert", 4L)))
  }

  test("stream-stream interval join pairs purchases with preceding clicks only") {
    val clickSchema = StructType(Seq(
      StructField("c_user", LongType),
      StructField("click_id", StringType),
      StructField("click_time", TimestampType)))
    val buySchema = StructType(Seq(
      StructField("b_user", LongType),
      StructField("buy_id", StringType),
      StructField("buy_time", TimestampType)))
    val clickDir = tmpDir("ssj_clicks")
    val buyDir = tmpDir("ssj_buys")
    Seq(
      (1L, "c1", "2024-01-01 10:00:00"),
      (1L, "c2", "2024-01-01 10:09:30"), // within 10 min of b1
      (1L, "c3", "2024-01-01 10:20:00"), // AFTER b1 — must not match
      (2L, "c4", "2024-01-01 09:00:00"), // > 10 min before b2
    ).toDF("c_user", "click_id", "t")
      .select(col("c_user"), col("click_id"), col("t").cast("timestamp").as("click_time"))
      .write.mode("overwrite").parquet(clickDir)
    Seq(
      (1L, "b1", "2024-01-01 10:10:00"),
      (2L, "b2", "2024-01-01 10:00:00"),
    ).toDF("b_user", "buy_id", "t")
      .select(col("b_user"), col("buy_id"), col("t").cast("timestamp").as("buy_time"))
      .write.mode("overwrite").parquet(buyDir)

    val joined = StreamingJobs.intervalJoin(
      StreamingJobs.readEvents(spark, buyDir, buySchema),
      StreamingJobs.readEvents(spark, clickDir, clickSchema),
      "b_user", "c_user", "buy_time", "click_time", maxLagSeconds = 600)
    assert(joined.isStreaming)
    val q = StreamingJobs.runToMemory(joined, "ssj_out")
    try {
      val got = spark.sql("SELECT buy_id, click_id FROM ssj_out")
        .as[(String, String)].collect().toSet
      assert(got === Set(("b1", "c1"), ("b1", "c2"))) // c3 future, c4 too old, b2 unmatched
    } finally q.stop()
  }
}
