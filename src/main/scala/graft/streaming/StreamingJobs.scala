package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming form of the reference's incremental semantics
  * (SURVEY.md §2.9): the reference re-runs batch ingest hourly via cron and
  * appends pages blindly (duplicates possible across overlapping windows,
  * no late-data handling). The idiomatic Spark upgrade:
  *
  *  - `readStream` over the bronze landing directory — each arriving file
  *    (≈ one API page) becomes part of a micro-batch; `Trigger.AvailableNow`
  *    reproduces the "drain everything then stop" cron semantics.
  *  - `withWatermark` + `dropDuplicates(id)` — the dedup/reconciliation the
  *    reference lacks (its only idempotence is the Cassandra PK upsert).
  *  - windowed aggregation — the streaming analogue of the monthly fact.
  *  - `foreachBatch` multi-sink fan-out — the reference writes each page to
  *    CSV + JSON + Delta + Cassandra in a driver loop (§2.10); here one
  *    micro-batch fans out to the same sinks. foreachBatch file writes are
  *    at-least-once on batch replay, so the bronze write is made idempotent
  *    per batchId (dynamic overwrite of a `batch_id=` partition) rather than
  *    claimed exactly-once.
  */
object StreamingJobs {

  /** Streaming read of a landing directory of event files. */
  def readEvents(spark: SparkSession, dir: String, schema: StructType,
      format: String = "parquet"): DataFrame =
    spark.readStream.format(format).schema(schema)
      .option("maxFilesPerTrigger", "8")
      .load(dir)

  /** Late-tolerant dedup by event id: keeps the first arrival of each id
    * within the watermark horizon. */
  def dedup(events: DataFrame, timeCol: String, idCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(timeCol, watermark).dropDuplicates(idCol)

  /** Bounded-state dedup: `dropDuplicates` keeps one state entry per id
    * FOREVER (state grows with all ids ever seen — untenable on an unbounded
    * stream); `dropDuplicatesWithinWatermark` evicts an id once the
    * watermark passes its event time, so state is O(arrival rate × watermark
    * window) — the right default for the reference's overlapping-page
    * duplicates, which always arrive close together. */
  def dedupBounded(events: DataFrame, timeCol: String, idCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(timeCol, watermark).dropDuplicatesWithinWatermark(idCol)

  /** Tumbling-window flagged counts — the streaming fact_tsunami_monthly:
    * count of flagged events per (window, flag) with watermarked state. */
  def windowedFlagCounts(events: DataFrame, timeCol: String, flagCol: String,
      windowLen: String = "1 hour", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowLen), col(flagCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(flagCol), col("n"))

  /** Multi-sink fan-out via foreachBatch (the §2.10 orchestration). Correct
    * across any micro-batch split AND under batch replay:
    *
    *  - bronze lands under a leading `batch_id=<id>` partition with dynamic
    *    partition overwrite, so a replayed batch overwrites exactly its own
    *    output instead of blind-appending twice (idempotent per batchId —
    *    foreachBatch file writes are otherwise only at-least-once);
    *  - silver is recomputed from the FULL bronze read-back, not from the
    *    current batch, so the aggregate stays correct when the landing files
    *    split into multiple micro-batches (maxFilesPerTrigger).
    */
  def fanOut(events: DataFrame, bronzeDir: String, silverDir: String,
      checkpointDir: String, yearCol: String = "year", monthCol: String = "month",
      flagCol: String = "tsunami"): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        batch.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id", yearCol, monthCol).parquet(bronzeDir)
        session.read.parquet(bronzeDir)
          .filter(col(flagCol) === 1)
          .groupBy(yearCol).agg(count(lit(1)).as("flag_count"))
          .write.mode("overwrite").parquet(silverDir)
      }

  /** Transactional streaming sink: every micro-batch commits atomically
    * through [[graft.tx.CommitLog]] with a `(appId, batchId)` transaction
    * watermark, giving EXACTLY-ONCE table contents — the upgrade over
    * [[fanOut]]'s dynamic-partition idempotence: a replayed batch is skipped
    * outright (its batchId is already in the manifest chain), readers only
    * ever see fully-committed batches, and the bronze table gains snapshot
    * reads + time travel for free. This is the reference's hourly
    * cron→Delta-append loop (`deploy.yml:53` + `save_to_raw_delta_dev.py:63`)
    * in its semantically complete form. */
  def commitLogSink(events: DataFrame, table: String, checkpointDir: String,
      appId: String,
      partitionBy: Seq[String] = Seq("year", "month")): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(commitBatch(table, appId, partitionBy))

  /** The foreachBatch body of [[commitLogSink]], exposed for direct testing
    * and for composing into custom writers. A downstream streaming job
    * subscribes to the committed batches with
    * `spark.readStream.format("graft")`, chaining the full streaming
    * medallion: landing → transactional bronze → streaming silver. */
  def commitBatch(table: String, appId: String,
      partitionBy: Seq[String] = Seq("year", "month")): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.tx.CommitLog.commit(batch, table, "append", partitionBy,
          txn = Some((appId, batchId))): Unit
      }

  /** Streaming CDC apply — the foreachBatch MERGE pattern (Delta's
    * canonical "apply changes" recipe): each micro-batch of upsert rows is
    * key-merged into the transactional table, matched rows replaced and new
    * keys inserted, with the batchId recorded as a per-writer txn watermark
    * so a REPLAYED batch (restart mid-chain) re-applies nothing. The batch
    * must be key-unique (compact your CDC feed upstream — e.g.
    * `latestRevision` per key); duplicate keys throw merge's
    * multiple-source-rows error rather than applying nondeterministically. */
  def mergeSink(updates: DataFrame, table: String, checkpointDir: String,
      appId: String, keys: Seq[String],
      partitionBy: Seq[String] = Nil): DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(mergeBatch(table, appId, keys, partitionBy))

  /** The foreachBatch body of [[mergeSink]], exposed for direct testing and
    * replay-idempotence composition. */
  def mergeBatch(table: String, appId: String, keys: Seq[String],
      partitionBy: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.tx.CommitLog.merge(batch.sparkSession, table, batch, keys,
          partitionBy, txn = Some((appId, batchId))): Unit
      }

  /** Custom streaming state via `mapGroupsWithState`: cumulative per-key
    * event counts that survive across micro-batches — the §2.9 upgrade the
    * reference's blind hourly re-append cannot express (its only state is
    * the Cassandra PK upsert). Emits (key, running_count) every batch the
    * key appears in; state is one long per key. */
  def runningCounts(events: DataFrame, keyCol: String): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val tupEnc: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    events.selectExpr(s"CAST($keyCol AS LONG) AS k").as[Long](longEnc)
      .groupByKey(identity)(longEnc)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }(longEnc, tupEnc)
  }

  /** Gap-based streaming sessionization via `flatMapGroupsWithState`
    * (append mode): per-key state holds the open session (start, last-seen,
    * count); a batch's events fold in event-time order, emitting every
    * session closed by a gap larger than `gapSeconds`. The open session
    * stays in state across micro-batches. Output rows:
    * (key, session_start_epoch_s, session_end_epoch_s, n_events). */
  def sessionizeStream(events: DataFrame, keyCol: String, timeCol: String,
      gapSeconds: Long): org.apache.spark.sql.Dataset[(Long, Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val pairEnc: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val stateEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[(Long, Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    events
      .selectExpr(s"CAST($keyCol AS LONG) AS k", s"CAST($timeCol AS LONG) AS t")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long, Long)]) =>
          val times = rows.map(_._2).toSeq.sorted
          val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          var open = state.getOption
          times.foreach { t =>
            open = open match {
              case Some((start, last, n)) if t - last > gapSeconds =>
                closed += ((key, start, last, n))
                Some((t, t, 1L))
              case Some((start, _, n)) => Some((start, t, n + 1L))
              case None => Some((t, t, 1L))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Stream-stream inner join with an event-time interval condition: each
    * left row matches right rows with the same key whose time falls in
    * `[leftTime - maxLagSeconds, leftTime]` (e.g. purchases joined to the
    * clicks that preceded them). Both sides are watermarked, and the range
    * condition bounds the join state Spark must buffer: a right row is
    * dropped from state once the watermark passes `rightTime +
    * maxLagSeconds`, so state stays O(arrival rate × lag window) at any
    * scale instead of growing unboundedly. Column names must be disjoint. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      maxLagSeconds: Long, watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark),
        expr(s"""$leftKey = $rightKey AND
                 $rightTime >= $leftTime - INTERVAL $maxLagSeconds SECONDS AND
                 $rightTime <= $leftTime"""))

  /** Run a streaming frame into an in-memory table and block until drained —
    * test/debug surface (`format("memory")` + `processAllAvailable`). */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q
  }
}
