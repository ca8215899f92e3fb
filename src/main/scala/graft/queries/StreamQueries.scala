package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingJobs
import graft.tx.CommitLog

/** The full streaming medallion chain under the oracle gate (round-3 VERDICT
  * item 6). The reference runs its medallion as an hourly cron of batch jobs
  * (`deploy.yml:53`: fetch → raw Delta append → silver recompute); the Spark
  * form is two chained Structured Streaming jobs:
  *
  *   landing files → [[StreamingJobs.commitLogSink]] (exactly-once
  *   transactional bronze) → `readStream.format("graft")` (the committed
  *   versions' inserts) → streaming silver aggregate.
  *
  * The chain is BUILT by the query itself from the `events` table — split
  * into many landing files so several micro-batches actually run — and the
  * streamed silver is compared IN-query against the batch recompute from the
  * original parquet (property oracle): the DuckDB twin pins the per-type
  * counts/sums AND the `stream_matches_batch = true` verdict, so a chain that
  * drops, duplicates, or tears a batch anywhere fails the hash gate. */
object StreamQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Resolved read of a memoized chain's sink output (guide §5 driver,
    * same rationale as [[Tables.table]]'s catalog read): each sink dir is
    * written exactly once by its run* builder and read on every rep — a
    * schema-less `spark.read.parquet` re-runs parquet schema inference (a
    * footer-reading job) per rep for a path whose contents can no longer
    * change. Holds only the lazy resolved frame; every action still
    * recomputes from the sink files. */
  private def sinkRead(s: SparkSession, path: String): DataFrame =
    QueryMemo.value("sink_read", s, path)(s.read.parquet(path))

  /** Path of the streamed-silver parquet. */
  private def runChain(s: SparkSession, d: String): String =
    QueryMemo.scratch("medallion", s, d) { root =>
      val tag = java.lang.Integer.toHexString(root.hashCode)

      // landing: the events table as many small files (≈ API pages), so the
      // 8-files-per-trigger source genuinely runs multiple micro-batches
      val ev = events(s, d).select(
        col("event_id"), col("event_type"), col("value"), col("ets"),
        year(col("ets")).as("year"), month(col("ets")).as("month"))
      val landing = s"$root/landing"
      ev.repartition(16).write.parquet(landing)

      // stage 1: exactly-once transactional bronze
      val table = s"$root/bronze"
      val in = StreamingJobs.commitLogSink(
        s.readStream.schema(ev.schema).option("maxFilesPerTrigger", "8")
          .parquet(landing),
        table, s"$root/ck_bronze", appId = "graft-medallion")
        .start()
      drain(in)

      // stage 2: an independent streaming job tails bronze's committed
      // versions, keeps their inserted rows and maintains the silver
      // aggregate
      val silverName = s"med_silver_$tag"
      val out = s.readStream.format("graft")
        .option("startingVersion", "earliest").load(table)
        .filter(col(CommitLog.ChangeTypeCol) === "insert")
        .drop(CommitLog.ChangeTypeCol, CommitLog.CommitVersionCol)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_stream"), dsum(col("value")).as("sum_stream"))
        .writeStream.format("memory").queryName(silverName)
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck_silver")
        .trigger(Trigger.AvailableNow()).start()
      drain(out)

      val silverPath = s"$root/silver"
      s.table(silverName).write.mode("overwrite").parquet(silverPath)
      silverPath
    }

  /** Drain an AvailableNow query and FAIL LOUDLY if it didn't finish or
    * died (round-5 ADVICE, low): a swallowed timeout/failure here would
    * dump a partial memory-sink table, cache it for the process lifetime,
    * and surface at the oracle gate as a spurious engine mismatch instead
    * of the real error. */
  private def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 300000): Unit = {
    val finished = q.awaitTermination(timeoutMs)
    q.exception.foreach(e => throw e)
    require(finished, s"streaming query ${q.name} did not finish within ${timeoutMs} ms")
  }

  /** Path of the STREAMED store-flagged test-doc ids. The eval
    * docs land as several files and stream through in micro-batches; each
    * batch shingles its rows and filters through the persisted sketch's
    * memoized probe column ([[graft.ext.DecontaminationStore.flaggedDocs]]
    * works unchanged on a streaming frame: the probe is a stateless
    * codegen'd predicate, the trailing distinct a stateful streaming
    * dedup that emits each flagged id exactly once in append mode). */
  private def runDecon(s: SparkSession, d: String): String =
    QueryMemo.scratch("sdecon", s, d) { root =>
      val index = TextQueries.ensureDeconStore(s, d)
      val tag = java.lang.Integer.toHexString(root.hashCode)
      val test = documents(s, d).filter(isTestSplit(col("doc_id")))
        .select("doc_id", "text")
      val landing = s"$root/landing"
      test.repartition(8).write.parquet(landing)
      val outName = s"sdecon_$tag"
      val q = graft.ext.DecontaminationStore.flaggedDocs(s, index,
        s.readStream.schema(test.schema)
          .option("maxFilesPerTrigger", "2").parquet(landing))
        .writeStream.format("memory").queryName(outName)
        .outputMode("append")
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      val outPath = s"$root/out"
      s.table(outName).write.mode("overwrite").parquet(outPath)
      outPath
    }

  /** Path of the streamed-dedup output parquet. The landing is the
    * events table written TWICE (every row a planted duplicate), streamed in
    * several micro-batches; `dropDuplicates(event_id)` must emit each key
    * exactly once no matter how the duplicates split across batches. Exact
    * keyed state is the deterministic choice for the oracle gate; the
    * bounded-state production variant (`dropDuplicatesWithinWatermark`) is
    * spec'd in StreamingJobsSpec — its output depends on batch arrival
    * order for late keys, which an engine-diff gate can't pin. */
  private def runDedup(s: SparkSession, d: String): String =
    QueryMemo.scratch("sdedup", s, d) { root =>
      val tag = java.lang.Integer.toHexString(root.hashCode)
      val ev = events(s, d).select("event_id", "event_type", "value")
      val landing = s"$root/landing"
      ev.repartition(8).write.parquet(s"$landing/a")
      ev.repartition(8).write.parquet(s"$landing/b")
      val outName = s"sdedup_$tag"
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(s"$landing/*")
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_unique"))
        .writeStream.format("memory").queryName(outName)
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      val outPath = s"$root/out"
      s.table(outName).write.mode("overwrite").parquet(outPath)
      outPath
    }

  /** Path of the streamed interval-join pairs. TWO live file
    * streams — purchases and the clicks that preceded them within one
    * day — joined stream-stream on user with an event-time range
    * condition ([[StreamingJobs.intervalJoin]]): both sides watermarked,
    * so the buffered join state stays O(arrival rate × lag window)
    * instead of growing with the stream. Inner-join results emit as
    * matches arrive (the watermark only GCs state), so an AvailableNow
    * drain yields exactly the batch join's pairs — which is what the
    * oracle pins. */
  private def runIntervalJoin(s: SparkSession, d: String): String =
    QueryMemo.scratch("sijoin", s, d) { root =>
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ets").as("p_ts"),
          col("event_id").as("p_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ets").as("c_ts"),
          col("event_id").as("c_id"))
      purchases.repartition(4).write.parquet(s"$root/p")
      clicks.repartition(4).write.parquet(s"$root/c")
      val joined = StreamingJobs.intervalJoin(
        s.readStream.schema(purchases.schema).option("maxFilesPerTrigger", "2")
          .parquet(s"$root/p"),
        s.readStream.schema(clicks.schema).option("maxFilesPerTrigger", "2")
          .parquet(s"$root/c"),
        "p_user", "c_user", "p_ts", "c_ts", maxLagSeconds = 86400L)
      val outPath = s"$root/out"
      val q = joined.select("p_user", "p_id", "c_id")
        .writeStream.format("parquet").option("path", outPath)
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      outPath
    }

  /** sfDir → parquet path of the unified-CDC rollup. The table lives one
    * full lifecycle — two appends, a copy-on-write delete, a JOURNALED
    * overwrite (`cdc = true`, the round-7 write-time CDC) — and ONE
    * `readStream.format("graft")` subscription must observe all of it:
    * each append's inserts at its own version, plus the stored change
    * rows of the delete and the overwrite. The gate pins the count per
    * (version, change_type). */
  private def runUnified(s: SparkSession, d: String): String =
    QueryMemo.scratch("scdcu", s, d) { root =>
      val tag = java.lang.Integer.toHexString(root.hashCode)
      val ev = events(s, d).select("event_id", "event_type", "value")
      val table = s"$root/bronze"
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, "append")                                                 // v1
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, "append")                                                 // v2
      CommitLog.delete(s, table, col("event_type") === "error")          // v3
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(3)) === 0),
        table, "overwrite", cdc = true)                                  // v4
      val outName = s"scdcu_$tag"
      val q = s.readStream.format("graft")
        .option("startingVersion", "earliest").load(table)
        .groupBy(col(CommitLog.CommitVersionCol).as("v"),
          col(CommitLog.ChangeTypeCol).as("ct"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(outName)
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      val outPath = s"$root/out"
      s.table(outName).write.mode("overwrite").parquet(outPath)
      outPath
    }

  /** Version-tailing CDF stream (`spark.readStream.format("graft")`,
    * round 8): a commit-log lifecycle — two appends, a DV delete, a DV
    * merge — tailed from `startingVersion = earliest` through the
    * registered streaming source. Rows arrive exactly once with a REAL
    * `_commit_version` on every row (appends included), so the gate pins
    * (version, change_type) counts for the entire history. */
  private def runTail(s: SparkSession, d: String): String =
    QueryMemo.scratch("stail", s, d) { root =>
      val tag = java.lang.Integer.toHexString(root.hashCode)
      val ev = events(s, d).select("event_id", "event_type", "value")
      val table = s"$root/bronze"
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        table, "append")                                                 // v1
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        table, "append")                                                 // v2
      CommitLog.deleteDv(s, table, col("event_type") === "error")        // v3
      CommitLog.mergeDv(s, table,                                        // v4
        ev.filter(pmod(col("event_id"), lit(7)) === 1)
          .withColumn("value", col("value") + lit(100.0)),
        Seq("event_id"))
      val outName = s"stail_$tag"
      val q = s.readStream.format("graft")
        .option("startingVersion", "earliest").load(table)
        .groupBy(col(CommitLog.CommitVersionCol).as("v"),
          col(CommitLog.ChangeTypeCol).as("ct"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(outName)
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start()
      drain(q)
      val outPath = s"$root/out"
      s.table(outName).write.mode("overwrite").parquet(outPath)
      outPath
    }

  /** Full graft→graft streaming round-trip (round 8): the version-tailing
    * SOURCE feeds a stateful latest-per-key aggregation whose Update-mode
    * output lands through the merge-keyed graft SINK — CDC in, upserts
    * out, both ends commit-log native. The source history carries appends
    * AND a DV merge, so insert and update_postimage rows must both fold
    * into the per-key latest before the sink applies them. */
  private def runRoundtrip(s: SparkSession, d: String): String =
    QueryMemo.scratch("srt", s, d) { root =>
      val ev = events(s, d).select("event_id", "event_type", "value")
      val src = s"$root/src"
      val dst = s"$root/dst"
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 0),
        src, "append")                                                   // v1
      CommitLog.commit(ev.filter(pmod(col("event_id"), lit(2)) === 1),
        src, "append")                                                   // v2
      CommitLog.mergeDv(s, src,                                          // v3
        ev.filter(pmod(col("event_id"), lit(101)) === 7)
          .withColumn("value", col("value") + lit(2000.0))
        .unionByName(ev.filter(pmod(col("event_id"), lit(101)) === 8)
          .withColumn("event_id", col("event_id") + lit(400000000L))),
        Seq("event_id"))
      val q = s.readStream.format("graft")
        .option("startingVersion", "earliest").load(src)
        .filter(col(CommitLog.ChangeTypeCol).isin("insert", "update_postimage"))
        .groupBy(col("event_id"))
        .agg(max_by(struct(col("event_type"), col("value")),
          col(CommitLog.CommitVersionCol)).as("latest"))
        .select(col("event_id"), col("latest.event_type"), col("latest.value"))
        .writeStream.format("graft").outputMode("update")
        .option("mergeKeys", "event_id")
        .option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow()).start(dst)
      drain(q)
      dst
    }

  val queries: Map[String, Q] = Map(
    // Graft→graft streaming round-trip: the replicated table's final state
    // must equal the source's merged state exactly — a dropped change row,
    // a stale-version win in the latest-per-key fold, or a double-applied
    // upsert flips the hash.
    "stream_graft_roundtrip" -> ((s, d) => {
      val dst = runRoundtrip(s, d)
      CommitLog.read(s, dst).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_id")).as("n_ids"),
          min(col("value")).as("v_min"), max(col("value")).as("v_max"))
        .orderBy("event_type")
    }),

    // The version-tailing CDF stream over a full lifecycle: append inserts
    // carry their real commit version (manifest-delta derived), the DV
    // delete its typed rows, the DV merge its pre/post-images plus the
    // resurrection inserts (deleted keys re-merged = NOT MATCHED). The
    // oracle recomputes every (version, change_type) count from the source
    // parquet; a missed version, a duplicated batch, or a mis-typed row
    // flips the hash.
    "stream_graft_tail" -> ((s, d) =>
      sinkRead(s, runTail(s, d)).filter(col("n") > 0).orderBy("v", "ct")),

    // One subscription over a full table lifecycle: each append's inserts
    // (v1, v2), the copy-on-write delete's change rows (v3), and the
    // journaled overwrite's stored diff (v4) — the oracle recomputes every
    // (version, change_type) count from the source parquet, so a missed
    // journal row, an insert at the wrong version, or an over-wide diff
    // flips the hash.
    "stream_cdc_unified" -> ((s, d) =>
      sinkRead(s, runUnified(s, d)).orderBy("v", "ct")),

    // Streamed silver vs batch recompute: counts and decimal-exact sums per
    // event type must agree row-for-row; the boolean verdict is oracle-pinned
    // to true, so any exactly-once violation in the chain flips the hash.
    "stream_medallion_counts" -> ((s, d) => {
      val streamed = sinkRead(s, runChain(s, d))
      val batch = events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      batch.join(streamed, Seq("event_type"), "full_outer")
        .select(col("event_type"), col("n_events"), col("sum_value"),
          coalesce(col("n_events") === col("n_stream") &&
            col("sum_value") === col("sum_stream"), lit(false))
            .as("stream_matches_batch"))
        .orderBy("event_type")
    }),

    // Stream-stream interval join (round 9): purchases joined live to the
    // clicks that preceded them within a day, both sides watermarked so
    // join state stays bounded. The streamed pair set must equal the
    // batch recompute exactly — the per-user rollup and the
    // stream_matches_batch verdict both sit under the hash gate.
    "stream_interval_join" -> ((s, d) => {
      val pairs = sinkRead(s, runIntervalJoin(s, d))
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ets").as("p_ts"),
          col("event_id").as("p_id"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ets").as("c_ts"),
          col("event_id").as("c_id"))
      val batch = p.join(c, col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - org.apache.spark.sql.functions.expr("INTERVAL 1 DAY") &&
          col("c_ts") <= col("p_ts"))
        .groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_id")).as("n_clicks"))
      val streamed = pairs.groupBy(col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_stream"),
          countDistinct(col("c_id")).as("nc_stream"))
      batch.join(streamed, Seq("user_id"), "full_outer")
        .select(col("user_id"), col("n_pairs"), col("n_clicks"),
          coalesce(col("n_pairs") === col("n_stream") &&
            col("n_clicks") === col("nc_stream"), lit(false))
            .as("stream_matches_batch"))
        .orderBy("user_id")
    }),

    // Streaming decontamination: the eval batch arrives as a LIVE file
    // stream and every micro-batch probes the PERSISTED train sketch
    // map-side — the serving-time shape of the decontamination store
    // (stateless codegen'd might-contain + stateful distinct on flagged
    // ids; the train table is never read). Verdict: the streamed flagged
    // set equals the batch probe of the same store, and every
    // exactly-contaminated doc (independent all-pairs shingle join) is
    // flagged — the no-false-negative contract must survive arbitrary
    // micro-batch splits.
    "stream_decontaminate" -> ((s, d) => {
      val streamed = sinkRead(s, runDecon(s, d)) // (doc_id)
      val batchFlagged = graft.ext.DecontaminationStore.flaggedDocs(
        s, TextQueries.ensureDeconStore(s, d),
        documents(s, d).filter(isTestSplit(col("doc_id")))
          .select("doc_id", "text"))
      val flaggedExact = TextQueries.cachedSplitShingles(s, d)
        .filter(col("split") === "test")
        .join(TextQueries.cachedTrainShingles(s, d), "__sh", "left_semi")
        .select("doc_id").distinct()
      streamed.withColumn("__s", lit(1))
        .join(batchFlagged.withColumn("__b", lit(1)), Seq("doc_id"), "full_outer")
        .join(flaggedExact.withColumn("__e", lit(1)), Seq("doc_id"), "full_outer")
        .agg(
          (coalesce(sum(when(col("__s").isNull =!= col("__b").isNull, 1L)
            .otherwise(0L)), lit(0L)) === 0).as("stream_matches_batch"),
          (coalesce(sum(when(col("__e").isNotNull && col("__s").isNull, 1L)
            .otherwise(0L)), lit(0L)) === 0).as("store_catches_all"),
          coalesce(sum(col("__e").cast("long")), lit(0L))
            .as("n_exact_contaminated"))
    }),

    // Streaming exact dedup: every event arrives twice across several
    // micro-batches; the stateful dropDuplicates must emit each event_id
    // exactly once. Verdict joins the streamed per-type unique counts
    // against the batch COUNT(DISTINCT) — the oracle pins both the counts
    // and the all-types-match boolean.
    "stream_dedup" -> ((s, d) => {
      val streamed = sinkRead(s, runDedup(s, d))
      val batch = events(s, d).groupBy("event_type")
        .agg(countDistinct(col("event_id")).as("n_distinct"))
      batch.join(streamed, Seq("event_type"), "full_outer")
        .select(col("event_type"), col("n_distinct"),
          coalesce(col("n_distinct") === col("n_unique"), lit(false))
            .as("stream_matches_batch"))
        .orderBy("event_type")
    }),
  )

  /** Operator-only twin for the bench split (round-4 VERDICT item 2): the
    * streamed-silver output of the (memoized) medallion chain without the
    * batch recompute it is compared against. The chain itself is built by
    * whichever of the two runs first in a session. */
  val operatorOnly: Map[String, Q] = Map(
    "stream_medallion_counts" -> ((s, d) =>
      sinkRead(s, runChain(s, d)).orderBy("event_type")),
    "stream_dedup" -> ((s, d) =>
      sinkRead(s, runDedup(s, d)).orderBy("event_type")),
    "stream_decontaminate" -> ((s, d) =>
      sinkRead(s, runDecon(s, d)).orderBy("doc_id")),
    "stream_interval_join" -> ((s, d) =>
      sinkRead(s, runIntervalJoin(s, d)).orderBy("p_user", "p_id", "c_id")),
  )

  val oracle: Map[String, String] = Map(
    "stream_graft_roundtrip" ->
      """WITH merged AS (
           SELECT event_id, event_type, value + 2000 AS value
             FROM events WHERE event_id % 101 = 7
           UNION ALL
           SELECT event_id, event_type, value
             FROM events WHERE event_id % 101 <> 7
           UNION ALL
           SELECT event_id + 400000000 AS event_id, event_type, value
             FROM events WHERE event_id % 101 = 8)
         SELECT event_type, count(*) AS n_events,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           min(value) AS v_min, max(value) AS v_max
         FROM merged GROUP BY event_type ORDER BY event_type""",
    "stream_graft_tail" ->
      """SELECT CAST(v AS BIGINT) AS v, ct, n FROM (
           SELECT 1 AS v, 'insert' AS ct, count(*) AS n
             FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT 2, 'insert', count(*) FROM events WHERE event_id % 2 = 1
           UNION ALL
           SELECT 3, 'delete', count(*) FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT 4, 'update_preimage', count(*)
             FROM events WHERE event_id % 7 = 1 AND event_type <> 'error'
           UNION ALL
           SELECT 4, 'update_postimage', count(*)
             FROM events WHERE event_id % 7 = 1 AND event_type <> 'error'
           UNION ALL
           SELECT 4, 'insert', count(*)
             FROM events WHERE event_id % 7 = 1 AND event_type = 'error')
         WHERE n > 0 ORDER BY v, ct""",
    "stream_cdc_unified" ->
      """SELECT CAST(v AS BIGINT) AS v, ct, n FROM (
           SELECT 1 AS v, 'insert' AS ct, count(*) AS n
             FROM events WHERE event_id % 2 = 0
           UNION ALL
           SELECT 2, 'insert', count(*) FROM events WHERE event_id % 2 = 1
           UNION ALL
           SELECT 3, 'delete', count(*) FROM events WHERE event_type = 'error'
           UNION ALL
           SELECT 4, 'delete', count(*)
             FROM events WHERE event_type <> 'error' AND event_id % 3 <> 0
           UNION ALL
           SELECT 4, 'insert', count(*)
             FROM events WHERE event_type = 'error' AND event_id % 3 = 0)
         ORDER BY v, ct""",
    "stream_medallion_counts" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           true AS stream_matches_batch
         FROM events GROUP BY 1 ORDER BY event_type""",
    "stream_dedup" ->
      """SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           true AS stream_matches_batch
         FROM events GROUP BY 1 ORDER BY event_type""",
    "stream_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
               THEN 'test' ELSE 'train' END AS split,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         sh8 AS (
           SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(tokens) >= 8
             THEN list_transform(range(1, len(tokens) - 6),
               i -> array_to_string(tokens[i:i+7], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS shingle
           FROM toks),
         flagged AS (
           SELECT DISTINCT t.doc_id
           FROM sh8 t JOIN sh8 tr ON t.shingle = tr.shingle
           WHERE t.split = 'test' AND tr.split = 'train')
         SELECT true AS stream_matches_batch, true AS store_catches_all,
           CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_exact_contaminated""",
    "stream_interval_join" ->
      """WITH p AS (SELECT user_id u, ts pt FROM events WHERE event_type = 'purchase'),
           c AS (SELECT user_id u, ts ct, event_id cid FROM events WHERE event_type = 'click'),
           j AS (SELECT p.u, cid FROM p JOIN c
                   ON p.u = c.u AND c.ct >= p.pt - INTERVAL 1 DAY AND c.ct <= p.pt)
         SELECT u AS user_id, count(*) AS n_pairs,
           CAST(count(DISTINCT cid) AS BIGINT) AS n_clicks,
           true AS stream_matches_batch
         FROM j GROUP BY u ORDER BY user_id""",
  )
}
