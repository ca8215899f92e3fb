package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity operators (SURVEY.md §2) exercised over the driver's
  * `events` table, which stands in for the earthquake stream (FIXTURES.md §5:
  * ts ↔ eventtime, event_type='error' ↔ the tsunami flag, props ↔ geometry
  * JSON). Each query has an exact DuckDB oracle twin in [[EventQueries.oracle]].
  *
  * Every query ends in a deterministic ORDER BY (full tiebreak) so the
  * row-level hash compare is stable, and derived ints are kept 32-bit on both
  * sides so schemas align.
  */
object EventQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** (csvPath, jsonPath) of the K1/K2 sink outputs for `d` — written
    * through the REAL FileSinks surface (fixed timestamp so the stamped
    * names are deterministic), then read back by the roundtrip queries.
    * The projection includes a string with an embedded comma + quote (no
    * trailing space — the CSV writer's default ignoreTrailingWhiteSpace
    * would trim it), so the quoting path is genuinely exercised. */
  private def sinkPaths(s: SparkSession, d: String): (String, String) =
    QueryMemo.scratch("sinks", s, d) { dir =>
      val out = events(s, d).filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("event_id"), col("event_type"),
          concat(col("event_type"), lit(",\"q\"")).as("qtext"),
          unix_micros(col("ets")).as("ets_us"), col("value"))
      val now = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
      (graft.sinks.FileSinks.saveCsv(out, dir, "k1", now).get,
        graft.sinks.FileSinks.saveJson(out, dir, "k2", now).get)
    }

  val queries: Map[String, Q] = Map(
    // P1/P2 + F1-F3: flatten projection with renames + JSON field extraction
    // (geometry-JSON analogue) — parse_geojson_to_dataframe re-expressed.
    "p1_flatten_project" -> ((s, d) => events(s, d).select(
      col("event_id").as("id"),
      year(col("ets")).as("year"),
      month(col("ets")).as("month"),
      col("event_type"),
      col("user_id"),
      get_json_object(col("props"), "$.k").as("k"),
    ).orderBy("id")),

    // P4: time-range predicate (partition-prunable at scale).
    "p4_filter_time" -> ((s, d) => events(s, d)
      .filter(col("ets") >= lit("2024-03-01") && col("ets") < lit("2024-04-01"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")),

    // P5: flag-equality predicate (tsunami=1 analogue) → row-group skipping.
    "p5_filter_flag" -> ((s, d) => events(s, d)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")),

    // A1: global count under year predicate.
    "a1_count" -> ((s, d) => events(s, d)
      .filter(year(col("ets")) === 2024 && month(col("ets")) === 3)
      .agg(count(lit(1)).as("cnt"))),

    // A2: count by year (exploratory query).
    "a2_count_by_year" -> ((s, d) => events(s, d)
      .groupBy(year(col("ets")).as("year"))
      .agg(count(lit(1)).as("event_count"))
      .orderBy("year")),

    // A3 (flagship): fact_tsunami_yearly shape — filter flag, group year.
    "a3_flag_yearly" -> ((s, d) => events(s, d)
      .filter(col("event_type") === "error")
      .groupBy(year(col("ets")).as("year"))
      .agg(count(lit(1)).as("flag_yearly_count"))
      .orderBy("year")),

    // A4: fact_tsunami_monthly shape.
    "a4_flag_monthly" -> ((s, d) => events(s, d)
      .filter(col("event_type") === "error")
      .groupBy(year(col("ets")).as("year"), month(col("ets")).as("month"))
      .agg(count(lit(1)).as("flag_monthly_count"))
      .orderBy("year", "month")),

    // A5: unfiltered diagnostic count.
    "a5_total_count" -> ((s, d) => events(s, d).agg(count(lit(1)).as("cnt"))),

    // F1-F3/F6/F7: timestamp part extraction + ISO formatting.
    "f_time_extract" -> ((s, d) => events(s, d).select(
      col("event_id"),
      year(col("ets")).as("y"),
      month(col("ets")).as("m"),
      dayofmonth(col("ets")).as("dom"),
      hour(col("ets")).as("h"),
      date_format(col("ets"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"),
    ).orderBy("event_id")),

    // O3: clustering sort + top-k preview (O4).
    "o3_topk" -> ((s, d) => events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(100)),

    // K6: serving-table layout — (month, year) key, time-descending rows.
    "k6_serving_layout" -> ((s, d) => events(s, d).select(
      month(col("ets")).as("month"),
      year(col("ets")).as("year"),
      col("event_id"),
    ).orderBy(col("month"), col("year"), col("event_id").desc)),

    // K1: CSV sink ROUNDTRIP (round-11 VERDICT item 8) — write through
    // FileSinks.saveCsv (header, timestamped dir, the reference's
    // save_to_csv shape) and read the files back with an explicit schema;
    // the DuckDB oracle recomputes the expected CONTENT from the source
    // parquet, so any sink-side mangling (quoting of embedded
    // commas/quotes, double formatting, header drift) flips the hash.
    // qtext embeds ',"q"' to force the quoted-field path.
    "k1_csv_roundtrip" -> ((s, d) =>
      s.read
        .schema("event_id BIGINT, event_type STRING, qtext STRING, " +
          "ets_us BIGINT, value DOUBLE")
        .option("header", "true").csv(sinkPaths(s, d)._1)
        .orderBy("event_id")),

    // K2: JSON sink roundtrip — same contract through FileSinks.saveJson.
    "k2_json_roundtrip" -> ((s, d) =>
      s.read
        .schema("event_id BIGINT, event_type STRING, qtext STRING, " +
          "ets_us BIGINT, value DOUBLE")
        .json(sinkPaths(s, d)._2)
        .orderBy("event_id")),

    // S6: column-pruned scan (reads 3 of 6 columns from parquet).
    "s6_pruned_read" -> ((s, d) => events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")),

    // §2.9 streaming analogue: tumbling 1-hour window aggregation.
    "stream_window_agg" -> ((s, d) => events(s, d)
      .groupBy(
        date_format(date_trunc("hour", col("ets")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("hour", "event_type")),

    // Scalar-function breadth: string ops (case/trim/concat/substr/replace).
    "f_string_funcs" -> ((s, d) => events(s, d).select(
      col("event_id"),
      upper(col("event_type")).as("et_upper"),
      concat_ws("-", col("event_type"), col("user_id")).as("tag"),
      substring(col("event_type"), 1, 3).as("et3"),
      regexp_replace(col("event_type"), "r", "R").as("et_r"),
      length(col("event_type")).as("et_len"),
    ).orderBy("event_id")),

    // Scalar-function breadth: conditional / null handling.
    "f_null_funcs" -> ((s, d) => events(s, d).select(
      col("event_id"),
      coalesce(nullif(col("event_type"), lit("error")), lit("ok")).as("masked"),
      when(col("value") > 5, "high").otherwise("low").as("band"),
      (col("value") > 5).cast("int").as("is_high"),
    ).orderBy("event_id")),

    // Approximate distinct (HLL sketch). HLL estimates differ across
    // engines, so the oracle is a PROPERTY check (round-2 VERDICT item 5):
    // Spark computes the sketch estimate AND the exact count per group and
    // asserts ≤5% relative error; the oracle supplies the exact counts and
    // the expected property outcome per real key. rsd = 0.01, NOT the 0.05
    // default: a 5% bound on a 5%-sigma estimator would fail ~32% of the
    // time once a group leaves HLL's exact sparse range — at 1% sigma the
    // 5% budget is a 5-sigma margin at any cardinality.
    "agg_approx_distinct" -> ((s, d) => events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("__approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__approx") - col("exact_users")) <=
          col("exact_users") * 0.05).as("within_5pct"))
      .orderBy("event_type")),

    // Latest-revision dedup (the reconciliation the reference lacks, §2.9 /
    // §7.5): keep each user's most recent event.
    "dedup_latest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ets").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // Sessionization: 30-minute-gap sessions per user (window lag + running
    // sum — the dedup/reconciliation machinery the reference lacks, §2.9).
    "sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ets", "event_id")
      events(s, d)
        .withColumn("prev", lag(col("ets"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev").isNull ||
            col("ets").cast("long") - col("prev").cast("long") > 1800, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_id")
    }),
  )

  val oracle: Map[String, String] = Map(
    "p1_flatten_project" ->
      """SELECT event_id AS id, CAST(year(ts) AS INTEGER) AS year,
         CAST(month(ts) AS INTEGER) AS month, event_type, user_id,
         json_extract_string(props, '$.k') AS k
         FROM events ORDER BY id""",
    "p4_filter_time" ->
      """SELECT event_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-03-01' AND ts < TIMESTAMP '2024-04-01'
         ORDER BY event_id""",
    "p5_filter_flag" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'error' ORDER BY event_id""",
    "a1_count" ->
      "SELECT count(*) AS cnt FROM events WHERE year(ts) = 2024 AND month(ts) = 3",
    "a2_count_by_year" ->
      """SELECT CAST(year(ts) AS INTEGER) AS year, count(*) AS event_count
         FROM events GROUP BY 1 ORDER BY year""",
    "a3_flag_yearly" ->
      """SELECT CAST(year(ts) AS INTEGER) AS year, count(*) AS flag_yearly_count
         FROM events WHERE event_type = 'error' GROUP BY 1 ORDER BY year""",
    "a4_flag_monthly" ->
      """SELECT CAST(year(ts) AS INTEGER) AS year, CAST(month(ts) AS INTEGER) AS month,
         count(*) AS flag_monthly_count
         FROM events WHERE event_type = 'error' GROUP BY 1, 2 ORDER BY year, month""",
    "a5_total_count" -> "SELECT count(*) AS cnt FROM events",
    "f_time_extract" ->
      """SELECT event_id, CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
         CAST(day(ts) AS INTEGER) AS dom, CAST(hour(ts) AS INTEGER) AS h,
         strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
         FROM events ORDER BY event_id""",
    "o3_topk" ->
      """SELECT event_id, event_type, value FROM events
         ORDER BY value DESC, event_id LIMIT 100""",
    "k6_serving_layout" ->
      """SELECT CAST(month(ts) AS INTEGER) AS month, CAST(year(ts) AS INTEGER) AS year,
         event_id FROM events ORDER BY month, year, event_id DESC""",
    "s6_pruned_read" ->
      "SELECT event_id, user_id, value FROM events ORDER BY event_id",
    "stream_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         event_type, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type""",
    "f_string_funcs" ->
      """SELECT event_id, upper(event_type) AS et_upper,
           concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS tag,
           substring(event_type, 1, 3) AS et3,
           regexp_replace(event_type, 'r', 'R', 'g') AS et_r,
           CAST(length(event_type) AS INTEGER) AS et_len
         FROM events ORDER BY event_id""",
    "f_null_funcs" ->
      """SELECT event_id,
           coalesce(nullif(event_type, 'error'), 'ok') AS masked,
           CASE WHEN value > 5 THEN 'high' ELSE 'low' END AS band,
           CAST(value > 5 AS INTEGER) AS is_high
         FROM events ORDER BY event_id""",
    "agg_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           true AS within_5pct
         FROM events GROUP BY 1 ORDER BY event_type""",
    "dedup_latest" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "k1_csv_roundtrip" ->
      """SELECT event_id, event_type, event_type || ',"q"' AS qtext,
           CAST(epoch_us(ts) AS BIGINT) AS ets_us, value
         FROM events WHERE event_id % 7 = 0 ORDER BY event_id""",
    "k2_json_roundtrip" ->
      """SELECT event_id, event_type, event_type || ',"q"' AS qtext,
           CAST(epoch_us(ts) AS BIGINT) AS ets_us, value
         FROM events WHERE event_id % 7 = 0 ORDER BY event_id""",
    "sessionize" ->
      """WITH flagged AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ), sess AS (
           SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM flagged
         )
         SELECT user_id, session_id, count(*) AS n_events
         FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""",
  )
}
