package graft.tx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only snapshot aggregates: exact agreement with a scan across
  * copy-on-write mutations, honest None fallbacks, time travel — all with
  * no SparkSession in the API (the computation is O(files) driver work
  * over the stats sidecars). */
class MetaAggregateSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_meta").resolve("t").toString

  private def events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")

  test("count/min/max/count(col) match a full scan across merge, delete, and update") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "value"), t, "append")
    CommitLog.merge(spark,
      t, events.filter(col("event_id") % 10 === 4)
        .select((col("event_id") + 100000000L).as("event_id"),
          col("event_type"), (col("value") + 1000.0).as("value")),
      Seq("event_id"))
    CommitLog.delete(spark, t, col("event_type") === "error")
    CommitLog.update(spark, t, col("event_type") === "signup",
      Map("value" -> (col("value") + 0.5)))

    val agg = CommitLog.metaAggregate(t, Seq("event_id", "value")).get
    val scan = CommitLog.read(spark, t)
      .agg(count(lit(1)), min("event_id"), max("event_id"),
        count("event_id"), min("value"), max("value"), count("value"))
      .as[(Long, Long, Long, Long, Double, Double, Long)].head()
    assert(agg.rowCount === scan._1)
    assert(agg.cols("event_id") ===
      CommitLog.MetaColAgg(Some(scan._2), Some(scan._3), scan._4))
    assert(agg.cols("value") ===
      CommitLog.MetaColAgg(Some(scan._5), Some(scan._6), scan._7))
    // count-only fast path
    assert(CommitLog.metaRowCount(t) === Some(scan._1))
    // time travel: version 1's metadata answers version 1's scan
    val v1Scan = CommitLog.readAt(spark, t, 1L).count()
    assert(CommitLog.metaRowCount(t, Some(1L)) === Some(v1Scan))
  }

  test("additive schema evolution: the late column counts only its own rows, absent = all-null") {
    val t = freshTable()
    CommitLog.commit(events.limit(100).select("event_id", "value"), t, "append")
    CommitLog.commit(events.limit(40).select(
      (col("event_id") + 5000000L).as("event_id"), col("value"),
      col("event_id").as("late_id")), t, "append")
    val agg = CommitLog.metaAggregate(t, Seq("late_id")).get
    assert(agg.rowCount === 140L)
    assert(agg.cols("late_id").nonNull === 40L)
    assert(agg.cols("late_id").min.isDefined)
    // a name the snapshot schema doesn't have is a caller error, as in SQL
    intercept[IllegalArgumentException] {
      CommitLog.metaAggregate(t, Seq("ghost"))
    }
  }

  test("bounds surface in the column's declared type, matching a scan") {
    val t = freshTable()
    CommitLog.commit(
      Seq((1, 1.5f, 7.toShort), (2, -3.25f, 9.toShort)).toDF("i", "f", "sh"),
      t, "append")
    val agg = CommitLog.metaAggregate(t, Seq("i", "f", "sh")).get
    assert(agg.cols("i") === CommitLog.MetaColAgg(Some(1), Some(2), 2L))
    assert(agg.cols("f") === CommitLog.MetaColAgg(Some(-3.25f), Some(1.5f), 2L))
    assert(agg.cols("sh") === CommitLog.MetaColAgg(Some(7.toShort), Some(9.toShort), 2L))
    assert(agg.cols("i").min.get.isInstanceOf[Int])
    assert(agg.cols("f").min.get.isInstanceOf[Float])
  }

  test("types whose stats are never collected refuse rather than reading as all-null") {
    val t = freshTable()
    // decimal stats are uncollected (conservative skip in FileStats): a
    // populated decimal column must fall back, NOT report COUNT = 0
    CommitLog.commit(
      Seq((1L, BigDecimal("10.25")), (2L, BigDecimal("3.75")))
        .toDF("id", "amount"), t, "append")
    assert(CommitLog.metaAggregate(t, Seq("amount")) === None)
    assert(CommitLog.metaAggregate(t, Seq("id")).isDefined)
  }

  test("partition-path columns refuse (exact bounds exist, null counts do not)") {
    val t = freshTable()
    CommitLog.commit(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "p", "v"),
      t, "append", partitionBy = Seq("p"))
    assert(CommitLog.metaAggregate(t, Seq("p")) === None)
    val agg = CommitLog.metaAggregate(t, Seq("id", "v"))
    assert(agg.isDefined && agg.get.rowCount === 3L)
  }

  test("signed-zero bounds surface as +0.0 (parquet writers widen across the sign)") {
    val t = freshTable()
    // with a 0.0 present, the parquet footer stores min = -0.0 (spec-
    // directed widening); surfacing it raw hash-diverges from every
    // engine's scan MIN (caught live at sf0.1 by tx_stats_meta)
    CommitLog.commit(Seq((1L, 0.0), (2L, 3.5)).toDF("id", "v"), t, "append")
    val agg = CommitLog.metaAggregate(t, Seq("v")).get
    assert(agg.cols("v").min === Some(0.0))
    assert(java.lang.Double.doubleToRawLongBits(
      agg.cols("v").min.get.asInstanceOf[Double]) === 0L) // +0.0, bit-exact
    // genuinely negative bounds pass through untouched
    val t2 = freshTable()
    CommitLog.commit(Seq((1L, 0.0), (2L, -2.5)).toDF("id", "v"), t2, "append")
    assert(CommitLog.metaAggregate(t2, Seq("v")).get.cols("v")
      === CommitLog.MetaColAgg(Some(-2.5), Some(0.0), 2L))
  }

  test("honest None: inexact kinds, missing sidecars — never a wrong answer") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "ets", "value"),
      t, "append")
    // count alone is fine even when bounds can't answer
    assert(CommitLog.metaRowCount(t).isDefined)
    // a vanished sidecar (pre-feature table / foreign writer) refuses
    // EVERYTHING rather than undercounting
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val dir = CommitLog.commitDirOf(m.files.head)
    Files.delete(Paths.get(t).resolve(dir).resolve(FileStats.SidecarName))
    assert(CommitLog.metaAggregate(t, Nil) === None)
    assert(CommitLog.metaRowCount(t) === None)
  }

  test("timestamp bounds answer exactly for engine-written files (round-8 item 5)") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "ets", "value"), t, "append")
    CommitLog.delete(spark, t, col("event_type") === "error")
    val agg = CommitLog.metaAggregate(t, Seq("ets")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("ets"), max("ets"), count("ets"))
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].head()
    assert(agg.cols("ets") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
    // COUNT(ts_col) rides the same proof
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("ets"))
      .get.cols("ets").nonNull === scan._3)
  }

  test("timestamp additive evolution: pre-ts files PROVEN absent still answer") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "value"), t, "append")
    CommitLog.commit(events.limit(100).select("event_id", "value", "ets"), t, "append")
    val agg = CommitLog.metaAggregate(t, Seq("ets")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("ets"), max("ets"), count("ets"))
      .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].head()
    assert(agg.cols("ets") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
  }

  test("a foreign INT96 timestamp write refuses instead of masquerading as NULL") {
    val t = freshTable()
    // INT96 carries no usable stats: the sidecar lacks the column, and
    // WITHOUT the footer-schema proof those rows would read as
    // pre-evolution NULLs — bounds and counts must both refuse
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try CommitLog.commit(events.limit(50).select("event_id", "ets"), t, "append")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    assert(CommitLog.metaAggregate(t, Seq("ets")) === None)
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("ets")) === None)
    // the long column beside it still answers
    assert(CommitLog.metaAggregate(t, Seq("event_id")).isDefined)
  }

  test("DV-exact bounds: death-carrying files re-aggregate live (round-8 item 6)") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "ets", "value")
      .repartition(4), t, "append")
    // retire the global MAX id and every 'error' row — the stored footer
    // extremes are now dead in several files
    val maxId = CommitLog.read(spark, t).agg(max("event_id")).as[Long].head()
    CommitLog.deleteDv(spark, t,
      col("event_id") === maxId || col("event_type") === "error")
    // layer an updateDv on top (two DV generations + appended post-images)
    CommitLog.updateDv(spark, t, col("event_type") === "signup",
      Map("value" -> (col("value") + 0.5)))
    val agg = CommitLog.metaAggregate(t, Seq("event_id", "value", "ets")).get
    val scan = CommitLog.read(spark, t)
      .agg(count(lit(1)), min("event_id"), max("event_id"),
        min("value"), max("value"), count("value"),
        min("ets"), max("ets"))
      .as[(Long, Long, Long, Double, Double, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .head()
    assert(agg.rowCount === scan._1)
    assert(agg.cols("event_id").min === Some(scan._2))
    assert(agg.cols("event_id").max === Some(scan._3))
    assert(agg.cols("value") ===
      CommitLog.MetaColAgg(Some(scan._4), Some(scan._5), scan._6))
    assert(agg.cols("ets") === CommitLog.MetaColAgg(Some(scan._7), Some(scan._8),
      scan._1))
    // COUNT(col) under DVs is exact too (dead nulls vs dead values split)
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("value"))
      .get.cols("value").nonNull === scan._6)
  }

  test("string bounds answer exactly for engine-written files (round-10 item 6)") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "value"), t, "append")
    CommitLog.delete(spark, t, col("event_type") === "error")
    val agg = CommitLog.metaAggregate(t, Seq("event_type")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("event_type"), max("event_type"), count("event_type"))
      .as[(String, String, Long)].head()
    assert(agg.cols("event_type") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
    assert(agg.cols("event_type").min.get.isInstanceOf[String])
  }

  test("CONVERT-imported foreign files refuse string bounds (writer truncation unprovable)") {
    val t = freshTable()
    val dir = java.nio.file.Paths.get(t)
    events.limit(200).select("event_id", "event_type", "value")
      .write.parquet(t)
    CommitLog.convert(spark, t)
    // the sidecar HAS string bounds (pruning uses them — truncated bounds
    // are still valid bounds) but cannot prove them untruncated: refuse
    assert(CommitLog.metaAggregate(t, Seq("event_type")) === None)
    // numeric bounds (fixed-width, untruncatable) and string COUNTs still
    // answer on the same converted snapshot
    assert(CommitLog.metaAggregate(t, Seq("event_id")).isDefined)
    assert(CommitLog.metaAggregate(t, Nil,
      countOnlyColumns = Seq("event_type")).isDefined)
    // an engine rewrite (compact) re-writes through the untruncating
    // writer: string bounds answer afterwards
    CommitLog.compact(spark, t)
    val agg = CommitLog.metaAggregate(t, Seq("event_type")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("event_type"), max("event_type"), count("event_type"))
      .as[(String, String, Long)].head()
    assert(agg.cols("event_type") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
  }

  test("strings past the 64-byte sidecar cut refuse rather than bounding on a prefix") {
    val t = freshTable()
    val long = "z" * 80
    CommitLog.commit(Seq((1L, "alpha"), (2L, long)).toDF("id", "s"), t, "append")
    assert(CommitLog.metaAggregate(t, Seq("s")) === None)
    // counts don't depend on bounds
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("s"))
      .get.cols("s").nonNull === 2L)
  }

  test("string additive evolution: pre-column files PROVEN absent still answer") {
    val t = freshTable()
    CommitLog.commit(events.limit(100).select("event_id", "value"), t, "append")
    CommitLog.commit(events.limit(40).select("event_id", "value", "event_type"),
      t, "append")
    val agg = CommitLog.metaAggregate(t, Seq("event_type")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("event_type"), max("event_type"), count("event_type"))
      .as[(String, String, Long)].head()
    assert(agg.cols("event_type") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
  }

  test("DV string bounds: death-carrying files re-aggregate live strings exactly") {
    val t = freshTable()
    CommitLog.commit(events.select("event_id", "event_type", "value")
      .repartition(4), t, "append")
    // retire the lexicographic extremes ('click'…'view' shrink as rows die)
    val minType = CommitLog.read(spark, t).agg(min("event_type")).as[String].head()
    CommitLog.deleteDv(spark, t, col("event_type") === minType)
    val agg = CommitLog.metaAggregate(t, Seq("event_type")).get
    val scan = CommitLog.read(spark, t)
      .agg(min("event_type"), max("event_type"), count("event_type"))
      .as[(String, String, Long)].head()
    assert(agg.cols("event_type") ===
      CommitLog.MetaColAgg(Some(scan._1), Some(scan._2), scan._3))
  }

  test("writer-disabled string stats refuse string COUNTs too (round-11 ADVICE, medium)") {
    val t = freshTable()
    // a foreign writer that emitted NO statistics for the string column:
    // the file physically carries event_type but leaves no sidecar entry,
    // and "absent" must not read as "predates the column" — a metadata
    // count(event_type) would silently report 0 for these rows
    events.limit(50).select("event_id", "event_type", "value")
      .write.option("parquet.column.statistics.enabled#event_type", "false")
      .parquet(t)
    CommitLog.convert(spark, t)
    assert(CommitLog.metaAggregate(t, Nil,
      countOnlyColumns = Seq("event_type")) === None)
    // numeric stats were still written — their counts answer fine
    assert(CommitLog.metaAggregate(t, Nil, countOnlyColumns = Seq("event_id"))
      .get.cols("event_id").nonNull === 50L)
  }

  test("DV bounds on a file whose every row died fall to the clean files' answer") {
    val t = freshTable()
    CommitLog.commit(Seq((1L, 5.0), (2L, 50.0)).toDF("id", "v"), t, "append")
    CommitLog.commit(Seq((3L, 0.5), (4L, 99.0)).toDF("id", "v"), t, "append")
    // kill the entire second commit's rows — the global min AND max both
    // lived there; the metadata answer must come from the surviving file
    CommitLog.deleteDv(spark, t, col("id") >= 3L)
    val agg = CommitLog.metaAggregate(t, Seq("v")).get
    assert(agg.rowCount === 2L)
    assert(agg.cols("v") === CommitLog.MetaColAgg(Some(5.0), Some(50.0), 2L))
  }
}
