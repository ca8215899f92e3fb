package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The SQL front door: `spark.read.format("graft").load(root)` must serve
  * the commit-log snapshot through Spark's ordinary parquet scan — with
  * the stats-sidecar file skipping `readPruned` does, applied
  * automatically to every pushed predicate, and hive partition dirs
  * surfacing as real pruned partition columns. */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    graft.SparkSpec.tmpPath("graft_dsv").resolve("t").toString

  /** id-range-clustered commits so footer stats genuinely prune. */
  private def seedClustered(t: String): Unit = {
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"s$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    CommitLog.commit(batch(0, 400), t, "append")
    CommitLog.commit(batch(400, 800), t, "append")
  }

  private def scanFileCount(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, s"no file scan in:\n${df.queryExecution.executedPlan}")
    scans.map(_.metrics("numFiles").value).sum
  }

  test("format(\"graft\") reads the current snapshot; spark.sql works over a view") {
    val t = freshTable()
    seedClustered(t)
    CommitLog.delete(spark, t, col("id") < 100L)
    val df = spark.read.format("graft").load(t)
    assert(df.count() === CommitLog.read(spark, t).count())
    assert(df.orderBy("id").collect()
      .sameElements(CommitLog.read(spark, t).orderBy("id").collect()))
    // the reference's consumption model: plain SQL over the lake
    df.createOrReplaceTempView("graft_events_v")
    val n = spark.sql(
      "SELECT count(*) AS n FROM graft_events_v WHERE id >= 700").head().getLong(0)
    assert(n === 100L)
  }

  test("versionAsOf time travel matches readAt, schema included") {
    val t = freshTable()
    seedClustered(t) // v1, v2
    CommitLog.commit(Seq((9000L, "x", "late")).toDF("id", "s", "tag"), t, "append") // v3 + tag
    val v1 = spark.read.format("graft").option("versionAsOf", 1L).load(t)
    assert(v1.count() === 400L)
    assert(!v1.columns.contains("tag"))
    assert(v1.orderBy("id").collect()
      .sameElements(CommitLog.readAt(spark, t, 1L).orderBy("id").collect()))
    assert(spark.read.format("graft").load(t).columns.contains("tag"))
  }

  test("pushed predicates prune files through the stats sidecars, matching readPruned") {
    val t = freshTable()
    seedClustered(t)
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val expected = CommitLog.pruneFiles(t, m,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 3L))).size
    assert(expected < m.files.size, "fixture must actually prune")
    val q = spark.read.format("graft").load(t).filter(col("id") === 3L)
    assert(scanFileCount(q) === expected.toLong)
    // and the rows equal the opt-in API's
    assert(q.collect().sameElements(
      CommitLog.readPruned(spark, t, col("id") === 3L).collect()))
    // PushedFilters reached the parquet scan (row-group pushdown intact)
    val scanStr = q.queryExecution.executedPlan.toString
    assert(scanStr.contains("EqualTo(id,3)") && scanStr.contains("PushedFilters: ["), scanStr)
  }

  test("Bloom sidecars prune point lookups through the SQL scan too (round-8 item 8)") {
    val t = freshTable()
    graft.tx.BloomIndex.setColumns(t, Seq("id"))
    // ROUND-ROBIN layout: every file's [min,max] spans the whole key
    // domain, so stats pruning keeps all files — only the per-file Bloom
    // sidecars can shrink a point lookup. The serving shape must hold at
    // the SQL front door, not just the Scala readPruned path.
    CommitLog.commit((0 until 1024).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .repartition(8), t, "append")
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(m.files.size === 8)
    val expected = CommitLog.pruneFiles(t, m,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 77L))).size
    assert(expected === 1, "bloom must plan exactly the key's file")
    spark.read.format("graft").load(t).createOrReplaceTempView("bloom_sql_v")
    val q = spark.sql("SELECT id, s FROM bloom_sql_v WHERE id = 77")
    // scanFileCount collects internally — a SECOND collect on the same
    // Dataset resets the scan's driver-side metrics (numFiles reads 0)
    assert(scanFileCount(q) === 1L)
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(77L))
  }

  test("readChangeFeed batch reader serves the typed change rows for a version range") {
    val t = freshTable()
    CommitLog.commit((0 until 4).map(i => (i.toLong, s"s$i")).toDF("id", "s"), t, "append")
    CommitLog.delete(spark, t, col("id") === 1L)                       // v2
    CommitLog.update(spark, t, col("id") === 2L, Map("s" -> lit("u"))) // v3
    CommitLog.commit(Seq((9L, "s9")).toDF("id", "s"), t, "append")     // v4
    val cdf = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", 2)
      .load(t)
    val got = cdf.select(col(CommitLog.CommitVersionCol),
        col(CommitLog.ChangeTypeCol), col("id"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(got === Seq((2L, "delete", 1L), (3L, "update_postimage", 2L),
      (3L, "update_preimage", 2L), (4L, "insert", 9L)))
    // endingVersion bounds the slice inclusively
    assert(spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 2).option("endingVersion", 3).load(t)
      .count() === 3L)
    // and SQL works over a CDF temp view
    cdf.createOrReplaceTempView("cdf_v")
    assert(spark.sql(s"SELECT count(*) FROM cdf_v WHERE ${CommitLog.ChangeTypeCol} = 'insert'")
      .head().getLong(0) === 1L)
    val e = intercept[Exception] {
      spark.read.format("graft").option("readChangeFeed", "true").load(t).collect()
    }
    assert(e.getMessage.contains("startingVersion"))
  }

  test("additive evolution reads NULL for pre-column files — even when the " +
      "snapshot schema recorded the column non-nullable") {
    val t = freshTable()
    CommitLog.commit((0 until 10).map(i => (i.toLong, s"s$i")).toDF("id", "s"), t, "append")
    // lit() makes batch_tag NON-nullable in the committed schema; a file
    // source serving that schema verbatim refuses v1 files ("required
    // column is missing") and lets the optimizer rewrite count(tag) to
    // count(*) on the never-null premise — both observed live before the
    // schemas were forced nullable like Spark's own reader does
    CommitLog.commit((10 until 20).map(i => (i.toLong, s"s$i")).toDF("id", "s")
      .withColumn("tag", lit("late")), t, "append")
    val g = spark.read.format("graft").load(t)
    assert(g.agg(count(lit(1)), count(col("tag"))).head().toSeq === Seq(20L, 10L))
    assert(g.filter(col("tag").isNull).count() === 10L)
  }

  test("snapshot isolation: a commit after relation creation is invisible") {
    val t = freshTable()
    seedClustered(t)
    val df = spark.read.format("graft").load(t)
    assert(df.count() === 800L)
    CommitLog.commit(Seq((9000L, "x")).toDF("id", "s"), t, "append")
    assert(df.count() === 800L) // pinned manifest
    assert(spark.read.format("graft").load(t).count() === 801L)
  }

  test("df.write.format(\"graft\") IS a transactional commit: modes, txn, partitionBy") {
    val t = freshTable()
    val df1 = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    df1.write.format("graft").mode("append")
      .option("partitionBy", "bucket").save(t)
    assert(CommitLog.latestVersion(t) === Some(1L))
    assert(CommitLog.manifest(t, 1L).files.exists(_.contains("bucket=")))
    // append accumulates; overwrite replaces — through the commit protocol
    df1.write.format("graft").mode("append").save(t)
    assert(CommitLog.read(spark, t).count() === 200L)
    df1.write.format("graft").mode("overwrite").save(t)
    assert(CommitLog.read(spark, t).count() === 100L)
    assert(CommitLog.versions(t).size === 3)
    // per-writer exactly-once via options: the replayed batch lands once
    val more = Seq((900L, 9)).toDF("id", "bucket")
    more.write.format("graft").mode("append")
      .option("txnAppId", "sqlwriter").option("txnVersion", "1").save(t)
    more.write.format("graft").mode("append")
      .option("txnAppId", "sqlwriter").option("txnVersion", "1").save(t)
    assert(CommitLog.read(spark, t).filter(col("id") === 900L).count() === 1L)
    // ErrorIfExists refuses a live table; Ignore no-ops
    intercept[IllegalStateException] {
      df1.write.format("graft").mode("error").save(t)
    }
    val n = CommitLog.read(spark, t).count()
    df1.write.format("graft").mode("ignore").save(t)
    assert(CommitLog.read(spark, t).count() === n)
    // and the round-trip reads back through the same source
    assert(spark.read.format("graft").load(t).count() === n)
    // the retired mirror option refuses loudly (Spark would pass it
    // through in silence) and names the stream that replaced it; a cdc
    // overwrite journals its diff so the change feed serves it with no
    // opt-in
    val t2 = freshTable()
    val e = intercept[IllegalArgumentException] {
      df1.write.format("graft").mode("append").option("mirror", "true").save(t2)
    }
    assert(e.getMessage.contains("readStream.format(\"graft\")"))
    assert(CommitLog.latestVersion(t2).isEmpty)
    df1.write.format("graft").mode("append").save(t2)
    df1.filter(col("id") < 10L).write.format("graft").mode("overwrite")
      .option("cdc", "true").save(t2)
    val feed = CommitLog.changeFeed(spark, t2, fromVersion = 1L)
    assert(feed.filter(col(CommitLog.ChangeTypeCol) === "delete").count() === 90L)
  }

  test("option(\"replaceWhere\", pred) swaps one region atomically (Delta's write option)") {
    val t = freshTable()
    val df = (0 until 100).map(i => (i.toLong, i % 4)).toDF("id", "bucket")
    df.write.format("graft").mode("append")
      .option("partitionBy", "bucket").save(t)
    val before = CommitLog.manifest(t, 1L)
    // replace bucket 0 only — one version, mode "replace"
    val repl = Seq((1000L, 0), (1001L, 0)).toDF("id", "bucket")
    repl.write.format("graft").mode("overwrite")
      .option("replaceWhere", "bucket = 0").save(t)
    val m = CommitLog.manifest(t, 2L)
    assert(m.mode === "replace")
    assert(CommitLog.read(spark, t).count() === 77L) // 75 kept + 2 new
    assert(CommitLog.read(spark, t).filter(col("bucket") === 0).count() === 2L)
    // untouched partitions carried by reference, not rewritten
    val kept = before.files.filterNot(_.contains("bucket=0"))
    assert(kept.nonEmpty && kept.forall(m.files.contains))
    // source rows outside the predicate refuse (the wrong-region guard)
    intercept[Exception] {
      Seq((5000L, 1)).toDF("id", "bucket").write.format("graft")
        .mode("overwrite").option("replaceWhere", "bucket = 0").save(t)
    }
    // and a non-overwrite mode with the option set refuses loudly
    intercept[Exception] {
      repl.write.format("graft").mode("append")
        .option("replaceWhere", "bucket = 0").save(t)
    }
  }

  test("a write to a DV-carrying table succeeds (only READS refuse DV snapshots)") {
    val t = freshTable()
    seedClustered(t)
    CommitLog.deleteDv(spark, t, col("id") === 3L)
    // the write must commit cleanly — the pre-fix code built the READ
    // relation after committing, which throws on DV tables and surfaced a
    // durable write as a failure (whose naive retry double-appends)
    Seq((9000L, "x")).toDF("id", "s").write.format("graft").mode("append").save(t)
    assert(CommitLog.read(spark, t).count() === 800L) // 800 − 1 dead + 1 new
    // half a txn pair is refused, not silently dropped
    val e = intercept[IllegalArgumentException] {
      Seq((9001L, "y")).toDF("id", "s").write.format("graft").mode("append")
        .option("txnAppId", "w").save(t)
    }
    assert(e.getMessage.contains("together"))
  }

  test("DV-carrying snapshots serve through the merge-on-read fallback relation") {
    val t = freshTable()
    seedClustered(t)
    CommitLog.deleteDv(spark, t, col("id").isin(3L, 500L))
    val g = spark.read.format("graft").load(t)
    assert(g.count() === 798L)
    assert(g.filter(col("id").isin(3L, 500L)).count() === 0L)
    assert(g.orderBy("id").collect()
      .sameElements(CommitLog.read(spark, t).orderBy("id").collect()))
    // spark.sql over a view, pushed predicate included
    g.createOrReplaceTempView("graft_dv_v")
    assert(spark.sql("SELECT count(*) AS n FROM graft_dv_v WHERE id < 10")
      .head().getLong(0) === 9L)
    // time travel to the pre-DV version (v2: both appends) takes the fast
    // file-scan path
    assert(spark.read.format("graft").option("versionAsOf", 2L).load(t)
      .count() === 800L)
    // and time travel INTO a DV version (v3) through the fallback
    CommitLog.deleteDv(spark, t, col("id") === 700L) // v4
    assert(spark.read.format("graft").option("versionAsOf", 3L).load(t)
      .count() === 798L)
    assert(spark.read.format("graft").load(t).count() === 797L)
  }

  test("hive-partitioned commit dirs surface as pruned partition columns") {
    val t = freshTable()
    val df = (0 until 300).map(i => (i.toLong, s"s$i", i % 3)).toDF("id", "s", "bucket")
    CommitLog.commit(df, t, "append", partitionBy = Seq("bucket"))
    CommitLog.commit(df.filter(col("bucket") === 0).withColumn("id", col("id") + 1000L),
      t, "append", partitionBy = Seq("bucket"))
    val g = spark.read.format("graft").load(t)
    // partition column round-trips with its type and values
    assert(g.schema("bucket").dataType === org.apache.spark.sql.types.IntegerType)
    assert(g.count() === 400L)
    assert(g.groupBy("bucket").count().orderBy("bucket")
      .as[(Int, Long)].collect().toSeq === Seq((0, 200L), (1, 100L), (2, 100L)))
    // a partition predicate prunes DIRECTORIES: only bucket=1 files scanned
    val q = g.filter(col("bucket") === 1)
    val all = CommitLog.manifest(t, CommitLog.latestVersion(t).get).files
    val bucket1 = all.count(_.contains("bucket=1"))
    assert(bucket1 < all.size)
    assert(scanFileCount(q) === bucket1.toLong)
    assert(q.count() === 100L)
  }
}
