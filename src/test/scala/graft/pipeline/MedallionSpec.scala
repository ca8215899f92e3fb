package graft.pipeline

import graft.SparkSpec
import graft.bronze.BronzeWriter
import graft.silver.TsunamiFacts
import graft.sinks.FileSinks
import graft.serve.KeyedSink
import graft.ingest.GeoJsonParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** End-to-end medallion flow over the FIXTURES.md GeoJSON fixture:
  * parse → bronze (partitioned parquet) → silver facts (golden values) →
  * file sinks → keyed serving sink. Mirrors the reference's
  * read-back-and-show checks as assertions (SURVEY.md §5). */
class MedallionSpec extends SparkSpec {

  lazy val events = GeoJsonParser.parseBody(spark, graft.Fixtures.featureCollection).cache()

  test("bronze: append twice doubles rows; overwrite resets; layout partitioned") {
    val dir = tmpDir("bronze")
    BronzeWriter.write(events, dir, "append")
    BronzeWriter.write(events, dir, "append")
    assert(BronzeWriter.read(spark, dir).count() === 4)
    BronzeWriter.write(events, dir, "overwrite")
    assert(BronzeWriter.read(spark, dir).count() === 2)
    // hive layout year=/month= exists → partition pruning works
    assert(new java.io.File(s"$dir/year=2014/month=1").exists())
    val pruned = BronzeWriter.read(spark, dir).filter("year = 2014")
    assert(pruned.count() === 2)
  }

  test("bronze: invalid mode throws; empty frame skipped") {
    val dir = tmpDir("bronze_bad")
    intercept[IllegalArgumentException](BronzeWriter.write(events, dir, "upsert"))
    BronzeWriter.write(events.limit(0), dir, "append")
    assert(!new java.io.File(dir).exists() || new java.io.File(dir).list().isEmpty)
  }

  test("silver: golden fact values from the fixture") {
    assert(TsunamiFacts.yearly(events).collect().toSeq === Seq(Row(2014, 1L)))
    assert(TsunamiFacts.monthly(events).collect().toSeq === Seq(Row(2014, 1, 1L)))
    assert(TsunamiFacts.countByYear(events).collect().toSeq === Seq(Row(2014, 2L)))
    assert(TsunamiFacts.countForYear(events, 2014) === 2)
    assert(TsunamiFacts.countForYear(events, 1999) === 0)
  }

  test("silver: partitioned write + read-back") {
    val ydir = tmpDir("silver_y")
    TsunamiFacts.writeYearly(events, ydir)
    val back = spark.read.parquet(ydir)
    assert(back.select("tsunami_yearly_count").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(new java.io.File(s"$ydir/year=2014").exists())
  }

  test("file sinks: timestamped dirs, skip-if-empty") {
    val dir = tmpDir("sinks")
    val now = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val csv = FileSinks.saveCsv(events, dir, now = now)
    assert(csv === Some(s"$dir/earthquake_data_20240102030405.csv"))
    assert(spark.read.option("header", "true").csv(csv.get).count() === 2)
    assert(FileSinks.saveJson(events.limit(0), dir) === None)
  }

  test("file sinks: two writes stamped in the same second keep both outputs") {
    val dir = tmpDir("sinks_same_second")
    val now = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
    val one = events.limit(1)
    val csv = Seq(FileSinks.saveCsv(events, dir, now = now), FileSinks.saveCsv(one, dir, now = now))
    val json = Seq(FileSinks.saveJson(events, dir, now = now), FileSinks.saveJson(one, dir, now = now))
    assert(csv.flatten === Seq(s"$dir/earthquake_data_20240102030405.csv",
      s"$dir/earthquake_data_20240102030405-1.csv"))
    assert(json.flatten === Seq(s"$dir/earthquake_data_20240102030405.json",
      s"$dir/earthquake_data_20240102030405-1.json"))
    assert(csv.flatten.map(spark.read.option("header", "true").csv(_).count()) === Seq(2L, 1L))
    assert(json.flatten.map(spark.read.json(_).count()) === Seq(2L, 1L))
  }

  test("schema evolution: appended batch with a new column merges on read") {
    import spark.implicits._
    val dir = tmpDir("evolve")
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 9)).toDF("id", "v", "extra").write.mode("append").parquet(dir)
    val merged = BronzeWriter.readEvolved(spark, dir)
    assert(merged.columns.sorted.toSeq === Seq("extra", "id", "v"))
    val byId = merged.collect().map(r => r.getAs[Long]("id") -> Option(r.get(r.fieldIndex("extra")))).toMap
    assert(byId(1L) === None)       // old rows read NULL for the added column
    assert(byId(2L) === Some(9))
  }

  test("clustering write: range-partitioned, sorted within partitions") {
    import spark.implicits._
    val df = spark.range(1000).select(
      (col("id") * 37 % 101).as("k"), col("id"))
    val clustered = graft.cluster.ClusterWrite.cluster(df, Seq(col("k")), Some(4))
    // each partition is internally sorted and ranges don't interleave
    val parts = clustered.select("k").as[Long].mapPartitions { it =>
      val v = it.toVector
      Iterator.single((v, v == v.sorted))
    }.collect()
    assert(parts.forall(_._2), "partition not internally sorted")
    val nonEmpty = parts.map(_._1).filter(_.nonEmpty)
    val ranges = nonEmpty.map(v => (v.head, v.last)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo, "partition ranges interleave")
      case _ =>
    }
  }

  test("keyed sink: rows arrive grouped by (month, year), eventtime desc") {
    val dir = tmpDir("keyed")
    KeyedSink.writeFiles(events, dir)
    assert(new java.io.File(s"$dir/month=1/year=2014").exists())
    // injected writer sees time-descending rows within each partition; the
    // probe is a JVM-static object because the writer closure is SERIALIZED
    // into the task — a captured local queue would mutate a copy and the
    // assertion would pass vacuously on an empty seq
    SinkProbe.reset()
    KeyedSink.write(events, new KeyedSink.RowWriter {
      def write(row: Row): Unit =
        SinkProbe.times.add(row.getAs[java.sql.Timestamp]("eventtime").getTime)
    })
    val times = SinkProbe.times.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
    assert(times.nonEmpty)
    assert(times === times.sorted.reverse)
  }

  test("cqlDdl derives the reference serving-table DDL shape from the schema") {
    val ddl = KeyedSink.cqlDdl(events.schema, "usgs_earthquake_events")
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS usgs_earthquake_events ("))
    assert(ddl.contains("PRIMARY KEY ((month, year), eventtime)"))
    assert(ddl.contains("CLUSTERING ORDER BY (eventtime DESC)"))
    // reference type choices (db-script.cql): TEXT ids, INT keys, FLOAT
    // magnitudes, TIMESTAMP times
    assert(ddl.contains("id TEXT"))
    assert(ddl.contains("month INT"))
    assert(ddl.contains("magnitude FLOAT"))
    assert(ddl.contains("eventtime TIMESTAMP"))
    // every schema column appears exactly once
    events.schema.fieldNames.foreach(n => assert(ddl.contains(s"    $n ")))
    intercept[IllegalArgumentException] {
      KeyedSink.cqlDdl(events.schema, "t", partitionKeys = Seq("nope"))
    }
  }

  test("keyed sink batched: chunking, pacing hook, per-row error capture") {
    import org.apache.spark.sql.functions._
    // 25 rows in ONE serving partition (single (month, year) key — clustered()
    // re-hashes by it, so chunk boundaries are observable), one poison row
    // (event id 'q7'), batch size 10
    val df = spark.range(25).select(
      lit(1).as("month"),
      lit(2024).as("year"),
      to_timestamp(lit("2024-01-01 00:00:00")).as("eventtime"),
      concat(lit("q"), col("id")).as("id"))
    SinkProbe.reset()
    val writer = new KeyedSink.RowWriter {
      override def open(o: KeyedSink.BatchOptions): Unit = SinkProbe.consistency.add(o.consistency)
      def write(row: Row): Unit =
        if (row.getAs[String]("id") == "q7") throw new RuntimeException("poison row")
      override def onBatchComplete(n: Int): Unit = SinkProbe.batchSizes.add(n)
    }
    val report = KeyedSink.writeBatched(df, writer,
      KeyedSink.BatchOptions(batchSize = 10, consistency = "LOCAL_QUORUM"))
    assert(report.written === 24L)
    assert(report.failed === 1L)
    assert(report.errorSamples.size === 1)
    assert(report.errorSamples.head.contains("poison row"))
    assert(SinkProbe.batchSizes.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq
      === Seq(5, 10, 10))
    assert(SinkProbe.consistency.peek() === "LOCAL_QUORUM")
  }
}

/** JVM-static capture target for serialized writer closures (local-mode
  * executors share the test JVM, so static state round-trips where captured
  * locals silently don't). */
object SinkProbe {
  val times = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  val consistency = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { times.clear(); batchSizes.clear(); consistency.clear() }
}
