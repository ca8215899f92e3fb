package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession: engine defaults land in the session and the extensions are
  * live (functions callable, TopK strategy injected). Uses its own session
  * app name; getOrCreate reuses the shared test SparkContext. */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session is the bench harness: its confs and extensions") {
    val s = SparkSpec.spark
    assert(s.sparkContext.master === "local[4]")
    Seq("spark.sql.shuffle.partitions" -> "4", "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true", "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.ui.enabled" -> "false").foreach { case (k, v) =>
      assert(s.conf.get(k) === v, k)
    }
    // the extensions: an injected function, planner strategy and DML rule
    assert(s.catalog.functionExists("cosine_similarity"))
    val state = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    assert(state.planner.extraPlanningStrategies.contains(graft.plans.TopKStrategy))
    assert(state.analyzer.extendedResolutionRules.contains(graft.sql.GraftDmlRule))
  }

  test("src/main builds a SparkSession only in GraftSession and ScaleSmoke") {
    val builders = Files.walk(Paths.get("src/main")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filter(f => Files.readString(f).contains("SparkSession.builder()"))
      .map(_.getFileName.toString).sorted
    assert(builders === Seq("GraftSession.scala", "ScaleSmoke.scala"))
  }

  test("defaults + extensions are active in a GraftSession") {
    // Force the shared context first so getOrCreate attaches to it rather
    // than binding a second SparkContext.
    val shared = SparkSpec.spark
    // getOrCreate RETURNS the active session with this builder's confs
    // applied to it — snapshot what we touch and restore after, so the
    // shared test session keeps its own settings for other suites.
    val touched = Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.files.maxPartitionBytes", "spark.sql.legacy.parquet.nanosAsLong") ++
      graft.fs.LocalFs.hadoopKeys.keys.map("spark.hadoop." + _)
    val before = touched.map(k => k -> shared.conf.getOption(k)).toMap
    val s = GraftSession.builder("graft-session-spec", 4)
      .master("local[4]").getOrCreate()
    try {
      // session-level confs apply even on the shared context
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
      assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
      // the fork-free local file system, for both Hadoop file APIs
      assert(s.conf.get("spark.hadoop.fs.file.impl") ===
        classOf[graft.fs.NioLocalFileSystem].getName)
      assert(s.conf.get("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
        classOf[graft.fs.NioLocalFs].getName)
      // extensions: registered function + planner strategy usable end-to-end
      graft.functions.GraftFunctions.register(s)
      val one = s.sql(
        """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS c""")
        .collect().head.getDouble(0)
      assert(math.abs(one - 1.0) < 1e-12)
    } finally before.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
