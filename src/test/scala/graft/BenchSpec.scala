package graft

import graft.SparkSpec

/** Bench must surface query failures as explicit error markers, never as
  * plausible durations (round-3 VERDICT item 3). */
class BenchSpec extends SparkSpec {

  test("a crashing query records an error marker, not a timing") {
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("deliberately broken")
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("id")
    }
    val results = Seq(
      "broken_query" -> Bench.timeQuery(spark, "/unused", boom),
      "healthy_query" -> Bench.timeQuery(spark, "/unused", ok))
    val broken = results.head._2
    assert(broken.seconds.isEmpty)
    assert(broken.error.exists(_.contains("deliberately broken")))
    val healthy = results(1)._2
    assert(healthy.seconds.exists(_ > 0) && healthy.error.isEmpty)

    val json = Bench.renderJson(results, "/root/testdata/sf0.1")
    // the failed query appears with the impossible -1 sentinel AND a message
    assert(json.contains("\"broken_query\":-1"))
    assert(json.contains("\"errors\":{\"broken_query\":"))
    assert(json.contains("deliberately broken"))
    // total sums only successful queries
    assert(!json.contains("\"value\":-1"))
    // healthy runs keep the original shape: no errors object at all
    val clean = Bench.renderJson(results.drop(1), "/root/testdata/sf0.1")
    assert(!clean.contains("errors"))
  }

  test("operator split appears as a sibling object and never inflates the total") {
    val ok = (s: org.apache.spark.sql.SparkSession, _: String) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("id")
    }
    val results = Seq("q_prop" -> Bench.timeQuery(spark, "/unused", ok))
    val operators = Seq("q_prop" -> Bench.timeQuery(spark, "/unused", ok))
    val json = Bench.renderJson(results, "/root/testdata/sf0.1", operators)
    assert(json.contains("\"operator\":{\"q_prop\":"))
    // total still sums the FULL queries only (operator numbers are a split,
    // not extra work)
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(json).get.group(1).toDouble
    assert(math.abs(total - results.head._2.seconds.get) < 1e-9)
    // every operator key must mirror a full query of the same name
    assert(SparkEntry.operatorQueries.keySet.subsetOf(SparkEntry.queries.keySet))
    // a crashing operator twin surfaces as a namespaced error marker
    val boom = (_: org.apache.spark.sql.SparkSession, _: String) =>
      throw new IllegalStateException("twin broke")
    val j2 = Bench.renderJson(results, "/root/testdata/sf0.1",
      Seq("q_prop" -> Bench.timeQuery(spark, "/unused", boom)))
    assert(j2.contains("\"operator\":{\"q_prop\":-1"))
    assert(j2.contains("\"errors\":{\"operator:q_prop\":"))
  }

  test("cross-run medians aggregate per query over the history file") {
    val hist = graft.SparkSpec.tmpPath("graft_bench")
      .resolve("hist.jsonl").toString
    def t(sec: Double) = Bench.Timing(Some(sec), None)
    // three runs with a drifty q1 and a stable q2; q3 fails in run 2
    val c1 = Bench.crossRunMedians(hist, "sfX",
      Seq("q1" -> t(1.0), "q2" -> t(0.5), "q3" -> t(2.0)))
    assert(c1.runs === 1 && c1.recent("q1") === 1.0)
    val c2 = Bench.crossRunMedians(hist, "sfX",
      Seq("q1" -> t(9.0), "q2" -> t(0.5), "q3" -> Bench.Timing(None, Some("boom"))))
    assert(c2.runs === 2)
    // a query that ERRORED this run keeps its historical median — the
    // failure is loud in n_errors, and dropping it would shrink
    // median_value into a fake improvement
    assert(c2.recent("q3") === 2.0)
    val c3 = Bench.crossRunMedians(hist, "sfX",
      Seq("q1" -> t(1.2), "q2" -> t(0.6), "q3" -> t(2.2)))
    assert(c3.runs === 3)
    // median discards the 9.0 spike; failed run contributes nothing for q3
    assert(c3.recent("q1") === 1.2)
    assert(c3.recent("q2") === 0.5)
    assert(c3.recent("q3") === 2.2)
    // under MedianWindow runs, windowed == all-history
    assert(c3.recent === c3.all)
    assert(c3.recentRuns === 3)
    // q3 has only 2 recorded samples (its run-2 failure recorded nothing):
    // the min-series length exposes that `runs` overclaims its sample
    assert(c3.minRuns === 2)
    // a different sf shares the file without cross-talk
    val cY = Bench.crossRunMedians(hist, "sfY", Seq("q1" -> t(100.0)))
    assert(cY.runs === 1 && cY.recent("q1") === 100.0)
    // and the rendered line carries the cross-run fields
    val json = Bench.renderJson(Seq("q1" -> t(1.2)), "sfX", Nil, Some(c3))
    assert(json.contains("\"runs\":3"))
    assert(json.contains("\"median_min_runs\":2"))
    assert(json.contains("\"median_queries\":{"))
    assert(json.contains("\"median_value\":"))
    assert(json.contains("\"median_all_value\":"))
    assert(json.contains("\"median_window\":3"))
  }

  test("the headline median is WINDOWED: a real fix shows within " +
      "MedianWindow runs instead of being buried by stale history " +
      "(round-12 VERDICT item 3)") {
    val hist = graft.SparkSpec.tmpPath("graft_bench3")
      .resolve("hist.jsonl").toString
    def t(sec: Double) = Bench.Timing(Some(sec), None)
    // 20 slow historical runs, then MedianWindow fast runs after a fix
    (1 to 20).foreach { _ =>
      Bench.crossRunMedians(hist, "sfX", Seq("q_fixed" -> t(2.7)))
    }
    val c = (1 to Bench.MedianWindow).map { _ =>
      Bench.crossRunMedians(hist, "sfX", Seq("q_fixed" -> t(1.1)))
    }.last
    // the all-history median still reads the OLD number (that's the
    // continuity series); the HEADLINE reads the fix
    assert(c.all("q_fixed") === 2.7)
    assert(c.recent("q_fixed") === 1.1)
    assert(c.recentRuns === Bench.MedianWindow)
    assert(c.runs === 20 + Bench.MedianWindow)
  }

  test("medians are restricted to the current run's query set (like-for-like)") {
    val hist = graft.SparkSpec.tmpPath("graft_bench2")
      .resolve("hist.jsonl").toString
    def t(sec: Double) = Bench.Timing(Some(sec), None)
    // two historical runs carry q_old; the current run renamed it to q_new
    Bench.crossRunMedians(hist, "sfX", Seq("q_old" -> t(5.0), "q_keep" -> t(1.0)))
    Bench.crossRunMedians(hist, "sfX", Seq("q_old" -> t(5.0), "q_keep" -> t(1.0)))
    val c = Bench.crossRunMedians(hist, "sfX",
      Seq("q_new" -> t(2.0), "q_keep" -> t(1.0)))
    assert(c.runs === 3)
    // the removed query's stale history no longer leaks into the medians
    assert(!c.recent.contains("q_old"))
    assert(c.recent("q_keep") === 1.0)
    // the new query's median exists but over a 1-run series — surfaced via
    // the min-series length, not silently blended into `runs`
    assert(c.recent("q_new") === 2.0)
    assert(c.minRuns === 1)
    assert(math.abs(c.recent.values.sum - 3.0) < 1e-9)
  }
}
