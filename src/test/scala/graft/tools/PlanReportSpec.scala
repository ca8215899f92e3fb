package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The plan-audit counter (round-15 VERDICT item 3): facts must come from
  * a tree walk of the FINAL executed plan — a cached subplan re-renders
  * its full inner plan at every `InMemoryTableScan` reference, so a
  * string-matched count overstates exchanges for any query reusing a
  * persisted candidate set, and a deliberate plan-width regression could
  * hide inside (or be dwarfed by) the inflation. */
class PlanReportSpec extends SparkSpec {
  import spark.implicits._

  test("cached subplans count once, and a deliberate extra exchange moves " +
      "the number by exactly one") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // an aggregated (one inner exchange) frame, persisted and referenced
      // TWICE — the classic shape that inflates string-matched counts
      val agg = spark.range(1000).toDF("id")
        .withColumn("k", col("id") % 10)
        .groupBy("k").agg(count(lit(1)).as("n"))
        .persist()
      agg.count()
      val reused = agg.join(agg.select(col("k"), col("n").as("n2")), "k")
      val f = PlanReport.factsOf(reused)
      assert(f.cachedScans === 2, s"both references must surface: $f")
      // string rendering inflates: the cached agg's inner Exchange prints
      // once per reference — prove the tree count is strictly below it
      reused.count()
      val planStr = reused.queryExecution.executedPlan.toString
      val stringCount = "(?m)(?:^|- )Exchange ".r.findAllIn(planStr).length
      assert(stringCount > f.shuffleExchanges,
        s"string=$stringCount tree=${f.shuffleExchanges} — the rendering " +
          "no longer inflates, update this spec's premise")
      // a real plan-width regression MUST move the number: one repartition
      // on top adds exactly one shuffle exchange
      val widened = PlanReport.factsOf(reused.repartition(7))
      assert(widened.shuffleExchanges === f.shuffleExchanges + 1,
        s"base=$f widened=$widened")
      agg.unpersist(blocking = false)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("pushed_filters is three-state: yes when a scan carries pushdown, " +
      "none on an unpushable residual filter, n/a with no predicate") {
    val dir = graft.SparkSpec.tmpPath("graft_planrep")
    (0L until 100L).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    assert(PlanReport.factsOf(t.filter(col("id") > 50L))
      .pushedFilters === "yes")
    assert(PlanReport.factsOf(t.groupBy().sum("id"))
      .pushedFilters === "n/a")
    // a computed-column predicate still pushes its INFERRED isnotnull to
    // the scan — "yes" is the honest label (some pushdown happened)
    assert(PlanReport.factsOf(
        t.filter(sha2(concat(col("id").cast("string")), 256).startsWith("0")))
      .pushedFilters === "yes")
    assert(PlanReport.factsOf(spark.range(10).toDF("id").filter(col("id") > 3))
      .pushedFilters === "none", "non-file scans have nowhere to push")
  }
}
