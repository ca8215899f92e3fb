package graft.cluster

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bucketed co-located join: same results as the plain join, with NO
  * shuffle exchange on either side of the join. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("co-bucketed tables join without an Exchange and match the plain join") {
    val dir = tmpDir("bucketing")
    val fact1 = spark.range(4000).select(
      (col("id") % 500).as("k"), (col("id") * 3).as("a"))
    val fact2 = spark.range(1000).select(
      (col("id") % 500).as("fk"), (col("id") + 7).as("b"))
    Bucketing.writeBucketed(fact1, "bspec_f1", s"$dir/f1", "k", 8)
    Bucketing.writeBucketed(fact2, "bspec_f2", s"$dir/f2", "fk", 8)
    // Bucketing pays off on fact-fact joins, where neither side broadcasts;
    // disable auto-broadcast so the planner takes the sort-merge path this
    // test asserts on (at real scale the sizes do that).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bspec_f1")
        .join(spark.table("bspec_f2"), col("k") === col("fk"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)

      val got = joined.groupBy("k").agg(count(lit(1)).as("n"), sum("b").as("sb"))
        .as[(Long, Long, Long)].collect().toSet
      val expect = fact1.join(fact2, col("k") === col("fk"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum("b").as("sb"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === expect)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ensureBucketed writes once, then reuses the catalog table") {
    val dir = tmpDir("bucketing_once")
    var builds = 0
    def df = { builds += 1; spark.range(100).select(col("id").as("k")) }
    graft.tools.ScaleSmoke.ensureBucketed(spark, df, "bspec_once", s"$dir/t", "k", 4)
    graft.tools.ScaleSmoke.ensureBucketed(spark, df, "bspec_once", s"$dir/t", "k", 4)
    assert(builds === 1)
    assert(spark.table("bspec_once").count() === 100)
  }
}
