package graft.tools

/** Dump `.explain("formatted")` for a set of SparkEntry queries to files —
  * the before/after plan evidence for optimization rounds.
  *
  * Usage: PlanDump <outDir> <suffix> [queryName ...]
  * Writes <outDir>/<query>_<suffix>.txt for each named query (all queries
  * when none are named). The session is Bench's ([[graft.GraftSession.harness]]),
  * so the dumped plan is the plan the bench actually runs. Each query is EXECUTED
  * once first (count) so AQE-finalized artifacts (persisted stores, memoized
  * index builds) exist before the plan is captured, then the plan printed is
  * the pre-execution formatted plan of a fresh invocation — the same thing
  * `explain("formatted")` shows a user.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.harness("graft-plandump", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val all = graft.SparkEntry.queries
    val picked = if (names.isEmpty) all.keys.toSeq.sorted else names
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    picked.foreach { name =>
      val fn = all(name)
      try {
        spark.sparkContext.setJobDescription(s"plandump: $name")
        fn(spark, sfDir).count()
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
