package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** The per-query inspector for SparkEntry queries, run under the bench
  * session.
  *
  * Usage: PlanAudit <queryName> [sfDir]   (no arguments: list the queries)
  *
  * For the named query it prints, in order:
  *  1. build ms (the `queries(name)(spark, sf)` call, which holds
  *     analysis) and plan ms (`executedPlan`), both of a warm invocation;
  *  2. one cold and [[WarmReps]] warm reps — each its wall time, row count,
  *     the wall time of every Spark job it ran, and every stage over
  *     [[StageFloorMs]] of executor time;
  *  3. the same reps for the operator-only twin, when the query has one;
  *  4. the formatted physical plan, then the first [[HeadRows]] rows —
  *     the loop used to check that filters are pushed, joins broadcast
  *     where expected, and WholeStageCodegen spans are wide.
  */
object PlanAudit {
  val WarmReps = 2
  val StageFloorMs = 200L
  val HeadRows = 20

  final case class Rep(label: String, seconds: Double, rows: Long,
      jobs: Seq[String], stages: Seq[String])
  final case class Audit(buildMs: Double, planMs: Double, reps: Seq[Rep],
      plan: String, head: Seq[String])

  /** Job and stage lines of what ran since the last [[take]]. */
  private class Recorder extends SparkListener {
    private val starts = mutable.Map.empty[Int, Long]
    private val jobs = mutable.ArrayBuffer.empty[String]
    private val stages = mutable.ArrayBuffer.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(starts(e.jobId) = e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val ms = e.time - starts.remove(e.jobId).getOrElse(e.time)
      jobs += f"job ${e.jobId}%3d  ${ms / 1000.0}%6.3f s"
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val ms = m.executorRunTime
      if (ms > StageFloorMs) synchronized(stages +=
        f"[stage ${si.stageId}%3d] ${ms}%6d ms exec  ${si.numTasks}%3d tasks  " +
          f"in=${m.inputMetrics.recordsRead}%8d  shW=${m.shuffleWriteMetrics.recordsWritten}%8d  " +
          f"shR=${m.shuffleReadMetrics.recordsRead}%8d  ${si.name.takeWhile(_ != '(')}")
    }

    def take(spark: SparkSession): (Seq[String], Seq[String]) = {
      ListenerBusBridge.drain(spark.sparkContext)
      synchronized {
        val r = (jobs.toList, stages.toList)
        jobs.clear(); stages.clear()
        r
      }
    }
  }

  def audit(spark: SparkSession, name: String, sfDir: String): Audit = {
    val fn = graft.SparkEntry.queries(name)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try {
      def reps(label: String, f: (SparkSession, String) => DataFrame): Seq[Rep] =
        (0 to WarmReps).map { i =>
          rec.take(spark)
          val t0 = System.nanoTime()
          val rows = f(spark, sfDir).count()
          val seconds = (System.nanoTime() - t0) / 1e9
          val (jobs, stages) = rec.take(spark)
          Rep(s"$label ${if (i == 0) "cold" else s"warm$i"}", seconds, rows, jobs, stages)
        }
      val all = reps(name, fn) ++
        graft.SparkEntry.operatorQueries.get(name).toSeq.flatMap(reps(s"$name operator", _))
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val head = df.columns.mkString(" | ") +:
        df.take(HeadRows).toSeq.map(_.toSeq.map(String.valueOf).mkString(" | "))
      Audit((t1 - t0) / 1e6, (t2 - t1) / 1e6, all,
        df.queryExecution.explainString(FormattedMode), head)
    } finally spark.sparkContext.removeSparkListener(rec)
  }

  def render(a: Audit): Seq[String] =
    f"[audit] build ${a.buildMs}%.1f ms, plan ${a.planMs}%.1f ms" +:
      (a.reps.flatMap { r =>
        f"[audit] ${r.label}: ${r.seconds}%.2f s, ${r.rows} rows" +:
          (r.jobs.map("    " + _) ++ r.stages)
      } ++ (a.plan +: a.head))

  def main(args: Array[String]): Unit =
    if (args.isEmpty) graft.SparkEntry.queries.keys.toSeq.sorted.foreach(println)
    else {
      val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val spark = graft.GraftSession.harness("graft-planaudit", cpus)
      spark.sparkContext.setLogLevel("WARN")
      try render(audit(spark, args(0), sfDir)).foreach(println)
      finally spark.stop()
    }
}
