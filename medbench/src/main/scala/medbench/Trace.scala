package medbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a program layer, with the Spark work it caused. */
final class Span(val id: Int, val layer: String, val name: String,
    val parent: Option[Span], val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var scanBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val children = mutable.ArrayBuffer.empty[Span]

  def wallS: Double = (endNs - startNs) / 1e9
  /** Wall time not covered by a child span. */
  def selfS: Double = wallS - children.map(_.wallS).sum
  /** Wall time during which none of this span's own Spark jobs ran. */
  def driverS: Double = {
    val clipped = jobIntervals.map { case (a, b) =>
      (math.max(a, startMs), math.min(b, endMs)) }.filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += math.max(0L, hi - lo)
    math.max(0.0, wallS - covered / 1e3)
  }
}

/** Spans recorded from outside the program: the benchmark wraps each call
  * it makes into a layer's public functions in [[apply]]. Spark work is
  * attributed to the innermost open span through a job tag per span, read
  * back by this tracer's own `SparkListener` (jobs, tasks, task time,
  * scan/shuffle/spill bytes) and `QueryExecutionListener` (analysis,
  * optimization and planning phases). A disabled tracer only runs the
  * wrapped call. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val TagPrefix = "medbench-span-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  private val spanById = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Long)]
  private val execSpan = mutable.Map.empty[Long, Span]
  private val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]

  private def innermost(tags: Iterable[String]): Option[Span] =
    tags.filter(_.startsWith(TagPrefix))
      .flatMap(t => t.stripPrefix(TagPrefix).toIntOption).maxOption
      .flatMap(spanById.get)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      innermost(tags).foreach { s =>
        s.jobs += 1
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.taskMs += m.executorRunTime
        s.scanBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        innermost(x.jobTags).foreach(execSpan(x.executionId) = _)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      Tracer.this.synchronized { phases += ((qe.id, p)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def apply[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = synchronized {
        val s = new Span(spans.size, layer, name, open.headOption,
          System.nanoTime(), System.currentTimeMillis())
        spans += s
        spanById(s.id) = s
        s.parent.foreach(_.children += s)
        open = s :: open
        s
      }
      sc.addJobTag(TagPrefix + s.id)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        sc.removeJobTag(TagPrefix + s.id)
        synchronized { open = open.tail }
      }
    }

  /** Deliver every queued listener event and fold the plan phases into
    * their spans; call once, after the traced region. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.MedbenchBus.drain(sc)
    synchronized {
      phases.foreach { case (execId, p) =>
        execSpan.get(execId).foreach { s =>
          s.analysisMs += p.getOrElse("analysis", 0L)
          s.optimizationMs += p.getOrElse("optimization", 0L)
          s.planningMs += p.getOrElse("planning", 0L)
        }
      }
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def named(layer: String, name: String): Seq[Span] =
    spans.filter(s => s.layer == layer && s.name == name).toSeq
  def wall(layer: String, name: String): Double = named(layer, name).map(_.wallS).sum
  def inLayer(layer: String): Seq[Span] = spans.filter(_.layer == layer).toSeq

  /** The generic per-layer figures every layer reports. */
  def layerMetrics(layers: Seq[String]): Seq[(String, Double, String)] =
    layers.flatMap { l =>
      val ss = inLayer(l)
      Seq((s"$l.self_s", ss.map(_.selfS).sum, "s"),
        (s"$l.jobs", ss.map(_.jobs).sum.toDouble, "count"),
        (s"$l.task_s", ss.map(_.taskMs).sum / 1e3, "s"))
    }

  /** Spans as JSON lines, children after parents. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent.map(_.id).getOrElse(-1)},""" +
        s""""layer":"${s.layer}","name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${s.startMs},"wall_s":${s.wallS},"self_s":${s.selfS},""" +
        s""""driver_s":${s.driverS},"jobs":${s.jobs},"tasks":${s.tasks},""" +
        s""""task_s":${s.taskMs / 1e3},"scan_bytes":${s.scanBytes},""" +
        s""""shuffle_bytes":${s.shuffleBytes},"spill_bytes":${s.spillBytes},""" +
        s""""analysis_s":${s.analysisMs / 1e3},"optimization_s":${s.optimizationMs / 1e3},""" +
        s""""planning_s":${s.planningMs / 1e3}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
