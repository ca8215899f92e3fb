package medbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Operations attempted and failed, the failure messages, and the metrics
  * a workload reports. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Run one operation; an exception counts it as failed. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    Try(f) match {
      case Success(a) => Some(a)
      case Failure(e) =>
        failed += 1
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** One correctness check: false or an exception counts as failed. */
  def check(name: String)(ok: => Boolean): Unit =
    op(name)(ok) match {
      case Some(false) =>
        failed += 1
        failures += s"$name: output differs from the expected result"
      case _ =>
    }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""${Json.esc(k)}":{"value":$v,"unit":"${Json.esc(u)}"}""" }.mkString(",")
    val fs = failures.map(f => "\"" + Json.esc(f) + "\"").mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"failures":[$fs],"metrics":{$ms}}"""
  }
}

/** Entry point of one benchmark process: one workload, one seed.
  *
  * Arguments (all required): `--workload pipeline|suite --seed N
  * --seconds S --trace 0|1 --work DIR --cores N --launch-ms EPOCH_MS
  * --out FILE`, plus `--tables DIR` for the suite. The process writes one
  * JSON object to `--out`; `run.py` turns it into the benchmark's result
  * line. */
object Main {
  val SetupReps = 3

  def session(work: Path, cores: Int): SparkSession = {
    val s = graft.GraftSession.builder("medbench", cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Try(scala.io.Source.fromFile("/proc/self/status")).map { src =>
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
      }.getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = opts("cores").toInt
    val launchMs = opts("launch-ms").toLong
    val out = new Outcome

    // Set-up: the JVM's start (from run.py's launch) and the session's,
    // then the workload's fixture build and warm-up, repeated SetupReps
    // times, of which setup_s counts the median. The pipeline has no
    // warm-up: the cron job it models starts a fresh process every run, so
    // its first run pays start-up as its users do.
    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    var feeds: Pipeline.Feeds = null
    val reps = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      workload match {
        case "pipeline" => feeds = new Pipeline.Feeds(seed)
        case "suite" => Suite.warmUp(spark, opts("tables"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      (System.nanoTime() - t) / 1e9
    }
    System.err.println(f"[medbench] session start $sessionS%.3f s, set-up ${reps.map(r => f"$r%.3f").mkString(" ")} s")
    out.metric("setup_s", (mainMs - launchMs) / 1e3 + sessionS + median(reps), "s")

    val tracer = new Tracer(spark, trace)
    workload match {
      case "pipeline" => Pipeline.run(spark, tracer, out, work, seed, seconds, feeds)
      case "suite" => Suite.run(spark, tracer, out, work, opts("tables"), seconds)
    }
    System.err.println(f"[medbench] run and checks: ${(System.currentTimeMillis() - mainMs) / 1e3}%.3f s since main")
    if (trace) tracer.write(work.resolve("spans.jsonl"))
    spark.stop()
    Files.write(Paths.get(opts("out")), (out.json + "\n").getBytes("UTF-8"))
  }
}
