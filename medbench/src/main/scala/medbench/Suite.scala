package medbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** The `suite` workload: named queries of the eight `*Queries` objects over
  * generated star-schema, event, document and embedding tables.
  *
  * The set is a fixed systematic sample, [[PerObject]] queries from each
  * object at evenly spaced ranks of its names. A cold pass runs each once
  * (its first call in the session); warm passes then repeat the set, at
  * least [[MinWarmPasses]] times and for `--seconds`, and each query's warm
  * time is its median over them. One more pass before them lets the JIT
  * settle and is not counted. Each call is timed through the `noop` sink, which
  * materializes every output column (`count()` would let Catalyst prune
  * them). After the timed passes each result is written to parquet with
  * its DuckDB twin, for run.py to compare. */
object Suite {
  val PerObject = 1
  val MinWarmPasses = 3

  val Objects: Seq[(String, Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ("EventQueries", EventQueries.queries, EventQueries.oracle),
    ("StarQueries", StarQueries.queries, StarQueries.oracle),
    ("TextQueries", TextQueries.queries, TextQueries.oracle),
    ("DedupQueries", DedupQueries.queries, DedupQueries.oracle),
    ("VectorQueries", VectorQueries.queries, VectorQueries.oracle),
    ("MediaQueries", MediaQueries.queries, MediaQueries.oracle),
    ("TxQueries", TxQueries.queries, TxQueries.oracle),
    ("StreamQueries", StreamQueries.queries, StreamQueries.oracle))

  final case class Q(obj: String, name: String, fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def selected: Seq[Q] = Objects.flatMap { case (obj, qs, oracle) =>
    val names = qs.keys.toSeq.sorted
    (0 until PerObject).map(i => names(((i + 0.5) * names.size / PerObject).toInt)).distinct
      .map(n => Q(obj, n, qs(n), oracle.get(n)))
  }

  /** Starts the executors and compiles the scan and aggregate paths,
    * without touching any query's session state. */
  def warmUp(spark: SparkSession, tables: String): Unit = {
    spark.read.parquet(s"$tables/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    spark.range(100000).selectExpr("id % 7 as k", "id").groupBy("k").sum("id")
      .write.format("noop").mode("overwrite").save()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, tr: Tracer, out: Outcome, work: Path, tables: String,
      seconds: Double): Unit = {
    val qs = selected
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val warm = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def call(q: Q): Option[Double] = tr("queries", s"${q.obj}.${q.name}") {
      val t0 = System.nanoTime()
      out.op(q.name)(noop(q.fn(spark, tables))).map(_ => (System.nanoTime() - t0) / 1e9)
    }
    val t0 = System.nanoTime()
    qs.foreach(q => call(q).foreach(cold(q.name) = _))
    qs.foreach(call)
    val tWarm = System.nanoTime()
    var passes = 0
    while (passes < MinWarmPasses || (System.nanoTime() - tWarm) / 1e9 < seconds) {
      qs.foreach(q => call(q).foreach(warm.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += _))
      passes += 1
    }
    val e2e = (System.nanoTime() - t0) / 1e9
    qs.foreach(q => System.err.println(f"[medbench] ${q.obj}.${q.name}: cold " +
      f"${cold.getOrElse(q.name, Double.NaN)}%.3f s, warm ${warm.get(q.name).map(_.mkString(" ")).getOrElse("-")}"))
    out.metric("measured_s", e2e, "s")
    out.metric("jvm.peak_rss_mb", Main.peakRssMb(), "MB")
    val perQuery = warm.values.map(ts => Main.median(ts.toSeq)).toSeq
    out.metric("cold_s", cold.values.sum, "s")
    out.metric("warm_p50_s", Main.median(perQuery), "s")
    out.metric("warm_p90_s", Main.percentile(perQuery, 0.9), "s")
    out.metric("warm_mean_s", perQuery.sum / math.max(1, perQuery.size), "s")
    tr.finish()

    // Results and their oracle SQL for run.py's DuckDB comparison.
    val results = work.resolve("results")
    Files.createDirectories(results)
    val oracle = qs.flatMap { q =>
      out.op(s"${q.name} result")(q.fn(spark, tables).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(q.name).toString))
      q.oracle.map(sql => s""""${Json.esc(q.name)}":"${Json.esc(sql)}"""")
    }
    Files.write(results.resolve("oracle_sql.json"),
      oracle.mkString("{", ",", "}").getBytes("UTF-8"))

    if (tr.enabled) {
      Objects.map(_._1).foreach { obj =>
        val ss = tr.inLayer("queries").filter(_.name.startsWith(obj + "."))
        def m(k: String, v: Double, u: String): Unit = out.metric(s"queries.$obj.$k", v, u)
        m("wall_s", ss.map(_.wallS).sum, "s")
        m("driver_s", ss.map(_.driverS).sum, "s")
        m("jobs", ss.map(_.jobs).sum, "count")
        m("tasks", ss.map(_.tasks).sum, "count")
        m("task_s", ss.map(_.taskMs).sum / 1e3, "s")
        m("scan_bytes", ss.map(_.scanBytes).sum.toDouble, "B")
        m("shuffle_bytes", ss.map(_.shuffleBytes).sum.toDouble, "B")
      }
      val ss = tr.inLayer("queries")
      out.metric("queries.analysis_s", ss.map(_.analysisMs).sum / 1e3, "s")
      out.metric("queries.optimization_s", ss.map(_.optimizationMs).sum / 1e3, "s")
      out.metric("queries.planning_s", ss.map(_.planningMs).sum / 1e3, "s")
      Pipeline.traceMetrics(tr, out, e2e)
    }
  }
}
