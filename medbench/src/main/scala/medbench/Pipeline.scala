package medbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct}

import graft.IngestJob
import graft.bronze.BronzeWriter
import graft.cluster.ClusterWrite
import graft.ingest.UsgsSource
import graft.serve.KeyedSink
import graft.silver.TsunamiFacts
import graft.sinks.FileSinks
import graft.tx.CommitLog

/** The injected `UsgsSource` transport: serves FDSN pages over a fixed,
  * time-sorted event set, and fails the first request for each window in
  * `failOnce` (as an HTTP 503 would). Counts what it serves. */
final class Transport(seed: Long, events: IndexedSeq[Feed.Ev],
    failOnce: Set[(String, String)], tracer: Tracer)
    extends (UsgsSource.Request => Try[String]) {
  var pages = 0
  var bodyBytes = 0L
  var retryWindows = 0
  private val failed = mutable.Set.empty[(String, String)]

  private def lowerBound(ms: Long): Int = {
    var (lo, hi) = (0, events.size)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (events(mid).timeMs < ms) lo = mid + 1 else hi = mid
    }
    lo
  }

  def apply(req: UsgsSource.Request): Try[String] = tracer("ingest", "transport") {
    val window = (req.start, req.end)
    if (failOnce(window) && failed.add(window)) {
      retryWindows += 1
      Failure(new java.io.IOException(s"HTTP 503 for ${req.start}..${req.end}"))
    } else {
      val from = lowerBound(Feed.epochMs(LocalDate.parse(req.start)))
      val until = lowerBound(Feed.epochMs(LocalDate.parse(req.end)))
      val first = math.min(until, from + (req.offset - 1).toInt)
      val body = Feed.page(seed, events.slice(first, math.min(until, first + req.limit)))
      pages += 1
      bodyBytes += body.length
      Success(body)
    }
  }
}

/** The `pipeline` workload: the reference's hourly cron job, from a cold
  * backfill to a series of hourly increments, run through `IngestJob.run`
  * with transactional, clustered bronze and the CSV, JSON and serving
  * sinks.
  *
  * - Backfill (one run, the session's first): 2014, month windows at the
  *   API's 10,000-event page limit. January is one page of 6,500-7,000
  *   events; February's window fails once, so it is re-fetched as weekly
  *   windows; the other months are empty. (A full 10,000-event page costs
  *   `UsgsSource.countFeatures` about 43 s on a 4-core x86 VM, which the
  *   benchmark's run budget cannot afford on every run.)
  * - Increments (closed loop, at least [[MinIncrements]] runs and at least
  *   `--seconds`): each run fetches the year again and gets one hour of a
  *   few hundred new March events, 10% of them late events in January or
  *   February. The first increment is still warming the JIT up and is left
  *   out of the warm figures.
  *
  * Each run gets its own CSV/JSON sink directory: `FileSinks` names its
  * output directory to the second, and this loop starts more than one run
  * per second of wall clock. */
object Pipeline {
  val Year = 2014
  val Limit = 10000
  val MinIncrements = 5
  val PreparedHours = 8
  val FailingWindow: (String, String) = ("2014-02-01", "2014-03-01")
  val ClusterKeys = Seq(col("tsunami"), col("magnitude"), col("significance"))

  private def ms(y: Int, m: Int, d: Int): Long = Feed.epochMs(LocalDate.of(y, m, d))

  def backfillFeed(seed: Long): IndexedSeq[Feed.Ev] = {
    val r = new SplittableRandom(seed)
    Feed.span(seed, 'f', 0, 6500 + r.nextInt(500), ms(Year, 1, 1), ms(Year, 2, 1)) ++
      Feed.span(seed, 'f', 1000000, 600 + r.nextInt(400), ms(Year, 2, 1), ms(Year, 3, 1))
  }

  def hourFeed(seed: Long, h: Int): IndexedSeq[Feed.Ev] = {
    val r = new SplittableRandom(seed * 1000003L + h)
    val n = 250 + r.nextInt(150)
    val late = n / 10
    val start = ms(Year, 3, 1) + h * 3600000L
    (Feed.span(seed, 'h', h * 1000L, n - late, start, start + 3600000L) ++
      Feed.span(seed, 'l', h * 1000L, late, ms(Year, 1, 1), ms(Year, 3, 1)))
      .sortBy(e => (e.timeMs, e.id))
  }

  /** The run's events, generated in set-up: the backfill and the first
    * [[PreparedHours]] hours (later hours are generated when reached). */
  final class Feeds(seed: Long) {
    val backfill: IndexedSeq[Feed.Ev] = backfillFeed(seed)
    private val hours = (0 until PreparedHours).map(hourFeed(seed, _))
    def hour(h: Int): IndexedSeq[Feed.Ev] = if (h < hours.size) hours(h) else hourFeed(seed, h)
  }

  /** The feed [[driftCheck]] runs through both the job and the replay. */
  def driftFeed(seed: Long): IndexedSeq[Feed.Ev] =
    Feed.span(seed, 'w', 0, 300, ms(Year - 1, 6, 1), ms(Year - 1, 7, 1))

  /** Paths of one pipeline deployment under `root`. */
  def config(root: Path, run: Int, year: Int): IngestJob.Config =
    IngestJob.Config(year, year,
      bronzePath = root.resolve("bronze").toString,
      yearlyFactPath = root.resolve("silver/fact_tsunami_yearly").toString,
      monthlyFactPath = root.resolve("silver/fact_tsunami_monthly").toString,
      csvDir = Some(root.resolve(s"sinks/run-$run/csv").toString),
      jsonDir = Some(root.resolve(s"sinks/run-$run/json").toString),
      servingPath = Some(root.resolve("serving").toString),
      transactionalBronze = true)

  /** `IngestJob.run`'s public calls, in its order, each in a span. The
    * traced run uses this instead of the monolithic job; [[driftCheck]]
    * holds it to the job's outputs and Spark job count. */
  def replay(spark: SparkSession, tr: Tracer, cfg: IngestJob.Config,
      source: UsgsSource): IngestJob.Summary = {
    require(cfg.transactionalBronze && cfg.clusterBronze && !cfg.dedupeEvents)
    val raw = tr("ingest", "UsgsSource.backfill")(source.backfill(spark, cfg.startYear, cfg.endYear))
    val events = tr("ingest", "Dataset.persist")(raw.persist())
    try {
      val n = tr("ingest", "Dataset.count")(events.count())
      cfg.csvDir.foreach(d => tr("sinks", "FileSinks.saveCsv")(FileSinks.saveCsv(events, d)))
      cfg.jsonDir.foreach(d => tr("sinks", "FileSinks.saveJson")(FileSinks.saveJson(events, d)))
      val clustered = tr("bronze", "ClusterWrite.cluster")(ClusterWrite.cluster(events, ClusterKeys))
      tr("bronze", "BronzeWriter.writeVersioned")(
        BronzeWriter.writeVersioned(clustered, cfg.bronzePath, "append"))
      cfg.servingPath.foreach(p => tr("serve", "KeyedSink.writeFiles")(KeyedSink.writeFiles(events, p)))
      val bronze = tr("bronze", "BronzeWriter.readSnapshot")(
        BronzeWriter.readSnapshot(spark, cfg.bronzePath))
      tr("silver", "TsunamiFacts.writeYearly")(TsunamiFacts.writeYearly(bronze, cfg.yearlyFactPath))
      tr("silver", "TsunamiFacts.writeMonthly")(TsunamiFacts.writeMonthly(bronze, cfg.monthlyFactPath))
      IngestJob.Summary(n,
        tr("silver", "read facts")(spark.read.parquet(cfg.yearlyFactPath).count()),
        tr("silver", "read facts")(spark.read.parquet(cfg.monthlyFactPath).count()))
    } finally tr("ingest", "Dataset.unpersist")(events.unpersist())
  }

  /** Run `IngestJob.run` and [[replay]] on the same feed into two
    * deployments; their outputs and Spark job counts must agree. */
  def driftCheck(spark: SparkSession, work: Path, seed: Long, out: Outcome): Unit = {
    var jobs = 0
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    spark.sparkContext.addSparkListener(counter)
    def jobsOf(f: => Unit): Int = {
      org.apache.spark.MedbenchBus.drain(spark.sparkContext)
      val before = counter.synchronized(jobs)
      f
      org.apache.spark.MedbenchBus.drain(spark.sparkContext)
      counter.synchronized(jobs) - before
    }
    val off = new Tracer(spark, enabled = false)
    def source = new UsgsSource(new Transport(seed, driftFeed(seed), Set.empty, off), Limit)
    val (a, b) = (config(work.resolve("drift/job"), 0, Year - 1), config(work.resolve("drift/replay"), 0, Year - 1))
    val jobsA = jobsOf(IngestJob.run(spark, a, source))
    val jobsB = jobsOf(replay(spark, off, b, source))
    spark.sparkContext.removeSparkListener(counter)
    def same(x: DataFrame, y: DataFrame): Boolean = x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    def rows(dir: String, fmt: String): Long =
      if (fmt == "csv") spark.read.option("header", "true").csv(s"$dir/*").count()
      else spark.read.json(s"$dir/*").count()
    out.check(s"replay launches the job's Spark jobs ($jobsB vs $jobsA)")(jobsA == jobsB)
    out.check("replay writes the job's bronze")(same(
      BronzeWriter.readSnapshot(spark, a.bronzePath), BronzeWriter.readSnapshot(spark, b.bronzePath)))
    out.check("replay writes the job's silver")(
      same(spark.read.parquet(a.yearlyFactPath), spark.read.parquet(b.yearlyFactPath)) &&
        same(spark.read.parquet(a.monthlyFactPath), spark.read.parquet(b.monthlyFactPath)))
    out.check("replay writes the job's serving table")(
      same(spark.read.parquet(a.servingPath.get), spark.read.parquet(b.servingPath.get)))
    out.check("replay writes the job's CSV and JSON rows")(
      rows(a.csvDir.get, "csv") == rows(b.csvDir.get, "csv") &&
        rows(a.jsonDir.get, "json") == rows(b.jsonDir.get, "json"))
  }

  def run(spark: SparkSession, tr: Tracer, out: Outcome, work: Path, seed: Long,
      seconds: Double, fixture: Feeds): Unit = {
    val root = work.resolve("medallion")
    val feeds = mutable.ArrayBuffer.empty[IndexedSeq[Feed.Ev]]
    val transports = mutable.ArrayBuffer.empty[Transport]
    val times = mutable.ArrayBuffer.empty[Double]
    def once(run: Int, feed: IndexedSeq[Feed.Ev], failOnce: Set[(String, String)]): Unit = {
      val t = new Transport(seed, feed, failOnce, tr)
      val source = new UsgsSource(t, Limit)
      val cfg = config(root, run, Year)
      val t0 = System.nanoTime()
      out.op(s"IngestJob.run #$run") {
        if (tr.enabled) replay(spark, tr, cfg, source) else IngestJob.run(spark, cfg, source)
      }.foreach { _ =>
        times += (System.nanoTime() - t0) / 1e9
        feeds += feed
        transports += t
      }
    }

    val t0 = System.nanoTime()
    once(0, fixture.backfill, Set(FailingWindow))
    val tInc = System.nanoTime()
    var h = 0
    while (h < MinIncrements || (System.nanoTime() - tInc) / 1e9 < seconds) {
      once(h + 1, fixture.hour(h), Set.empty)
      h += 1
    }
    val e2e = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[medbench] runs: ${times.map(t => f"$t%.3f").mkString(" ")} s")
    out.metric("measured_s", e2e, "s")
    out.metric("jvm.peak_rss_mb", Main.peakRssMb(), "MB")
    if (times.size < 3) return
    val warm = times.drop(2).toSeq
    out.metric("cold_s", times.head, "s")
    out.metric("warm_p50_s", Main.median(warm), "s")
    out.metric("warm_p90_s", Main.percentile(warm, 0.9), "s")
    out.metric("warm_mean_s", warm.sum / warm.size, "s")

    tr.finish()
    checkOutputs(spark, out, root, feeds.toSeq)
    if (tr.enabled) {
      layerMetrics(spark, tr, out, root, feeds.toSeq, transports.toSeq, e2e)
      driftCheck(spark, work, seed, out)
    }
  }

  /** Bronze, silver, sinks and serving against the generator's truth. */
  def checkOutputs(spark: SparkSession, out: Outcome, root: Path,
      feeds: Seq[IndexedSeq[Feed.Ev]]): Unit = {
    val all = feeds.flatten
    val cfg = config(root, 0, Year)
    out.check("bronze snapshot holds every ingested event once") {
      val r = BronzeWriter.readSnapshot(spark, cfg.bronzePath)
        .agg(org.apache.spark.sql.functions.count("*"), countDistinct(col("id"))).head()
      r.getLong(0) == all.size && r.getLong(1) == all.size
    }
    val flagged = all.filter(_.tsunami == 1)
    out.check("fact_tsunami_yearly matches the feed") {
      val got = spark.read.parquet(cfg.yearlyFactPath).collect()
        .map(r => r.getAs[Int]("year") -> r.getAs[Long]("tsunami_yearly_count")).toMap
      got == flagged.groupBy(_.year).map { case (k, v) => k -> v.size.toLong }
    }
    out.check("fact_tsunami_monthly matches the feed") {
      val got = spark.read.parquet(cfg.monthlyFactPath).collect()
        .map(r => (r.getAs[Int]("year"), r.getAs[Int]("month")) -> r.getAs[Long]("tsunami_monthly_count")).toMap
      got == flagged.groupBy(e => (e.year, e.month)).map { case (k, v) => k -> v.size.toLong }
    }
    // Sink rows from the part files' lines: CSV part files each carry a
    // header line, JSON files hold one object per line.
    def rows(run: Int, fmt: String): Long = {
      val st = Files.walk(root.resolve(s"sinks/run-$run/$fmt"))
      try st.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-"))
        .map { p =>
          val n = Files.lines(p).count()
          if (fmt == "csv") math.max(0L, n - 1) else n
        }.sum
      finally st.close()
    }
    out.check("every run's CSV sink holds its events")(
      feeds.indices.forall(i => rows(i, "csv") == feeds(i).size))
    out.check("every run's JSON sink holds its events")(
      feeds.indices.forall(i => rows(i, "json") == feeds(i).size))
    // KeyedSink.writeFiles overwrites the serving table on every run, so
    // it holds the last run's events; serve.rows_missing counts the rest
    out.check("serving table holds the last run's events")(
      spark.read.parquet(cfg.servingPath.get).count() == feeds.last.size)
  }

  private def manifests(table: String): Seq[CommitLog.Manifest] =
    CommitLog.versions(table).map(CommitLog.manifest(table, _))

  def layerMetrics(spark: SparkSession, tr: Tracer, out: Outcome, root: Path,
      feeds: Seq[IndexedSeq[Feed.Ev]], transports: Seq[Transport], e2e: Double): Unit = {
    val cfg = config(root, 0, Year)
    val bronze = cfg.bronzePath
    val events = feeds.map(_.size).sum.toDouble
    def m(name: String, v: Double, unit: String): Unit = out.metric(name, v, unit)
    m("ingest.fetch_s", tr.wall("ingest", "UsgsSource.backfill"), "s")
    m("ingest.transport_s", tr.wall("ingest", "transport"), "s")
    m("ingest.pages", transports.map(_.pages).sum, "count")
    m("ingest.body_bytes", transports.map(_.bodyBytes).sum.toDouble, "B")
    m("ingest.retry_windows", transports.map(_.retryWindows).sum, "count")
    m("ingest.parse_s", tr.wall("ingest", "Dataset.persist") + tr.wall("ingest", "Dataset.count"), "s")
    m("ingest.events", events, "count")

    val ms = manifests(bronze)
    val added = ms.zip(Seq(Set.empty[String]) ++ ms.map(_.files.toSet))
      .flatMap { case (cur, prev) => cur.files.filterNot(prev) }
    val size = (f: String) => Files.size(java.nio.file.Paths.get(bronze).resolve(f))
    m("bronze.write_s", tr.wall("bronze", "ClusterWrite.cluster") +
      tr.wall("bronze", "BronzeWriter.writeVersioned"), "s")
    m("bronze.files_added", added.size, "count")
    m("bronze.bytes_added", added.map(size).sum.toDouble, "B")
    m("bronze.read_s", tr.wall("bronze", "BronzeWriter.readSnapshot"), "s")
    m("bronze.bytes_per_event", Main.dirBytes(java.nio.file.Paths.get(bronze)) / events, "B")

    val logDir = java.nio.file.Paths.get(bronze).resolve("_graft_log")
    val commits = Files.list(logDir).iterator().asScala.filter(_.toString.endsWith(".commit")).toSeq
    val checkpoints = commits.count { p =>
      val first = Files.lines(p)
      try !first.findFirst().orElse("").split(" ").exists(_.startsWith("delta=")) finally first.close()
    }
    val compacted = ms.sliding(2).collect {
      case Seq(prev, cur) if cur.mode == "compact" => prev.files.toSet.diff(cur.files.toSet).size
    }.sum
    m("tx.live_files", ms.last.files.size, "count")
    m("tx.log_bytes", Main.dirBytes(logDir).toDouble, "B")
    m("tx.checkpoints", checkpoints, "count")
    m("tx.compacted_files", compacted, "count")

    m("silver.yearly_s", tr.wall("silver", "TsunamiFacts.writeYearly"), "s")
    m("silver.monthly_s", tr.wall("silver", "TsunamiFacts.writeMonthly"), "s")
    m("silver.scan_bytes", tr.inLayer("silver").map(_.scanBytes).sum.toDouble, "B")
    m("sinks.csv_s", tr.wall("sinks", "FileSinks.saveCsv"), "s")
    m("sinks.json_s", tr.wall("sinks", "FileSinks.saveJson"), "s")
    m("sinks.bytes", Main.dirBytes(root.resolve("sinks")).toDouble, "B")
    m("serve.files_s", tr.wall("serve", "KeyedSink.writeFiles"), "s")
    m("serve.bytes", Main.dirBytes(java.nio.file.Paths.get(cfg.servingPath.get)).toDouble, "B")
    m("serve.rows_missing",
      events - spark.read.parquet(cfg.servingPath.get).count(), "count")
    traceMetrics(tr, out, e2e)
  }

  /** Per-layer self time, jobs and task time, and how much of the traced
    * wall time the spans account for. */
  def traceMetrics(tr: Tracer, out: Outcome, e2e: Double): Unit = {
    tr.layerMetrics(Seq("ingest", "bronze", "silver", "sinks", "serve", "queries"))
      .foreach { case (n, v, u) => out.metric(n, v, u) }
    out.metric("trace.e2e_s", e2e, "s")
    out.metric("trace.unattributed_s", e2e - tr.spans.filter(_.parent.isEmpty).map(_.wallS).sum, "s")
    out.metric("trace.spans", tr.spans.size, "count")
  }
}
