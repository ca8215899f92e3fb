package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.{Failure, Success, Try}

/** Paginated USGS FDSN event source (reference S1-S3), network-injectable.
  *
  * The reference fetches GeoJSON pages over HTTPS
  * (`fetch_earthquake_data_time_and_limit_offset`,
  * `usgs-earthquake-data-ingest-dynamic.py:96-128`) in a driver loop and
  * appends each page to bronze before the next fetch (`:332-355`), with
  * month-sized windows and week-sized retry windows (`:288-322`).
  *
  * Here the fetch function is injected (no network in tests — SURVEY.md §7.4);
  * a run's page bodies are collected in window order into one
  * `Dataset[String]` and parsed by a single [[GeoJsonParser.parse]] plan, so
  * the whole post-fetch pipeline is one Catalyst plan over one relation. On a
  * real cluster the per-page fetch would move into a DataSource V2 `Batch`
  * with one `InputPartition` per (window, page) so executors fetch in
  * parallel; the planning math is identical ([[PagePlanner]]).
  */
final class UsgsSource(
    fetch: UsgsSource.Request => Try[String],
    limit: Int = 10000,
    maxPagesPerWindow: Int = 1000) {
  import UsgsSource._

  /** Page bodies of one window, stopping at the first short page (the
    * reference's `len(features) < limit` termination, dynamic.py:435-437).
    * A fetch failure throws, so [[backfill]] can retry the window weekly. */
  def fetchWindow(w: PagePlanner.Window): Seq[String] = {
    val bodies = new scala.collection.mutable.ArrayBuffer[String]
    var offset = 1L
    var done = false
    while (!done && bodies.size < maxPagesPerWindow) {
      val body = fetch(Request(w.startParam, w.endParam, limit, offset)).get
      bodies += body
      done = countFeatures(body) < limit
      offset += limit
    }
    bodies.toSeq
  }

  /** Year-range backfill: month windows, week-window retry on failure
    * (dynamic.py:288-322); every page body is parsed by one plan. */
  def backfill(spark: SparkSession, startYear: Int, endYear: Int): DataFrame = {
    import spark.implicits._
    val bodies = PagePlanner.monthWindows(startYear, endYear).flatMap { m =>
      Try(fetchWindow(m)) match {
        case Success(pages) => pages
        case Failure(_) => PagePlanner.weekWindows(m).flatMap(fetchWindow)
      }
    }
    GeoJsonParser.parse(spark, spark.createDataset(bodies))
  }
}

object UsgsSource {
  /** One API page request: `starttime`/`endtime`/`limit`/`offset` params of
    * the FDSN query endpoint (dynamic.py:96-128). */
  final case class Request(start: String, end: String, limit: Int, offset: Long)

  private val TypeKey = "\"type\""
  private val FeatureValue = "\"Feature\""

  /** Cheap driver-side feature count to detect the terminal short page
    * without parsing the full document (the reference checks
    * `len(data["features"])`). Counts `"type"` keys whose value, after any
    * spaces and colons, is `"Feature"`. One pass, no allocation. */
  private[ingest] def countFeatures(body: String): Int = {
    var i = 0; var n = 0
    while ({ i = body.indexOf(TypeKey, i); i >= 0 }) {
      i += TypeKey.length
      var j = i
      while (j < body.length && (body.charAt(j) == ' ' || body.charAt(j) == ':')) j += 1
      if (body.startsWith(FeatureValue, j)) n += 1
    }
    n
  }
}
