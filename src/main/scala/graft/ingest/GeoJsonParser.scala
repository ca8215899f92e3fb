package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.EventSchema

/** GeoJSON FeatureCollection → flat 32-column event table.
  *
  * Spark-first re-expression of `parse_geojson_to_dataframe`
  * (`/root/reference/usgs-earthquake-data-ingest.py:104-170`): the reference
  * walks Python dicts row-by-row; here the whole flatten is one Catalyst plan —
  * `from_json` (explicit nested schema) → `explode(features)` → column
  * projections — so it is distributed, codegen'd, and column-prunable.
  *
  * Semantics reproduced:
  *  - rename map `mag→magnitude`, `sig→significance`, `net→network`,
  *    `magType→magnitude_type` (reference `:130,151,153,161`);
  *  - `coordinates[0]→longitude`, `[1]→latitude`, `[2]→depth` with depth NULL
  *    when the array has only 2 elements (`:131-135`);
  *  - epoch-millis → timestamp for `eventtime`/`updated` (`:136-141`), with
  *    `year`/`month` derived from `eventtime` (`extract_year`/`extract_month`,
  *    `:89-101`) — in UTC (intentional divergence, SURVEY.md §1.2);
  *  - missing properties → NULL (`props.get`, `:130-163`);
  *  - geometry re-serialized to a JSON string (`:164-166`);
  *  - empty/absent `features` → empty DataFrame (`:108-111`).
  */
object GeoJsonParser {

  /** Parse a Dataset of raw FeatureCollection JSON bodies (one document per
    * row — e.g. one API page per row) into the flat event table. */
  def parse(spark: SparkSession, raw: Dataset[String]): DataFrame = {
    import spark.implicits._
    flatten(raw.toDF("body").select(
      from_json($"body", EventSchema.featureCollection).as("fc")))
  }

  /** Parse a single in-memory FeatureCollection body (one page). Stays lazy:
    * one row → explode fan-out on executors. */
  def parseBody(spark: SparkSession, body: String): DataFrame = {
    import spark.implicits._
    parse(spark, spark.createDataset(Seq(body)))
  }

  /** `fc` struct column → exploded, projected flat events. */
  private def flatten(withFc: DataFrame): DataFrame = {
    val f = withFc
      // explode_outer would emit a null row for empty collections; the
      // reference returns an *empty* frame (`:108-111`) so plain explode.
      .select(explode(col("fc.features")).as("f"))
    val p = col("f.properties")
    val coords = col("f.geometry.coordinates")
    f.select(
      col("f.id").as("id"),
      month(timestamp_millis(p("time"))).as("month"),
      year(timestamp_millis(p("time"))).as("year"),
      p("mag").as("magnitude"),
      element_at(coords, 2).as("latitude"),
      element_at(coords, 1).as("longitude"),
      when(size(coords) > 2, element_at(coords, 3)).as("depth"),
      timestamp_millis(p("time")).as("eventtime"),
      timestamp_millis(p("updated")).as("updated"),
      p("place").as("place"),
      p("url").as("url"),
      p("detail").as("detail"),
      p("felt").as("felt"),
      p("cdi").as("cdi"),
      p("mmi").as("mmi"),
      p("alert").as("alert"),
      p("status").as("status"),
      p("tsunami").as("tsunami"),
      p("sig").as("significance"),
      p("net").as("network"),
      p("code").as("code"),
      p("ids").as("ids"),
      p("sources").as("sources"),
      p("types").as("types"),
      p("nst").as("nst"),
      p("dmin").as("dmin"),
      p("rms").as("rms"),
      p("gap").as("gap"),
      p("magType").as("magnitude_type"),
      p("type").as("type"),
      p("title").as("title"),
      to_json(col("f.geometry")).as("geometry"),
    )
  }
}
