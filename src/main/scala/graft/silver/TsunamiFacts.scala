package graft.silver

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Silver-layer fact tables over the bronze event table.
  *
  * The reference delegates these to DuckDB SQL over `delta_scan`
  * (`usgs_fact_tsunami_count_silver_dev.py`); here each fact is a single lazy
  * Catalyst plan — scan → filter → partial+final hash aggregate → sort →
  * partitioned write — with zero cross-engine materializations (the reference
  * crosses DuckDB→Polars→Arrow→delta-rs per table, SURVEY.md §3.2).
  *
  * Scale: `tsunami = 1` is pushed to the parquet scan (min/max row-group
  * skipping), the groupBy keys (year / year+month) are low-cardinality so the
  * shuffle is tiny regardless of input size, and the count aggregates map-side.
  */
object TsunamiFacts {

  /** A1 — `SELECT COUNT(*) FROM raw WHERE year = k`
    * (usgs_fact_tsunami_count_silver_dev.py:59-65). Partition-pruned. */
  def countForYear(raw: DataFrame, year: Int): Long =
    raw.filter(col("year") === year).count()

  /** A2 — exploratory count grouped by year (`:67-74`). */
  def countByYear(raw: DataFrame): DataFrame =
    raw.groupBy("year").agg(count(lit(1)).as("event_count")).orderBy("year")

  /** A3 — flagship `fact_tsunami_yearly` (`:76-84`). */
  def yearly(raw: DataFrame): DataFrame = yearlyCounts(raw).orderBy("year")

  /** A4 — `fact_tsunami_monthly` (`:142-150`). */
  def monthly(raw: DataFrame): DataFrame = monthlyCounts(raw).orderBy("year", "month")

  private def yearlyCounts(raw: DataFrame): DataFrame =
    raw.filter(col("tsunami") === 1)
      .groupBy("year")
      .agg(count(lit(1)).as("tsunami_yearly_count"))

  private def monthlyCounts(raw: DataFrame): DataFrame =
    raw.filter(col("tsunami") === 1)
      .groupBy("year", "month")
      .agg(count(lit(1)).as("tsunami_monthly_count"))

  /** Incremental maintenance of [[yearly]]: fold a bronze DELTA (e.g.
    * [[graft.tx.CommitLog.changesSince]]) into the previously materialized
    * fact. Counts form a commutative monoid, so
    * `yearly(old ∪ Δ) = merge(yearly(old), yearly(Δ))` — one tiny aggregate
    * over the delta instead of a full bronze re-scan, which is the entire
    * point of a change feed at 100 TB (the reference recomputes silver from
    * the whole table every hourly cron run). */
  def yearlyIncrement(prevFacts: DataFrame, delta: DataFrame): DataFrame =
    prevFacts.union(yearly(delta))
      .groupBy("year")
      .agg(sum(col("tsunami_yearly_count")).as("tsunami_yearly_count"))
      .orderBy("year")

  /** Same merge for [[monthly]]. */
  def monthlyIncrement(prevFacts: DataFrame, delta: DataFrame): DataFrame =
    prevFacts.union(monthly(delta))
      .groupBy("year", "month")
      .agg(sum(col("tsunami_monthly_count")).as("tsunami_monthly_count"))
      .orderBy("year", "month")

  /** Materialize yearly/monthly facts with the reference's partitioning
    * (`:100,166`): yearly by `year`, monthly by `year, month`, overwrite.
    * The aggregate is written unsorted: `partitionBy` puts each key's one
    * row in its own directory, so a global sort would only add a
    * range-sampling job and a range shuffle. */
  def writeYearly(raw: DataFrame, path: String): Unit =
    yearlyCounts(raw).write.mode(SaveMode.Overwrite).partitionBy("year").parquet(path)

  def writeMonthly(raw: DataFrame, path: String): Unit =
    monthlyCounts(raw).write.mode(SaveMode.Overwrite)
      .partitionBy("year", "month").parquet(path)
}
