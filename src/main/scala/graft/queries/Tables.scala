package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Readers over the driver-provided synthetic tables (TESTDATA.md) plus shared
  * oracle-determinism helpers. */
object Tables {

  /** Catalog-style base-table resolution (optimization round 17, guide §5
    * driver / §6 listing): a schema-less `spark.read.parquet` runs parquet
    * schema INFERENCE on every call — a footer-reading Spark job plus a
    * fresh source resolution, measured at 70-160 ms per call
    * (OPTIMIZATION_r17.md §12) vs ~0 for reusing the resolved plan — and the
    * bench pays it once per table per rep across all 160 queries. A real
    * engine resolves `FROM events` through its catalog ONCE (schema +
    * location are table metadata, not per-query work); the memoized read is
    * that catalog. It holds only the LAZY resolved DataFrame — no rows, no
    * results; every action on it still recomputes from the parquet files.
    * The driver testdata dirs are immutable for a process lifetime. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    QueryMemo.value(s"table_$name", spark, dir) {
      if (name == "events") {
        // historical events.parquet generations carried INT64 TIMESTAMP(NANOS),
        // which Spark refuses to read natively; the conf lets those files read
        // the nanos as a plain long (harmless for µs-typed generations).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      }
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Normalize the driver testdata's `ts` column to an `ets` TimestampType
    * (µs, session-UTC) column, across testdata generations: INT64
    * TIMESTAMP(NANOS) reads as a long (divided to µs as integers — never
    * double division, 1.7e18 ns exceeds Double's 2^53 exact range), and the
    * round-7 TIMESTAMP_MICROS files read as TIMESTAMP_NTZ (cast is a pure
    * wall-clock relabel under the session's UTC zone, so values match the
    * DuckDB oracle's naive timestamps exactly as the nanos path did). */
  def withEts(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ets", timestamp_micros(expr("ts div 1000")))
    case _: org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ets", col("ts").cast("timestamp"))
    case _: org.apache.spark.sql.types.TimestampType =>
      df.withColumn("ets", col("ts"))
    case other =>
      throw new IllegalStateException(s"unexpected events.ts type: $other")
  }

  /** events with `ets`: TimestampType(µs) normalized via [[withEts]]. */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEts(table(spark, dir, "events"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The deterministic md5 train/test membership predicate (first hex
    * digit c/d/e/f → test ≈ 25%) — ONE definition shared by
    * split_train_test, the decontamination pair, decontaminate_bloom's
    * n_test count, and split_leakfree (which applies it at near-dup-GROUP
    * granularity), so the rule can never drift between the shingle table
    * and a consumer's own derivation. */
  private[queries] def isTestSplit(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1).isin("c", "d", "e", "f")

  /** Order-independent money sum: casting each double to DECIMAL(18,2) before
    * summing makes the aggregate exact (no float accumulation order effects),
    * so Spark and the DuckDB oracle produce bit-identical doubles. DuckDB
    * twin: `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Same for 4-decimal intermediates (e.g. price*(1-discount)). */
  def dsum4(c: Column): Column = sum(c.cast(DecimalType(22, 4))).cast("double")
}
