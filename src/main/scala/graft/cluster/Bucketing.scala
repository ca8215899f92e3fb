package graft.cluster

import org.apache.spark.sql.DataFrame

/** Bucketed-table writes for exchange-free joins — the storage-layout lever
  * the reference reaches for with its pre-write sorts (SURVEY.md O3,
  * `usgs-earthquake-data-ingest-dynamic-dev.py:289-292`) taken to its Spark
  * conclusion: hash-bucket BOTH fact tables on the join key at write time, and
  * every later equi-join on that key plans with NO shuffle on either side —
  * the scan's `HashPartitioning(key, n)` already satisfies the join's
  * distribution requirement. `sortBy` additionally pre-sorts each bucket file
  * so sort-merge joins skip their sorts when buckets are single-file.
  *
  * At 100 TB this converts every repeated fact-fact join from a full
  * two-sided shuffle (the dominant cost) into a local zip of co-numbered
  * bucket files; the one-time bucketed write costs a single shuffle —
  * amortized after the first join.
  */
object Bucketing {

  /** Write `df` as a bucketed (and optionally per-bucket sorted) table backed
    * by parquet at `path`. Bucket metadata lives in the session catalog —
    * `spark.table(name)` reads get the exchange-free join planning. */
  def writeBucketed(df: DataFrame, name: String, path: String,
      bucketCol: String, numBuckets: Int, sorted: Boolean = true): Unit = {
    val w = df.write.format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .option("path", path)
      .mode("overwrite")
    (if (sorted) w.sortBy(bucketCol) else w).saveAsTable(name)
  }
}
