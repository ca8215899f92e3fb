package graft

import org.apache.spark.sql.SparkSession

/** The engine's two `SparkSession` factories. Their confs differ on
  * purpose: [[builder]] is the deployment session, tuned for throughput at
  * any size; [[harness]] is the fixed session every measurement and
  * verification main (Bench, Verify, the plan tools, RecallProbe) and the
  * test suite run under, so their numbers and plans stay comparable across
  * rounds.
  *
  * [[builder]] encodes the settings every deployment of these operators
  * wants, sized from the actual parallelism instead of Spark's one-size
  * defaults:
  *
  *  - `shuffle.partitions` = a small multiple of the core count (the
  *    200-partition default is wrong in both directions: far too many for a
  *    laptop, far too few for a 1000-executor cluster);
  *  - AQE on, with skew-join splitting and post-shuffle coalescing — the
  *    runtime re-plan layer the salted-join/bucketing operators compose
  *    with;
  *  - 256 MB scan partitions (row-group-aligned parquet splits; fewer,
  *    fuller tasks than the 128 MB default for scan-heavy analytics);
  *  - UTC session timezone (SURVEY.md §1.2 — deterministic time semantics)
  *    and nanos-as-long parquet reads (the events table's NANOS timestamps);
  *  - [[graft.functions.GraftExtensions]] injected: native functions
  *    (`cosine_similarity`, `minhash_sig`, …), the TopK planner strategy,
  *    and the rank-filter rewrite rule are present from the first query;
  *  - `file:` served by [[graft.fs.NioLocalFileSystem]] and
  *    [[graft.fs.NioLocalFs]] ([[graft.fs.LocalFs.hadoopKeys]]). Without a
  *    native libhadoop, stock local `file:` forks `chmod` for every file,
  *    `.crc` sidecar and directory Spark writes, and `readlink` on every
  *    rename: 588 process starts in one medbench `pipeline` run (577
  *    `chmod`) and 439 in `suite` (264 `chmod`, 168 `readlink`), 10.9 ms per
  *    created file, on a 4-core x86 VM. `FileSystem.get` caches the first `file:` instance a
  *    JVM looks up whatever a later conf says, so these keys also switch
  *    that cache off for `file:` (~20 µs a lookup). [[harness]] keeps the
  *    stock classes: its confs are the bench contract.
  */
object GraftSession {

  /** Builder with the engine defaults; call `.master(...)` / override confs
    * before `getOrCreate()` as needed. `parallelism` should be total
    * executor cores (e.g. executors × coresPerExecutor on a cluster). */
  def builder(appName: String, parallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", math.max(parallelism * 2, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (256L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT96 (Spark's legacy default) writes NO usable footer min/max, which
      // would blind the commit log's file-level data skipping on time
      // predicates — the reference's dominant filter shape
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config(graft.fs.LocalFs.hadoopKeys.map { case (k, v) => s"spark.hadoop.$k" -> v })

  /** Register a v2 graft catalog ([[graft.sql.GraftSpaceCatalog]]) on the
    * builder: tables address as `<name>.ns….tbl` with multi-part
    * namespaces, staged REPLACE TABLE, native v2 time travel, and
    * streaming by name — see GraftSpaceCatalog's scaladoc. */
  def withCatalog(b: SparkSession.Builder, name: String,
      root: String): SparkSession.Builder =
    b.config(s"spark.sql.catalog.$name",
        classOf[graft.sql.GraftSpaceCatalog].getName)
      .config(s"spark.sql.catalog.$name.root", root)

  /** Local session for tools/exploration: `local[cores]` with the same
    * defaults. */
  def local(appName: String, cores: Int): SparkSession =
    builder(appName, cores).master(s"local[$cores]").getOrCreate()

  /** The bench session: `local[cpus]` with one shuffle partition per core,
    * AQE on at Spark's own settings, Spark's default scan split size, UTC,
    * nanos-as-long and TIMESTAMP_MICROS parquet, no UI, and the extensions
    * (injected with `withExtensions`, not by conf). Its confs are the
    * bench contract — every recorded timing and the 160-query oracle run
    * were made under exactly these — so they do not follow [[builder]]'s
    * deployment defaults. */
  def harness(appName: String, cpus: Int): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
}
