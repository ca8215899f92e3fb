package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** CSV/JSON file sinks with timestamped names and skip-if-empty semantics
  * (`save_to_csv`/`save_to_json`, `usgs-earthquake-data-ingest.py:173-194`).
  *
  * The reference writes one local file per page; Spark writes a directory of
  * part-files per sink call — the distributed-correct equivalent (a single
  * file would force `coalesce(1)` through the driver, an anti-pattern at
  * scale). Timestamped directory naming is preserved (`:179,191`); a second
  * write within the same second takes the next free `-1`, `-2`, … suffix
  * instead of failing on the existing directory.
  */
object FileSinks {
  private val fmt = DateTimeFormatter.ofPattern("yyyyMMddHHmmss")

  private def stamped(df: DataFrame, dir: String, prefix: String, ext: String,
      now: LocalDateTime): String = {
    val base = s"$dir/${prefix}_${now.format(fmt)}"
    val fs = new Path(dir).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    Iterator.from(0).map(i => if (i == 0) s"$base.$ext" else s"$base-$i.$ext")
      .find(p => !fs.exists(new Path(p))).get
  }

  def saveCsv(df: DataFrame, dir: String, prefix: String = "earthquake_data",
      now: LocalDateTime = LocalDateTime.now()): Option[String] =
    if (df.isEmpty) None else {
      val path = stamped(df, dir, prefix, "csv", now)
      df.write.option("header", "true").csv(path)
      Some(path)
    }

  def saveJson(df: DataFrame, dir: String, prefix: String = "earthquake_data",
      now: LocalDateTime = LocalDateTime.now()): Option[String] =
    if (df.isEmpty) None else {
      val path = stamped(df, dir, prefix, "json", now)
      df.write.json(path)
      Some(path)
    }
}
