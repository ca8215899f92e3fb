package graft.tx

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter sidecars — Delta's bloom filter index re-expressed
  * for the commit log. Min/max stats ([[FileStats]]) prune point lookups
  * only when the table is CLUSTERED on the looked-up column: on a
  * high-cardinality key written in arrival order, every file's [min,max]
  * spans the whole domain and an `id = K` read still plans every file. A
  * per-file Bloom filter answers "might this FILE contain K" in O(1)
  * regardless of layout — at 100 TB the difference between planning one
  * or two files and planning tens of thousands, for the exact shape the
  * reference's serving layer implies (point reads by PK,
  * `db-script.cql:37`).
  *
  * Mechanics mirror the stats sidecars: one `_graft_bloom.tsv` per commit
  * dir, written at data-write time ([[CommitLog]]'s `writeDataDir`) for
  * the columns registered via [[setColumns]]; [[CommitLog.pruneFiles]]
  * consults it for equality/IN predicates. Everything is strictly
  * CONSERVATIVE: a missing sidecar, an unregistered column, an exotic
  * type, a false positive — all merely keep the file. Registration
  * affects FUTURE writes; [[CommitLog.compact]] rewrites old data through
  * `writeDataDir`, so one compaction backfills a newly registered index
  * (Delta asks for an explicit rewrite too).
  *
  * Build cost: one extra pass over the FRESHLY WRITTEN files only (never
  * the table), as a distributed per-partition aggregation merged per
  * (file, column) — the same price Delta pays. Sizing: `expectedItems =
  * fileRows` (from the footer, metadata-only) at FPP 1% — ~9.6 bits/row,
  * ≈1.2 MB of sidecar per column per 1M-row file; an UNDERSIZED filter
  * saturates and answers "maybe" for everything, which is safe but
  * useless, so sizing stays honest.
  */
object BloomIndex {

  val SidecarName = "_graft_bloom.tsv"

  /** Table-root config file: one column name per line. */
  val ConfigName = "_bloom_columns"

  val Fpp = 0.01

  /** Types a Bloom filter can index: fixed-width integrals (hashed as
    * long) and strings (hashed as UTF-8). */
  def indexable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Register the columns future writes index. Validated against the
    * table's current schema when one exists; unknown columns are allowed
    * (schema evolution may add them) but non-indexable known types are
    * refused loudly. */
  def setColumns(table: String, cols: Seq[String]): Unit = {
    CommitLog.latestVersion(table).foreach { v =>
      val schema = CommitLog.manifest(table, v).schema
      cols.foreach { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).foreach { f =>
          require(indexable(f.dataType),
            s"bloom index on '$c' (${f.dataType.simpleString}) unsupported: " +
              "only integral and string columns are indexable")
        }
      }
    }
    val dir = java.nio.file.Paths.get(table)
    TxIO.io.createDirectories(dir)
    TxIO.io.replace(dir.resolve(ConfigName), cols.mkString("\n").getBytes(UTF_8))
  }

  /** Registered columns; empty for unregistered tables. */
  def columns(table: String): Seq[String] = {
    val p = java.nio.file.Paths.get(table).resolve(ConfigName)
    if (!Files.isRegularFile(p)) Nil
    else new String(Files.readAllBytes(p), UTF_8)
      .split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Build and write the sidecar for `files` (fresh parquet of ONE data
    * dir). `cols` must already be filtered to the written schema's
    * indexable columns. Best-effort like the stats sidecar: any failure
    * loses the optimization, never the data. */
  def writeSidecar(spark: SparkSession, dataDir: Path, files: Seq[Path],
      cols: Seq[String]): Unit = {
    if (cols.isEmpty || files.isEmpty) return
    try {
      // per-file identity is the dataDir-RELATIVE path, keyed by the
      // file's URI as `_metadata.file_path` reports it — basenames
      // collide across hive partition dirs (one write task emits the
      // same part-NNNN name into every partition it touches), which
      // would merge different files' filters and mis-attribute the
      // result (round-8 review finding)
      // canonical key = plain absolute filesystem path: `_metadata
      // .file_path` is a HADOOP-style URI ("file:/tmp/…") while nio's
      // toUri prints "file:///tmp/…" — comparing raw strings would
      // silently match nothing
      val relByUri: Map[String, String] =
        files.map(p => p.toAbsolutePath.toString -> dataDir.relativize(p).toString).toMap
      // per-file expected sizes from the footers (metadata-only)
      val expected: Map[String, Long] = files.map { p =>
        p.toAbsolutePath.toString -> math.max(1L, FileStats.footerRowCount(p))
      }.toMap
      val schema = spark.read.parquet(files.head.toString).schema
      // hive partition columns live in directory names, not pages — they
      // are exactly dir-pruned already and cannot be bloom'd from the files
      val cols0 = cols.filter(c => schema.fields.exists(_.name.equalsIgnoreCase(c)))
      if (cols0.isEmpty) return
      val kinds: Seq[String] = cols0.map { c =>
        schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType) match {
          case Some(StringType) => "string"
          case Some(dt) if indexable(dt) => "long"
          case _ => "skip"
        }
      }
      val data = spark.read.parquet(files.map(_.toString): _*)
        .select(F.col("_metadata.file_path").as("__graft_bloom_file") +:
          cols0.map(F.col): _*)
      val bcExpected = spark.sparkContext.broadcast(expected)
      val bcKinds = spark.sparkContext.broadcast(kinds)
      val bcCols = spark.sparkContext.broadcast(cols0)
      val partials = data.rdd.mapPartitions { it =>
        val local = mutable.Map.empty[(String, String), BloomFilter]
        it.foreach { row =>
          if (!row.isNullAt(0)) {
            val uri = new org.apache.hadoop.fs.Path(row.getString(0)).toUri.getPath
            // an URI the driver didn't list (shouldn't happen) indexes
            // nothing — absent sidecar entries read conservatively
            bcExpected.value.get(uri).foreach { n =>
              var i = 0
              while (i < bcCols.value.length) {
                val kind = bcKinds.value(i)
                if (kind != "skip" && !row.isNullAt(i + 1)) {
                  val bf = local.getOrElseUpdate((uri, bcCols.value(i)),
                    BloomFilter.create(n, Fpp))
                  row.get(i + 1) match {
                    case s: String => bf.putString(s)
                    case l: Long => bf.putLong(l)
                    case x: Int => bf.putLong(x.toLong)
                    case x: Short => bf.putLong(x.toLong)
                    case x: Byte => bf.putLong(x.toLong)
                    case _ => ()
                  }
                }
                i += 1
              }
            }
          }
        }
        local.iterator.map { case (k, bf) =>
          val out = new ByteArrayOutputStream()
          bf.writeTo(out)
          (k, out.toByteArray)
        }
      }.reduceByKey { (a, b) =>
        val bf = BloomFilter.readFrom(new ByteArrayInputStream(a))
        bf.mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(b)))
        val out = new ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
      }.collect()
      val kindOf = cols0.zip(kinds).toMap
      val lines = partials.toSeq.sortBy(_._1).flatMap { case ((uri, c), bytes) =>
        relByUri.get(uri).map { rel =>
          Seq(enc(rel), enc(c), kindOf.getOrElse(c, "skip"),
            Base64.getEncoder.encodeToString(bytes)).mkString("\t")
        }
      }
      if (lines.nonEmpty)
        TxIO.io.write(dataDir.resolve(SidecarName),
          lines.mkString("\n").getBytes(UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** One column's filter plus the kind its values were hashed as
    * (`long` | `string`) — a probe value of a DIFFERENT kind must answer
    * "maybe": the hash families don't overlap, so a cross-kind probe
    * would be a guaranteed (false-negative) miss. */
  final case class ColBloom(kind: String, filter: BloomFilter)

  /** Sidecar of one commit dir: relative file → column → filter. Missing
    * or unreadable sidecars read empty (no pruning). */
  def readSidecar(dataDir: Path): Map[String, Map[String, ColBloom]] = {
    val p = dataDir.resolve(SidecarName)
    if (!Files.isRegularFile(p)) return Map.empty
    try {
      new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq
        .filter(_.nonEmpty).flatMap { line =>
          line.split("\t") match {
            case Array(rel, c, kind, b64) =>
              try Some((dec(rel), dec(c), ColBloom(kind, BloomFilter.readFrom(
                new ByteArrayInputStream(Base64.getDecoder.decode(b64))))))
              catch { case scala.util.control.NonFatal(_) => None }
            case _ => None
          }
        }
        .groupBy(_._1)
        .map { case (rel, rows) =>
          rel -> rows.map(r => r._2 -> r._3).toMap
        }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Does `filter` contain an equality/IN conjunct a bloom on one of
    * `cols` could answer? Gate for loading the (comparatively large)
    * sidecars at all. */
  def usable(filter: Filter, cols: Seq[String]): Boolean = filter match {
    case And(l, r) => usable(l, cols) || usable(r, cols)
    case Or(l, r) => usable(l, cols) && usable(r, cols)
    case EqualTo(a, _) => cols.exists(_.equalsIgnoreCase(a))
    case EqualNullSafe(a, v) if v != null => cols.exists(_.equalsIgnoreCase(a))
    case In(a, _) => cols.exists(_.equalsIgnoreCase(a))
    case _ => false
  }

  /** Can `filter` match any row of a file with these blooms? Strictly
    * conservative: only a DEFINITE, kind-matched bloom miss answers
    * false. */
  def mightMatch(blooms: Map[String, ColBloom], filter: Filter): Boolean =
    filter match {
      case And(l, r) => mightMatch(blooms, l) && mightMatch(blooms, r)
      case Or(l, r) => mightMatch(blooms, l) || mightMatch(blooms, r)
      case EqualTo(a, v) => contains(lookup(blooms, a), v)
      case EqualNullSafe(a, v) if v != null => contains(lookup(blooms, a), v)
      case In(a, vs) => vs.isEmpty || vs.exists(v => contains(lookup(blooms, a), v))
      case _ => true
    }

  /** Might this filter contain `v`? Kind-mismatched or unsupported value
    * shapes answer true (keep) — probing a string-hashed filter with an
    * int (a condition Spark would answer via coercion) must never turn
    * into a definite miss (round-8 review finding). Exposed for
    * [[CommitLog]]'s key-probe pruning. */
  def mightContainValue(cb: ColBloom, v: Any): Boolean = contains(Some(cb), v)

  private def lookup(blooms: Map[String, ColBloom], a: String): Option[ColBloom] =
    blooms.get(a).orElse(blooms.collectFirst {
      case (k, v) if k.equalsIgnoreCase(a) => v
    })

  private def contains(cb: Option[ColBloom], v: Any): Boolean = cb match {
    case None => true
    case Some(ColBloom(kind, b)) => v match {
      case s: String if kind == "string" => b.mightContainString(s)
      case l: Long if kind == "long" => b.mightContainLong(l)
      case x: Int if kind == "long" => b.mightContainLong(x.toLong)
      case x: Short if kind == "long" => b.mightContainLong(x.toLong)
      case x: Byte if kind == "long" => b.mightContainLong(x.toLong)
      case _ => true // kind mismatch or unindexed shape: keep the file
    }
  }

  // sidecar field encoding, same scheme as FileStats
  private def enc(s: String): String =
    s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  private def dec(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case other => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
