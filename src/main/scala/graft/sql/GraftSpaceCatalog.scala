package graft.sql

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{GraftSourceProvider, GraftFileIndex}
import graft.tx.CommitLog

/** A Spark-4-native v2 `TableCatalog` over commit-log tables (round-10
  * VERDICT item 5) — the reference's users address every table BY NAME
  * through a catalog (Cassandra keyspace.table, `db-script.cql:4`); the
  * session-catalog v1 path ([[GraftCatalog]]) covers `CREATE TABLE …
  * USING graft`, but as a v1 provider it can never serve `REPLACE
  * TABLE` (Spark hard-refuses the statement for v1 providers) or
  * multi-part namespaces, and it must work around the metastore's stale
  * stored-schema copy. This catalog is the v2 path that removes all
  * three limits. Register with:
  *
  * {{{
  *   spark.sql.catalog.graft      = graft.sql.GraftSpaceCatalog
  *   spark.sql.catalog.graft.root = /warehouse/graft
  * }}}
  *
  * and address tables as `graft.ns1.ns2.tbl` — arbitrary namespace depth,
  * each namespace a directory under the root, each table the graft table
  * directory itself (the commit log IS the table metadata — schema,
  * layout, constraints, history all come fresh from the manifest on every
  * `loadTable`, so there is no stored-schema staleness BY CONSTRUCTION).
  *
  * Architecture — Delta's `DeltaCatalog`/`DeltaTableV2` split, Spark-first:
  *
  *  - [[loadTable]] returns a thin v2 [[GraftTableV2]] handle; the
  *    analyzer rule [[GraftV2ScanConversion]] (injected by
  *    [[graft.functions.GraftExtensions]]) swaps its resolved
  *    `DataSourceV2Relation` for the SAME v1 `HadoopFsRelation` /
  *    [[GraftFileIndex]] scan every other graft read plans — vectorized
  *    parquet, sidecar skipping, DV fallback, and [[GraftDmlRule]] DML
  *    all intact, exactly how Delta routes `DeltaTableV2` reads through
  *    its v1 relation. No second read path to keep correct.
  *  - Writes stay v2 (`INSERT INTO graft.ns.t` plans `AppendData`) but
  *    execute through [[V1Write]]: the `InsertableRelation` is one
  *    transactional [[CommitLog.commit]] into the table's recorded hive
  *    layout.
  *  - `REPLACE TABLE` / `CREATE OR REPLACE … AS SELECT` go through the
  *    [[StagingTableCatalog]] protocol: the staged write IS the atomic
  *    overwrite commit (one log version — schema change, data, layout
  *    together), so a replace preserves table history and time travel
  *    works across it, where the non-staged drop+create would erase both.
  *  - `VERSION/TIMESTAMP AS OF` resolve through the v2 `loadTable`
  *    overloads onto pinned manifests — Spark's native time-travel hooks,
  *    no parser help needed.
  *
  * DROP on a managed table deletes its directory (Delta's managed-table
  * contract); external tables (`CREATE TABLE … LOCATION '…'`) register a
  * pointer file under the catalog root and DROP removes only the
  * registration. */
class GraftSpaceCatalog extends TableCatalog with StagingTableCatalog
    with SupportsNamespaces {

  private var catalogName: String = _
  private var rootDir: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"graft catalog '$name' needs a root: spark.sql.catalog.$name.root=<dir>")
    rootDir = Paths.get(CommitLog.normalizeRoot(r))
    Files.createDirectories(rootDir)
  }

  override def name(): String = catalogName

  // ---- layout: namespaces are directories, tables are graft table dirs --

  private val ExternalPointer = "_graft_external"

  private def validPart(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") &&
      p != "." && p != ".." && !p.startsWith("_"),
      s"illegal catalog name segment: '$p'")
    p
  }

  private def nsDir(namespace: Array[String]): Path =
    namespace.foldLeft(rootDir)((d, p) => d.resolve(validPart(p)))

  private def tableDir(ident: Identifier): Path =
    nsDir(ident.namespace).resolve(validPart(ident.name))

  private def isTable(dir: Path): Boolean =
    Files.exists(dir.resolve(ExternalPointer)) ||
      CommitLog.latestVersion(dir.toString).isDefined

  /** The graft table ROOT a registered identifier addresses: the
    * directory itself (managed) or the external pointer's target. */
  private[sql] def tableRoot(ident: Identifier): Option[String] = {
    val dir = tableDir(ident)
    val ptr = dir.resolve(ExternalPointer)
    if (Files.exists(ptr))
      Some(new String(Files.readAllBytes(ptr), UTF_8).trim)
    else if (CommitLog.latestVersion(dir.toString).isDefined)
      Some(dir.toString)
    else None
  }

  private[sql] def tableRootOfParts(parts: Seq[String]): Option[String] =
    parts match {
      case init :+ last =>
        try tableRoot(Identifier.of(init.toArray, last))
        catch { case _: IllegalArgumentException => None }
      case _ => None
    }

  // ---- TableCatalog --------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val st = Files.list(d)
    try st.iterator().asScala
      .filter(p => Files.isDirectory(p) && isTable(p))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally st.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    try tableRoot(ident).isDefined
    catch { case _: IllegalArgumentException => false }

  override def loadTable(ident: Identifier): Table =
    tableRoot(ident).map(GraftTableV2(_, fullName(ident), None))
      .getOrElse(throw new NoSuchTableException(partsOf(ident)))

  /** `VERSION AS OF` — Spark's native v2 time-travel hook. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft VERSION AS OF must be an integer version, got '$version'")
    }
    tableRoot(ident).map(GraftTableV2(_, fullName(ident), Some(v)))
      .getOrElse(throw new NoSuchTableException(partsOf(ident)))
  }

  /** `TIMESTAMP AS OF` (epoch micros) — latest version committed at or
    * before the instant, Delta's contract ([[GraftTimeTravel.versionAt]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = tableRoot(ident).getOrElse(
      throw new NoSuchTableException(partsOf(ident)))
    GraftTableV2(root, fullName(ident),
      Some(GraftTimeTravel.versionAtMicros(root, timestamp)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireGraftProvider(properties)
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      partsOf(ident))
    val parts = GraftCreateTable.identityCols(partitions.toSeq)
    parts.foreach { p =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(p)),
        s"PARTITIONED BY column '$p' is not in the column list")
    }
    val dir = tableDir(ident)
    Option(properties.get(TableCatalog.PROP_LOCATION)) match {
      case Some(loc) =>
        // external: register a pointer; the location either already IS a
        // graft table (declared layout must match its recorded one — the
        // silent-wrong-layout guard) or gets the empty v1 committed there
        val extRoot = CommitLog.normalizeRoot(loc)
        CommitLog.latestVersion(extRoot) match {
          case None =>
            GraftSourceProvider.requireCreatable(extRoot)
            commitEmpty(extRoot, schema, parts, "append")
          case Some(v) =>
            val rec = CommitLog.manifest(extRoot, v).partitionBy
            require(rec.map(_.toLowerCase) == parts.map(_.toLowerCase),
              s"declared PARTITIONED BY (${parts.mkString(",")}) does not " +
                s"match the existing graft table at $extRoot (recorded: " +
                s"${if (rec.isEmpty) "unpartitioned" else rec.mkString(",")})")
        }
        Files.createDirectories(dir)
        Files.write(dir.resolve(ExternalPointer), extRoot.getBytes(UTF_8))
      case None =>
        GraftSourceProvider.requireCreatable(dir.toString)
        Files.createDirectories(dir.getParent)
        commitEmpty(dir.toString, schema, parts, "append")
    }
    GraftTableV2(tableRoot(ident).get, fullName(ident), None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = tableRoot(ident).getOrElse(
      throw new NoSuchTableException(partsOf(ident)))
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft supports top-level ADD COLUMN only, got ${a.fieldNames.mkString(".")}")
        CommitLog.addColumns(root, StructType(Seq(
          org.apache.spark.sql.types.StructField(
            a.fieldNames.head, a.dataType, a.isNullable))))
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft supports top-level DROP COLUMN only, got ${d.fieldNames.mkString(".")}")
        CommitLog.dropColumns(root, Seq(d.fieldNames.head))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft supports top-level RENAME COLUMN only, got ${r.fieldNames.mkString(".")}")
        CommitLog.renameColumn(root, r.fieldNames.head, r.newName)
      case other => throw new UnsupportedOperationException(
        s"graft catalog does not support table change: $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) return false
    // external: only the registration goes; managed: the data too
    removeDir(dir)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(
      partsOf(oldIdent))
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(
      partsOf(newIdent))
    val to = tableDir(newIdent)
    require(Files.isDirectory(to.getParent),
      s"target namespace ${newIdent.namespace.mkString(".")} does not exist")
    Files.move(from, to)
  }

  override def invalidateTable(ident: Identifier): Unit = () // nothing cached

  // ---- StagingTableCatalog: atomic CTAS / REPLACE / CREATE OR REPLACE --

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    requireGraftProvider(properties)
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      partsOf(ident))
    staged(ident, schema, partitions, properties, replacing = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    requireGraftProvider(properties)
    if (!tableExists(ident)) throw new NoSuchTableException(
      partsOf(ident))
    staged(ident, schema, partitions, properties, replacing = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    requireGraftProvider(properties)
    staged(ident, schema, partitions, properties, replacing = tableExists(ident))
  }

  private def staged(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replacing: Boolean): StagedTable = {
    require(ident.namespace.isEmpty || Files.isDirectory(nsDir(ident.namespace)),
      s"namespace ${ident.namespace.mkString(".")} does not exist")
    val parts = GraftCreateTable.identityCols(partitions.toSeq)
    val dir = tableDir(ident)
    // the staged commit must land at the table's DATA root: for an
    // existing table that is the registered root (an EXTERNAL table's
    // pointer target, NOT the registration dir — committing there would
    // make the replace silently invisible behind the pointer); for a
    // fresh create it is the declared LOCATION (external) or the
    // catalog-mapped dir (managed)
    val declaredLoc = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(CommitLog.normalizeRoot)
    if (replacing) {
      val existing = tableRoot(ident).get
      declaredLoc.foreach(l => require(l == existing,
        s"REPLACE TABLE cannot move ${fullName(ident)} to LOCATION '$l' — " +
          s"the table lives at '$existing' (drop and re-create to relocate)"))
      new GraftStagedTable(existing, fullName(ident), schema, parts,
        replacing = true, registerPointer = None)
    } else declaredLoc match {
      case Some(ext) =>
        // external staged create: data commits at the declared location;
        // the pointer registers only at commitStagedChanges (abort leaves
        // no dangling registration)
        GraftSourceProvider.requireCreatable(ext)
        Files.createDirectories(dir.getParent)
        new GraftStagedTable(ext, fullName(ident), schema, parts,
          replacing = false,
          registerPointer = Some(dir.resolve(ExternalPointer)))
      case None =>
        GraftSourceProvider.requireCreatable(dir.toString)
        Files.createDirectories(dir.getParent)
        new GraftStagedTable(dir.toString, fullName(ident), schema, parts,
          replacing = false, registerPointer = None)
    }
  }

  private def commitEmpty(root: String, schema: StructType,
      parts: Seq[String], mode: String): Unit = {
    val spark = SparkSession.active
    CommitLog.commit(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema), root, mode, parts): Unit
  }

  private def requireGraftProvider(properties: util.Map[String, String]): Unit = {
    val p = properties.get(TableCatalog.PROP_PROVIDER)
    require(p == null || p.equalsIgnoreCase("graft"),
      s"the graft catalog stores graft tables only; got USING $p")
  }

  private def partsOf(ident: Identifier): Seq[String] =
    ident.namespace.toSeq :+ ident.name

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  private def removeDir(p: Path): Unit = {
    graft.tx.TxIO.io.deleteTree(p)
    // drop the deleted table's cached manifests eagerly — the fileKey
    // identity already defends a re-CREATE at the same root, this just
    // releases the memory (round-11 ADVICE, low)
    graft.tx.CommitLog.invalidateCachedManifests(p.toString)
  }

  // ---- SupportsNamespaces ----------------------------------------------

  override def defaultNamespace(): Array[String] = Array.empty

  override def listNamespaces(): Array[Array[String]] = listChildNs(rootDir, Nil)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = nsDir(namespace)
    if (!Files.isDirectory(d) || isTable(d))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    listChildNs(d, namespace.toSeq)
  }

  private def listChildNs(d: Path, prefix: Seq[String]): Array[Array[String]] = {
    val st = Files.list(d)
    try st.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p) &&
        !p.getFileName.toString.startsWith("_"))
      .map(p => (prefix :+ p.getFileName.toString).toArray)
      .toArray
    finally st.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || {
      val d = try nsDir(namespace) catch { case _: IllegalArgumentException => return false }
      Files.isDirectory(d) && !isTable(d)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace.toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    require(!isTable(d), s"${namespace.mkString(".")} is a table")
    Files.createDirectories(d): Unit
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val d = nsDir(namespace)
    if (!cascade) {
      val st = Files.list(d)
      val empty = try !st.iterator().hasNext finally st.close()
      require(empty, s"namespace ${namespace.mkString(".")} is not empty " +
        "(use DROP NAMESPACE ... CASCADE)")
    }
    removeDir(d)
    true
  }
}

/** The thin v2 handle a [[GraftSpaceCatalog]] serves: schema/partitioning
  * come FRESH from the pinned relation (no stored copy to go stale);
  * reads are converted to the v1 scan by [[GraftV2ScanConversion]]; writes
  * execute as one transactional commit through [[V1Write]]. */
final case class GraftTableV2(root: String, ident: String,
    pinnedVersion: Option[Long]) extends Table with SupportsWrite
    with org.apache.spark.sql.graftbridge.V1FallbackBridge {

  /** STREAMING by catalog name: Spark resolves `readStream.table(name)` /
    * `writeStream.toTable(name)` of a `V2TableWithV1Fallback` (reached
    * through the [[org.apache.spark.sql.graftbridge.V1FallbackBridge]]
    * shim — the trait is `private[sql]`) via this synthetic v1
    * CatalogTable — provider `graft` + the table root,
    * which lands on the SAME v1 StreamSourceProvider/StreamSinkProvider
    * (version-tailing CDF source, exactly-once commit-per-batch sink)
    * every path-addressed stream uses. Batch resolution never consults
    * this (it only falls back for `V1Table`); batch reads keep the
    * [[GraftV2ScanConversion]] path. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(pinnedVersion.isEmpty,
      s"streaming over $ident pinned at VERSION AS OF ${pinnedVersion.get} " +
        "is not supported — stream the live table")
    catalogTableMeta
  }

  /** The synthetic CatalogTable without the streaming pinning guard —
    * also attached to converted scan relations so `spark.catalog
    * .refreshTable` (which streaming sinks call per batch) can walk them. */
  private[sql] def catalogTableMeta: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    // UnresolvedCatalogRelation asserts a database-qualified identifier;
    // the name parts are cosmetic here (provider + path drive the v1
    // stream source/sink), so the namespace chain maps onto the db slot
    val parts = ident.split("\\.").toSeq
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last,
        Some(if (parts.size > 2) parts.slice(1, parts.size - 1).mkString(".")
          else "default"),
        parts.headOption),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(Paths.get(root).toUri),
        properties = Map("path" -> root)),
      schema = schema(),
      provider = Some("graft"))
  }

  /** The SAME v1 relation `spark.read.format("graft")` plans — built once
    * per loadTable, which also pins the manifest snapshot for the
    * statement. */
  lazy val relation: BaseRelation = {
    val spark = SparkSession.active
    val params = Map("path" -> root) ++
      pinnedVersion.map("versionAsOf" -> _.toString)
    new GraftSourceProvider().createRelation(spark.sqlContext, params)
  }

  override def name(): String = ident
  override def schema(): StructType = relation.schema
  override def partitioning(): Array[Transform] =
    CommitLog.latestVersion(root)
      .map(v => CommitLog.manifest(root, pinnedVersion.getOrElse(v)).partitionBy)
      .getOrElse(Nil)
      .map(Expressions.identity(_): Transform).toArray
  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> "graft").asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinnedVersion.isEmpty,
      s"cannot write to $ident pinned at VERSION AS OF ${pinnedVersion.get}")
    new GraftV1WriteBuilder(root)
  }
}

/** v2 write surface → one transactional commit. TRUNCATE (INSERT
  * OVERWRITE's whole-table form) maps to an overwrite commit; a FILTERED
  * overwrite (`INSERT OVERWRITE t PARTITION (k='a')`, or any
  * OverwriteByExpression the planner pushes) maps to
  * [[CommitLog.replaceWhere]] — ONE atomic version that swaps exactly the
  * predicate's region and carries every untouched file by reference
  * (Delta's replaceWhere; O(region), never O(table)). A filter shape the
  * translator doesn't know refuses LOUDLY — silently widening an
  * overwrite predicate would delete rows outside the requested region. */
private[sql] class GraftV1WriteBuilder(root: String) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
  private var overwriteBy: Option[Array[Filter]] = None
  private var dynamic = false
  override def truncate(): WriteBuilder = {
    overwriteBy = Some(Array(AlwaysTrue)); this
  }
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwriteBy = Some(filters); this
  }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true; this
  }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, over: Boolean): Unit = {
          // schema-gated like commit()'s own layout inheritance: a
          // schema-evolving write lacking a legacy layout column degrades
          // to unpartitioned instead of failing on partitionBy(missing)
          lazy val layout = GraftDml.layoutCols(root).filter(c =>
            data.columns.exists(_.equalsIgnoreCase(c)))
          if (dynamic) {
            GraftDynamicOverwrite.run(data.sparkSession, root, data): Unit
          } else overwriteBy match {
            case Some(fs) if fs.forall(_.isInstanceOf[AlwaysTrue]) =>
              CommitLog.commit(data, root, "overwrite", layout): Unit
            case Some(fs) =>
              CommitLog.replaceWhere(data.sparkSession, root, data,
                fs.map(GraftFilterColumns.toColumn).reduce(_ && _),
                layout): Unit
            case None =>
              CommitLog.commit(data, root,
                if (over) "overwrite" else "append", layout): Unit
          }
        }
      }
  }
}

/** Dynamic partition overwrite (`partitionOverwriteMode=dynamic`,
  * `writeTo(...).overwritePartitions()`): replace EXACTLY the partitions
  * the incoming data touches, as ONE atomic [[CommitLog.replaceWhere]]
  * version. The touched set is one distinct pass over the input; its
  * size is the table's partition granularity, not its row count — capped
  * so a mis-partitioned table (layout on a high-cardinality key) refuses
  * instead of building a million-term predicate. */
private[sql] object GraftDynamicOverwrite {
  def run(spark: SparkSession, root: String, data: DataFrame): Long = {
    val layout = GraftDml.layoutCols(root)
    require(layout.nonEmpty, "dynamic partition overwrite needs a " +
      s"partitioned table; $root is unpartitioned — use plain " +
      "INSERT OVERWRITE (truncate) instead")
    import org.apache.spark.sql.functions.{col, lit}
    val touched = data.select(layout.map(col): _*).distinct()
      .limit(4097).collect()
    require(touched.length <= 4096,
      "dynamic partition overwrite touches >4096 partitions — " +
        "replace the whole table (plain INSERT OVERWRITE) instead")
    if (touched.isEmpty)
      return CommitLog.latestVersion(root).getOrElse(0L) // no rows: no-op
    // null-safe per-tuple equality, OR'd — hive's default-partition
    // rows replace correctly too
    val cond = touched.map { row =>
      layout.zipWithIndex.map { case (k, i) =>
        col(k) <=> lit(row.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
    CommitLog.replaceWhere(spark, root, data, cond, layout)
  }
}

/** `OverwritePartitionsDynamic` has NO v1-fallback exec in Spark (unlike
  * AppendData/OverwriteByExpression), so the plan is claimed at
  * resolution like the DML family: rewritten into a runnable command
  * backed by [[GraftDynamicOverwrite]] before the capability check would
  * refuse it. */
case class GraftDynamicOverwriteCommand(root: String, query: LogicalPlan)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override val output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] =
    GraftDml.versionOutput
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark, query)
    Seq(Row(GraftDynamicOverwrite.run(spark, root, df)))
  }
}

/** Data-source `Filter` → runtime `Column`, EXACT or refuse: the result
  * scopes a destructive overwrite, so an unknown filter shape must throw
  * rather than approximate (the inverse of pruning, where conservative
  * widening is safe). */
private[graft] object GraftFilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.functions.lit
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.sources._

  private def attr(name: String): Column =
    ColumnBridge.column(UnresolvedAttribute.quoted(name))

  def toColumn(f: Filter): Column = f match {
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case EqualTo(a, v) => attr(a) === lit(v)
    case EqualNullSafe(a, v) => attr(a) <=> lit(v)
    case GreaterThan(a, v) => attr(a) > lit(v)
    case GreaterThanOrEqual(a, v) => attr(a) >= lit(v)
    case LessThan(a, v) => attr(a) < lit(v)
    case LessThanOrEqual(a, v) => attr(a) <= lit(v)
    case In(a, vs) => attr(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => attr(a).isNull
    case IsNotNull(a) => attr(a).isNotNull
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => !toColumn(c)
    case StringStartsWith(a, p) => attr(a).startsWith(p)
    case StringEndsWith(a, p) => attr(a).endsWith(p)
    case StringContains(a, p) => attr(a).contains(p)
    case other => throw new UnsupportedOperationException(
      s"cannot translate overwrite filter exactly: $other — a filtered " +
        "overwrite refuses rather than approximate its region")
  }
}

/** Staged create/replace: the staged WRITE is the atomic commit (schema,
  * data, and layout in one log version — a replace keeps history and time
  * travel, unlike drop+create). A replace with no query (`REPLACE TABLE`
  * bare) publishes the declared schema as an empty overwrite at
  * [[commitStagedChanges]]. */
private[sql] class GraftStagedTable(root: String, ident: String,
    declaredSchema: StructType, parts: Seq[String], replacing: Boolean,
    registerPointer: Option[Path])
    extends StagedTable with SupportsWrite {

  @volatile private var written = false

  override def name(): String = ident
  override def schema(): StructType = declaredSchema
  override def partitioning(): Array[Transform] =
    parts.map(Expressions.identity(_): Transform).toArray
  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> root,
      TableCatalog.PROP_PROVIDER -> "graft").asJava
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // a staged write IS already whole-table semantics — REPLACE AS
      // SELECT plans an overwrite-by-truncate over the staged table
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, over: Boolean): Unit = {
              // replace = one overwrite commit; fresh create = the
              // creating append — either way ONE atomic publish
              CommitLog.commit(data, root,
                if (replacing) "overwrite" else "append", parts)
              written = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    if (!written) {
      // bare CREATE/REPLACE TABLE (no AS SELECT): publish the declared
      // schema — empty append creates, empty overwrite replaces in place
      val spark = SparkSession.active
      CommitLog.commit(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], declaredSchema), root,
        if (replacing) "overwrite" else "append", parts): Unit
    }
    // an EXTERNAL staged create registers its pointer only now — an
    // aborted stage leaves no dangling registration
    registerPointer.foreach { ptr =>
      Files.createDirectories(ptr.getParent)
      Files.write(ptr, root.getBytes(UTF_8)): Unit
    }
  }

  override def abortStagedChanges(): Unit =
    if (!replacing) {
      // a fresh create that already committed rolls back by removal; an
      // aborted REPLACE leaves the (atomic, versioned) commit in place —
      // RESTORE serves as the undo, matching the log's append-only model
      val p = Paths.get(root)
      if (Files.exists(p)) {
        val st = Files.walk(p)
        try st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.delete)
        finally st.close()
      }
    }
}

/** Analyzer rule: resolved reads of [[GraftTableV2]] become the SAME v1
  * `HadoopFsRelation`/[[GraftFileIndex]] scan (or DV-fallback relation)
  * every other graft read plans — Delta's `DeltaTableV2 → v1 relation`
  * conversion. v2 WRITE commands keep their relation (their execution
  * already routes through [[V1Write]]); everything else — SELECT, DML
  * targets, MERGE sources — converts, which is exactly what lets
  * [[GraftDmlRule]] and the stats-pruning scan work by catalog name. */
object GraftV2ScanConversion extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast path: the rule runs every resolution iteration of EVERY query —
    // plans without a graft v2 relation (the overwhelming majority) pay
    // one tree scan and no allocation. A V2WriteCommand's `table` is NOT
    // one of its children (only `query` is), so it needs its own probe.
    def graftRel(p: LogicalPlan): Boolean = p match {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftTableV2]
      case _ => false
    }
    val hasGraftV2 = plan.exists {
      case w: V2WriteCommand => graftRel(w.table)
      case p => graftRel(p)
    }
    if (!hasGraftV2) return plan
    // write targets stay v2 (AppendDataExecV1 executes them through the
    // table's own V1Write); identity-keyed so the same table read in the
    // write's QUERY still converts
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case w: V2WriteCommand => writeTargets.add(w.table): Unit
      case _ =>
    }
    plan.transformUp {
      // dynamic partition overwrite: no v1-fallback exec exists for it, so
      // the aligned plan becomes a replaceWhere-backed command outright
      case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
          if o.table.isInstanceOf[DataSourceV2Relation] &&
            o.table.asInstanceOf[DataSourceV2Relation].table.isInstanceOf[GraftTableV2] &&
            o.query.resolved && o.outputResolved =>
        GraftDynamicOverwriteCommand(
          o.table.asInstanceOf[DataSourceV2Relation].table
            .asInstanceOf[GraftTableV2].root, o.query)
      case r @ DataSourceV2Relation(gt: GraftTableV2, output, _, _, _, _)
          if !writeTargets.contains(r) =>
        val rel = gt.relation
        // LogicalRelation output must align 1:1 with relation.schema; the
        // v2 output came from the same snapshot's schema, so re-order by
        // name and keep the exprIds parents already reference. The
        // synthetic CatalogTable rides along so catalog plumbing that
        // walks scan relations (spark.catalog.refreshTable — streaming
        // sinks call it per batch) finds the metadata it expects.
        val byName = output.groupBy(_.name.toLowerCase)
        byName.collectFirst { case (n, as) if as.size > 1 => n }.foreach(n =>
          throw new UnsupportedOperationException(
            s"${gt.ident} has columns differing only by case ('$n') — " +
              "case-insensitive catalog alignment cannot serve it"))
        val aligned = rel.schema.map(f =>
          byName.getOrElse(f.name.toLowerCase, throw new IllegalStateException(
            s"${gt.ident}: relation column '${f.name}' missing from the " +
              s"resolved v2 output (${output.map(_.name).mkString(", ")})"))
            .head)
        new LogicalRelation(rel, aligned.toIndexedSeq,
          Some(gt.catalogTableMeta), false, None)
    }
  }
}
