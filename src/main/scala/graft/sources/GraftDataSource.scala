package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.tx.CommitLog

/** `spark.read.format("graft").load(tableRoot)` — the SQL front door to
  * commit-log tables (round-7 VERDICT item 2). The reference's entire
  * consumption model is SQL over the lake (every silver job is
  * `delta_scan(...)` SQL, `usgs_fact_tsunami_count_silver_dev.py:59-84`);
  * until now our versioned tables were reachable only through the Scala
  * API, and `readPruned`'s file skipping was an opt-in call instead of a
  * property of every pushed predicate.
  *
  * Architecture: NOT a row-producing DSv2 reader — re-implementing parquet
  * decode row-by-row would forfeit the vectorized reader and whole-stage
  * codegen that make Spark's parquet path fast. Instead the provider
  * returns a [[HadoopFsRelation]] over a custom [[FileIndex]] (the same
  * architecture Delta Lake's open-source DeltaDataSource uses): Spark
  * plans its ordinary `FileSourceScanExec` — vectorized parquet, column
  * pruning, parquet row-group pushdown, codegen all intact — and the
  * snapshot + file skipping live in [[GraftFileIndex.listFiles]]:
  *
  *  - the file LIST is the manifest's (snapshot isolation: concurrent
  *    commits never change a planned scan);
  *  - pushed data filters route through the SAME [[CommitLog.pruneFiles]]
  *    footer-stats skipping `readPruned` uses — automatically, for every
  *    predicate Spark pushes (`PushedFilters` in explain shows them);
  *  - hive-partitioned commit dirs surface as real partition columns with
  *    exact directory pruning.
  *
  * Time travel: `.option("versionAsOf", v)`. Writes route through
  * [[CommitLog.commit]] — `df.write.format("graft").mode("append"|
  * "overwrite").save(root)` IS a transactional commit (atomic publish,
  * stats sidecars, optimistic concurrency, auto-compaction), with
  * `.option("partitionBy", "a,b")` for hive layout and
  * `.option("txnAppId"/"txnVersion", …)` for the per-writer exactly-once
  * contract — so a pure SQL/DataFrame user gets the full write protocol
  * without touching the Scala API. Mutations (delete/update/merge) stay
  * Scala-surface, as in Delta's pre-SQL days. */
final class GraftSourceProvider extends RelationProvider
    with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  /** CATALOG-NAMED tables (`CREATE TABLE t USING graft LOCATION '…'`,
    * `spark.table("t")`, `df.write.format("graft").saveAsTable("t")`):
    * Spark re-resolves a catalog datasource table with the schema it
    * RECORDED at CREATE time. That copy goes stale the moment an additive
    * evolution commits (the plain-RelationProvider branch would then
    * refuse the table outright on schema mismatch), so the stored schema
    * is deliberately IGNORED — the commit log's manifest is the table's
    * single source of truth, exactly as Delta ignores the metastore
    * schema in favor of its transaction log.
    *
    * A schema over a location with NO committed versions is `CREATE TABLE
    * t (…) USING graft LOCATION '…'` on a fresh path: commit an EMPTY
    * snapshot carrying the declared schema (Delta's create-table metadata
    * action), so the table exists and is immediately INSERTable. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft source needs a table root: LOCATION '<path>'")
    if (CommitLog.latestVersion(table).isEmpty) {
      GraftSourceProvider.requireCreatable(table)
      CommitLog.commit(sqlContext.sparkSession.createDataFrame(
        sqlContext.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema), table, "append")
    }
    createRelation(sqlContext, parameters)
  }

  // ---- streaming sink: df.writeStream.format("graft").start(root) ------
  //
  // Every micro-batch is ONE commit-log transaction, made exactly-once by
  // the per-writer txn watermark (appId = the query's CHECKPOINT — a new
  // checkpoint restarts batchIds at 0, so identity must be
  // checkpoint-scoped or a replayed id would be swallowed): a replayed
  // batch after a crash re-applies nothing, Delta's idempotent-sink
  // contract. Append mode appends; Complete mode overwrites the snapshot
  // per batch (the aggregation-sink shape); `.option("mergeKeys",
  // "k1,k2")` switches every batch to a merge-on-read upsert-by-key
  // ([[CommitLog.mergeDv]]) — the CDC-apply sink, REQUIRED for Update
  // mode. `partitionBy` lays out hive dirs; mirror/cdc options forward to
  // commit.
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft sink needs a table root: .start(<path>)")
    val mergeKeys = parameters.get("mergekeys").orElse(parameters.get("mergeKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // exactly-once identity must follow the CHECKPOINT (a new checkpoint
    // restarts batchIds at 0); hash the path so txn-appId character rules
    // ('=', ';') can never reject a legal checkpoint path. Without the
    // checkpointLocation OPTION there is no stable identity visible here
    // (a session-conf checkpoint is invisible to the sink), so the sink
    // FAILS FAST instead of silently downgrading the delivery contract
    // (round-8 ADVICE, low: a warn-level degrade let restarts double-apply
    // batches to append tables). `.option("allowAtLeastOnce", "true")` is
    // the explicit opt-in for fire-and-forget writers; keying the identity
    // on the table path instead would be worse — a NEW checkpoint reusing
    // old batchIds would silently SWALLOW batches (data loss).
    val appId = parameters.get("checkpointlocation")
      .orElse(parameters.get("checkpointLocation")) match {
      case Some(ckpt) =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(ckpt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        "graft-sink:" + digest.take(16).map("%02x".format(_)).mkString
      case None if parameters.get("allowatleastonce")
          .orElse(parameters.get("allowAtLeastOnce")).exists(_.toBoolean) =>
        org.slf4j.LoggerFactory.getLogger(classOf[GraftSourceProvider]).warn(
          "graft sink: no checkpointLocation OPTION — running AT-LEAST-ONCE " +
            "(allowAtLeastOnce=true): a restart may re-apply batches")
        "graft-sink:" + java.util.UUID.randomUUID().toString
      case None => throw new IllegalArgumentException(
        "graft sink needs .option(\"checkpointLocation\", ...) for its " +
          "exactly-once writer identity (the session-conf checkpoint is " +
          "not visible to the sink); set " +
          ".option(\"allowAtLeastOnce\", \"true\") to opt into " +
          "at-least-once delivery without one")
    }
    import org.apache.spark.sql.streaming.OutputMode
    require(outputMode != OutputMode.Update() || mergeKeys.nonEmpty,
      "Update mode on a graft sink needs .option(\"mergeKeys\", ...) — " +
        "updated rows can only be applied as an upsert-by-key")
    val complete = outputMode == OutputMode.Complete()
    require(!(complete && mergeKeys.nonEmpty),
      "Complete mode replaces the snapshot per batch; mergeKeys would " +
        "leave keys absent from the latest result behind — drop one of the two")
    val mirror = parameters.get("mirror").exists(_.toBoolean)
    val cdc = parameters.get("cdc").exists(_.toBoolean)
    require(!(mergeKeys.nonEmpty && (mirror || cdc)),
      "mirror/cdc options don't compose with mergeKeys: a merge journals " +
        "its typed change rows itself (changeFeed serves them)")
    require(!cdc || complete,
      "cdc journaling applies to overwrites: use Complete mode (the " +
        "append path's inserts stream from the manifest delta already)")
    new GraftStreamSink(table, mergeKeys, partitionColumns,
      complete, appId, mirror, cdc)
  }

  // ---- streaming: spark.readStream.format("graft").load(root) ----------
  //
  // A VERSION-TAILING source over the commit log — offsets ARE commit
  // versions, batches ARE changeFeed slices. Unlike the `_stream`/`_cdc`
  // file-source subscriptions (CommitLog.readStream/changeFeedStream,
  // which interleave arbitrarily), this source serves every row-level
  // change exactly once, version-ordered, with `_change_type` and
  // `_commit_version` attached — Delta's CDF streaming contract. Appends
  // derive inserts from the manifest delta (zero extra storage, no
  // mirror = true needed); mutations and journaled overwrites serve their
  // stored change rows; a PLAIN overwrite inside the tailed range fails
  // the stream loudly (journal overwrites with cdc = true on streamed
  // tables). `.option("startingVersion", "latest" (default) | "earliest"
  // | <n>)` picks where the tail begins; checkpoints persist progress as
  // plain long offsets.

  /** The stream's start anchor, PERSISTED under the source's metadata dir
    * on first creation and read back on every restart — under the default
    * `latest` the anchor is time-dependent, and recomputing it on restart
    * would make a recovery replay of batch 0 (which arrives with
    * `start = None`) serve the wrong range (round-8 review finding; the
    * same mechanism Spark's file stream source uses for its own seed
    * state). */
  private def streamStart(parameters: Map[String, String], table: String,
      metadataPath: String): Long = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(new org.apache.hadoop.fs.Path(metadataPath).toUri.getPath)
    val anchor = dir.resolve("graft-start")
    if (Files.isRegularFile(anchor))
      return new String(Files.readAllBytes(anchor),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    val v = parameters.get("startingversion").orElse(parameters.get("startingVersion"))
      .map(_.trim.toLowerCase) match {
      case None | Some("latest") => CommitLog.latestVersion(table).getOrElse(0L)
      case Some("earliest") => 0L
      case Some(n) => n.toLong
    }
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".graft-start-${java.util.UUID.randomUUID()}")
    Files.write(tmp, v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.move(tmp, anchor, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp): Unit }
    v
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft stream needs a table root: spark.readStream.format(\"graft\").load(<path>)")
    (shortName(), GraftStreamSource.feedSchema(table))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft stream needs a table root: spark.readStream.format(\"graft\").load(<path>)")
    val maxVersions = parameters.get("maxversionspertrigger")
      .orElse(parameters.get("maxVersionsPerTrigger")).map(_.toLong)
    require(maxVersions.forall(_ >= 1L), "maxVersionsPerTrigger must be >= 1")
    new GraftStreamSource(sqlContext.sparkSession, table,
      streamStart(parameters, table, metadataPath), maxVersions)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft source needs a table root: .save(<path>)")
    val partitionBy = parameters.get("partitionby").orElse(parameters.get("partitionBy"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val appOpt = parameters.get("txnappid").orElse(parameters.get("txnAppId"))
    val verOpt = parameters.get("txnversion").orElse(parameters.get("txnVersion"))
    // both-or-neither, as Delta enforces: half a txn pair silently dropping
    // the exactly-once contract is a replayed-batch double-append waiting
    // to happen (round-8 review finding)
    require(appOpt.isDefined == verOpt.isDefined,
      "txnAppId and txnVersion must be set together (or neither)")
    val txn = appOpt.zip(verOpt).map { case (a, v) => (a, v.toLong) }.headOption
    // mirror = feed the _stream insertion mirror (readStream subscribers);
    // cdc = journal an overwrite's row diff at write time (changeFeed /
    // changeFeedStream serve it with no opt-in) — the same knobs the
    // Scala commit() surface has
    val mirror = parameters.get("mirror").exists(_.toBoolean)
    val cdc = parameters.get("cdc").exists(_.toBoolean)
    val exists = CommitLog.latestVersion(table).isDefined
    def commit(m: String): Unit =
      CommitLog.commit(data, table, m, partitionBy, txn = txn,
        mirror = mirror, cdc = cdc): Unit
    // Delta's replaceWhere write option: `.option("replaceWhere", "pred")`
    // with mode overwrite swaps EXACTLY the predicate's region in one
    // atomic version (CommitLog.replaceWhere — untouched files carry by
    // reference, source rows outside the predicate refuse). Any other
    // save mode with the option set refuses: silently appending beside a
    // replace predicate would be the wrong-region bug in disguise.
    val replacePred = parameters.get("replacewhere")
      .orElse(parameters.get("replaceWhere"))
    replacePred match {
      case Some(pred) =>
        require(mode == SaveMode.Overwrite,
          "replaceWhere requires SaveMode.Overwrite (Delta's contract)")
        require(!cdc, "replaceWhere journals its own change rows; cdc=true " +
          "applies to plain overwrites only")
        require(!mirror, "replaceWhere does not feed the _stream insertion " +
          "mirror (mutations never do) — dropping the option silently " +
          "would hide the backfill from readStream subscribers")
        val cond = org.apache.spark.sql.graftbridge.ColumnBridge.column(
          sqlContext.sparkSession.sessionState.sqlParser.parseExpression(pred))
        CommitLog.replaceWhere(sqlContext.sparkSession, table, data, cond,
          partitionBy, txn = txn): Unit
      case None => mode match {
        case SaveMode.Append => commit("append")
        case SaveMode.Overwrite => commit("overwrite")
        case SaveMode.ErrorIfExists =>
          if (exists) throw new IllegalStateException(
            s"$table already has committed versions (SaveMode.ErrorIfExists)")
          commit("append")
        case SaveMode.Ignore => if (!exists) commit("append")
      }
    }
    // a lightweight schema-only relation, NOT the read relation: building
    // the read path here would re-stat every file — and, worse, THROW on
    // a DV-carrying table, surfacing a successfully committed write as a
    // failure whose naive retry double-appends (round-8 review finding);
    // DataFrameWriter.save discards the returned relation anyway
    val committedSchema = CommitLog.latestVersion(table)
      .map(v => CommitLog.manifest(table, v).schema).getOrElse(data.schema)
    val sql = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = sql
      override def schema: StructType = committedSchema
    }
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val table = GraftSourceProvider.rootOf(parameters,
      "graft source needs a table root: spark.read.format(\"graft\").load(<path>)")
    // Delta's batch CDF read: .option("readChangeFeed", "true")
    // .option("startingVersion", n) [.option("endingVersion", m)] —
    // serves CommitLog.changeFeed's typed change rows (_change_type,
    // _commit_version attached). startingVersion is INCLUSIVE, as in
    // Delta; it is REQUIRED (an unbounded "all history" default would
    // silently scan every version's change storage).
    if (parameters.get("readchangefeed").orElse(parameters.get("readChangeFeed"))
        .exists(_.toBoolean)) {
      val start = parameters.get("startingversion")
        .orElse(parameters.get("startingVersion")).map(_.trim.toLowerCase match {
          case "earliest" => 1L
          case n => n.toLong
        }).getOrElse(throw new IllegalArgumentException(
          "readChangeFeed needs .option(\"startingVersion\", <n>|\"earliest\") " +
            "(inclusive) — an implicit full-history read is never what you want"))
      val end = parameters.get("endingversion")
        .orElse(parameters.get("endingVersion")).map(_.toLong)
      return new GraftCdfRelation(sqlContext.sparkSession, sqlContext,
        table, start, end)
    }
    val version = parameters.get("versionasof").orElse(parameters.get("versionAsOf"))
      .map(_.toLong)
    val m = version match {
      case Some(v) => CommitLog.manifest(table, v)
      case None => CommitLog.latestVersion(table).map(CommitLog.manifest(table, _))
        .getOrElse(throw new IllegalArgumentException(
          s"$table has no committed versions"))
    }
    val spark = sqlContext.sparkSession
    // the same one-relation scan CommitLog.read plans. Snapshots a bare
    // file scan cannot express serve through a fallback relation that
    // delegates to CommitLog's read plan: the INNER plan keeps its
    // vectorized scans and file pruning; only the row handoff at the
    // relation boundary is generic. That covers deletion vectors
    // (merge-on-read state — serving the files raw would resurrect
    // deleted rows; compact() folds them), column mapping (post-RENAME,
    // pre-OPTIMIZE: the physical→logical aliasing lives in CommitLog's
    // scan) and mixed hive layouts (one relation has one partition
    // schema; CommitLog aligns each commit dir by name). The fallback
    // pins the resolved version (review finding): an unpinned relation
    // would re-resolve 'latest' per action — schema and data could
    // straddle a concurrent commit, unlike the file-pinned fast path.
    GraftFileIndex.relation(spark, table, m, parameters)
      .getOrElse(new GraftDvRelation(spark, sqlContext, table, Some(m.version)))
  }
}

private[graft] object GraftSourceProvider {
  /** The `path` parameter as a plain filesystem table root: a
    * catalog-registered table's LOCATION arrives as a `file:` URI
    * ([[graft.sql.GraftCatalog]] named tables), a direct `.load(path)`
    * as a bare path — [[CommitLog.normalizeRoot]] folds both. */
  def rootOf(parameters: Map[String, String], err: String): String =
    CommitLog.normalizeRoot(
      parameters.getOrElse("path", throw new IllegalArgumentException(err)))

  /** Refuse to create a graft table over a NON-EMPTY directory that is
    * not a graft table: committing an empty v1 would make SELECT return 0
    * rows while the directory holds real data — a silent masquerade
    * (Delta refuses a non-empty non-Delta location the same way).
    * Graft's OWN pre-manifest artifacts don't count as foreign data:
    * config files, `_`-prefixed names (an empty `_graft_log`, Spark
    * `_SUCCESS` markers), and a `data/` dir left by a crashed FIRST
    * write that never linked its manifest (those files were never
    * committed — hiding them is correct, and convert() filters the same
    * way); anything else is a user dataset we must not mask. Shared by
    * the schema-create path and the partitioned CREATE TABLE / CTAS
    * commands ([[graft.sql.GraftCreateTable]]). */
  def requireCreatable(table: String): Unit = {
    val dir = java.nio.file.Paths.get(table)
    if (!java.nio.file.Files.isDirectory(dir)) return
    val ownConfig = Set(graft.tx.BloomIndex.ConfigName,
      graft.tx.Constraints.ConfigName, "data")
    val st = java.nio.file.Files.list(dir)
    val foreign =
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString)
          .find(n => !ownConfig(n) && !n.startsWith(".") && !n.startsWith("_"))
      } finally st.close()
    foreign.foreach { n =>
      throw new IllegalStateException(
        s"cannot create a graft table at $table: the directory is " +
          s"not empty (found '$n') and carries no commit log — " +
          "creating would hide the existing files behind an empty " +
          "snapshot; point LOCATION at an empty/new directory or " +
          "convert the data with an explicit write")
    }
  }
}

/** Version-tailing Structured Streaming source over a commit-log table:
  * `getOffset` is the table's latest version, `getBatch(a, b)` is
  * [[CommitLog.changeFeed]] over `(a, b]` aligned to the schema declared
  * at stream start (columns added by later evolution are dropped until a
  * restart — the standard streaming-source contract). Rows are exactly
  * the batch feed's: typed by `_change_type`, stamped `_commit_version`,
  * version-ordered within the micro-batch. */
private[sources] final class GraftStreamSource(spark: SparkSession,
    table: String, startVersion: Long, maxVersionsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit}
  import org.apache.spark.sql.execution.streaming.{Offset => V1Offset}
  import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}

  override val schema: StructType = GraftStreamSource.feedSchema(table)

  /** Highest version this source instance has SURFACED — advanced by
    * every getBatch (including the post-restart recovery replay, so a
    * fresh instance re-learns the checkpointed position before its first
    * own getOffset) and used to cap batch width under
    * `maxVersionsPerTrigger`. */
  @volatile private var highWater: Long = startVersion

  /** Target frozen by [[prepareForTriggerAvailableNow]]: under
    * `Trigger.AvailableNow` the engine drains exactly to the version the
    * table had at query start, in `maxVersionsPerTrigger`-capped steps.
    * Implementing [[SupportsTriggerAvailableNow]] DIRECTLY matters: a
    * bare v1 Source falls back to SINGLE-batch semantics under
    * AvailableNow (the wrapper conf is off by default), which with a cap
    * would terminate "successfully" after n versions — silent partial
    * processing (round-8 review finding). */
  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(CommitLog.latestVersion(table).getOrElse(startVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset =
    getOffset.orNull

  override def reportLatestOffset(): V2Offset = getOffset.orNull

  // NO startVersion filter here: startVersion gates only the FIRST batch
  // (getBatch with start = None). Filtering offsets by it would make a
  // restarted stream — whose createSource recomputed startVersion to the
  // restart-time latest under the default 'latest' — silently skip every
  // version committed while it was down, even though the checkpoint holds
  // an older offset (round-8 review finding). An offset equal to the
  // last-committed one simply yields no new batch.
  //
  // `maxVersionsPerTrigger` bounds how far past the high water one
  // micro-batch may reach — without it, a from-earliest start (or a
  // long-down restart) over a 100 TB table would serve the ENTIRE
  // history as one batch; catch-up takes several triggers instead.
  override def getOffset: Option[V1Offset] =
    CommitLog.latestVersion(table).map { latest0 =>
      val latest = availableNowTarget.fold(latest0)(math.min(latest0, _))
      val capped = maxVersionsPerTrigger
        .map(n => math.min(latest, highWater + n)).getOrElse(latest)
      LongOffset(math.max(capped, highWater))
    }

  private def versionOf(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().toLong
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): org.apache.spark.sql.DataFrame = {
    val from = start.map(versionOf).getOrElse(startVersion)
    val to = versionOf(end)
    if (to > highWater) highWater = to
    val feed = CommitLog.changeFeed(spark, table, from, Some(to))
    // pin the stream's declared schema across mid-stream evolution
    org.apache.spark.sql.graftbridge.ColumnBridge.streamingOfRows(spark,
      CommitLog.alignTo(feed, schema))
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$table from v$startVersion]"
}

private[sources] object GraftStreamSource {
  /** The stream's row shape: the LATEST snapshot schema (nullable-forced,
    * like every file-source schema) + the change-feed's type/version
    * stamps. */
  def feedSchema(table: String): StructType = {
    val m = CommitLog.latestVersion(table).map(CommitLog.manifest(table, _))
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no committed versions"))
    StructType(m.schema.fields.map(_.copy(nullable = true)))
      .add(CommitLog.ChangeTypeCol, org.apache.spark.sql.types.StringType)
      .add(CommitLog.CommitVersionCol, org.apache.spark.sql.types.LongType)
  }
}

/** Exactly-once streaming sink: each micro-batch is one commit-log
  * transaction carrying `(appId, batchId)` — [[CommitLog]]'s txn
  * watermark re-applies nothing on a replayed batch. See
  * [[GraftSourceProvider.createSink]] for the mode/merge contract. */
private[sources] final class GraftStreamSink(table: String,
    mergeKeys: Seq[String], partitionBy: Seq[String], complete: Boolean,
    appId: String, mirror: Boolean, cdc: Boolean)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    val spark = data.sparkSession
    // the incoming frame is flagged streaming (df.write refuses it);
    // re-wrap the executed micro-batch as a batch frame, as
    // ForeachBatchSink does
    val batch = org.apache.spark.sql.graftbridge.ColumnBridge.batchOfRows(spark, data)
    if (mergeKeys.nonEmpty) {
      // first batch may create the table: merge needs an existing snapshot
      if (CommitLog.latestVersion(table).isEmpty)
        CommitLog.commit(batch, table, "append", partitionBy,
          txn = Some((appId, batchId)), mirror = mirror, cdc = cdc)
      else
        CommitLog.mergeDv(spark, table, batch, mergeKeys, partitionBy,
          txn = Some((appId, batchId)))
    } else {
      CommitLog.commit(batch, table, if (complete) "overwrite" else "append",
        partitionBy, txn = Some((appId, batchId)), mirror = mirror, cdc = cdc)
    }
    (): Unit
  }

  override def toString: String = s"GraftStreamSink[$table]"
}

/** Merge-on-read fallback for DV-carrying snapshots: a
  * [[org.apache.spark.sql.sources.PrunedFilteredScan]] whose buildScan
  * delegates to [[CommitLog.readPruned]] — pushed predicates still prune
  * files through the stats sidecars AND push into the inner parquet scans;
  * the returned filters stay declared UNHANDLED so Spark re-applies them
  * exactly (the translation below is best-effort pruning, not an answer
  * contract). */
private[graft] final class GraftDvRelation(spark: SparkSession,
    sql: SQLContext, table: String, version: Option[Long])
    extends BaseRelation with org.apache.spark.sql.sources.PrunedFilteredScan {

  /** Table root, for the DML rule ([[graft.sql.GraftDmlRule]]) to target
    * mutations at. */
  def tableRoot: String = table

  /** The pinned snapshot version (None = latest at each action), for the
    * metadata-aggregate rewrite. */
  def pinnedVersion: Option[Long] = version

  import org.apache.spark.sql.{functions => F, Column, Row}
  import org.apache.spark.sql.sources._

  override def sqlContext: SQLContext = sql

  override val schema: StructType = {
    val m = version.map(CommitLog.manifest(table, _)).getOrElse(
      CommitLog.manifest(table, CommitLog.latestVersion(table).get))
    StructType(m.schema.fields.map(_.copy(nullable = true)))
  }

  /** data-source Filter → Column for the shapes worth pushing; None keeps
    * the conjunct row-level only (Spark re-applies everything anyway). */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, p) => Some(F.col(a).startsWith(p))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[Row] = {
    val cond = filters.flatMap(toColumn).reduceOption(_ && _)
    val base = cond match {
      case Some(c) => CommitLog.readPruned(spark, table, c, version)
      case None => version.map(CommitLog.readAt(spark, table, _))
        .getOrElse(CommitLog.read(spark, table))
    }
    // zero requiredColumns (a bare count) is a legal zero-column select
    base.select(requiredColumns.toIndexedSeq.map(F.col): _*).rdd
  }
}

/** Batch change-data-feed relation (Delta's `readChangeFeed` reader):
  * serves [[CommitLog.changeFeed]]'s typed change rows for the INCLUSIVE
  * version range [start, end?]. A plain TableScan — change rows are an
  * append-shaped log, not a prunable snapshot; consumers filter on
  * `_commit_version`/`_change_type` row-level (the range bound is the
  * real pruning, and it happened at relation build). */
private[graft] final class GraftCdfRelation(spark: SparkSession,
    sql: SQLContext, table: String, startingVersion: Long,
    endingVersion: Option[Long])
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {

  override def sqlContext: SQLContext = sql

  // the range is PINNED at relation construction: an unpinned end would
  // re-resolve to the moving latest on every action — the same DataFrame
  // returning different rows across actions, and a schema-widening
  // commit landing mid-query would misalign rows against the captured
  // schema (round-9 review finding)
  private val endVersion: Long = endingVersion.orElse(
    CommitLog.latestVersion(table)).getOrElse(
    throw new IllegalArgumentException(s"$table has no committed versions"))

  private def feed: org.apache.spark.sql.DataFrame =
    CommitLog.changeFeed(spark, table, startingVersion - 1, Some(endVersion))

  override val schema: StructType =
    StructType(feed.schema.fields.map(_.copy(nullable = true)))

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    feed.rdd
}

/** The snapshot's file list as a Spark [[FileIndex]]: one fixed manifest
  * (never re-listed — [[refresh]] is a no-op because a commit-log snapshot
  * is immutable), stats-sidecar data skipping under pushed filters, and
  * hive partition-directory pruning. Driver work is O(files), the same
  * bound as every other manifest consumer. `m` may carry a file SUBSET of
  * its version (a change slice, a pruned or mutation read). */
final class GraftFileIndex(spark: SparkSession, table: String,
    m: CommitLog.Manifest) extends FileIndex {

  private val tableDir = java.nio.file.Paths.get(table)

  /** Table root, for the DML rule ([[graft.sql.GraftDmlRule]]) to target
    * mutations at. */
  def tableRoot: String = table

  /** The published version this index serves IN FULL, for the
    * metadata-aggregate rewrite (a `versionAsOf` view must answer for ITS
    * version) and the DML rule. None when `m` is not that version's
    * published manifest — a change slice or pruned read shares its
    * version number but not its file list, and the sidecars would answer
    * for the whole snapshot. */
  lazy val snapshotVersion: Option[Long] =
    Some(m.version).filter(v =>
      scala.util.Try(CommitLog.manifest(table, v)).toOption.contains(m))

  /** Hive partition column names, from the first data file's path segments
    * (`name=value`); [[GraftFileIndex.relation]] admits only snapshots
    * whose files all share one segment sequence. */
  private val partitionCols: Seq[String] =
    m.files.headOption.toSeq.flatMap(GraftFileIndex.layoutOf).distinct

  /** File-source schemas must be NULLABLE throughout, exactly as Spark's
    * own `spark.read.schema(...)` forces: a snapshot schema that recorded
    * a column non-nullable (e.g. from `lit(...)`) would otherwise make
    * the vectorized reader REFUSE pre-evolution files that lack the
    * column ("required column is missing") — and, worse, let the
    * optimizer silently rewrite `count(col)` to `count(*)` on the
    * never-null premise. */
  private def nullableized(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullableized(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullableized(a.elementType), containsNull = true)
      case mp: org.apache.spark.sql.types.MapType =>
        mp.copy(keyType = nullableized(mp.keyType),
          valueType = nullableized(mp.valueType), valueContainsNull = true)
      case other => other
    }

  override val partitionSchema: StructType =
    nullableized(StructType(partitionCols.map(c =>
      m.schema.fields.find(_.name == c).getOrElse(StructField(c,
        org.apache.spark.sql.types.StringType))))).asInstanceOf[StructType]

  /** The scan's on-file schema: manifest schema minus partition columns
    * (partition values live in directory names, not pages). */
  val dataSchema: StructType =
    nullableized(StructType(m.schema.fields.filterNot(f =>
      partitionCols.contains(f.name)))).asInstanceOf[StructType]

  /** (relative path, partition values, status) per snapshot file — one
    * driver-side stat each, computed once per relation. A missing file
    * fails the read with `spark.read.parquet`'s `PATH_NOT_FOUND`: a
    * zero-length stand-in would plan no split and drop its rows
    * silently. */
  private val fileRows: Seq[(String, InternalRow, FileStatus)] = m.files.map { f =>
    val p = tableDir.resolve(f)
    val len = try java.nio.file.Files.size(p) catch {
      case _: java.nio.file.NoSuchFileException =>
        throw org.apache.spark.sql.graftbridge.ColumnBridge.pathNotFound(p.toString)
    }
    val status = new FileStatus(len, false, 0, len, 0L,
      new Path(p.toAbsolutePath.toString))
    (f, partitionValuesOf(f), status)
  }

  private def partitionValuesOf(rel: String): InternalRow = {
    if (partitionCols.isEmpty) return InternalRow.empty
    val seg = rel.split("/").dropRight(1).filter(_.contains("="))
      .map(s => s.takeWhile(_ != '=') -> s.dropWhile(_ != '=').drop(1)).toMap
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      seg.get(f.name) match {
        case None | Some("__HIVE_DEFAULT_PARTITION__") => null
        case Some(raw) =>
          val s = unescape(raw)
          org.apache.spark.sql.catalyst.expressions.Cast(
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(s)),
            f.dataType, Some(java.time.ZoneOffset.UTC.getId)).eval()
      }
    })
  }

  private def unescape(s: String): String =
    try org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)
    catch { case _: Throwable => s }

  override def rootPaths: Seq[Path] =
    Seq(new Path(tableDir.toAbsolutePath.toString))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // data skipping: every pushed conjunct that translates to a source
    // Filter prunes through the footer-stats sidecars — EXACTLY
    // readPruned's machinery (the spec asserts file-count agreement);
    // untranslatable residue stays row-level and simply doesn't prune
    val translated = dataFilters.flatMap(
      org.apache.spark.sql.graftbridge.ColumnBridge.translateFilter)
    val kept = CommitLog.pruneFiles(table, m, translated).toSet
    // hive partition pruning: bind the partition predicates to the
    // partition-value row and evaluate exactly (these reference only
    // partition columns by construction — Spark split them off the
    // data filters)
    val keepPartition: InternalRow => Boolean =
      if (partitionFilters.isEmpty) _ => true
      else {
        val attrs: Seq[Attribute] = partitionFilters
          .flatMap(_.references.toSeq).distinct
        val bound = partitionFilters
          .reduce(org.apache.spark.sql.catalyst.expressions.And)
          .transform {
            case a: Attribute =>
              val ord = partitionSchema.fieldIndex(a.name)
              BoundReference(ord, partitionSchema(ord).dataType,
                partitionSchema(ord).nullable)
          }
        require(attrs.forall(a => partitionCols.contains(a.name)),
          s"non-partition attribute in partition filters: $attrs")
        val pred = Predicate.createInterpreted(bound)
        row => pred.eval(row)
      }
    fileRows
      .filter { case (rel, values, _) => kept.contains(rel) && keepPartition(values) }
      .groupBy(_._2).toSeq
      .map { case (values, fs) => PartitionDirectory(values, fs.map(_._3).toArray) }
  }

  override def inputFiles: Array[String] =
    fileRows.map(_._3.getPath.toString).toArray

  override def refresh(): Unit = () // a snapshot is immutable

  override def sizeInBytes: Long = fileRows.map(_._3.getLen).sum
}

object GraftFileIndex {
  /** Hive partition column names of one manifest file, from its path
    * segments (`name=value`) below the commit dir. */
  private def layoutOf(rel: String): Seq[String] =
    rel.split("/").toSeq.dropRight(1).filter(_.contains("=")).map(_.takeWhile(_ != '='))

  /** Snapshot `m` as ONE file relation over a [[GraftFileIndex]] — the scan
    * both `format("graft")` and [[CommitLog.read]] plan. Its width is
    * O(1) in commit dirs: Spark packs the small files of every commit into
    * core-sized splits, and every pushed filter prunes through the stats
    * sidecars. Columns come out as a hive file source's do: data columns
    * in snapshot order, partition columns last. None when one file relation
    * cannot express the snapshot: deletion vectors (merge-on-read),
    * column mapping (physical→logical aliasing) and mixed hive layouts
    * (one relation has one partition schema). */
  def relation(spark: SparkSession, table: String, m: CommitLog.Manifest,
      options: Map[String, String] = Map.empty): Option[HadoopFsRelation] = {
    if (m.dvDirs.nonEmpty || m.colMap.nonEmpty ||
        m.files.iterator.map(layoutOf).distinct.drop(1).hasNext) return None
    val index = new GraftFileIndex(spark, table, m)
    Some(HadoopFsRelation(index, index.partitionSchema, index.dataSchema,
      bucketSpec = None, new ParquetFileFormat, options)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
  }
}
