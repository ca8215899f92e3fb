package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memo
import graft.tx.CommitLog

/** PQ index PERSISTED as commit-log tables and maintained from the base
  * table's change feed — [[IvfStore]]'s contract applied to the
  * compression path ([[PqIndex]]). At 100 TB the encoded corpus is the
  * artifact worth keeping: the full-corpus encode pass is the expensive
  * step, and [[PqIndex]]'s session cache throws it away at process exit.
  * Here the index lives on storage:
  *
  * {{{
  *   <indexRoot>/codebooks   (subspace INT, code INT, centroid ARRAY<DOUBLE>)
  *   <indexRoot>/codes       (<idCol> LONG, pq_code ARRAY<INT>[, cell INT])
  *   <indexRoot>/cells       (cell INT, centroid ARRAY<DOUBLE>) — optional
  * }}}
  *
  * With `nCells > 0` the store is the IVF-PQ COMPOSITE (FAISS's IVFPQ
  * minus residual encoding — codes quantize the vectors themselves, so
  * one codebook set serves gated and ungated scans; residual coding
  * would cut quantization error further at the cost of coupling the
  * codebooks to the cell structure): build fits a coarse quantizer from
  * the same bounded sample machinery, every code row carries its cell,
  * and [[topK]] gates the ADC scan to each query's `nProbe` nearest
  * cells — the compressed scan then touches ~nProbe/nCells of the
  * corpus instead of all of it, the shape that keeps query cost sublinear
  * at 100 TB. Cells are FROZEN across refreshes like everything else
  * here; drift → re-[[build]].
  *
  * The covered base version rides on the `codes` table as a transaction
  * watermark (appId [[AppId]]), so [[refresh]] folds EVERY base change
  * since the watermark (appends, deletes, re-embeddings, plain
  * overwrites via the snapshot-diff feed) through an encode-only pass
  * against FROZEN codebooks (a per-row map — O(delta × m × nCodes)
  * compute, O(touched files) rewrite, never a corpus pass), and a
  * replayed refresh re-applies nothing. Codebooks stay frozen across
  * refreshes exactly like [[IvfStore]]'s centroids: drift is measured
  * ([[staleFraction]]) and answered by an explicit re-[[build]].
  *
  * Unlike `IvfStore.assigned`, the `codes` table does NOT carry the
  * vectors — compression is the point — so [[topK]]'s exact re-rank
  * fetches the shortlist's original vectors from the BASE table with a
  * key point-lookup ([[CommitLog.readPruned]] over an `isin` predicate):
  * per-file key bounds keep the fetch O(touched files), the promised
  * scale shape for the refine step. The fetch reads the base's CURRENT
  * snapshot — the only vacuum-safe choice; between refreshes the index
  * lags the base like any asynchronous index, and an id retired from the
  * base since the covered version simply drops out of the re-rank. */
object PqStore {

  /** Writer id for the version watermark on `codes`. */
  val AppId = "graft-pq"

  private def codebooksTable(root: String) = s"$root/codebooks"
  private def codesTable(root: String) = s"$root/codes"
  private def cellsTable(root: String) = s"$root/cells"

  /** Fit + encode the FULL base snapshot and publish both tables; returns
    * the covered base version. Watermark-advance rules are [[IvfStore
    * .build]]'s verbatim: the txn is attached only when it ADVANCES (a
    * drift re-build at an unchanged base version must still rewrite the
    * codes — tripping the exactly-once fast path would skip it over
    * already-replaced codebooks); codebooks commit FIRST and the
    * watermark rides the LAST write, so a crash between the two leaves
    * an honest un-advanced state a re-run fully repairs. */
  def build(spark: SparkSession, baseTable: String, indexRoot: String,
      m: Int = 8, nCodes: Int = 256, nCells: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    // read PINNED at the resolved version (round-13 ADVICE on DedupStore,
    // applied store-wide): the watermark must name the snapshot that was
    // actually encoded, not whatever a racing commit made latest
    val baseVersion = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    val corpus = CommitLog.readAt(spark, baseTable, baseVersion)
    import spark.implicits._
    // the coarse quantizer is fit FIRST because the composite's codebooks
    // are fit on residuals against it (FAISS IVFPQ proper — cells and
    // codebooks are coupled and freeze/re-fit together)
    val cellsFit = if (nCells <= 0) None else Some(fitCells(corpus, nCells, vecCol))
    val books = cellsFit match {
      case Some(cells) => PqIndex.fitResidual(corpus, cells, m, nCodes, vecCol)
      case None => PqIndex.fit(corpus, m, nCodes, vecCol)
    }
    val bookRows = for {
      j <- 0 until books.m
      (cent, c) <- books.centers(j).zipWithIndex
    } yield (j, c, cent.toSeq)
    val txn =
      if (coveredVersion(indexRoot).exists(_ >= baseVersion)) None
      else Some((AppId, baseVersion))
    // cells (IVF-PQ composite) commit FIRST of all: a crash anywhere
    // before the codes overwrite leaves the watermark un-advanced — the
    // same honest transient as IvfStore.build's centroids-over-old-
    // assignments window, repaired by re-running build. The `residual`
    // marker column rides the cells rows so readers decode the codes in
    // the space they were encoded in.
    val cellsOpt = cellsFit.map { cells =>
      CommitLog.commit(
        cells.zipWithIndex.map { case (c, i) => (i, c.toSeq, true) }.toSeq
          .toDF("cell", "centroid", "residual"),
        cellsTable(indexRoot), "overwrite")
      cells
    }
    CommitLog.commit(bookRows.toDF("subspace", "code", "centroid"),
      codebooksTable(indexRoot), "overwrite")
    // gated codes commit RANGE-CLUSTERED on cell, so each file's footer
    // stats carry a tight [min,max] cell window and the gated read can
    // SKIP unprobed cells' files — without the clustering, the gate
    // would only filter rows after a full codes scan and query I/O would
    // stay linear in corpus size
    val codes = cellsOpt match {
      case Some(cells) =>
        PqIndex.encodeWithCells(corpus, books, cells, idCol, vecCol,
            residual = true)
          .repartitionByRange(math.max(
            spark.sparkContext.defaultParallelism, 1), col("cell"))
          .sortWithinPartitions("cell")
      case None => PqIndex.encode(corpus, books, idCol, vecCol)
    }
    CommitLog.commit(codes, codesTable(indexRoot), "overwrite", txn = txn)
    // An UNGATED rebuild over a previously gated index retires the cells
    // table LAST (leaving it would make every later topK/refresh refuse
    // forever — a state no re-run could repair). Deleting it AFTER the
    // codes overwrite matters since residual coding: the pre-fix order
    // (cells first) left a crash window of no-cells + still-RESIDUAL old
    // codes, which the ungated scan would have ADC'd in the wrong space
    // silently; with this order the window is cells-over-cell-less-codes,
    // which requireCellAgreement refuses LOUDLY and a re-run repairs.
    if (nCells <= 0) graft.tx.TxIO.io.deleteTree(java.nio.file.Paths.get(cellsTable(indexRoot)))
    baseVersion
  }

  /** Coarse cell quantizer for the IVF-PQ composite: seeded Lloyd's over
    * a pruned-reservoir sample of RAW vectors (squared-L2 on raw —
    * [[IvfStore.assignToNearest]]'s metric, so both index families bin
    * identically). */
  private def fitCells(corpus: DataFrame, nCells: Int,
      vecCol: String): Array[Array[Double]] = {
    val sample = Sampling.prunedReservoir(
      corpus.select(col(vecCol).cast("array<double>")).rdd
        .map(_.getSeq[Double](0).toArray),
      math.max(256 * nCells, 4096))
    require(sample.nonEmpty, "cell fit needs a non-empty corpus")
    PqIndex.lloyd(sample, nCells, iters = 15, seed = 42L)
  }

  /** Cheap existence probe for the composite's cells table (no collect —
    * callers that need the centroids use [[loadCells]]). */
  def isGated(indexRoot: String): Boolean =
    CommitLog.latestVersion(cellsTable(indexRoot)).isDefined

  /** The codes artifact table path — the table a maintenance cycle
    * re-clusters ([[graft.tools.Maintenance]]). */
  def artifactTable(indexRoot: String): String = codesTable(indexRoot)

  /** The composite's cell centroids (cell-ascending) and whether the
    * codes quantize RESIDUALS against them — None when the index was
    * built without cells. Indexes persisted before residual coding have
    * no `residual` column and read as plain-vector codes. */
  def loadCells(spark: SparkSession,
      indexRoot: String): Option[(Array[Array[Double]], Boolean)] =
    if (CommitLog.latestVersion(cellsTable(indexRoot)).isEmpty) None
    else {
      val df = CommitLog.read(spark, cellsTable(indexRoot))
      val residual = df.columns.contains("residual") &&
        df.select(col("residual")).limit(1).collect()
          .headOption.exists(!_.isNullAt(0)) &&
        df.select(col("residual")).limit(1).head().getBoolean(0)
      val cents = df
        .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      Some((cents, residual))
    }

  /** Guard the cells↔codes structural contract (the gated sibling of
    * [[requireWidthAgreement]]): a gated index whose codes table predates
    * the cells (interrupted ungated→gated rebuild) must refuse, and so
    * must codes whose cell ids overflow the cells table (a gated rebuild
    * with SMALLER nCells that crashed between the cells and codes
    * overwrites — rows in vanished cells would silently never be probed,
    * a recall collapse instead of a loud refusal). The overflow check
    * rides [[CommitLog.metaAggregate]] — max(cell) from footer stats, no
    * scan — with a one-column scan fallback when stats are unavailable. */
  private def requireCellAgreement(codes: DataFrame, indexRoot: String,
      nCells: Int): Unit = {
    if (!codes.columns.contains("cell")) throw new IllegalStateException(
      s"$indexRoot: a cells table exists but the stored codes carry no " +
      "cell column - an interrupted build left the index structurally " +
      "inconsistent; re-run build to repair")
    val maxCell = CommitLog.metaAggregate(codesTable(indexRoot), Seq("cell"))
      .flatMap(_.cols("cell").max.map(_.asInstanceOf[Int].toLong))
      .orElse(Option(codes.agg(max(col("cell"))).head().get(0))
        .map(_.asInstanceOf[Number].longValue))
    maxCell.filter(_ >= nCells).foreach { mc =>
      throw new IllegalStateException(
        s"$indexRoot: stored codes reference cell $mc but the cells table " +
        s"has only $nCells - an interrupted build left the index " +
        "structurally inconsistent; re-run build to repair")
    }
  }

  /** Base version the index currently covers (the txn watermark). */
  def coveredVersion(indexRoot: String): Option[Long] =
    CommitLog.txnVersion(codesTable(indexRoot), AppId)

  /** Frozen index metadata: codebooks and cells are FROZEN between
    * mutations of the codes table — every build overwrites it and every
    * refresh merges into it or pins its watermark — so reloading and
    * structurally re-validating them on EVERY query call costs 4-6
    * driver-blocking collect jobs for bytes that cannot have changed under
    * the same codes-table stamp. A build that crashes BETWEEN its
    * codebooks and codes commits leaves the codes stamp unchanged, so
    * in-JVM callers keep serving the old CONSISTENT (books, codes) pair; a
    * fresh process sees the torn state and [[requireWidthAgreement]]
    * refuses loudly. */
  private val frozenMeta = new Memo[(String, CommitLog.Stamp),
    (Long, PqIndex.Codebooks, Option[(Array[Array[Double]], Boolean)])](maxEntries = 16)

  /** The validated (codesVersion, books, cells) triple of the CURRENT codes
    * version. The structural guards ([[requireWidthAgreement]],
    * [[requireCellAgreement]]) run once per stamp — their subjects are
    * immutable for a given version by construction. Callers PIN their
    * codes reads at the returned version so a concurrent build committing
    * mid-call can never pair these books with newer codes. A missing codes
    * table has no stamp, so it is never served from the memo: the read
    * fails loudly. */
  private def loadMeta(spark: SparkSession, indexRoot: String):
      (Long, PqIndex.Codebooks, Option[(Array[Array[Double]], Boolean)]) = {
    val stamp = CommitLog.latestStamp(codesTable(indexRoot))
    frozenMeta.stamped(stamp.map((indexRoot, _))) {
      val books = loadBooks(spark, indexRoot)
      val v = stamp.map(_.version).getOrElse(throw new IllegalStateException(
        s"$indexRoot has no committed codes; run build first"))
      val codes = CommitLog.readAt(spark, codesTable(indexRoot), v)
      requireWidthAgreement(codes, books, indexRoot)
      val cells = loadCells(spark, indexRoot)
      cells.foreach { case (cs, _) =>
        requireCellAgreement(codes, indexRoot, cs.length) }
      (v, books, cells)
    }
  }

  /** Guard the codebooks↔codes structural contract: a [[build]] crash
    * between the codebooks overwrite and the codes overwrite (the
    * documented honest-unadvanced window) leaves NEW m-wide codebooks
    * over OLD codes. For IVF the analogous window only mis-bins vectors;
    * for PQ a width mismatch is structural — a refresh would merge
    * mixed-width codes and the ADC zip would null-pad stale rows to the
    * TOP of every shortlist. Refresh/topK call this to fail loudly (the
    * repair is re-running build) instead of advancing a watermark over a
    * corrupt artifact. One limit(1) action — bounded by construction. */
  private def requireWidthAgreement(codes: DataFrame,
      books: PqIndex.Codebooks, indexRoot: String): Unit =
    codes.limit(1).select(size(col("pq_code")).as("w")).collect()
      .headOption.map(_.getInt(0)).foreach { w =>
        if (w != books.m) throw new IllegalStateException(
          s"$indexRoot: codebooks have m = ${books.m} subspaces but stored " +
          s"codes are $w wide - an interrupted build left the index " +
          "structurally inconsistent; re-run build to repair")
      }

  /** Reload the frozen codebooks from storage (bounded by construction:
    * m × nCodes rows). */
  def loadBooks(spark: SparkSession, indexRoot: String): PqIndex.Codebooks = {
    val rows = CommitLog.read(spark, codebooksTable(indexRoot))
      .select(col("subspace").cast("int"), col("code").cast("int"),
        col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, s"$indexRoot has no codebooks; run build first")
    val m = rows.map(_._1).max + 1
    val centers = Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(_._3)
    }
    val perSub = centers.map(_.length).distinct
    require(perSub.length == 1,
      s"ragged codebooks (codes per subspace: ${perSub.mkString(",")})")
    require(centers.forall(cs => cs.forall(_.length == cs.head.length)),
      "ragged centroid widths")
    PqIndex.Codebooks(m, centers(0)(0).length, centers)
  }

  /** Fold EVERY base change since the covered watermark into the codes
    * table WITHOUT refitting — [[IvfStore.refresh]]'s structure with the
    * assignment step replaced by a frozen-codebook encode. Replay and
    * watermark-pinning semantics are identical: the watermark rides the
    * LAST mutation; an empty-effect slice pins it with an empty append so
    * later refreshes don't re-derive the slice forever. Returns the newly
    * covered version. */
  def refresh(spark: SparkSession, baseTable: String, indexRoot: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val covered = coveredVersion(indexRoot).getOrElse(
      throw new IllegalStateException(s"$indexRoot has no built index; run build first"))
    val latest = CommitLog.latestVersion(baseTable).getOrElse(
      throw new IllegalArgumentException(s"$baseTable has no committed versions"))
    if (latest <= covered) return covered
    val feed = CommitLog.changeFeed(spark, baseTable, covered, Some(latest),
      overwriteDiff = true)
    val finalActs = IndexUpkeep.finalActions(feed, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val retired = finalActs.filter(col(CommitLog.ChangeTypeCol) === "delete")
        .select(col(idCol))
      val fresh = finalActs.filter(col(CommitLog.ChangeTypeCol) =!= "delete")
        .select(col(idCol), col(vecCol))
      val hasFresh = !fresh.isEmpty
      // structural guards BEFORE any mutation: abort an inconsistent
      // index with nothing applied, not mid-slice
      val books = if (hasFresh) {
        // loadMeta runs the width/cell structural guards for the current
        // codes version (memoized per version — see metaCache)
        val (_, b, cells) = loadMeta(spark, indexRoot)
        Some((b, cells))
      } else None
      CommitLog.deleteKeys(spark, codesTable(indexRoot), retired, Seq(idCol),
        txn = if (hasFresh) None else Some((AppId, latest)))
      books.foreach { case (b, cells) =>
        val delta = cells match {
          // frozen cells + frozen codebooks ⇒ the delta bins and encodes
          // in the SAME residual space the build used, by construction
          case Some((cs, residual)) =>
            PqIndex.encodeWithCells(fresh, b, cs, idCol, vecCol, residual)
          case None => PqIndex.encode(fresh, b, idCol, vecCol)
        }
        CommitLog.merge(spark, codesTable(indexRoot), delta,
          Seq(idCol), txn = Some((AppId, latest)))
      }
      if (!coveredVersion(indexRoot).exists(_ >= latest))
        CommitLog.commit(
          CommitLog.read(spark, codesTable(indexRoot)).limit(0),
          codesTable(indexRoot), "append", txn = Some((AppId, latest)))
      latest
    } finally finalActs.unpersist(blocking = false): Unit
  }

  /** Cosine probe: the `nProbe` nearest cell ids for one normalized
    * query vector, highest similarity first, cell-asc tie-break —
    * [[IvfIndex.probeTopK]]'s selection rule, driver-side (the centroid
    * set is bounded). */
  private def nearestCells(qv: Array[Double], cells: Array[Array[Double]],
      nProbe: Int): Seq[Int] = {
    val sims = cells.zipWithIndex.map { case (c, i) =>
      var dot = 0.0; var nc = 0.0; var j = 0
      while (j < c.length) { dot += qv(j) * c(j); nc += c(j) * c(j); j += 1 }
      (i, dot / math.max(math.sqrt(nc), 1e-12)) // qv is unit-norm already
    }
    sims.sortBy { case (i, sim) => (-sim, i) }.take(nProbe).map(_._1).toSeq
  }

  /** [[IndexUpkeep.mergeDriftFraction]] over the codes table: the byte
    * share encoded against frozen codebooks since the last build. */
  def staleFraction(indexRoot: String): Double =
    IndexUpkeep.mergeDriftFraction(codesTable(indexRoot))

  /** Answer queries from the PERSISTED index — no fit, no session cache;
    * any process with the storage answers immediately. ADC scan over the
    * stored codes ([[PqIndex.adcShortlist]]), then the exact re-rank
    * fetches the shortlist's vectors from the base with a key
    * point-lookup: the shortlist id set is bounded by construction
    * (queries × k × refine rows — the same boundedness argument as the
    * centroid collect), and [[CommitLog.readPruned]]'s per-file key
    * bounds plan only the files whose [min,max] admit one of the ids.
    * `refine = 1` skips the fetch and answers purely from the compressed
    * domain. */
  def topK(spark: SparkSession, baseTable: String, indexRoot: String,
      queries: DataFrame, k: Int, refine: Int = 8, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1, got $refine")
    // (books, cells) + structural guards through the per-version memo —
    // frozen metadata is fetched and validated once per codes version,
    // not per query call (optimization round 16). Every codes read below
    // is PINNED at the validated version (round-16 ADVICE): a concurrent
    // build committing mid-call can never pair these books with newer
    // codes, because this call never reads past codesV.
    val (codesV, books, cellsMeta) = loadMeta(spark, indexRoot)
    // lazy: only the UNGATED branch scans the full codes table — the gated
    // branch reads through readPruned instead, and constructing the full
    // read costs driver work (a file index over every codes file) for a
    // frame it never uses
    lazy val codes = CommitLog.readAt(spark, codesTable(indexRoot), codesV)
    // ONE queries scan per call (optimization round 17): the collected
    // rows feed the driver-side cell probe and the per-(query, cell) LUTs,
    // and the SAME collect carries the raw vectors the exact re-rank
    // needs — previously the rerank re-scanned the queries frame inside
    // its broadcast build, one extra job per call.
    val (qRows, qDf) = PqIndex.collectQueriesFull(queries, idCol, vecCol)
    val shortlist = cellsMeta match {
      case Some((cells, residual)) =>
        // IVF-PQ composite: gate the compressed scan to each query's
        // nProbe nearest cells (cosine probe over the collected
        // centroids, IvfIndex.probeTopK's rule). The scan reads through
        // readPruned over the union of probed cells, so the build's
        // cell-range clustering lets footer stats SKIP unprobed cells'
        // files at the driver — I/O ~nProbe/nCells of the codes, not a
        // full scan filtered after the fact (refresh merges land
        // unclustered and stay conservative until a compaction; the
        // per-(query, cell) broadcast join then refines row-level).
        // Residual composite: each probe pair's LUT is built from the
        // query's residual against THAT cell (q̂ − ĉ), which is exactly
        // "adding the centroid back" on the decode side. Cell agreement
        // was validated by loadMeta for this codes version.
        val cellsHat = if (residual) cells.map(PqIndex.unitOf) else null
        val probes = qRows.toSeq.flatMap { case (qid, qv) =>
          nearestCells(qv, cells, nProbe).map(qid -> _)
        }
        val qById = qRows.toMap
        val luts = probes.map { case (qid, cell) =>
          val qv = qById(qid)
          val vec = if (residual) PqIndex.minus(qv, cellsHat(cell)) else qv
          (qid, cell, PqIndex.flatLut(books, vec))
        }
        val probedCells = probes.map(_._2).distinct
        val prunedCodes = CommitLog.readPruned(spark, codesTable(indexRoot),
          col("cell").isin(probedCells.map(Int.box): _*),
          version = Some(codesV))
        PqIndex.adcShortlistGated(prunedCodes, books, luts, k * refine, idCol)
      case None =>
        PqIndex.adcShortlistOn(codes, books, qRows, k * refine, idCol)
    }
    if (refine == 1)
      // the gated shortlist carries per-cell quotas (up to nProbe × k
      // rows per query); the compressed-domain answer is the global ADC
      // top-k of the retained union
      shortlist.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (lit(1.0) - col("dist") / 2.0).as("sim"))
    else {
      // ONE ADC scan: the shortlist is bounded by construction (queries ×
      // k × refine rows), so collect it once and drive both the key
      // point-read and the re-rank probe from the collected rows — an
      // unpersisted lazy shortlist would re-run the whole codes ×
      // queries scan for each of the two downstream actions
      import spark.implicits._
      val short = shortlist.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val ids = short.map(_._2).distinct
      val vectors =
        if (ids.isEmpty) CommitLog.read(spark, baseTable).limit(0)
        else CommitLog.readPruned(spark, baseTable,
          col(idCol).isin(ids.toIndexedSeq: _*))
      PqIndex.rerankExact(short.toSeq.toDF("query_id", "neighbor_id"),
        vectors.select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("__cv")),
        qDf, k)
    }
  }
}
