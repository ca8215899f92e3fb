package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Memo

/** Product quantization (PQ) ANN — the embedding-COMPRESSION scale path
  * beside IVF ([[IvfIndex]]) and LSH ([[Similarity.topKLsh]]): each
  * vector is split into `m` subvectors, each subvector is quantized to
  * one of 256 per-subspace centroids, so a vector carries m code values
  * of 8 useful bits each (64-dim float → 8 codes at m = 8). The codes
  * column is `array<int>` — 32 B/vector in-memory, 8× under the floats
  * and ~2× under [[Similarity.quantizeInt8]]; at rest parquet's
  * dictionary/RLE encoding of the ≤256-value ints lands near the
  * canonical m bytes. Queries
  * score compressed codes with ADC (asymmetric distance computation): a
  * per-query lookup table of m × 256 partial distances is built ONCE
  * from the uncompressed query, and each corpus vector costs m table
  * lookups — no decompression, no float dot product in the corpus-wide
  * scan. Only the tiny ADC shortlist (k × refine ids per query) is then
  * re-scored against original floats (see [[topK]]).
  *
  * Vectors are L2-NORMALIZED before fit/encode/query, so the squared-L2
  * ADC ranking is monotone in cosine (‖a−b‖² = 2 − 2·cos on unit
  * vectors) and PQ top-k approximates the same exact-cosine twin every
  * other ANN path here is certified against.
  *
  * The sub-quantizers are fit on the driver over a BOUNDED deterministic
  * sample (per-partition reservoirs over ≤ 16 pruned partitions, the
  * [[IvfIndex.build]] shape): Lloyd's on 256 × ≤4096 × (dim/m) doubles
  * is microseconds-scale there, fully seeded, and never touches the full
  * corpus — at 100 TB the only corpus-wide work is the single encode
  * pass (a per-row map, no shuffle) and the broadcast ADC scan at query
  * time. Scaladoc provenance: the reference pipeline has no ANN at all —
  * this is engine breadth for the training-data workload (SURVEY §2
  * "beyond the reference" family). */
object PqIndex {

  /** Per-subspace codebooks: `centers(j)(c)` is centroid `c` of subspace
    * `j`, each of length `subDim`. */
  final case class Codebooks(m: Int, subDim: Int,
      centers: Array[Array[Array[Double]]])

  /** (codebooks, encoded corpus) memoized per caller key so repeated query
    * invocations in one session don't refit/re-encode. Every
    * result-shaping parameter is part of the key — a hit on the bare caller
    * key with different m/nCodes/columns would silently serve the first
    * call's trade-off. */
  private val indexes = new Memo[(String, Int, Int, String, String), (Codebooks, DataFrame)](
    onDrop = _._2.unpersist(blocking = false))

  /** Un-keyed calls hold at most one live code table. */
  private val unkeyedCodes = new Memo.Frames

  private def normalized(vec: Column): Column =
    // bind both the cast array and its norm: naming the O(d) norm
    // aggregate inside the scale lambda would re-run it per element,
    // O(d²) per vector on the corpus-wide encode path
    TextStats.bind(vec.cast("array<double>")) { v =>
      TextStats.bind(sqrt(aggregate(v, lit(0.0), (a, x) => a + x * x))) { norm =>
        transform(v, x => x / greatest(norm, lit(1e-12)))
      }
    }

  /** Driver/executor-side unit normalization — the JVM twin of
    * [[normalized]], shared by the residual fit/encode/query paths so all
    * three subtract identically scaled centroids. */
  private[ext] def unitOf(v: Array[Double]): Array[Double] = {
    var nsq = 0.0; var i = 0
    while (i < v.length) { nsq += v(i) * v(i); i += 1 }
    val inv = 1.0 / math.max(math.sqrt(nsq), 1e-12)
    val out = new Array[Double](v.length)
    i = 0
    while (i < v.length) { out(i) = v(i) * inv; i += 1 }
    out
  }

  private[ext] def minus(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
    out
  }

  /** Seeded driver-side Lloyd's over one subspace's sample rows. Empty
    * clusters keep their previous center (standard small-sample guard). */
  private[ext] def lloyd(points: Array[Array[Double]], k: Int, iters: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = points.length
    val kk = math.min(k, n)
    var centers = rnd.shuffle(points.indices.toList).take(kk)
      .map(i => points(i).clone()).toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](points(0).length))
      val counts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < kk) {
          var d = 0.0; var j = 0
          while (j < p.length) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centers = Array.tabulate(kk) { c =>
        if (counts(c) == 0) centers(c)
        else { val s = sums(c); val out = new Array[Double](s.length)
          var j = 0; while (j < s.length) { out(j) = s(j) / counts(c); j += 1 }; out }
      }
      it += 1
    }
    centers
  }

  /** Bounded deterministic sample of normalized vectors
    * ([[Sampling.prunedReservoir]] — ≤ `target` rows from ≤ 16 pruned
    * partitions). */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
      target: Int): Array[Array[Double]] =
    Sampling.prunedReservoir(
      corpus.select(normalized(col(vecCol)).as("v")).rdd
        .map(_.getSeq[Double](0).toArray),
      target)

  /** Same bounded sample, RAW vectors — the residual fit needs the raw
    * vector for cell binning ([[IndexUpkeep.nearestIndex]]'s raw-L2
    * metric) and its unit form for the residual itself. */
  private def sampleRaw(corpus: DataFrame, vecCol: String,
      target: Int): Array[Array[Double]] =
    Sampling.prunedReservoir(
      corpus.select(col(vecCol).cast("array<double>").as("v")).rdd
        .map(_.getSeq[Double](0).toArray),
      target)

  /** Fit per-subspace codebooks from a bounded sample. */
  def fit(corpus: DataFrame, m: Int = 8, nCodes: Int = 256,
      vecCol: String = "embedding", sampleRows: Int = 4096): Codebooks =
    fitOn(sampleVectors(corpus, vecCol, sampleRows), m, nCodes)

  /** Fit per-subspace codebooks on RESIDUALS `unit(v) − unit(cell
    * centroid)` — FAISS IVFPQ proper: residuals concentrate around the
    * origin with far less variance than the vectors themselves, so 256
    * codes per subspace quantize them with correspondingly less error
    * (the standard trick that reclaims composite recall). Each sample
    * vector is binned to its cell with the SAME raw-L2 argmin the encode
    * pass uses ([[IndexUpkeep.nearestIndex]]), and the subtracted
    * centroid is unit-normalized because the encoded space is the
    * unit sphere (the ADC metric is squared L2 on unit vectors). The
    * codebooks are thereby COUPLED to the cell structure — the price of
    * residual coding; [[PqStore]] freezes cells and codebooks together
    * and re-fits both on a drift re-build. */
  def fitResidual(corpus: DataFrame, cells: Array[Array[Double]],
      m: Int = 8, nCodes: Int = 256, vecCol: String = "embedding",
      sampleRows: Int = 4096): Codebooks = {
    val cellsHat = cells.map(unitOf)
    val residuals = sampleRaw(corpus, vecCol, sampleRows).map { v =>
      minus(unitOf(v), cellsHat(IndexUpkeep.nearestIndex(v, cells)))
    }
    fitOn(residuals, m, nCodes)
  }

  private def fitOn(sample: Array[Array[Double]], m: Int,
      nCodes: Int): Codebooks = {
    require(sample.nonEmpty, "PQ fit needs a non-empty corpus")
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible by m = $m")
    val subDim = dim / m
    val centers = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      lloyd(sub, nCodes, iters = 15, seed = 42L + j)
    }
    Codebooks(m, subDim, centers)
  }

  /** Encode: per row, per subspace, the argmin centroid — a pure per-row
    * map with NO join and NO shuffle. The codebooks are broadcast and the
    * argmin runs as a tight JVM loop inside `mapPartitions` (the same
    * incremental-assignment role as [[IvfStore.assignToNearest]], but
    * m × nCodes candidates per row make a Catalyst HOF fold here a
    * CodegenFallback allocation storm — measured minutes vs sub-second on
    * the same 500-row corpus). Ties break toward the LOWEST code id
    * (strict `<` over ascending codes), matching the fit metric in double
    * precision. Output: (idCol long, `pq_code` array<int> of length m,
    * values 0..nCodes-1). */
  def encode(corpus: DataFrame, books: Codebooks,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    encodeImpl(corpus, books, idCol, vecCol, None)

  /** [[encode]] that ALSO bins each row to its nearest coarse centroid in
    * the same per-row pass — the IVF-PQ composite's build/refresh step
    * ([[PqStore]] cell gating). Cell argmin runs on the RAW vector in
    * double precision with a lowest-cell tie-break — exactly
    * [[IvfStore.assignToNearest]]'s metric, so the two index families bin
    * identically. With `residual = true` the codes quantize
    * `unit(v) − unit(centroid(cell))` against [[fitResidual]] codebooks
    * (FAISS IVFPQ proper) instead of the unit vector itself. Output:
    * (idCol, pq_code, cell). */
  def encodeWithCells(corpus: DataFrame, books: Codebooks,
      cells: Array[Array[Double]],
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): DataFrame =
    encodeImpl(corpus, books, idCol, vecCol, Some(cells), residual)

  private def encodeImpl(corpus: DataFrame, books: Codebooks,
      idCol: String, vecCol: String,
      cellsOpt: Option[Array[Array[Double]]],
      residual: Boolean = false): DataFrame = {
    require(!residual || cellsOpt.isDefined, "residual encoding needs cells")
    val spark = corpus.sparkSession
    import spark.implicits._
    val bBooks = spark.sparkContext.broadcast(books)
    val bCells = cellsOpt.map(spark.sparkContext.broadcast(_))
    val encoded = corpus
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val bk = bBooks.value
        val cells = bCells.map(_.value).orNull
        val cellsHat = if (residual) cells.map(unitOf) else null
        it.map { case (id, raw) =>
          val v = raw.toArray
          // raw-vector double-precision cell binning through the SAME
          // shared argmin IvfStore.assignToNearest uses, so the two index
          // families bin identically by construction
          val cell = if (cells != null) IndexUpkeep.nearestIndex(v, cells) else -1
          // the encoded point: the unit vector, minus its cell's unit
          // centroid on the residual path
          val u = unitOf(v)
          val enc = if (residual) minus(u, cellsHat(cell)) else u
          val code = new Array[Int](bk.m)
          var j = 0
          while (j < bk.m) {
            val cs = bk.centers(j)
            val off = j * bk.subDim
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cs.length) {
              val cent = cs(c)
              var d = 0.0; var s = 0
              while (s < bk.subDim) {
                val t = enc(off + s) - cent(s); d += t * t; s += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            code(j) = best
            j += 1
          }
          (id, code.toSeq, cell)
        }
      }
      .toDF(idCol, "pq_code", "cell")
      .select(col(idCol), col("pq_code").cast("array<int>"), col("cell"))
    if (cellsOpt.isDefined) encoded else encoded.drop("cell")
  }

  /** ADC top-k with exact re-rank: per collected query (queries are few;
    * the corpus is the big side), a flat m × nCodes lookup table of
    * partial squared-L2 distances is computed on the driver and shipped
    * as a broadcast-join row; each corpus code then costs m `element_at`
    * lookups summed by a fold. The ADC scan shortlists the best
    * `k × refine` codes per query, then the shortlist ONLY is re-ranked
    * by exact cosine against the original vectors (the standard PQ
    * refine step — quantization error re-orders near-ties, so pure ADC
    * recall decays with corpus size while a small shortlist re-rank
    * holds it). The refine fetch is a broadcast-probe of the tiny
    * shortlist against the corpus scan — at commit-log scale it should
    * ride a key-pruned read ([[graft.tx.CommitLog.readPruned]] point
    * lookups) instead of a full float-column pass; `refine = 1` keeps
    * the compressed-domain-only scan. Smaller ADC distance = nearer;
    * deterministic id tie-breaks at both stages. Output: (query_id,
    * rank, neighbor_id, sim) — [[Similarity.topKExact]]'s shape, with
    * sim the exact cosine on the refined path and the ADC approximation
    * 1 − dist/2 (unit vectors: ‖a−b‖² = 2 − 2·cos) when refine = 1. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 8,
      nCodes: Int = 256, idCol: String = "vec_id", vecCol: String = "embedding",
      cacheKey: Option[String] = None, refine: Int = 8): DataFrame = {
    require(refine >= 1, s"refine factor must be >= 1, got $refine")
    def make(keyed: Boolean): (Codebooks, DataFrame) = {
      val books = fit(corpus, m, nCodes, vecCol)
      val raw = encode(corpus, books, idCol, vecCol)
      val codes = if (keyed) { val p = raw.persist(); p.count(); p }
        else unkeyedCodes.persist(raw)
      (books, codes)
    }
    val (books, codes) = cacheKey match {
      case Some(key) => indexes((key, m, nCodes, idCol, vecCol))(make(keyed = true))
      case None => make(keyed = false)
    }
    // ONE queries scan per call (optimization round 17): the collected
    // rows feed the ADC LUTs AND the refine's query side — previously the
    // rerank re-scanned the queries frame inside its broadcast build, a
    // second job over the same tiny input every call.
    val (qRows, qDf) = collectQueriesFull(queries, idCol, vecCol)
    val shortlist = adcShortlistOn(codes, books, qRows, k * refine, idCol)
    if (refine == 1)
      shortlist.select(col("query_id"), col("rank"), col("neighbor_id"),
        (lit(1.0) - col("dist") / 2.0).as("sim"))
    else
      rerankExact(shortlist,
        corpus.select(col(idCol).cast("long").as("neighbor_id"),
          col(vecCol).as("__cv")),
        qDf, k)
  }

  /** The ADC scan shared by the session path above and [[PqStore.topK]]:
    * corpus codes × broadcast per-query LUT rows, ranked per query by ADC
    * distance (id tie-break), kept to the best `limit` per query. Output:
    * (query_id, neighbor_id, dist, rank). */
  private[ext] def adcShortlist(codes: DataFrame, books: Codebooks,
      queries: DataFrame, limit: Int, idCol: String, vecCol: String): DataFrame =
    adcShortlistOn(codes, books, collectQueries(queries, idCol, vecCol),
      limit, idCol)

  /** [[adcShortlist]] over ALREADY-collected query rows — the shared core
    * for callers that collect the queries once and reuse the rows for the
    * refine side too (optimization round 17). */
  private[ext] def adcShortlistOn(codes: DataFrame, books: Codebooks,
      qRows: Array[(Long, Array[Double])], limit: Int,
      idCol: String): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val lutDf = lutsFor(books, qRows).toDF("query_id", "__lut")
    rankAdc(
      codes.select(col(idCol).cast("long").as("neighbor_id"), col("pq_code"))
        .crossJoin(broadcast(lutDf)),
      books, limit)
  }

  /** The IVF-gated ADC scan ([[PqStore]] cell gating): candidates are the
    * probed (query, cell) pairs' codes instead of the full cross product,
    * so the compressed scan touches ~nProbe/nCells of the corpus per
    * query. Each probe pair carries its OWN flat LUT (a residual
    * composite shifts the query by the probed cell's centroid, so the
    * table is genuinely per-cell; a non-residual one repeats the query's)
    * — one broadcast of nProbe × m × nCodes doubles per query, still
    * tiny.
    *
    * The shortlist keeps the best `limit` codes PER PROBED CELL (not
    * `limit` globally): per-cell quotas make the candidate set MONOTONE
    * in nProbe — a widened probe can only ADD candidates, never evict one
    * via better ADC distances from another cell's non-neighbors — which
    * under the exact-cosine re-rank makes recall@k non-decreasing in
    * nProbe (round-7 VERDICT item 7; a global cut was measured
    * non-monotone, NOTES_r7). `rank` is the global per-query ADC rank
    * over the retained union, for refine = 1 consumers. */
  private[ext] def adcShortlistGated(codes: DataFrame, books: Codebooks,
      luts: Seq[(Long, Int, Seq[Double])], limit: Int, idCol: String): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val lutDf = luts.toDF("query_id", "cell", "__lut")
    val wCell = Window.partitionBy("query_id", "cell")
      .orderBy(col("dist").asc, col("neighbor_id"))
    val wAll = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id"))
    codes.select(col(idCol).cast("long").as("neighbor_id"),
        col("pq_code"), col("cell"))
      .join(broadcast(lutDf), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", adcDist(books))
      .withColumn("__cr", row_number().over(wCell))
      .filter(col("__cr") <= limit)
      .withColumn("rank", row_number().over(wAll))
      .select("query_id", "neighbor_id", "dist", "rank")
  }

  /** m `element_at` lookups into the joined `__lut`, summed by a fold. */
  private def adcDist(books: Codebooks): Column = {
    val nC = books.centers(0).length
    aggregate(
      zip_with(col("pq_code"), sequence(lit(0), lit(books.m - 1)),
        (c, j) => element_at(col("__lut"), (j * nC + c + 1).cast("int"))),
      lit(0.0), (a, e) => a + e)
  }

  private def rankAdc(candidates: DataFrame, books: Codebooks,
      limit: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("neighbor_id"))
    candidates
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("dist", adcDist(books))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
      .select("query_id", "neighbor_id", "dist", "rank")
  }

  /** Collected (id, L2-normalized vector) query rows — bounded by the
    * query set (queries are few; the corpus is the big side). */
  private[ext] def collectQueries(queries: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Double])] =
    queries.select(col(idCol).cast("long").as("qid"),
        normalized(col(vecCol)).as("qv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** ONE queries scan serving both ends of a refined PQ call
    * (optimization round 17): the normalized rows for LUT/probe
    * construction AND a LOCAL (query_id, __qv) frame carrying the RAW
    * vector values for the exact re-rank — the raw column rides the same
    * collect, so the refine cosine scores byte-identical floats to the
    * old per-call queries re-scan without launching it. */
  private[ext] def collectQueriesFull(queries: DataFrame, idCol: String,
      vecCol: String): (Array[(Long, Array[Double])], DataFrame) = {
    val spark = queries.sparkSession
    val projected = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("__qv"), normalized(col(vecCol)).as("__qn"))
    val rows = projected.collect()
    val norm = rows.map(r => (r.getLong(0), r.getSeq[Double](2).toArray))
    val qSchema = org.apache.spark.sql.types.StructType(
      projected.schema.fields.take(2))
    val qDf = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r.getLong(0), r.get(1))): _*), qSchema)
    (norm, qDf)
  }

  /** Per-query flat m × nCodes ADC lookup tables from normalized query
    * vectors. */
  private[ext] def lutsFor(books: Codebooks,
      qRows: Array[(Long, Array[Double])]): Seq[(Long, Seq[Double])] =
    qRows.map { case (qid, qv) => (qid, flatLut(books, qv)) }.toSeq

  /** One flat m × nCodes table of per-subspace partial squared-L2
    * distances from `qv` — which on the residual path is the query's
    * residual against a probed cell, so "adding the centroid back" is
    * simply building the table from `q̂ − ĉ(cell)`. */
  private[ext] def flatLut(books: Codebooks, qv: Array[Double]): Seq[Double] = {
    val flat = new Array[Double](books.m * books.centers(0).length)
    var j = 0
    while (j < books.m) {
      val cs = books.centers(j)
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var i = 0
        while (i < books.subDim) {
          val t = qv(j * books.subDim + i) - cs(c)(i); d += t * t; i += 1
        }
        flat(j * cs.length + c) = d
        c += 1
      }
      j += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(flat)
  }

  /** Exact-cosine re-rank of an ADC shortlist against fetched original
    * vectors (`vectors`: (neighbor_id long, __cv float array) — the full
    * corpus projection on the session path, a key-pruned point read on
    * [[PqStore]]'s). Raw float vectors on BOTH sides of the refine
    * cosine: the codegen'd CosineSimilarity reads elements as floats,
    * and scoring the same arrays as the exact twin keeps near-tie
    * ordering aligned with it. */
  private[ext] def rerankExact(shortlist: DataFrame, vectors: DataFrame,
      qDf: DataFrame, k: Int): DataFrame = {
    val rw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    vectors
      .join(broadcast(shortlist.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(qDf), Seq("query_id"))
      .withColumn("sim", Similarity.cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }
}
