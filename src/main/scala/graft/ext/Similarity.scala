package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.Memo

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast join of the (small) query
  * set against the corpus, linear in corpus size, no shuffle of the corpus.
  * Scale path: random-hyperplane LSH bucketing — candidates share a bucket,
  * so the join is bucket-co-located rather than all-pairs; recall/cost is
  * tuned by the number of hyperplanes. All arithmetic is double-precision
  * sequential folds (deterministic) built from higher-order functions
  * (`zip_with`/`aggregate`/`transform`) — codegen-friendly, no UDFs.
  */
object Similarity {

  private def fold(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm(a: Column): Column =
    sqrt(fold(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Composable (higher-order-function) cosine — kept as the reference
    * implementation; the hot paths use the codegen'd expression below. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine similarity ([[graft.functions.CosineSimilarity]]) —
    * one fused primitive loop inside WholeStageCodegen. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineSim(a, b)

  /** Exact top-k neighbors for each query row: broadcast the query set,
    * score the corpus linearly, per-query top-k via ranking window.
    * Ties broken by corpus id for determinism. */
  def topKExact(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    // Spread the corpus scan when (and only when) it plans narrower than
    // the session's cores — a single local parquet file plans as one
    // partition and would serialize the scoring loop; a 100 TB corpus is
    // already wide and must NOT be re-shuffled just to spread (Spread).
    val c = Spread.toCores(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** All near-duplicate pairs by cosine threshold (a < b). Brute-force shape
    * for modest corpora; at scale, gate with [[lshBucket]] first. */
  def nearDupPairs(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = Spread.toCores(corpus)
      .select(col(idCol).as("a"), col(vecCol).as("__va"))
    val b = corpus.select(col(idCol).as("b"), col(vecCol).as("__vb"))
    a.join(broadcast(b), col("a") < col("b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") > threshold)
      .select("a", "b")
  }

  /** LSH-gated near-duplicate pairs — the 100 TB form of [[nearDupPairs]]:
    * only pairs colliding in at least one of `tables` hash tables are
    * scored, so the self-join is bucket-co-located (one shuffle on the
    * (table, bucket) id, within-bucket pairs only) instead of all-pairs.
    * The cosine filter is exact, so output ⊆ the brute-force result; recall
    * is 1-(1-p^planes)^tables per pair (≈1 for genuinely near vectors —
    * asserted against brute force in SimilaritySpec). */
  def nearDupPairsLsh(corpus: DataFrame, threshold: Double,
      tables: Int = 8, planes: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else inferDims(corpus, vecCol)
    val banded = Spread.toCores(corpus)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        explode(lshTableBuckets(col(vecCol), tables, planes, d)).as("__tb"))
    val a = banded.select(col("__tb").as("__tba"), col("__id").as("a"), col("__v").as("__va"))
    val b = banded.select(col("__tb").as("__tbb"), col("__id").as("b"), col("__v").as("__vb"))
    a.join(b, col("__tba") === col("__tbb") && col("a") < col("b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") > threshold)
      .select("a", "b").distinct()
  }

  /** Symmetric int8 quantization of an embedding column — the standard 4×
    * memory cut for ANN corpora at scale: per-vector scale = max|x|/127,
    * codes = round(x/scale) as bytes. Returns struct(scale float,
    * codes array<tinyint>); pure column ops (one fused pass per row).
    * An all-zero vector gets scale 0 and all-zero codes. */
  def quantizeInt8(vec: Column): Column =
    // bind: the scale is an O(d) aggregate — naming it inside the codes
    // lambda would re-run it per element, O(d²) per vector
    TextStats.bind(
      aggregate(vec, lit(0.0), (m, x) => greatest(m, abs(x.cast("double")))) / 127.0) { scale =>
      struct(
        scale.cast("float").as("scale"),
        transform(vec, x =>
          when(scale === 0.0, lit(0))
            .otherwise(round(x.cast("double") / scale)).cast("byte")).as("codes"))
    }

  /** Dequantize [[quantizeInt8]] output back to a float array (codes ×
    * scale) — feeds the codegen'd cosine unchanged, so quantized scoring
    * reuses the exact scoring path. */
  def dequantizeInt8(q: Column): Column =
    // bind: when q is a composed expression (quantize→dequantize in one
    // projection) the scale getField inside the lambda would recompute the
    // whole quantize struct per element
    TextStats.bind(q) { qq =>
      transform(qq.getField("codes"), c =>
        (c.cast("double") * qq.getField("scale")).cast("float"))
    }

  /** Hyperplane dimensionality from the first corpus vector (one pruned
    * single-row job). An empty corpus yields a harmless default instead of
    * NoSuchElementException — every caller returns an empty frame anyway.
    *
    * Memoized per (application, canonical corpus plan, column): every LSH
    * call re-ran this single-row probe job for a value that is a pure
    * function of the corpus schema-in-use — a serving loop pays it once.
    * The application id keys out dead contexts after a restart. Dims only
    * gate LSH bucketing (recall, never correctness), so a stale entry on
    * a re-written corpus of DIFFERENT dimensionality — not a case any
    * caller produces — could only perturb candidate recall, exactly like
    * passing `dims` explicitly. */
  private val inferredDims = new Memo[(String, LogicalPlan, String), Int](maxEntries = 32)

  private def inferDims(corpus: DataFrame, vecCol: String): Int =
    inferredDims((corpus.sparkSession.sparkContext.applicationId,
        corpus.queryExecution.analyzed.canonicalized, vecCol)) {
      corpus.select(size(col(vecCol))).head(1).headOption
        .map(_.getInt(0)).getOrElse(64)
    }

  /** Random-hyperplane LSH bucket id for one hash table: `planes` sign-bits
    * of dot products with deterministic ±1 hyperplanes (table t, plane j,
    * dimension i sign derived from xxhash64(t·planes+j, i) — reproducible
    * with no stored model). */
  def lshBucket(vec: Column, planes: Int, table: Int = 0): Column = {
    val bits = (0 until planes).map { j =>
      val d = fold(transform(vec, (x, i) =>
        x.cast("double") * when(
          pmod(xxhash64(lit(table * planes + j), i), lit(2)) === 0, 1.0).otherwise(-1.0)))
      when(d > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (table, bucket) pairs across `tables` independent hash tables — the
    * standard multi-table LSH scheme: a pair is a candidate if it collides
    * in ANY table, so recall is 1-(1-p^planes)^tables instead of p^planes.
    * Buckets come from the fused codegen'd [[graft.functions.LshBuckets]]
    * expression (one primitive loop nest per row); the composable
    * [[lshBucket]] stays as the reference formulation. */
  private def lshTableBuckets(vec: Column, tables: Int, planes: Int, dims: Int): Column = {
    val buckets = graft.functions.LshBuckets.lshBuckets(vec, tables, planes, dims)
    zip_with(buckets, sequence(lit(0), lit(tables - 1)),
      (b, t) => struct(t.as("t"), b.as("b")))
  }

  /** Approximate top-k: score only corpus rows sharing an LSH bucket with
    * the query in at least one table. The corpus→bucket map is one linear
    * pass; the join is bucket-co-located (bounded fan-out), never all-pairs.
    *
    * `dims` ≤ 0 (default) derives the hyperplane dimensionality from the
    * first corpus vector (one pruned single-row job); pass it explicitly for
    * mixed-length corpora — dimensions past `dims` are ignored in bucketing
    * (recall degrades, correctness doesn't, since buckets only gate rerank). */
  def topKLsh(corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 8, planes: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dims: Int = -1): DataFrame = {
    val d = if (dims > 0) dims else inferDims(corpus, vecCol)
    val c = Spread.toCores(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        explode(lshTableBuckets(col(vecCol), tables, planes, d)).as("__tb"))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(lshTableBuckets(col(vecCol), tables, planes, d)).as("__tb"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("__tb"))
      .filter(col("neighbor_id") =!= col("query_id"))
      // score before deduping multi-table collisions: the codegen'd cosine
      // on a few duplicate pairs is far cheaper than hash-distincting rows
      // that carry both float vectors; duplicates collapse on scalars.
      .withColumn("sim", cosine(col("__qv"), col("__cv")))
      .select("query_id", "neighbor_id", "sim").distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Near-duplicate pairs WITHIN k-means cells — the pair half of
    * SemDeDup. `assigned` must carry (idCol, vecCol, `__cell`), e.g.
    * [[IvfIndex.build]]'s assignment table. The self-join is
    * cell-co-located (one shuffle on `__cell`, within-cell pairs only) —
    * never all-pairs, the property that makes semantic dedup runnable on
    * a 100 TB embedding table where [[nearDupPairs]]'s broadcast
    * brute-force is the verification twin, not the path. Output ⊆ the
    * brute-force pair set (the cosine filter is exact); cross-cell
    * near-dups are missed by design — SemDeDup's documented
    * approximation, measured as `cell_pair_recall` in the
    * `dedup_semantic` query (0.9+ at every SF: cosine-near vectors land
    * in the same cell almost surely). */
  def withinCellPairs(assigned: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = assigned.select(col("__cell").as("__ca"),
      col(idCol).as("a"), col(vecCol).as("__va"))
    val b = assigned.select(col("__cell").as("__cb"),
      col(idCol).as("b"), col(vecCol).as("__vb"))
    a.join(b, col("__ca") === col("__cb") && col("a") < col("b"))
      .withColumn("sim", cosine(col("__va"), col("__vb")))
      .filter(col("sim") > threshold)
      .select("a", "b")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space
    * deduplication = k-means cluster the corpus, find cosine near-dup
    * pairs WITHIN each cluster only, keep one representative per
    * duplicate group (minimum id, via the same connected-components +
    * anti-join composition as the text-side [[Dedup.fuzzyDedupKeep]]).
    * Returns the kept rows of `corpus` unchanged.
    *
    * Scale posture: the quantizer fit is sampled ([[IvfIndex.build]] —
    * Lloyd's over a bounded reservoir, one full-corpus pass for
    * assignment), the pair search is cell-co-located, clustering is the
    * size-gated CC, and the final keep anti-joins a tiny drop list —
    * every stage O(corpus) or O(within-cell pairs), nothing all-pairs.
    * `nCells = 1` degenerates to exact global semantic dedup (spec-pinned
    * against the brute-force pair set). */
  def semanticDedupKeep(corpus: DataFrame, threshold: Double,
      nCells: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding",
      cacheKey: Option[String] = None): DataFrame = {
    // nCells ≤ 1 is the exact degenerate: one global cell needs no
    // quantizer (and Spark's KMeans refuses k = 1 anyway)
    val pairs =
      if (nCells <= 1) nearDupPairs(corpus, threshold, idCol, vecCol)
      else withinCellPairs(
        IvfIndex.build(corpus, nCells, idCol, vecCol, cacheKey).assigned,
        threshold, idCol, vecCol)
    val labels = Dedup.connectedComponents(pairs)
    val drops = labels.filter(col("id") =!= col("comp"))
      .select(col("id").as("__drop"))
    corpus.join(broadcast(drops), col(idCol) === col("__drop"), "left_anti")
  }
}
