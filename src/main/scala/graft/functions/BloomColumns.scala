package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership as a Catalyst predicate — the engine primitive
  * behind Spark's own runtime row-group filtering (`InjectRuntimeFilter`'s
  * `BloomFilterMightContain`), exposed for query-level use.
  *
  * The intended shape at 100 TB: aggregate a bounded sketch of the SMALL
  * side's keys (`Dataset.stat.bloomFilter` — a distributed treeAggregate
  * whose driver result is the KB-MB bitmap, never the key set), then probe
  * it MAP-SIDE on the large side. Rows that fail the probe never reach a
  * shuffle; only the candidate sliver pays the exact semi-join that removes
  * the false positives. No false negatives by construction. */
object BloomColumns {

  /** `value MIGHT be in bf` as a codegen'd Column predicate. `value` must be
    * a LONG column holding exactly what was inserted into the sketch (e.g.
    * the fused 64-bit shingle hashes). */
  def mightContain(bf: BloomFilter, value: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bos.toByteArray, BinaryType), ColumnBridge.expression(value)))
  }

  /** [[mightContain]] that routes LARGE sketches through a TorrentBroadcast
    * instead of a plan literal. A 100+ MB literal is plan poison — every
    * optimizer pass that hashes or copies the expression tree drags the
    * whole bitmap with it, and every task ships it in the task binary (the
    * round-15 64x stanza measured a 420 s map-side probe whose work was
    * seconds); Spark's own runtime join filters cap their literal at 8 MB
    * for exactly this reason. Above [[LiteralSketchMaxBytes]] the bytes
    * broadcast once per executor and the probe expression carries only the
    * handle, deserializing through a per-JVM cache. */
  def mightContainAuto(spark: org.apache.spark.sql.SparkSession,
      bf: BloomFilter, value: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bytes = bos.toByteArray
    if (bytes.length <= LiteralSketchMaxBytes)
      ColumnBridge.column(BloomFilterMightContain(
        Literal(bytes, BinaryType), ColumnBridge.expression(value)))
    else
      ColumnBridge.column(BloomBroadcastMightContain(
        ColumnBridge.expression(value), spark.sparkContext.broadcast(bytes)))
  }

  /** Largest serialized sketch embedded as a plan literal (Spark's own
    * runtime-filter literal cap — 8 MB). */
  val LiteralSketchMaxBytes: Int = 8 * 1024 * 1024

  /** Probe against a PREFIX-SHARDED, already-broadcast sketch: the value
    * routes to its [[shardOfLong]] shard and tests only that shard's
    * filter ([[ShardedBloomMightContain]]). `bcasts(s)` = shard s's
    * serialized bitmap. */
  def mightContainSharded(bcasts: Seq[Broadcast[Array[Byte]]], bits: Int,
      value: Column): Column =
    ColumnBridge.column(ShardedBloomMightContain(
      ColumnBridge.expression(value), bcasts, bits))

  /** Probe against an ALREADY-broadcast sketch — for callers that memoize
    * the broadcast across probes (e.g. a serving path probing the same
    * stored sketch repeatedly; re-broadcasting per call would leak a
    * bitmap-sized broadcast each time). */
  def mightContainBroadcast(bcast: Broadcast[Array[Byte]],
      value: Column): Column =
    ColumnBridge.column(BloomBroadcastMightContain(
      ColumnBridge.expression(value), bcast))

  /** Per-JVM parse of broadcast sketches: one `BloomFilter.readFrom` per
    * executor per broadcast, not per task — at 130 MB the parse is the
    * probe's whole cost otherwise. */
  private[functions] val cachedFilter = new graft.BroadcastDecodeCache[Array[Byte], BloomFilter](
    bytes => BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)))

  /** Distributed Bloom build over a LONG column, sized HONESTLY for
    * `expectedItems` at `fpp` — the round-15 replacement for
    * `df.stat.bloomFilter`, which (Spark 4 routes it through
    * `BloomFilterAggregate`) silently CLAMPS the bitmap at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (2^26 bits ≈
    * 8 MB ≈ 3.5M items at 1e-4). Past that the returned filter's real
    * false-positive rate explodes with no error — the 64x
    * decontamination-store stanza measured 41% on a filter whose gauge
    * claimed 0.25 fill. A clamp is the right default for Spark's own
    * runtime JOIN filters (an over-permissive filter only loses pruning)
    * but silent poison for sketches whose fpp is a CONTRACT.
    *
    * One filter per non-empty partition, then a merge reduce — the same
    * shape as Spark's partial aggregation, with `putLong` exactly matching
    * [[mightContain]]'s `mightContainLong` probe. Each live partition
    * allocates the FULL bitmap (~19.2 bits/item at 1e-4), so the partial
    * count is bounded: by `itemsHint` (≥ ~1M inserts per partial —
    * inserting is cheap, merging 100+ MB bitmaps is not: an incremental
    * store's SMALL delta must not pay scan-width × bitmap in allocation
    * and bit-or), and by a ~1 GiB transient budget. The bound repartitions
    * the hash longs (a shuffle of 8 bytes/item — noise next to the merge
    * it avoids). Callers past ~10^8 items should shard the sketch instead
    * (the stores' class docs say where). */
  def buildLong(df: org.apache.spark.sql.DataFrame, column: String,
      expectedItems: Long, fpp: Double, itemsHint: Long = -1L): BloomFilter = {
    // nulls never enter a sketch — parity with stat.bloomFilter's
    // skip-nulls behavior (a bare getLong would NPE the build instead)
    val c = org.apache.spark.sql.functions.col(column)
    val base = df.filter(c.isNotNull).select(c.cast("long"))
      .rdd.map(_.getLong(0))
    // bits = -n ln p / (ln 2)^2 (the standard optimal sizing — what
    // BloomFilter.create allocates), without allocating one to ask
    val bitmapBytes = math.max(8L,
      (-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong / 8L)
    val byBudget = math.max(1L, (1L << 30) / bitmapBytes)
    val byItems =
      if (itemsHint > 0) math.max(1L, itemsHint / 1000000L) else Long.MaxValue
    val k = math.min(base.getNumPartitions.toLong,
      math.min(byBudget, byItems)).toInt
    val rdd =
      if (k > 0 && k < base.getNumPartitions) base.repartition(k) else base
    val partials = rdd.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val f = BloomFilter.create(expectedItems, fpp)
        it.foreach(f.putLong(_))
        Iterator.single(f)
      }
    }
    // treeReduce throws on an all-empty RDD — an empty input is a valid
    // (empty) sketch
    try partials.treeReduce((a, b) => { a.mergeInPlace(b); a })
    catch {
      case e: UnsupportedOperationException
          if e.getMessage != null && e.getMessage.contains("empty") =>
        BloomFilter.create(expectedItems, fpp)
    }
  }

  /** Shard id of a hash under `bits` fixed PREFIX bits: the TOP bits of
    * the 64-bit value, so a uniform hash spreads uniformly over the
    * 2^bits shards. `bits = 0` is the unsharded degenerate (shard 0) —
    * guarded explicitly because a 64-bit shift by 64 is a JVM no-op, not
    * zero. Build-side and probe-side MUST route identically; this is the
    * single definition both use. */
  def shardOfLong(h: Long, bits: Int): Int =
    if (bits == 0) 0 else (h >>> (64 - bits)).toInt

  /** [[shardOfLong]] as a Column (build-side routing/grouping). */
  def shardCol(c: Column, bits: Int): Column =
    if (bits == 0) org.apache.spark.sql.functions.lit(0)
    else org.apache.spark.sql.functions
      .shiftrightunsigned(c, 64 - bits).cast("int")

  /** Distributed PER-SHARD Bloom build over a LONG column: each hash
    * routes to its [[shardOfLong]] prefix shard and inserts into that
    * shard's honestly-sized filter. Returns shard → (filter, inserted
    * count) for every NON-EMPTY shard.
    *
    * Why this exists (round-15 VERDICT item 1): a monolithic corpus-scale
    * sketch has an O(capacity) floor on every incremental fold — the
    * delta filter must allocate the FULL bitmap for merge compatibility,
    * the bit-or is O(capacity), and the rewrite ships the whole sketch.
    * Sharding bounds every per-task allocation at one shard's bitmap, the
    * fold's work at (touched shards) × shardBytes, and lets the store
    * rewrite/re-broadcast only touched shards.
    *
    * Shard routing by an Int key through a HashPartitioner is EXACT here
    * (Int hashCode is the identity, so shard k lands in partition k):
    * one partition per shard, one filter per shard, no cross-partition
    * merge. Empty shards return no entry — the caller keeps its stored
    * row (refresh) or writes an empty filter (build). */
  def buildLongSharded(df: org.apache.spark.sql.DataFrame, column: String,
      bits: Int, capacities: Map[Int, Long],
      fpp: Double): Map[Int, (BloomFilter, Long)] = {
    require(bits >= 0 && bits <= 8, s"shard bits out of range: $bits")
    val c = org.apache.spark.sql.functions.col(column)
    if (bits == 0) {
      // unsharded degenerate: keep [[buildLong]]'s partial-filter
      // parallelism (one partition per shard would serialize the build
      // through a single task)
      val base = df.filter(c.isNotNull)
      val n = base.count()
      return if (n == 0L) Map.empty
      else Map(0 -> (buildLong(base, column, capacities(0), fpp,
        itemsHint = n), n))
    }
    val spark = df.sparkSession
    val capB = spark.sparkContext.broadcast(capacities)
    val n = 1 << bits
    val pairs = df.filter(c.isNotNull).select(c.cast("long"))
      .rdd.map { r => val h = r.getLong(0); (shardOfLong(h, bits), h) }
      .partitionBy(new org.apache.spark.HashPartitioner(n))
    pairs.mapPartitions { it =>
      val filters = scala.collection.mutable.Map.empty[Int, (BloomFilter, Long)]
      it.foreach { case (s, h) =>
        val (f, k) = filters.getOrElseUpdate(s,
          (BloomFilter.create(capB.value.getOrElse(s,
            throw new IllegalStateException(s"no capacity for shard $s")), fpp), 0L))
        f.putLong(h)
        filters(s) = (f, k + 1L)
      }
      filters.iterator.map { case (s, (f, k)) =>
        val bos = new java.io.ByteArrayOutputStream()
        f.writeTo(bos)
        (s, (bos.toByteArray, k))
      }
    }.collect().toMap.map { case (s, (bytes, k)) =>
      s -> (BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)), k)
    }
  }
}

/** Bloom membership over a TorrentBroadcast sketch — the plan carries the
  * broadcast HANDLE (bytes ride Spark's broadcast machinery once per
  * executor), never the bitmap. Generated code calls back into the
  * expression object (plan-literal reference, the [[BpeEncode]] pattern),
  * so the probe stays inside whole-stage codegen. `child` must be the LONG
  * column whose values were `putLong`-inserted. */
case class BloomBroadcastMightContain(child: Expression,
    bcast: Broadcast[Array[Byte]]) extends UnaryExpression with Serializable {

  override def dataType: DataType = BooleanType
  // analysis-time type contract (round-15 ADVICE): a mistyped child fails
  // with a readable AnalysisException instead of a janino compile error
  // (codegen) or a ClassCastException (interpreted) at execution time —
  // parity with the literal path, where Spark's BloomFilterMightContain
  // checks its input types
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT child holding the putLong-inserted " +
          s"hash; got ${child.dataType.catalogString}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_broadcast_might_contain"

  def test(v: Long): Boolean =
    BloomColumns.cachedFilter(bcast).mightContainLong(v)

  override def nullSafeEval(input: Any): Any =
    test(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("bloomBcast", this,
        classOf[BloomBroadcastMightContain].getName)
      s"${ev.value} = $ref.test($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom membership over a PREFIX-SHARDED sketch: the probe value routes
  * to shard `shardOfLong(v, bits)` and tests only that shard's filter.
  * `bcasts(s)` holds shard s's serialized bitmap as its OWN broadcast —
  * no monolithic 100 MB+ bitmap ever ships or deserializes whole, an
  * executor pulls and parses shards lazily as probes touch them (the
  * per-JVM [[BloomColumns.cachedFilter]] cache), and a store refresh
  * re-broadcasts only changed shards. Semantics are EXACTLY the
  * single-filter probe's: a shard holds precisely the hashes whose prefix
  * routes there, so no false negatives and per-shard fpp = configured
  * fpp. `child` must be the LONG column whose values were
  * `putLong`-inserted under the same `bits`. */
case class ShardedBloomMightContain(child: Expression,
    bcasts: Seq[Broadcast[Array[Byte]]], bits: Int)
  extends UnaryExpression with Serializable {

  require(bcasts.length == (1 << bits),
    s"sharded probe needs ${1 << bits} shard broadcasts, got ${bcasts.length}")

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT child holding the putLong-inserted " +
          s"hash; got ${child.dataType.catalogString}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sharded_bloom_might_contain"

  def test(v: Long): Boolean =
    BloomColumns.cachedFilter(bcasts(BloomColumns.shardOfLong(v, bits)))
      .mightContainLong(v)

  override def nullSafeEval(input: Any): Any =
    test(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("shardedBloom", this,
        classOf[ShardedBloomMightContain].getName)
      s"${ev.value} = $ref.test($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
