package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextStats

/** North-star text-analysis + dedup operators over `documents`
  * (BASELINE.json: token counting, quality scoring, language-ID,
  * fingerprinting, exact dedup). Implementations in [[graft.ext.TextStats]]
  * and [[graft.ext.Dedup]]; these bind them to the driver contract. */
object TextQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** (split, doc_id, __sh): deterministic md5 train/test tag + fused
    * 64-bit 8-token shingle hashes, exploded — the common scan of
    * `decontaminate` and `decontaminate_bloom` (which between them walk it
    * four times per session: bloom build, bloom probe, exact semi-join
    * sides). ~shingles ≈ tokens rows of three narrow columns. */
  private[queries] def cachedSplitShingles(s: SparkSession, d: String): DataFrame =
    QueryMemo("split_shingles", s, d) {
      graft.ext.Spread.toCores(documents(s, d))
        .withColumn("split",
          when(isTestSplit(col("doc_id")), "test").otherwise("train"))
        .select(col("split"), col("doc_id"),
          explode(graft.functions.ShingleHashes.shingleHashes(
            TextStats.tokens(col("text")), 8)).as("__sh"))
    }

  /** Distinct train-side shingle hashes — the semi-join build side of both
    * decontamination queries (and the exact-count Bloom sizing). */
  private def trainShinglesBuild(s: SparkSession, d: String): DataFrame =
    cachedSplitShingles(s, d)
      .filter(col("split") === "train").select("__sh").distinct()

  private[queries] def cachedTrainShingles(s: SparkSession, d: String): DataFrame =
    QueryMemo("train_shingles", s, d)(trainShinglesBuild(s, d))

  /** The memoized set's row count, recorded at its materialization — the
    * Bloom sizing input, no re-count job per query invocation
    * (optimization round 17). */
  private def cachedTrainShingleCount(s: SparkSession, d: String): Long =
    QueryMemo.countOf("train_shingles", s, d)(trainShinglesBuild(s, d))

  /** Index root of the persisted decontamination sketch over a commit-log
    * TRAIN table: commit 90% of the train docs → build → append the
    * held-out tenth → change-feed refresh (the same 90/10/refresh harness
    * the dedup/ANN stores use). */
  private[queries] def ensureDeconStore(s: SparkSession, d: String): String =
    QueryMemo.scratch("deconstore", s, d) { root =>
      val (base, index) = (s"$root/base", s"$root/index")
      val train = documents(s, d).filter(!isTestSplit(col("doc_id")))
        .select("doc_id", "text")
      graft.tx.CommitLog.commit(
        train.filter(pmod(col("doc_id"), lit(10)) =!= 7), base, "append")
      graft.ext.DecontaminationStore.build(s, base, index)
      graft.tx.CommitLog.commit(
        train.filter(pmod(col("doc_id"), lit(10)) === 7), base, "append")
      graft.ext.DecontaminationStore.refresh(s, base, index)
      index
    }

  /** [[ensureDeconStore]]'s PREFIX-SHARDED twin (round-15 VERDICT item 1):
    * the same 90/10/refresh harness with `nShards = 4`, so the oracle
    * exercises per-shard routing on build, the touched-shards-only
    * replaceWhere fold on refresh, and the per-shard broadcast probe —
    * against the identical exact-contamination oracle. */
  private[queries] def ensureDeconStoreSharded(s: SparkSession, d: String): String =
    QueryMemo.scratch("deconstore_shard", s, d) { root =>
      val (base, index) = (s"$root/base", s"$root/index")
      val train = documents(s, d).filter(!isTestSplit(col("doc_id")))
        .select("doc_id", "text")
      graft.tx.CommitLog.commit(
        train.filter(pmod(col("doc_id"), lit(10)) =!= 7), base, "append")
      graft.ext.DecontaminationStore.build(s, base, index, nShards = 4)
      graft.tx.CommitLog.commit(
        train.filter(pmod(col("doc_id"), lit(10)) === 7), base, "append")
      graft.ext.DecontaminationStore.refresh(s, base, index)
      index
    }

  /** (doc_id, neg_logp, lang): the corpus-relative unigram-LM score joined
    * with the language column — consumed by `text_unigram_logprob`,
    * `quality_deciles`, and `quality_deciles_sketch`, each of which
    * otherwise re-runs the token explode + frequency join + per-doc agg. */
  private def cachedUnigramScored(s: SparkSession, d: String): DataFrame =
    QueryMemo("unigram_scored", s, d) {
      val docs = documents(s, d)
      TextStats.unigramLogProb(docs, col("text"), col("doc_id"))
        .select(col("__id").as("doc_id"), col("neg_logp"))
        .join(docs.select("doc_id", "lang"), "doc_id")
    }

  val queries: Map[String, Q] = Map(
    // Token counting: non-empty whitespace-separated tokens.
    "text_tokens" -> ((s, d) => documents(s, d)
      .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tokens"))
      .orderBy("doc_id")),

    // Quality scoring: length / token stats / stopword ratio. The three
    // token-derived columns evaluate under ONE bind of the token array
    // (optimization round 16): as separate expressions each re-ran the
    // regex split (avg_token_len twice, stopword_ratio twice) — 5 splits
    // per row for one scoring pass. Two projections: the struct alias is
    // multi-referenced and non-trivial, so CollapseProject keeps it
    // un-inlined (the minhashSignature pattern).
    "text_quality" -> ((s, d) => documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("len"),
        TextStats.bind(TextStats.tokens(col("text"))) { ts =>
          struct(size(ts).as("n_tokens"),
            TextStats.avgTokenLenOf(ts).as("avg_token_len"),
            TextStats.stopwordRatioOf(ts).as("stopword_ratio"))
        }.as("__q"))
      .select(col("doc_id"), col("len"), col("__q.n_tokens"),
        col("__q.avg_token_len"), col("__q.stopword_ratio"))
      .orderBy("doc_id")),

    // Canonicalization fingerprint: md5 of lower/whitespace-collapsed text.
    "text_fingerprint" -> ((s, d) => documents(s, d)
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")),

    // Exact dedup summary over the fingerprint.
    "dedup_exact" -> ((s, d) => documents(s, d)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(TextStats.fingerprint(col("text"))).as("n_unique"))),

    // REAL merge-table BPE (round-14 VERDICT item 4): GPT-style regex
    // pre-tokenization, then greedy lowest-rank pair merging per word
    // through the native BpeEncode expression over the fixture merge
    // table. The oracle REPLAYS the identical merges in DuckDB (recursive
    // CTE over distinct pre-tokens: per iteration pick the lowest-rank
    // adjacent pair and fuse its occurrences left-to-right) and pins the
    // EXACT segmentation, not just counts: seg_fp is the md5 of the
    // space-joined piece stream in document order, so any divergence in
    // rank priority, non-overlap handling, cascade order, OR piece
    // boundaries breaks the hash gate per doc.
    "text_tokens_bpe" -> ((s, d) => documents(s, d)
      .select(col("doc_id"), TextStats.bpePieces(col("text")).as("p"))
      .select(col("doc_id"), size(col("p")).as("n_pieces"),
        md5(concat_ws(" ", col("p"))).as("seg_fp"))
      .orderBy("doc_id")),

    // Winnowing-style rolling-hash fingerprint — PROPERTY oracle (round-2
    // VERDICT item 5): the native RollingHash expression's 64-bit arithmetic
    // is engine-specific, so the check is internal-consistency — the O(n)
    // rolling RECURRENCE (the bug-prone subtract-multiply update) must
    // reproduce the direct k-byte hash at every window position, where the
    // direct hash comes from the recurrence-free first-window branch applied
    // to each substring. Checked on pure-ASCII docs (char offsets == byte
    // offsets, so substring windows align with byte windows); window count
    // is data-dependent in the oracle, mismatches pinned at 0.
    "text_rolling_fp" -> ((s, d) => {
      val k = 16
      val t = col("text")
      val n = length(t)
      val rolled = graft.functions.TextExpressions.rollingHash(t, k)
      val mism = when(n >= k,
        size(filter(
          zip_with(rolled,
            transform(sequence(lit(1), n - (k - 1)), i =>
              element_at(graft.functions.TextExpressions.rollingHash(t.substr(i, lit(k)), k), 1)),
            (a, b) => a =!= b),
          x => x))).otherwise(0)
      val wins = when(n >= k, n - (k - 1)).otherwise(0)
      documents(s, d)
        .filter(length(t) === octet_length(t))
        .select(mism.as("__m"), wins.as("__w"))
        .agg(count(lit(1)).as("n_docs_checked"),
          coalesce(sum(col("__w")), lit(0L)).as("n_windows"),
          coalesce(sum(col("__m")), lit(0L)).as("mismatches"))
    }),

    // Language-ID: stopword-profile argmax heuristic.
    "text_langid" -> ((s, d) => documents(s, d)
      .select(col("doc_id"), TextStats.langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")),

    // Array-function breadth over the token array: slice/join, membership,
    // distinct cardinality (arrays serialized to scalars for hash-compare).
    // One token split per row (round 16): the three columns previously each
    // re-ran the regex split.
    "f_array_funcs" -> ((s, d) => {
      documents(s, d).select(
        col("doc_id"),
        TextStats.bind(TextStats.tokens(col("text"))) { ts =>
          struct(
            array_join(slice(ts, 1, 3), " ").as("first3"),
            array_contains(ts, "the").as("has_the"),
            size(array_distinct(ts)).as("n_distinct"))
        }.as("__f"))
        .select(col("doc_id"), col("__f.first3"), col("__f.has_the"),
          col("__f.n_distinct"))
        .orderBy("doc_id")
    }),

    // Heavy hitters: top-20 corpus tokens by frequency (explode + agg +
    // top-k; at 100 TB the same plan with a pre-agg per partition).
    "text_heavy_hitters" -> ((s, d) => documents(s, d)
      .select(explode(TextStats.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)),

    // Corpus-relative unigram LM score (cheap perplexity): rare-token docs
    // score high, stopword-dense prose low — the standard quality filter.
    // The scored frame is shared (persisted) with both quality_deciles
    // queries — three consumers, one token-explode + frequency-join pass.
    "text_unigram_logprob" -> ((s, d) =>
      cachedUnigramScored(s, d)
        .select(col("doc_id"), col("neg_logp"))
        .orderBy("doc_id")),

    // Interpolated hashed-BIGRAM LM (round-13 VERDICT item 4): the
    // CCNet-shaped learned signal the unigram score cannot see — shuffled
    // word order breaks bigram buckets while unigrams stay identical.
    // Hashed buckets + add-1 smoothing keep it engine-exact; λ rides the
    // plan as a literal, both LM tables broadcast.
    "text_bigram_logprob" -> ((s, d) =>
      TextStats.bigramLogProb(documents(s, d), col("text"), col("doc_id"))
        .orderBy("doc_id")),

    // Sketch-then-verify heavy hitters: one Misra-Gries pass (k=200
    // mergeable counters — O(k) shuffle instead of a full-token groupBy)
    // generates a GUARANTEED superset of tokens above 1% frequency
    // (threshold n/100 > sketch error n/201); exact counts of only those
    // ≤200 candidates (broadcast join) make the result exact — so the
    // oracle is plain thresholded SQL. Same composition as MinHash→Jaccard:
    // the sketch bounds what the expensive exact pass must touch.
    "text_heavy_hitters_sketch" -> ((s, d) => {
      import s.implicits._
      val toks = documents(s, d)
        .select(explode(graft.ext.TextStats.tokens(col("text"))).as("token"))
      // untyped udaf form (optimization round 16, same move as
      // agg_quantile_sketch): no typed-path object boundary on the input
      val hh = udaf(new graft.ext.HeavyHittersAggregator(200),
        org.apache.spark.sql.Encoders.STRING)
      val cands = toks
        .agg(hh(col("token")).as("hh"))
        .select(explode(map_keys(col("hh"))).as("token"))
      // total token count as a lazy broadcast one-row frame instead of an
      // eager driver-blocking count() action (optimization round 16): the
      // threshold compare is unchanged (cnt > total/100.0), but the whole
      // query is ONE job — the count's serial extra pass is gone
      val total = toks.agg(count(lit(1)).as("__total"))
      toks.join(broadcast(cands), "token")
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") > col("__total") / 100.0)
        .select("token", "cnt")
        .orderBy(col("cnt").desc, col("token"))
    }),

    // Within-document repetition ratio (Gopher-style quality filter):
    // fraction of 4-token windows that repeat an earlier window in the same
    // document. High ratio = boilerplate/template spam. One pass, and the
    // distinct-window count comes from the fused ShingleHashes expression
    // (codegen'd, no shingle strings built) — identical to the string count
    // unless two distinct shingles of one doc collide in 64 bits
    // (~windows²/2⁶⁵, negligible; same argument as dedup_ngram_jaccard).
    "text_repetition" -> ((s, d) => documents(s, d)
      .select(col("doc_id"), repetitionRatio(col("text")).as("rep_ratio"))
      .orderBy("doc_id")),

    // Per-language capped sample via the custom TopKPerKey operator
    // (bounded heaps, partial before the exchange): the "N examples per
    // stratum" draw a curation pipeline uses for eval sets — deterministic
    // (ordered by stable id), one shuffle of at most k rows per language.
    "sample_per_lang" -> ((s, d) => {
      import graft.plans.TopK
      val tagged = documents(s, d)
        .withColumn("lang", TextStats.langId(col("text")))
      TopK.perKey(tagged, keys = Seq("lang"),
          order = Seq(TopK.Sort("doc_id")), k = 20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // Deterministic train/test split — the reproducible-partitioning op
    // every training-data pipeline needs: assignment is a pure function of
    // the stable id (first md5 hex digit: c/d/e/f → test ≈ 25%), so the
    // split is identical on any engine, any partitioning, any rerun — no
    // RNG, no seed bookkeeping. Output: per-split doc counts.
    "split_train_test" -> ((s, d) => documents(s, d)
      .withColumn("split",
        when(isTestSplit(col("doc_id")), "test").otherwise("train"))
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .orderBy("split")),

    // Decontamination: test-split documents sharing at least one 8-token
    // shingle with any train-split document (the train/test overlap check
    // run before evaluation sets are trusted). Shingles are the fused
    // 64-bit ShingleHashes (one pass, no shingle strings built); the join
    // is a semi-join against the distinct train shingle set — at 100 TB
    // both sides shuffle once on the shingle hash, never doc × doc. The
    // string-shingle DuckDB oracle matches unless two DISTINCT shingles
    // collide in 64 bits (~n²/2⁶⁵, negligible — same argument as
    // dedup_ngram_jaccard).
    "decontaminate" -> ((s, d) =>
      // split+shingle scan and train-shingle set shared (persisted) with
      // decontaminate_bloom — the pair otherwise re-shingles the corpus
      // four times between them
      cachedSplitShingles(s, d).filter(col("split") === "test")
        .join(cachedTrainShingles(s, d), "__sh", "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")),

    // End-to-end curation pipeline — the composition a dataset curator
    // actually ships: language gate (en) → quality gates (token count
    // bounds, stopword-ratio floor, repetition ceiling) → exact dedup (keep
    // min id per canonical fingerprint). Every stage is an operator proven
    // above; this query proves the COMPOSITION against one SQL oracle.
    // Scale: all gates are one-pass column predicates fused into the scan,
    // the only shuffle is the final fingerprint groupBy.
    "curation_keep" -> ((s, d) =>
      curationGatesAndDedup(documents(s, d))),

    // The ccnet-ORDERED curation chain (round-7 VERDICT item 8): duplicated-
    // segment removal (boilerplate strip) runs FIRST, the quality gates
    // evaluate the STRIPPED text, and document-level exact dedup closes —
    // exactly ccnet's pipeline order, where a nav-bar shared across a
    // domain must not drag every page's stopword ratio or repetition score
    // before the gates see the content. Composition adds no shuffle beyond
    // the segment pass's own three (the gates are per-row filters on the
    // reassembled text; the exact dedup's shuffle exists in curation_keep
    // already). A doc whose text is ALL boilerplate dedups to "" and falls
    // to the token-count gate.
    "curation_keep_ccnet" -> ((s, d) => {
      // the segment pass is shared (persisted) with dedup_segments — the
      // chain's two consumers fingerprint the corpus once (round-11
      // VERDICT item 4)
      curationGatesAndDedup(
        DedupQueries.cachedSegmentDedup(s, d)
          .select(col("doc_id"), col("text_deduped").as("text")))
    }),

    // Per-language quality deciles — perplexity-bucketing for training-mix
    // curation: rank every doc WITHIN its language by unigram-LM score and
    // cut into 10 equal buckets. The ntile window is PARTITIONED by lang,
    // so the ranking is one shuffle on the stratum key, never a global
    // sort — the shape that survives 100 TB (at that scale the cutpoints
    // would come from the KLL sketch; the exact window here keeps the
    // query oracle-able, ties broken by doc_id on both engines).
    "quality_deciles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = cachedUnigramScored(s, d)
      val w = Window.partitionBy("lang").orderBy(col("neg_logp"), col("doc_id"))
      scored.withColumn("decile", ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(count(lit(1)).as("n_docs"),
          min(col("neg_logp")).as("lo"), max(col("neg_logp")).as("hi"))
        .orderBy("lang", "decile")
    }),

    // The 100 TB path for quality bucketing (the exact `quality_deciles`
    // above is one full sort per stratum): per-language decile CUTPOINTS
    // from the mergeable KLL sketch — O(k) state per stratum over one
    // shuffle — then a broadcast join buckets every doc map-side. Below
    // the sketch's capacity (512) the compactors hold every value and the
    // cutpoints are EXACT, so small strata degrade to the exact answer.
    // PROPERTY oracle: scores are distinct-ish (continuous), so all 10
    // buckets must be populated and every bucket's size must sit within
    // 5% of n/10 (KLL rank-error ≈ 2% at this k) — a broken sketch merge,
    // wrong cutpoint rank, or bucket-boundary off-by-one empties or
    // inflates a bucket and flips the pinned verdict.
    "quality_deciles_sketch" -> ((s, d) => {
      val scored = cachedUnigramScored(s, d)
      val probs = (1 to 9).map(_ / 10.0)
      val kll = udaf(new graft.ext.KllQuantileAggregator(512, probs),
        org.apache.spark.sql.Encoders.scalaDouble)
      val cuts = scored.groupBy(col("lang").as("clang"))
        .agg(kll(col("neg_logp")).as("cuts"))
      val bucketed = scored.join(broadcast(cuts), col("lang") === col("clang"))
        .withColumn("decile",
          size(filter(col("cuts"), c => c < col("neg_logp"))) + 1)
      val sizes = bucketed.groupBy("lang", "decile").agg(count(lit(1)).as("nb"))
        .withColumn("tot", sum(col("nb")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      sizes.groupBy("lang")
        .agg(max(col("tot")).as("n_docs"),
          countDistinct(col("decile")).as("n_deciles"),
          (max(abs(col("nb") - col("tot") / 10.0)) / max(col("tot")) <= 0.05)
            .as("deciles_balanced"))
        .orderBy("lang")
    }),

    // Overlapping token-window chunking (window 32, stride 24 → 8-token
    // overlap): the document → fixed-size-model-input assembly step. One
    // row per chunk; DuckDB re-derives every chunk via list slicing, so a
    // boundary error (off-by-one start, wrong overlap, descending-sequence
    // bug on short docs) flips the hash.
    "text_chunk_windows" -> ((s, d) => documents(s, d)
      .select(col("doc_id"),
        posexplode(TextStats.chunkWindows(col("text"), window = 32, stride = 24)))
      .withColumnRenamed("pos", "chunk_id")
      .withColumnRenamed("col", "chunk")
      .withColumn("n_chunk_tokens", size(TextStats.tokens(col("chunk"))))
      .orderBy("doc_id", "chunk_id")),

    // PII scrub: plant deterministic emails/phones into the corpus (both
    // engines plant identically), then count and redact them. Exercises the
    // codegen'd regexp passes end-to-end — the scrubbed TEXT itself is
    // hash-compared, so a regex dialect drift or partial replace fails.
    "text_pii_scrub" -> ((s, d) => {
      val planted = concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" call 555-123-4567")).otherwise(lit("")))
      documents(s, d)
        .select(col("doc_id"), planted.as("ptext"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("ptext"), lit(TextStats.EmailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("ptext"), lit(TextStats.PhoneRe), lit(0)))
            .as("n_phones"),
          TextStats.scrubPii(col("ptext")).as("scrubbed"))
        .orderBy("doc_id")
    }),

    // Stratified (per-language) hash-deterministic downsampling — the
    // training-mix reweighting step. Keep fraction is a per-stratum
    // threshold over a 16-bucket md5 hash of the id: engine-, order- and
    // rerun-invariant, like split_train_test.
    "sample_stratified" -> ((s, d) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("int")
      val threshold = when(col("lang") === "en", 8)
        .when(col("lang") === "de", 4)
        .when(col("lang") === "fr", 2)
        .otherwise(1)
      documents(s, d)
        .select(col("lang"), when(bucket < threshold, 1L).otherwise(0L).as("keep"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"))
        .orderBy("lang")
    }),

    // Bloom-gated decontamination — the shuffle-frugal scale path beside
    // the exact `decontaminate` semi-join. The train shingle set is
    // aggregated into a bounded Bloom sketch (treeAggregate; the driver
    // holds the bitmap, never the keys), test shingles probe it MAP-SIDE
    // via the codegen'd BloomFilterMightContain, and only the flagged
    // sliver would pay the exact verification join at scale. PROPERTY
    // oracle: a Bloom filter has NO false negatives, so every exactly-
    // contaminated doc must be bloom-flagged — a serialization or hash
    // mismatch between build and probe craters membership and flips the
    // pinned verdict; n_exact/n_test are data-dependent exact columns.
    "decontaminate_bloom" -> ((s, d) => {
      // the split+shingle scan and distinct train-shingle set are shared
      // (persisted) with `decontaminate` — this query alone walks them
      // three times (bloom build, bloom probe, exact twin)
      val sh = cachedSplitShingles(s, d)
      val trainSh = cachedTrainShingles(s, d)
      // Size the Bloom sketch from the EXACT distinct train-shingle count
      // (free — the persisted set is counted at materialization). A
      // hard-coded expectedItems either overloads the filter at scale or —
      // the failure this replaced — allocates a multi-MB bitmap PER
      // PARTIAL AGGREGATE for a small corpus, and merging 32 oversized
      // bitmaps dwarfs the actual scan. fpp 1e-4 keeps the DOC-level
      // false-positive rate low too: a doc is flagged if ANY of its
      // ~10²-10³ shingles probes true, so per-shingle fpp must sit well
      // under 1/shingles-per-doc.
      val expectedShingles = math.max(1000L, cachedTrainShingleCount(s, d))
      // honest sizing at any scale: stat.bloomFilter silently clamps at
      // 2^26 bits (see BloomColumns.buildLong)
      val bf = graft.functions.BloomColumns
        .buildLong(trainSh, "__sh", expectedShingles, 1e-4,
          itemsHint = expectedShingles)
      val testSh = sh.filter(col("split") === "test")
      val flaggedBloom = testSh
        .filter(graft.functions.BloomColumns.mightContainAuto(s, bf, col("__sh")))
        .select("doc_id").distinct()
      val flaggedExact = testSh.join(trainSh, "__sh", "left_semi")
        .select("doc_id").distinct()
      val nTest = documents(s, d)
        .filter(isTestSplit(col("doc_id")))
        .agg(count(lit(1)).as("n_test_docs"))
      flaggedExact.withColumn("__e", lit(1))
        .join(flaggedBloom.withColumn("__b", lit(1)), Seq("doc_id"), "full_outer")
        .agg(
          (coalesce(sum(when(col("__e").isNotNull && col("__b").isNull, 1L)
            .otherwise(0L)), lit(0L)) === 0).as("bloom_catches_all"),
          coalesce(sum(col("__e").cast("long")), lit(0L)).as("n_exact_contaminated"))
        .crossJoin(nTest)
        .select("bloom_catches_all", "n_exact_contaminated", "n_test_docs")
    }),

    // PERSISTED decontamination through the commit-log Bloom store
    // ([[graft.ext.DecontaminationStore]], round-13 VERDICT item 5): the
    // sketch is built on 90% of the train corpus, the held-out tenth
    // arrives as a base-table append and folds in via a change-feed
    // refresh that sketches ONLY the delta (Bloom union — never a corpus
    // re-shingle), then the TEST docs probe the STORED sketch map-side.
    // PROPERTY oracle: the union must preserve no-false-negatives across
    // build → append → refresh, so every exactly-contaminated doc
    // (against the FULL train set, appended slice included) must be
    // store-flagged — a lost refresh, a geometry-mismatched union, or a
    // stale watermark breaks the pinned verdict; the exact counts are
    // data-dependent columns.
    "decontaminate_store" -> ((s, d) => {
      val index = ensureDeconStore(s, d)
      val sh = cachedSplitShingles(s, d)
      val testSh = sh.filter(col("split") === "test")
      val flaggedStore = graft.ext.DecontaminationStore.flaggedDocs(
        s, index, documents(s, d).filter(isTestSplit(col("doc_id")))
          .select("doc_id", "text"))
      val flaggedExact = testSh.join(cachedTrainShingles(s, d), "__sh", "left_semi")
        .select("doc_id").distinct()
      val nTest = documents(s, d)
        .filter(isTestSplit(col("doc_id")))
        .agg(count(lit(1)).as("n_test_docs"))
      flaggedExact.withColumn("__e", lit(1))
        .join(flaggedStore.withColumn("__b", lit(1)), Seq("doc_id"), "full_outer")
        .agg(
          (coalesce(sum(when(col("__e").isNotNull && col("__b").isNull, 1L)
            .otherwise(0L)), lit(0L)) === 0).as("store_catches_all"),
          coalesce(sum(col("__e").cast("long")), lit(0L)).as("n_exact_contaminated"))
        .crossJoin(nTest)
        .select("store_catches_all", "n_exact_contaminated", "n_test_docs")
    }),

    // PREFIX-SHARDED decontamination store (round-15 VERDICT item 1): the
    // identical build→append→refresh harness with nShards = 4 — the build
    // routes each shingle to its top-2-prefix-bits shard, the refresh
    // folds per-shard delta filters via a touched-shards-only
    // replace-where, and the probe routes each shingle to its shard's
    // broadcast. Same PROPERTY oracle as decontaminate_store: the union
    // across shards must preserve no-false-negatives, so every
    // exactly-contaminated doc must be store-flagged.
    "decontaminate_sharded" -> ((s, d) => {
      val index = ensureDeconStoreSharded(s, d)
      val sh = cachedSplitShingles(s, d)
      val testSh = sh.filter(col("split") === "test")
      val flaggedStore = graft.ext.DecontaminationStore.flaggedDocs(
        s, index, documents(s, d).filter(isTestSplit(col("doc_id")))
          .select("doc_id", "text"))
      val flaggedExact = testSh.join(cachedTrainShingles(s, d), "__sh", "left_semi")
        .select("doc_id").distinct()
      val nTest = documents(s, d)
        .filter(isTestSplit(col("doc_id")))
        .agg(count(lit(1)).as("n_test_docs"))
      flaggedExact.withColumn("__e", lit(1))
        .join(flaggedStore.withColumn("__b", lit(1)), Seq("doc_id"), "full_outer")
        .agg(
          (coalesce(sum(when(col("__e").isNotNull && col("__b").isNull, 1L)
            .otherwise(0L)), lit(0L)) === 0).as("store_catches_all"),
          coalesce(sum(col("__e").cast("long")), lit(0L)).as("n_exact_contaminated"))
        .crossJoin(nTest)
        .select("store_catches_all", "n_exact_contaminated", "n_test_docs")
    }),

    // Exact-dedup result: keep the lowest doc_id per fingerprint group.
    "dedup_exact_keep" -> ((s, d) => documents(s, d)
      .groupBy(TextStats.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")),

    // Deterministic corpus shuffle + shard assignment — the "shuffle then
    // shard" step before training: order is a pure function of (seed, id)
    // via md5, so it is engine/partitioning/rerun-invariant (no RNG state),
    // and the shard is a hash bucket of the same key. At 100 TB the ORDER
    // BY is a range exchange on the hash key and the shard column rides
    // along — one shuffle, then `write.partitionBy(shard)` fans out files.
    // The oracle re-derives key, order, and shard in DuckDB; LIMIT keeps
    // the dumped frame small while still pinning the global order's head.
    "shuffle_shard" -> ((s, d) => documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("seed42:"), col("doc_id").cast("string"))).as("shuffle_key"))
      .withColumn("shard",
        pmod(conv(substring(col("shuffle_key"), 1, 4), 16, 10).cast("long"), lit(8L)))
      .orderBy("shuffle_key")
      .limit(200)),

    // Data-mixture re-weighting, hash-rate form — THE scale path for "give
    // each source a token budget": one tiny per-source token-total agg, a
    // broadcast rate join, then a MAP-SIDE deterministic keep decision per
    // doc (first 8 md5 hex chars as a uniform [0,1) draw — engine-,
    // partitioning-, and rerun-invariant, no RNG state). No sort, no
    // per-source window: at 100 TB this is one shuffle for the totals and
    // one scan for the filter. Over-represented sources are downsampled
    // toward the budget in expectation; rate-1.0 sources pass through.
    "mixture_resample" -> ((s, d) => {
      val budget = 5000L
      val toks = documents(s, d).select(col("source"), col("doc_id"),
        size(TextStats.tokens(col("text"))).as("n"))
      val totals = toks.groupBy("source").agg(sum(col("n")).as("total"))
        .withColumn("rate",
          least(lit(1.0), lit(budget).cast("double") / col("total")))
      toks.join(broadcast(totals), "source")
        .withColumn("u",
          conv(substring(md5(concat(lit("mix42:"), col("doc_id").cast("string"))), 1, 8),
            16, 10).cast("long").cast("double") / lit(4294967296.0))
        .filter(col("u") < col("rate"))
        .groupBy(col("source"), round(col("rate"), 6).as("rate"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("kept_tokens"))
        .orderBy("source")
    }),

    // Data-mixture selection, exact greedy form — the oracle-able twin:
    // shuffle each source deterministically (same md5 order the corpus
    // shuffle uses) and take documents until the token budget is crossed
    // (the boundary doc is included — C4's take-while-start-under-budget).
    // One window per source ⇒ a per-source sort: few sources mean giant
    // sort tasks at 100 TB, so mixture_resample above is the declared
    // scale path and this exact form certifies the semantics (the same
    // exact/scale pairing as quality_deciles and embed_neardup).
    "mixture_select" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 5000L
      val toks = documents(s, d).select(col("source"), col("doc_id"),
        size(TextStats.tokens(col("text"))).as("n"))
        .withColumn("k", md5(concat(lit("mix42:"), col("doc_id").cast("string"))))
      val w = Window.partitionBy("source").orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      toks.withColumn("start", coalesce(sum(col("n")).over(w), lit(0L)))
        .filter(col("start") < budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sel_tokens"))
        .orderBy("source")
    }),

    // Hashed-linear quality classifier (fastText hashing trick, Joulin et
    // al. 2017) — the learned-gate stage of CCNet/LLaMA curation. One
    // whole-stage-codegen pass, NO shuffle/join: each token hashes into
    // one of 1024 weight buckets and the doc score is the mean bucket
    // weight (integer sums + one division — exact on any engine; the
    // DuckDB oracle re-derives buckets, weights, and score from the same
    // md5 arithmetic). Production swaps in a trained vector via the
    // `weights` param — same plan shape, proven equal in TextStatsSpec.
    "quality_classifier" -> ((s, d) => documents(s, d)
      .select(col("doc_id"),
        TextStats.hashedLinearScore(col("text"), dim = 1024).as("score"))
      .withColumn("keep", when(col("score") > 0, 1).otherwise(0))
      .orderBy("doc_id")),

    // Temperature-scaled mixture weights (the multilingual-LLM sampling
    // rule p_i ∝ n_i^α, α = 0.5): per-language doc counts, sampling ratio
    // relative to the largest language, and the planned per-language doc
    // budget. One tiny groupBy + a broadcast one-row max join — nothing
    // here grows with corpus size except the count itself. sqrt/division
    // are single IEEE ops on exact integer counts, so the doubles are
    // bit-identical on any engine — no rounding needed.
    "mixture_temperature" -> ((s, d) => {
      val byLang = documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"))
      val maxw = byLang.agg(max(sqrt(col("n_docs").cast("double"))).as("__maxw"))
      byLang.crossJoin(broadcast(maxw))
        .select(col("lang"), col("n_docs"),
          (sqrt(col("n_docs").cast("double")) / col("__maxw")).as("sample_ratio"),
          ceil(sqrt(col("n_docs").cast("double")) / col("__maxw") * col("n_docs"))
            .cast("long").as("planned_docs"))
        .orderBy("lang")
    }),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023;
    // [[TextStats.dsirSelect]], target slice = lang='en' standing in for
    // the Wikipedia-like target). The 1024-row LM table is memoized — its
    // two plan consumers (totals, ratio table) must not re-walk the
    // corpus. The oracle is an identical DuckDB md5/ln derivation; both
    // engines order on the 1e-6-ROUNDED score with doc_id tie-break, so
    // float summation order can never flip a rank.
    "dsir_select" -> ((s, d) => {
      val docs = documents(s, d)
      TextStats.dsirSelect(docs, col("text"), col("doc_id"),
        isTarget = col("lang") === "en",
        counts = Some(QueryMemo("dsir_counts", s, d) {
          TextStats.dsirCounts(docs, col("text"), col("lang") === "en") }))
    }),

    // Sequence packing — the concat-and-chunk step that turns a curated
    // corpus into fixed-length training sequences (ctx 512): documents are
    // concatenated in doc_id order and cut every 512 tokens; a document
    // spanning a cut contributes to both sequences. See [[packSequences]]
    // for the distributed two-phase prefix sum; the stage width scales
    // with the cluster (defaultParallelism — round-5 VERDICT item 2, the
    // old literal 8 capped a 100 TB sort at 8 tasks), and the result is
    // WIDTH-INDEPENDENT by construction: DuckDB re-derives it with a plain
    // global window and every sequence's (n_docs, n_tokens) must
    // hash-match; TextQueriesSpec proves equality across two widths.
    // Budgets by REAL BPE piece counts (round-14 VERDICT item 4) — the
    // number an actual training pipeline allocates context windows by,
    // not the whitespace-token proxy; the oracle re-derives the same
    // counts through the DuckDB merge replay. The narrow (doc_id, n)
    // projection is PERSISTED before the range exchange: the range
    // partitioner's sampling pass otherwise re-runs the tokenizer over
    // the whole corpus a second time — at 100 TB that doubles the
    // pipeline's dominant cost for a 16-bytes-per-doc intermediate.
    // No explicit unpersist: the cache is keyed by logical plan, so
    // repeated invocations REUSE one entry per sfDir rather than
    // accumulating, and eviction reclaims it under pressure.
    "pack_sequences" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), TextStats.bpeTokenCount(col("text")).as("n"))
        .filter(col("n") > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      packSequences(toks, ctx = 512, width = s.sparkContext.defaultParallelism)
    }),
  )

  /** Pack documents (one row per doc: `doc_id`, token count `n`) into
    * fixed-`ctx` training sequences, returning per-sequence
    * (seq_id, n_docs, n_tokens). The global token offset of every document
    * is a DISTRIBUTED two-phase prefix sum — running sum within each of
    * `width` range partitions, plus a broadcast one-row-per-partition
    * offset table — never a single-partition global window, so the shape
    * survives 100 TB. The output is a pure function of the (doc_id, n)
    * set: `width` only changes task granularity, never a row. */
  def packSequences(toks: DataFrame, ctx: Int, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = toks.repartitionByRange(math.max(width, 1), col("doc_id"))
      .sortWithinPartitions("doc_id")
      .withColumn("pid", spark_partition_id())
    // `pid` MUST be materialized ONCE: the offsets branch and the placed
    // branch below both consume it, and under AQE two separate executions
    // of the same range exchange may coalesce shuffle partitions
    // DIFFERENTLY — the branches would then disagree on what partition k
    // means and the offset join would place documents at overlapping
    // starts (observed at sf0.1: a 985-token "512-token" sequence). The
    // persisted frame is (doc_id, n, pid, cum_in) — 32 bytes/doc, the
    // same narrow-intermediate argument as the toks persist; the cache is
    // plan-keyed, so repeated invocations reuse one entry.
    val within = parts.withColumn("cum_in",
      sum(col("n")).over(Window.partitionBy("pid").orderBy("doc_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    within.count(): Unit
    val offsets = within.groupBy("pid").agg(max(col("cum_in")).as("ptot"))
      .withColumn("offset", coalesce(sum(col("ptot")).over(
        Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "offset")
    val placed = within.join(broadcast(offsets), "pid")
      .withColumn("start", col("offset") + col("cum_in") - col("n"))
    val spans = placed.select(col("doc_id"), col("n"), col("start"),
      explode(sequence(floor(col("start") / ctx),
        floor((col("start") + col("n") - 1) / ctx))).as("seq_id"))
    spans
      .withColumn("t", least((col("seq_id") + 1) * ctx, col("start") + col("n"))
        - greatest(col("seq_id") * ctx, col("start")))
      .groupBy("seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .orderBy("seq_id")
  }

  /** Operator-only twin for the bench split (round-4 VERDICT item 2): the
    * codegen rolling-hash windows without the per-window substring
    * re-derivation twin that text_rolling_fp verifies them against. */
  val operatorOnly: Map[String, Q] = Map(
    "text_rolling_fp" -> ((s, d) => documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextExpressions.rollingHash(col("text"), 16).as("windows"))),

    // The STORED decontamination probe alone — the steady-state serving
    // shape: shingle the test batch, filter map-side through the
    // persisted sketch, count flagged docs; no build, no exact twin.
    "decontaminate_store" -> ((s, d) =>
      graft.ext.DecontaminationStore.flaggedDocs(
          s, ensureDeconStore(s, d),
          documents(s, d).filter(isTestSplit(col("doc_id")))
            .select("doc_id", "text"))
        .agg(count(lit(1)).as("n_store_flagged"))),

    // The Bloom decontamination path alone: build the train-shingle sketch,
    // probe test shingles map-side, count flagged docs — without the exact
    // all-pairs twin the full query runs for its no-false-negative oracle.
    "decontaminate_bloom" -> ((s, d) => {
      val tagged = graft.ext.Spread.toCores(documents(s, d))
        .withColumn("split",
          when(substring(md5(col("doc_id").cast("string")), 1, 1).isin("c", "d", "e", "f"), "test")
            .otherwise("train"))
      val sh = tagged.select(col("split"), col("doc_id"),
        explode(graft.functions.ShingleHashes.shingleHashes(
          TextStats.tokens(col("text")), 8)).as("__sh"))
      // sizing statistic memoized per (session, dir) — a pure function of
      // the immutable corpus; the build it sizes still runs per rep
      // (optimization round 17)
      val expectedShingles = math.max(1000L,
        QueryMemo.value("corpus_text_bytes", s, d)(
          documents(s, d).agg(sum(length(col("text")))).first().getLong(0)) / 4)
      val bf = graft.functions.BloomColumns.buildLong(
        sh.filter(col("split") === "train"), "__sh", expectedShingles, 1e-4,
        itemsHint = expectedShingles)
      sh.filter(col("split") === "test")
        .filter(graft.functions.BloomColumns.mightContainAuto(s, bf, col("__sh")))
        .select("doc_id").distinct()
        .agg(count(lit(1)).as("n_bloom_flagged"))
    }),
  )

  /** 1 - distinct 4-grams / total 4-grams, rounded to 6 decimals — shared
    * by text_repetition and the curation_keep repetition gate. */
  /** The ONE copy of the curation gate chain (language, token count,
    * stopword ratio, repetition) plus the closing exact dedup — shared by
    * `curation_keep` and `curation_keep_ccnet` so a threshold tweak can't
    * desynchronize the twins from their oracles (the two DuckDB twins
    * restate the same gates; Scala-side drift is the risk worth removing). */
  private def curationGatesAndDedup(docs: DataFrame): DataFrame = {
    // ONE token split per row (optimization round 16): the four gates are
    // all token-derived, and as separate filters each re-ran the regex
    // split (language-ID, size, stopword ratio ×2, repetition) — at 100 TB
    // that is 5+ full regex passes over every byte of the corpus for one
    // gate decision. The gates evaluate under a single TextStats.bind of
    // the token array; predicates and results are unchanged.
    val keep = TextStats.bind(TextStats.tokens(col("text"))) { ts =>
      TextStats.langIdOf(ts) === "en" &&
        size(ts).between(5, 5000) &&
        TextStats.stopwordRatioOf(ts) >= 0.05 &&
        repetitionRatioOf(ts) <= 0.2
    }
    graft.ext.Dedup.exact(docs.filter(keep), col("text"), col("doc_id"))
      .select("doc_id").orderBy("doc_id")
  }

  private def repetitionRatio(text: Column): Column = {
    val toks = TextStats.tokens(text)
    round(lit(1.0) -
      size(graft.functions.ShingleHashes.shingleHashes(toks, 4)).cast("double") /
        greatest(size(toks) - 3, lit(1)), 6)
  }

  /** [[repetitionRatio]] over an already-bound token array (one split per
    * row for multi-gate consumers — see [[TextStats.langIdOf]]). */
  private def repetitionRatioOf(ts: Column): Column =
    round(lit(1.0) -
      size(graft.functions.ShingleHashes.shingleHashes(ts, 4)).cast("double") /
        greatest(size(ts) - 3, lit(1)), 6)

  /** DuckDB replay of [[graft.functions.BpeEncode]] over the fixture merge
    * table — an independent SQL re-implementation of greedy BPE: a
    * recursive CTE carries each distinct pre-token's symbol list; per
    * iteration the lowest-rank adjacent pair present in the table is
    * picked (`list_position` over the literal merge list = rank) and its
    * occurrences fuse left-to-right non-overlapping via a string fold
    * (merging into the accumulator's LAST token reproduces the
    * non-overlap semantics exactly); recursion stops when no pair
    * matches, and the terminal row per word (max iteration) carries its
    * piece count. Ends with `bpecnt(doc_id, n_pieces)`; prepend
    * `WITH RECURSIVE`. */
  private def bpeReplayCtes: String =
    s"""ml AS (SELECT [${graft.functions.BpeEncode.fixturePairsSql}] AS M),
       pt AS (SELECT doc_id, regexp_extract_all(text,
         '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS pieces
         FROM documents),
       words AS (SELECT DISTINCT unnest(pieces) AS w FROM pt),
       bpe(w, syms, it) AS (
         SELECT w, list_transform(range(1, length(w) + 1),
           i -> substr(w, CAST(i AS INTEGER), 1)), 0 FROM words
         UNION ALL
         SELECT w,
           string_split(list_reduce(syms, (acc, s) -> CASE
             WHEN regexp_extract(acc, '[^ ]+$$') || ' ' || s = best
             THEN substr(acc, 1, length(acc) - length(regexp_extract(acc, '[^ ]+$$')))
               || regexp_extract(acc, '[^ ]+$$') || s
             ELSE acc || ' ' || s END), ' '),
           it + 1
         FROM (
           SELECT b.w, b.syms, b.it,
             ml.M[CAST(list_min(list_filter(list_transform(
               list_transform(range(1, len(b.syms)),
                 i -> b.syms[CAST(i AS INTEGER)] || ' ' || b.syms[CAST(i + 1 AS INTEGER)]),
               p -> list_position(ml.M, p)), r -> r > 0)) AS INTEGER)] AS best
           FROM bpe b, ml) x
         WHERE best IS NOT NULL),
       fin AS (SELECT w, max(it) AS mit FROM bpe GROUP BY w),
       wp AS (SELECT b.w, len(b.syms) AS np,
           array_to_string(b.syms, ' ') AS segs
         FROM bpe b JOIN fin ON b.w = fin.w AND b.it = fin.mit),
       expl AS (SELECT doc_id, unnest(pieces) AS w FROM pt),
       bpeagg AS (SELECT doc_id, sum(np) AS np FROM expl
         JOIN wp ON expl.w = wp.w GROUP BY doc_id),
       bpecnt AS (SELECT p.doc_id, CAST(coalesce(a.np, 0) AS INTEGER) AS n_pieces
         FROM pt p LEFT JOIN bpeagg a ON p.doc_id = a.doc_id)"""

  val oracle: Map[String, String] = Map(
    "text_tokens_bpe" ->
      s"""WITH RECURSIVE
         $bpeReplayCtes,
         ex2 AS (SELECT doc_id, unnest(pieces) AS w,
           generate_subscripts(pieces, 1) AS i FROM pt),
         docseg AS (SELECT e.doc_id,
             string_agg(wp.segs, ' ' ORDER BY e.i) AS seg
           FROM ex2 e JOIN wp ON e.w = wp.w GROUP BY e.doc_id)
         SELECT c.doc_id, c.n_pieces,
           md5(coalesce(d.seg, '')) AS seg_fp
         FROM bpecnt c LEFT JOIN docseg d ON c.doc_id = d.doc_id
         ORDER BY c.doc_id""",
    "text_tokens" ->
      """SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
           x -> x <> '')) AS INTEGER) AS n_tokens
         FROM documents ORDER BY doc_id""",
    "text_quality" ->
      """WITH toks AS (
           SELECT doc_id, length(text) AS len,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents)
         SELECT doc_id, CAST(len AS INTEGER) AS len,
           CAST(len(tokens) AS INTEGER) AS n_tokens,
           CAST(list_sum(list_transform(tokens, t -> length(t))) AS DOUBLE)
             / len(tokens) AS avg_token_len,
           CAST(len(list_filter(tokens, t -> t IN ('the','a','of','and','to','in',
             'is','it','that','for'))) AS DOUBLE) / len(tokens) AS stopword_ratio
         FROM toks ORDER BY doc_id""",
    "f_array_funcs" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok
           FROM documents)
         SELECT doc_id,
           array_to_string(tok[1:3], ' ') AS first3,
           list_contains(tok, 'the') AS has_the,
           CAST(len(list_distinct(tok)) AS INTEGER) AS n_distinct
         FROM t ORDER BY doc_id""",
    "text_heavy_hitters" ->
      """SELECT token, count(*) AS cnt FROM (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS token
           FROM documents)
         GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20""",
    "text_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM toks)
         SELECT doc_id, round(avg(-ln(c / CAST(n AS DOUBLE))), 6) AS neg_logp
         FROM toks JOIN freq USING (tok), tot
         GROUP BY doc_id ORDER BY doc_id""",
    "text_bigram_logprob" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ts
           FROM documents),
         uni AS (
           SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 4096 AS b
           FROM (SELECT doc_id, unnest(ts) AS tok FROM d)),
         c1 AS (SELECT b, count(*) AS c1 FROM uni GROUP BY 1),
         n1 AS (SELECT count(*) AS n FROM uni),
         bg AS (
           SELECT doc_id,
             unnest(ts[1:len(ts)-1]) AS prev,
             unnest(ts[2:len(ts)]) AS cur
           FROM d WHERE len(ts) >= 2),
         pos AS (
           SELECT doc_id,
             CAST('0x' || substr(md5(prev), 1, 4) AS BIGINT) % 4096 AS bprev,
             CAST('0x' || substr(md5(cur), 1, 4) AS BIGINT) % 4096 AS bcur,
             CAST('0x' || substr(md5(prev || ' ' || cur), 1, 4) AS BIGINT) % 4096 AS bbg
           FROM bg),
         c2 AS (SELECT bbg AS b, count(*) AS c2 FROM pos GROUP BY 1),
         sc AS (
           SELECT pos.doc_id,
             round(avg(-ln(
               CAST(0.7 AS DOUBLE) * (c2.c2 + 1) / CAST(p.c1 + 4096 AS DOUBLE)
               + CAST(0.3 AS DOUBLE) * (c.c1 + 1) / CAST(n1.n + 4096 AS DOUBLE))), 6) AS neg_logp2
           FROM pos
             JOIN c2 ON pos.bbg = c2.b
             JOIN c1 p ON pos.bprev = p.b
             JOIN c1 c ON pos.bcur = c.b, n1
           GROUP BY 1)
         SELECT doc.doc_id, sc.neg_logp2
         FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id
         ORDER BY doc.doc_id""",
    "text_heavy_hitters_sketch" ->
      """WITH toks AS (
           SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS token
           FROM documents),
         tot AS (SELECT count(*) AS n FROM toks)
         SELECT token, count(*) AS cnt FROM toks, tot GROUP BY token, n
         HAVING count(*) > n / 100.0 ORDER BY cnt DESC, token""",
    "text_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         FROM documents ORDER BY doc_id""",
    "text_rolling_fp" ->
      """SELECT count(*) AS n_docs_checked,
           CAST(coalesce(SUM(CASE WHEN octet_length(encode(text)) >= 16
             THEN octet_length(encode(text)) - 15 ELSE 0 END), 0) AS BIGINT) AS n_windows,
           CAST(0 AS BIGINT) AS mismatches
         FROM documents WHERE length(text) = octet_length(encode(text))""",
    "text_langid" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok
           FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(tok, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
           len(list_filter(tok, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS s_de,
           len(list_filter(tok, t -> t IN ('el','la','de','que','y','es','en','un','una','por'))) AS s_es,
           len(list_filter(tok, t -> t IN ('le','la','de','et','est','un','une','que','pour','dans'))) AS s_fr,
           len(list_filter(tok, t -> t IN ('的','是','在','了','我','有','和','不','这','中'))) AS s_zh
           FROM t)
         SELECT doc_id, CASE
           WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
           WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
           WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
           WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
           WHEN s_fr >= s_zh THEN 'fr'
           ELSE 'zh' END AS lang_pred
         FROM s ORDER BY doc_id""",
    "text_repetition" ->
      """WITH toks AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tokens
           FROM documents)
         SELECT doc_id,
           round(1 - CAST(len(list_distinct(CASE WHEN len(tokens) >= 4
             THEN list_transform(range(1, len(tokens) - 2),
               i -> array_to_string(tokens[i:i+3], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS DOUBLE)
             / greatest(len(tokens) - 3, 1), 6) AS rep_ratio
         FROM toks ORDER BY doc_id""",
    "sample_per_lang" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok
           FROM documents),
         s AS (SELECT doc_id,
           len(list_filter(tok, t -> t IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
           len(list_filter(tok, t -> t IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS s_de,
           len(list_filter(tok, t -> t IN ('el','la','de','que','y','es','en','un','una','por'))) AS s_es,
           len(list_filter(tok, t -> t IN ('le','la','de','et','est','un','une','que','pour','dans'))) AS s_fr,
           len(list_filter(tok, t -> t IN ('的','是','在','了','我','有','和','不','这','中'))) AS s_zh
           FROM t),
         langed AS (
           SELECT doc_id, CASE
             WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh' END AS lang
           FROM s)
         SELECT lang, doc_id FROM (
           SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
           FROM langed)
         WHERE rn <= 20 ORDER BY lang, doc_id""",
    "split_train_test" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
             THEN 'test' ELSE 'train' END AS split,
           count(*) AS n_docs
         FROM documents GROUP BY 1 ORDER BY split""",
    "mixture_resample" ->
      """WITH toks AS (
           SELECT source, doc_id, len(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS n
           FROM documents),
         tot AS (
           SELECT source,
             least(CAST(1.0 AS DOUBLE), 5000.0 / CAST(sum(n) AS DOUBLE)) AS rate
           FROM toks GROUP BY 1),
         kept AS (
           SELECT t.source, r.rate, t.n
           FROM toks t JOIN tot r USING (source)
           WHERE CAST('0x' || substr(md5('mix42:' || CAST(t.doc_id AS VARCHAR)), 1, 8)
                   AS BIGINT) / 4294967296.0 < r.rate)
         SELECT source, round(rate, 6) AS rate, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS kept_tokens
         FROM kept GROUP BY 1, 2 ORDER BY source""",
    "mixture_select" ->
      """WITH toks AS (
           SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n,
             md5('mix42:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         placed AS (
           SELECT source, n,
             COALESCE(sum(n) OVER (PARTITION BY source ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
           FROM toks)
         SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sel_tokens
         FROM placed WHERE start < 5000 GROUP BY 1 ORDER BY source""",
    "quality_classifier" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok
           FROM documents),
         toks AS (
           SELECT doc_id, unnest(tok) AS token, len(tok) AS n FROM t),
         w AS (
           SELECT doc_id, n,
             CAST('0x' || substr(md5('w:' || CAST(
               CAST('0x' || substr(md5(token), 1, 4) AS BIGINT) % 1024
             AS VARCHAR)), 1, 4) AS BIGINT) - 32768 AS wint
           FROM toks),
         s AS (
           SELECT doc_id, sum(wint) AS sw, max(n) AS n FROM w GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(CAST(s.sw AS DOUBLE) / (greatest(s.n, 1) * 65536.0), 0.0) AS score,
           CASE WHEN coalesce(s.sw, 0) > 0 THEN 1 ELSE 0 END AS keep
         FROM documents d LEFT JOIN s USING (doc_id)
         ORDER BY d.doc_id""",
    "dsir_select" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS tok
           FROM documents),
         bt AS (
           SELECT doc_id, lang,
             CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 1024 AS b
           FROM toks),
         tgt AS (SELECT b, count(*) AS ct FROM bt WHERE lang = 'en' GROUP BY 1),
         rawc AS (SELECT b, count(*) AS cr FROM bt WHERE lang <> 'en' GROUP BY 1),
         counts AS (
           SELECT coalesce(t.b, r.b) AS b, coalesce(ct, 0) AS ct,
             coalesce(cr, 0) AS cr
           FROM tgt t FULL OUTER JOIN rawc r ON t.b = r.b),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM counts),
         lr AS (
           SELECT b,
             ln((ct + 1) / CAST(tt + 1024 AS DOUBLE))
               - ln((cr + 1) / CAST(tr + 1024 AS DOUBLE)) AS lr
           FROM counts, tot),
         lw AS (
           SELECT doc_id, sum(lr) AS logw
           FROM bt JOIN lr USING (b) WHERE lang <> 'en' GROUP BY doc_id)
         SELECT doc_id, round(logw, 6) AS logw,
           round(logw - ln(-ln(
             (CAST('0x' || substr(md5('dsir42:' || CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) + 0.5) / 4294967296.0)), 6) AS score
         FROM lw
         ORDER BY score DESC, doc_id LIMIT 100""",
    "mixture_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         m AS (SELECT max(sqrt(CAST(n_docs AS DOUBLE))) AS maxw FROM c)
         SELECT lang, n_docs,
           sqrt(CAST(n_docs AS DOUBLE)) / maxw AS sample_ratio,
           CAST(ceil(sqrt(CAST(n_docs AS DOUBLE)) / maxw * n_docs) AS BIGINT)
             AS planned_docs
         FROM c, m ORDER BY lang""",
    "quality_deciles" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS tok
           FROM documents),
         freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT count(*) AS n FROM toks),
         scored AS (
           SELECT doc_id, round(avg(-ln(c / CAST(n AS DOUBLE))), 6) AS neg_logp
           FROM toks JOIN freq USING (tok), tot GROUP BY doc_id),
         ranked AS (
           SELECT d.lang, s.doc_id, s.neg_logp,
             CAST(ntile(10) OVER (PARTITION BY d.lang
               ORDER BY s.neg_logp, s.doc_id) AS INTEGER) AS decile
           FROM scored s JOIN documents d USING (doc_id))
         SELECT lang, decile, count(*) AS n_docs,
           min(neg_logp) AS lo, max(neg_logp) AS hi
         FROM ranked GROUP BY 1, 2 ORDER BY lang, decile""",
    "quality_deciles_sketch" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '')) AS tok
           FROM documents),
         scored AS (
           SELECT doc_id FROM toks GROUP BY doc_id)
         SELECT d.lang, count(*) AS n_docs,
           CAST(10 AS BIGINT) AS n_deciles, true AS deciles_balanced
         FROM scored s JOIN documents d USING (doc_id)
         GROUP BY 1 ORDER BY d.lang""",
    "text_chunk_windows" ->
      """WITH t AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok
           FROM documents),
         st AS (
           SELECT doc_id, tok,
             unnest(range(0, greatest(len(tok), 1), 24)) AS start
           FROM t)
         SELECT doc_id,
           CAST(start // 24 AS INTEGER) AS chunk_id,
           array_to_string(tok[start+1 : start+32], ' ') AS chunk,
           CAST(len(tok[start+1 : start+32]) AS INTEGER) AS n_chunk_tokens
         FROM st ORDER BY doc_id, chunk_id""",
    "text_pii_scrub" ->
      """WITH p AS (
           SELECT doc_id,
             text ||
             CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
               ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END
             AS ptext
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(ptext,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(ptext, '\d{3}-\d{3}-\d{4}')) AS INTEGER) AS n_phones,
           regexp_replace(
             regexp_replace(ptext,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\d{3}-\d{3}-\d{4}', '[PHONE]', 'g') AS scrubbed
         FROM p ORDER BY doc_id""",
    "sample_stratified" ->
      """SELECT lang, count(*) AS n_docs,
           CAST(SUM(CASE WHEN
             strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
             < CASE lang WHEN 'en' THEN 8 WHEN 'de' THEN 4 WHEN 'fr' THEN 2 ELSE 1 END
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM documents GROUP BY 1 ORDER BY lang""",
    "shuffle_shard" ->
      """SELECT doc_id,
           md5('seed42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
           CAST(CAST('0x' || substr(md5('seed42:' || CAST(doc_id AS VARCHAR)), 1, 4)
             AS BIGINT) % 8 AS BIGINT) AS shard
         FROM documents ORDER BY shuffle_key LIMIT 200""",
    "pack_sequences" ->
      s"""WITH RECURSIVE
         $bpeReplayCtes,
         toks AS (SELECT doc_id, n_pieces AS n FROM bpecnt),
         c AS (
           SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id) - n AS start
           FROM toks WHERE n > 0),
         spans AS (
           SELECT doc_id, n, start,
             unnest(range(CAST(floor(start / 512) AS BIGINT),
               CAST(floor((start + n - 1) / 512) AS BIGINT) + 1)) AS seq_id
           FROM c),
         contrib AS (
           SELECT seq_id, doc_id,
             least((seq_id + 1) * 512, start + n) - greatest(seq_id * 512, start) AS t
           FROM spans)
         SELECT seq_id, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens
         FROM contrib GROUP BY 1 ORDER BY seq_id""",
    "decontaminate_store" ->
      """WITH toks AS (
           SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
               THEN 'test' ELSE 'train' END AS split,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         sh8 AS (
           SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(tokens) >= 8
             THEN list_transform(range(1, len(tokens) - 6),
               i -> array_to_string(tokens[i:i+7], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS shingle
           FROM toks),
         flagged AS (
           SELECT DISTINCT t.doc_id
           FROM sh8 t JOIN sh8 tr ON t.shingle = tr.shingle
           WHERE t.split = 'test' AND tr.split = 'train')
         SELECT true AS store_catches_all,
           CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_exact_contaminated,
           CAST((SELECT count(*) FROM toks WHERE split = 'test') AS BIGINT) AS n_test_docs""",
    // identical exact oracle — only the STORAGE layout (4 prefix shards)
    // differs from decontaminate_store, and sharding must not change a
    // single answer
    "decontaminate_sharded" ->
      """WITH toks AS (
           SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
               THEN 'test' ELSE 'train' END AS split,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         sh8 AS (
           SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(tokens) >= 8
             THEN list_transform(range(1, len(tokens) - 6),
               i -> array_to_string(tokens[i:i+7], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS shingle
           FROM toks),
         flagged AS (
           SELECT DISTINCT t.doc_id
           FROM sh8 t JOIN sh8 tr ON t.shingle = tr.shingle
           WHERE t.split = 'test' AND tr.split = 'train')
         SELECT true AS store_catches_all,
           CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_exact_contaminated,
           CAST((SELECT count(*) FROM toks WHERE split = 'test') AS BIGINT) AS n_test_docs""",
    "decontaminate_bloom" ->
      """WITH toks AS (
           SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
               THEN 'test' ELSE 'train' END AS split,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         sh8 AS (
           SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(tokens) >= 8
             THEN list_transform(range(1, len(tokens) - 6),
               i -> array_to_string(tokens[i:i+7], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS shingle
           FROM toks),
         flagged AS (
           SELECT DISTINCT t.doc_id
           FROM sh8 t JOIN sh8 tr ON t.shingle = tr.shingle
           WHERE t.split = 'test' AND tr.split = 'train')
         SELECT true AS bloom_catches_all,
           CAST((SELECT count(*) FROM flagged) AS BIGINT) AS n_exact_contaminated,
           CAST((SELECT count(*) FROM toks WHERE split = 'test') AS BIGINT) AS n_test_docs""",
    "decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d','e','f')
               THEN 'test' ELSE 'train' END AS split,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tokens
           FROM documents),
         sh8 AS (
           SELECT doc_id, split, unnest(list_distinct(CASE WHEN len(tokens) >= 8
             THEN list_transform(range(1, len(tokens) - 6),
               i -> array_to_string(tokens[i:i+7], ' '))
             ELSE [array_to_string(tokens, ' ')] END)) AS shingle
           FROM toks)
         SELECT DISTINCT t.doc_id
         FROM sh8 t JOIN sh8 tr ON t.shingle = tr.shingle
         WHERE t.split = 'test' AND tr.split = 'train'
         ORDER BY t.doc_id""",
    "curation_keep" ->
      """WITH t AS (
           SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tok
           FROM documents),
         s AS (SELECT doc_id, text, tok,
           len(list_filter(tok, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
           len(list_filter(tok, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS s_de,
           len(list_filter(tok, x -> x IN ('el','la','de','que','y','es','en','un','una','por'))) AS s_es,
           len(list_filter(tok, x -> x IN ('le','la','de','et','est','un','une','que','pour','dans'))) AS s_fr,
           len(list_filter(tok, x -> x IN ('的','是','在','了','我','有','和','不','这','中'))) AS s_zh
           FROM t),
         q AS (
           SELECT doc_id, text FROM s
           WHERE greatest(s_en, s_de, s_es, s_fr, s_zh) > 0
             AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
             AND len(tok) BETWEEN 5 AND 5000
             AND CAST(s_en AS DOUBLE) / len(tok) >= 0.05
             AND 1 - CAST(len(list_distinct(CASE WHEN len(tok) >= 4
               THEN list_transform(range(1, len(tok) - 2),
                 i -> array_to_string(tok[i:i+3], ' '))
               ELSE [array_to_string(tok, ' ')] END)) AS DOUBLE)
               / greatest(len(tok) - 3, 1) <= 0.2)
         SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             ORDER BY doc_id) AS rn
           FROM q)
         WHERE rn = 1 ORDER BY doc_id""",
    // curation_keep's gates applied to the SEGMENT-DEDUPED text: the
    // boilerplate strip (dedup_segments' oracle CTEs, duplicates grouped
    // on lower(seg) to mirror the fingerprint canonicalization) feeds the
    // same language/length/stopword/repetition gates and final exact dedup
    "curation_keep_ccnet" ->
      """WITH t0 AS (
           SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'),
             x -> x <> '') AS tok0
           FROM documents),
         segs AS (
           SELECT doc_id, CAST(start // 8 AS INTEGER) AS pos,
             array_to_string(tok0[start+1 : start+8], ' ') AS seg
           FROM (SELECT doc_id, tok0,
                   unnest(range(0, greatest(len(tok0), 1), 8)) AS start
                 FROM t0)),
         dup AS (
           SELECT lower(seg) AS lseg FROM segs GROUP BY lower(seg)
           HAVING count(DISTINCT doc_id) >= 2),
         kept AS (
           SELECT doc_id, pos, seg FROM segs
           WHERE lower(seg) NOT IN (SELECT lseg FROM dup)),
         agg AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
           FROM kept GROUP BY doc_id),
         t AS (
           SELECT t0.doc_id, coalesce(a.text, '') AS text,
             list_filter(regexp_split_to_array(coalesce(a.text, ''), '\s+'),
               x -> x <> '') AS tok
           FROM t0 LEFT JOIN agg a USING (doc_id)),
         s AS (SELECT doc_id, text, tok,
           len(list_filter(tok, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
           len(list_filter(tok, x -> x IN ('der','die','das','und','ist','nicht','ein','zu','mit','von'))) AS s_de,
           len(list_filter(tok, x -> x IN ('el','la','de','que','y','es','en','un','una','por'))) AS s_es,
           len(list_filter(tok, x -> x IN ('le','la','de','et','est','un','une','que','pour','dans'))) AS s_fr,
           len(list_filter(tok, x -> x IN ('的','是','在','了','我','有','和','不','这','中'))) AS s_zh
           FROM t),
         q AS (
           SELECT doc_id, text FROM s
           WHERE greatest(s_en, s_de, s_es, s_fr, s_zh) > 0
             AND s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh
             AND len(tok) BETWEEN 5 AND 5000
             AND CAST(s_en AS DOUBLE) / len(tok) >= 0.05
             AND 1 - CAST(len(list_distinct(CASE WHEN len(tok) >= 4
               THEN list_transform(range(1, len(tok) - 2),
                 i -> array_to_string(tok[i:i+3], ' '))
               ELSE [array_to_string(tok, ' ')] END)) AS DOUBLE)
               / greatest(len(tok) - 3, 1) <= 0.2)
         SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (
             PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             ORDER BY doc_id) AS rn
           FROM q)
         WHERE rn = 1 ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT count(*) AS n_docs,
           count(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_unique
         FROM documents""",
    "dedup_exact_keep" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
         ORDER BY keep_id""",
  )
}
