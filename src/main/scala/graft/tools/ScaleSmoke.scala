package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale validation: synthesizes a ~10x copy of the sf0.1 tables under /tmp
  * (key-shifted copies so joins stay consistent and dedup gets genuine
  * duplicate clusters), then times the headline operators — evidence that
  * the plans hold beyond the verification scale, and a head-to-head of the
  * custom TopKPerKey operator against the window formulation.
  *
  *   scripts/run_class.sh graft.tools.ScaleSmoke [copies] [srcSfDir]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 16
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = "/tmp/graft_scale"
    // Warm scratch reuses scaled tables (fast dev iteration) but SKIPS the
    // build-time stanzas of already-built fixtures (CONVERT, index builds),
    // so the PLANS_SCALE.md it writes is incomplete — never commit one.
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out)))
      println(s"[scale] WARNING: $out exists — warm run; PLANS_SCALE.md " +
        "will omit build-time stanzas. Delete the dir for a committable doc.")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Bench's confs WITHOUT the extensions, so not GraftSession.harness: the
    // "window row_number top3" stanza is the un-rewritten baseline for
    // "custom TopKPerKey top3", and the extensions' RewriteRankFilterToTopK
    // would turn it into the operator it is measured against.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.Tables

    def scaled(name: String, keyCols: Seq[String], n: Int): String = {
      val path = s"$out/${name}_x$n"
      if (!new java.io.File(path).exists()) {
        val base = Tables.table(spark, src, name)
        val shift = 100000000L
        val union = (0 until n).map { i =>
          keyCols.foldLeft(base)((df, k) =>
            df.withColumn(k, col(k) + lit(i * shift)))
        }.reduce(_ unionByName _)
        union.repartition(cpus.toInt).write.mode("overwrite").parquet(path)
      }
      path
    }

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }

    // Scale-pivotal plan shapes (round-6 VERDICT item 7): record the
    // post-AQE plans/facts of the queries whose SHAPE must change with
    // scale (broadcast → sort-merge flips, O(touched)-file mutations) to
    // PLANS_SCALE.md; PlanReport embeds it into PLANS.md so a regression —
    // e.g. a broadcast hint sneaking onto a scaling dim — is diffable.
    val planDoc = new StringBuilder
    planDoc.append(s"# PLANS_SCALE — scale-pivotal plan shapes at ${copies}x\n\n")
    planDoc.append(s"Generated by `graft.tools.ScaleSmoke $copies` (source `$src`). The\n")
    planDoc.append("small-sf twin of each stanza lives in the main PLANS.md sections —\n")
    planDoc.append("diff the two when a plan-affecting change lands.\n")
    def finalPlanOf(df: DataFrame): String =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
    def recordPlan(title: String, df: DataFrame): Unit = {
      // facts tree-walked over the final EXECUTED plan (PlanReport's
      // counter — cached subplans count once, never per string rendering)
      val facts = PlanReport.factsOfPlan(df.queryExecution.executedPlan)
      val compact = finalPlanOf(df).linesIterator
        .map(l => if (l.length > 160) l.take(157) + "..." else l)
        .take(40).mkString("\n")
      planDoc.append(
        s"\n## $title (at ${copies}x)\n\n${facts.render}\n\n```\n$compact\n```\n")
    }
    def recordFact(title: String, fact: String): Unit =
      planDoc.append(s"\n## $title (at ${copies}x)\n\n$fact\n")

    val li = scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), copies)
    val ord = scaled("orders", Seq("o_orderkey", "o_custkey"), copies)
    val docs = scaled("documents", Seq("doc_id"), 4) // 4 copies → planted dup clusters
    println(s"[scale] lineitem ${spark.read.parquet(li).count()} rows, " +
      s"orders ${spark.read.parquet(ord).count()}, documents ${spark.read.parquet(docs).count()}")

    val lineitem = spark.read.parquet(li)
    val orders = spark.read.parquet(ord)
    val documents = spark.read.parquet(docs)

    timed("q1-shape scan agg") {
      lineitem.filter(col("l_shipdate") <= lit("2001-01-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")), count(lit(1))).count()
    }
    timed("q3-shape join+agg+topk") {
      lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
        .orderBy(col("rev").desc).limit(10).count()
    }
    timed("window row_number top3") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
    }
    timed("custom TopKPerKey top3") {
      graft.plans.TopK.perKey(orders, Seq("o_custkey"),
        Seq(graft.plans.TopK.Sort("o_totalprice", desc = true),
          graft.plans.TopK.Sort("o_orderkey")), 3).count()
    }
    timed("minhash LSH candidates") {
      graft.ext.Dedup.minhashCandidates(documents, col("text"), col("doc_id")).count()
    }
    timed("exact dedup fingerprint") {
      documents.groupBy(graft.ext.TextStats.fingerprint(col("text"))).count().count()
    }
    timed("candidate-gated jaccard") {
      val cands = graft.ext.Dedup.minhashCandidates(documents, col("text"), col("doc_id"))
      graft.ext.Dedup.ngramJaccardPairs(documents, col("text"), col("doc_id"),
        candidates = Some(cands)).count()
    }
    // corpus_source_overlap's mergeable-signature claim at scale: the
    // per-source union signature shuffles #sources×8 slots regardless of
    // corpus size (map-side partial min), so the estimate side must stay
    // flat-ish while the corpus grows 4×.
    locally {
      val t0 = System.nanoTime()
      val sig = graft.ext.Dedup.minhashSignature(
        documents, col("text"), col("source"), 5, 8)
      val slotMins = (0 until 8).map(i => min(col(s"__mh$i")).as(s"__m$i"))
      val nSrc = sig.groupBy(col("__id").as("source"))
        .agg(slotMins.head, slotMins.tail: _*).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] source-overlap signatures ${secs}%7.2f s  ($nSrc rows)")
      planDoc.append("## corpus_source_overlap mergeable signatures (at 4x docs)\n\n")
      planDoc.append(f"the per-source union MinHash signature over the 4x corpus " +
        f"aggregated to $nSrc sources × 8 slots in $secs%.2f s — one map-side " +
        "partial-min pass; the exchange carries 8 hex slots per source " +
        "regardless of corpus size, so the estimate side never shuffles " +
        "shingles\n\n")
    }
    // dedup_incremental's O(delta) claim: folding the held-out tenth into
    // the persisted band table must cost the DELTA's sign-and-band pass,
    // not a corpus re-shingle — and the incrementally maintained store
    // must still equal the batch recompute exactly.
    locally {
      import graft.tx.CommitLog
      val dsBase = s"$out/dedupstore_x4/base"
      val dsIndex = s"$out/dedupstore_x4/index"
      if (CommitLog.latestVersion(dsBase).isEmpty) {
        val dtab = documents.select("doc_id", "text")
        val t0 = System.nanoTime()
        CommitLog.commit(dtab.filter(pmod(col("doc_id"), lit(10)) =!= 7),
          dsBase, "append")
        graft.ext.DedupStore.build(spark, dsBase, dsIndex)
        val buildSecs = (System.nanoTime() - t0) / 1e9
        val delta = dtab.filter(pmod(col("doc_id"), lit(10)) === 7)
        val nDelta = delta.count()
        CommitLog.commit(delta, dsBase, "append")
        val t1 = System.nanoTime()
        graft.ext.DedupStore.refresh(spark, dsBase, dsIndex)
        val refreshSecs = (System.nanoTime() - t1) / 1e9
        val stored = graft.ext.DedupStore.pairs(spark, dsIndex).count()
        val batch = graft.ext.Dedup
          .minhashCandidates(documents, col("text"), col("doc_id")).count()
        require(stored == batch,
          s"incremental store ($stored pairs) != batch recompute ($batch)")
        println(f"[scale] dedup store refresh ${refreshSecs}%7.2f s  " +
          f"($nDelta docs; build $buildSecs%.2f s)")
        planDoc.append("## dedup_incremental store refresh (at 4x docs)\n\n")
        planDoc.append(f"folding the held-out $nDelta docs into the " +
          f"persisted band table took $refreshSecs%.2f s vs the " +
          f"$buildSecs%.2f s 90%% build — the delta-only sign-and-band " +
          f"path; the refreshed store's candidate set equals the batch " +
          f"recompute exactly ($stored pairs), asserted in-run\n\n")
      }
    }
    // DedupStore at 64x (round-13 VERDICT item 8): the O(delta) refresh
    // claim pinned where it matters — a 1% arrival on a 64x corpus must
    // fold into the persisted band table at DELTA cost, a small fraction
    // of the full re-sign the build paid. Recorded beside the
    // manifest-append and export-refresh stanzas because all three are
    // the same promise about different artifacts: steady-state
    // maintenance cost tracks the CHANGE, never the table.
    locally {
      import graft.tx.CommitLog
      val dsBase = s"$out/dedupstore_x64/base"
      val dsIndex = s"$out/dedupstore_x64/index"
      if (CommitLog.latestVersion(dsBase).isEmpty) {
        // SALT every token per scale copy: the scaled() fixture
        // replicates every document 64-fold across the id space, so
        // without the salt every bandkey truly lives in ~64 files and
        // the bloom probe has nothing to prune — a fixture artifact (a
        // real crawl is mostly unique), not an engine property. The
        // salt must touch EVERY token (a trailing one leaves the
        // min-hash of the mostly-identical shingle set unchanged).
        val docs64 = spark.read.parquet(scaled("documents", Seq("doc_id"), 64))
          .select(col("doc_id"),
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1c"),
                (col("doc_id") / 100000000L).cast("long"))).as("text"))
        val onePct = pmod(col("doc_id"), lit(100)) === 7
        CommitLog.commit(docs64.filter(!onePct), dsBase, "append")
        val nBase = CommitLog.read(spark, dsBase).count()
        val t0 = System.nanoTime()
        graft.ext.DedupStore.build(spark, dsBase, dsIndex)
        val buildSecs = (System.nanoTime() - t0) / 1e9
        val delta = docs64.filter(onePct)
        val nDelta = delta.count()
        CommitLog.commit(delta, dsBase, "append")
        val bandsT = graft.ext.DedupStore.artifactTable(dsIndex)
        val filesBefore = CommitLog
          .manifest(bandsT, CommitLog.latestVersion(bandsT).get).files.toSet
        val t1 = System.nanoTime()
        graft.ext.DedupStore.refresh(spark, dsBase, dsIndex)
        val refreshSecs = (System.nanoTime() - t1) / 1e9
        // the structural O(delta) evidence (stronger than wall clock at
        // this fixture scale, where fixed per-job overhead dominates
        // both sides): how many of the STORED band files did the
        // refresh's keyed merge rewrite? Fresh-id arrivals must land as
        // pure inserts — the range-clustered layout's id bounds prune
        // the probe to zero matched files.
        val filesAfter = CommitLog
          .manifest(bandsT, CommitLog.latestVersion(bandsT).get).files.toSet
        val rewrote = (filesBefore -- filesAfter).size
        println(f"[scale] dedup store 64x refresh ${refreshSecs}%7.2f s  " +
          f"($nDelta docs vs $buildSecs%.2f s build of $nBase; " +
          f"rewrote $rewrote of ${filesBefore.size} stored files)")
        planDoc.append("## dedup store O(delta) refresh (at 64x docs)\n\n")
        planDoc.append(f"1%% arrival ($nDelta docs) folded into the " +
          f"persisted band table in $refreshSecs%.2f s vs the " +
          f"$buildSecs%.2f s full sign-and-band of the $nBase-doc base; " +
          f"only the delta is signed (change-feed slice → one final " +
          f"action per doc) and the keyed (id, band) MERGE rewrote " +
          f"$rewrote of ${filesBefore.size} stored band files — the " +
          "range-clustered-on-id layout's per-file bounds prune a " +
          "fresh-id arrival's probe to zero matched files, so the stored " +
          "corpus is neither re-signed nor rewritten (before round 14 " +
          "the hash-spread layout made every refresh probe scan the " +
          "whole band table — O(corpus) hiding inside the O(delta) " +
          "claim; wall-clock at this fixture scale is dominated by fixed " +
          "per-job overhead on both sides, the file counts are the " +
          "scale-honest signal)\n\n")
        // the SERVING probe against the same 64x store: a small batch's
        // band keys push as an IN predicate and the bandkey bloom
        // sidecars skip stored files — the question layout can never
        // answer (bandkey is a hash; every file's [min,max] spans the
        // hash domain)
        val batch = docs64.filter(col("doc_id") < 10)
          .withColumn("doc_id", col("doc_id") + 70000000000L)
        val t2 = System.nanoTime()
        val nCand = graft.ext.DedupStore
          .candidates(spark, dsIndex, batch).count()
        val probeSecs = (System.nanoTime() - t2) / 1e9
        val storedFiles = CommitLog
          .manifest(bandsT, CommitLog.latestVersion(bandsT).get).files.size
        val k = CommitLog.read(spark, bandsT).select("bandkey")
          .head().getString(0)
        val opened = CommitLog.readPruned(spark, bandsT,
          col("bandkey") === k).inputFiles.length
        println(f"[scale] dedup store 64x probe ${probeSecs}%7.2f s  " +
          f"($nCand candidates; 1-key read opens $opened of $storedFiles files)")
        planDoc.append("## dedup store gated serving probe (at 64x docs)\n\n")
        planDoc.append(f"a 10-doc batch probed the 64x store in " +
          f"$probeSecs%.2f s ($nCand candidates) through the bandkey " +
          f"bloom gate; a single-bandkey read opens $opened of " +
          f"$storedFiles stored band files — per-file blooms answer the " +
          "membership question min/max bounds never can on a hash " +
          "column, so the steady-state \"dedup this batch against the " +
          "corpus\" probe reads O(matching files), not the corpus's " +
          "band table\n\n")
      }
    }
    // DecontaminationStore at 64x (round-14 VERDICT item 8): the dedup
    // store got its O(delta) proof last round; the decon sketch makes the
    // same two claims — refresh folds a 1% train arrival as a delta-only
    // bit-union (never re-sketching the corpus), and the serving probe is
    // a MAP-SIDE codegen'd bloom predicate over the eval batch (no train
    // read, no shuffle before the flagged-id distinct) — so they get the
    // same stanza treatment.
    locally {
      import graft.tx.CommitLog
      val dcBase = s"$out/deconstore_x64/base"
      val dcIndex = s"$out/deconstore_x64/index"
      if (CommitLog.latestVersion(dcBase).isEmpty) {
        // same per-copy token salt as the dedup fixture: unsalted 64x
        // replication would leave the DISTINCT shingle set at 1x and the
        // sketch build unrealistically cheap
        val docs64 = spark.read.parquet(scaled("documents", Seq("doc_id"), 64))
          .select(col("doc_id"),
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1c"),
                (col("doc_id") / 100000000L).cast("long"))).as("text"))
        val onePct = pmod(col("doc_id"), lit(100)) === 7
        CommitLog.commit(docs64.filter(!onePct), dcBase, "append")
        val nBase = CommitLog.read(spark, dcBase).count()
        val t0 = System.nanoTime()
        graft.ext.DecontaminationStore.build(spark, dcBase, dcIndex)
        val buildSecs = (System.nanoTime() - t0) / 1e9
        val delta = docs64.filter(onePct)
        val nDelta = delta.count()
        CommitLog.commit(delta, dcBase, "append")
        val dcTable = graft.ext.DecontaminationStore.artifactTable(dcIndex)
        val filesBefore = CommitLog.manifest(dcTable,
          CommitLog.latestVersion(dcTable).get).files.toSet
        val t1 = System.nanoTime()
        graft.ext.DecontaminationStore.refresh(spark, dcBase, dcIndex)
        val refreshSecs = (System.nanoTime() - t1) / 1e9
        val filesAfter1 = CommitLog.manifest(dcTable,
          CommitLog.latestVersion(dcTable).get).files.toSet
        val rewrote1 = filesAfter1.diff(filesBefore).size
        val sat = graft.ext.DecontaminationStore.saturation(spark, dcIndex)
        val shardRows = CommitLog.read(spark, dcTable)
          .select(col("shard"), length(col("sketch")).as("b")).collect()
          .map(r => r.getInt(0) -> r.getInt(1))
        val nShards = shardRows.length
        val sketchBytes = shardRows.map(_._2.toLong).sum
        println(f"[scale] decon store 64x refresh ${refreshSecs}%7.2f s  " +
          f"($nDelta docs vs $buildSecs%.2f s build of $nBase; " +
          f"saturation $sat%.2f, sketch ${sketchBytes / 1048576} MB in " +
          f"$nShards shards, refresh rewrote $rewrote1 files)")
        planDoc.append("## decon store O(delta) sharded refresh (at 64x docs)\n\n")
        planDoc.append(f"1%% train arrival ($nDelta docs) folded into the " +
          f"persisted sketch in $refreshSecs%.2f s vs the $buildSecs%.2f s " +
          f"full sketch of the $nBase-doc base — only the change-feed " +
          f"slice is shingled, each prefix shard's delta filter allocates " +
          f"one SHARD's bitmap (${sketchBytes / 1048576 / math.max(1, nShards)} MB, " +
          f"never the ${sketchBytes / 1048576} MB total), and the " +
          f"replace-where commit rewrote $rewrote1 of $nShards shard " +
          f"files; steady-state decontamination upkeep tracks the " +
          f"ARRIVAL, never the train corpus. Post-refresh max-shard " +
          f"saturation $sat%.2f. The round-15 monolithic ceiling " +
          "(O(capacity) delta allocation + whole-sketch rewrite + one " +
          "130 MB broadcast) is gone: every cost above is per-shard\n\n")
        // O(touched-shards) proof: a ONE-DOC arrival (a handful of
        // shingles) must rewrite only the shard files its prefix bits
        // route to — the rest of the store carries by reference
        CommitLog.commit(spark.range(1).select(
          lit(91000000000L).as("doc_id"),
          lit("tiny arrival one two three four five six seven eight nine")
            .as("text")), dcBase, "append")
        val t1b = System.nanoTime()
        graft.ext.DecontaminationStore.refresh(spark, dcBase, dcIndex)
        val tinySecs = (System.nanoTime() - t1b) / 1e9
        val filesAfter2 = CommitLog.manifest(dcTable,
          CommitLog.latestVersion(dcTable).get).files.toSet
        val rewrote2 = filesAfter2.diff(filesAfter1).size
        val carried2 = filesAfter2.intersect(filesAfter1).size
        println(f"[scale] decon store 64x tiny refresh ${tinySecs}%7.2f s  " +
          f"(1 doc; rewrote $rewrote2 of $nShards shard files, " +
          f"carried $carried2)")
        planDoc.append("## decon store O(touched-shards) tiny refresh (at 64x docs)\n\n")
        planDoc.append(f"a ONE-doc arrival (2 distinct shingles) refreshed " +
          f"in $tinySecs%.2f s rewriting $rewrote2 of $nShards shard " +
          f"files — $carried2 carried into the new version by reference. " +
          "Refresh write cost is proportional to TOUCHED shards, the " +
          "property the monolithic sketch could never have (every fold " +
          "rewrote the whole bitmap)\n\n")
        // serving probe: an eval batch half drawn from train (leaked) and
        // half fresh — flagging is a map-side bloom predicate over the
        // BATCH's shingles; the train table is never opened
        val batch = docs64.filter(col("doc_id") < 500)
          .withColumn("doc_id", col("doc_id") + 90000000000L)
          .unionByName(spark.range(500L).select(
            (col("id") + 95000000000L).as("doc_id"),
            concat(lit("fresh eval only words zz"), col("id"),
              lit(" qq"), col("id") * 7L).as("text")))
        val t2 = System.nanoTime()
        val nFlag = graft.ext.DecontaminationStore
          .flaggedDocs(spark, dcIndex, batch).count()
        val probeSecs = (System.nanoTime() - t2) / 1e9
        println(f"[scale] decon store 64x probe ${probeSecs}%7.2f s  " +
          f"($nFlag of 1000 flagged)")
        planDoc.append("## decon store map-side sharded probe (at 64x docs)\n\n")
        planDoc.append(f"a 1000-doc eval batch (500 planted train leaks) " +
          f"probed the 64x store in $probeSecs%.2f s flagging $nFlag docs " +
          "— each prefix shard ships as its OWN TorrentBroadcast (no " +
          "monolithic bitmap anywhere; a 130 MB plan LITERAL cost 420 s " +
          "in plan-side hashing/shipping before round 15, and round 16 " +
          "split the broadcast per shard so a refresh re-ships only " +
          "changed shards), the probe routes each shingle to its shard " +
          "via a codegen'd might-contain over the batch's shingles: " +
          "O(batch) work, zero train-table reads, no shuffle before the " +
          "flagged-id distinct\n\n")
      }
    }
    // BPE + pack_sequences at 64x: the training-pipeline flagship — real
    // merge-table tokenization feeding the distributed two-phase prefix
    // sum. The plan fact that must hold at 100 TB: NO single-partition
    // global window (the offset table is one broadcast row per range
    // partition), and tokenization runs ONCE (the narrow projection is
    // persisted through the range sampler).
    locally {
      val docs64 = spark.read.parquet(scaled("documents", Seq("doc_id"), 64))
      val t0 = System.nanoTime()
      val toks = docs64
        .select(col("doc_id"),
          graft.ext.TextStats.bpeTokenCount(col("text")).as("n"))
        .filter(col("n") > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val packed = graft.queries.TextQueries.packSequences(
        toks, ctx = 512, width = cpus.toInt)
      val pinned = packed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nSeq = pinned.count()
      val nToks = pinned.agg(sum(col("n_tokens"))).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      val nDocs = toks.count()
      val planStr = finalPlanOf(packed)
      val singlePartExchanges =
        "Exchange SinglePartition".r.findAllIn(planStr).length
      pinned.unpersist(blocking = false)
      toks.unpersist(blocking = false)
      println(f"[scale] bpe+pack 64x            ${secs}%7.2f s  " +
        f"($nDocs docs -> $nSeq sequences, $nToks tokens; " +
        f"single-partition exchanges: $singlePartExchanges)")
      planDoc.append("## bpe tokenize + pack_sequences (at 64x docs)\n\n")
      planDoc.append(f"merge-table BPE over $nDocs docs fed the two-phase " +
        f"prefix sum and packed $nToks tokens into $nSeq ctx-512 sequences " +
        f"in $secs%.2f s; single-partition exchanges in the final plan: " +
        f"$singlePartExchanges — only the OFFSET table (one row per range " +
        "partition, O(width)) may funnel through one task, never the " +
        "corpus (a plain `sum over (order by doc_id)` would); the corpus " +
        "rides range partitions with per-partition running sums and the " +
        "tokenizer runs ONCE through the persisted narrow projection\n\n")
    }
    // BPE at PRODUCTION vocab size (round-15 VERDICT item 2): the fixture
    // table is 40 merges; a real vocabulary is ~50k. Measure the engine
    // costs that grow with the table — plan construction/optimization
    // (the expression object rides every optimizer equality/hash walk)
    // and the tokenize pass itself — on the literal-embedded path vs the
    // broadcast-handle path (bpeEncodeAuto's routing).
    locally {
      val docs64 = spark.read.parquet(scaled("documents", Seq("doc_id"), 64))
      val merges = graft.functions.TextExpressions.syntheticMerges(50000)
      def run(label: String, pieces: org.apache.spark.sql.Column): (Double, Double, Long) = {
        val tPlan = System.nanoTime()
        val df = docs64.select(col("doc_id"),
          org.apache.spark.sql.functions.size(pieces).as("n"))
        df.queryExecution.executedPlan // force analyze + optimize + plan
        val planSecs = (System.nanoTime() - tPlan) / 1e9
        val tRun = System.nanoTime()
        val total = df.agg(sum(col("n"))).head().getLong(0)
        val runSecs = (System.nanoTime() - tRun) / 1e9
        println(f"[scale] bpe 50k-vocab $label%-9s plan ${planSecs}%6.2f s  " +
          f"run ${runSecs}%7.2f s  ($total pieces)")
        (planSecs, runSecs, total)
      }
      val pre = graft.ext.TextStats.bpeTokens(col("text"))
      val (lp, lr, lt) = run("literal",
        graft.functions.TextExpressions.bpeEncode(pre, merges))
      val (bp, br2, bt) = run("broadcast",
        graft.functions.TextExpressions.bpeEncodeAuto(spark, pre, merges))
      require(lt == bt, s"literal/broadcast piece counts diverged: $lt vs $bt")
      planDoc.append("## bpe at production vocab size — 50k merges (at 64x docs)\n\n")
      planDoc.append(f"the same 64x corpus tokenized under a 50,000-merge " +
        f"synthetic vocabulary: literal-embedded table planned in $lp%.2f s " +
        f"and ran in $lr%.2f s; the broadcast-handle path " +
        f"(bpeEncodeAuto past ${graft.functions.TextExpressions.BpeLiteralMaxMerges} " +
        f"merges) planned in $bp%.2f s and ran in $br2%.2f s — identical " +
        f"$lt piece totals. A ~1 MB merge table is far from the 130 MB " +
        "Bloom-literal pathology, but the broadcast path caps the " +
        "plan-object cost at a handle regardless of future vocab growth " +
        "(the rank map builds once per executor through a soft-ref cache, " +
        "never per task)\n\n")
    }
    // dsir_select's LM-fit claim: ONE conditional aggregation over one
    // token scan yields both 1024-row hashed LMs — cost is the scan.
    locally {
      val t0 = System.nanoTime()
      val nBuckets = documents
        .select(col("lang"), explode(graft.ext.TextStats.tokens(col("text"))).as("tok"))
        .withColumn("b", conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 1024)
        .groupBy("b").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
          sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr")).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale] dsir hashed-LM fit ${secs}%7.2f s  ($nBuckets rows)")
      planDoc.append("## dsir_select hashed-LM fit (at 4x docs)\n\n")
      planDoc.append(f"both DSIR unigram LMs (target + raw pool) fit from ONE " +
        f"conditional aggregation over a single token scan of the 4x corpus " +
        f"in $secs%.2f s → $nBuckets bucket rows — the broadcast side of the " +
        "per-doc weight join is O(dim), never O(corpus)\n\n")
    }
    val events = {
      val p = scaled("events", Seq("event_id", "user_id"), copies)
      graft.queries.Tables.withEts(spark.read.parquet(p))
    }
    timed("as-of join (events self)") {
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ets").as("pts"))
      val clicks = events.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("cu"), col("ets").as("cts"))
        .agg(max(col("event_id")).as("cid"))
      graft.ext.AsOfJoin.asOf(purchases, clicks,
        col("user_id"), col("cu"), col("pts"), col("cts")).count()
    }
    timed("band join (value bins)") {
      import spark.implicits._
      val bins = ((0 until 10).map(i => (i, i * 50.0, (i + 1) * 50.0)) :+ ((99, 0.0, 500.0)))
        .toDF("bin_id", "lo", "hi")
      graft.ext.RangeJoin.pointInInterval(
        events.select("event_id", "value"), bins,
        col("value"), col("lo"), col("hi"), 50.0).count()
    }
    timed("bucketed co-located join") {
      ensureBucketed(spark,
        spark.read.parquet(li).select("l_orderkey", "l_extendedprice"),
        "scale_li_bkt", s"$out/li_bkt", "l_orderkey", 32)
      ensureBucketed(spark,
        spark.read.parquet(ord).select("o_orderkey", "o_orderpriority"),
        "scale_ord_bkt", s"$out/ord_bkt", "o_orderkey", 32)
      spark.table("scale_li_bkt")
        .join(spark.table("scale_ord_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }
    timed("bucketed join (warm tables)") {
      spark.table("scale_li_bkt")
        .join(spark.table("scale_ord_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1))).count()
    }

    // q3 plan-flip audit (round-2 VERDICT item 1): with the broadcast hint
    // gone from customer (a SCALING dim), AQE must flip the o⋈c join to
    // sort-merge once the filtered segment outgrows the broadcast threshold,
    // while small-SF runs keep the broadcast plan. Builds a full sf-layout
    // dir so the audit runs the REAL q3_top_orders entry, not a lookalike.
    val sfdir = s"$out/sfdir_x$copies"
    def intoSfdir(name: String, keyCols: Seq[String], n: Int): Unit = {
      val path = s"$sfdir/$name.parquet"
      if (!new java.io.File(path).exists()) {
        val base = Tables.table(spark, src, name)
        val shift = 100000000L
        val union = (0 until n).map { i =>
          keyCols.foldLeft(base)((df, k) => df.withColumn(k, col(k) + lit(i * shift)))
        }.reduce(_ unionByName _)
        union.repartition(cpus.toInt).write.mode("overwrite").parquet(path)
      }
    }
    intoSfdir("lineitem", Seq("l_orderkey"), copies)
    intoSfdir("orders", Seq("o_orderkey", "o_custkey"), copies)
    intoSfdir("customer", Seq("c_custkey"), copies)
    intoSfdir("nation", Nil, 1)
    intoSfdir("region", Nil, 1)
    // CommitLog at scale: three large appends, snapshot read, compaction.
    // The numbers to watch: append cost is the parquet write + one manifest
    // link (no log replay), snapshot read is file-list-driven (no listing),
    // compact is one clustered rewrite.
    val txTable = s"$out/txlog_x$copies"
    graft.tx.CommitLog.latestVersion(txTable) match {
      case Some(_) => () // already built by a previous run
      case None =>
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
        timed("commitlog 3 appends") {
          (0 until 3).foreach { i =>
            graft.tx.CommitLog.commit(
              ev.filter(pmod(col("event_id"), lit(3)) === i), txTable, "append")
          }
          3
        }
    }
    var scanCount = 0L
    timed("commitlog snapshot read") {
      scanCount = graft.tx.CommitLog.read(spark, txTable).count()
      scanCount
    }
    // Metadata-only aggregates (round 7): COUNT/MIN/MAX from the stats
    // sidecars with no Spark job at all — O(files) driver work; the scan
    // count above is the honest comparison AND the agreement oracle.
    timed("metadata-only count+min/max") {
      val agg = graft.tx.CommitLog.metaAggregate(txTable, Seq("event_id")).get
      require(agg.rowCount == scanCount,
        s"metadata count ${agg.rowCount} != scan count $scanCount")
      println(s"[scale] meta count=${agg.rowCount} id range " +
        s"[${agg.cols("event_id").min.get}, ${agg.cols("event_id").max.get}] — no scan")
      agg.rowCount
    }
    timed("commitlog compact zorder") {
      // Z-order on the mutation key: clustered files get TIGHT event_id
      // ranges in their stats sidecars, which is what lets the skipping
      // and copy-on-write audits below touch O(1) files instead of O(table).
      // 4 MB targets stand in for 128 MB ones at this test volume — the
      // point is MANY clustered files, so skipping has granularity to prove.
      graft.tx.CommitLog.compact(spark, txTable, targetBytes = 4L * 1024 * 1024,
        zorderBy = Seq("event_id"))
    }

    // Delta-encoded manifest append cost (round-11 VERDICT item 1): a
    // small append's metadata write must stay O(delta) while the table's
    // file count grows 64x — the pre-round-12 full-snapshot manifest
    // re-serialized O(total-files) lines from the driver on EVERY commit,
    // which is what a paged hourly ingest at 10^6 files would die on.
    {
      import graft.tx.CommitLog
      val mt = s"$out/tx_manifest_x$copies"
      val perCommit = 32
      val growth = 64
      def commitFileBytes(v: Long): Long =
        java.nio.file.Files.size(java.nio.file.Paths.get(mt)
          .resolve("_graft_log").resolve(f"$v%020d.commit"))
      if (CommitLog.latestVersion(mt).isEmpty) {
        val seed = spark.range(0L, 10000L)
          .selectExpr("id AS event_id", "CAST(id % 97 AS DOUBLE) AS value")
        timed(s"manifest growth ${growth}x build") {
          (1 to growth).foreach(_ => CommitLog.commit(
            seed.repartition(perCommit), mt, "append", autoCompactEvery = 0))
          growth.toLong
        }
      }
      val filesNow = CommitLog.manifest(mt, CommitLog.latestVersion(mt).get).files.size
      val rowsBefore = CommitLog.read(spark, mt).count()
      var appendSecs = 0.0
      var probes = 0
      timed("1-file append at 64x files") {
        // two consecutive versions are never both cadence checkpoints, so
        // the second probe is a delta even when the first lands on one
        def probe(): Long = {
          val t0 = System.nanoTime()
          CommitLog.commit(spark.range(0L, 10L)
            .selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value")
            .coalesce(1), mt, "append", autoCompactEvery = 0)
          appendSecs = (System.nanoTime() - t0) / 1e9
          probes += 1
          CommitLog.latestVersion(mt).get
        }
        var v = probe()
        if (CommitLog.manifest(mt, v).checkpointVersion == v) v = probe()
        v
      }
      val vProbe = CommitLog.latestVersion(mt).get
      val ckpt = CommitLog.manifest(mt, vProbe).checkpointVersion
      // flatness: the early delta (v2, ~32-file snapshot) vs the probe
      // delta (~2000-file snapshot) — both O(their own adds); the nearest
      // checkpoint shows what EVERY pre-round-12 append paid
      recordFact("delta-manifest append metadata cost",
        s"appending 1 file to a $filesNow-file snapshot wrote a " +
          s"${commitFileBytes(vProbe)}-byte delta manifest in " +
          f"$appendSecs%.2f s — flat vs the ${commitFileBytes(2L)}-byte delta " +
          s"at a ${perCommit}-file snapshot (${growth}x fewer files), while " +
          s"the nearest checkpoint v$ckpt (the encoding EVERY pre-round-12 " +
          s"append paid) is ${commitFileBytes(ckpt)} bytes and grows " +
          "linearly with the table")
      require(commitFileBytes(vProbe) < commitFileBytes(ckpt) / 4,
        "delta manifest is not materially smaller than the checkpoint")
      require(CommitLog.read(spark, mt).count() == rowsBefore + probes * 10L,
        "manifest-scale table snapshot wrong")

      // Exported-log incremental refresh (round-12 VERDICT item 8 — the
      // foreign-view twin of the manifest-append stanza above): after a
      // 1-file append onto the same ~2k-file EXPORTED table, re-export
      // must write ONE O(diff) Delta commit, never re-serialize the
      // O(table) full log — this is the cost vacuum's exported-log
      // refresh pays too, so flatness here is what makes that guard
      // viable at 10^6 files.
      {
        import graft.tx.DeltaExport
        val logDir = java.nio.file.Paths.get(mt).resolve("_delta_log")
        def markerDeltaV(): Long =
          new String(java.nio.file.Files.readAllBytes(
            logDir.resolve("_graft_export")), "UTF-8")
            .split("\n").collectFirst {
              case l if l.startsWith("delta_version=") =>
                l.drop("delta_version=".length).trim.toLong
            }.get
        def deltaCommitBytes(dv: Long): Long =
          java.nio.file.Files.size(logDir.resolve(f"$dv%020d.json"))
        DeltaExport.writeDeltaLog(mt, force = true) // fresh full export
        val fullBytes = deltaCommitBytes(markerDeltaV())
        val exportedFiles =
          CommitLog.manifest(mt, CommitLog.latestVersion(mt).get).files.size
        CommitLog.commit(spark.range(0L, 10L)
          .selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS value")
          .coalesce(1), mt, "append", autoCompactEvery = 0)
        var refreshSecs = 0.0
        timed("re-export after 1-file append") {
          val t0 = System.nanoTime()
          DeltaExport.writeDeltaLog(mt)
          refreshSecs = (System.nanoTime() - t0) / 1e9
          1L
        }
        val diffBytes = deltaCommitBytes(markerDeltaV())
        recordFact("exported-log incremental refresh",
          s"re-exporting after a 1-file append onto a $exportedFiles-file " +
            s"exported table appended one $diffBytes-byte Delta commit in " +
            f"$refreshSecs%.2f s — O(diff), vs the $fullBytes-byte full " +
            "log a fresh export writes (and re-writes on every refresh " +
            "without the incremental path)")
        require(diffBytes < fullBytes / 4,
          "incremental export diff is not materially smaller than the full log")
      }
    }

    // Copy-on-write mutations + footer-stats skipping at scale (round 5):
    // against the zorder-compacted table, a point predicate must (a) plan
    // only the files whose [min,max] admit the key and (b) rewrite only
    // those files on delete/merge, carrying the rest by reference — the
    // O(touched), never O(table), contract that makes trickle mutations
    // viable at 100 TB.
    {
      val mv = graft.tx.CommitLog.latestVersion(txTable).get
      val m0 = graft.tx.CommitLog.manifest(txTable, mv)
      val probeId = 100000042L // a real key (copy 1's shift of id 42)
      timed("stats-pruned point read") {
        val kept = graft.tx.CommitLog.pruneFiles(txTable, m0,
          Seq(org.apache.spark.sql.sources.EqualTo("event_id", probeId)))
        println(s"[scale] stats skipping plans ${kept.size} of ${m0.files.size} files")
        recordFact("tx_read_pruned point predicate",
          s"plans ${kept.size} of ${m0.files.size} files for `event_id = $probeId` " +
            "on the zorder-compacted table — must stay O(key locality), " +
            "never O(table)")
        graft.tx.CommitLog.readPruned(spark, txTable,
          col("event_id") === probeId).count()
      }
      timed("delete 1 key (CoW)") {
        val v = graft.tx.CommitLog.delete(spark, txTable, col("event_id") === probeId)
        val m1 = graft.tx.CommitLog.manifest(txTable, v)
        val carried = m0.files.count(m1.files.contains)
        println(s"[scale] delete rewrote ${m0.files.size - carried} of ${m0.files.size} files")
        m1.version
      }
      timed("update 1 key (CoW)") {
        val base = graft.tx.CommitLog.manifest(txTable,
          graft.tx.CommitLog.latestVersion(txTable).get)
        val v = graft.tx.CommitLog.update(spark, txTable,
          col("event_id") === (probeId + 1),
          Map("value" -> (col("value") + 1)))
        val m1 = graft.tx.CommitLog.manifest(txTable, v)
        val carried = base.files.count(m1.files.contains)
        println(s"[scale] update rewrote ${base.files.size - carried} of ${base.files.size} files")
        m1.version
      }
      timed("merge 110-row upsert (CoW)") {
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
        val updates = ev.filter(col("event_id").between(1000L, 1099L))
          .withColumn("value", col("value") * 2)
        val inserts = ev.filter(col("event_id").between(2000L, 2009L))
          .withColumn("event_id", col("event_id") + 900000000L)
        val base = graft.tx.CommitLog.manifest(txTable,
          graft.tx.CommitLog.latestVersion(txTable).get)
        val v = graft.tx.CommitLog.merge(spark, txTable,
          updates.unionByName(inserts), Seq("event_id"))
        val m1 = graft.tx.CommitLog.manifest(txTable, v)
        val carried = base.files.count(m1.files.contains)
        println(s"[scale] merge rewrote ${base.files.size - carried} of ${base.files.size} files")
        recordFact("tx_merge_upsert copy-on-write",
          s"110-row upsert rewrote ${base.files.size - carried} of " +
            s"${base.files.size} files (rest carried by reference) — the " +
            "O(touched files) contract; a regression here means the " +
            "key-bounds probe pre-shrink stopped working")
        m1.version
      }
      // Deletion vectors: a 100-row trickle delete must write O(rows)
      // bytes — the DV parquet — and rewrite ZERO data files, where the
      // copy-on-write path above rewrites whole files for 1 key. The
      // steady-state CDC shape at 100 TB is exactly this trickle.
      timed("deleteDv 100-row trickle (MoR)") {
        val base = graft.tx.CommitLog.manifest(txTable,
          graft.tx.CommitLog.latestVersion(txTable).get)
        val dataBytes = base.files
          .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(txTable).resolve(f))).sum
        val v = graft.tx.CommitLog.deleteDv(spark, txTable,
          col("event_id").between(5000L, 5099L))
        val m1 = graft.tx.CommitLog.manifest(txTable, v)
        val rewrote = base.files.count(f => !m1.files.contains(f))
        import scala.jdk.CollectionConverters._
        val dvBytes = m1.dvDirs.map { d =>
          val dir = java.nio.file.Paths.get(txTable).resolve(d)
          val st = java.nio.file.Files.walk(dir)
          try st.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => java.nio.file.Files.size(p)).sum
          finally st.close()
        }.sum
        println(s"[scale] deleteDv rewrote $rewrote files; DV artifact $dvBytes B " +
          s"vs $dataBytes B table")
        recordFact("tx_delete_dv merge-on-read",
          s"100-row trickle delete rewrote $rewrote of ${base.files.size} " +
            s"files and wrote a $dvBytes-byte deletion vector against a " +
            s"$dataBytes-byte table — O(deleted rows) write cost; the " +
            "copy-on-write path would have rewritten every touched file")
        val n = graft.tx.CommitLog.read(spark, txTable)
          .filter(col("event_id").between(5000L, 5099L)).count()
        require(n == 0L, s"DV rows still visible: $n")
        graft.tx.CommitLog.compact(spark, txTable) // fold for later blocks
        v
      }
    }
    // Timestamp-window skipping at scale (round 6): a time-clustered
    // table — the layout every ingest window produces — must plan
    // O(window) files for an eventtime predicate, the reference's dominant
    // filter shape. The table range-clusters on ets so each file holds a
    // tight time slice; a one-day window over the 30-day corpus should
    // plan ~1/30 of the files.
    val tsTable = s"$out/txtime_x$copies"
    if (graft.tx.CommitLog.latestVersion(tsTable).isEmpty) {
      val ev = graft.queries.Tables.withEts(
        spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies)))
      timed("time-clustered commit") {
        graft.tx.CommitLog.commit(ev.repartitionByRange(64, col("ets")), tsTable, "append")
      }
    }
    {
      val m = graft.tx.CommitLog.manifest(tsTable,
        graft.tx.CommitLog.latestVersion(tsTable).get)
      val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
      val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-16T00:00:00Z"))
      timed("ts-window pruned read (1 day)") {
        val kept = graft.tx.CommitLog.pruneFiles(tsTable, m, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("ets", lo),
          org.apache.spark.sql.sources.LessThan("ets", hi)))
        println(s"[scale] ts-window skipping plans ${kept.size} of ${m.files.size} files")
        recordFact("tx_read_pruned_time one-day window",
          s"plans ${kept.size} of ${m.files.size} files for a one-day window " +
            "over a 30-day time-clustered table — must stay O(window)")
        graft.tx.CommitLog.readPruned(spark, tsTable,
          col("ets") >= lit(lo) && col("ets") < lit(hi)).count()
      }
      // Per-file key-bounds probe pre-shrink (round 6): two DISJOINT key
      // clusters must plan only their own files — a global [min,max]
      // filter would keep everything between them (here: nearly all).
      timed("key-bounds probe (disjoint)") {
        import spark.implicits._
        val mm = graft.tx.CommitLog.manifest(txTable,
          graft.tx.CommitLog.latestVersion(txTable).get)
        // copy 0's id 42 and the LAST copy's shifted twin — genuinely
        // disjoint clusters for every copies >= 2 (the old first key sat
        // in copy 1 and collided with the last copy at copies = 2)
        val srcKeys = Seq(42L, (copies.toLong - 1) * 100000000L + 42L)
          .toDF("event_id")
        val kept = graft.tx.CommitLog.pruneFilesByKeys(
          spark, txTable, mm, Seq("event_id"), srcKeys)
        println(s"[scale] key-bounds probe plans ${kept.size} of ${mm.files.size} files " +
          "(global min/max would keep all)")
        kept.size.toLong
      }
    }
    // Bloom point-lookup index (round 8): an UNCLUSTERED layout — keys
    // written in arrival order, every file's [min,max] spanning the whole
    // domain — is where stats pruning provably keeps everything; the
    // per-file Bloom sidecars must still plan O(1) files for a point
    // lookup and O(|batch|) files for a trickle-merge probe. This is the
    // reference's serving shape (point reads by PK) at lake scale.
    val bloomTable = s"$out/txbloom_x$copies"
    if (graft.tx.CommitLog.latestVersion(bloomTable).isEmpty) {
      graft.tx.BloomIndex.setColumns(bloomTable, Seq("event_id"))
      val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
        .select("event_id", "event_type", "value")
      timed("bloom-indexed commit (round-robin)") {
        graft.tx.CommitLog.commit(ev.repartition(64), bloomTable, "append")
      }
    }
    {
      import spark.implicits._
      val mb = graft.tx.CommitLog.manifest(bloomTable,
        graft.tx.CommitLog.latestVersion(bloomTable).get)
      val sidecarBytes = mb.files.map(graft.tx.CommitLog.commitDirOf).distinct.map { d =>
        val p = java.nio.file.Paths.get(bloomTable).resolve(d)
          .resolve(graft.tx.BloomIndex.SidecarName)
        if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p) else 0L
      }.sum
      timed("bloom point lookup") {
        val statsOnly = graft.tx.CommitLog.pruneFiles(bloomTable, mb, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", 4242L),
          org.apache.spark.sql.sources.LessThanOrEqual("event_id", 4242L)))
        val kept = graft.tx.CommitLog.pruneFiles(bloomTable, mb,
          Seq(org.apache.spark.sql.sources.EqualTo("event_id", 4242L)))
        println(s"[scale] bloom point lookup plans ${kept.size} of " +
          s"${mb.files.size} files (range stats alone keep ${statsOnly.size}); " +
          s"sidecars $sidecarBytes B")
        recordFact("tx_point_lookup_bloom at scale",
          s"point lookup on the round-robin (unclustered) layout plans " +
            s"${kept.size} of ${mb.files.size} files via the per-file Bloom " +
            s"sidecars where min/max stats keep ${statsOnly.size}; sidecar " +
            s"cost $sidecarBytes B for the whole table — the serving-layer " +
            "point-read shape stays O(1) files without any clustering")
        val got = graft.tx.CommitLog.readPruned(spark, bloomTable,
          col("event_id") === 4242L).count()
        require(got >= 1L, s"bloom point lookup lost the row: $got")
        kept.size.toLong
      }
      timed("bloom trickle-merge probe (100 keys)") {
        val srcKeys = (0 until 100).map(i => i.toLong * 997L).toDF("event_id")
        val kept = graft.tx.CommitLog.pruneFilesByKeys(
          spark, bloomTable, mb, Seq("event_id"), srcKeys)
        println(s"[scale] bloom key probe plans ${kept.size} of ${mb.files.size} " +
          "files for a 100-key trickle (bounds alone keep all)")
        recordFact("bloom trickle-merge probe",
          s"100-key upsert probe plans ${kept.size} of ${mb.files.size} files " +
            "on the unclustered layout — key bounds alone keep every file; " +
            "the merge scans only what the blooms cannot clear")
        kept.size.toLong
      }
    }

    // Round-9 features at scale: predicate-scoped OPTIMIZE, conditional
    // merge-on-read MERGE, and DV-exact / timestamp metadata aggregates.
    {
      val lo = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T00:00:00Z"))
      val hi = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-16T00:00:00Z"))
      val window = col("ets") >= lit(lo) && col("ets") < lit(hi)
      // a sparse trickle INSIDE the window (no-op on re-runs — the keys
      // are already dead, which the scoped compact tolerates)
      graft.tx.CommitLog.deleteDv(spark, tsTable,
        window && pmod(col("event_id"), lit(100)) === 17)
      timed("OPTIMIZE WHERE 1-day window") {
        val base = graft.tx.CommitLog.manifest(tsTable,
          graft.tx.CommitLog.latestVersion(tsTable).get)
        val v = graft.tx.CommitLog.compactWhere(spark, tsTable, window)
        val m1 = graft.tx.CommitLog.manifest(tsTable, v)
        val carried = base.files.count(m1.files.contains)
        val rewrote = base.files.size - carried
        println(s"[scale] OPTIMIZE WHERE rewrote $rewrote of ${base.files.size} " +
          s"files (carried $carried by reference); DV dirs ${base.dvDirs.size} → ${m1.dvDirs.size}")
        recordFact("OPTIMIZE WHERE (predicate-scoped compaction)",
          s"re-optimizing a one-day window of the 30-day time-clustered " +
            s"table rewrote $rewrote of ${base.files.size} files and carried " +
            s"$carried by reference, folding the window's DV deaths — " +
            "O(window) maintenance where full OPTIMIZE is O(table), the " +
            "only runnable shape at 100 TB")
        require(rewrote <= math.max(4, base.files.size / 8),
          s"scoped OPTIMIZE must stay O(window): rewrote $rewrote of ${base.files.size}")
        v
      }
      // replaceWhere at scale (round 11): re-materialize ONE day of the
      // 30-day time-clustered table — the idempotent-backfill shape. The
      // stats-sidecar pre-shrink must keep every other day's files moving
      // by reference: O(day + source), never O(table).
      timed("replaceWhere 1-day backfill") {
        val base = graft.tx.CommitLog.manifest(tsTable,
          graft.tx.CommitLog.latestVersion(tsTable).get)
        val day = graft.tx.CommitLog.read(spark, tsTable).filter(window)
        val backfill = day.withColumn("value", col("value") * lit(1.0))
        val v = graft.tx.CommitLog.replaceWhere(spark, tsTable, backfill, window)
        val m1 = graft.tx.CommitLog.manifest(tsTable, v)
        val carried = base.files.count(m1.files.contains)
        val replaced = base.files.size - carried
        println(s"[scale] replaceWhere touched $replaced of ${base.files.size} " +
          s"files (carried $carried by reference)")
        require(replaced <= math.max(4, base.files.size / 8),
          s"replaceWhere must stay O(region): touched $replaced of ${base.files.size}")
        recordFact("replaceWhere (atomic 1-day backfill)",
          s"re-materializing one day of the 30-day time-clustered table " +
            s"replaced $replaced of ${base.files.size} files in ONE version " +
            s"and carried $carried by reference (stats-sidecar pre-shrink) — " +
            "the idempotent-backfill shape costs O(day + source) at 100 TB, " +
            "with the wrong-region guard refusing source rows outside the " +
            "predicate")
        v
      }
      // Conditional MERGE trickle (the CDC-apply shape): route 200
      // matched keys — high-value pairs die, the rest take partial
      // updates — with ZERO file rewrites (deaths are DV positions,
      // post-images append).
      timed("conditional MERGE 200-key trickle (MoR)") {
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
        val srcRows = ev.filter(col("event_id").between(8000L, 8199L))
          .withColumn("value", col("value") * 3)
        val base = graft.tx.CommitLog.manifest(txTable,
          graft.tx.CommitLog.latestVersion(txTable).get)
        val v = graft.tx.CommitLog.mergeConditionalDv(spark, txTable, srcRows,
          Seq("event_id"),
          matched = Seq(
            graft.tx.CommitLog.MatchedClause(Some(col("__src_value") > lit(400)), None),
            graft.tx.CommitLog.MatchedClause(None,
              Some(Map("value" -> col("__src_value"))))))
        val m1 = graft.tx.CommitLog.manifest(txTable, v)
        val rewrote = base.files.count(f => !m1.files.contains(f))
        println(s"[scale] conditional merge rewrote $rewrote of ${base.files.size} " +
          s"files; DV dirs ${base.dvDirs.size} → ${m1.dvDirs.size}")
        recordFact("conditional MERGE (merge-on-read routing)",
          s"200-key conditional merge (DELETE above a value threshold, " +
            s"partial UPDATE otherwise, first-match-wins) rewrote $rewrote of " +
            s"${base.files.size} data files — deaths are DV positions, " +
            "post-images append, probe pre-shrunk by per-file key bounds")
        require(rewrote == 0,
          s"conditional merge must rewrite nothing (MoR): rewrote $rewrote")
        v
      }
      // DV-exact metadata aggregates: with deaths riding from the merge
      // above, COUNT/MIN/MAX still answer from the driver side — footer
      // sums corrected by the capped DV read, death-carrying files
      // re-aggregated live — and must agree with the full scan.
      timed("metadata agg under DVs (exact)") {
        val t0 = System.nanoTime()
        val agg = graft.tx.CommitLog.metaAggregate(txTable, Seq("event_id", "value"))
          .getOrElse(throw new IllegalStateException(
            "DV metadata aggregate must not fall back at this debt level"))
        val metaS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val scan = graft.tx.CommitLog.read(spark, txTable)
          .agg(count(lit(1)), min(col("event_id")), max(col("event_id")),
            min(col("value")), max(col("value")))
          .head()
        val scanS = (System.nanoTime() - t1) / 1e9
        require(agg.rowCount == scan.getLong(0) &&
          agg.cols("event_id").min.get == scan.getLong(1) &&
          agg.cols("event_id").max.get == scan.getLong(2) &&
          agg.cols("value").min.get == scan.getDouble(3) &&
          agg.cols("value").max.get == scan.getDouble(4),
          s"metadata/scan divergence: $agg vs $scan")
        println(f"[scale] DV metadata agg $metaS%.2f s vs scan $scanS%.2f s, exact agreement")
        recordFact("metadata aggregates under deletion vectors",
          f"COUNT/MIN/MAX over (event_id, value) with live DV debt answered " +
            f"in $metaS%.2f s driver-side (capped DV read + live re-aggregation " +
            f"of death-carrying files only) vs $scanS%.2f s for the verifying " +
            "scan — exact agreement asserted in-run")
        agg.rowCount
      }
      // Timestamp bounds from metadata (engine-written INT64 micros): the
      // reference's dominant predicate column answers with no scan.
      timed("metadata ts bounds (no scan)") {
        val agg = graft.tx.CommitLog.metaAggregate(tsTable, Seq("ets"))
          .getOrElse(throw new IllegalStateException(
            "ts metadata bounds must not fall back on a self-written table"))
        val e = agg.cols("ets")
        println(s"[scale] ets bounds [${e.min.get}, ${e.max.get}] " +
          s"over ${agg.rowCount} rows — metadata only")
        recordFact("timestamp metadata bounds",
          s"MIN/MAX(ets) over the ${agg.rowCount}-row time-clustered table " +
            "answered from the stats sidecars (engine-written INT64 micros; " +
            "foreign INT96 footers refuse) — the reference's dominant " +
            "column needs no scan for range planning")
        e.nonNull
      }
      // restore txTable for the later maintenance/medallion blocks
      graft.tx.CommitLog.compact(spark, txTable, targetBytes = 4L * 1024 * 1024,
        zorderBy = Seq("event_id"))
      // CONVERT TO GRAFT at scale: wrapping an existing plain-parquet
      // dataset must be O(files) renames + one footer pass — no data read
      // or rewritten — and leave stats pruning working immediately.
      val convTable = s"$out/txconvert_x$copies"
      if (graft.tx.CommitLog.latestVersion(convTable).isEmpty) {
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
          .select("event_id", "event_type", "value")
        ev.repartitionByRange(32, col("event_id"))
          .write.mode("overwrite").parquet(convTable)
        timed("CONVERT TO GRAFT (in place)") {
          graft.tx.CommitLog.convert(spark, convTable)
        }
        val cm = graft.tx.CommitLog.manifest(convTable,
          graft.tx.CommitLog.latestVersion(convTable).get)
        val kept = graft.tx.CommitLog.pruneFiles(convTable, cm,
          Seq(org.apache.spark.sql.sources.EqualTo("event_id", 4242L)))
        println(s"[scale] converted table: ${cm.files.size} files; point " +
          s"predicate plans ${kept.size} (sidecars built at convert)")
        // validate BEFORE recording: the evidence log must never persist
        // a claim the run's own check then fails
        require(kept.size <= math.max(2, cm.files.size / 8),
          s"convert-built sidecars must prune: ${kept.size} of ${cm.files.size}")
        recordFact("CONVERT TO GRAFT",
          s"wrapped a ${cm.files.size}-file plain-parquet dataset in a " +
            "commit log with file renames + one footer pass (no data " +
            s"read/rewritten); a point predicate immediately plans " +
            s"${kept.size} of ${cm.files.size} files through the " +
            "convert-built stats sidecars — the 100 TB on-ramp costs " +
            "metadata, not a rewrite")
      }
      // Evolved-schema CONVERT at scale (round-10 VERDICT item 7): a
      // plain-parquet directory written by THREE writer generations
      // (each adding a column) must convert with the UNION schema from
      // the same O(files) footer pass — no data scan, no per-generation
      // special-casing — and the youngest column's stats must prune.
      val evoTable = s"$out/txconvevo_x$copies"
      if (graft.tx.CommitLog.latestVersion(evoTable).isEmpty) {
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
        val third = copies.max(3) / 3
        val shift = 100000000L
        def gen(lo: Int, hi: Int) = ev
          .filter(col("event_id") >= lo * shift && col("event_id") < hi.toLong * shift)
        gen(0, third).select("event_id", "event_type")
          .repartitionByRange(10, col("event_id"))
          .write.mode("overwrite").parquet(evoTable)
        gen(third, 2 * third).select("event_id", "event_type", "value")
          .repartitionByRange(10, col("event_id"))
          .write.mode("append").parquet(evoTable)
        gen(2 * third, copies + 1)
          .select(col("event_id"), col("event_type"), col("value"),
            (col("value") * 2).as("score"))
          .repartitionByRange(12, col("event_id"))
          .write.mode("append").parquet(evoTable)
        timed("CONVERT evolved 3-gen dir") {
          graft.tx.CommitLog.convert(spark, evoTable)
        }
        val em = graft.tx.CommitLog.manifest(evoTable,
          graft.tx.CommitLog.latestVersion(evoTable).get)
        require(em.schema.fieldNames.toSet ==
          Set("event_id", "event_type", "value", "score"),
          s"evolved convert must union divergent footers, got ${em.schema.fieldNames.mkString(",")}")
        // stats sidecars prune on the YOUNGEST column: only gen-3 files
        // carry score, and only a range of them can hold the probe value
        val keptEvo = graft.tx.CommitLog.pruneFiles(evoTable, em,
          Seq(org.apache.spark.sql.sources.GreaterThan("score", 1.0e18)))
        // pre-score files carry no score stats entry; conservative keep
        // is allowed for them, but gen-3's bounded files must drop
        require(keptEvo.size < em.files.size,
          s"evolved-column stats must prune: ${keptEvo.size} of ${em.files.size}")
        // pre-column rows read NULL for the evolved columns (no rewrite)
        val nulls = graft.tx.CommitLog.read(spark, evoTable)
          .filter(col("score").isNull).count()
        val total = graft.tx.CommitLog.read(spark, evoTable).count()
        require(nulls > 0 && nulls < total,
          s"additive-evolution NULL backfill: $nulls of $total")
        recordFact("CONVERT evolved 3-gen dir",
          s"a ${em.files.size}-file directory with THREE footer " +
            "generations converted in one O(files) driver pass (schema = " +
            "footer union, no data read); a predicate on the youngest " +
            s"column plans ${keptEvo.size} of ${em.files.size} files, and " +
            s"$nulls of $total rows read NULL for it (pre-column files " +
            "untouched) — schema evolution costs nothing at convert time")
      }
    }

    // Overwrite-diff CDC at scale (round 6): the opt-in snapshot diff is
    // one exceptAll shuffle of both snapshots of the overwritten version —
    // the documented reconstruction cost for subscribers surviving the
    // reference's per-page bronze overwrites.
    timed("overwrite-diff CDC") {
      val t = s"$out/txovw_x$copies"
      if (graft.tx.CommitLog.latestVersion(t).isEmpty) {
        val ev = spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies))
          .select("event_id", "event_type", "value")
        graft.tx.CommitLog.commit(
          ev.filter(pmod(col("event_id"), lit(2)) === 0), t, "append")
        graft.tx.CommitLog.commit(
          ev.filter(pmod(col("event_id"), lit(3)) === 0), t, "overwrite")
      }
      graft.tx.CommitLog.changeFeed(spark, t, 1L, overwriteDiff = true)
        .groupBy(graft.tx.CommitLog.ChangeTypeCol).count().count()
    }

    // Persisted IVF at scale (round 6): build = sampled fit + ONE
    // assignment pass; refresh folds a 1% append through an assign-only
    // delta pass; queries answer from storage with no session state.
    {
      val embPath = scaled("embeddings", Seq("vec_id"), math.max(copies / 16, 1))
      val emb = spark.read.parquet(embPath)
      val ivfBase = s"$out/ivfbase_x$copies"
      val ivfIndex = s"$out/ivfindex_x$copies"
      if (graft.tx.CommitLog.latestVersion(ivfBase).isEmpty) {
        graft.tx.CommitLog.commit(
          emb.filter(pmod(col("vec_id"), lit(100)) =!= 7), ivfBase, "append")
        timed("ivf build (persisted)") {
          graft.ext.IvfStore.build(spark, ivfBase, ivfIndex, nCells = 64)
        }
        graft.tx.CommitLog.commit(
          emb.filter(pmod(col("vec_id"), lit(100)) === 7), ivfBase, "append")
        timed("ivf refresh 1% delta") {
          graft.ext.IvfStore.refresh(spark, ivfBase, ivfIndex)
        }
      }
      timed("ivf topk from storage") {
        graft.ext.IvfStore.topK(spark, ivfIndex,
          emb.filter(col("vec_id") < 20), k = 5).count()
      }
    }

    // Persisted PQ at scale (round 7): build = sampled per-subspace fit +
    // ONE encode pass (a per-row map — no join/exchange); refresh folds a
    // 1% append through an encode-only delta; queries answer from storage
    // and the exact re-rank point-reads the id-clustered base, so the
    // refine fetch plans only the files whose key bounds admit a
    // shortlist id.
    {
      val embPath = scaled("embeddings", Seq("vec_id"), math.max(copies / 16, 1))
      val emb = spark.read.parquet(embPath)
      val pqBase = s"$out/pqbase_x$copies"
      val pqIndex = s"$out/pqindex_x$copies"
      if (graft.tx.CommitLog.latestVersion(pqBase).isEmpty) {
        // id-range-clustered base: the layout a point-lookup serving table
        // would use (tight per-file key bounds)
        graft.tx.CommitLog.commit(
          emb.filter(pmod(col("vec_id"), lit(100)) =!= 7)
            .repartitionByRange(64, col("vec_id")), pqBase, "append")
        timed("pq build (persisted)") {
          graft.ext.PqStore.build(spark, pqBase, pqIndex)
        }
        graft.tx.CommitLog.commit(
          emb.filter(pmod(col("vec_id"), lit(100)) === 7), pqBase, "append")
        timed("pq refresh 1% delta") {
          graft.ext.PqStore.refresh(spark, pqBase, pqIndex)
        }
      }
      timed("pq topk from storage (ADC + point-read re-rank)") {
        graft.ext.PqStore.topK(spark, pqBase, pqIndex,
          emb.filter(col("vec_id") < 20), k = 5).count()
      }
      // the refine fetch's skipping, visible: a shortlist-shaped id set
      // against the base's per-file key bounds
      locally {
        import spark.implicits._
        val mm = graft.tx.CommitLog.manifest(pqBase,
          graft.tx.CommitLog.latestVersion(pqBase).get)
        val srcKeys = (0L until 40L).toDF("vec_id")
        val kept = graft.tx.CommitLog.pruneFilesByKeys(
          spark, pqBase, mm, Seq("vec_id"), srcKeys)
        println(s"[scale] pq refine point-read plans ${kept.size} of ${mm.files.size} files")
      }
      // IVF-PQ composite (round 7): the gated scan's cell-clustered codes
      // let footer stats SKIP unprobed cells' files — the compressed scan
      // reads ~nProbe/nCells of the codes table, not all of it
      val gIndex = s"$out/pqgated_x$copies"
      if (graft.tx.CommitLog.latestVersion(s"$gIndex/codes").isEmpty) {
        timed("ivfpq build (gated, 64 cells)") {
          graft.ext.PqStore.build(spark, pqBase, gIndex, nCells = 64)
        }
      }
      timed("ivfpq topk (8 of 64 cells)") {
        graft.ext.PqStore.topK(spark, pqBase, gIndex,
          emb.filter(col("vec_id") < 20), k = 5, nProbe = 8).count()
      }
      locally {
        val mm = graft.tx.CommitLog.manifest(s"$gIndex/codes",
          graft.tx.CommitLog.latestVersion(s"$gIndex/codes").get)
        val kept = graft.tx.CommitLog.pruneFiles(s"$gIndex/codes", mm,
          Seq(org.apache.spark.sql.sources.In("cell", (0 until 8).map(Int.box).toArray)))
        println(s"[scale] ivfpq cell gate plans ${kept.size} of ${mm.files.size} code files for 8 of 64 cells")
      }
    }

    // Maintenance cycle at scale (round 6): heal + threshold compact +
    // vacuum + sweep + audit over the mutated txlog table — the hourly
    // cron's cost envelope.
    timed("maintenance full cycle") {
      val r = Maintenance.run(spark, txTable, Maintenance.Policy(
        compactWhenDirsExceed = 4, zorderBy = Seq("event_id"),
        minAgeMillis = 0, force = true))
      println(s"[scale] maintenance: compacted=${r.compactedTo.isDefined} " +
        s"vacuumed=${r.vacuumedFiles} cleaned=${r.cleanedLeftovers} healthy=${r.healthy}")
      r.vacuumedFiles
    }

    // Many-append plan-width audit (round-3 VERDICT item 4): 100 small
    // appends under the auto-compaction policy must leave a snapshot whose
    // read plan unions a BOUNDED number of scans, and the read must stay
    // flat-cost — the behavior a 10k-append table relies on at 100 TB.
    val manyTable = s"$out/txmany"
    if (graft.tx.CommitLog.latestVersion(manyTable).isEmpty) {
      import spark.implicits._
      timed("commitlog 100 appends") {
        (1 to 100).foreach(i =>
          graft.tx.CommitLog.commit(Seq((i.toLong, s"row$i")).toDF("id", "tag"),
            manyTable, "append"))
        100
      }
    }
    timed("snapshot read after 100 appends") {
      val snap = graft.tx.CommitLog.read(spark, manyTable)
      val m = graft.tx.CommitLog.manifest(manyTable,
        graft.tx.CommitLog.latestVersion(manyTable).get)
      val dirs = m.files.map(graft.tx.CommitLog.commitDirOf).distinct.size
      println(s"[scale] 100-append snapshot spans $dirs commit dirs " +
        s"(policy cap ${graft.tx.CommitLog.AutoCompactEvery})")
      snap.count()
    }

    // Streaming medallion at scale (round-4 VERDICT item 8): the full
    // landing → exactly-once transactional bronze → graft stream of the
    // committed inserts → streaming silver chain over the scaled events
    // table, with the same stream-equals-batch assertion the oracle query
    // enforces at sf0.01/0.1. Numbers to watch: end-to-end drain time
    // (the bronze stage commits one version per micro-batch) and the
    // commit-log plan width the chain leaves behind.
    timed(s"stream medallion ${copies}x") {
      import org.apache.spark.sql.streaming.Trigger
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmTree)
        f.delete(): Unit
      }
      val root = s"$out/medallion_x$copies"
      rmTree(new java.io.File(root))
      val ev = graft.queries.Tables.withEts(
        spark.read.parquet(scaled("events", Seq("event_id", "user_id"), copies)))
        .select(col("event_id"), col("event_type"), col("value"),
          year(col("ets")).as("year"), month(col("ets")).as("month"))
      val landing = s"$root/landing"
      ev.repartition(64).write.parquet(landing) // 64 files → 8 micro-batches
      val table = s"$root/bronze"
      val in = graft.streaming.StreamingJobs.commitLogSink(
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", "8")
          .parquet(landing),
        table, s"$root/ck_bronze", appId = "scale-medallion")
        .start()
      in.awaitTermination(1200000)
      val silverName = s"scale_med_x$copies"
      val silver = spark.readStream.format("graft")
        .option("startingVersion", "earliest").load(table)
        .filter(col(graft.tx.CommitLog.ChangeTypeCol) === "insert")
        .drop(graft.tx.CommitLog.ChangeTypeCol, graft.tx.CommitLog.CommitVersionCol)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,2)")).as("sv"))
        .writeStream.format("memory").queryName(silverName)
        .outputMode("complete")
        .option("checkpointLocation", s"$root/ck_silver")
        .trigger(Trigger.AvailableNow()).start()
      silver.awaitTermination(1200000)
      val streamed = spark.table(silverName).collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
      val batch = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,2)")).as("sv"))
        .collect().map(r => (r.getString(0), (r.getLong(1), r.getDecimal(2)))).toMap
      require(streamed == batch,
        s"streamed silver diverged from batch recompute: $streamed vs $batch")
      val m = graft.tx.CommitLog.manifest(table,
        graft.tx.CommitLog.latestVersion(table).get)
      val dirs = m.files.map(graft.tx.CommitLog.commitDirOf).distinct.size
      println(s"[scale] medallion bronze: ${graft.tx.CommitLog.versions(table).size} versions, " +
        s"snapshot spans $dirs commit dirs; stream == batch over ${streamed.size} event types")
      streamed.values.map(_._1).sum
    }

    timed(s"q3 REAL query at ${copies}x") {
      val q3 = graft.queries.StarQueries.queries("q3_top_orders")(spark, sfdir)
      val n = q3.count()
      val plan = finalPlanOf(q3)
      println(s"[scale] q3 ${copies}x plan: SortMergeJoin=${plan.contains("SortMergeJoin")} " +
        s"BroadcastHashJoin=${plan.contains("BroadcastHashJoin")}")
      recordPlan("q3_top_orders", q3)
      n
    }
    timed(s"q5 REAL query at ${copies}x") {
      intoSfdir("supplier", Seq("s_suppkey"), copies)
      val q5 = graft.queries.StarQueries.queries("q5_nation_revenue")(spark, sfdir)
      val n = q5.count()
      val plan = finalPlanOf(q5)
      println(s"[scale] q5 ${copies}x plan: SortMergeJoin=${plan.contains("SortMergeJoin")} " +
        s"BroadcastHashJoin=${plan.contains("BroadcastHashJoin")}")
      recordPlan("q5_nation_revenue", q5)
      n
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS_SCALE.md"), planDoc.toString)
    println(s"[scale] wrote PLANS_SCALE.md at ${copies}x")
    spark.stop()
  }

  /** Bucketed tables are session-catalog entries; write and register one
    * only if the name is absent. */
  private[graft] def ensureBucketed(spark: SparkSession, df: => DataFrame,
      name: String, path: String, bucketCol: String, numBuckets: Int): DataFrame = {
    if (!spark.catalog.tableExists(name))
      graft.cluster.Bucketing.writeBucketed(df, name, path, bucketCol, numBuckets)
    spark.table(name)
  }
}
