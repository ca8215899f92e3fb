package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics checks behind the property-oracle queries (round-2 VERDICT
  * item 5: these queries now emit a verdict the driver hash-checks; the
  * specs pin the underlying behavior the verdicts summarize). */
class QueriesSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("approx_count_distinct query: exact counts right, 5% property holds") {
    val rows = EventQueries.queries("agg_approx_distinct")(spark, sf)
      .as[(String, Long, Boolean)].collect()
    val exact = Tables.events(spark, sf)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(rows.map(_._1).toSet === exact.keySet)
    rows.foreach { case (k, n, ok) =>
      assert(n === exact(k), s"$k exact count")
      assert(ok, s"$k: approx_count_distinct outside 5% of $n")
    }
  }

  test("rolling fingerprint is stable and edit-sensitive; recurrence verifies") {
    import graft.ext.TextStats
    val docs = Tables.documents(spark, sf)
    val fp = docs.select(col("doc_id"), TextStats.rollingFingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    val fp2 = docs.select(col("doc_id"), TextStats.rollingFingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp === fp2)
    assert(fp.values.toSet.size > 1)
    // the query-level property: rolling recurrence == direct window hash
    val (nDocs, nWindows, mismatches) =
      TextQueries.queries("text_rolling_fp")(spark, sf)
        .as[(Long, Long, Long)].collect().head
    assert(nDocs > 0 && nWindows > 0)
    assert(mismatches === 0L)
  }

  test("repetition ratio: planted boilerplate scores high, varied text zero") {
    import graft.ext.{Dedup, TextStats}
    val df = Seq(
      (1L, "a b c d a b c d a b c d"), // 9 windows, 4 distinct → 1 - 4/9
      (2L, "one two three four five six seven"),
      (3L, "xy"), // shorter than a window → ratio 0
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        round(lit(1.0) - size(Dedup.shingles(col("text"), 4)).cast("double")
          / greatest(size(TextStats.tokens(col("text"))) - 3, lit(1)), 6).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === BigDecimal(1.0 - 4.0 / 9.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0)
  }

  test("sample_per_lang caps every language at k and is deterministic") {
    val rows = TextQueries.queries("sample_per_lang")(spark, sf)
      .as[(String, Long)].collect()
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.length <= 20, s"$lang over cap")
      // smallest doc_ids of that language win (ordered by stable id)
      assert(rs.map(_._2).sorted.toSeq === rs.map(_._2).toSeq.sorted)
    }
    val again = TextQueries.queries("sample_per_lang")(spark, sf)
      .as[(String, Long)].collect()
    assert(rows.toSeq === again.toSeq)
  }

  test("mixture operators: budget semantics, pass-through sources, determinism") {
    import graft.ext.TextStats
    val budget = 5000L
    val toks = Tables.documents(spark, sf)
      .select(col("source"), size(TextStats.tokens(col("text"))).as("n"))
    val totals = toks.groupBy("source").agg(sum(col("n")).as("total"), max(col("n")).as("mx"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    // exact greedy: every source selects min-ish(budget) — the boundary doc
    // may overshoot by at most its own length; under-budget sources select
    // everything
    val sel = TextQueries.queries("mixture_select")(spark, sf)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(sel.keySet === totals.keySet)
    sel.foreach { case (src, (_, tokens)) =>
      val (total, mx) = totals(src)
      if (total <= budget) assert(tokens === total, s"$src under-budget must keep all")
      else {
        assert(tokens >= budget, s"$src must reach the budget")
        assert(tokens < budget + mx, s"$src may overshoot only by the boundary doc")
      }
    }

    // hash-rate: rate-1 sources pass through exactly; downsampled sources
    // land near rate*total (hash draws are uniform; allow wide tolerance)
    val res = TextQueries.queries("mixture_resample")(spark, sf)
      .select("source", "rate", "kept_tokens")
      .as[(String, Double, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    res.foreach { case (src, (rate, kept)) =>
      val (total, _) = totals(src)
      if (rate >= 1.0) assert(kept === total, s"$src rate-1 must pass through")
      else assert(math.abs(kept - rate * total) <= 0.5 * total,
        s"$src kept $kept far from ${rate * total}")
    }

    // determinism: a rerun yields the identical frame (no RNG state)
    assert(TextQueries.queries("mixture_resample")(spark, sf).collect().toSeq ===
      TextQueries.queries("mixture_resample")(spark, sf).collect().toSeq)
  }

  test("packSequences output is invariant across prefix-sum widths") {
    // the two-phase prefix sum claims partitioning-independence; prove it
    // (round-5 VERDICT item 2): identical (seq_id, n_docs, n_tokens) rows
    // at width 3, width 8, and a width larger than the row count
    import graft.ext.TextStats
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(TextStats.tokens(col("text"))).as("n"))
      .filter(col("n") > 0)
    val at3 = TextQueries.packSequences(toks, ctx = 512, width = 3)
      .as[(Long, Long, Long)].collect().toSeq
    val at8 = TextQueries.packSequences(toks, ctx = 512, width = 8)
      .as[(Long, Long, Long)].collect().toSeq
    val wide = TextQueries.packSequences(toks, ctx = 512, width = 10000)
      .as[(Long, Long, Long)].collect().toSeq
    assert(at3.nonEmpty)
    assert(at3 === at8)
    assert(at3 === wide)
    // packing conservation: total packed tokens == total corpus tokens
    val total = toks.agg(sum(col("n"))).as[Long].head()
    assert(at3.map(_._3).sum === total)
    // NO sequence exceeds the context: overlapping document placements
    // (the round-15 AQE-coalescing bug: the offsets branch and the placed
    // branch disagreeing on pid) surface as a >ctx sequence
    assert(at3.forall(_._3 <= 512L), s"over-full sequence: ${at3.filter(_._3 > 512L)}")
    // and the seq_id range is CONTIGUOUS from 0 (no gaps — an offset
    // under-shoot leaves holes at the tail)
    assert(at3.map(_._1).sorted === (0L until at3.size.toLong))
  }

  test("decontaminate equals a driver-side string-shingle recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def isTest(id: Long): Boolean = "cdef".contains(md5hex(id.toString).head)
    def sh8(t: String): Set[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.size >= 8) toks.sliding(8).map(_.mkString(" ")).toSeq
       else Seq(toks.mkString(" "))).toSet
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val trainSh = docs.filterNot(d => isTest(d._1)).flatMap(d => sh8(d._2)).toSet
    val expected = docs.filter(d => isTest(d._1))
      .filter(d => sh8(d._2).exists(trainSh.contains)).map(_._1).sorted
    assert(expected.nonEmpty, "fixture data should contain contamination")
    val got = TextQueries.queries("decontaminate")(spark, sf).as[Long].collect().toSeq
    assert(got === expected)
  }

  test("split_leakfree: near-dup groups never straddle; singletons follow the per-doc rule") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def isTest(id: Long): Boolean = "cdef".contains(md5hex(id.toString).head)
    val sf01 = "/root/testdata/sf0.01" // sf0.001 has too few verified pairs to bite
    val rows = DedupQueries.queries("split_leakfree")(spark, sf01)
      .select("doc_id", "split", "group_id")
      .as[(Long, String, Long)].collect()
    val byId = rows.map(r => r._1 -> r._2).toMap
    // recompute the operator's OWN pair set (LSH-candidate-gated, the
    // contract it groups on) — asserting over exhaustive all-pairs Jaccard
    // would demand more than the operator promises and break the moment
    // banding misses a borderline pair on a regenerated fixture
    val docs = Tables.documents(spark, sf01)
    val pairs = graft.ext.Dedup.ngramJaccardPairs(
      docs, col("text"), col("doc_id"),
      candidates = Some(graft.ext.Dedup.minhashCandidates(docs, col("text"), col("doc_id"))))
      .select("a", "b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture has no verified near-dup pairs — vacuous")
    pairs.foreach { case (a, b) =>
      assert(byId(a) === byId(b), s"near-dup pair ($a,$b) straddles the split")
    }
    // the operator has teeth on this fixture: the per-doc rule WOULD have
    // leaked at least one pair across the boundary
    assert(pairs.exists { case (a, b) => isTest(a) != isTest(b) },
      "fixture never exercises the leak path — per-doc rule splits no pair")
    // partition + degenerate contract: docs outside every pair are their
    // own group and follow split_train_test's per-doc rule exactly
    assert(byId.size.toLong === Tables.documents(spark, sf01).count())
    assert(rows.map(_._2).toSet === Set("train", "test"))
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    rows.filterNot(r => paired(r._1)).foreach { case (id, sp, g) =>
      assert(g === id, s"singleton $id grouped as $g")
      assert(sp === (if (isTest(id)) "test" else "train"), s"singleton $id split")
    }
  }

  test("corpus_source_overlap equals a driver-side shingle recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def sh5(t: String): Seq[String] = {
      val toks = t.split("\\s+").filter(_.nonEmpty).toSeq
      (if (toks.size >= 5) toks.sliding(5).map(_.mkString(" ")).toSeq
       else Seq(toks.mkString(" "))).distinct
    }
    // per-source distinct shingle sets and 8-slot minhash signatures
    val docs = Tables.documents(spark, sf)
      .select("source", "text").as[(String, String)].collect()
    val bySrc = docs.groupBy(_._1).view
      .mapValues(_.flatMap(d => sh5(d._2)).toSet).toMap
    def slot(s: Int, shingle: String): String =
      md5hex(s"${s / 4}:$shingle").substring((s % 4) * 8, (s % 4) * 8 + 8)
    val sig = bySrc.view.mapValues(set =>
      (0 until 8).map(i => set.map(sh => slot(i, sh)).min)).toMap
    val got = DedupQueries.queries("corpus_source_overlap")(spark, sf)
      .as[(String, String, Double, Double)].collect()
    val srcs = bySrc.keySet.toSeq.sorted
    assert(got.length === srcs.combinations(2).size, "one row per source pair")
    got.foreach { case (a, b, est, jac) =>
      assert(a < b)
      val (sa, sb) = (bySrc(a), bySrc(b))
      val i = (sa & sb).size
      assert(jac === i.toDouble / (sa.size + sb.size - i), s"($a,$b) jaccard")
      val k = (0 until 8).count(s => sig(a)(s) == sig(b)(s))
      assert(est === k / 8.0, s"($a,$b) est_sim")
    }
    // the estimator has signal on this fixture: at least one overlapping
    // pair gets a non-zero estimate
    assert(got.exists(r => r._4 > 0 && r._3 > 0),
      "no overlapping pair estimated > 0 — estimator (or fixture) is dead")
  }

  test("dsir_select equals a driver-side hashed-LM recompute; selection is top-k") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text").as[(Long, String, String)].collect()
    def buckets(t: String): Seq[Long] =
      t.split("\\s+").filter(_.nonEmpty).toSeq
        .map(tok => java.lang.Long.parseLong(md5hex(tok).substring(0, 4), 16) % 1024L)
    val tgt = docs.filter(_._2 == "en").flatMap(d => buckets(d._3)).toSeq
    val raw = docs.filter(_._2 != "en").flatMap(d => buckets(d._3)).toSeq
    assert(tgt.nonEmpty && raw.nonEmpty, "fixture needs target and raw docs")
    val ct = tgt.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cr = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def lr(b: Long): Double =
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tgt.size + 1024)) -
        math.log((cr.getOrElse(b, 0L) + 1).toDouble / (raw.size + 1024))
    def gumbel(id: Long): Double = {
      val u = (java.lang.Long.parseLong(
        md5hex(s"dsir42:$id").substring(0, 8), 16).toDouble + 0.5) / 4294967296.0
      -math.log(-math.log(u))
    }
    val expScore = docs.filter(_._2 != "en").map { d =>
      d._1 -> (buckets(d._3).map(lr).sum, gumbel(d._1))
    }.toMap
    val got = TextQueries.queries("dsir_select")(spark, sf)
      .select("doc_id", "logw", "score").as[(Long, Double, Double)].collect()
    assert(got.nonEmpty && got.length <= 100)
    assert(got.map(_._3).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
      "rows must be ordered by score desc")
    got.foreach { case (id, lw, sc) =>
      val (elw, g) = expScore(id)
      assert(math.abs(lw - elw) < 1e-5, s"doc $id logw $lw vs recomputed $elw")
      assert(math.abs(sc - (elw + g)) < 1e-5, s"doc $id gumbel score")
    }
    // Gumbel-top-k: every unselected raw doc scores at or below the cut
    val selected = got.map(_._1).toSet
    val minSel = got.map(_._3).min
    expScore.filterNot(kv => selected(kv._1)).foreach { case (id, (elw, g)) =>
      assert(elw + g <= minSel + 1e-5, s"unselected doc $id outranks the cut")
    }
  }

  test("recall property oracle has teeth: a broken ANN flips the verdict") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.topKExact(emb, emb.filter(col("vec_id") < 20), k = 5)
    // a deliberately wrong "approximate" result: neighbor ids shifted into a
    // disjoint range, the shape of a bucketing bug that drops real neighbors
    val broken = exact.withColumn("neighbor_id", col("neighbor_id") + 1000000L)
    val (n, ok) = VectorQueries.recallCheck(exact, broken, VectorQueries.LshMinRecall)
      .as[(Long, Boolean)].collect().head
    assert(n > 0)
    assert(!ok, "recall verdict must fail for a broken approximate result")
    // and the healthy self-comparison passes at recall 1
    val (_, okSelf) = VectorQueries.recallCheck(exact, exact, 0.99)
      .as[(Long, Boolean)].collect().head
    assert(okSelf)
  }

  test("LSH ANN returns ranked rows; query-level recall property holds") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, sf)
    val rows = Similarity.topKLsh(emb, emb.filter(col("vec_id") < 20), k = 5)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length).toSeq)
    }
    val (nExact, recallOk) = VectorQueries.queries("ann_topk_lsh")(spark, sf)
      .as[(Long, Boolean)].collect().head
    assert(nExact > 0)
    assert(recallOk, "LSH recall below floor at sf0.001")
  }

  test("Tables.table memoizes the resolved base read per (session, dir, name)") {
    // catalog-resolution memo (optimization round 17): the SAME lazy frame
    // comes back — no schema re-inference per call — and actions on it
    // still recompute from the files (two counts agree with a fresh read)
    val a = Tables.table(spark, sf, "documents")
    val b = Tables.table(spark, sf, "documents")
    assert(a eq b, "repeated resolution must return the memoized frame")
    val fresh = spark.read.parquet(s"$sf/documents.parquet")
    assert(a.schema === fresh.schema)
    assert(a.count() === fresh.count())
    assert(a.count() === b.count())
    // distinct dirs and names resolve to distinct frames
    assert(!(Tables.table(spark, sf, "events") eq a))
  }

  test("tx_sql_catalog_v2 serves a second session the same rows as the first") {
    // the build registers its v2 catalog in the building session's conf, so
    // a session must never be handed another session's catalog name
    def rows(s: org.apache.spark.sql.SparkSession) =
      TxQueries.queries("tx_sql_catalog_v2")(s, sf).collect().toSeq
    val first = rows(spark)
    assert(first.nonEmpty)
    assert(rows(spark.newSession()) === first)
  }
}
