package graft.ext

import graft.{Fixtures, SparkSpec}
import org.apache.spark.sql.functions._

/** Dedup operators over planted near-duplicates (Fixtures.nearDupDocs):
  * exact dedup, latest-revision, MinHash-LSH candidates, Jaccard
  * verification, SimHash. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Fixtures.nearDupDocs.toDF("doc_id", "text").cache()

  test("exact dedup keeps lowest id per canonical text") {
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 3 and 4 are identical modulo case/extra space → 4 dropped
    assert(kept === Seq(1L, 2L, 3L, 5L, 6L, 7L))
  }

  test("latest revision wins per key") {
    val revs = Seq((1L, 1, "old"), (1L, 3, "new"), (2L, 5, "only")).toDF("id", "rev", "v")
    val out = Dedup.latestRevision(revs, col("id"), col("rev"))
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "new", 2L -> "only"))
  }

  test("shingles: w-grams, distinct, whole-text fallback for short docs") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).toSet === Set("a b c", "b c d"))
    assert(sh(2L) === Seq("a b"))
  }

  test("minhash LSH finds planted near-dups, skips unrelated docs") {
    val cand = Dedup.minhashCandidates(docs, col("text"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))   // one-token change
    assert(cand.contains((6L, 7L)))   // two-token change on longer text
    assert(!cand.exists { case (a, b) => a == 5L || b == 5L }) // unrelated
  }

  test("jaccard verification scores candidates exactly") {
    val cand = Seq((1L, 2L), (1L, 5L)).toDF("a", "b")
    val out = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        w = 3, threshold = 0.0, candidates = Some(cand))
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // doc1 has 18 distinct 3-gram shingles; doc2 differs in one token which
    // perturbs 3 shingles → |inter| = 15, union = 21.
    assert(out((1L, 2L)) === 15.0 / 21.0)
    assert(!out.contains((1L, 5L))) // no shared shingles → no pair row
  }

  test("simhash: near-dups at small hamming distance, unrelated far") {
    val sh = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 6)
    assert(hamming(sh(1L), sh(5L)) > 6)
    // deterministic across evaluations
    val again = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh === again)
  }

  test("simhash candidates include identical and near-identical docs") {
    val cand = Dedup.simhashCandidates(docs, col("text"), col("doc_id"), maxHamming = 6)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cand.contains((3L, 4L))) // same tokens after lower? no — case differs
  }

  test("connected components equal a brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(5)
    val edges = (0 until 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(id => id -> find(id)).toMap
    // find() roots are the min id of each component by construction
    val got = Dedup.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
  }

  test("CC rounds use reliable checkpoints when a checkpoint dir is configured") {
    // On a real cluster localCheckpoint dies with any lost executor; with a
    // checkpoint dir set, rounds must persist there instead (round-4 VERDICT
    // item 4) and produce identical labels. localMaxEdges=0 forces the
    // DISTRIBUTED loop — this test is about its rounds, and the size-gated
    // fast path would otherwise solve these graphs driver-side.
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val rnd = new scala.util.Random(7)
      val edges = (0 until 100).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }.toDF("a", "b")
      val viaLocal = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      val starLocal = Dedup.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap
      val ckDir = graft.SparkSpec.tmpPath("graft_ccck")
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      try {
        assert(Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap === viaLocal)
        assert(Dedup.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap === starLocal)
        // the rounds actually wrote reliable checkpoints into the dir
        val walk = java.nio.file.Files.walk(ckDir)
        val wrote = try walk.filter(java.nio.file.Files.isRegularFile(_)).count()
          finally walk.close()
        assert(wrote > 0, "no reliable checkpoint files were written")
      } finally spark.sparkContext.setCheckpointDir(null)
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("the size-gated local union-find fast path matches the distributed " +
      "loop exactly (and huge-cap probing never collects past the cap)") {
    val rnd = new scala.util.Random(23)
    val edges = (0 until 300).map(_ => (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .filter { case (a, b) => a != b }.toDF("a", "b")
    val viaFast = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    val viaDist =
      try Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
      finally spark.conf.unset("spark.graft.cc.localMaxEdges")
    assert(viaFast === viaDist)
    // string ids order too (the fast path supports every orderable key)
    val sEdges = Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("a", "b")
    val got = Dedup.connectedComponents(sEdges)
      .as[(String, String)].collect().toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // a long chain converges through union-find without tripping the
    // distributed loop's round cap — the entry point no longer needs the
    // star fallback for small adversarial chains
    val chain = (0L until 500L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = Dedup.connectedComponents(chain, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(comps.values.toSet === Set(0L))
  }

  test("fuzzy dedup keeps one representative per near-dup cluster") {
    // Fixtures plant near-dup clusters (1/2/6/7 share a base sentence, 3~4
    // differ by case); 5 is unrelated. Properties: the unrelated doc
    // survives, no two kept docs are verified-similar, and each verified
    // pair keeps its smaller endpoint's component representative.
    val kept = Dedup.fuzzyDedupKeep(docs, col("text"), col("doc_id"),
        threshold = 0.4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept.contains(5L), s"unrelated doc must survive: $kept")
    assert(kept.contains(1L), s"min id of the base-sentence cluster survives: $kept")
    assert(!kept.contains(2L), s"near-dup of doc 1 must drop: $kept")
    // dropped docs == exactly the non-representatives of the verified-pair
    // components (the composition is consistent with its stages)
    val verified = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        candidates = Some(Dedup.minhashCandidates(docs, col("text"), col("doc_id"))))
      .select("a", "b").as[(Long, Long)].collect()
    verified.foreach { case (a, b) =>
      assert(!(kept.contains(a) && kept.contains(b)),
        s"verified-similar pair ($a, $b) both kept: $kept") }
    assert((Fixtures.nearDupDocs.map(_._1).toSet -- kept.toSet) ===
      Dedup.connectedComponents(verified.toSeq.toDF("a", "b"))
        .filter(col("id") =!= col("comp")).select("id").as[Long].collect().toSet)
  }

  test("connected components chain transitively (a~b, b~c => one cluster)") {
    val got = Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("label propagation fails loudly instead of returning unconverged labels") {
    // a 30-link chain cannot converge in 3 diameter-bounded rounds — on
    // the DISTRIBUTED loop (the local fast path union-finds it instantly,
    // so force past the gate)
    spark.conf.set("spark.graft.cc.localMaxEdges", "0")
    try {
      val chain = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
      val e = intercept[IllegalStateException] {
        Dedup.connectedComponents(chain, maxIter = 3)
      }
      assert(e.getMessage.contains("did not converge"))
    } finally spark.conf.unset("spark.graft.cc.localMaxEdges")
  }

  test("star CC matches label propagation on random graphs") {
    val rnd = new scala.util.Random(11)
    val edges = (0 until 150).map(_ => (rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
      .filter { case (a, b) => a != b }
    val viaProp = Dedup.connectedComponents(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsStar(edges.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(viaStar === viaProp)
  }

  test("star CC converges on a 10k-node path graph in O(log n) rounds") {
    // diameter 10000: label propagation would need 10000 rounds; star
    // contraction halves path lengths geometrically, so 30 rounds is ample
    // (and maxIter trips if contraction ever stops working).
    val path = spark.range(10000).selectExpr("id AS a", "id + 1 AS b")
    val labels = Dedup.connectedComponentsStar(path, maxIter = 30)
    assert(labels.filter(col("comp") =!= 0L).count() === 0L)
    assert(labels.count() === 10001L)
  }

  test("dropDuplicateSegments strips cross-doc lines, keeps order, counts distinct docs") {
    // the ccnet shape proper: newline-segmented docs sharing a boilerplate
    // footer; doc 4 repeats a line WITHIN itself (counts once toward minDocs)
    val lined = Seq(
      (1L, "alpha one\nshared footer line\nalpha two"),
      (2L, "beta one\nshared footer line"),
      (3L, "gamma only content"),
      (4L, "delta self\ndelta self\ndelta tail")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSegments(lined, split(col("text"), "\n"),
        col("doc_id"), minDocs = 2, sep = "\n")
      .select("doc_id", "text_deduped", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, "alpha one\nalpha two", 2L, 1L),       // footer stripped, order kept
      (2L, "beta one", 1L, 1L),
      (3L, "gamma only content", 1L, 0L),
      (4L, "delta self\ndelta self\ndelta tail", 3L, 0L))) // within-doc repeat survives
  }

  test("dropDuplicateSegments keeps a fully-deduped doc with empty text") {
    val lined = Seq(
      (1L, "only line"),
      (2L, "only line")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSegments(lined, split(col("text"), "\n"),
        col("doc_id"), minDocs = 2)
      .select("doc_id", "text_deduped", "n_kept", "n_dropped")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // both docs survive as rows with empty deduped text — the downstream
    // quality filter decides their fate, not the dedup pass
    assert(out === Seq((1L, "", 0L, 1L), (2L, "", 0L, 1L)))
  }

  test("dropDuplicateSpans cuts a shared passage end-to-end, keeps unique text in order") {
    // Lee et al. ExactSubstr shape: two docs share a verbatim 6-token
    // passage; with w=4 the passage is covered by its own overlapping
    // grams (straddle grams that mix unique + shared tokens appear in one
    // doc only, so they never widen the cut past the passage itself).
    val docs = Seq(
      (1L, "a1 a2 p1 p2 p3 p4 p5 p6 a3"),
      (2L, "b1 p1 p2 p3 p4 p5 p6")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, col("text"), col("doc_id"), w = 4)
      .select("doc_id", "text_clean", "n_kept", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, "a1 a2 a3", 3L, 6L),
      (2L, "b1", 1L, 6L)))
  }

  test("dropDuplicateSpans never matches below the minimum span length") {
    // identical 3-token docs with w=4: no w-gram exists, nothing is cut —
    // w is the paper's minimum-match-length knob, short repeats survive
    val docs = Seq((1L, "x y z"), (2L, "x y z")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, col("text"), col("doc_id"), w = 4)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toSeq
    assert(out.forall(_._2 == 0L))
  }

  test("dropDuplicateSpans counts DISTINCT docs: a within-doc repeat survives") {
    val docs = Seq(
      (1L, "x1 x2 x3 x4 x1 x2 x3 x4"),
      (2L, "totally different tokens here indeed")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, col("text"), col("doc_id"), w = 4)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toSeq
    assert(out.forall(_._2 == 0L))
  }

  test("dropDuplicateSpans: a null-text row survives with zero counts, never -1") {
    // size(null) is -1 with ANSI off — the join-back must coalesce, or a
    // null text reports n_removed = -1 (self-review finding)
    val docs = Seq((1L, null: String), (2L, "some real tokens here"))
      .toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, col("text"), col("doc_id"), w = 4)
      .select("doc_id", "text_clean", "n_kept", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(
      (1L, "", 0L, 0L),
      (2L, "some real tokens here", 4L, 0L)))
  }

  test("dropDuplicateSpans canonicalizes spans (case) and empties a fully-shared doc") {
    val docs = Seq(
      (1L, "One Two Three Four"),
      (2L, "one two three four")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSpans(docs, col("text"), col("doc_id"), w = 4)
      .select("doc_id", "text_clean", "n_kept", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // both rows SURVIVE with empty text — downstream gates decide their fate
    assert(out === Seq((1L, "", 0L, 4L), (2L, "", 0L, 4L)))
  }

  test("dropDuplicateSegments matches fingerprint canonicalization (case/space)") {
    // segments equal after lowercase+whitespace-collapse dedup together,
    // exactly as ccnet hashes normalized lines
    val lined = Seq(
      (1L, "Shared  Line\nkeep a"),
      (2L, "shared line\nkeep b")).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSegments(lined, split(col("text"), "\n"),
        col("doc_id"), minDocs = 2)
      .select("doc_id", "text_deduped").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out === Seq((1L, "keep a"), (2L, "keep b")))
  }
}
