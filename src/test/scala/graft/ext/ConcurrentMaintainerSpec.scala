package graft.ext

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier}

import graft.SparkSpec
import graft.tx.CommitLog
import org.apache.spark.sql.functions._

/** Integration race (round-15 VERDICT item 6): TWO LIVE refreshers
  * interleaving over each persisted store. The per-primitive guards —
  * `expectPriorVersion` CAS, DelAppId fencing, txn replay fast-paths,
  * torn-build checks — are each unit-spec'd; this spec races real
  * threads through whole refresh calls and asserts the composed
  * protocol: exactly one fold of each slice lands (the state equals a
  * serially-maintained twin's), the loser's retry folds on top or
  * no-ops, and at no point does SERVING see a false negative.
  *
  * The race starts both threads on a barrier per round to maximize
  * overlap; losers retry on ConcurrentModificationException (the CAS
  * refusal) and on the commit protocol's "concurrent commit claimed"
  * IllegalStateException — exactly the documented operator recovery. */
class ConcurrentMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    graft.SparkSpec.tmpPath("graft_race").toString

  /** Run `f` in two simultaneously-released threads, each retrying the
    * documented-loud conflicts; returns total retry count. Any OTHER
    * exception fails the test. */
  private def race(f: () => Unit): Int = {
    val barrier = new CyclicBarrier(2)
    val done = new CountDownLatch(2)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    (0 until 2).foreach { _ =>
      new Thread(() => {
        try {
          barrier.await()
          var attempts = 0
          var ok = false
          while (!ok && attempts < 16) {
            attempts += 1
            try { f(); ok = true }
            catch {
              case _: java.util.ConcurrentModificationException =>
                retries.incrementAndGet(): Unit
              case e: IllegalStateException
                  if e.getMessage != null &&
                    (e.getMessage.contains("concurrent commit") ||
                      e.getMessage.contains("advanced")) =>
                retries.incrementAndGet(): Unit
            }
          }
          if (!ok) failure.compareAndSet(null,
            new IllegalStateException("refresher never converged")): Unit
        } catch {
          case t: Throwable => failure.compareAndSet(null, t): Unit
        } finally done.countDown()
      }).start()
    }
    done.await()
    if (failure.get() != null) throw failure.get()
    retries.get()
  }

  test("decon store: racing refreshers across 3 arrival rounds — state " +
      "equals the serial twin's, probe never loses a leak") {
    val root = freshRoot()
    val base = s"$root/base"
    val raced = s"$root/raced"
    val serial = s"$root/serial"
    def doc(i: Long, salt: String) =
      (i, s"passage $salt p$i alpha beta gamma delta epsilon zeta eta " +
        s"theta round $salt")
    CommitLog.commit((0L until 6L).map(doc(_, "base")).toDF("doc_id", "text"),
      base, "append")
    DecontaminationStore.build(spark, base, raced, nShards = 4)
    DecontaminationStore.build(spark, base, serial, nShards = 4)
    var totalRetries = 0
    (1 to 3).foreach { r =>
      CommitLog.commit(
        (0L until 4L).map(i => doc(100L * r + i, s"r$r")).toDF("doc_id", "text"),
        base, "append")
      totalRetries += race(() =>
        DecontaminationStore.refresh(spark, base, raced): Unit)
      DecontaminationStore.refresh(spark, base, serial): Unit
      // watermark converged to the base's latest on both
      val latest = CommitLog.latestVersion(base).get
      assert(DecontaminationStore.coveredVersion(raced) === Some(latest))
      // no lost fold, no double fold: per-shard inserted counts equal the
      // serial twin's exactly (the union is deterministic; a dropped or
      // doubled slice moves these numbers)
      def counts(ix: String) = CommitLog.read(spark,
        DecontaminationStore.artifactTable(ix))
        .select("shard", "n_inserted").as[(Int, Long)].collect().sorted.toSeq
      assert(counts(raced) === counts(serial),
        s"round $r: raced store diverged from the serial twin")
      // serving false-negative check at the worst moment — right after
      // the race: every round's planted passage must flag (the probe
      // shares a full 8-token window with each round's docs verbatim)
      val probes = (1 to r).map(rr =>
        (9000L + rr, s"leak of passage r$rr p${100L * rr} alpha beta " +
          "gamma delta epsilon zeta here"))
        .toDF("doc_id", "text")
      val flagged = DecontaminationStore.flaggedDocs(spark, raced, probes)
        .as[Long].collect().toSet
      assert((1 to r).map(9000L + _).toSet.subsetOf(flagged),
        s"round $r: a planted leak stopped flagging — lost update")
    }
    info(s"decon race: $totalRetries CAS retries across 3 rounds")
  }

  test("dedup store: racing refreshers — band table equals the serial " +
      "twin's, serving probe keeps finding the planted duplicate") {
    val root = freshRoot()
    val base = s"$root/base"
    val raced = s"$root/raced"
    val serial = s"$root/serial"
    def doc(i: Long, salt: String) = (i,
      s"document body $salt number $i with enough shared token mass to " +
        s"band consistently across the corpus $salt $i")
    CommitLog.commit((0L until 8L).map(doc(_, "b")).toDF("doc_id", "text"),
      base, "append")
    DedupStore.build(spark, base, raced)
    DedupStore.build(spark, base, serial)
    (1 to 3).foreach { r =>
      // each round: 3 fresh docs + a near-verbatim copy of doc 0
      CommitLog.commit(
        ((0L until 3L).map(i => doc(200L * r + i, s"r$r")) :+
          (200L * r + 50L, doc(0L, "b")._2)).toDF("doc_id", "text"),
        base, "append")
      race(() => DedupStore.refresh(spark, base, raced): Unit): Unit
      DedupStore.refresh(spark, base, serial): Unit
      val latest = CommitLog.latestVersion(base).get
      assert(DedupStore.coveredVersion(raced) === Some(latest))
      def bands(ix: String) = CommitLog.read(spark, s"$ix/bands")
        .select(col("doc_id"), col("band"),
          col("bandkey").cast("string")).as[(Long, Int, String)]
        .collect().toSet
      assert(bands(raced) === bands(serial),
        s"round $r: raced band table diverged from the serial twin")
      // serving: the planted copy of doc 0 must surface as a candidate
      val cands = DedupStore.candidates(spark, raced,
        Seq((9999L, doc(0L, "b")._2)).toDF("doc_id", "text"))
        .select("match_id").as[Long].collect().toSet
      assert(cands.contains(0L),
        s"round $r: planted duplicate lost from the probe — lost update")
    }
  }

  test("ivf store: racing refreshers — every vector assigned exactly " +
      "once, watermark converges, top-k keeps serving the arrivals") {
    val root = freshRoot()
    val base = s"$root/base"
    val raced = s"$root/raced"
    val emb = graft.queries.Tables.embeddings(spark, "/root/testdata/sf0.001")
    CommitLog.commit(emb.filter(col("vec_id") < 400), base, "append")
    IvfStore.build(spark, base, raced, nCells = 8)
    (1 to 3).foreach { r =>
      val lo = 400 + (r - 1) * 30
      val arrivals = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 30)
      CommitLog.commit(arrivals, base, "append")
      race(() => IvfStore.refresh(spark, base, raced): Unit): Unit
      val latest = CommitLog.latestVersion(base).get
      assert(IvfStore.coveredVersion(raced) === Some(latest))
      // exactly-once assignment: one row per base vector, no duplicates
      // (a doubled fold would double-insert the delta's assignments)
      val assigned = CommitLog.read(spark, s"$raced/assigned")
        .select("vec_id").as[Long].collect().toSeq
      assert(assigned.size === assigned.distinct.size,
        s"round $r: duplicate assignments — a slice folded twice")
      assert(assigned.size === CommitLog.read(spark, base).count(),
        s"round $r: missing assignments — a slice was lost")
      // serving: an arrival queried under a FRESH id (topK excludes
      // self-matches by id) must surface itself as its top neighbor
      val q = arrivals.limit(3).withColumn("vec_id", col("vec_id") + 100000L)
      val got = IvfStore.topK(spark, raced, q, k = 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      assert(got.exists(p => p._2 == p._1 - 100000L),
        s"round $r: arrivals invisible to top-k after the race")
    }
  }
}
