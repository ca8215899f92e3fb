package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product-quantization ANN: code shape, determinism, compression, and
  * recall against the exact cosine twin. */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def emb = graft.queries.Tables.embeddings(spark, sf)

  test("codes are m ints in [0, nCodes); encode is deterministic") {
    val books = PqIndex.fit(emb, m = 8, nCodes = 64)
    assert(books.m === 8 && books.subDim === 8)
    assert(books.centers.length === 8)
    assert(books.centers.forall(_.forall(_.length === 8)))
    val codes = PqIndex.encode(emb, books).collect()
    assert(codes.length === emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length === 8)
      assert(cs.forall(c => c >= 0 && c < 64))
    }
    // refit + re-encode reproduces the codes bit-for-bit (seeded fit,
    // deterministic sample) — the oracle gate depends on this
    val books2 = PqIndex.fit(emb, m = 8, nCodes = 64)
    val codes2 = PqIndex.encode(emb, books2).collect()
    assert(codes.map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq
      === codes2.map(r => (r.getLong(0), r.getSeq[Int](1))).sortBy(_._1).toSeq)
  }

  test("ADC top-k clears the recall floor vs the exact cosine twin") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.topKExact(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = PqIndex.topK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    info(s"PQ recall@5 on sf0.001: $recall")
    assert(recall >= graft.queries.VectorQueries.PqMinRecall, s"recall $recall")
    // ADC distances are monotone with cosine on the normalized vectors:
    // rank-1 neighbors must be genuinely near
    val top1 = PqIndex.topK(emb, queries, k = 1)
    assert(top1.count() === 20)
    // the unkeyed path pins a persisted codes frame in the shared session
    graft.Memo.releaseAll()
  }
}
