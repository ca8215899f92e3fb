package graft.tools

import org.apache.spark.sql.functions._
import graft.ext.{IvfIndex, Similarity}
import graft.queries.Tables

/** Measured recall@5 of the approximate ANN paths vs the exact top-k — the
  * evidence behind the recall floors in
  * [[graft.queries.VectorQueries.LshMinRecall]]/[[graft.queries.VectorQueries.IvfMinRecall]].
  * Usage: scripts/run_class.sh graft.tools.RecallProbe [sfDir...] */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.GraftSession.harness("graft-recallprobe", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    dirs.foreach { d =>
      val emb = Tables.embeddings(spark, d)
      val q = emb.filter(col("vec_id") < 20)
      val exact = Similarity.topKExact(emb, q, 5).select("query_id", "neighbor_id")
      def recall(approx: org.apache.spark.sql.DataFrame): Double = {
        val hit = exact.join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        hit.toDouble / exact.count()
      }
      println(f"[$d] lsh recall@5 = ${recall(Similarity.topKLsh(emb, q, 5))}%.3f")
      println(f"[$d] ivf recall@5 = ${recall(IvfIndex.topK(emb, q, 5))}%.3f")
      val deq = emb.select(col("vec_id"),
        Similarity.dequantizeInt8(Similarity.quantizeInt8(col("embedding"))).as("embedding"))
      println(f"[$d] int8 recall@5 = ${recall(
        Similarity.topKExact(deq, deq.filter(col("vec_id") < 20), 5))}%.3f")
      // IVF-PQ composite (residual codes): the query harness's 90%-build /
      // 10%-append / refresh shape, swept over nProbe — the evidence
      // behind IvfPqMinRecall and the monotone-in-nProbe property
      val root = java.nio.file.Files.createTempDirectory("graft_recallprobe")
      try {
        val (base, index) = (s"$root/base", s"$root/index")
        graft.tx.CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) =!= 7), base, "append")
        graft.ext.PqStore.build(spark, base, index, nCells = 16)
        graft.tx.CommitLog.commit(emb.filter(pmod(col("vec_id"), lit(10)) === 7), base, "append")
        graft.ext.PqStore.refresh(spark, base, index)
        val sweep = Seq(1, 2, 4, 8, 16).map { p =>
          f"$p=${recall(graft.ext.PqStore.topK(spark, base, index, q, 5, nProbe = p))}%.3f"
        }
        println(s"[$d] ivfpq recall@5 by nProbe: ${sweep.mkString(" ")}")
      } finally graft.tx.TxIO.io.deleteTree(root)
    }
    spark.stop()
  }
}
