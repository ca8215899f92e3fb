package graft.ext

import graft.{Memo, SparkSpec}
import org.apache.spark.storage.StorageLevel

/** The one-entry [[Memo.Frames]] that holds Dedup's band/shingle tables and
  * the un-keyed IVF/PQ builds: a repeated call on a canonically identical
  * plan gets the held, already-materialized frame back with NO re-persist
  * and NO re-count job; a new plan replaces (and unpersists) the old one. */
class MemoFramesSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Seq[Int] = {
    val group = s"lastcache-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "lastcache test")
    try body finally spark.sparkContext.clearJobGroup()
    Thread.sleep(500)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("same-plan swap returns the held frame and runs no job") {
    import spark.implicits._
    val cache = new Memo.Frames
    def make() = (1 to 50).toDF("x").filter("x % 2 = 0")
    val first = cache.persist(make())
    var second: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { second = cache.persist(make()) }
    assert(second eq first, "same canonical plan must return the held cache")
    assert(jobs.isEmpty, s"same-plan swap ran jobs $jobs")
    assert(second.count() == 25L)
    cache.release()
  }

  test("different-plan swap materializes the new frame and releases the old") {
    import spark.implicits._
    val cache = new Memo.Frames
    val a = cache.persist((1 to 10).toDF("x"))
    val b = cache.persist((1 to 20).toDF("x"))
    assert(!(b eq a))
    assert(b.count() == 20L)
    assert(a.storageLevel === StorageLevel.NONE, "the replaced frame is unpersisted")
    assert(cache.evictions === 1L)
    // the old frame recomputes from lineage after release — still correct
    assert(a.count() == 10L)
    cache.release()
  }
}
