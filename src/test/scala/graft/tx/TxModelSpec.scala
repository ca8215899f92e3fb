package graft.tx

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Model-based random-interleaving check for the transactional surface:
  * seeded sequences of appends, merge-on-read deletes/updates, star
  * merges, truncates, compactions, restores, and predicate-scoped
  * replaceWhere overwrites run against BOTH the
  * commit log and a plain-Scala `Map[Long, Double]` state machine; after
  * every op the snapshot must equal the model exactly, and restore
  * targets are checked against the recorded per-version model history.
  * This is where cross-op interactions live (a DV riding into a
  * compact, a restore over a truncate, a merge right after a restore) —
  * the single-op specs can't see them. fsck must end clean. A second pass
  * replays the same walk with every row mutation routed through its
  * copy-on-write twin. */
object TxModelSpec {
  case class R(id: Long, value: Double)
}

class TxModelSpec extends SparkSpec {
  import spark.implicits._
  import TxModelSpec.R

  test("30 random ops x 3 seeds: snapshot == model after every op; fsck clean") {
    walk(cow = false)
  }

  test("copy-on-write twins: 30 random ops x 3 seeds: snapshot == model after every op") {
    walk(cow = true)
  }

  /** The seeded walk; `cow` routes deleteDv/updateDv/mergeDv through
    * delete/update/merge and the one-key delete through deleteKeys. */
  private def walk(cow: Boolean): Unit = {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed * 104729)
      val t = tmpDir(s"txmodel_$seed"); new java.io.File(t).delete()
      var model = Map.empty[Long, Double]
      var nextId = 0L
      // model state BY VERSION, for restore targets
      var history = Map.empty[Long, Map[Long, Double]]

      // values span [0, 999.75] so BOTH mutation bands genuinely fire:
      // deletes cut below 250, updates hit above 750 (a narrower range
      // left the update arm provably vacuous — round-9 review finding)
      def rows(n: Int): Seq[R] = (0 until n).map { _ =>
        nextId += 1
        R(nextId, math.floor(rnd.nextDouble() * 4000) / 4.0)
      }
      def df(rs: Seq[R]) = rs.toDF("id", "value")
      def snap(): Map[Long, Double] = {
        val rows = CommitLog.read(spark, t).as[R].collect()
        // the Map collapse would MASK a duplicate-key bug (two rows for
        // one id) — pin the raw row count too (round-9 review finding)
        assert(rows.length === rows.map(_.id).distinct.length,
          s"duplicate ids in snapshot: ${rows.groupBy(_.id).filter(_._2.length > 1).keys.take(5)}")
        rows.map(r => r.id -> r.value).toMap
      }
      def record(): Unit = {
        history += CommitLog.latestVersion(t).get -> model
      }

      // seed commit
      val first = rows(40)
      CommitLog.commit(df(first).repartition(3), t, "append")
      model = first.map(r => r.id -> r.value).toMap
      record()

      (1 to 30).foreach { step =>
        rnd.nextInt(9) match {
          case 0 => // append
            val rs = rows(5 + rnd.nextInt(10))
            CommitLog.commit(df(rs), t, "append")
            model ++= rs.map(r => r.id -> r.value)
          case 1 => // merge-on-read delete by predicate
            val cut = rnd.nextInt(250).toDouble
            if (cow) CommitLog.delete(spark, t, col("value") < cut)
            else CommitLog.deleteDv(spark, t, col("value") < cut)
            model = model.filter { case (_, v) => !(v < cut) }
          case 2 => // merge-on-read update by predicate
            val cut = 750.0 + rnd.nextInt(250)
            val set = Map("value" -> (col("value") - 500.0))
            if (cow) CommitLog.update(spark, t, col("value") > cut, set)
            else CommitLog.updateDv(spark, t, col("value") > cut, set)
            model = model.map { case (k, v) =>
              k -> (if (v > cut) v - 500.0 else v) }
          case 3 => // star merge: update half the source keys, insert half
            val existing = rnd.shuffle(model.keys.toList).take(5)
            val fresh = rows(5)
            val src = existing.map(k => R(k, math.floor(rnd.nextDouble() * 1000) / 4.0)) ++ fresh
            if (src.nonEmpty) {
              if (cow) CommitLog.merge(spark, t, df(src), Seq("id"))
              else CommitLog.mergeDv(spark, t, df(src), Seq("id"))
              model ++= src.map(r => r.id -> r.value)
            }
          case 4 => // truncate (rare): empty snapshot, history intact
            if (rnd.nextInt(4) == 0) {
              CommitLog.truncate(spark, t)
              model = Map.empty
            }
          case 5 => // compact: state unchanged, DVs fold
            CommitLog.compact(spark, t, targetBytes = 1L * 1024 * 1024)
          case 6 => // restore to a random recorded version
            val versions = history.keys.toSeq.sorted
            val target = versions(rnd.nextInt(versions.size))
            CommitLog.restore(spark, t, target)
            model = history(target)
          case 7 => // copy-on-write delete of one key
            model.keys.toSeq.sorted.headOption.foreach { k =>
              if (cow) CommitLog.deleteKeys(spark, t, Seq(k).toDF("id"), Seq("id"))
              else CommitLog.delete(spark, t, col("id") === k)
              model -= k
            }
          case 8 => // replaceWhere: swap a value band atomically — every
            // replacement row lands INSIDE the band (the wrong-region
            // guard would refuse anything else)
            val lo = rnd.nextInt(875).toDouble
            val repl = (0 until 3 + rnd.nextInt(5)).map { _ =>
              nextId += 1
              R(nextId, lo + math.floor(rnd.nextDouble() * 499) / 4.0)
            }
            CommitLog.replaceWhere(spark, t, df(repl),
              col("value") >= lo && col("value") < lo + 125.0)
            model = model.filter { case (_, v) => !(v >= lo && v < lo + 125.0) } ++
              repl.map(r => r.id -> r.value)
        }
        record()
        val got = snap()
        assert(got === model,
          s"seed $seed step $step diverged: engine has ${got.size} rows, " +
            s"model ${model.size}; diff=${(got.toSet diff model.toSet).take(5)} / " +
            s"${(model.toSet diff got.toSet).take(5)}")
      }
      val f = CommitLog.fsck(t)
      assert(f.clean, s"seed $seed: $f")
      // 31 versions cross the delta-manifest checkpoint boundary (v17);
      // vacuum cuts the chain mid-delta, promoting the oldest survivor to
      // a checkpoint in place — the snapshot must be byte-identical after,
      // whatever random op mix produced the boundary version
      CommitLog.vacuum(t, keepVersions = 3, minAgeMillis = 0, force = true,
        dropLaggingReaders = true)
      assert(CommitLog.versions(t).size === 3)
      assert(snap() === model, s"seed $seed: snapshot diverged after vacuum")
      assert(CommitLog.fsck(t).clean, s"seed $seed post-vacuum: ${CommitLog.fsck(t)}")
    }
  }
}
