package graft.tx

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** ScalaCheck property for the per-file key-bounds probe pre-shrink
  * (round-6 VERDICT item 8): over random table layouts × random key sets,
  * `pruneFilesByKeys` may keep extra files (bounds are conservative
  * intervals) but must NEVER prune a file that contains a matched key
  * tuple — the same no-false-negative invariant `decontaminate_bloom`
  * pins for its Bloom pre-filter. */
class PruneKeysPropertySpec extends SparkSpec {
  import spark.implicits._

  private val genRow: Gen[(Long, String)] = for {
    id <- Gen.chooseNum(0L, 1500L)
    g <- Gen.oneOf((0 until 8).map(i => s"g$i"))
  } yield (id, g)

  private val genCommit: Gen[(List[(Long, String)], Int, Boolean)] = for {
    n <- Gen.chooseNum(5, 120)
    rows <- Gen.listOfN(n, genRow)
    parts <- Gen.chooseNum(1, 4)
    byRange <- Gen.oneOf(true, false)
  } yield (rows, parts, byRange)

  private case class Trial(
      commits: List[(List[(Long, String)], Int, Boolean)],
      presentIdx: List[Int],
      absent: List[(Long, String)],
      twoKeys: Boolean,
      withNullProbe: Boolean)

  private val genTrial: Gen[Trial] = for {
    k <- Gen.chooseNum(1, 3)
    commits <- Gen.listOfN(k, genCommit)
    nPresent <- Gen.chooseNum(1, 6)
    presentIdx <- Gen.listOfN(nPresent, Gen.chooseNum(0, 1 << 20))
    absent <- Gen.resize(4, Gen.listOf(for {
      id <- Gen.oneOf(Gen.chooseNum(-5000L, -1L), Gen.chooseNum(5000L, 90000L))
      g <- Gen.oneOf("zz", "g0", "yy")
    } yield (id, g)))
    twoKeys <- Gen.oneOf(true, false)
    withNull <- Gen.oneOf(true, false)
  } yield Trial(commits, presentIdx, absent, twoKeys, withNull)

  test("property: pruned file set is a superset of files containing matched keys") {
    val prop = Prop.forAllNoShrink(genTrial) { trial =>
      val t = graft.SparkSpec.tmpPath("graft_prune_prop").resolve("t").toString
      trial.commits.foreach { case (rows, parts, byRange) =>
        val df = rows.toDF("id", "g")
        val laid =
          if (byRange) df.repartitionByRange(parts, col("id"))
          else df.repartition(parts, col("g"))
        CommitLog.commit(laid, t, "append", autoCompactEvery = 0)
      }
      val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
      val allRows = trial.commits.flatMap(_._1).toVector
      val keyCols = if (trial.twoKeys) Seq("id", "g") else Seq("id")
      val probes = trial.presentIdx.map(i => allRows(i % allRows.size)) ++ trial.absent
      val probeDf0 = probes.toDF("id", "g")
        .select(keyCols.map(col): _*)
      val probeDf =
        if (!trial.withNullProbe) probeDf0
        else probeDf0.unionByName(
          // a NULL key tuple matches nothing (SQL IN semantics) and must
          // not disturb the probe
          spark.range(1).select(keyCols.map(k => lit(null).cast(
            probeDf0.schema(k).dataType).as(k)): _*))
      val pruned = CommitLog.pruneFilesByKeys(spark, t, m, keyCols, probeDf).toSet
      val probeTuples = probes.map {
        case (id, g) => if (trial.twoKeys) Seq[Any](id, g) else Seq[Any](id)
      }.toSet
      val violations = m.files.filter { f =>
        val inFile = spark.read.parquet(s"$t/$f")
          .select(keyCols.map(col): _*).collect().map(_.toSeq).toSet
        inFile.exists(probeTuples.contains) && !pruned.contains(f)
      }
      Prop(violations.isEmpty) :| s"pruned matching files: $violations (kept $pruned)"
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(15)
      .withInitialSeed(Seed(20260813L))
      .withWorkers(1)
    val result = SCTest.check(params, prop)
    assert(result.passed, result.toString)
  }
}
