package graft.tx

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `ALTER TABLE … RENAME COLUMN` via manifest column mapping (round-10
  * VERDICT item 4): a schema-only commit — zero data files rewrite, time
  * travel across the rename stays correct, reads/writes alias through
  * the map, and OPTIMIZE rewrites files under the logical names and
  * clears it. */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String): String = {
    val t = tmpDir(prefix); new java.io.File(t).delete()
    CommitLog.commit(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "typ", "value").repartitionByRange(2, col("id")), t, "append")
    t
  }

  test("rename is metadata-only; reads alias; time travel keeps the old name") {
    val t = freshTable("ren_base")
    val v2 = CommitLog.renameColumn(t, "value", "amount")
    assert(v2 === 2L)
    val m2 = CommitLog.manifest(t, 2L)
    assert(m2.files === CommitLog.manifest(t, 1L).files) // zero rewrite
    assert(m2.schema.fieldNames.toSeq === Seq("id", "typ", "amount"))
    assert(m2.colMap === Map("amount" -> "value"))
    // snapshot read serves the new name with the old bytes
    val rows = CommitLog.read(spark, t).select("id", "amount")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(rows === Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // v1 still reads under the OLD name
    assert(CommitLog.readAt(spark, t, 1L).columns.toSeq ===
      Seq("id", "typ", "value"))
    assert(CommitLog.readAt(spark, t, 1L).agg(sum("value")).head.getDouble(0)
      === 60.0)
  }

  test("writes after the rename store under the physical name and read back") {
    val t = freshTable("ren_write")
    CommitLog.renameColumn(t, "value", "amount")
    CommitLog.commit(Seq((4L, "d", 40.0)).toDF("id", "typ", "amount"),
      t, "append")
    assert(CommitLog.read(spark, t).agg(sum("amount")).head.getDouble(0) === 100.0)
    // DML binds the new name: UPDATE / DELETE / MERGE paths
    CommitLog.updateDv(spark, t, col("id") === 2L,
      Map("amount" -> lit(99.0)))
    assert(CommitLog.read(spark, t).filter(col("id") === 2L)
      .select("amount").head.getDouble(0) === 99.0)
    CommitLog.deleteDv(spark, t, col("amount") > 90.0)
    assert(CommitLog.read(spark, t).count() === 3L)
    // SQL front door reads/writes through the mapping too
    spark.read.format("graft").load(t).createOrReplaceTempView("ren_write_v")
    assert(spark.sql("SELECT sum(amount) FROM ren_write_v").head.getDouble(0)
      === 80.0)
    spark.sql("INSERT INTO ren_write_v VALUES (5, 'e', 50.0)")
    // the temp view pins its snapshot (by design); a fresh read sees it
    assert(CommitLog.read(spark, t).agg(sum("amount")).head.getDouble(0)
      === 130.0)
  }

  test("SQL ALTER TABLE RENAME COLUMN end-to-end with files_kept") {
    val t = freshTable("ren_sql")
    spark.read.format("graft").load(t).createOrReplaceTempView("ren_sql_v")
    val v = spark.sql(s"ALTER TABLE ren_sql_v RENAME COLUMN value TO amount")
      .collect().head.getLong(0)
    assert(v === 2L)
    assert(CommitLog.manifest(t, 2L).files === CommitLog.manifest(t, 1L).files)
    assert(CommitLog.read(spark, t).columns.toSeq === Seq("id", "typ", "amount"))
  }

  test("OPTIMIZE rewrites under the logical names and clears the map") {
    val t = freshTable("ren_opt")
    CommitLog.renameColumn(t, "value", "amount")
    CommitLog.compact(spark, t)
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    assert(m.colMap.isEmpty)
    assert(m.schema.fieldNames.toSeq === Seq("id", "typ", "amount"))
    // the rewritten files physically carry the new name
    val dir = java.nio.file.Paths.get(t)
    assert(m.files.forall(f =>
      FileStats.fileHasColumn(dir.resolve(f), "amount")))
    assert(CommitLog.read(spark, t).agg(sum("amount")).head.getDouble(0) === 60.0)
    // the fast HadoopFsRelation path resumes (no colMap, no DVs)
    val plan = spark.read.format("graft").load(t).queryExecution.analyzed
    assert(graft.sql.GraftDml.rootOf(plan).contains(t))
  }

  test("refusals: partition column, constraint reference, name collisions, ghost add") {
    val t = tmpDir("ren_refuse"); new java.io.File(t).delete()
    CommitLog.commit(Seq((1L, "a", 10.0)).toDF("id", "typ", "value"),
      t, "append", partitionBy = Seq("typ"))
    val e1 = intercept[Exception] { CommitLog.renameColumn(t, "typ", "kind") }
    assert(e1.getMessage.contains("layout column"), e1.getMessage)
    Constraints.add(spark, t, "pos", "value > 0")
    val e2 = intercept[Exception] { CommitLog.renameColumn(t, "value", "amount") }
    assert(e2.getMessage.contains("constraint"), e2.getMessage)
    Constraints.drop(t, "pos")
    val e3 = intercept[Exception] { CommitLog.renameColumn(t, "value", "ID") }
    assert(e3.getMessage.contains("already has"), e3.getMessage)
    CommitLog.renameColumn(t, "value", "amount")
    // adding a column under the still-occupied PHYSICAL name refuses
    val e4 = intercept[Exception] {
      CommitLog.commit(Seq((2L, "a", 1.0, 2.0)).toDF("id", "typ", "amount", "value"),
        t, "append")
    }
    assert(e4.getMessage.contains("physical name"), e4.getMessage)
    // rename BACK to the physical name drops the mapping entirely
    CommitLog.renameColumn(t, "amount", "value")
    assert(CommitLog.manifest(t, CommitLog.latestVersion(t).get).colMap.isEmpty)
  }

  test("metadata aggregates stay exact across a rename (physical stats keys)") {
    val t = freshTable("ren_meta")
    CommitLog.renameColumn(t, "value", "amount")
    val agg = CommitLog.metaAggregate(t, Seq("amount"))
    assert(agg.isDefined, "metaAggregate must answer on a mapped table")
    assert(agg.get.rowCount === 3L)
    assert(agg.get.cols("amount").min.contains(10.0))
    assert(agg.get.cols("amount").max.contains(30.0))
    assert(agg.get.cols("amount").nonNull === 3L)
    // stats pruning keeps working through the logical name
    val m = CommitLog.manifest(t, CommitLog.latestVersion(t).get)
    val pruned = CommitLog.pruneFiles(t, m,
      Seq(org.apache.spark.sql.sources.GreaterThan("amount", 25.0)))
    assert(pruned.size < m.files.size, s"pruned=${pruned.size} of ${m.files.size}")
  }
}
