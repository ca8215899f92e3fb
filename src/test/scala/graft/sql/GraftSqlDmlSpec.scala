package graft.sql

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.tx.CommitLog

/** SQL DML over commit-log tables ([[GraftDmlRule]]): INSERT / DELETE /
  * UPDATE / MERGE issued through `spark.sql` against a temp view over the
  * graft source execute as CommitLog transactions — and, critically, an
  * INSERT never falls through to Spark's raw
  * `InsertIntoHadoopFsRelationCommand` (which would write files behind the
  * commit log). */
class GraftSqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, partitionBy: Seq[String] = Nil): String = {
    val table = tmpDir(prefix)
    new java.io.File(table).delete() // commit wants to create the layout itself
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0)
    ).toDF("id", "typ", "value")
    CommitLog.commit(df.repartition(3), table, "append", partitionBy)
    table
  }

  private def view(table: String, name: String): String = {
    spark.read.format("graft").load(table).createOrReplaceTempView(name)
    name
  }

  private def rows(table: String): Seq[(Long, String, Double)] =
    CommitLog.read(spark, table).select("id", "typ", "value")
      .as[(Long, String, Double)].collect().toSeq.sortBy(_._1)

  test("DELETE FROM a graft view runs merge-on-read and returns the version") {
    val t = freshTable("sqldml_del")
    val v = view(t, "sqldml_del_v")
    val out = spark.sql(s"DELETE FROM $v WHERE typ = 'b'").collect()
    assert(out === Array(Row(2L)))
    assert(rows(t).map(_._1) === Seq(1L, 2L, 5L, 6L))
    // default path is deletion vectors: no data file rewritten
    val m1 = CommitLog.manifest(t, 1L)
    val m2 = CommitLog.manifest(t, 2L)
    assert(m2.files.toSet === m1.files.toSet)
    assert(m2.dvDirs.nonEmpty)
  }

  test("DELETE honors spark.graft.dml.deletionVectors=false (copy-on-write)") {
    val t = freshTable("sqldml_cow")
    val v = view(t, "sqldml_cow_v")
    spark.conf.set("spark.graft.dml.deletionVectors", "false")
    try {
      spark.sql(s"DELETE FROM $v WHERE typ = 'b'")
      val m2 = CommitLog.manifest(t, 2L)
      assert(m2.dvDirs.isEmpty)
      assert(rows(t).map(_._1) === Seq(1L, 2L, 5L, 6L))
    } finally spark.conf.unset("spark.graft.dml.deletionVectors")
  }

  test("UPDATE SET with WHERE routes through updateDv") {
    val t = freshTable("sqldml_upd")
    val v = view(t, "sqldml_upd_v")
    spark.sql(s"UPDATE $v SET value = value + 0.5 WHERE typ = 'a'")
    assert(rows(t) === Seq((1L, "a", 10.5), (2L, "a", 20.5), (3L, "b", 30.0),
      (4L, "b", 40.0), (5L, "c", 50.0), (6L, "c", 60.0)))
  }

  test("MERGE INTO upserts by key (UPDATE SET * / INSERT *)") {
    val t = freshTable("sqldml_mrg")
    val v = view(t, "sqldml_mrg_v")
    Seq((2L, "a", 999.0), (7L, "d", 70.0)).toDF("id", "typ", "value")
      .createOrReplaceTempView("sqldml_mrg_src")
    spark.sql(
      s"""MERGE INTO $v t USING sqldml_mrg_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""")
    val got = rows(t)
    assert(got.find(_._1 == 2L).get === ((2L, "a", 999.0)))
    assert(got.find(_._1 == 7L).get === ((7L, "d", 70.0)))
    assert(got.size === 7)
  }

  test("MERGE INTO ... WHEN MATCHED THEN DELETE is the key-set delete") {
    val t = freshTable("sqldml_mrgdel")
    val v = view(t, "sqldml_mrgdel_v")
    Seq(1L, 4L, 999L).toDF("id").createOrReplaceTempView("sqldml_mrgdel_src")
    spark.sql(
      s"""MERGE INTO $v t USING sqldml_mrgdel_src s ON t.id = s.id
          WHEN MATCHED THEN DELETE""")
    assert(rows(t).map(_._1) === Seq(2L, 3L, 5L, 6L))
  }

  test("unsupported MERGE shapes refuse loudly instead of approximating") {
    val t = freshTable("sqldml_mrgbad")
    val v = view(t, "sqldml_mrgbad_v")
    Seq((1L, "a", 1.0)).toDF("id", "typ", "value")
      .createOrReplaceTempView("sqldml_mrgbad_src")
    val e2 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $v t USING sqldml_mrgbad_src s ON t.id < s.id
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e2.getMessage.contains("key equalities"))
    // by-source UPDATE with an explicit assignment list is SUPPORTED
    // since round 9 — the remaining refusal is SET * (no source row)
    val e3 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $v t USING sqldml_mrgbad_src s ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""")
    }
    assert(e3.getMessage.contains("meaningless") ||
      e3.getMessage.toLowerCase.contains("syntax"), e3.getMessage)
  }

  test("MERGE partial SET routes to the conditional tier (unset columns keep target values)") {
    val t = freshTable("sqldml_mrgpart")
    val v = view(t, "sqldml_mrgpart_v")
    Seq((1L, "zzz", 100.0), (7L, "d", 70.0)).toDF("id", "typ", "value")
      .createOrReplaceTempView("sqldml_mrgpart_src")
    spark.sql(
      s"""MERGE INTO $v t USING sqldml_mrgpart_src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET value = s.value + 1
          WHEN NOT MATCHED THEN INSERT *""")
    val got = rows(t)
    // id 1 keeps its typ ('a', NOT the source's 'zzz') — partial update
    assert(got.find(_._1 == 1L).get === ((1L, "a", 101.0)))
    assert(got.find(_._1 == 7L).get === ((7L, "d", 70.0)))
    // SET value = t.value keeps the target's value (legal partial update)
    Seq((2L, "w", 999.0)).toDF("id", "typ", "value")
      .createOrReplaceTempView("sqldml_mrgpart_src2")
    spark.sql(
      s"""MERGE INTO $v t USING sqldml_mrgpart_src2 s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET value = t.value, typ = s.typ
          WHEN NOT MATCHED THEN INSERT *""")
    assert(rows(t).find(_._1 == 2L).get === ((2L, "w", 20.0)))
  }

  test("INSERT BY NAME refuses unknown columns instead of evolving the schema") {
    val t = freshTable("sqldml_byname")
    val v = view(t, "sqldml_byname_v")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $v BY NAME SELECT 7L AS id, 'd' AS typ, 70.0 AS valu")
    }
    assert(e.getMessage.contains("not in"))
    // the well-formed BY NAME insert aligns out-of-order columns
    spark.sql(s"INSERT INTO $v BY NAME SELECT 70.0 AS value, 'd' AS typ, 7L AS id")
    assert(rows(t).find(_._1 == 7L).get === ((7L, "d", 70.0)))
  }

  test("INSERT INTO routes through the commit log, never a raw file write") {
    val t = freshTable("sqldml_ins")
    val v = view(t, "sqldml_ins_v")
    val out = spark.sql(s"INSERT INTO $v VALUES (7, 'd', 70.0), (8, 'd', 80.0)")
      .collect()
    assert(out === Array(Row(2L))) // a real committed version
    assert(rows(t).map(_._1) === (1L to 8L))
    // every data file is manifest-tracked; nothing written beside the log
    assert(CommitLog.fsck(t).clean)
  }

  test("INSERT with a column list casts positionally; absent columns read NULL") {
    val t = freshTable("sqldml_inscols")
    val v = view(t, "sqldml_inscols_v")
    spark.sql(s"INSERT INTO $v (id, value) VALUES (9, 90)")
    val got = CommitLog.read(spark, t).filter(col("id") === 9L)
      .select("id", "typ", "value").collect()
    assert(got === Array(Row(9L, null, 90.0)))
  }

  test("INSERT OVERWRITE replaces the snapshot transactionally") {
    val t = freshTable("sqldml_insovw")
    val v = view(t, "sqldml_insovw_v")
    spark.sql(s"INSERT OVERWRITE $v VALUES (100, 'z', 1.0)")
    assert(rows(t) === Seq((100L, "z", 1.0)))
    // time travel still serves the pre-overwrite snapshot
    assert(CommitLog.readAt(spark, t, 1L).count() === 6L)
  }

  test("INSERT into a hive-partitioned table keeps the layout") {
    val t = freshTable("sqldml_inspart", partitionBy = Seq("typ"))
    val v = view(t, "sqldml_inspart_v")
    spark.sql(s"INSERT INTO $v VALUES (7, 'd', 70.0)")
    val m = CommitLog.manifest(t, 2L)
    val fresh = m.files.filterNot(CommitLog.manifest(t, 1L).files.toSet)
    assert(fresh.nonEmpty && fresh.forall(_.contains("typ=d")))
  }

  test("copy-on-write DML on a hive-partitioned table keeps the layout") {
    // and so does the default merge-on-read mode: its post-images and
    // merge source land in the table's layout like the rewrites do
    for (dv <- Seq("false", "true")) {
      val t = freshTable(s"sqldml_cowpart_$dv", partitionBy = Seq("typ"))
      val v = view(t, s"sqldml_cowpart_${dv}_v")
      spark.conf.set("spark.graft.dml.deletionVectors", dv)
      try {
        // the rewrite must land in the SAME hive layout (layoutCols derives
        // it from the manifest) — and only 'a' partition files get touched
        val before = CommitLog.manifest(t, 1L).files
        spark.sql(s"UPDATE $v SET value = value * 10 WHERE typ = 'a'")
        val after = CommitLog.manifest(t, 2L).files
        val fresh = after.filterNot(before.toSet)
        assert(fresh.nonEmpty && fresh.forall(_.contains("typ=a")), s"dv=$dv: $fresh")
        assert(before.filter(_.contains("typ=b")).forall(after.contains))
        assert(rows(t).filter(_._2 == "a").map(_._3).sorted === Seq(100.0, 200.0))
        // merge (upsert) keeps the layout for its written files too
        Seq((3L, "b", 999.0)).toDF("id", "typ", "value")
          .createOrReplaceTempView("sqldml_cowpart_src")
        spark.sql(
          s"""MERGE INTO $v t USING sqldml_cowpart_src s ON t.id = s.id
              WHEN MATCHED THEN UPDATE SET *
              WHEN NOT MATCHED THEN INSERT *""")
        val m3 = CommitLog.manifest(t, 3L).files
        assert(m3.forall(f => f.contains("typ=")), s"dv=$dv: layout lost: $m3")
        assert(rows(t).find(_._1 == 3L).get === ((3L, "b", 999.0)))
      } finally spark.conf.unset("spark.graft.dml.deletionVectors")
    }
  }

  test("DML works against the DV fallback relation too") {
    val t = freshTable("sqldml_dvrel")
    CommitLog.deleteDv(spark, t, col("id") === 6L)
    // the view is now backed by GraftDvRelation, not HadoopFsRelation
    val v = view(t, "sqldml_dvrel_v")
    spark.sql(s"DELETE FROM $v WHERE typ = 'a'")
    assert(rows(t).map(_._1) === Seq(3L, 4L, 5L))
  }

  test("alias-qualified DELETE/UPDATE predicates resolve to bare columns") {
    // round-8 ADVICE (low): whether the condition reaches the rule resolved
    // (AttributeReference) or still alias-qualified (t.typ mid-resolution),
    // the runtime filter against the fresh snapshot read must see the bare
    // column — the alias does not exist there
    val t = freshTable("sqldml_alias")
    val v = view(t, "sqldml_alias_v")
    spark.sql(s"DELETE FROM $v t WHERE t.typ = 'b'")
    assert(rows(t).map(_._1) === Seq(1L, 2L, 5L, 6L))
    spark.sql(s"UPDATE $v u SET value = u.value + 1 WHERE u.typ = 'a'")
    assert(rows(t).filter(_._2 == "a").map(_._3) === Seq(11.0, 21.0))
  }

  test("round-10 regression: UPDATE SET with mixed-case target resolves case-insensitively") {
    val t = freshTable("sqldml_case")
    val v = view(t, "sqldml_case_v")
    spark.sql(s"UPDATE $v SET Value = 99.0 WHERE id = 1")
    assert(rows(t).find(_._1 == 1L).get === ((1L, "a", 99.0)))
    // two SET keys collapsing to one column refuse (no arbitrary last-wins)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $v SET Value = 1.0, value = 2.0 WHERE id = 1")
    }
    assert(e.getMessage.contains("conflicting SET assignments"), e.getMessage)
    // copy-on-write path resolves the same way
    spark.conf.set("spark.graft.dml.deletionVectors", "false")
    try spark.sql(s"UPDATE $v SET VALUE = 7.5 WHERE id = 2")
    finally spark.conf.unset("spark.graft.dml.deletionVectors")
    assert(rows(t).find(_._1 == 2L).get === ((2L, "a", 7.5)))
  }

  test("DML on a non-graft view is left to Spark's own error") {
    Seq((1, "x")).toDF("id", "s").createOrReplaceTempView("sqldml_plain")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM sqldml_plain WHERE id = 1")
    }
    // whatever Spark's wording, it must NOT have routed into CommitLog
    assert(!e.getMessage.contains("graft"))
  }
}
