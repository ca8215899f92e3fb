package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.storage.StorageLevel

/** The query layer's memo contract: reentrant builds, failed builds leave no
  * entry, release forgets and unpersists, per-session scratch roots. Each
  * test keys its entries under its own dir so none collides with the
  * queries' entries. */
class QueryMemoSpec extends SparkSpec {

  test("a nested build on the one map completes, and each build runs once") {
    val d = "memo-spec-nested"
    var outer, inner = 0
    def get(): String = QueryMemo.value("outer", spark, d) {
      outer += 1
      QueryMemo.value("inner", spark, d) { inner += 1; "in" } + "+out"
    }
    assert(get() === "in+out")
    assert(get() === "in+out")
    assert(QueryMemo.value("inner", spark, d)("rebuilt") === "in")
    assert((outer, inner) === ((1, 1)))
  }

  test("a build that throws leaves no entry, and the retry builds") {
    val d = "memo-spec-throw"
    var builds = 0
    val e = intercept[IllegalStateException] {
      QueryMemo.value("boom", spark, d) { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage === "boom")
    assert(QueryMemo.value("boom", spark, d) { builds += 1; "ok" } === "ok")
    assert(QueryMemo.value("boom", spark, d) { builds += 1; "again" } === "ok")
    assert(builds === 2)
  }

  test("release unpersists every persisted frame and forgets every entry") {
    val d = "memo-spec-release"
    var builds = 0
    def frame() = QueryMemo("frame", spark, d) { builds += 1; spark.range(10).toDF("id") }
    val df = frame()
    assert(frame() eq df)
    assert(QueryMemo.countOf("frame", spark, d)(spark.range(0).toDF("id")) === 10L)
    assert(df.storageLevel !== StorageLevel.NONE)
    val v = QueryMemo.value("lazy", spark, d)(new Object)
    QueryMemo.release()
    assert(df.storageLevel === StorageLevel.NONE)
    assert(df.count() === 10L, "a returned frame recomputes from lineage")
    val again = frame()
    assert(!(again eq df))
    assert(builds === 2)
    assert(!(QueryMemo.value("lazy", spark, d)(new Object) eq v))
  }

  test("a second session builds its own scratch root; the first's stays readable") {
    val d = "memo-spec-scratch"
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession): String =
      QueryMemo.scratch("memospec", s, d) { root =>
        builds += 1
        s.range(5).write.parquet(root)
        root
      }
    val first = build(spark)
    assert(build(spark) === first)
    val other = spark.newSession()
    val second = build(other)
    assert(second !== first)
    assert(build(other) === second)
    assert(builds === 2)
    assert(spark.read.parquet(first).count() === 5L)
    assert(other.read.parquet(second).count() === 5L)
  }

  test("no query file but QueryMemo keeps a private memo or reap hook") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.getFileName.toString == "QueryMemo.scala"))
    val banned = Seq("ConcurrentHashMap", "computeIfAbsent", "TrieMap", "addShutdownHook")
    val offenders = for {
      f <- files if f.getFileName.toString != "QueryMemo.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      word <- banned if line.contains(word)
    } yield s"${f.getFileName}:${i + 1}: $word"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
