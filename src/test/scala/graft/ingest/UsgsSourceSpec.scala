package graft.ingest

import graft.{Fixtures, SparkSpec}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import scala.util.{Failure, Success, Try}

/** Paginated source with injected fetch: page termination on short page,
  * week-window retry on month failure, feature counting. */
class UsgsSourceSpec extends SparkSpec {
  import spark.implicits._

  /** A FeatureCollection holding one feature per id. */
  def pageOf(ids: Seq[String]): String = {
    val f = """{"type":"Feature","id":"%s","properties":{"mag":1.0,"time":1389312000000,"tsunami":0,"sig":1},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}"""
    s"""{"type":"FeatureCollection","features":[${ids.map(f.format(_)).mkString(",")}]}"""
  }

  def page(n: Int): String = pageOf((0 until n).map(i => s"ev$i"))

  /** The original quadratic counter: copies the rest of the body after
    * every `"type"` match. Kept as the oracle for [[UsgsSource.countFeatures]]. */
  def quadraticCount(body: String): Int = {
    var i = 0; var n = 0
    val needle = "\"type\""
    while ({ i = body.indexOf(needle, i); i >= 0 }) {
      val rest = body.substring(i + needle.length).dropWhile(c => c == ' ' || c == ':')
      if (rest.startsWith("\"Feature\"")) n += 1
      i += needle.length
    }
    n
  }

  test("countFeatures counts only type:Feature entries") {
    assert(UsgsSource.countFeatures(page(3)) === 3)
    assert(UsgsSource.countFeatures(page(0)) === 0)
    assert(UsgsSource.countFeatures(Fixtures.featureCollection) === 2)
  }

  test("property: countFeatures equals the quadratic counter on random pages") {
    val separator = Gen.listOf(Gen.oneOf(" ", ":", " : ", "\t", "\n")).map(_.mkString)
    val value = Gen.oneOf("\"Feature\"", "\"FeatureCollection\"", "\"Point\"",
      "\"Feature", "Feature\"", "\"feature\"", "\"\"")
    val typePair = for (s <- separator; v <- value) yield "\"type\"" + s + v
    // property strings with escaped quotes, some spelling a type pair
    val escaped = Gen.listOf(Gen.oneOf("a", " ", ":", "\\\"", "type", "Feature", "\\\"type\\\"",
      "\\\"Feature\\\"")).map(s => "\"place\":\"" + s.mkString + "\"")
    val token = Gen.frequency(4 -> typePair, 2 -> escaped,
      1 -> Gen.oneOf("{", "}", "[", "]", ",", "\"", "\"typ", "type\"", "\"type\"\"type\""),
      1 -> Gen.chooseNum(0, 4).map(page))
    val body = for {
      ts <- Gen.listOf(token)
      truncated <- Gen.oneOf("", "\"type\"", "\"type\" ", "\"type\":", "\"type\":\"Feature")
    } yield ts.mkString + truncated
    val prop = Prop.forAll(body) { b =>
      val (got, want) = (UsgsSource.countFeatures(b), quadraticCount(b))
      Prop(got == want) :| s"countFeatures $got, oracle $want on: $b"
    }
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(3000)
      .withInitialSeed(Seed(20141017L))
      .withWorkers(1)
    val result = SCTest.check(params, prop)
    assert(result.passed, result.toString)
  }

  test("countFeatures counts a full API-limit page in linear time") {
    val body = page(10000)
    val t0 = System.nanoTime()
    val n = UsgsSource.countFeatures(body)
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(n === 10000)
    assert(seconds < 2.0, s"counting a 10,000-feature page took $seconds s")
  }

  test("window fetch pages until the short page") {
    var calls = Vector.empty[Long]
    val src = new UsgsSource(req => {
      calls :+= req.offset
      // two full pages of 2, then a short page of 1
      Success(if (req.offset < 5) page(2) else page(1))
    }, limit = 2)
    val w = PagePlanner.monthWindows(2014, 2014).head
    val bodies = src.fetchWindow(w)
    assert(calls === Vector(1L, 3L, 5L))
    assert(GeoJsonParser.parse(spark, bodies.toDS()).count() === 5)
  }

  test("backfill retries failed month windows as week windows") {
    var monthCalls = 0; var weekCalls = 0
    val src = new UsgsSource(req => {
      val days = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(req.start), java.time.LocalDate.parse(req.end))
      if (days > 7) { monthCalls += 1; Failure(new RuntimeException("api error")) }
      else { weekCalls += 1; Success(page(1)) }
    }, limit = 10)
    val df = src.backfill(spark, 2014, 2014)
    assert(monthCalls === 12)       // every month window fails once
    assert(weekCalls >= 52)         // retried as weeks
    assert(df.count() === weekCalls)
    assert(df.columns.toSeq === graft.schema.EventSchema.event.fieldNames.toSeq)
  }

  test("backfill parses every page of every window in one plan") {
    val Seq(jan, feb) = PagePlanner.monthWindows(2014, 2014).take(2)
    val src = new UsgsSource(req => {
      if (req.start == jan.startParam)
        // one full page, then a short one
        Success(if (req.offset == 1) pageOf(Seq("j1", "j2")) else pageOf(Seq("j3")))
      else if (req.start == feb.startParam && req.end == feb.endParam)
        Failure(new RuntimeException("api error"))
      else if (req.start.startsWith("2014-02")) Success(pageOf(Seq(s"w${req.start}")))
      else Success(pageOf(Nil))
    }, limit = 2)
    val df = src.backfill(spark, 2014, 2014)
    val weeks = PagePlanner.weekWindows(feb).map(w => s"w${w.startParam}")
    assert(df.select("id").as[String].collect().toSeq.sorted ===
      (Seq("j1", "j2", "j3") ++ weeks).sorted)
    assert(df.queryExecution.analyzed.collect { case u: Union => u }.isEmpty)
  }

  test("empty backfill yields an empty frame with the event schema") {
    val src = new UsgsSource(_ => Success(page(0)), limit = 10)
    val df = src.backfill(spark, 2014, 2014)
    assert(df.isEmpty)
    assert(df.columns.toSeq === graft.schema.EventSchema.event.fieldNames.toSeq)
  }
}
