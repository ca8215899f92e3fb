package graft.tools

import graft.SparkSpec

/** PlanAudit's report: every rep names the Spark jobs it ran (the
  * listener bus is drained before a rep's lines are read), and the plan
  * and the first rows are present. */
class PlanAuditSpec extends SparkSpec {

  test("a1_count: cold and warm reps each name their jobs; plan and rows follow") {
    val a = PlanAudit.audit(spark, "a1_count", "/root/testdata/sf0.001")
    assert(a.reps.map(_.label) === Seq("a1_count cold", "a1_count warm1", "a1_count warm2"))
    a.reps.foreach { r =>
      assert(r.jobs.nonEmpty, s"${r.label} names no job")
      assert(r.rows === a.reps.head.rows)
    }
    assert(a.buildMs >= 0 && a.planMs >= 0)
    assert(a.plan.contains("== Physical Plan =="), a.plan)
    assert(a.head.size === 1 + math.min(a.reps.head.rows, PlanAudit.HeadRows.toLong))
    val lines = PlanAudit.render(a)
    assert(lines.head.startsWith("[audit] build "))
    assert(lines.contains(a.plan))
  }
}
