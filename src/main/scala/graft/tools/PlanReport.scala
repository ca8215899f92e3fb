package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Regenerates PLANS.md: the executed physical plan of each headline query
  * with the scale-relevant facts extracted (pushed filters, read schemas,
  * join strategies, exchange count, codegen spans). Run after plan-affecting
  * changes:
  *   scripts/run_class.sh graft.tools.PlanReport [sfDir]
  */
object PlanReport {
  val Headline: Seq[String] = Seq(
    "a3_flag_yearly", "p5_filter_flag", "q1_lineitem_agg", "q3_top_orders",
    "q5_nation_revenue", "window_rank", "window_topk_custom", "join_salted",
    "join_asof", "join_range", "join_bucketed", "join_outer",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_cc_clusters",
    "ann_topk_exact", "embed_neardup", "embed_neardup_lsh",
    "text_heavy_hitters_sketch", "stream_window_agg", "sessionize",
    "agg_quantile_sketch", "tx_snapshot_read", "tx_schema_evolution",
    "tx_merge_upsert", "tx_read_pruned", "tx_change_feed", "tx_incr_agg",
    "decontaminate", "decontaminate_bloom", "text_chunk_windows",
    "pack_sequences", "quality_deciles_sketch", "shuffle_shard",
    "curation_keep", "curation_keep_ccnet", "tx_sql_scan", "tx_delete_dv",
    "tx_merge_dv", "tx_sql_dml", "tx_sql_merge", "tx_sql_agg_meta",
    "tx_point_lookup_bloom", "tx_sql_merge_conditional", "tx_sql_lifecycle",
    "tx_stats_meta_ts", "tx_sql_convert", "tx_sql_constraints",
    "tx_sql_create_partitioned", "tx_sql_rename", "tx_sql_catalog_v2",
    "tx_stats_meta_string", "dedup_semantic", "dsir_select",
    "split_leakfree", "corpus_source_overlap", "dedup_incremental",
    "text_bigram_logprob", "decontaminate_store")

  /** Scale facts of one FINAL executed plan (round-15 VERDICT item 3 —
    * counted by TREE WALK, never by string match over the rendering: a
    * cached subplan's `InMemoryTableScan` re-renders its full inner plan
    * at every reference, so string counts overstate exchanges/joins for
    * any query that reuses a persisted candidate set, and a real
    * plan-width regression could hide inside the inflation).
    *
    * `pushedFilters` is three-state: `yes` (a file scan carries non-empty
    * `PushedFilters`/`PartitionFilters`), `none` (a residual Filter
    * operator exists but nothing reached a scan — a real miss to chase),
    * `n/a` (the query has no filterable predicate at all — full-corpus
    * work like dedup/windows/streams; the old label read `none`, which
    * looked like a miss). */
  final case class PlanFacts(shuffleExchanges: Int, broadcastJoins: Int,
      sortMergeJoins: Int, cachedScans: Int, pushedFilters: String) {
    def render: String = Seq(
      s"shuffle_exchanges=$shuffleExchanges",
      s"broadcast_joins=$broadcastJoins",
      s"sortmerge_joins=$sortMergeJoins",
      s"cached_subplan_scans=$cachedScans",
      s"pushed_filters=$pushedFilters").mkString(", ")
  }

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** Every node of the final plan, one visit each: children and subqueries
    * recurse (through nested adaptive roots and query stages), the cached
    * plan INSIDE an InMemoryTableScan deliberately does not — its work ran
    * once at materialization, and it is not part of this query's width. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val u = unwrap(p)
    u +: (u.children ++ u.subqueries).flatMap(nodes)
  }

  def factsOf(df: DataFrame): PlanFacts = {
    df.count(): Unit // drive AQE to the final plan
    factsOfPlan(df.queryExecution.executedPlan)
  }

  /** [[factsOf]] over an ALREADY-EXECUTED plan (callers that just ran the
    * query must not pay a second execution for the audit). */
  def factsOfPlan(plan: SparkPlan): PlanFacts = {
    val ns = nodes(plan)
    def cnt(simpleNames: String*): Int =
      ns.count(n => simpleNames.contains(n.getClass.getSimpleName))
    // leaf scans render only themselves — safe to string-inspect for the
    // pushdown metadata (FileSourceScanExec keeps it out of the node API)
    val scanStrs = ns.filter(n => n.children.isEmpty &&
        (n.nodeName.contains("Scan") || n.getClass.getSimpleName.contains("Scan")) &&
        n.getClass.getSimpleName != "InMemoryTableScanExec")
      .map(_.toString)
    def nonEmptyMeta(s: String, key: String): Boolean = {
      val i = s.indexOf(key + ": [")
      i >= 0 && s.charAt(i + key.length + 3) != ']'
    }
    val pushed =
      if (scanStrs.exists(s => nonEmptyMeta(s, "PushedFilters") ||
          nonEmptyMeta(s, "PartitionFilters") ||
          nonEmptyMeta(s, "DataFilters"))) "yes"
      else if (ns.exists(_.getClass.getSimpleName == "FilterExec")) "none"
      else "n/a"
    PlanFacts(
      shuffleExchanges = cnt("ShuffleExchangeExec"),
      broadcastJoins = cnt("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"),
      sortMergeJoins = cnt("SortMergeJoinExec"),
      cachedScans = cnt("InMemoryTableScanExec"),
      pushedFilters = pushed)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.harness("graft-planreport", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanReport` over `$sfDir`. For each query: the\n")
    sb.append("final (post-AQE) physical plan summary and the scan/join/exchange facts\n")
    sb.append("that matter at 100 TB (tree-walked over the final executed plan — cached\n")
    sb.append("subplans count once, never per rendering). `pushed_filters=n/a` marks\n")
    sb.append("queries with no filterable predicate (full-corpus by design).\n")
    sb.append("Regenerate after plan-affecting changes.\n")

    Headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val facts = factsOf(df)
      val finalPlan = unwrap(df.queryExecution.executedPlan)
      val planStr = finalPlan.toString
      sb.append(s"\n## $name\n\n${facts.render}\n\n```\n")
      // compact: drop the verbose scan detail lines
      val compact = planStr.linesIterator
        .map(l => if (l.length > 160) l.take(157) + "..." else l)
        .take(40).mkString("\n")
      sb.append(compact)
      sb.append("\n```\n")
    }
    // Embed the scale-pivotal stanzas ScaleSmoke recorded (round-6 VERDICT
    // item 7): PLANS.md then carries BOTH the small-sf and the NNx plan
    // shape for q3/q5/merge/readPruned, so a future regression (a hint
    // sneaking in, a probe pre-shrink breaking) is a one-file diff.
    val scalePath = Paths.get("PLANS_SCALE.md")
    if (Files.exists(scalePath)) {
      sb.append("\n---\n\n")
      sb.append(Files.readString(scalePath))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plan-report] wrote PLANS.md (${Headline.size} queries" +
      (if (Files.exists(scalePath)) " + scale stanzas)" else ")"))
    spark.stop()
  }
}
