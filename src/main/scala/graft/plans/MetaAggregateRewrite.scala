package graft.plans

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.sources.{GraftDvRelation, GraftFileIndex}
import graft.tx.CommitLog

/** Answer whole-table `COUNT(*)` / `MIN` / `MAX` / `COUNT(col)` over a
  * graft relation from the manifest's footer-stats sidecars — no scan, no
  * Spark job (Delta's `SELECT COUNT(*)` metadata trick, already available
  * on the Scala surface as [[CommitLog.metaAggregate]], now free for every
  * `spark.sql` user through the optimizer).
  *
  * Matches an ungrouped, unfiltered Aggregate directly over the relation
  * (modulo pure column-pruning Projects) whose aggregates are all of the
  * four metadata-answerable shapes, and replaces the subtree with a
  * one-row [[LocalRelation]]. Delegation to `metaAggregate` keeps the
  * honesty contract: ANY doubt — a file missing from its sidecar, a
  * non-exact column kind, deletion vectors beyond the bounded COUNT(*)
  * correction, a partition-path column — returns None and the plan is
  * left untouched (the scan answers). The rewrite aggregates the
  * relation's PINNED snapshot version, so `versionAsOf` views answer for
  * their own version; a file index over a SUBSET of its version's files
  * (a change slice, a pruned read) is never answered from the manifest.
  *
  * Disable with `spark.graft.sql.metaAggregates=false`. */
object MetaAggregateRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.sql.metaAggregates", "true").toBoolean)
      return plan
    plan.transformDown {
      case agg @ Aggregate(Nil, aggExprs, child, _) =>
        target(child) match {
          case Some((table, version)) =>
            rewrite(table, version, aggExprs).getOrElse(agg)
          case None => agg
        }
    }
  }

  /** Unwrap alias/view/pure-pruning-Project layers down to a graft
    * relation's (table root, pinned version). A Project that computes
    * anything, a Filter, a join — anything else — disqualifies. */
  @annotation.tailrec
  private def target(plan: LogicalPlan): Option[(String, Option[Long])] = plan match {
    case SubqueryAlias(_, child) => target(child)
    case v: View => target(v.child)
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      target(p.child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex => g.snapshotVersion.map(v => (g.tableRoot, Some(v)))
        case _ => None
      }
      case g: GraftDvRelation => Some((g.tableRoot, g.pinnedVersion))
      case _ => None
    }
    case _ => None
  }

  /** The metadata-answerable aggregate shapes — plus constant columns,
    * which CollapseProject folds INTO the ungrouped Aggregate's output
    * (`SELECT count(*), 'tag' AS t FROM v` optimizes to one Aggregate
    * with a literal alias); refusing them would silently un-rewrite any
    * query that attaches a label column (found live: the oracle query's
    * own `meta_only` literal did exactly that). */
  private sealed trait Shape
  private case object RowCount extends Shape
  private final case class ColCount(col: String) extends Shape
  private final case class ColMin(col: String) extends Shape
  private final case class ColMax(col: String) extends Shape
  private final case class ConstVal(value: Any) extends Shape

  private def shapeOf(e: NamedExpression): Option[(Shape, Alias)] = e match {
    case a @ Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
      fn match {
        // count(NULL) is 0, not the row count — Spark's NullPropagation
        // folds it before this rule normally runs, but the guard is free
        // (round-8 ADVICE, low)
        case Count(Seq(Literal(v, _))) if v != null => Some((RowCount, a))
        case Count(Seq(attr: AttributeReference)) => Some((ColCount(attr.name), a))
        case Min(attr: AttributeReference) => Some((ColMin(attr.name), a))
        case Max(attr: AttributeReference) => Some((ColMax(attr.name), a))
        case _ => None
      }
    case a @ Alias(l: Literal, _) => Some((ConstVal(l.value), a))
    case _ => None
  }

  /** metaAggregate does driver-side sidecar (and under DVs, DV-parquet)
    * I/O, and the optimizer's fixed-point batches would re-run it on
    * every iteration whenever the rewrite DECLINES (a success replaces
    * the subtree and never re-fires) — memoize per (table, pinned
    * version, requested columns), which is immutable state (round-8
    * review finding). Unpinned relations (version = None: the latest
    * could move between iterations) skip the cache. Size-bounded.
    *
    * The key carries the version's COMMIT-FILE IDENTITY (mtime, size) on
    * top of (path, version): a table directory deleted and re-created at
    * the same path restarts version numbering, and a bare (path, version)
    * key would silently serve the OLD table's cached aggregate to a query
    * over the new one (round-8 ADVICE, medium). A re-created commit file
    * never stats identical, so the stale entry simply stops matching and
    * ages out. Identity unreadable (file vacuumed/racing) → skip the
    * cache. */
  private val metaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Seq[String], Seq[String], (Long, Long)), Option[CommitLog.MetaAgg]]()

  private def cachedMetaAggregate(table: String, version: Option[Long],
      boundsCols: Seq[String], countCols: Seq[String]): Option[CommitLog.MetaAgg] = {
    def call(): Option[CommitLog.MetaAgg] =
      try CommitLog.metaAggregate(table, boundsCols, version,
        countOnlyColumns = countCols)
      catch { case scala.util.control.NonFatal(_) => None }
    version.zip(version.flatMap(CommitLog.manifestIdentity(table, _))).headOption match {
      case Some((v, id)) =>
        if (metaCache.size > 512) metaCache.clear()
        metaCache.computeIfAbsent((table, v, boundsCols, countCols, id), _ => call())
      case None => call()
    }
  }

  private def rewrite(table: String, version: Option[Long],
      aggExprs: Seq[NamedExpression]): Option[LogicalPlan] = {
    val shapes = aggExprs.map(shapeOf)
    if (shapes.exists(_.isEmpty)) return None
    val wanted = shapes.flatten.map(_._1)
    // bounds-needing columns go through the exact-bounds gate; columns
    // only ever COUNTed skip it (counts are exact for every collected
    // type — a COUNT(string_col) must not refuse because string BOUNDS
    // truncate)
    val boundsCols = wanted.collect {
      case ColMin(c) => c
      case ColMax(c) => c
    }.distinct
    val countCols = wanted.collect { case ColCount(c) => c }
      .distinct.filterNot(boundsCols.contains)
    val meta = cachedMetaAggregate(table, version, boundsCols, countCols)
    meta.map { ma =>
      val out = aggExprs.map(_.toAttribute)
      val values = wanted.zip(out).map { case (shape, attr) =>
        shape match {
          // literal values are ALREADY in catalyst form
          case ConstVal(v) => v
          case other =>
            val raw: Any = other match {
              case RowCount => ma.rowCount
              case ColCount(c) => ma.cols(c).nonNull
              case ColMin(c) => ma.cols(c).min.orNull
              case ColMax(c) => ma.cols(c).max.orNull
              case ConstVal(_) => throw new IllegalStateException("unreachable")
            }
            CatalystTypeConverters.createToCatalystConverter(attr.dataType)(raw)
        }
      }
      LocalRelation(out, Seq(InternalRow.fromSeq(values)))
    }
  }
}
