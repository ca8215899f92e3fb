package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.types.TimestampType

import graft.tx.CommitLog

/** SQL time travel over graft tables (round-8 VERDICT item 2):
  * `SELECT … FROM t VERSION AS OF 3` / `FROM t TIMESTAMP AS OF
  * '2026-01-01'` — the form DuckDB/Delta users write — resolved onto the
  * `versionAsOf` relation the source already implements
  * ([[graft.sources.GraftSourceProvider]]).
  *
  * Spark's parser produces [[RelationTimeTravel]] for the `AS OF` suffix
  * but only RESOLVES it for v2 catalog tables; for a v1 name its
  * `ResolveRelations` throws "time travel is unsupported" — and that
  * throw happens BEFORE any injected resolution rule runs (builtin rules
  * lead every iteration of the Resolution batch), so the claim must
  * happen earlier: [[GraftSqlParser]] calls [[rewrite]] on every parsed
  * plan, swapping each time-travel node whose name resolves to a graft
  * table — a temp view over the source, or a catalog table with the
  * graft provider ([[GraftCatalog.graftRootOf]]) — for the
  * pinned-version relation. Non-graft names pass through to Spark's own
  * resolution/refusal.
  *
  * `TIMESTAMP AS OF` resolves to the LATEST version whose commit time
  * (the commit file's mtime — [[CommitLog.stamp]]) is ≤ the
  * requested instant, Delta's contract; an instant before the first
  * commit refuses. The timestamp expression must fold to a constant
  * (Spark's own v2 time travel requires the same). */
object GraftTimeTravel {

  def rewrite(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, tsOpt, verOpt) =>
        GraftCatalog.graftRootOf(spark, u.multipartIdentifier) match {
          case Some(root) =>
            val version = verOpt match {
              case Some(v) => v.toLong
              case None => versionAt(root, microsOf(spark, tsOpt.get))
            }
            // the source's own resolution path builds the pinned relation
            // (manifest snapshot, DV fallback, sidecar skipping —
            // identical to .option("versionAsOf", v)); the alias keeps
            // `t.col` qualifiers working
            val rel = spark.read.format("graft")
              .option("versionAsOf", version).load(root)
            SubqueryAlias(u.multipartIdentifier.last,
              rel.queryExecution.analyzed)
          case None => tt
        }
    }

  /** [[versionAt]] from a timestamp STRING literal (the `RESTORE … TO
    * TIMESTAMP AS OF '<ts>'` form) — cast with the session time zone,
    * exactly like the query-side `TIMESTAMP AS OF`. */
  private[sql] def versionAtLiteral(spark: SparkSession, root: String,
      ts: String): Long =
    versionAt(root, microsOf(spark,
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(ts),
        org.apache.spark.sql.types.StringType)))

  /** [[versionAt]] for the v2 catalog's `loadTable(ident, timestampMicros)`
    * hook ([[GraftSpaceCatalog]]) — same contract, no expression. */
  private[sql] def versionAtMicros(root: String, micros: Long): Long =
    versionAt(root, micros)

  /** Evaluate the `TIMESTAMP AS OF` expression to epoch micros (UTC). */
  private def microsOf(spark: SparkSession, e: Expression): Long = {
    require(e.foldable, s"TIMESTAMP AS OF must be a constant, got: ${e.sql}")
    val cast = Cast(e, TimestampType,
      Some(spark.sessionState.conf.sessionLocalTimeZone))
    val v = cast.eval()
    require(v != null, s"TIMESTAMP AS OF does not parse as a timestamp: ${e.sql}")
    v.asInstanceOf[Long]
  }

  /** Latest version whose commit time ≤ `micros` (commit-file mtimes are
    * monotone in version by construction — each version is published
    * after its predecessor). */
  private def versionAt(root: String, micros: Long): Long = {
    val wall = Math.floorDiv(micros, 1000L)
    val at = CommitLog.versions(root).reverse.find(v =>
      CommitLog.stamp(root, v).exists(_.mtime <= wall))
    at.getOrElse(throw new IllegalArgumentException(
      s"$root has no version committed at or before " +
        s"${java.time.Instant.ofEpochMilli(wall)} (earliest commit is later)"))
  }
}
