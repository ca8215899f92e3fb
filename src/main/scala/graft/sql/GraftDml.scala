package graft.sql

import org.apache.spark.sql.{Column, Row, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.LongType

import graft.sources.{GraftDvRelation, GraftFileIndex}
import graft.tx.CommitLog

/** SQL DML over commit-log tables — the half of the reference's lake
  * surface the `graft` source didn't yet cover. Reads went SQL-first in
  * round 8 (`spark.read.format("graft")` → temp view → `spark.sql`), and
  * `df.write.format("graft")` is a transactional commit; but mutations
  * (the delta-rs write surface the reference's serving layer implies:
  * upsert-by-PK, row retirement) still required the Scala API. This rule
  * closes the gap: `INSERT INTO` / `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * in `spark.sql(...)` against any temp view over a graft relation execute
  * as commit-log transactions.
  *
  * Architecture — open-source Delta's pre-catalog design: an analyzer rule
  * (injected via [[graft.functions.GraftExtensions]]) rewrites the DML
  * logical plans (`DeleteFromTable`, `UpdateTable`, `MergeIntoTable`,
  * `InsertIntoStatement`) whose target resolves to a graft relation into
  * `LeafRunnableCommand`s backed by [[CommitLog]]'s mutation family.
  * Catalyst never plans these nodes for v1 relations (it would refuse with
  * "only supported with v2 tables"), so the rewrite adds a capability, it
  * doesn't shadow one.
  *
  * `INSERT` interception is a CORRECTNESS requirement, not a convenience:
  * the graft read relation is a real `HadoopFsRelation`, and Spark's own
  * post-hoc analysis would otherwise happily plan
  * `InsertIntoHadoopFsRelationCommand` against it — writing (or on
  * overwrite, DELETING) parquet files behind the commit log's back and
  * corrupting the table. This rule runs in the main resolution batch,
  * before that conversion can happen.
  *
  * Semantics: DML always mutates the table's LATEST snapshot — a temp view
  * created with `versionAsOf` still addresses the table, not the frozen
  * snapshot (same as Delta: time travel is a read concept). Mutations
  * default to merge-on-read deletion vectors (the steady-state trickle
  * shape); set `spark.graft.dml.deletionVectors=false` for copy-on-write.
  */
object GraftDmlRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d: DeleteFromTable =>
      GraftDml.rootOf(d.table).map { root =>
        GraftDeleteCommand(root,
          GraftDml.toColumn(d.condition, GraftDml.aliasesOf(d.table)))
      }.getOrElse(d)

    case u: UpdateTable =>
      GraftDml.rootOf(u.table).map { root =>
        val aliases = GraftDml.aliasesOf(u.table)
        val names = u.assignments.map(a =>
          GraftDml.nameOf(a.key, "UPDATE SET target", aliases))
        require(names.distinct.size == names.size,
          s"duplicate UPDATE SET targets: ${names.mkString(", ")}")
        val set = u.assignments.map { a =>
          GraftDml.nameOf(a.key, "UPDATE SET target", aliases) ->
            GraftDml.toColumn(a.value, aliases)
        }.toMap
        val cond = u.condition.map(GraftDml.toColumn(_, aliases))
          .getOrElse(F.lit(true))
        GraftUpdateCommand(root, cond, set)
      }.getOrElse(u)

    case m: MergeIntoTable if m.childrenResolved =>
      GraftDml.rootOf(m.targetTable).map { root =>
        GraftDml.translateMerge(m, root)
      }.getOrElse(m)

    case i: InsertIntoStatement =>
      GraftDml.rootOf(i.table).map { root =>
        require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
          "INSERT ... PARTITION is not supported on graft tables; the " +
            "hive layout is fixed per table — plain INSERT routes rows " +
            "into the existing partition directories automatically")
        GraftInsertCommand(root, i.query, i.overwrite,
          i.userSpecifiedCols, i.byName)
      }.getOrElse(i)
  }
}

private[graft] object GraftDml {

  /** The command result schema: the committed version, as Delta's DML
    * returns operation metrics. */
  def versionOutput: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  /** Unwrap view/alias layers down to a graft relation's table root.
    * Deliberately does NOT unwrap Project/Filter: DML through a projected
    * or filtered view is not table DML and must keep Spark's own error. */
  @annotation.tailrec
  def rootOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => rootOf(child)
    case v: View => rootOf(v.child)
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex if g.snapshotVersion.isDefined => Some(g.tableRoot)
        case _ => None
      }
      case g: GraftDvRelation => Some(g.tableRoot)
      case _ => None
    }
    case _ => None
  }

  /** Re-target a DML expression at a fresh snapshot read: resolved
    * attribute references (bound to the statement's view) become plain
    * name lookups, and STILL-UNRESOLVED names qualified by a known target
    * alias strip to the bare column (round-8 ADVICE, low: if the rule
    * fires mid-resolution, `t.typ` in `DELETE FROM v t WHERE t.typ = …`
    * would otherwise survive into the runtime `df.filter` against the
    * fresh snapshot read, where the alias does not exist). Everything
    * else (literals, functions, unqualified names) passes through — the
    * mutation's own resolution does the rest. */
  def toColumn(e: Expression, aliases: Set[String] = Set.empty): Column =
    ColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      case u: UnresolvedAttribute if u.nameParts.size == 2 &&
          aliases.contains(u.nameParts.head.toLowerCase) =>
        UnresolvedAttribute.quoted(u.nameParts.last)
    })

  /** Column name of an assignment target / key reference. Multi-part
    * names are accepted ONLY when the qualifier is a known table alias —
    * `t.value` strips to `value`, but `s.x` on a table with a struct `s`
    * (a nested-field reference) and any unknown qualifier refuse loudly
    * instead of silently binding to whatever top-level column shares the
    * last segment (round-8 review finding). */
  def nameOf(e: Expression, what: String,
      allowedQualifiers: Set[String] = Set.empty): String = e match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute if u.nameParts.size == 1 => u.nameParts.head
    case u: UnresolvedAttribute if u.nameParts.size == 2 &&
        allowedQualifiers.contains(u.nameParts.head.toLowerCase) =>
      u.nameParts.last
    case other => throw new IllegalArgumentException(
      s"$what must be a plain column (optionally qualified by a table " +
        s"alias), got: ${other.sql}")
  }

  /** The alias names a DML target/source plan answers to (SubqueryAlias
    * layers), lowercased. */
  def aliasesOf(plan: LogicalPlan): Set[String] = plan match {
    case SubqueryAlias(id, child) => aliasesOf(child) + id.name.toLowerCase
    case v: View => aliasesOf(v.child)
    case _ => Set.empty
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** MERGE translation. Two tiers:
    *
    *  - the STAR shapes keep their dedicated fast paths: `WHEN MATCHED
    *    THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` (or verbatim
    *    `col = source.col` assignment lists) → [[CommitLog.mergeDv]] /
    *    [[CommitLog.merge]] (additive schema evolution lives here), and
    *    `WHEN MATCHED THEN DELETE` alone → [[CommitLog.deleteKeys]];
    *  - EVERYTHING ELSE — conditional `WHEN MATCHED AND cond THEN
    *    UPDATE/DELETE` (multiple clauses, first-match-wins), partial-
    *    column SETs, conditional `WHEN NOT MATCHED [AND cond] THEN
    *    INSERT *`, insert-only merges, and `WHEN NOT MATCHED BY SOURCE
    *    [AND cond] THEN UPDATE/DELETE` (first-match-wins, UPDATE with an
    *    explicit assignment list) — routes to
    *    [[CommitLog.mergeConditionalDv]] (round-8 VERDICT item 4).
    *
    * Still refused loudly (approximating would be worse): non-equi ON
    * conditions, partial-column INSERT lists, NOT MATCHED BY SOURCE
    * UPDATE SET * (no source row to copy), multiple INSERT clauses. */
  def translateMerge(m: MergeIntoTable, root: String): LogicalPlan = {
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet
    val targetAliases = aliasesOf(m.targetTable)
    val sourceAliases = aliasesOf(m.sourceTable)
    val anyAlias = targetAliases ++ sourceAliases
    def side(e: Expression): Option[Boolean] = e match { // Some(true)=target
      case a: AttributeReference if targetOut.contains(a) => Some(true)
      case a: AttributeReference if sourceOut.contains(a) => Some(false)
      case _ => None
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(l, r) =>
        val (ln, rn) = (nameOf(l, "MERGE ON reference", anyAlias),
          nameOf(r, "MERGE ON reference", anyAlias))
        require(ln.equalsIgnoreCase(rn),
          s"MERGE ON must equate same-named key columns (upsert-by-key), got $ln = $rn")
        // when resolved, insist the two sides actually straddle the tables
        (side(l), side(r)) match {
          case (Some(a), Some(b)) => require(a != b,
            s"MERGE ON $ln = $rn compares one table with itself")
          case _ => ()
        }
        ln
      case other => throw new IllegalArgumentException(
        "MERGE ON must be a conjunction of key equalities " +
          s"(upsert-by-key), got: ${other.sql}")
    }

    // `UPDATE SET a = s.a, …` written out longhand is still SET * iff every
    // assignment is the same-named SOURCE column — a target-qualified value
    // (`SET value = t.value`, intent: keep the target's) is NOT the star
    // shape (round-8 review finding; it now routes to the conditional
    // path's partial update instead of refusing)
    def isIdentity(as: Seq[Assignment]): Boolean = as.forall { a =>
      a.value match {
        case v: AttributeReference =>
          side(v).forall(_ == false) &&
            nameOf(a.key, "SET", targetAliases).equalsIgnoreCase(v.name)
        case v: UnresolvedAttribute =>
          val fromSource = v.nameParts.size == 1 ||
            (v.nameParts.size == 2 &&
              sourceAliases.contains(v.nameParts.head.toLowerCase) &&
              !targetAliases.contains(v.nameParts.head.toLowerCase))
          fromSource &&
            nameOf(a.key, "SET", targetAliases).equalsIgnoreCase(v.nameParts.last)
        case _ => false
      }
    }

    val starShape = m.notMatchedBySourceActions.isEmpty &&
      ((m.matchedActions, m.notMatchedActions) match {
        case (Seq(DeleteAction(None)), Seq()) => true
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) => true
        case (Seq(UpdateStarAction(None)), Seq(InsertAction(None, as2))) =>
          isIdentity(as2)
        case (Seq(UpdateAction(None, as, fromStar)), Seq(InsertStarAction(None))) =>
          fromStar || isIdentity(as)
        case (Seq(UpdateAction(None, as, fromStar)), Seq(InsertAction(None, as2))) =>
          (fromStar || isIdentity(as)) && isIdentity(as2)
        case _ => false
      })

    if (starShape)
      GraftMergeCommand(root, m.sourceTable, keys,
        delete = m.matchedActions.headOption.exists(_.isInstanceOf[DeleteAction]))
    else translateConditionalMerge(m, root, keys)
  }

  /** The general routing tier: translate each clause's condition/SET to
    * Columns over [[CommitLog.mergeConditionalDv]]'s binding contract —
    * matched clauses see the COMBINED row (target columns plain, source
    * columns `__src_`-prefixed), insert conditions see the SOURCE row
    * (plain names), by-source conditions the TARGET row (plain names). */
  private def translateConditionalMerge(m: MergeIntoTable, root: String,
      keys: Seq[String]): LogicalPlan = {
    val combined = mergeExpr(m, _: Expression,
      tgt = n => n, src = n => s"__src_$n")
    val sourceOnly = mergeExpr(m, _: Expression,
      tgt = n => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED conditions may only reference the source (got target '$n')"),
      src = n => n)
    val targetOnly = mergeExpr(m, _: Expression,
      tgt = n => n,
      src = n => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED BY SOURCE conditions may only reference the target (got source '$n')"))
    val targetAliases = aliasesOf(m.targetTable)
    // SET * in a conditional clause: every source column sets its
    // same-named target column (no evolution in this path — the command
    // validates names against the live schema)
    def starSet: Map[String, Column] =
      m.sourceTable.output.map(a => a.name -> combined(a)).toMap
    val matched = m.matchedActions.map {
      case UpdateStarAction(c) =>
        CommitLog.MatchedClause(c.map(combined), Some(starSet))
      case UpdateAction(c, as, fromStar) =>
        val set =
          if (fromStar) starSet
          else as.map(a => nameOf(a.key, "MERGE SET target", targetAliases) ->
            combined(a.value)).toMap
        CommitLog.MatchedClause(c.map(combined), Some(set))
      case DeleteAction(c) => CommitLog.MatchedClause(c.map(combined), None)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE matched clause on graft table: $other")
    }
    val insert = m.notMatchedActions match {
      case Seq() => None
      case Seq(InsertStarAction(c)) => Some(c.map(sourceOnly))
      case Seq(InsertAction(c, as)) =>
        // identity lists only: a partial INSERT would silently null-fill
        require(isIdentityInsert(m, as),
          "MERGE INSERT must be * (or verbatim col = source.col) — " +
            "partial-column inserts are not supported on graft tables")
        Some(c.map(sourceOnly))
      case other => throw new IllegalArgumentException(
        "at most one WHEN NOT MATCHED THEN INSERT * clause is supported " +
          s"on graft tables, got: $other")
    }
    def targetStar: Nothing = throw new IllegalArgumentException(
      "WHEN NOT MATCHED BY SOURCE UPDATE SET * is meaningless — there is " +
        "no source row to copy; list the assignments explicitly")
    val bySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) =>
        CommitLog.MatchedClause(c.map(targetOnly), None)
      case UpdateAction(c, as, fromStar) =>
        if (fromStar) targetStar
        val set = as.map(a => nameOf(a.key, "MERGE SET target", targetAliases) ->
          targetOnly(a.value)).toMap
        CommitLog.MatchedClause(c.map(targetOnly), Some(set))
      case _: UpdateStarAction => targetStar
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED BY SOURCE clause on graft table: $other")
    }
    GraftMergeConditionalCommand(root, m.sourceTable, keys, matched,
      insert, bySource)
  }

  /** An INSERT assignment list that is verbatim `col = source.col` for
    * every entry (the analyzer-free identity check, tolerant of resolved
    * and unresolved shapes). */
  private def isIdentityInsert(m: MergeIntoTable, as: Seq[Assignment]): Boolean = {
    val sourceOut = m.sourceTable.outputSet
    val targetAliases = aliasesOf(m.targetTable)
    val sourceAliases = aliasesOf(m.sourceTable)
    as.forall { a =>
      // v2-catalog merges resolve an analyzer iteration later than the
      // temp-view path, so Spark's assignment ALIGNMENT may already have
      // wrapped source values in store-assignment casts — still identity
      // (the insert routes the source column; commit coerces by name).
      // But only casts that are (a) TO the target column's declared type
      // and (b) MODE-AGNOSTIC — can never fail and produce the same
      // value under ANSI and LEGACY eval (upcasts, decimal→floating) —
      // qualify: for those, dropping the planned cast and letting
      // commit's by-name alignTo re-cast is provably equivalent. A
      // genuinely lossy value (long source into int target, an explicit
      // user narrowing CAST) refuses as before, or the planned ANSI cast
      // would be silently traded for alignTo's session-mode cast, whose
      // overflow behavior differs (round-11 ADVICE, low)
      val targetType = m.targetTable.output
        .find(_.name.equalsIgnoreCase(nameOf(a.key, "INSERT", targetAliases)))
        .map(_.dataType)
      val value = a.value match {
        case c: org.apache.spark.sql.catalyst.expressions.Cast
            if c.child.resolved && targetType.contains(c.dataType) &&
              modeAgnosticCast(c.child.dataType, c.dataType) => c.child
        case v => v
      }
      value match {
        case v: AttributeReference =>
          sourceOut.contains(v) &&
            nameOf(a.key, "INSERT", targetAliases).equalsIgnoreCase(v.name)
        case v: UnresolvedAttribute =>
          val fromSource = v.nameParts.size == 1 ||
            (v.nameParts.size == 2 &&
              sourceAliases.contains(v.nameParts.head.toLowerCase) &&
              !targetAliases.contains(v.nameParts.head.toLowerCase))
          fromSource &&
            nameOf(a.key, "INSERT", targetAliases).equalsIgnoreCase(v.nameParts.last)
        case _ => false
      }
    }
  }

  /** Casts that can never fail and yield the same value under ANSI and
    * LEGACY evaluation: Spark's own up-cast set, plus decimal→floating
    * (never overflows, identical rounding in both modes — how the
    * analyzer aligns a decimal literal into a DOUBLE column). Only these
    * may be stripped from an identity-insert check, because commit's
    * by-name alignTo applies the same target-type cast with identical
    * semantics. */
  private def modeAgnosticCast(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to) ||
      ((from, to) match {
        case (_: org.apache.spark.sql.types.DecimalType,
          org.apache.spark.sql.types.DoubleType |
          org.apache.spark.sql.types.FloatType) => true
        case _ => false
      })

  /** Rewrite a merge-clause expression to a runtime Column, mapping every
    * column reference through `tgt`/`src` by which table it binds to:
    * resolved attributes by output membership, alias-qualified names by
    * the qualifier, bare unresolved names by which side declares them
    * (ambiguous bare names refuse — qualify with the alias). */
  private def mergeExpr(m: MergeIntoTable, e: Expression,
      tgt: String => String, src: String => String): Column = {
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet
    val tAl = aliasesOf(m.targetTable)
    val sAl = aliasesOf(m.sourceTable)
    val tNames = m.targetTable.output.map(_.name.toLowerCase).toSet
    val sNames = m.sourceTable.output.map(_.name.toLowerCase).toSet
    ColumnBridge.column(e.transform {
      case a: AttributeReference if sourceOut.contains(a) =>
        UnresolvedAttribute.quoted(src(a.name))
      case a: AttributeReference if targetOut.contains(a) =>
        UnresolvedAttribute.quoted(tgt(a.name))
      case u: UnresolvedAttribute if u.nameParts.size == 2 &&
          sAl.contains(u.nameParts.head.toLowerCase) &&
          !tAl.contains(u.nameParts.head.toLowerCase) =>
        UnresolvedAttribute.quoted(src(u.nameParts.last))
      case u: UnresolvedAttribute if u.nameParts.size == 2 &&
          tAl.contains(u.nameParts.head.toLowerCase) &&
          !sAl.contains(u.nameParts.head.toLowerCase) =>
        UnresolvedAttribute.quoted(tgt(u.nameParts.last))
      case u: UnresolvedAttribute if u.nameParts.size == 1 =>
        val n = u.nameParts.head.toLowerCase
        (tNames(n), sNames(n)) match {
          case (true, false) => UnresolvedAttribute.quoted(tgt(u.nameParts.head))
          case (false, true) => UnresolvedAttribute.quoted(src(u.nameParts.head))
          case (true, true) => throw new IllegalArgumentException(
            s"ambiguous column '${u.nameParts.head}' in MERGE clause — " +
              "qualify it with the table alias")
          case _ => u
        }
    })
  }

  /** The table's hive layout (partition columns parsed from the current
    * manifest's directory segments) — mutations re-write surviving rows in
    * the SAME layout, and inserts route new rows into it. */
  def layoutCols(table: String): Seq[String] = {
    // the manifest's DECLARED partition spec is authoritative when
    // present (recorded at CREATE TABLE … PARTITIONED BY / CONVERT /
    // first partitioned write — round-11): it survives truncates and
    // empty snapshots by construction, no walk-back needed
    CommitLog.latestVersion(table)
      .map(v => CommitLog.manifest(table, v).partitionBy)
      .filter(_.nonEmpty)
      .foreach(declared => return declared)
    // legacy tables (no recorded spec): derive from file paths.
    // the newest version that still HAS files: a TRUNCATE (empty
    // overwrite) or an everything-matched delete leaves a zero-file
    // snapshot, and deriving the layout only from it would silently turn
    // every later INSERT/compact unpartitioned (round-9 review finding) —
    // walk back to the last file-carrying manifest instead
    // only zero-FILE versions are skipped — a file-carrying version with
    // no `k=v` segments is a legitimate unpartitioned layout and must win
    // over an older partitioned one; and a resurrected column must still
    // EXIST in the current schema (a zero-file schema-changing overwrite
    // that dropped the partition column resets the layout too — round-9
    // review finding)
    val current = CommitLog.latestVersion(table)
      .map(v => CommitLog.manifest(table, v).schema.fieldNames.toSet)
      .getOrElse(Set.empty[String])
    CommitLog.versions(table).sorted.reverse.iterator
      .map(v => CommitLog.manifest(table, v).files.headOption)
      .collectFirst { case Some(f) =>
        f.split("/").dropRight(1).toSeq.filter(_.contains("="))
          .map(_.takeWhile(_ != '=')).distinct
          .filter(c => current.exists(_.equalsIgnoreCase(c)))
      }.getOrElse(Nil)
  }

  /** Merge-on-read (deletion vectors) unless the session opts into
    * copy-on-write. */
  def useDv(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.dml.deletionVectors").forall(_.toBoolean)
}

/** `DELETE FROM <graft view> WHERE cond` → [[CommitLog.deleteDv]] (or
  * copy-on-write [[CommitLog.delete]] under
  * `spark.graft.dml.deletionVectors=false`). Returns the committed
  * version. */
case class GraftDeleteCommand(table: String, condition: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val v =
      if (GraftDml.useDv(spark)) CommitLog.deleteDv(spark, table, condition)
      else CommitLog.delete(spark, table, condition, GraftDml.layoutCols(table))
    GraftCatalog.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

/** `UPDATE <graft view> SET a = expr, … [WHERE cond]` →
  * [[CommitLog.updateDv]] / [[CommitLog.update]]. */
case class GraftUpdateCommand(table: String, condition: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val layout = GraftDml.layoutCols(table)
    val v =
      if (GraftDml.useDv(spark)) CommitLog.updateDv(spark, table, condition, set, layout)
      else CommitLog.update(spark, table, condition, set, layout)
    GraftCatalog.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

/** `MERGE INTO <graft view> USING src ON t.k = s.k …` — the upsert
  * ([[CommitLog.mergeDv]] / [[CommitLog.merge]]) or key-set delete
  * ([[CommitLog.deleteKeys]]) shapes; see
  * [[GraftDml.translateMerge]] for the supported subset. The source plan
  * is carried unresolved-as-written and analyzed at run time. */
case class GraftMergeCommand(table: String, source: LogicalPlan,
    keys: Seq[String], delete: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val src = ColumnBridge.ofRows(spark, source)
    val v =
      if (delete)
        CommitLog.deleteKeys(spark, table,
          src.select(keys.map(F.col): _*), keys, GraftDml.layoutCols(table))
      else if (GraftDml.useDv(spark))
        CommitLog.mergeDv(spark, table, src, keys, GraftDml.layoutCols(table))
      else
        CommitLog.merge(spark, table, src, keys, GraftDml.layoutCols(table))
    GraftCatalog.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

/** Conditional `MERGE INTO` — the general routing tier
  * ([[CommitLog.mergeConditionalDv]]): first-match-wins matched clauses
  * (conditional UPDATE with partial SETs / DELETE), conditional
  * `NOT MATCHED … INSERT *`, `NOT MATCHED BY SOURCE … UPDATE/DELETE`. Always
  * merge-on-read: the routing machinery IS the DV probe, so
  * `spark.graft.dml.deletionVectors=false` refuses instead of silently
  * switching semantics (run OPTIMIZE afterwards to fold). */
case class GraftMergeConditionalCommand(table: String, source: LogicalPlan,
    keys: Seq[String], matched: Seq[CommitLog.MatchedClause],
    insert: Option[Option[Column]], bySource: Seq[CommitLog.MatchedClause])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    require(GraftDml.useDv(spark),
      "conditional MERGE on graft tables is merge-on-read only — unset " +
        "spark.graft.dml.deletionVectors=false (OPTIMIZE folds the DVs after)")
    val src = ColumnBridge.ofRows(spark, source)
    val v = CommitLog.mergeConditionalDv(spark, table, src, keys, matched,
      insert, bySource, GraftDml.layoutCols(table))
    GraftCatalog.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}

/** `INSERT INTO / INSERT OVERWRITE <graft view>` →
  * [[CommitLog.commit]] append/overwrite — NEVER Spark's
  * `InsertIntoHadoopFsRelationCommand`, which would write files behind the
  * commit log (see [[GraftDmlRule]]). Positional semantics: query columns
  * map to the table schema (or the user-specified column list) in order
  * and are cast to the declared types; columns left unspecified read NULL
  * through the additive-evolution path. `byName` (DataFrame
  * `insertInto`/INSERT BY NAME) aligns by name instead. */
case class GraftInsertCommand(table: String, query: LogicalPlan,
    overwrite: Boolean, userCols: Seq[String], byName: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftDml.versionOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val df0 = ColumnBridge.ofRows(spark, query)
    val targetSchema = CommitLog.latestVersion(table)
      .map(v => CommitLog.manifest(table, v).schema)
    val df =
      if (byName) targetSchema match {
        // BY NAME still validates: a misspelled column must error, not
        // silently become a new column via additive evolution
        // (round-8 review finding)
        case Some(schema) =>
          val unknown = df0.columns.filterNot(n =>
            schema.fields.exists(_.name.equalsIgnoreCase(n)))
          require(unknown.isEmpty,
            s"INSERT BY NAME columns not in $table: ${unknown.mkString(", ")} " +
              s"(schema: ${schema.fieldNames.mkString(", ")})")
          df0.select(df0.columns.toIndexedSeq.map { n =>
            val f = schema.fields.find(_.name.equalsIgnoreCase(n)).get
            F.col(n).cast(f.dataType).as(f.name)
          }: _*)
        case None => df0
      }
      else {
        val names =
          if (userCols.nonEmpty) userCols
          else targetSchema.map(_.fieldNames.toSeq).getOrElse(df0.columns.toSeq)
        require(df0.columns.length == names.length,
          s"INSERT column count mismatch: query produces ${df0.columns.length} " +
            s"columns, target expects ${names.length} (${names.mkString(", ")})")
        val renamed = df0.toDF(names: _*)
        targetSchema match {
          case Some(schema) => renamed.select(names.map { n =>
            schema.fields.find(_.name.equalsIgnoreCase(n)) match {
              case Some(f) => F.col(n).cast(f.dataType).as(f.name)
              case None => throw new IllegalArgumentException(
                s"INSERT column '$n' does not exist in $table " +
                  s"(schema: ${schema.fieldNames.mkString(", ")})")
            }
          }: _*)
          case None => renamed
        }
      }
    val v = CommitLog.commit(df, table,
      if (overwrite) "overwrite" else "append", GraftDml.layoutCols(table))
    // the catalog's memoized relation (spark.table) pins the pre-DML
    // manifest — drop it so by-name readers see this commit
    GraftCatalog.invalidateRelationCache(spark)
    Seq(Row(v))
  }
}
