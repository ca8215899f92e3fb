package graft.tx

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, concat, expr, lit, raise_error}

/** Table-level CHECK constraints (Delta's `ALTER TABLE … ADD CONSTRAINT
  * name CHECK (expr)`): registered once, enforced on EVERY subsequent
  * write through the commit log — appends, copy-on-write rewrites,
  * merge/update post-images, compaction — as a codegen'd predicate FUSED
  * into the write's own scan ([[enforce]]), never a second pass. SQL
  * CHECK semantics: NULL satisfies; a strictly-FALSE row fails the write
  * with the constraint's name and expression.
  *
  * Storage: constraints are LOG COMMITS — the registered set rides in
  * each version's manifest (`check:` lines), exactly Delta's
  * constraints-in-metadata shape. That puts them under the optimistic
  * version-claim protocol (round-9 ADVICE, closed round 11):
  *
  *  - concurrent `add()`/`drop()` serialize through the version race —
  *    the loser re-reads, re-validates against the winner's set, and
  *    retries, so neither change is lost;
  *  - a WRITE racing a registration is caught by [[CommitLog.commit]]'s
  *    in-loop re-validation (a commit that enforced the pre-registration
  *    set re-checks its written files against constraints that landed
  *    meanwhile and aborts on a violation) and by every mutation's
  *    version-conflict invalidation;
  *  - restore/clone carry the TARGET version's constraint set — the set
  *    travels with its snapshot instead of a global config resurrecting
  *    pre-constraint rows under a still-active constraint.
  *
  * A legacy `_constraints` file (the pre-round-11 storage, also the
  * registration surface for tables created but not yet committed) is
  * still honored: [[list]] unions it in, and the first post-upgrade
  * `add`/`drop` folds it into the manifest and removes it.
  *
  * Reference provenance: the reference pipeline has no constraint
  * system — this is engine breadth matching the lakehouse surface its
  * users would expect when switching. */
object Constraints {

  val ConfigName = "_constraints"

  private val NameRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** The EFFECTIVE registered constraints, insertion-ordered: the latest
    * manifest's versioned set plus any legacy-file entries not yet
    * folded in (the manifest wins by name); empty for tables without
    * any. */
  def list(table: String): Seq[(String, String)] = {
    val versioned = CommitLog.latestVersion(table)
      .map(v => CommitLog.manifest(table, v).constraints).getOrElse(Nil)
    versioned ++ listFile(table).filterNot { case (n, _) =>
      versioned.exists(_._1.equalsIgnoreCase(n))
    }
  }

  /** The legacy `_constraints` config file's entries (pre-round-11
    * tables, and registrations made before the table's first commit). */
  private[tx] def listFile(table: String): Seq[(String, String)] = {
    val p = Paths.get(table).resolve(ConfigName)
    if (!Files.isRegularFile(p)) Nil
    else new String(Files.readAllBytes(p), UTF_8).linesIterator
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        // a diagnosable refusal beats a StringIndexOutOfBounds from deep
        // inside a write plan (this is consulted on EVERY write)
        require(i > 0, s"malformed $ConfigName line in $table " +
          s"(expected name<TAB>expression): '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toSeq
  }

  /** Register `name CHECK (exprSql)`. The expression must resolve
    * against the current schema and the EXISTING snapshot must satisfy
    * it (one scan, stopping at the first violation); both refusals
    * happen before anything is committed. Published as a metadata-only
    * log commit; a lost version race re-validates against the winner's
    * snapshot and retries. */
  def add(spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    require(NameRe.matches(name), s"constraint name '$name' must be an identifier")
    require(!exprSql.contains("\t") && !exprSql.contains("\n"),
      "constraint expression must be single-line")
    // pre-first-commit registration: nothing to validate or version yet —
    // the config file carries the set until the first commit folds it
    if (CommitLog.latestVersion(table).isEmpty) {
      require(!list(table).exists(_._1.equalsIgnoreCase(name)),
        s"$table already has a constraint named '$name'")
      writeAll(table, list(table) :+ (name -> exprSql))
      return
    }
    var attempt = 0
    while (true) {
      val version = CommitLog.latestVersion(table).get
      val effective = list(table)
      require(!effective.exists(_._1.equalsIgnoreCase(name)),
        s"$table already has a constraint named '$name'")
      // the whole LIVE snapshot (pinned to the version this commit will
      // base on) must already satisfy the constraint
      firstViolation(CommitLog.readAt(spark, table, version),
        Seq(name -> exprSql)).foreach { case (n, e) =>
        throw new IllegalArgumentException(
          s"cannot add constraint '$n': existing rows of $table violate " +
            s"CHECK ($e)")
      }
      try {
        CommitLog.commitConstraints(table, version, effective :+ (name -> exprSql))
        // every legacy entry is folded into the manifest now
        TxIO.io.deleteIfExists(Paths.get(table).resolve(ConfigName))
        return
      } catch {
        case e: IllegalStateException if attempt < 8 => attempt += 1
      }
    }
  }

  /** Unregister a constraint (a metadata-only log commit); unknown names
    * refuse. */
  def drop(table: String, name: String): Unit = {
    if (CommitLog.latestVersion(table).isEmpty) {
      val cur = list(table)
      require(cur.exists(_._1.equalsIgnoreCase(name)),
        s"$table has no constraint named '$name'")
      writeAll(table, cur.filterNot(_._1.equalsIgnoreCase(name)))
      return
    }
    var attempt = 0
    while (true) {
      val version = CommitLog.latestVersion(table).get
      val effective = list(table)
      require(effective.exists(_._1.equalsIgnoreCase(name)),
        s"$table has no constraint named '$name'")
      try {
        CommitLog.commitConstraints(table, version,
          effective.filterNot(_._1.equalsIgnoreCase(name)))
        TxIO.io.deleteIfExists(Paths.get(table).resolve(ConfigName))
        return
      } catch {
        case e: IllegalStateException if attempt < 8 => attempt += 1
      }
    }
  }

  /** First registered constraint of `cs` that some row of `df` strictly
    * violates (NULL satisfies) — one bounded probe per constraint, used
    * by [[add]]'s snapshot validation and [[CommitLog.commit]]'s
    * concurrent-registration re-check. */
  private[tx] def firstViolation(df: DataFrame,
      cs: Seq[(String, String)]): Option[(String, String)] =
    cs.find { case (_, sql) =>
      df.where(!coalesce(expr(sql), lit(true))).limit(1).count() > 0
    }

  /** The write-side enforcement: wrap `df` so every row either satisfies
    * every registered constraint (NULL counts as satisfied) or THROWS
    * with the constraint's name — a single codegen predicate inside the
    * write plan, no extra pass over the data. Falls through untouched
    * for tables without constraints (the common case costs one manifest
    * consult the write already paid for). */
  private[tx] def enforce(df: DataFrame, tableDir: Path): DataFrame = {
    val cs = list(tableDir.toString)
    if (cs.isEmpty) df
    else df.where(cs.map { case (name, sql) =>
      // short-circuit OR: satisfied/NULL rows never evaluate the error
      coalesce(expr(sql), lit(true)) ||
        raise_error(concat(lit(s"CHECK constraint $name violated: ($sql)")))
          .cast("boolean")
    }.reduce(_ && _))
  }

  /** Column names referenced by registered constraints — the guard
    * [[CommitLog.dropColumns]] consults so a drop cannot strand an
    * unresolvable constraint. Best-effort parse: an unparsable stored
    * expression contributes nothing (it will fail loudly at write time
    * regardless). */
  private[tx] def referencedColumns(table: String): Map[String, Seq[String]] =
    list(table).map { case (name, sql) =>
      val cols =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(sql).collect {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.nameParts.head.toLowerCase
          }.distinct
        catch { case scala.util.control.NonFatal(_) => Nil }
      name -> cols
    }.toMap

  private def writeAll(table: String, cs: Seq[(String, String)]): Unit = {
    val dir = Paths.get(table)
    TxIO.io.createDirectories(dir)
    TxIO.io.replace(dir.resolve(ConfigName),
      cs.map { case (n, e) => s"$n\t$e" }.mkString("\n").getBytes(UTF_8))
  }
}
