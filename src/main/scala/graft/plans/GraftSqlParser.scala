package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.cdc.{DmlSql, MergeSql}

/** Parser injection ([[graft.functions.GraftExtensions]]) that makes
  * the literal statement `spark.sql("MERGE INTO t USING s ON … WHEN
  * …")` EXECUTE against graft tables — the last step of the SQL face:
  * builder API → statement text ([[MergeSql]]) → plain `spark.sql`.
  *
  * Spark's own parser accepts MERGE only to reject it later for any
  * table that doesn't implement DSv2 row-level operations, so
  * intercepting the statement class costs nothing that worked before.
  * Interception is three-staged to stay honest about whose error the
  * user sees:
  *  1. cheap prefix test (first keyword MERGE, comments skipped) —
  *     every other statement goes straight to the delegate;
  *  2. [[MergeSql]] structural parse at PARSE time — malformed MERGE
  *     falls through to the delegate, and if the delegate rejects it
  *     too, the graft parser's (far more specific) error is what
  *     propagates;
  *  3. target/location resolution at RUN time (the catalog cannot be
  *     consulted mid-parse), lowering onto the bucket-pruned
  *     persisted path with an auto-monotone lsn.
  * The command reports `touched_buckets` — the O(changes) receipt. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  /** Uppercase first keyword (comments/whitespace skipped), "" if
    * none — the cheap gate every statement passes through. */
  private def firstKeyword(sqlText: String): String = {
    var i = 0
    val n = sqlText.length
    var go = true
    while (go && i < n) {
      if (sqlText(i).isWhitespace) i += 1
      else if (i + 1 < n && sqlText(i) == '-' && sqlText(i + 1) == '-') {
        while (i < n && sqlText(i) != '\n') i += 1
      } else if (i + 1 < n && sqlText(i) == '/' && sqlText(i + 1) == '*') {
        val e = sqlText.indexOf("*/", i + 2)
        i = if (e < 0) n else e + 2
      } else go = false
    }
    val start = i
    while (i < n && (sqlText(i).isLetterOrDigit || sqlText(i) == '_')) i += 1
    sqlText.substring(start, i).toUpperCase
  }

  /** Only `DESCRIBE HISTORY …` is ours; every other DESCRIBE flavor
    * (TABLE/EXTENDED/FUNCTION/QUERY/…) belongs to the delegate. */
  private def isDescribeHistory(sqlText: String): Boolean = {
    val m = java.util.regex.Pattern
      .compile("^\\s*DESCRIBE\\s+HISTORY\\b", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(sqlText.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("--[^\n]*", " "))
    m.find() && m.start() == 0
  }

  /** Only `DESCRIBE DETAIL …` is ours; same rationale as HISTORY. */
  private def isDescribeDetail(sqlText: String): Boolean = {
    val m = java.util.regex.Pattern
      .compile("^\\s*DESCRIBE\\s+DETAIL\\b", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(sqlText.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("--[^\n]*", " "))
    m.find() && m.start() == 0
  }

  /** Only `ANALYZE TABLE … FOR COLUMNS …` is ours (the per-bucket
    * skipping-stats declaration); every other ANALYZE flavor (bare
    * COMPUTE STATISTICS, FOR ALL COLUMNS, PARTITION clauses, ANALYZE
    * TABLES) belongs to the delegate — and even the intercepted shape
    * falls back to the delegate's plan at RUN time when the target is
    * not a graft table (Spark's own catalog column stats). */
  private def isAnalyzeForColumns(sqlText: String): Boolean = {
    val clean = sqlText.replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("--[^\n]*", " ")
    val m = java.util.regex.Pattern
      .compile("^\\s*ANALYZE\\s+TABLE\\b",
        java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(clean)
    m.find() && m.start() == 0 &&
      java.util.regex.Pattern
        .compile("\\bFOR\\s+COLUMNS\\b",
          java.util.regex.Pattern.CASE_INSENSITIVE)
        .matcher(clean).find()
  }

  /** Only `CREATE TABLE … SHALLOW CLONE …` is ours; CREATE is the
    * broadest statement class there is, so every ordinary CREATE
    * bypasses the intercept entirely (a malformed ordinary CREATE
    * must get SPARK's error, never a graft clone error). */
  private def isShallowClone(sqlText: String): Boolean =
    java.util.regex.Pattern
      .compile("\\bSHALLOW\\s+CLONE\\b", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(sqlText.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("--[^\n]*", " "))
      .find()

  /** The shared 3-stage intercept: structural validate at parse time,
    * build the command; on OUR parse failure, delegate — and if the
    * delegate rejects too, the graft error (far more specific) wins.
    * A statement that validates ALSO captures the delegate's plan for
    * it (when the delegate can parse it at all): the command falls
    * back to that plan at RUN time if the resolved target turns out
    * not to be a graft table — see [[GraftSqlFallback]]. */
  private def intercept(sqlText: String, validate: String => Unit,
                        command: Option[LogicalPlan] => LogicalPlan)
      : LogicalPlan =
    try {
      validate(sqlText)
      command(scala.util.Try(delegate.parsePlan(sqlText)).toOption)
    }
    catch {
      case scala.util.control.NonFatal(graftErr) =>
        try delegate.parsePlan(sqlText)
        catch { case _: Throwable => throw graftErr }
    }

  override def parsePlan(sqlText: String): LogicalPlan =
    firstKeyword(sqlText) match {
      case "MERGE" =>
        intercept(sqlText, MergeSql.validateStatement,
          GraftMergeSqlCommand(sqlText, _))
      case "DELETE" =>
        intercept(sqlText, DmlSql.validateDelete,
          GraftDmlSqlCommand(sqlText, isUpdate = false, _))
      case "UPDATE" =>
        intercept(sqlText, DmlSql.validateUpdate,
          GraftDmlSqlCommand(sqlText, isUpdate = true, _))
      // HISTORY/DETAIL are not SPARK statements, but a coexisting
      // extension's parser (Delta ships both verbs) may accept them —
      // capture its plan so a non-graft target runs THEIRS instead of
      // dying in manifestOrFail (the GraftSqlFallback contract)
      case "DESCRIBE" if isDescribeHistory(sqlText) =>
        intercept(sqlText, DmlSql.validateDescribeHistory,
          GraftHistoryCommand(sqlText, _))
      case "DESCRIBE" if isDescribeDetail(sqlText) =>
        intercept(sqlText, DmlSql.validateDescribeDetail,
          GraftDetailCommand(sqlText, _))
      case "ALTER" =>
        intercept(sqlText, DmlSql.validateAlter, GraftAlterCommand(sqlText, _))
      case "OPTIMIZE" =>
        intercept(sqlText, DmlSql.validateOptimize,
          GraftMaintenanceCommand(sqlText, isVacuum = false, _))
      case "VACUUM" =>
        intercept(sqlText, DmlSql.validateVacuum,
          GraftMaintenanceCommand(sqlText, isVacuum = true, _))
      case "TRUNCATE" =>
        intercept(sqlText, DmlSql.validateTruncate,
          GraftTruncateCommand(sqlText, _))
      case "RESTORE" =>
        intercept(sqlText, DmlSql.validateRestore,
          GraftRestoreCommand(sqlText, _))
      case "REORG" =>
        intercept(sqlText, DmlSql.validateReorg,
          GraftReorgCommand(sqlText, _))
      case "CREATE" if isShallowClone(sqlText) =>
        intercept(sqlText, DmlSql.validateShallowClone,
          GraftShallowCloneCommand(sqlText, _))
      case "ANALYZE" if isAnalyzeForColumns(sqlText) =>
        intercept(sqlText, DmlSql.validateAnalyze,
          GraftAnalyzeCommand(sqlText, _))
      case _ => delegate.parsePlan(sqlText)
    }

  // everything below is pure delegation
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** Run-time non-graft fallback shared by the intercepted commands: a
  * statement that PARSES as graft DDL/DML may still target a table
  * that is not graft at all — a Delta/Iceberg row-level table when
  * extensions coexist, or a native v2 table Spark's own ALTER
  * handles. Hijacking those into tableLocation/manifestOrFail
  * runtime errors would break statements that worked before the
  * parser was injected, so: if the target resolves to a catalog
  * LOCATION that holds no graft manifest, execute the DELEGATE's
  * captured plan instead (its result rows are side-effect receipts
  * of the foreign engine and are not re-shaped into the graft
  * output — the command returns no rows on that path). A target
  * with NO resolvable location (temp view, missing table) stays on
  * the graft path, whose error is the specific, helpful one.
  *
  * Scope (r16 ADVICE medium): the fallback applies ONLY to
  * side-effect commands whose rows are receipts (DML, ALTER,
  * maintenance). ROW-PRODUCING commands (DESCRIBE HISTORY/DETAIL)
  * never take it — their delegate plan is Spark's describe-column
  * misparse whose rows would be discarded or wrong-schema'd, so they
  * keep the old no-fallback behavior and raise the specific graft
  * error on non-graft targets.
  *
  * The graft path receives the location this probe resolved, so a
  * statement that uses it (MERGE/UPDATE/DELETE) looks its target up
  * once; None leaves the lookup, and its specific error, to the graft
  * path. */
private[plans] object GraftSqlFallback {
  def run(session: SparkSession, targetName: Option[String],
          fallback: Option[LogicalPlan])
         (graftRun: Option[String] => Seq[Row]): Seq[Row] = {
    val loc = targetName.flatMap(DmlSql.resolvedLocation(session, _))
    val nonGraft = loc.exists(d => !DmlSql.hasGraftManifest(session, d))
    fallback match {
      case Some(plan) if nonGraft =>
        session.sessionState.executePlan(plan).executedPlan.executeCollect()
        Seq.empty
      case _ => graftRun(loc)
    }
  }
}

/** The eagerly-run command a parsed MERGE statement becomes: resolve
  * the target's location (public DESCRIBE surface), lower the clauses
  * onto [[graft.ops.cdc.MergeInto.mergeIntoTable]] with lsn =
  * manifest version + 1 (monotone, clockless — the INSERT INTO rule).
  * Output: one row, the count of buckets the merge touched. */
final case class GraftMergeSqlCommand(sqlText: String,
                                      fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("touched_buckets", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session, MergeSql.targetName(sqlText), fallback) { loc =>
      val touched = MergeSql.mergeCatalogTableAuto(session, sqlText, loc)
      Seq(Row(touched.size.toLong))
    }
}

/** `DELETE FROM t [WHERE …]` / `UPDATE t SET … [WHERE …]` against a
  * graft catalog table — same command shape as MERGE ([[DmlSql]] owns
  * the grammar and the one-scan + bucket-pruned-merge lowering). */
final case class GraftDmlSqlCommand(sqlText: String, isUpdate: Boolean,
                                    fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("touched_buckets", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.dmlTargetName(sqlText, isUpdate)), fallback) { loc =>
      val touched =
        if (isUpdate) DmlSql.updateCatalogTable(session, sqlText, loc)
        else DmlSql.deleteCatalogTable(session, sqlText, loc)
      Seq(Row(touched.size.toLong))
    }
}

/** `DESCRIBE HISTORY t` — the per-version audit frame
  * ([[graft.ops.cdc.PartitionedUpsert.historyDf]]) through plain SQL;
  * rows are driver-bounded (vacuum caps manifest count). */
final case class GraftHistoryCommand(sqlText: String,
                                     fallback: Option[LogicalPlan] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("commit_time_ms", LongType, nullable = false)(),
    AttributeReference("n_buckets", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("layout", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("key_col", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("changed_buckets", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("files", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("max_lsn", LongType, nullable = true)(),
    AttributeReference("txns", org.apache.spark.sql.types.StringType,
      nullable = false)())

  // NO delegate fallback (r16 ADVICE medium): this command PRODUCES
  // rows, and the delegate's plan for `DESCRIBE HISTORY t` is Spark's
  // describe-column-t-of-table-HISTORY misparse — running it on a
  // non-graft target yields a confusing "table HISTORY" error (or,
  // worse, silently ZERO rows under graft's schema if a table named
  // `history` exists). The graft path's own "not an initialized
  // upsert target" error is the helpful outcome; side-effect-receipt
  // commands (DML/ALTER/maintenance) keep the fallback.
  override def run(session: SparkSession): Seq[Row] =
    DmlSql.describeHistoryTable(session, sqlText).collect().toSeq
}

/** `DESCRIBE DETAIL t` — the one-row current-state summary
  * ([[graft.ops.cdc.PartitionedUpsert.detailDf]]: footprint, layout,
  * merge-on-read debt, clone borrows, CHECK constraints) through
  * plain SQL. */
final case class GraftDetailCommand(sqlText: String,
                                    fallback: Option[LogicalPlan] = None)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = {
    val S = org.apache.spark.sql.types.StringType
    val I = org.apache.spark.sql.types.IntegerType
    Seq(
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("commit_time_ms", LongType, nullable = false)(),
      AttributeReference("format", S, nullable = false)(),
      AttributeReference("layout", S, nullable = false)(),
      AttributeReference("key_col", S, nullable = false)(),
      AttributeReference("n_buckets", I, nullable = false)(),
      AttributeReference("populated_buckets", I, nullable = false)(),
      AttributeReference("files", LongType, nullable = false)(),
      AttributeReference("bytes", LongType, nullable = false)(),
      AttributeReference("tombstone_sidecars", LongType, nullable = false)(),
      AttributeReference("tombstone_bytes", LongType, nullable = false)(),
      AttributeReference("borrowed_buckets", LongType, nullable = false)(),
      AttributeReference("check_constraints", S, nullable = false)(),
      AttributeReference("schema_json", S, nullable = false)())
  }

  // No delegate fallback — row-producing command, same rationale as
  // [[GraftHistoryCommand]] (r16 ADVICE medium).
  override def run(session: SparkSession): Seq[Row] =
    DmlSql.describeDetailTable(session, sqlText).collect().toSeq
}

/** `ALTER TABLE t RENAME COLUMN / ALTER COLUMN … TYPE / DROP COLUMN`
  * against a graft table → atomic schema evolution; every OTHER
  * ALTER flavor fails [[DmlSql.validateAlter]] and delegates to
  * Spark's parser (the 3-stage contract). */
final case class GraftAlterCommand(sqlText: String,
                                   fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.alterTargetName(sqlText)), fallback) { _ =>
      DmlSql.alterCatalogTable(session, sqlText)
      Seq.empty
    }
}

/** `TRUNCATE TABLE t` against a graft table → the ONE metadata-only
  * empty-manifest commit ([[DmlSql.truncateCatalogTable]] →
  * PartitionedUpsert.truncate — no data I/O, no per-row delete frame;
  * that scaladoc owns the contract); non-graft targets fall back to
  * Spark's own TruncateTableCommand. */
final case class GraftTruncateCommand(sqlText: String,
                                      fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.truncateTargetName(sqlText)), fallback) { _ =>
      DmlSql.truncateCatalogTable(session, sqlText)
      Seq.empty
    }
}

/** `RESTORE TABLE t TO VERSION AS OF n` / `TO TIMESTAMP AS OF …` —
  * Delta's RESTORE as a metadata-only manifest republish
  * ([[graft.ops.cdc.PartitionedUpsert.restoreVersion]] owns the
  * contract: zero data I/O, txn cursors kept current, rolled-back
  * versions stay time-travelable). Spark has no RESTORE statement,
  * so there is no delegate fallback to lose; non-graft targets get
  * the specific graft error. */
final case class GraftRestoreCommand(sqlText: String,
                                     fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.restoreTargetName(sqlText)), fallback) { _ =>
      DmlSql.restoreCatalogTable(session, sqlText)
      Seq.empty
    }
}

/** `REORG TABLE t APPLY (PURGE)` — pay down merge-on-read delete
  * debt: rewrite tombstoned buckets with deletes applied, retire the
  * sidecars ([[graft.ops.cdc.PartitionedUpsert.purgeTombstones]] owns
  * the contract). Reports the purged buckets; Spark has no REORG
  * statement, so non-graft targets get the specific graft error. */
final case class GraftReorgCommand(sqlText: String,
                                   fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("touched_buckets", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.reorgTargetName(sqlText)), fallback) { _ =>
      Seq(Row(DmlSql.reorgCatalogTable(session, sqlText).size.toLong))
    }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION/TIMESTAMP AS OF …]
  * LOCATION '<path>'` — metadata-only table fork
  * ([[graft.ops.cdc.PartitionedUpsert.clone]] owns the contract) plus
  * catalog registration of the clone. The SOURCE is the graft-ness
  * probe for the fallback (a clone of a non-graft table belongs to
  * whatever engine owns it — Spark has no CLONE, so in practice the
  * specific graft error surfaces). */
final case class GraftShallowCloneCommand(sqlText: String,
                                          fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.shallowCloneSourceName(sqlText)), fallback) { _ =>
      DmlSql.shallowCloneCatalogTable(session, sqlText)
      Seq.empty
    }
}

/** `OPTIMIZE t [MAXFILES n]` / `VACUUM t [KEEP n]` — the maintenance
  * statements ([[DmlSql]] owns grammar + lowering onto
  * compactFiles/vacuum). OPTIMIZE reports compacted buckets; VACUUM
  * reports 0 (reclamation has no bucket receipt). */
/** `ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS …` — records the
  * manifest's per-bucket skipping stats for the named columns with
  * one agg scan and a metadata-only commit ([[DmlSql]] owns grammar,
  * [[graft.ops.cdc.PartitionedUpsert.analyzeColumns]] the engine).
  * Receipt: one row per column with the bucket counts each stats
  * face recorded. */
final case class GraftAnalyzeCommand(sqlText: String,
                                     fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("column",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("range_buckets", LongType, nullable = false)(),
    AttributeReference("bound_buckets", LongType, nullable = false)(),
    AttributeReference("nullcount_buckets", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    GraftSqlFallback.run(session,
      Some(DmlSql.analyzeTargetName(sqlText)), fallback) { _ =>
      DmlSql.analyzeCatalogTable(session, sqlText).map {
        case (c, l, s, n) => Row(c, l, s, n)
      }
    }
}

final case class GraftMaintenanceCommand(sqlText: String, isVacuum: Boolean,
                                         fallback: Option[LogicalPlan])
    extends LeafRunnableCommand {

  // `VACUUM … DRY RUN` previews the reclaim set as path rows (the
  // Delta output shape); every other maintenance form keeps the
  // bucket-count receipt
  private def isDryRun: Boolean =
    isVacuum && scala.util.Try(DmlSql.vacuumIsDryRun(sqlText)).getOrElse(false)

  override val output: Seq[Attribute] =
    if (isDryRun)
      Seq(AttributeReference("path",
        org.apache.spark.sql.types.StringType, nullable = false)())
    else
      Seq(AttributeReference("touched_buckets", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val verb = if (isVacuum) "VACUUM" else "OPTIMIZE"
    GraftSqlFallback.run(session,
      Some(DmlSql.maintTargetName(sqlText, verb)), fallback) { _ =>
      if (isDryRun)
        DmlSql.vacuumDryRunCatalogTable(session, sqlText).map(Row(_))
      else if (isVacuum) {
        DmlSql.vacuumCatalogTable(session, sqlText); Seq(Row(0L))
      } else Seq(Row(DmlSql.optimizeCatalogTable(session, sqlText).size.toLong))
    }
  }
}
