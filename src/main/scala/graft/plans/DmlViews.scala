package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.StructType

/** SQL-text DML over temp views: the warehouse-DML quartet MERGE (M11,
  * r16) and UPDATE / DELETE / INSERT (M12, r18). This module holds what
  * the four verbs share: the entry point, the target guard and re-point,
  * the assignment-key validator and the parser hook. It interprets
  * UPDATE, DELETE and INSERT itself; MERGE's own semantics live in
  * [[MergeIntoViews]].
  *
  * These are the verbs the reference's warehouse layer actually runs:
  * the daily load is an APPEND (`COPY raw_data."{table}"` —
  * daily_csv_pipeline.py:165, daily_parquet_pipeline.py:152 — the
  * Redshift spelling of `INSERT INTO … SELECT`), and dbt's incremental
  * models on Redshift compile either to `DELETE FROM tgt USING batch
  * WHERE key-match` + `INSERT INTO tgt SELECT …` (dbt's DEFAULT
  * incremental strategy there) or to `MERGE INTO` (the stock
  * dbt_project.yml the reference ships documents the incremental
  * materialization this quartet backs).
  *
  * Spark 4 PARSES all four statements for any relation, but analysis
  * requires a v2 catalog table with `SupportsRowLevelOperations` —
  * against a temp view they die with UNSUPPORTED_FEATURE.TABLE_OPERATION
  * / NOT_SUPPORTED_COMMAND_FOR_V2_TABLE (probed in SqlMergeSpec and
  * SqlDmlSpec, which pin the refusals so a Spark release that lifts them
  * is noticed). The engine runs without a v2 catalog, and its tables
  * are parquet-backed temp views, so the verbs are carried the
  * extension-library way: Spark's OWN parser produces `MergeIntoTable` /
  * `UpdateTable` / `DeleteFromTable` / `InsertIntoStatement`, [[run]]
  * interprets the plan over the session catalog — [[sql]] is the direct
  * API — and [[GraftSqlParser]] (injected by [[GraftExtensions]])
  * rewrites a temp-view-target statement to [[GraftDmlViewCommand]], so
  * a session built with `spark.sql.extensions=graft.plans.GraftExtensions`
  * runs raw `spark.sql` DML text end-to-end. Catalog tables pass through
  * untouched to Spark's native paths.
  *
  * The "table mutation" is a temp-view re-point: the new table value is
  * eagerly materialized (`graft.ops.materialize`, same discipline as
  * sql_ctas's read-back) and `createOrReplaceTempView`d over the target
  * name — the lazy-view equivalent of an atomic table swap.
  *
  * SCOPE: the TARGET must be a session-local temp view — enforced in
  * [[run]], because the re-point is `createOrReplaceTempView`: against a
  * real catalog table it would silently SHADOW the table (underlying
  * data unchanged) — catalog tables belong to Spark's native v2
  * row-level-operation path, which [[GraftSqlParser]] passes through
  * untouched — and a global temp view is not a valid
  * `createOrReplaceTempView` name.
  *
  * ASSIGNMENTS (UPDATE SET and MERGE's UPDATE / INSERT clauses) are
  * validated up front by one validator: a key that resolves
  * (case-insensitively, like the analyzer) to no target column, is
  * assigned twice in one clause, or is qualified by anything other than
  * the target alias (Spark's native MERGE rejects source-qualified keys
  * the same way) throws IllegalArgumentException naming the offender —
  * where silence would mean a typo'd UPDATE becoming a no-op. Schema
  * evolution (assigning a column the target lacks) is REFUSED
  * deliberately: a temp-view target could trivially grow a NULL column,
  * but Delta requires an explicit `spark.databricks.delta.schema.autoMerge`
  * opt-in for the same reason we refuse — a typo'd column name and an
  * intended evolution are indistinguishable in the statement, and the
  * silent default (insert NULLs, drop the new values) is the worst of
  * the three. Widen the target first (`SELECT *, CAST(NULL AS t) AS
  * newcol`), then run the statement — probed and pinned in SqlMergeSpec.
  *
  * SEMANTICS (ANSI; MERGE's in [[MergeIntoViews]]):
  *  - UPDATE: rows where the WHERE predicate is TRUE take the
  *    assignments (unassigned columns keep their value); FALSE and
  *    NULL rows are untouched. Assignment values may reference the
  *    row's (pre-update) columns — all assignments read the OLD row,
  *    per standard UPDATE semantics.
  *  - DELETE: rows where the predicate is TRUE are removed; FALSE and
  *    NULL rows survive (three-valued logic — `WHERE v > k` keeps
  *    NULL-v rows, pinned in SqlDmlSpec and the sql_delete oracle).
  *  - INSERT INTO (append) / INSERT OVERWRITE (replace): the query's
  *    columns map to the target POSITIONALLY (arity mismatch throws),
  *    through an explicit column list (`INSERT INTO t (c, a) SELECT …`
  *    — listed columns take the query's output in list order,
  *    unlisted columns get NULL, the v2 `useNullsForMissingDefaultColumnValues`
  *    default), or BY NAME (each query column must resolve,
  *    case-insensitively, to a unique target column). Values cast to
  *    the target column type, the same type-alignment MERGE applies.
  *    `PARTITION (…)` specs are refused — a view has no partitions.
  *
  * Scale posture: UPDATE and DELETE are ONE codegen'd projection /
  * filter over the target scan — no join, no shuffle; predicate and
  * assignment expressions run inside whole-stage codegen. INSERT is a
  * union of the target with the (cast) query result — no shuffle
  * beyond what the query itself does. At 100 TB these become the
  * copy-on-write file rewrites Delta/Iceberg run for the same
  * statements, and the view re-point becomes the table format's commit
  * (a manifest pointer swap); the per-row semantics — and everything
  * these interpreters validate — are identical.
  */
object DmlViews {

  /** Parse one DML statement (UPDATE / DELETE / INSERT / MERGE) with
    * Spark's SQL parser, execute it against the session's temp views,
    * and return the (re-pointed) target table. */
  def sql(s: SparkSession, sqlText: String): DataFrame =
    s.table(run(s, s.sessionState.sqlParser.parsePlan(sqlText)))

  /** Execute a parsed DML statement: check the target kind (see SCOPE
    * above), materialize the target's new rows, re-point the target temp
    * view at them, and return the target's name. */
  def run(s: SparkSession, plan: LogicalPlan): String = {
    val (table, interpret) = statement(s, plan).getOrElse(
      throw new IllegalArgumentException(
        s"not a DML statement: ${plan.nodeName}"))
    val (parts, _) = relOf(table)
    if (parts.size != 1 || !s.sessionState.catalog.isTempView(parts))
      throw new IllegalArgumentException(
        s"DML target ${parts.mkString(".")} must be a session-local " +
          "temp view: a catalog table would be silently SHADOWED by the " +
          "temp-view re-point (catalog tables take Spark's native v2 " +
          "row-level-operation path), and a global temp view cannot be " +
          "re-pointed by createOrReplaceTempView")
    // the new rows may read the target itself: materialize before re-point
    graft.ops.materialize(interpret()).createOrReplaceTempView(parts.head)
    parts.head
  }

  /** A DML statement's target relation and its interpreter (which builds
    * the target's new rows, no side effects); None for any other plan.
    * Under [[GraftExtensions]] the session parser already wraps a
    * temp-view-target statement in its command, which [[sql]] unwraps. */
  private[plans] def statement(s: SparkSession, plan: LogicalPlan)
      : Option[(LogicalPlan, () => DataFrame)] = plan match {
    case GraftDmlViewCommand(wrapped) => statement(s, wrapped)
    case u: UpdateTable => Some((u.table, () => interpretUpdate(s, u)))
    case dl: DeleteFromTable => Some((dl.table, () => interpretDelete(s, dl)))
    case i: InsertIntoStatement => Some((i.table, () => interpretInsert(s, i)))
    case m: MergeIntoTable =>
      Some((m.targetTable, () => MergeIntoViews.interpret(s, m)))
    case _ => None
  }

  /** (relation name parts, alias) of a parsed statement's target, or of
    * a MERGE source that names a relation. */
  private[plans] def relOf(p: LogicalPlan): (Seq[String], String) = p match {
    case sa: SubqueryAlias => (relOf(sa.child)._1, sa.alias)
    case u: UnresolvedRelation =>
      (u.multipartIdentifier, u.multipartIdentifier.last)
    case other => throw new IllegalArgumentException(
      "a DML target or MERGE source must be a named relation (temp view " +
        s"or table), got: ${other.nodeName}")
  }

  /** Validate one clause's assignments (see ASSIGNMENTS above) and return
    * them as (target column name, value) pairs. A key may be bare or
    * qualified by the target alias. */
  private[plans] def assigned(clause: String, as: Seq[Assignment],
      tAlias: String, schema: StructType): Seq[(String, Expression)] = {
    val named = as.map { a =>
      val name = a.key match {
        case ua: UnresolvedAttribute =>
          if (ua.nameParts.size > 1 && !(ua.nameParts.size == 2 &&
              ua.nameParts.head.equalsIgnoreCase(tAlias)))
            throw new IllegalArgumentException(
              s"$clause assignment key ${ua.nameParts.mkString(".")} must " +
                "be a bare target column or qualified by the target alias " +
                s"'$tAlias'")
          ua.nameParts.last
        case n: NamedExpression => n.name
        case other => other.sql
      }
      name -> a.value
    }
    val names = named.map(_._1)
    val unknown = names
      .filterNot(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"$clause references unknown target column(s) " +
        s"${unknown.mkString(", ")}; target columns are " +
        s"${schema.fieldNames.mkString(", ")}. Schema evolution is " +
        "not supported — widen the target view first, then run the " +
        "statement")
    val lower = names.map(_.toLowerCase)
    val dups = lower.diff(lower.distinct).distinct
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"$clause assigns target column(s) ${dups.mkString(", ")} " +
        "more than once")
    named
  }

  /** Build the updated rows (no side effects): one projection over the
    * target scan, `when(hit, assigned).otherwise(old)` per column. */
  private[graft] def interpretUpdate(s: SparkSession, u: UpdateTable)
      : DataFrame = {
    val (tName, tAlias) = relOf(u.table)
    val target = s.table(tName.mkString("."))
    val schema = target.schema
    val as = assigned("UPDATE SET", u.assignments, tAlias, schema)
    // WHERE is three-valued: only predicate-TRUE rows update
    val hit = u.condition.map(c => graftshim.column(c) <=> lit(true))
      .getOrElse(lit(true))
    val outCols = schema.fields.toSeq.map { f =>
      as.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, value)) => when(hit,
            graftshim.column(value).cast(f.dataType))
          .otherwise(col(s"$tAlias.${f.name}")).as(f.name)
        case None => col(s"$tAlias.${f.name}").as(f.name)
      }
    }
    target.as(tAlias).select(outCols: _*)
  }

  /** Build the surviving rows: predicate-TRUE rows drop, FALSE and
    * NULL survive — one codegen'd filter, no shuffle. No trailing
    * re-alias projection, deliberately: a filter preserves the schema,
    * and re-aliasing columns to their own names makes the subsequent
    * materialize capture a filter-derived constraint on the
    * PRE-projection attribute ids (`NOT (k#old = 3)` alongside output
    * ids k#new) — a stale set Union.rewriteConstraints later hits with
    * an unguarded AttributeMap lookup (key-not-found on a chained
    * UPDATE→DELETE→INSERT; pinned in SqlDmlSpec). Keeping the filter
    * bare keeps the checkpointed attribute ids — and therefore every
    * captured constraint — self-consistent. */
  private[graft] def interpretDelete(s: SparkSession, dl: DeleteFromTable)
      : DataFrame = {
    val (tName, tAlias) = relOf(dl.table)
    val target = s.table(tName.mkString("."))
    target.as(tAlias)
      .filter(!(graftshim.column(dl.condition) <=> lit(true)))
  }

  /** Build the post-insert table value: target ∪ (aligned query rows),
    * or just the aligned rows under OVERWRITE. */
  private[graft] def interpretInsert(s: SparkSession,
      i: InsertIntoStatement): DataFrame = {
    if (i.partitionSpec.nonEmpty || i.ifPartitionNotExists)
      throw new IllegalArgumentException(
        "INSERT ... PARTITION is not supported on a temp view — a view " +
          "has no partitions; write the partition columns in the SELECT")
    val (tName, _) = relOf(i.table)
    val target = s.table(tName.mkString("."))
    val schema = target.schema
    val src = graftshim.ofRows(s, i.query)
    // expression-derived query column names can contain dots/backticks
    // (`(o_totalprice + 0.5)`) that col() would parse as paths —
    // reference the query output POSITIONALLY through a safe rename
    val safe = src.toDF(src.columns.indices.map(i => s"__graft_c$i"): _*)
    def srcCol(idx: Int): Column = safe(s"__graft_c$idx")

    def dupCheck(names: Seq[String], what: String): Unit = {
      val lower = names.map(_.toLowerCase)
      val dups = lower.diff(lower.distinct).distinct
      if (dups.nonEmpty) throw new IllegalArgumentException(
        s"INSERT $what names column(s) ${dups.mkString(", ")} more than once")
    }

    val aligned: Seq[Column] =
      if (i.byName) {
        // BY NAME: every query column must resolve to a unique target
        // column; target columns the query omits get NULL
        dupCheck(src.columns.toSeq, "BY NAME query")
        val unknown = src.columns
          .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT BY NAME query column(s) ${unknown.mkString(", ")} " +
            s"match no target column; target columns are " +
            schema.fieldNames.mkString(", "))
        schema.fields.toSeq.map { f =>
          src.columns.indexWhere(_.equalsIgnoreCase(f.name)) match {
            case -1 => lit(null).cast(f.dataType).as(f.name)
            case idx => srcCol(idx).cast(f.dataType).as(f.name)
          }
        }
      } else if (i.userSpecifiedCols.nonEmpty) {
        // explicit column list: listed columns take the query output in
        // list order; unlisted target columns get NULL
        val listed = i.userSpecifiedCols
        dupCheck(listed, "column list")
        val unknown = listed
          .filterNot(c => schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT column list names unknown target column(s) " +
            s"${unknown.mkString(", ")}; target columns are " +
            schema.fieldNames.mkString(", "))
        if (listed.size != src.columns.length)
          throw new IllegalArgumentException(
            s"INSERT column list has ${listed.size} column(s) but the " +
              s"query produces ${src.columns.length}")
        schema.fields.toSeq.map { f =>
          listed.indexWhere(_.equalsIgnoreCase(f.name)) match {
            case -1 => lit(null).cast(f.dataType).as(f.name)
            case idx => srcCol(idx).cast(f.dataType).as(f.name)
          }
        }
      } else {
        // bare INSERT: positional, full arity
        if (src.columns.length != schema.fields.length)
          throw new IllegalArgumentException(
            s"INSERT query produces ${src.columns.length} column(s) but " +
              s"the target has ${schema.fields.length}")
        schema.fields.toSeq.zipWithIndex.map { case (f, idx) =>
          srcCol(idx).cast(f.dataType).as(f.name)
        }
      }
    val rows = safe.select(aligned: _*)
    if (i.overwrite) rows
    else target.select(schema.fieldNames.map(col).toSeq: _*).unionAll(rows)
  }
}

/** Executes a parsed DML statement over temp views at command-execution
  * time — the leaf [[GraftSqlParser]] rewrites a temp-view-target
  * statement to at parse time. A leaf so the embedded (still-unresolved)
  * statement is invisible to checkAnalysis; [[DmlViews.run]] re-resolves
  * it through the session catalog when the command runs — the same move
  * Spark's own CreateViewCommand makes with its unresolved child plan. */
final case class GraftDmlViewCommand(statement: LogicalPlan)
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    DmlViews.run(session, statement)
    Seq.empty
  }
}

/** Parser wrapper: `spark.sql("MERGE INTO <temp view> …")` (or UPDATE /
  * DELETE / INSERT) executes through [[DmlViews]] instead of dying in the
  * planner with UNSUPPORTED_FEATURE.TABLE_OPERATION. The interception
  * point is the PARSER (not a resolution rule) deliberately: by the time
  * an extendedResolutionRules entry sees the node, the analyzer has
  * already substituted the temp-view plans and rebound every action
  * expression to their attribute ids (probed — the rule form left the
  * resolved MergeIntoTable for the planner to reject), whereas the
  * parse-time plan still carries the raw names the interpreter
  * re-resolves through the session catalog. Scoped STRICTLY to
  * temp-view targets, checked at parse-CALL time against the live
  * catalog — a statement against a real v2 catalog table passes through
  * untouched to Spark's native row-level-operation path. */
final class GraftSqlParser(session: SparkSession,
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {

  private def rewrite(plan: LogicalPlan): LogicalPlan =
    DmlViews.statement(session, plan) match {
      case Some((target, _)) if isTempView(target) => GraftDmlViewCommand(plan)
      case _ => plan
    }
  private def isTempView(p: LogicalPlan): Boolean = p match {
    case sa: SubqueryAlias => isTempView(sa.child)
    case u: UnresolvedRelation =>
      session.sessionState.catalog.isTempView(u.multipartIdentifier)
    case _ => false
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))
  override def parsePlanWithParameters(sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    rewrite(delegate.parsePlanWithParameters(sqlText, ctx))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String)
      : org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String)
      : org.apache.spark.sql.types.StructType =
    delegate.parseRoutineParam(sqlText)
}
