package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim

/** MERGE INTO's own semantics (M11, r16) — the dbt
  * incremental-materialization verb, the last §2.M stone. The plumbing
  * MERGE shares with UPDATE / DELETE / INSERT (the entry point
  * [[DmlViews.sql]], the temp-view target guard and re-point, the
  * assignment-key validator and the parser hook) lives in [[DmlViews]],
  * whose scaladoc says why the verbs run as interpreters over temp
  * views; this object only builds the merged rows.
  *
  * SEMANTICS (ANSI MERGE, the same contract Delta/Iceberg implement):
  * one full-outer join of target and source on the merge condition; for
  * each row the FIRST clause (in statement order, within its
  * matched / not-matched / not-matched-by-source group) whose condition
  * holds decides the row — UPDATE rewrites assigned columns (unassigned
  * keep the target value), DELETE drops the row, INSERT builds a row
  * from the assignments (unassigned columns NULL), `*` variants copy
  * source columns by name. A matched/target-only row no clause claims
  * survives unchanged; a source-only row no INSERT claims is skipped.
  * First-clause-wins falls out of a chained `when().otherwise()` —
  * exactly the expression Spark's own RewriteMergeIntoTable builds.
  * Cardinality ENFORCED (r17, cheapened r18): a target row matching
  * MULTIPLE source rows is the data error Delta raises as
  * DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW — this interpreter
  * detects it and fails the action with
  * GRAFT_MERGE_CARDINALITY_VIOLATION instead of silently emitting one
  * output row per join row. Matching Delta, an INSERT-ONLY merge (no
  * WHEN MATCHED and no WHEN NOT MATCHED BY SOURCE clauses) is exempt —
  * it takes a dedicated anti-join plan (below) under which a
  * multi-matched target row cannot duplicate, so duplicate-matching
  * sources succeed exactly as Delta's insert-only merges do. One
  * deliberate divergence remains: a merge with ONLY not-matched-by-
  * source clauses still enforces the guard (Delta would not), because
  * the full-outer plan would otherwise emit a matched target row once
  * per source match — stricter than Delta, never wrong. Assignments
  * are validated up front by [[DmlViews]]' validator (unknown,
  * duplicate or wrongly qualified keys throw; schema evolution is
  * refused).
  *
  * The source may be any named relation readable via `spark.table` OR
  * an aliased subquery (`USING (SELECT …) s`, r17) — the form dbt's
  * incremental materialization compiles to, analyzed through the
  * session like any `spark.sql` text.
  *
  * Scale posture: the physical plan is ONE shuffle join on the merge
  * keys (broadcast if one side is small — Spark's stats decide), the
  * same shape as the DataFrame `merge_upsert` (Relational.scala) and
  * `cdc_apply`; every clause is a codegen'd projection over the joined
  * row, no per-clause passes. The cardinality guard costs (r18):
  * when the ON condition is a pure conjunction of `t.x = s.y` equality
  * predicates (the dbt-incremental case and every board MERGE), the
  * detection is a SOURCE-side duplicate-key pre-count — a map-side-
  * combinable `GROUP BY merge-keys` whose count>1 survivors (normally
  * zero rows) join back onto the source before the merge join, so the
  * full-outer JOINED set is never re-shuffled and AQE broadcasts the
  * (runtime-tiny) dup set. Equivalence: under an equi ON, a target row
  * matches >1 source rows iff those source rows share the full key
  * tuple, i.e. iff the matched source row's key count exceeds 1. For
  * residual/non-equi ON conditions the r17 window form remains: a
  * per-target-row count of matched join rows over ONE window shuffle
  * keyed by a per-row target id (source-only rows get singleton
  * partitions via their own negated id — inserts never pile into one
  * null-key partition). Either way the raise_error is folded into the
  * keep predicate, so column pruning can never elide the check.
  * Insert-only merges skip the full-outer join entirely: target rows
  * pass through untouched and the inserts come from a LEFT ANTI join
  * of source against target — strictly cheaper, and the reason the
  * guard is unnecessary there.
  */
object MergeIntoViews {

  /** The SOURCE side additionally accepts an aliased subquery
    * (`USING (SELECT …) s`, r17) — the form dbt's incremental
    * materialization compiles to. The parsed child plan is analyzed
    * through the session like any `spark.sql` text; the target stays
    * named-relation-only (it must be re-pointable). */
  private def sourceOf(s: SparkSession, p: LogicalPlan)
      : (org.apache.spark.sql.DataFrame, String) = p match {
    case sa: SubqueryAlias => sa.child match {
      case _: UnresolvedRelation | _: SubqueryAlias =>
        val (n, _) = DmlViews.relOf(p); (s.table(n.mkString(".")), sa.alias)
      case subquery => (graftshim.ofRows(s, subquery), sa.alias)
    }
    case u: UnresolvedRelation =>
      (s.table(u.multipartIdentifier.mkString(".")),
        u.multipartIdentifier.last)
    case other => throw new IllegalArgumentException(
      "MERGE subquery source must be aliased (USING (SELECT …) s), " +
        s"got: ${other.nodeName}")
  }

  /** One clause of the merge, lowered to: a row-level guard, whether a
    * claimed row survives, and the value of each target column. */
  private final case class Clause(guard: Column, keep: Boolean,
      value: String => Column)

  /** True iff `cond` is a pure conjunction of `t.x = s.y` equality
    * predicates with every side explicitly qualified by the given
    * aliases; returns the SOURCE-side key column names (normalized to
    * the source schema's case) that the cheap duplicate-key guard can
    * pre-count on. Anything else — unqualified attributes, `<=>`,
    * residual predicates, a key that is not a plain source column —
    * returns None and the caller falls back to the window guard. */
  private def equiSourceKeys(cond: Expression, tAlias: String,
      sAlias: String, sourceCols: Array[String]): Option[Seq[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    if (tAlias.equalsIgnoreCase(sAlias)) return None
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    def qual(u: UnresolvedAttribute): Option[(String, String)] =
      u.nameParts match {
        case Seq(q, c) => Some((q, c))
        case _ => None
      }
    val keys = split(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        (qual(a), qual(b)) match {
          case (Some((qa, _)), Some((qb, cb)))
              if qa.equalsIgnoreCase(tAlias) &&
                qb.equalsIgnoreCase(sAlias) => Some(cb)
          case (Some((qa, ca)), Some((qb, _)))
              if qa.equalsIgnoreCase(sAlias) &&
                qb.equalsIgnoreCase(tAlias) => Some(ca)
          case _ => None
        }
      case _ => None
    }
    if (keys.isEmpty || keys.exists(_.isEmpty)) return None
    val normalized = keys.flatten
      .map(k => sourceCols.find(_.equalsIgnoreCase(k)))
    if (normalized.exists(_.isEmpty)) return None
    val ks = normalized.flatten
    if (ks.distinct.size == ks.size) Some(ks) else None
  }

  /** Build the merged-rows DataFrame (no side effects). */
  private[graft] def interpret(s: SparkSession, m: MergeIntoTable)
      : DataFrame = {
    val (tName, tAlias) = DmlViews.relOf(m.targetTable)
    val (source, sAlias) = sourceOf(s, m.sourceTable)
    val target = s.table(tName.mkString("."))
    val schema = target.schema

    def tcol(c: String): Column = col(s"$tAlias.$c")
    def scolCast(c: String): Column =
      col(s"$sAlias.$c").cast(schema(c).dataType)
    def condOf(c: Option[Expression]): Column =
      c.map(graftshim.column).getOrElse(lit(true))
    // assigned columns take the (type-aligned) assignment value;
    // unassigned columns take `miss` — target value for UPDATE, NULL
    // for INSERT. Name match is case-insensitive, like the analyzer's.
    def fromAssignments(clause: String, as: Seq[Assignment],
        miss: String => Column): String => Column = {
      val named = DmlViews.assigned(s"MERGE $clause", as, tAlias, schema)
      c => named.find(_._1.equalsIgnoreCase(c))
        .map(a => graftshim.column(a._2).cast(schema(c).dataType))
        .getOrElse(miss(c))
    }

    def insertClauses(srcOnly: Column): Seq[Clause] =
      m.notMatchedActions.map {
        case InsertStarAction(c) => Clause(srcOnly && condOf(c),
          keep = true, scolCast)
        case i: InsertAction => Clause(srcOnly && condOf(i.condition),
          keep = true, fromAssignments("WHEN NOT MATCHED INSERT",
            i.assignments, c => lit(null).cast(schema(c).dataType)))
        case other => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED action: ${other.nodeName}")
      }

    // INSERT-ONLY fast path (r18, the Delta contract): with no WHEN
    // MATCHED and no WHEN NOT MATCHED BY SOURCE clause, every target
    // row survives unchanged and only never-matched source rows can
    // act — so the plan is target UNION ALL (source LEFT ANTI target),
    // no full-outer join, no cardinality guard (a multi-matched target
    // row cannot duplicate here; Delta likewise exempts insert-only
    // merges from MULTIPLE_SOURCE_ROW_MATCHING).
    if (m.matchedActions.isEmpty && m.notMatchedBySourceActions.isEmpty) {
      val anti = source.as(sAlias)
        .join(target.as(tAlias), graftshim.column(m.mergeCondition),
          "left_anti")
      val clauses = insertClauses(lit(true))
      val keep = clauses.foldRight(lit(false): Column)((cl, acc) =>
        when(cl.guard, lit(cl.keep)).otherwise(acc))
      val outCols = schema.fields.toSeq.map { f =>
        clauses.foldRight(lit(null).cast(f.dataType): Column)((cl, acc) =>
          when(cl.guard, cl.value(f.name)).otherwise(acc)).as(f.name)
      }
      val inserts = anti
        .select(outCols :+ keep.as("__graft_keep"): _*)
        .filter(col("__graft_keep")).drop("__graft_keep")
      return target.select(schema.fieldNames.map(col).toSeq: _*)
        .unionAll(inserts)
    }

    require(Seq("__graft_t", "__graft_tid")
        .forall(c => !target.columns.contains(c)) &&
      Seq("__graft_s", "__graft_sid", "__graft_scnt")
        .forall(c => !source.columns.contains(c)),
      "MERGE presence-flag column name collision")

    // cardinality guard inputs (see the scale-posture paragraph): on a
    // pure-equi ON, pre-count duplicate source keys (map-side
    // combinable; the count>1 survivor set is normally EMPTY, so AQE
    // broadcasts the join-back) instead of windowing the joined set.
    val equiKeys = equiSourceKeys(m.mergeCondition, tAlias, sAlias,
      source.columns)
    // presence flags ride each side INTO the full-outer join: after it,
    // flag-null ⇔ that side contributed no row (null-safe even when
    // every data column of a side is legitimately null). On the window
    // fallback, per-row ids additionally feed the guard's partitioning.
    val t0 = target.withColumn("__graft_t", lit(true))
    val t = (if (equiKeys.isDefined) t0
      else t0.withColumn("__graft_tid", monotonically_increasing_id()))
      .as(tAlias)
    val src0 = equiKeys match {
      case Some(keys) =>
        val dups = source.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__graft_scnt"))
          .filter(col("__graft_scnt") > 1)
        source.join(dups, keys, "left")
          .withColumn("__graft_s", lit(true))
      case None =>
        source.withColumn("__graft_s", lit(true))
          .withColumn("__graft_sid", monotonically_increasing_id())
    }
    val src = src0.as(sAlias)
    val joined = t.join(src, graftshim.column(m.mergeCondition),
      "full_outer")
    val tP = col(s"$tAlias.__graft_t").isNotNull
    val sP = col(s"$sAlias.__graft_s").isNotNull
    val matched = tP && sP
    val srcOnly = !tP && sP
    val tgtOnly = tP && !sP

    val clauses: Seq[Clause] =
      m.matchedActions.map {
        case UpdateStarAction(c) => Clause(matched && condOf(c),
          keep = true, scolCast)
        case u: UpdateAction if u.fromStar && u.assignments.isEmpty =>
          Clause(matched && condOf(u.condition), keep = true, scolCast)
        case u: UpdateAction => Clause(matched && condOf(u.condition),
          keep = true,
          fromAssignments("WHEN MATCHED UPDATE", u.assignments, tcol))
        case DeleteAction(c) => Clause(matched && condOf(c),
          keep = false, tcol)
        case other => throw new IllegalArgumentException(
          s"unsupported WHEN MATCHED action: ${other.nodeName}")
      } ++
      insertClauses(srcOnly) ++
      m.notMatchedBySourceActions.map {
        case u: UpdateAction => Clause(tgtOnly && condOf(u.condition),
          keep = true, fromAssignments("WHEN NOT MATCHED BY SOURCE UPDATE",
            u.assignments, tcol))
        case DeleteAction(c) => Clause(tgtOnly && condOf(c),
          keep = false, tcol)
        case other => throw new IllegalArgumentException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: ${other.nodeName}")
      }

    // cardinality guard (r17, the Delta MULTIPLE_SOURCE_ROW_MATCHING
    // contract; r18 equi fast path): a matched count >1 means one
    // target row would be rewritten/duplicated once per source match,
    // which is a data error, not a merge. Equi ON: the count is the
    // pre-joined source-side key count riding the join (coalesce→1 for
    // keys the dup pre-count dropped; null only on target-only rows,
    // which are never `matched`). Fallback: count matched join rows per
    // target row over a window partitioned by the target row id where a
    // target row exists and by the (negated, disjoint-range) source row
    // id otherwise, so source-only rows sit in singleton partitions
    // instead of one giant null-key partition. The raise_error is
    // folded into the keep predicate below — the filter evaluates keep
    // for EVERY joined row, so column pruning can never elide the check.
    val matchCnt = equiKeys match {
      case Some(_) => coalesce(col(s"$sAlias.__graft_scnt"), lit(1L))
      case None =>
        val pkey = coalesce(col(s"$tAlias.__graft_tid"),
          -col(s"$sAlias.__graft_sid") - 1)
        sum(when(matched, 1L).otherwise(0L))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(pkey))
    }
    val cardinalityError = raise_error(concat(
      lit("GRAFT_MERGE_CARDINALITY_VIOLATION: a target row matched "),
      matchCnt.cast("string"),
      lit(" source rows under the merge condition; like Delta/Iceberg, " +
        "MERGE requires each target row to match at most one source " +
        "row — deduplicate the source on the merge keys")))
      .cast("boolean")
    // first-clause-wins: fold clauses in statement order into a chained
    // when(); the default (no clause claims the row) keeps target rows
    // unchanged and skips source-only rows
    val keep = when(matched && matchCnt > 1, cardinalityError)
      .otherwise(clauses.foldRight(tP: Column)((cl, acc) =>
        when(cl.guard, lit(cl.keep)).otherwise(acc)))
    val outCols = schema.fields.toSeq.map { f =>
      clauses.foldRight(tcol(f.name))((cl, acc) =>
        when(cl.guard, cl.value(f.name)).otherwise(acc)).as(f.name)
    }
    joined.select(outCols :+ keep.as("__graft_keep"): _*)
      .filter(col("__graft_keep")).drop("__graft_keep")
  }
}
