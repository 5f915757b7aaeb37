package graft.pipeline

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** dbt-shaped model-graph runner (K5/K7 completion, r17; r18 adds
  * durable incremental state, the `snapshot` materialization, and the
  * dbt schema-test battery).
  *
  * The reference's transform layer IS dbt: SQL models that name each
  * other, materialized in dependency order by an external `dbt run`
  * shell-out (`dags/dbt_dags.py:48-78`; `dbt_project.yml:32-36` sets
  * `+materialized: table`, so every model compiles to a DROP + CTAS).
  * The engine had every piece — CTAS (M8), the SQL-text surface (§2.M),
  * programmatic model bodies (Consolidate) — but no declared "run a
  * model set". This is that runner: each model is a name + SQL text in
  * which `{{ ref('other') }}` marks a dependency on another model of
  * the set (dbt's only graph edge); [[ModelGraph.run]] topologically
  * orders the set (Kahn's algorithm, stable w.r.t. declaration order,
  * cycles rejected with the offending path named), substitutes each
  * ref with the referenced model's materialized relation name, and
  * materializes each model under its own name — `view`
  * (CREATE OR REPLACE TEMPORARY VIEW), `table` (DROP IF EXISTS +
  * CTAS, exactly dbt's table materialization), `incremental`
  * (upsert-on-uniqueKey through the M11 MERGE interpreter), or
  * `snapshot` (SCD2 type-2 history through [[graft.ops.Scd2]] — dbt's
  * snapshot verb, check strategy), or `ephemeral` (never materialized —
  * the body compiles into each consumer as a CTE prelude, dbt's fifth
  * materialization; see [[inlineEphemerals]]; tests against an
  * ephemeral model recompile the same inlined text).
  *
  * Relations that are NOT models — the reference's
  * `FROM raw_data."{date}_box_office"` daily tables — stay bare names
  * resolved by the session catalog, dbt's `source()` convention; a
  * `ref()` naming no model in the set is an error (same as dbt's
  * compile-time "model not found"), because a typo'd ref silently
  * falling through to the catalog would read stale relations. The same
  * never-read-stale policy guards materialization collisions (r18): a
  * `table` model whose name is shadowed by an existing temp view
  * throws (temp views shadow catalog tables, so downstream `ref()`
  * consumers would silently read the stale view), and a stateful
  * (`incremental`/`snapshot`) model whose name is an existing catalog
  * table throws (its state view would silently shadow the table).
  *
  * STATE DURABILITY (r18): `incremental` and `snapshot` state lives in
  * a parquet commit store under [[stateRoot]] — per model a directory
  * of numbered `commit_N` parquet dirs, each published whole by
  * [[graft.ops.PersistedStore.publishDir]]; the newest `commit_N` is
  * the state and a run commits N+1, then prunes older commits. A fresh
  * session therefore RESUMES the upsert/snapshot history exactly where
  * the last one left it, like dbt's warehouse-table state — first-run
  * detection keys on the store, never on temp-view existence (r17
  * ADVICE). On resume the persisted schema is validated against the
  * model SELECT (names+types, order-insensitive) and a mismatch throws
  * naming both — the refused alternative is dbt's `--full-refresh`,
  * spelled [[reset]]. Single-writer per model, like dbt's one-process
  * run.
  *
  * SCHEMA TESTS (r18): dbt's built-in `tests:` battery — `unique`,
  * `not_null`, `accepted_values`, `relationships` — declared per model
  * and run by [[test]] AFTER materialization, each test one aggregate
  * over the materialized relation, reported as (model, test, col_name,
  * violations, passed) with dbt's failure-count semantics (unique: #
  * of non-null values appearing more than once; not_null: # of null
  * rows; accepted_values: # of distinct values outside the list, null
  * exempt; relationships: # of non-null child rows whose value is
  * absent from the referenced model's column).
  *
  * Scale posture: the runner adds NOTHING to the physical plans — each
  * model's SQL plans exactly as it would standalone, `view` models
  * inline into their consumers (Catalyst sees the whole chain and
  * prunes/pushes across model boundaries), `table` models are the
  * explicit materialization barrier dbt tables are (scan→…→parquet
  * write, the M8 shape), stateful models pay one parquet write per
  * commit (the table format's commit cost). Ordering and cycle
  * detection are |models|-sized driver work on names only; each schema
  * test is one map-side-combinable aggregate. Materialization is
  * level-parallel, dbt's `threads` semantics: [[topoLevels]] groups the
  * models whose refs are all built, and no model of a level refs
  * another, so a wider level builds its models at the same time — every
  * body is rendered on the caller before the first level builds, then a
  * wider level takes one thread per model on a fixed pool made for that
  * level and shut down after it (a fresh pool, because Spark copies
  * local properties into a thread at its creation). The level's width is the parallelism, with
  * no knob: Spark's scheduler shares the cores among the siblings'
  * jobs, so the per-job driver gaps of one model (planning, commit,
  * listing) overlap another's tasks. A level of one model builds on the
  * calling thread with no pool. On failure every sibling still
  * finishes, the first failure in declaration order is rethrown as
  * itself, and no later level starts — dbt's skip of the models
  * downstream of an error. Compile count is per distinct operator, not
  * per branch: a run names its generated classes without the codegen
  * stage id, so the same-typed branches of an N-way UNION ALL share one
  * compiled class (see [[sharedCodegenClasses]]).
  *
  * Cited reference behavior: dbt_dags.py:48-78 (ordered `dbt run` per
  * model), box_office_data.sql / box_office_showrange.sql (the two
  * models PipelineSpec reproduces through this runner against
  * Consolidate's DataFrame implementations),
  * dbt_project/dbt_project/snapshots/ (the empty scaffold the
  * `snapshot` materialization fills).
  */
object ModelGraph {

  /** One dbt schema test (dbt's `tests:` block under a model column). */
  sealed trait ModelTest { def testName: String; def column: String }
  /** No non-null value may appear more than once. */
  final case class Unique(column: String) extends ModelTest {
    val testName = "unique"
  }
  /** No row may be null. */
  final case class NotNull(column: String) extends ModelTest {
    val testName = "not_null"
  }
  /** Every non-null value must be one of `values`. */
  final case class AcceptedValues(column: String, values: Seq[String])
      extends ModelTest {
    val testName = "accepted_values"
  }
  /** Every non-null value must exist in `toModel`.`toColumn`
    * (referential integrity; `toModel` must be a model in the set). */
  final case class Relationships(column: String, toModel: String,
      toColumn: String) extends ModelTest {
    val testName = "relationships"
  }

  /** One dbt-style model: SQL text with `{{ ref('name') }}` edges,
    * materialized as a temp `view` (default), a catalog `table`,
    * `incremental` (upsert-on-uniqueKey; `incrementalStrategy` picks
    * dbt's `merge` (default) or `delete+insert` — see [[run]]),
    * `snapshot` (SCD2 on uniqueKey; `checkCols` is dbt's `check_cols`
    * — empty means `all` non-key columns), or `ephemeral` (CTE-inlined
    * into consumers). `tests` run via [[test]] after materialization. */
  final case class Model(name: String, sql: String,
      materialized: String = "view", uniqueKey: Seq[String] = Nil,
      checkCols: Seq[String] = Nil, tests: Seq[ModelTest] = Nil,
      incrementalStrategy: String = "merge")

  private val Ref =
    """\{\{\s*ref\(\s*['"]([A-Za-z0-9_]+)['"]\s*\)\s*\}\}""".r

  /** Model names referenced by `{{ ref('…') }}` in a model body. */
  def refs(sql: String): Seq[String] =
    Ref.findAllMatchIn(sql).map(_.group(1)).toList.distinct

  /** Substitute each ref marker with its model's relation name (models
    * materialize under their own names, so this is the identity on the
    * captured name — kept separate so a prefixing scheme has one seam). */
  def render(m: Model): String =
    Ref.replaceAllIn(m.sql, mm => mm.group(1))

  private val LeadingWith = """(?is)^\s*WITH\s+(.*)""".r

  /** Inline a model's directly-referenced EPHEMERAL models as a CTE
    * prelude — dbt's ephemeral materialization: the model is never
    * materialized anywhere, its body compiles into each consumer as
    * `WITH <name> AS (<body>)`. Each recorded ephemeral body is
    * already SELF-CONTAINED (its own ephemeral refs were inlined when
    * it was processed, nesting as subquery-level WITHs), so consumers
    * only splice their direct refs. A consumer that already opens with
    * WITH gets the prelude SPLICED into its clause list, exactly as
    * dbt's compiler does; WITH RECURSIVE consumers are refused (the
    * prelude cannot precede the RECURSIVE keyword). */
  private def inlineEphemerals(m: Model,
      ephemerals: Seq[(String, String)]): String = {
    val need = refs(m.sql).toSet
    val ctes = ephemerals.filter(e => need(e._1))
    val body = render(m)
    if (ctes.isEmpty) return body
    val prelude = ctes.map { case (n, b) => s"$n AS ($b)" }.mkString(", ")
    body match {
      case LeadingWith(rest) =>
        require(!rest.trim.toUpperCase.startsWith("RECURSIVE"),
          s"model ${m.name}: a WITH RECURSIVE consumer cannot inline " +
            "ephemeral refs — materialize the referenced model as a " +
            "view instead")
        s"WITH $prelude, $rest"
      case _ => s"WITH $prelude $body"
    }
  }

  /** Dependency-order the set: Kahn's algorithm, stable w.r.t.
    * declaration order among ready models. Unknown refs and cycles
    * throw with the offenders named. */
  def topoOrder(models: Seq[Model]): Seq[Model] = topoLevels(models).flatten

  /** The Kahn walk behind [[topoOrder]], one batch per round: level k
    * holds the models whose refs all sit in levels < k, in declaration
    * order. No model refs a sibling, so a level's models can build side
    * by side ([[run]]). Unknown refs and cycles throw as [[topoOrder]]. */
  def topoLevels(models: Seq[Model]): Seq[Seq[Model]] = {
    val names = models.map(_.name)
    val dupNames = names.diff(names.distinct).distinct
    require(dupNames.isEmpty,
      s"duplicate model name(s): ${dupNames.mkString(", ")}")
    val deps: Map[String, Seq[String]] =
      models.map(m => m.name -> refs(m.sql)).toMap
    models.foreach { m =>
      val unknown = deps(m.name).filterNot(deps.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"model ${m.name} references unknown model(s) " +
          s"${unknown.mkString(", ")} — ref() must name a model in the " +
          "set; non-model relations are read by bare name (source())")
    }
    val levels = Seq.newBuilder[Seq[Model]]
    var done = Set.empty[String]
    var remaining = models
    while (remaining.nonEmpty) {
      val (ready, blocked) =
        remaining.partition(m => deps(m.name).forall(done))
      if (ready.isEmpty) {
        // every blocked model sits on or feeds a cycle; walk one out
        val blockedNames = blocked.map(_.name).toSet
        val path = Seq.newBuilder[String]
        var seen = Set.empty[String]
        var cur = blocked.head.name
        while (!seen(cur)) {
          path += cur; seen += cur
          cur = deps(cur).find(blockedNames).get
        }
        throw new IllegalArgumentException(
          s"model graph has a cycle: ${(path.result() :+ cur).mkString(" -> ")}")
      }
      levels += ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    levels.result()
  }

  // ---------------------------------------------------------------
  // Durable state store (incremental + snapshot materializations)
  // ---------------------------------------------------------------

  /** Root of the per-model parquet commit stores. Overridable via the
    * session conf `spark.graft.modelgraph.stateRoot` (specs point it at
    * scratch dirs); the version token keeps a semantics change from
    * silently resuming a previous build's state out of the persistent
    * tmpdir — the PersistedStore discipline. */
  def stateRoot(spark: SparkSession): String =
    spark.conf.get("spark.graft.modelgraph.stateRoot",
      s"${System.getProperty("java.io.tmpdir")}/graft_mg_state_v1")

  private def stateDir(spark: SparkSession, name: String) =
    new java.io.File(stateRoot(spark), name)

  private val Commit = "commit_(\\d+)".r

  /** The model's published commits: each `commit_N` dir with its N. */
  private def commits(spark: SparkSession, name: String)
      : Seq[(Int, java.io.File)] =
    Option(stateDir(spark, name).listFiles()).getOrElse(Array.empty).toSeq
      .flatMap(f => f.getName match {
        case Commit(n) => Some(n.toInt -> f)
        case _ => None
      })

  /** The committed state: the newest `commit_N`, if any was published. */
  private def latestCommit(spark: SparkSession, name: String)
      : Option[(Int, java.io.File)] = commits(spark, name).maxByOption(_._1)

  /** Publish `df` as the model's next commit `commit_N` through
    * [[graft.ops.PersistedStore.publishDir]], then prune the commits
    * older than N. Returns the committed parquet read back. */
  private def commitState(spark: SparkSession, name: String,
      df: DataFrame): DataFrame = {
    val n = latestCommit(spark, name).map(_._1).getOrElse(0) + 1
    val commit = new java.io.File(stateDir(spark, name), s"commit_$n")
    val won = graft.ops.PersistedStore.publishDir(spark, commit) { tmp =>
      df.write.mode("overwrite").parquet(tmp)
    }
    if (!won)
      throw new IllegalStateException(
        s"model $name: commit_$n already exists — the state store is " +
          "single-writer per model (concurrent runs are a config error)")
    // prune superseded commits (best-effort; commit_N already rules)
    commits(spark, name).foreach { case (k, f) =>
      if (k < n) FileUtil.fullyDelete(f)
    }
    spark.read.parquet(commit.getAbsolutePath)
  }

  /** dbt's `--full-refresh`: drop a stateful model's durable state (and
    * its session view) so the next run first-loads. */
  def reset(spark: SparkSession, name: String): Unit = {
    FileUtil.fullyDelete(stateDir(spark, name))
    spark.catalog.dropTempView(name): Unit
  }

  /** Resume guard: the persisted state must still match the model
    * SELECT's schema (names + types, order-insensitive; state may
    * additionally carry the SCD2 meta columns) — a drifted model is the
    * error dbt surfaces at merge time, raised here with both schemas
    * named and the reset() way out. */
  private def validateResume(name: String, state: DataFrame,
      fresh: DataFrame, extraOk: Set[String]): Unit = {
    def sig(df: DataFrame, drop: Set[String]) = df.schema.fields
      .filterNot(f => drop.contains(f.name))
      .map(f => (f.name.toLowerCase, f.dataType.sql)).sortBy(_._1).toSeq
    val got = sig(state, extraOk)
    val want = sig(fresh, Set.empty)
    if (got != want) throw new IllegalArgumentException(
      s"model $name: persisted state schema " +
        s"${got.map(p => p._1 + " " + p._2).mkString("[", ", ", "]")} " +
        "does not match the model SELECT " +
        s"${want.map(p => p._1 + " " + p._2).mkString("[", ", ", "]")} — " +
        "the model drifted since its state was built; " +
        "ModelGraph.reset(spark, name) full-refreshes it")
  }

  /** Materialize every model in dependency order; returns each model's
    * relation read back from the session catalog. Models build level by
    * level ([[topoLevels]]): a level of one model builds on the calling
    * thread, the models of a wider level build at the same time (dbt's
    * `threads`), and a failure stops the run after its level. Single
    * writer per model, like dbt's one-process run.
    *
    * `incremental` (r17, durable r18) is dbt's incremental
    * materialization, carried by the M11 MERGE interpreter it was built
    * for: the FIRST run commits the model's current rows to the durable
    * store; every later run upserts the model SELECT's current rows
    * into that state on `uniqueKey` — matched keys take the new row
    * (`UPDATE SET *`), new keys insert (`INSERT *`), keys absent from
    * the batch SURVIVE (the whole point: dbt users filter the model SQL
    * to the new partition with `is_incremental()`, here the SQL is
    * whatever the caller scoped it to). A batch with duplicate
    * uniqueKey rows fails with MergeIntoViews'
    * GRAFT_MERGE_CARDINALITY_VIOLATION — the same data error dbt
    * surfaces as a dup-key model.
    *
    * `snapshot` (r18) is dbt's snapshot verb: each run applies the
    * model SELECT as one SCD2 batch (check strategy on `checkCols`,
    * all non-key columns when empty) stamped `snapshotAt` — dbt stamps
    * the run's wall clock, which is the default; deterministic replays
    * pass an explicit literal. */
  def run(spark: SparkSession, models: Seq[Model],
      snapshotAt: Column = current_timestamp()): Map[String, DataFrame] =
    sharedCodegenClasses(spark) {
      compiled(models).flatMap { level =>
        val builds = level.map { case (m, body) =>
          () => materialize(spark, m, body, snapshotAt)
        }
        val rels =
          if (builds.size == 1) Seq(builds.head()) else inParallel(builds)
        level.map(_._1.name).zip(rels)
      }.toMap
    }

  /** Every model's compiled body, grouped as [[topoLevels]]: refs
    * substituted, direct ephemeral refs inlined as a CTE prelude. Text
    * only, rendered on the caller in [[topoOrder]], so each ephemeral
    * body is recorded before any consumer renders. [[run]] builds from
    * these bodies and [[test]] recompiles ephemeral models from them. */
  private def compiled(models: Seq[Model]): Seq[Seq[(Model, String)]] = {
    val ephemerals = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    topoLevels(models).map(_.map { m =>
      val body = inlineEphemerals(m, ephemerals.toSeq)
      if (m.materialized == "ephemeral") ephemerals += m.name -> body
      m -> body
    })
  }

  /** Run `body` with whole-stage codegen classes named without their
    * stage id (`spark.sql.codegen.useIdInClassName=false`), then restore
    * the caller's exact setting: a value the caller set comes back, an
    * unset key is unset again. The N branches of a model's UNION ALL
    * generate the same Java source apart from that id, so named without
    * it they share one entry of Spark's codegen cache (100 entries, a
    * static conf) and compile once instead of N times. The setting only
    * names generated classes, never plans or results, so concurrent
    * callers on one session, which could see each other's value or
    * restore over it, can only rename classes, never change a result
    * (and a model has one writer anyway, see [[run]]). */
  private def sharedCodegenClasses[T](spark: SparkSession)(body: => T): T = {
    val key = SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key
    val callers = spark.conf.getAll.get(key) // only explicitly set keys
    spark.conf.set(key, "false")
    try body
    finally callers match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a level's builds side by side, one thread per build, on a pool
    * made for this level: Spark copies its local properties (job group,
    * scheduler pool, tracing tags) into a thread when the thread is
    * created, so a pool kept across levels or runs would carry stale
    * ones. Every build is awaited; then the first failure in
    * declaration order is rethrown as itself, unwrapped from the
    * ExecutionException, and the caller starts no later level. */
  private def inParallel[T](builds: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    val futures =
      try builds.map(b => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = b()
      }))
      finally pool.shutdown()
    val outcomes = futures.map(f => scala.util.Try(f.get()))
    outcomes.foreach {
      case scala.util.Failure(e: java.util.concurrent.ExecutionException) =>
        throw e.getCause
      case _ => ()
    }
    outcomes.map(_.get)
  }

  /** Materialize one rendered model under its own name (see [[run]]). */
  private def materialize(spark: SparkSession, m: Model, body: String,
      snapshotAt: Column): DataFrame =
    m.materialized match {
      case "ephemeral" =>
        // dbt's ephemeral: never materialized anywhere — the body
        // compiles into each consumer as a CTE; the returned frame
        // is the lazy standalone form (no view, no catalog entry)
        spark.sql(body)
      case "view" =>
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${m.name} AS $body")
        spark.table(m.name)
      case "table" => // dbt's table materialization: drop + CTAS
        if (spark.sessionState.catalog.isTempView(Seq(m.name)))
          throw new IllegalArgumentException(
            s"model ${m.name}: a temp view with this name exists and " +
              "would SHADOW the table for every downstream reader — " +
              "drop the view or rename the model (never silently read " +
              "stale relations)")
        spark.sql(s"DROP TABLE IF EXISTS ${m.name}")
        spark.sql(s"CREATE TABLE ${m.name} USING PARQUET AS $body")
        spark.table(m.name)
      case "incremental" =>
        require(m.uniqueKey.nonEmpty, s"model ${m.name}: incremental " +
          "materialization requires a non-empty uniqueKey")
        require(Set("merge", "delete+insert")(m.incrementalStrategy),
          s"model ${m.name}: unsupported incrementalStrategy " +
            s"'${m.incrementalStrategy}' (merge | delete+insert)")
        statefulGuard(spark, m.name)
        latestCommit(spark, m.name) match {
          case None => // first run = full refresh into the store
            commitState(spark, m.name, spark.sql(body))
              .createOrReplaceTempView(m.name)
          case Some((_, commit)) =>
            val state = spark.read.parquet(commit.getAbsolutePath)
            validateResume(m.name, state, spark.sql(body), Set.empty)
            state.createOrReplaceTempView(m.name)
            m.incrementalStrategy match {
              case "merge" =>
                val on = m.uniqueKey
                  .map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
                graft.plans.DmlViews.sql(spark,
                  s"""MERGE INTO ${m.name} t USING ($body) s ON $on
                     |WHEN MATCHED THEN UPDATE SET *
                     |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
              case "delete+insert" =>
                // dbt's delete+insert strategy (its DEFAULT on
                // Redshift — the reference's warehouse): DELETE state
                // rows whose uniqueKey appears in the batch, then
                // APPEND the whole batch — two M12 DML statements,
                // exactly the SQL dbt compiles. Semantics differ from
                // merge on dirty batches, faithfully: duplicate-key
                // batch rows all insert (no cardinality error — the
                // dup-key model dbt ships with this strategy), where
                // merge raises. Clean batches converge (spec-pinned).
                val bv = s"__graft_mg_batch_${m.name}"
                // body may read the model's own view; the DELETE re-points it
                graft.ops.materialize(spark.sql(body))
                  .createOrReplaceTempView(bv)
                val keys = m.uniqueKey.map(k => s"`$k`").mkString(", ")
                graft.plans.DmlViews.sql(spark,
                  s"""DELETE FROM ${m.name}
                     |WHERE ($keys) IN (SELECT $keys FROM $bv)"""
                    .stripMargin)
                graft.plans.DmlViews.sql(spark,
                  s"INSERT INTO ${m.name} BY NAME SELECT * FROM $bv")
                spark.catalog.dropTempView(bv): Unit
            }
            commitState(spark, m.name, spark.table(m.name))
              .createOrReplaceTempView(m.name)
        }
        spark.table(m.name)
      case "snapshot" =>
        require(m.uniqueKey.nonEmpty, s"model ${m.name}: snapshot " +
          "materialization requires a non-empty uniqueKey")
        statefulGuard(spark, m.name)
        val batch = spark.sql(body)
        val tracked =
          if (m.checkCols.nonEmpty) m.checkCols
          else batch.columns.toSeq.filterNot(m.uniqueKey.contains)
        require(tracked.nonEmpty, s"model ${m.name}: snapshot needs " +
          "at least one tracked (non-key) column")
        val next = latestCommit(spark, m.name) match {
          case None => graft.ops.Scd2.init(batch, snapshotAt)
          case Some((_, commit)) =>
            val state = spark.read.parquet(commit.getAbsolutePath)
            validateResume(m.name, state, batch,
              Set("valid_from", "valid_to", "is_current"))
            graft.ops.Scd2.apply(state, batch, m.uniqueKey, tracked,
              snapshotAt)
        }
        commitState(spark, m.name, next)
          .createOrReplaceTempView(m.name)
        spark.table(m.name)
      case other => throw new IllegalArgumentException(
        s"model ${m.name}: unsupported materialization '$other' " +
          "(view | table | incremental | snapshot | ephemeral)")
    }

  /** A stateful model's view must not silently shadow a catalog table
    * of the same name (the mirror of the `table` temp-view guard). */
  private def statefulGuard(spark: SparkSession, name: String): Unit = {
    val cat = spark.sessionState.catalog
    if (!cat.isTempView(Seq(name)) && cat.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(name)))
      throw new IllegalArgumentException(
        s"model $name: a catalog table with this name exists and the " +
          "stateful materialization's temp view would SHADOW it — " +
          "rename the model or drop the table")
  }

  /** Run every declared schema test over the ALREADY-materialized
    * models (call after [[run]]); one row per test, dbt's
    * failure-count semantics (scaladoc above). The report is lazy: its
    * aggregates compile when the caller runs it, under the caller's
    * codegen settings. */
  def test(spark: SparkSession, models: Seq[Model]): DataFrame = {
    val names = models.map(_.name).toSet
    // validate the whole battery BEFORE touching any relation — a
    // typo'd relationships target fails fast, like dbt compile
    for (m <- models; t <- m.tests) t match {
      case Relationships(_, toModel, _) =>
        require(names.contains(toModel),
          s"model ${m.name}: relationships test references " +
            s"'$toModel', which is not a model in the set")
      case _ => ()
    }
    // ephemeral models have no relation to read back — recompile their
    // inlined bodies (the text run() built), exactly as dbt tests an
    // ephemeral model against its compiled CTE form
    val ephem = compiled(models).flatten.collect {
      case (m, body) if m.materialized == "ephemeral" => m.name -> body
    }.toMap
    def relOf(name: String): DataFrame =
      ephem.get(name).map(spark.sql).getOrElse(spark.table(name))
    val reports = for (m <- models; t <- m.tests) yield {
      val rel = relOf(m.name)
      val c = col(t.column)
      val violations: DataFrame = t match {
        case Unique(_) =>
          rel.filter(c.isNotNull).groupBy(c).count()
            .filter(col("count") > 1)
            .agg(count(lit(1)).as("violations"))
        case NotNull(_) =>
          rel.agg(sum(when(c.isNull, 1L).otherwise(0L)).as("violations"))
        case AcceptedValues(_, values) =>
          rel.filter(c.isNotNull && !c.isin(values: _*))
            .agg(count_distinct(c).as("violations"))
        case Relationships(_, toModel, toColumn) =>
          rel.filter(c.isNotNull)
            .join(relOf(toModel)
              .select(col(toColumn).as("__graft_ref")).distinct(),
              c === col("__graft_ref"), "left_anti")
            .agg(count(lit(1)).as("violations"))
      }
      violations.select(
        lit(m.name).as("model"), lit(t.testName).as("test"),
        lit(t.column).as("col_name"),
        coalesce(col("violations"), lit(0L)).as("violations"),
        (coalesce(col("violations"), lit(0L)) === 0).as("passed"))
    }
    require(reports.nonEmpty, "no schema tests declared on any model")
    reports.reduce(_ unionAll _)
  }
}
