package graft

import graft.pipeline.ModelGraph
import graft.pipeline.ModelGraph.{AcceptedValues, Model, NotNull,
  Relationships, Unique}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{lit, udf}
import org.apache.spark.sql.internal.SQLConf

/** The dbt-shaped model-graph runner (K7): ref() edge extraction, stable
  * topological ordering, cycle/unknown-ref rejection, the
  * materializations, and level-parallel builds. The reference two-model
  * reproduction lives in PipelineSpec (it needs the ingest fixture);
  * this spec pins the runner's mechanics on micro-models.
  */
class ModelGraphSpec extends SparkSpec {
  import spark.implicits._

  test("refs: extracts ref('x') / ref(\"x\") markers, deduplicated, " +
      "and render substitutes the relation name") {
    val sql = """SELECT * FROM {{ ref('a') }} JOIN {{ref("b")}} USING (k)
                |WHERE EXISTS (SELECT 1 FROM {{ ref('a') }})""".stripMargin
    assert(ModelGraph.refs(sql) === Seq("a", "b"))
    val rendered = ModelGraph.render(Model("m", sql))
    assert(rendered.contains("FROM a JOIN b USING (k)"))
    assert(!rendered.contains("ref("))
  }

  test("topoOrder: dependency order regardless of declaration order, " +
      "stable among ready models") {
    val ms = Seq(
      Model("final", "SELECT * FROM {{ ref('mid1') }}, {{ ref('mid2') }}"),
      Model("mid2", "SELECT * FROM {{ ref('base') }}"),
      Model("mid1", "SELECT * FROM {{ ref('base') }}"),
      Model("base", "SELECT 1 AS k"))
    assert(ModelGraph.topoOrder(ms).map(_.name) ===
      Seq("base", "mid2", "mid1", "final"))
    // the same walk by level, declaration order within a level
    assert(ModelGraph.topoLevels(ms).map(_.map(_.name)) ===
      Seq(Seq("base"), Seq("mid2", "mid1"), Seq("final")))
    assert(ModelGraph.topoOrder(ms) === ModelGraph.topoLevels(ms).flatten)
  }

  test("a cycle is rejected with the offending path named") {
    val ms = Seq(
      Model("a", "SELECT * FROM {{ ref('b') }}"),
      Model("b", "SELECT * FROM {{ ref('c') }}"),
      Model("c", "SELECT * FROM {{ ref('a') }}"),
      Model("ok", "SELECT 1 AS k"))
    val e = intercept[IllegalArgumentException] {
      ModelGraph.topoOrder(ms)
    }
    assert(e.getMessage.contains("cycle") && e.getMessage.contains("a") &&
      e.getMessage.contains("->"))
  }

  test("an unknown ref is a compile error, never a silent catalog " +
      "fall-through; duplicate model names are rejected") {
    val e = intercept[IllegalArgumentException] {
      ModelGraph.topoOrder(Seq(
        Model("m", "SELECT * FROM {{ ref('nope') }}")))
    }
    assert(e.getMessage.contains("nope"))
    val e2 = intercept[IllegalArgumentException] {
      ModelGraph.topoOrder(Seq(Model("m", "SELECT 1"), Model("m", "SELECT 2")))
    }
    assert(e2.getMessage.contains("duplicate"))
  }

  test("incremental materialization: first run full-refreshes, later " +
      "runs upsert on uniqueKey — matched keys update, new keys insert, " +
      "absent keys survive (dbt's incremental, carried by M11 MERGE)") {
    ModelGraph.reset(spark, "mgi_state")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("k", "v").createOrReplaceTempView("mgi_src")
    val inc = Model("mgi_state", "SELECT k, v FROM mgi_src",
      materialized = "incremental", uniqueKey = Seq("k"))
    ModelGraph.run(spark, Seq(inc))
    assert(spark.table("mgi_state").count() === 3)
    // the source moves on: k=2 revised, k=1/k=3 gone, k=4 new
    Seq((2L, 99.0), (4L, 40.0))
      .toDF("k", "v").createOrReplaceTempView("mgi_src")
    val out = ModelGraph.run(spark, Seq(inc))("mgi_state")
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(out === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))
    // a batch with duplicate uniqueKey rows is the MERGE data error
    Seq((2L, 1.0), (2L, 2.0)).toDF("k", "v")
      .createOrReplaceTempView("mgi_src")
    val e = intercept[Exception] { ModelGraph.run(spark, Seq(inc)) }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("GRAFT_MERGE_CARDINALITY_VIOLATION"))
    // and incremental without a uniqueKey is refused up front
    val e2 = intercept[IllegalArgumentException] {
      ModelGraph.run(spark, Seq(
        Model("m", "SELECT 1 AS k", materialized = "incremental")))
    }
    assert(e2.getMessage.contains("uniqueKey"))
    ModelGraph.reset(spark, "mgi_state")
  }

  test("delete+insert incremental strategy (r18, dbt's Redshift " +
      "default): clean batches converge with merge; dup-key batches " +
      "faithfully diverge (both rows insert, no cardinality error); " +
      "unknown strategies refused up front") {
    ModelGraph.reset(spark, "mgd_state")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))
      .toDF("k", "v").createOrReplaceTempView("mgd_src")
    val inc = Model("mgd_state", "SELECT k, v FROM mgd_src",
      materialized = "incremental", uniqueKey = Seq("k"),
      incrementalStrategy = "delete+insert")
    ModelGraph.run(spark, Seq(inc))
    // same second batch as the merge test: k=2 revised, k=4 new
    Seq((2L, 99.0), (4L, 40.0))
      .toDF("k", "v").createOrReplaceTempView("mgd_src")
    val out = ModelGraph.run(spark, Seq(inc))("mgd_state")
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(out === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)),
      "delete+insert must land where merge lands on a clean batch")
    // dup-key batch: dbt's delete+insert appends BOTH rows (the dup-key
    // model this strategy ships) — no cardinality error
    Seq((2L, 1.0), (2L, 2.0)).toDF("k", "v")
      .createOrReplaceTempView("mgd_src")
    val dup = ModelGraph.run(spark, Seq(inc))("mgd_state")
      .orderBy("k", "v").as[(Long, Double)].collect().toSeq
    assert(dup === Seq((1L, 10.0), (2L, 1.0), (2L, 2.0), (3L, 30.0),
      (4L, 40.0)))
    val e = intercept[IllegalArgumentException] {
      ModelGraph.run(spark, Seq(inc.copy(incrementalStrategy = "nope")))
    }
    assert(e.getMessage.contains("incrementalStrategy"))
    ModelGraph.reset(spark, "mgd_state")
  }

  test("incremental state is DURABLE (r18): a fresh session — no temp " +
      "views at all — resumes the upsert history from the parquet " +
      "commit store, like dbt's warehouse table") {
    val name = "mgi_dur_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    ModelGraph.reset(spark, name)
    try {
      Seq((1L, 1.0), (2L, 2.0))
        .toDF("k", "v").createOrReplaceTempView("mgi_dur_src")
      val inc = Model(name, "SELECT k, v FROM mgi_dur_src",
        materialized = "incremental", uniqueKey = Seq("k"))
      ModelGraph.run(spark, Seq(inc))
      // a FRESH session: no temp views survive, only the durable store
      val s2 = spark.newSession()
      assert(!s2.sessionState.catalog.isTempView(Seq(name)))
      s2.createDataFrame(Seq((2L, 20.0), (3L, 3.0)))
        .toDF("k", "v").createOrReplaceTempView("mgi_dur_src")
      // the fresh session RESUMES (upsert, not full refresh): k=1
      // survives from session 1's commit, k=2 updates, k=3 inserts —
      // and first-run detection keyed on the STORE, not temp views
      // (r17 ADVICE: an unrelated same-name view can't be adopted)
      val out = ModelGraph.run(s2, Seq(inc))(name)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
      assert(out === Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
    } finally ModelGraph.reset(spark, name)
  }

  test("resume schema validation: a drifted model SELECT is refused " +
      "with both schemas named (reset() is the full-refresh way out)") {
    val name = "mgi_drift_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    ModelGraph.reset(spark, name)
    try {
      Seq((1L, 1.0)).toDF("k", "v").createOrReplaceTempView("mgi_dr_src")
      val inc = Model(name, "SELECT k, v FROM mgi_dr_src",
        materialized = "incremental", uniqueKey = Seq("k"))
      ModelGraph.run(spark, Seq(inc))
      val drifted = inc.copy(
        sql = "SELECT k, CAST(v AS STRING) AS v FROM mgi_dr_src")
      val e = intercept[IllegalArgumentException] {
        ModelGraph.run(spark, Seq(drifted))
      }
      assert(e.getMessage.contains("does not match the model SELECT"))
      ModelGraph.reset(spark, name)
      ModelGraph.run(spark, Seq(drifted)) // full refresh accepts it
      assert(spark.table(name).schema("v").dataType ===
        org.apache.spark.sql.types.StringType)
    } finally ModelGraph.reset(spark, name)
  }

  test("snapshot materialization: two-batch SCD2 replay — change " +
      "closes + reopens, unchanged skips, absent survives, new key " +
      "opens (dbt's snapshot verb, check strategy)") {
    val name = "mgs_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    ModelGraph.reset(spark, name)
    try {
      Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("k", "attr").createOrReplaceTempView("mgs_src")
      val snap = Model(name, "SELECT k, attr FROM mgs_src",
        materialized = "snapshot", uniqueKey = Seq("k"))
      ModelGraph.run(spark, Seq(snap), snapshotAt = lit(10))
      // batch 2: k=1 changed, k=2 unchanged, k=3 absent, k=4 new
      Seq((1L, "a2"), (2L, "b"), (4L, "d"))
        .toDF("k", "attr").createOrReplaceTempView("mgs_src")
      val out = ModelGraph.run(spark, Seq(snap), snapshotAt = lit(20))(name)
        .orderBy("k", "valid_from")
        .as[(Long, String, Int, Option[Int], Boolean)].collect().toSeq
      assert(out === Seq(
        (1L, "a", 10, Some(20), false), (1L, "a2", 20, None, true),
        (2L, "b", 10, None, true),
        (3L, "c", 10, None, true),
        (4L, "d", 20, None, true)))
      // and the state is durable: a fresh session reads the history
      assert(spark.newSession().read.parquet(
        spark.table(name).inputFiles.head.replaceAll("/[^/]*$", ""))
        .count() === 5)
    } finally ModelGraph.reset(spark, name)
  }

  test("a first-run stateful model whose SELECT fails at write time " +
      "leaves no build dir and no commit; the corrected model then " +
      "commits commit_1") {
    Seq("incremental", "snapshot").foreach { mat =>
      val name = uniq(s"mg_wfail_$mat")
      val dir = new java.io.File(ModelGraph.stateRoot(spark), name)
      def entries = Option(dir.list()).getOrElse(Array.empty[String]).toSeq
      ModelGraph.reset(spark, name)
      try {
        // range() runs in tasks, so the raise_error fires inside the
        // parquet write, after the write has created its output dir
        val bad = Model(name, "SELECT id AS k, CASE WHEN id = 2 THEN " +
          "raise_error('bad row') ELSE 'x' END AS v FROM range(3)",
          materialized = mat, uniqueKey = Seq("k"))
        intercept[Exception] {
          ModelGraph.run(spark, Seq(bad), snapshotAt = lit(10))
        }
        assert(!entries.exists(_.contains(".build.")),
          s"$mat: failed write left its build dir: $entries")
        assert(!entries.exists(_.startsWith("commit_")), s"$mat: $entries")
        ModelGraph.run(spark, Seq(bad.copy(
          sql = "SELECT id AS k, 'x' AS v FROM range(3)")),
          snapshotAt = lit(10))
        assert(new java.io.File(dir, "commit_1").isDirectory,
          s"$mat: $entries")
      } finally ModelGraph.reset(spark, name)
    }
  }

  test("a run resumes from the newest commit_N: a crash right after " +
      "a commit's rename, before the prune, does not wedge the model") {
    val name = uniq("mg_wedge")
    val dir = new java.io.File(ModelGraph.stateRoot(spark), name)
    ModelGraph.reset(spark, name)
    try {
      Seq((1L, 1.0), (2L, 2.0))
        .toDF("k", "v").createOrReplaceTempView("mg_wedge_src")
      val inc = Model(name, "SELECT k, v FROM mg_wedge_src",
        materialized = "incremental", uniqueKey = Seq("k"))
      ModelGraph.run(spark, Seq(inc))
      // the crash state: commit_2 renamed in, commit_1 still there
      val c1 = new java.io.File(dir, "commit_1").toPath
      val c2 = new java.io.File(dir, "commit_2").toPath
      val walk = java.nio.file.Files.walk(c1)
      try walk.forEach(p =>
        java.nio.file.Files.copy(p, c2.resolve(c1.relativize(p))): Unit)
      finally walk.close()
      Seq((2L, 20.0), (3L, 3.0))
        .toDF("k", "v").createOrReplaceTempView("mg_wedge_src")
      val out = ModelGraph.run(spark, Seq(inc))(name)
        .orderBy("k").as[(Long, Double)].collect().toSeq
      assert(out === Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
      assert(dir.list().toSeq.filter(_.startsWith("commit_")) ===
        Seq("commit_3"))
    } finally ModelGraph.reset(spark, name)
  }

  test("schema tests: dbt's unique / not_null / accepted_values / " +
      "relationships with failure-count semantics; an unknown " +
      "relationships target is refused") {
    Seq((1L, Some("x")), (2L, Some("x")), (3L, None), (4L, Some("zz")))
      .toDF("id", "ref").createOrReplaceTempView("mtst_src")
    val models = Seq(
      Model("mtst_dim", "SELECT 'x' AS code UNION ALL SELECT 'y'"),
      Model("mtst_fact", "SELECT id, ref FROM mtst_src",
        tests = Seq(
          Unique("id"), Unique("ref"), NotNull("ref"),
          AcceptedValues("ref", Seq("x", "zz")),
          Relationships("ref", "mtst_dim", "code"))))
    ModelGraph.run(spark, models)
    val rep = ModelGraph.test(spark, models)
      .orderBy("test", "col_name")
      .as[(String, String, String, Long, Boolean)].collect().toSeq
    assert(rep === Seq(
      // 'zz' outside nothing — accepted list covers x and zz -> pass
      ("mtst_fact", "accepted_values", "ref", 0L, true),
      ("mtst_fact", "not_null", "ref", 1L, false), // one NULL
      // 'zz' not in mtst_dim -> 1 violating ROW (nulls exempt)
      ("mtst_fact", "relationships", "ref", 1L, false),
      ("mtst_fact", "unique", "id", 0L, true),
      // 'x' appears twice -> 1 duplicated VALUE (not 2 rows)
      ("mtst_fact", "unique", "ref", 1L, false)))
    val e = intercept[IllegalArgumentException] {
      ModelGraph.test(spark, Seq(Model("m", "SELECT 1 AS k",
        tests = Seq(Relationships("k", "nope", "k")))))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("ephemeral materialization (dbt's fifth): the model is NEVER " +
      "materialized — its body compiles into each consumer as a CTE, " +
      "chains nest, a consumer's own WITH clause is spliced, and " +
      "WITH RECURSIVE consumers are refused") {
    Seq((1L, 2.0), (2L, 4.0), (3L, 6.0))
      .toDF("k", "v").createOrReplaceTempView("mge_raw")
    val out = ModelGraph.run(spark, Seq(
      Model("mge_base", "SELECT k, v FROM mge_raw WHERE k < 3",
        materialized = "ephemeral"),
      // ephemeral-on-ephemeral: the recorded body is self-contained
      Model("mge_mid", "SELECT k, v * 10 AS w FROM {{ ref('mge_base') }}",
        materialized = "ephemeral"),
      // consumer with its OWN WITH clause — the prelude is spliced in
      Model("mge_final",
        """WITH big AS (SELECT * FROM {{ ref('mge_mid') }} WHERE w > 25)
          |SELECT SUM(w) AS total FROM big""".stripMargin)))
    assert(out("mge_final").as[Double].collect().toSeq === Seq(40.0))
    // nothing materialized for the ephemerals: no temp view, no table —
    // but the returned frames ARE their standalone compiled forms
    assert(!spark.sessionState.catalog.isTempView(Seq("mge_base")) &&
      !spark.sessionState.catalog.isTempView(Seq("mge_mid")))
    assert(out("mge_mid").orderBy("k").as[(Long, Double)].collect().toSeq
      === Seq((1L, 20.0), (2L, 40.0)))
    // schema tests run against the compiled inline form, like dbt
    val tested = Seq(
      Model("mge_base2", "SELECT k FROM mge_raw", materialized = "ephemeral",
        tests = Seq(ModelGraph.Unique("k"))))
    ModelGraph.run(spark, tested)
    val rep = ModelGraph.test(spark, tested)
      .as[(String, String, String, Long, Boolean)].collect().toSeq
    assert(rep === Seq(("mge_base2", "unique", "k", 0L, true)))
    // a WITH RECURSIVE consumer cannot take the prelude
    val e = intercept[IllegalArgumentException] {
      ModelGraph.run(spark, Seq(
        Model("mge_e", "SELECT 1 AS n", materialized = "ephemeral"),
        Model("mge_rec",
          """WITH RECURSIVE r AS (SELECT n FROM {{ ref('mge_e') }}
            |UNION ALL SELECT n + 1 FROM r WHERE n < 3)
            |SELECT * FROM r""".stripMargin)))
    }
    assert(e.getMessage.contains("RECURSIVE"))
  }

  test("never-read-stale guards (r18): a table model shadowed by a " +
      "temp view throws; a stateful model shadowing a catalog table " +
      "throws") {
    val tbl = "mg_guard_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Seq(1).toDF("k").createOrReplaceTempView(tbl)
    val e = intercept[IllegalArgumentException] {
      ModelGraph.run(spark, Seq(
        Model(tbl, "SELECT 1 AS k", materialized = "table")))
    }
    assert(e.getMessage.contains("SHADOW"))
    spark.catalog.dropTempView(tbl)
    spark.sql(s"CREATE TABLE $tbl USING PARQUET AS SELECT 1 AS k")
    try {
      val e2 = intercept[IllegalArgumentException] {
        ModelGraph.run(spark, Seq(Model(tbl, "SELECT 1 AS k",
          materialized = "incremental", uniqueKey = Seq("k"))))
      }
      assert(e2.getMessage.contains("SHADOW"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("run: a ref chain materializes in order — views inline, tables " +
      "persist through the catalog — and non-model relations resolve " +
      "by bare name (source())") {
    Seq((1L, 2.0), (2L, 4.0), (3L, 6.0))
      .toDF("k", "v").createOrReplaceTempView("mg_raw")
    val tbl = "mg_spec_tbl_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    try {
      val out = ModelGraph.run(spark, Seq(
        // declared out of order, mixed materializations, reads the
        // non-model mg_raw by bare name
        Model("mg_final", s"SELECT SUM(w) AS total FROM {{ ref('$tbl') }}"),
        Model(tbl, "SELECT k, v * 2 AS w FROM {{ ref('mg_mid') }}",
          materialized = "table"),
        Model("mg_mid", "SELECT k, v FROM mg_raw WHERE k < 3")))
      assert(out.keySet === Set("mg_final", tbl, "mg_mid"))
      assert(out("mg_final").as[Double].collect().toSeq === Seq(12.0))
      // the table materialization is a real catalog table
      assert(spark.sessionState.catalog
        .tableExists(org.apache.spark.sql.catalyst.TableIdentifier(tbl)))
      // unsupported materialization is rejected
      val e = intercept[IllegalArgumentException] {
        ModelGraph.run(spark, Seq(Model("m", "SELECT 1", "materialized_view")))
      }
      assert(e.getMessage.contains("materialized_view"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("run: sibling models of one level build at the same time — each " +
      "table's only row waits for the other's at a two-party rendezvous") {
    ModelGraphSpec.rendezvous = new CountDownLatch(2)
    spark.udf.register("mg_rendezvous", udf { (k: Long) =>
      val latch = ModelGraphSpec.rendezvous
      latch.countDown()
      if (!latch.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "rendezvous timed out: the sibling model was not building")
      k
    }.asNondeterministic())
    val (a, b) = (uniq("mg_rv_a"), uniq("mg_rv_b"))
    try {
      val out = ModelGraph.run(spark, Seq(
        Model(a, "SELECT mg_rendezvous(id) AS k FROM range(1)",
          materialized = "table"),
        Model(b, "SELECT mg_rendezvous(id + 1) AS k FROM range(1)",
          materialized = "table")))
      assert(out(a).as[Long].collect().toSeq === Seq(0L))
      assert(out(b).as[Long].collect().toSeq === Seq(1L))
    } finally Seq(a, b).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("run: a failing sibling surfaces its own exception after the " +
      "level finishes — the other sibling is built, the failed " +
      "model's consumers never start") {
    val (bad, ok, down) =
      (uniq("mg_fail_bad"), uniq("mg_fail_ok"), uniq("mg_fail_down"))
    Seq(1).toDF("k").createOrReplaceTempView(bad)
    val cat = spark.sessionState.catalog
    try {
      val e = intercept[IllegalArgumentException] {
        ModelGraph.run(spark, Seq(
          Model(bad, "SELECT 1 AS k", materialized = "table"),
          Model(ok, "SELECT 2 AS k", materialized = "table"),
          Model(down, s"SELECT k FROM {{ ref('$bad') }}",
            materialized = "table")))
      }
      assert(e.getMessage.contains(s"model $bad: a temp view with this " +
        "name exists and would SHADOW the table"))
      assert(cat.tableExists(TableIdentifier(ok)))
      assert(spark.table(ok).as[Int].collect().toSeq === Seq(2))
      assert(!cat.tableExists(TableIdentifier(down)))
    } finally {
      spark.catalog.dropTempView(bad)
      Seq(ok, down).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("run: restores the caller's codegen class-name setting — an " +
      "unset key stays unset, an explicit value survives, also when the " +
      "run fails") {
    val key = SQLConf.WHOLESTAGE_CODEGEN_USE_ID_IN_CLASS_NAME.key
    def setting = spark.conf.getAll.get(key) // None when unset
    val tbl = uniq("mg_cg_restore")
    try {
      spark.conf.unset(key)
      ModelGraph.run(spark, Seq(Model(tbl, "SELECT 1 AS k", "table")))
      assert(setting === None)
      spark.conf.set(key, "true")
      ModelGraph.run(spark, Seq(Model(tbl, "SELECT 2 AS k", "table")))
      assert(setting === Some("true"))
      assert(spark.table(tbl).as[Int].collect().toSeq === Seq(2))
      // a failing run (the temp-view shadow guard) restores it too
      spark.sql(s"DROP TABLE $tbl")
      Seq(1).toDF("k").createOrReplaceTempView(tbl)
      for (callers <- Seq(Some("true"), None)) {
        callers.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val e = intercept[IllegalArgumentException] {
          ModelGraph.run(spark, Seq(Model(tbl, "SELECT 1 AS k", "table")))
        }
        assert(e.getMessage.contains("SHADOW"))
        assert(setting === callers)
      }
    } finally {
      spark.conf.unset(key)
      spark.catalog.dropTempView(tbl)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("run: compiles per distinct operator, not per UNION ALL branch — " +
      "a nine-way union of same-typed tables adds at most a few " +
      "compiles over a three-way one") {
    val made = scala.collection.mutable.ArrayBuffer.empty[String]
    def unionSum(n: Int): Model = {
      val ts = (1 to n).map { i =>
        val t = uniq(s"mg_cg_src$i")
        made += t
        spark.sql(s"CREATE TABLE $t USING PARQUET AS " +
          s"SELECT id AS k, CAST(id * $i AS DOUBLE) AS v FROM range(4)")
        t
      }
      val name = uniq(s"mg_cg_sum$n")
      made += name
      // a GROUP BY per branch, as box_office_showrange has: each
      // branch plans its own codegen stages (a bare scan's ColumnarToRow
      // would sit above the Union, one stage for every branch)
      Model(name, ts.map(t => s"SELECT k, SUM(v) AS v FROM $t GROUP BY k")
        .mkString("SELECT SUM(v) AS total FROM (", " UNION ALL ", ")"),
        "table")
    }
    def compiles(m: Model): (Long, Double) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = ModelGraph.run(spark, Seq(m))(m.name)
      val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      (added, out.as[Double].head())
    }
    try {
      val (m3, m9) = (unionSum(3), unionSum(9))
      assert(compiles(m3)._2 === 6.0 * (1 + 2 + 3))
      val (added, total9) = compiles(m9)
      assert(total9 === 6.0 * (1 to 9).sum)
      assert(added <= 2, s"the nine-way union compiled $added new " +
        "classes after the three-way one: its branches did not share " +
        "their generated class")
    } finally made.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  private def uniq(prefix: String): String =
    prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
      .take(12)
}

object ModelGraphSpec {
  /** The rendezvous the sibling-concurrency test's UDF meets at: held
    * statically so task closures reach it without serializing it. */
  @volatile var rendezvous: CountDownLatch = new CountDownLatch(0)
}
