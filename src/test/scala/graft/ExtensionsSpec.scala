package graft

import org.apache.spark.sql.SparkSession
import graft.plans.{AnnRewriteRule, DmlViews, GraftDmlViewCommand, GraftExtensions}

/** The `spark.sql.extensions` DEPLOYMENT path (SURVEY §4.3): everything
  * else in the suite wires graft functions via runtime `register()` or
  * `experimental.extraOptimizations`; this spec builds a session THROUGH
  * `withExtensions(new GraftExtensions)` — what
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` does on a
  * real cluster — and proves both injections take effect with no runtime
  * registration calls.
  */
class ExtensionsSpec extends SparkSpec {

  /** Run `body` on a NEW session built through
    * `withExtensions(new GraftExtensions)`; the shared session is the
    * active and default one again afterwards. */
  private def withExtensionSession(body: SparkSession => Unit): Unit = {
    val base = spark // realize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .withExtensions(new GraftExtensions).getOrCreate()
    try {
      assert(s2 ne base, "builder must yield a NEW session, else the " +
        "extension injection silently tested nothing")
      body(s2)
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("withExtensions session: graft_dot resolves from SQL text and " +
      "AnnRewriteRule is injected (fires when conf-enabled)") {
    withExtensionSession { s2 =>
      // 1. the function registry injection: no GraftExtensions.register()
      //    has run on s2 — SQL-text resolution must come from the extension
      val d = s2.sql(
        """SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))
          |       AS d""".stripMargin).head().getDouble(0)
      assert(d === 11.0)
      // 2. the optimizer-rule injection: the conf-gated ANN rewrite must
      //    fire in THIS session without touching experimental optimizations
      import org.apache.spark.sql.functions._
      s2.conf.set(AnnRewriteRule.ConfKey, "true")
      import s2.implicits._
      val vecs = (0L until 20L)
        .map(i => (i, Array.fill(8)((i % 5 + 1).toFloat)))
        .toDF("vec_id", "embedding")
        .withColumn("nrm", sqrt(graft.ops.dot($"embedding", $"embedding")))
      val a = vecs.select($"vec_id".as("ia"), $"embedding".as("ea"),
        $"nrm".as("na"))
      val b = vecs.select($"vec_id".as("ib"), $"embedding".as("eb"),
        $"nrm".as("nb"))
      val q = a.crossJoin(b).filter($"ia" < $"ib" &&
        graft.ops.dot($"ea", $"eb") / ($"na" * $"nb") >= 0.9)
      val phys = q.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") &&
        !phys.contains("BroadcastNestedLoopJoin"),
        s"injected AnnRewriteRule did not fire:\n${phys.take(600)}")
      // 3. the parser injection (M11, GraftSqlParser →
      //    GraftDmlViewCommand): raw MERGE INTO text over
      //    a temp view executes through spark.sql — the statement that
      //    FAILS analysis on a plain session (SqlMergeSpec pins the
      //    refusal) runs end-to-end here
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
        .createOrReplaceTempView("ext_mrg_tgt")
      Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v")
        .createOrReplaceTempView("ext_mrg_src")
      s2.sql(
        """MERGE INTO ext_mrg_tgt t USING ext_mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
      val merged = s2.table("ext_mrg_tgt").orderBy("k")
        .as[(Long, Double)].collect().toSeq
      assert(merged === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)),
        "injected GraftSqlParser did not execute the MERGE text")
      // 3b. subquery SOURCE (r17) through the same raw-text path — the
      //     form dbt incremental compiles to, end-to-end via spark.sql
      s2.sql(
        """MERGE INTO ext_mrg_tgt t
          |USING (SELECT k, v * 10 AS v10 FROM ext_mrg_src) s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v10""".stripMargin)
      val merged2 = s2.table("ext_mrg_tgt").orderBy("k")
        .as[(Long, Double)].collect().toSeq
      assert(merged2 === Seq((1L, 10.0), (2L, 990.0), (3L, 300.0)),
        "subquery-source MERGE text did not execute through the parser")
      // 3c. the rest of the DML quartet (M12, r18) through the same
      //     raw-text path: UPDATE / DELETE / INSERT over a temp view
      //     execute via the injected parser (each FAILS analysis on a
      //     plain session — SqlDmlSpec pins the refusals)
      s2.sql("UPDATE ext_mrg_tgt SET v = v + 0.5 WHERE k = 1")
      s2.sql("DELETE FROM ext_mrg_tgt WHERE k = 3")
      s2.sql("INSERT INTO ext_mrg_tgt SELECT 9L, 90.0")
      val dml = s2.table("ext_mrg_tgt").orderBy("k")
        .as[(Long, Double)].collect().toSeq
      assert(dml === Seq((1L, 10.5), (2L, 990.0), (9L, 90.0)),
        "injected GraftSqlParser did not execute the UPDATE/DELETE/" +
          "INSERT text")
    }
  }

  test("GraftSqlParser: all four DML verbs parse to GraftDmlViewCommand " +
      "on a temp-view target and to Spark's own node on a catalog table") {
    withExtensionSession { s2 =>
      s2.sql("SELECT 1L AS k, CAST(1.0 AS DOUBLE) AS v")
        .createOrReplaceTempView("ext_pp_view")
      s2.sql("DROP TABLE IF EXISTS ext_pp_table")
      s2.sql("CREATE TABLE ext_pp_table (k BIGINT, v DOUBLE) USING parquet")
      try {
        def parsed(target: String) = Seq(
          s"UPDATE $target SET v = 2.0 WHERE k = 1",
          s"DELETE FROM $target WHERE k = 1",
          s"INSERT INTO $target SELECT 2L, 2.0",
          s"""MERGE INTO $target t USING ext_pp_view s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
          .map(s2.sessionState.sqlParser.parsePlan)
        val spark4 = Seq("UpdateTable", "DeleteFromTable",
          "InsertIntoStatement", "MergeIntoTable")
        val onView = parsed("ext_pp_view")
        assert(onView.map(_.getClass.getSimpleName) ===
          Seq.fill(4)("GraftDmlViewCommand"))
        assert(onView.collect { case GraftDmlViewCommand(p) =>
          p.getClass.getSimpleName } === spark4)
        assert(parsed("ext_pp_table").map(_.getClass.getSimpleName) === spark4)
        // the direct API parses with the same session parser
        assert(DmlViews.sql(s2, "UPDATE ext_pp_view SET v = 3.0")
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
          Seq((1L, 3.0)))
      } finally s2.sql("DROP TABLE IF EXISTS ext_pp_table")
    }
  }
}
