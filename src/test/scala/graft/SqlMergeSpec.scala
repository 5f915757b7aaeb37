package graft

import org.apache.spark.sql.functions._
import graft.plans.DmlViews

/** MERGE INTO over temp views (M11) — MergeIntoViews' ANSI-MERGE
  * semantics on golden micro-data, plus the pinned Spark refusal that
  * motivates the interpreter existing at all.
  */
class SqlMergeSpec extends SparkSpec {
  import spark.implicits._

  private def freshViews(): Unit = {
    Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "a"), (4L, 40.0, "a"))
      .toDF("k", "v", "st").createOrReplaceTempView("mrg_tgt")
    // k=2 matched (small delta), k=3 matched (big delta -> delete),
    // k=5 new (insertable), k=6 new (filtered out by insert condition)
    Seq((2L, 5.0), (3L, 1000.0), (5L, 7.0), (6L, 2000.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_src")
  }

  test("Spark 4 itself refuses MERGE INTO a temp view — the analyzer " +
      "demands a v2 row-level-operation table (pins WHY the " +
      "interpreter exists; a release lifting this shows up here)") {
    freshViews()
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    }
    assert(e.getMessage.contains("MERGE") ||
      e.getMessage.contains("UNSUPPORTED"),
      s"expected the v2-table refusal, got: ${e.getMessage.take(300)}")
  }

  test("mergeSql: all three clause groups, first-clause-wins ordering, " +
      "insert NULL-fill, and the target view re-point") {
    freshViews()
    val out = DmlViews.sql(spark,
      """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED AND s.delta > 100.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta, st = 'upd'
        |WHEN NOT MATCHED AND s.delta < 100.0 THEN
        |  INSERT (k, v) VALUES (s.k, s.delta)
        |WHEN NOT MATCHED BY SOURCE AND t.v >= 40.0 THEN DELETE
        |""".stripMargin)
      .orderBy("k").as[(Long, Double, Option[String])].collect().toSeq
    // k=1 target-only, v=10 < 40 -> survives unchanged
    // k=2 matched, delta=5 -> second clause: v=25, st=upd
    // k=3 matched, delta=1000 -> FIRST clause wins: deleted
    // k=4 target-only, v=40 -> NMBS delete
    // k=5 source-only, delta=7 -> inserted with st NULL
    // k=6 source-only, delta=2000 -> insert condition false: skipped
    assert(out === Seq((1L, 10.0, Some("a")), (2L, 25.0, Some("upd")),
      (5L, 7.0, None)))
    // the view was re-pointed: a second read sees the merged state
    assert(spark.table("mrg_tgt").count() === 3)
    // and the merge is re-runnable against the new state: nothing
    // matches the (already applied) source deltas' delete bar, k=2
    // updates again
    val again = DmlViews.sql(spark,
      """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED AND s.delta > 100.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.delta, st = 'upd'
        |WHEN NOT MATCHED AND s.delta < 100.0 THEN
        |  INSERT (k, v) VALUES (s.k, s.delta)
        |""".stripMargin)
      .orderBy("k").as[(Long, Double, Option[String])].collect().toSeq
    assert(again === Seq((1L, 10.0, Some("a")), (2L, 30.0, Some("upd")),
      (5L, 14.0, Some("upd"))))
  }

  test("UPDATE SET * and INSERT * copy source columns by name " +
      "(type-aligned)") {
    Seq((1L, 10.0, "a"), (2L, 20.0, "a"))
      .toDF("k", "v", "st").createOrReplaceTempView("mrg_tgt2")
    Seq((2L, 99.0, "z"), (7L, 70.0, "n"))
      .toDF("k", "v", "st").createOrReplaceTempView("mrg_src2")
    val out = DmlViews.sql(spark,
      """MERGE INTO mrg_tgt2 t USING mrg_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      .orderBy("k").as[(Long, Double, String)].collect().toSeq
    assert(out === Seq((1L, 10.0, "a"), (2L, 99.0, "z"), (7L, 70.0, "n")))
  }

  test("NULL join keys: a null-key target row is not-matched-by-source, " +
      "a null-key source row is not-matched — never spuriously matched") {
    Seq((Some(1L), 10.0), (None, 20.0))
      .toDF("k", "v").createOrReplaceTempView("mrg_tgt3")
    Seq((Some(1L), 100.0), (None, 200.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_src3")
    val out = DmlViews.sql(spark,
      """MERGE INTO mrg_tgt3 t USING mrg_src3 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.delta
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta)
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0.0
        |""".stripMargin)
      .orderBy(asc_nulls_first("k"), asc("v"))
      .as[(Option[Long], Double)].collect().toSeq
    // k=1 matches (v=100); the null-key TARGET row joined nothing -> its
    // NMBS clause zeroes it; the null-key SOURCE row joined nothing ->
    // inserted with its own null key
    assert(out === Seq((None, 0.0), (None, 200.0), (Some(1L), 100.0)))
  }

  test("assignment keys resolve case-insensitively, like the analyzer") {
    Seq((1L, 10.0)).toDF("k", "V_col").createOrReplaceTempView("mrg_tgt4")
    Seq((1L, 5.0)).toDF("k", "delta").createOrReplaceTempView("mrg_src4")
    val out = DmlViews.sql(spark,
      """MERGE INTO mrg_tgt4 t USING mrg_src4 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v_COL = s.delta""".stripMargin)
      .as[(Long, Double)].collect().toSeq
    assert(out === Seq((1L, 5.0)))
  }

  test("interpret's physical plan is ONE equi join — no cartesian, no " +
      "BNLJ (the scale shape the M11 row claims)") {
    freshViews()
    val m = spark.sessionState.sqlParser.parsePlan(
      """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.delta
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta)
        |""".stripMargin)
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable]
    // the interpreter's raw plan (before the run()'s checkpoint hides
    // it from PLANSNAP): every clause must ride ONE full-outer join on
    // the merge keys — a cartesian or nested-loop here would be the
    // 100 TB killer. The r18 equi cardinality guard adds a dup-key
    // pre-count JOIN-BACK onto the source (replacing the r17 window
    // over the joined set) — and because this source has NO duplicate
    // keys, AQE propagates the empty dup relation away at runtime, so
    // the executed histogram is 1 join (guard erased) or 2 (guard
    // join-back materialized), never a window, never a non-equi join.
    val df = plans.MergeIntoViews.interpret(spark, m)
    val f = PlanSnap.features(df)
    assert(f.joins.values.sum >= 1 && f.joins.values.sum <= 2,
      s"MERGE should plan the merge join (+ at most the guard " +
        s"join-back), got ${f.joins}")
    assert(f.joins.getOrElse("CartesianProduct", 0) === 0 &&
      f.joins.getOrElse("BroadcastNestedLoopJoin", 0) === 0,
      s"MERGE planned a non-equi join: ${f.joins}")
    // the window guard is GONE on the equi path (SCALE.md r18 re-probe)
    val hasWindow = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty
    assert(!hasWindow, "equi-ON MERGE must not window the joined set")
  }

  test("a NON-equi residual ON keeps the window-guard fallback and " +
      "still raises on a multi-matched target row") {
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("mrg_ne_tgt")
    Seq((1L, 1.0), (1L, 2.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_ne_src")
    val e = intercept[Exception] {
      plans.DmlViews.sql(spark,
        """MERGE INTO mrg_ne_tgt t USING mrg_ne_src s
          |ON t.k = s.k AND s.delta > 0.0
          |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    }
    assert(messages(e).contains("GRAFT_MERGE_CARDINALITY_VIOLATION"),
      s"expected the cardinality error, got: ${messages(e).take(400)}")
    // and a residual condition that keeps matches unique succeeds
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("mrg_ne_tgt")
    val out = plans.DmlViews.sql(spark,
      """MERGE INTO mrg_ne_tgt t USING mrg_ne_src s
        |ON t.k = s.k AND s.delta > 1.5
        |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
      .as[(Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2.0)))
  }

  /** raise_error surfaces wrapped in Spark's job-failure chain — walk it. */
  private def messages(e: Throwable): String = {
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
  }

  test("cardinality guard: a target row matching MULTIPLE source rows " +
      "raises GRAFT_MERGE_CARDINALITY_VIOLATION (the Delta contract) " +
      "instead of silently duplicating the target row") {
    Seq((1L, 10.0), (2L, 20.0))
      .toDF("k", "v").createOrReplaceTempView("mrg_card_tgt")
    Seq((1L, 100.0), (1L, 200.0), (3L, 300.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_card_src")
    val e = intercept[Exception] {
      plans.DmlViews.sql(spark,
        """MERGE INTO mrg_card_tgt t USING mrg_card_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.delta""".stripMargin)
    }
    assert(messages(e).contains("GRAFT_MERGE_CARDINALITY_VIOLATION"),
      s"expected the cardinality error, got: ${messages(e).take(400)}")
  }

  test("INSERT-ONLY merge is exempt from the cardinality guard (the " +
      "Delta contract, r18): a multi-matched target row survives ONCE " +
      "and its matching source rows are simply not inserted") {
    Seq((1L, 10.0), (2L, 20.0))
      .toDF("k", "v").createOrReplaceTempView("mrg_io_tgt")
    Seq((1L, 100.0), (1L, 200.0), (3L, 300.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_io_src")
    val out = plans.DmlViews.sql(spark,
      """MERGE INTO mrg_io_tgt t USING mrg_io_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta)
        |""".stripMargin)
      .orderBy("k").as[(Long, Double)].collect().toSeq
    // k=1 duplicated in the source but MATCHED -> target row unchanged,
    // nothing duplicated, no error; k=3 never matched -> inserted
    assert(out === Seq((1L, 10.0), (2L, 20.0), (3L, 300.0)))
    // the plan is the documented anti-join shape: one LEFT ANTI, no
    // full-outer join, no window guard
    val m = spark.sessionState.sqlParser.parsePlan(
      """MERGE INTO mrg_io_tgt t USING mrg_io_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta)
        |""".stripMargin)
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable]
    val plan = plans.MergeIntoViews.interpret(spark, m)
      .queryExecution.optimizedPlan
    val joinTypes = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.joinType.sql
    }
    assert(joinTypes === Seq("LEFT ANTI"),
      s"insert-only merge should plan one anti join, got $joinTypes")
  }

  test("cardinality guard does NOT fire on duplicate source keys that " +
      "match no target row — ANSI inserts both (only MATCHED " +
      "multiplicity is a violation)") {
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("mrg_card2_tgt")
    Seq((9L, 90.0), (9L, 91.0), (1L, 11.0))
      .toDF("k", "delta").createOrReplaceTempView("mrg_card2_src")
    val out = plans.DmlViews.sql(spark,
      """MERGE INTO mrg_card2_tgt t USING mrg_card2_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.delta
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.delta)
        |""".stripMargin)
      .orderBy("k", "v").as[(Long, Double)].collect().toSeq
    assert(out === Seq((1L, 11.0), (9L, 90.0), (9L, 91.0)))
  }

  test("assignment validation: an UPDATE SET naming no target column " +
      "(a typo) throws naming the offender, never a silent no-op") {
    freshViews()
    val e = intercept[IllegalArgumentException] {
      plans.DmlViews.sql(spark,
        """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET vv = s.delta""".stripMargin)
    }
    assert(e.getMessage.contains("vv") &&
      e.getMessage.contains("unknown target column"))
    // duplicate assignment to one column in one clause is also an error
    val e2 = intercept[IllegalArgumentException] {
      plans.DmlViews.sql(spark,
        """MERGE INTO mrg_tgt t USING mrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.delta, V = 0.0""".stripMargin)
    }
    assert(e2.getMessage.contains("more than once"))
  }

  test("schema evolution is a REFUSED, pinned error — INSERT naming a " +
      "new column throws; the documented widen-then-merge works") {
    Seq((1L, 10.0)).toDF("k", "v").createOrReplaceTempView("mrg_ev_tgt")
    Seq((2L, 20.0, "x"))
      .toDF("k", "v", "extra").createOrReplaceTempView("mrg_ev_src")
    val e = intercept[IllegalArgumentException] {
      plans.DmlViews.sql(spark,
        """MERGE INTO mrg_ev_tgt t USING mrg_ev_src s ON t.k = s.k
          |WHEN NOT MATCHED THEN
          |  INSERT (k, v, extra) VALUES (s.k, s.v, s.extra)""".stripMargin)
    }
    assert(e.getMessage.contains("extra") &&
      e.getMessage.contains("Schema evolution"))
    // the workaround the scaladoc names: widen the target, then merge
    spark.sql("""CREATE OR REPLACE TEMP VIEW mrg_ev_tgt2 AS
      |SELECT *, CAST(NULL AS STRING) AS extra FROM mrg_ev_tgt""".stripMargin)
    val out = plans.DmlViews.sql(spark,
      """MERGE INTO mrg_ev_tgt2 t USING mrg_ev_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN
        |  INSERT (k, v, extra) VALUES (s.k, s.v, s.extra)""".stripMargin)
      .orderBy("k").as[(Long, Double, Option[String])].collect().toSeq
    assert(out === Seq((1L, 10.0, None), (2L, 20.0, Some("x"))))
  }

  test("subquery source: USING (SELECT …) s runs without a temp view " +
      "(the form dbt incremental compiles to); unaliased non-relation " +
      "sources are refused") {
    freshViews()
    val out = plans.DmlViews.sql(spark,
      """MERGE INTO mrg_tgt t
        |USING (SELECT k, delta * 2 AS d2 FROM mrg_src
        |       WHERE delta < 100.0) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.d2
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.d2)
        |""".stripMargin)
      .orderBy("k").select("k", "v").as[(Long, Double)].collect().toSeq
    // source = {k=2 d2=10, k=5 d2=14}: k=2 updated, k=5 inserted,
    // k=1/3/4 survive untouched
    assert(out === Seq((1L, 10.0), (2L, 10.0), (3L, 30.0), (4L, 40.0),
      (5L, 14.0)))
  }

  test("target-kind guard: a catalog table is refused (the re-point " +
      "would silently shadow it), and so is a global temp view") {
    val tbl = "mrg_guard_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    spark.sql(s"CREATE TABLE $tbl USING PARQUET AS " +
      "SELECT 1L AS k, CAST(2.0 AS DOUBLE) AS v")
    try {
      Seq((1L, 9.0)).toDF("k", "v").createOrReplaceTempView("mrg_guard_src")
      val e = intercept[IllegalArgumentException] {
        plans.DmlViews.sql(spark,
          s"""MERGE INTO $tbl t USING mrg_guard_src s ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      }
      assert(e.getMessage.contains("session-local temp view"))
      // the table itself is untouched — nothing shadowed, nothing merged
      assert(spark.table(tbl).as[(Long, Double)].collect().toSeq ===
        Seq((1L, 2.0)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq((1L, 2.0)).toDF("k", "v").createOrReplaceGlobalTempView("mrg_gt")
    val eg = intercept[IllegalArgumentException] {
      plans.DmlViews.sql(spark,
        """MERGE INTO global_temp.mrg_gt t USING mrg_guard_src s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(eg.getMessage.contains("session-local temp view"))
  }

  test("the declared sql_merge query matches its own oracle emulation " +
      "run through Spark SQL (engine-internal cross-check)") {
    val q = SparkEntry.queries("sql_merge")(spark, sf0001)
    val emu = spark.sql(SparkEntry.oracleSql("sql_merge")
      .replace("FROM orders", "FROM sqv_orders"))
    assert(q.exceptAll(emu).isEmpty && emu.exceptAll(q).isEmpty,
      "sql_merge diverged from its full-outer-join emulation")
    assert(q.count() > 0)
  }
}
