package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, LongType, DateType, StringType}
import graft.ingest.Ingest
import graft.pipeline.{Consolidate, Pipeline, Stage}

/** Golden tests for the ingest → consolidate pipeline: fixture JSON in the
  * exact KOFIC payload shape → per-day wide tables → both dbt models'
  * output shapes, with every wide column name generated from the dates.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** A KOFIC-shaped payload for one day with the given ranked movies. */
  private def payload(d8: String, movies: Seq[(Int, String, Long, Long)]): String = {
    val list = movies.map { case (rank, (title), sales, audi) =>
      s"""{"rnum":"$rank","rank":"$rank","rankInten":"0","rankOldAndNew":"OLD",
         |"movieCd":"${1000 + title.hashCode.abs % 1000}","movieNm":"$title",
         |"openDt":"2025-01-01","salesAmt":"$sales","salesShare":"12.5",
         |"salesInten":"100","salesChange":"1.5","salesAcc":"${sales * 10}",
         |"audiCnt":"$audi","audiInten":"10","audiChange":"0.5",
         |"audiAcc":"${audi * 10}","scrnCnt":"500","showCnt":"2000"}"""
        .stripMargin.replaceAll("\n", "")
    }.mkString(",")
    s"""{"boxOfficeResult":{"boxofficeType":"일별 박스오피스",
       |"showRange":"$d8~$d8","dailyBoxOfficeList":[$list]}}"""
      .stripMargin.replaceAll("\n", "")
  }

  private val dates = Seq("20250113", "20250114", "20250115")
  private val movies = Seq("MovieA", "MovieB", "MovieC")

  /** One wide daily table per date, via the full ingest path. */
  private lazy val dailyTables: Seq[(String, DataFrame)] = dates.map { d8 =>
    val raw = payload(d8, movies.zipWithIndex.map { case (m, i) =>
      (i + 1, m, 1000L * (i + 1) + d8.toLong % 97, 100L * (i + 1))
    })
    val flat = Ingest.parsePayload(Seq(raw).toDS())
    val table = Ingest.dailyTable(
      Ingest.requireNonEmpty(flat, s"day $d8"), d8)
    (s"${d8}_box_office", table)
  }

  test("A1/A2: payload parse explodes the list and hoists parent fields") {
    val flat = Ingest.parsePayload(Seq(payload("20250113",
      Seq((1, "MovieA", 1000L, 100L), (2, "MovieB", 2000L, 200L)))).toDS())
    assert(flat.count() === 2)
    assert(flat.columns.take(2).toSeq === Seq("boxOfficeType", "showRange"))
    assert(flat.select("boxOfficeType").distinct().as[String].collect()
      === Array("일별 박스오피스"))
  }

  test("B1 + DDL casts: daily table has the reference's exact schema") {
    val (name, df) = dailyTables.head
    assert(name === "20250113_box_office")
    val f = df.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(f("20250113_rank_num") === LongType)
    assert(f("20250113_ranking") === LongType)
    assert(f("20250113_new_entry") === StringType)
    assert(f("code") === LongType)
    assert(f("title") === StringType)
    assert(f("released_date") === DateType)
    assert(f("20250113_sales") === LongType)
    assert(f("20250113_sales_ratio") === DoubleType)
    assert(f("20250113_sales_increase_decrease_ratio") === DoubleType)
    assert(f("20250113_total_audience_num") === LongType)
    assert(f("showRange") === DateType)
    // showRange "A~B" -> first date (daily_parquet_pipeline.py:80)
    assert(df.select("showRange").distinct().as[java.sql.Date].collect()
      === Array(java.sql.Date.valueOf("2025-01-13")))
  }

  test("A1: the static KOFIC payload fixture ingests end-to-end") {
    // FIXTURES.md §B1 — the reference's exact response shape, from a file
    // (the fixture-based stand-in for the live API fetch).
    val url = getClass.getResource("/kofic_payload.json")
    assert(url != null, "fixture missing from test resources")
    val raw = spark.read.textFile(url.getPath)
    val daily = Ingest.dailyTable(
      Ingest.requireNonEmpty(Ingest.parsePayload(raw), "fixture"), "20250123")
    val rows = daily.collect()
    assert(rows.length === 3)
    assert(daily.columns.contains("20250123_sales"))
    val top = daily.filter($"20250123_ranking" === 1).collect().head
    assert(top.getAs[String]("title") === "Fixture Movie One")
    assert(top.getAs[Long]("20250123_sales") === 482013820L)
    assert(top.getAs[java.sql.Date]("showRange") ===
      java.sql.Date.valueOf("2025-01-23"))
    // quoted-comma title survives (the reference's CSV path corrupts it)
    assert(daily.filter($"title" === "Fixture, The Second").count() === 1)
  }

  test("B5: empty payload aborts") {
    val flat = Ingest.parsePayload(
      Seq(payload("20250113", Seq.empty)).toDS())
    intercept[IllegalStateException] {
      Ingest.requireNonEmpty(flat, "empty day")
    }
  }

  test("malformed payload JSON yields zero rows, caught by the guard") {
    // from_json returns null on parse failure; the explode drops the row,
    // so a garbage response surfaces as the B5 empty-payload abort rather
    // than propagating nulls into the daily table.
    val garbage = Seq("not json at all", """{"boxOfficeResult": 42}""").toDS()
    val flat = Ingest.parsePayload(garbage)
    assert(flat.isEmpty)
    intercept[IllegalStateException] {
      Ingest.requireNonEmpty(flat, "garbage day")
    }
  }

  test("K5: box_office_data pivot reproduces the dbt model's shape") {
    val out = Consolidate.boxOfficeData(dailyTables)
    // column names generated from dates, 4 measures per date, after
    // (title, code) — exactly box_office_data.sql:20-31.
    val expectedCols = Seq("title", "code") ++
      dates.flatMap(d => Seq(s"${d}_sales", s"${d}_total_sales",
        s"${d}_audience_num", s"${d}_total_audience_num"))
    assert(out.columns.toSeq === expectedCols)
    val rows = out.collect()
    assert(rows.length === movies.length) // one row per (title, code)
    // ordered by title, code (box_office_data.sql:32)
    assert(rows.map(_.getString(0)).toSeq === movies.sorted)
    // spot value: MovieA on the 14th -> sales 1000 + 20250114 % 97
    val a = out.filter($"title" === "MovieA").collect().head
    assert(a.getAs[Long]("20250114_sales") === 1000L + 20250114L % 97)
  }

  test("K5: box_office_showrange partial+final equals direct totals") {
    val out = Consolidate.boxOfficeShowRange(dailyTables)
    assert(out.columns.toSeq === Seq("showRange", "total_sales",
      "total_total_sales", "total_audience_num", "total_total_audience_num",
      "total_screen_num", "total_screen_show"))
    assert(out.count() === dates.length) // one row per day
    // direct single-level total for one day must match the two-phase value
    val d = "20250115"
    val direct = dailyTables.toMap.apply(s"${d}_box_office")
      .agg(org.apache.spark.sql.functions.sum(s"${d}_sales")).as[Long]
      .collect().head
    val twoPhase = out
      .filter($"showRange" === java.sql.Date.valueOf("2025-01-15"))
      .select("total_sales").as[Long].collect().head
    assert(twoPhase === direct)
  }

  test("K6: tableNames generates yesterday-8 .. yesterday, oldest first") {
    val names = Consolidate.tableNames(LocalDate.of(2025, 1, 15))
    assert(names.length === 9)
    assert(names.head === "20250107_box_office")
    assert(names.last === "20250115_box_office")
  }

  test("K1/K3/K4: pipeline chains stages, retries failures, checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_").toString
    var failOnce = true
    val p = new Pipeline(Seq(
      Stage("double", df => df.withColumn("v2", $"v" * 2)),
      Stage("flaky", df => {
        if (failOnce) { failOnce = false; sys.error("transient failure") }
        df.withColumn("v3", $"v2" + 1)
      })), retries = 1, checkpointDir = Some(dir))
    val out = p.run(Seq(1, 2, 3).toDF("v"))
    assert(out.select("v3").as[Int].collect().sorted.toSeq === Seq(3, 5, 7))
    // K4: each stage left a durable parquet handoff
    assert(new java.io.File(s"$dir/double").exists())
    assert(new java.io.File(s"$dir/flaky").exists())
    // a pipeline exceeding its retries propagates the failure
    val bad = new Pipeline(Seq(Stage("alwaysfail",
      _ => sys.error("boom"))), retries = 1)
    intercept[RuntimeException] { bad.run(Seq(1).toDF("v")) }
  }

  test("K3: a fatal stage error propagates after exactly one attempt") {
    var attempts = 0
    val p = new Pipeline(Seq(Stage("interrupted", _ => {
      attempts += 1
      throw new InterruptedException("stop")
    })), retries = 3)
    intercept[InterruptedException] { p.run(Seq(1).toDF("v")) }
    assert(attempts === 1, "fatal errors are never retried")
  }

  test("toWide reproduces dailyTable's exact column ORDER (positional safety)") {
    val (_, wide) = dailyTables.head
    val roundTripped = Ingest.toWide(Ingest.toLong(wide, "20250113"), "20250113")
    assert(roundTripped.columns.toSeq === wide.columns.toSeq,
      "positional consumers (insertInto) need the layout, not just the set")
  }

  test("§1.5: long-format store partitions by show_range and prunes") {
    val store = java.nio.file.Files.createTempDirectory("graft_long_").toString
    dailyTables.zip(dates).foreach { case ((_, wide), d8) =>
      Ingest.appendLongStore(Ingest.toLong(wide, d8), store)
    }
    val back = spark.read.parquet(store)
    assert(back.count() === dates.length * movies.length)
    assert(back.columns.contains("show_range") &&
      back.columns.contains("sales") && !back.columns.exists(_.contains("2025011")))
    // the date predicate becomes partition pruning (B7 at scale)
    val oneDay = back.filter($"show_range" === "2025-01-14")
    assert(oneDay.count() === movies.length)
    val scan = oneDay.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters") &&
      scan.contains("show_range"), s"no partition pruning in: $scan")
    // round trip: the wide layout is reproducible from long (D3 pivot)
    val d = "20250114"
    val wideBack = back.filter($"show_range" === "2025-01-14")
      .groupBy("title", "code")
      .agg(org.apache.spark.sql.functions.max("sales").as(s"${d}_sales"))
    assert(wideBack.count() === movies.length)
  }

  test("end-to-end: ingest N days -> catalog -> consolidate by table name") {
    // the reference's full nightly flow (daily_parquet_pipeline + dbt_dags)
    // as one in-process chain: payload -> daily wide tables in the catalog
    // -> both dbt models resolved FROM the catalog by generated name.
    dailyTables.zip(dates).foreach { case ((_, wide), d8) =>
      Ingest.saveDaily(wide, d8)
    }
    try {
      val names = dates.map(d => s"${d}_box_office")
      val tables = Consolidate.fromCatalog(spark, names)
      val pivoted = Consolidate.boxOfficeData(tables)
      assert(pivoted.count() === movies.length)
      assert(pivoted.columns.length === 2 + dates.length * 4)
      val ranged = Consolidate.boxOfficeShowRange(tables)
      assert(ranged.count() === dates.length)
    } finally dates.foreach(d =>
      spark.sql(s"DROP TABLE IF EXISTS raw_${d}_box_office"))
  }

  test("K7: the dbt model-graph runner reproduces BOTH reference models " +
      "from SQL TEXT — dbt run, in-process: raw tables -> topo-ordered " +
      "CTAS -> same rows as the DataFrame implementations") {
    import graft.pipeline.ModelGraph
    import graft.pipeline.ModelGraph.Model
    // the reference flow: daily wide tables land under raw_* names
    // (dbt's source()), then `dbt run` materializes both transform
    // models as TABLES in dependency order (dbt_dags.py:48-78,
    // dbt_project.yml:36 `+materialized: table`)
    dailyTables.foreach { case (n, df) => df.createOrReplaceTempView(s"raw_$n") }
    val names = dates.map(d => s"${d}_box_office")
    try {
      val out = ModelGraph.run(spark, Seq(
        Model("box_office_data",
          Consolidate.boxOfficeDataSql(names, n => s"raw_$n"),
          materialized = "table"),
        Model("box_office_showrange",
          Consolidate.boxOfficeShowRangeSql(names, n => s"raw_$n"),
          materialized = "table")))
      // SQL-text path ≡ DataFrame path, per model, column names included
      val frameData = Consolidate.boxOfficeData(dailyTables)
      val frameRange = Consolidate.boxOfficeShowRange(dailyTables)
      assert(out("box_office_data").columns.toSeq === frameData.columns.toSeq)
      assert(out("box_office_data").exceptAll(frameData).isEmpty &&
        frameData.exceptAll(out("box_office_data")).isEmpty,
        "box_office_data: SQL-text model diverged from the DataFrame form")
      assert(out("box_office_showrange").columns.toSeq ===
        frameRange.columns.toSeq)
      assert(out("box_office_showrange").exceptAll(frameRange).isEmpty &&
        frameRange.exceptAll(out("box_office_showrange")).isEmpty,
        "box_office_showrange: SQL-text model diverged from the DataFrame form")
      // and they are real catalog tables, like dbt's materialization
      assert(spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier("box_office_data")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS box_office_data")
      spark.sql("DROP TABLE IF EXISTS box_office_showrange")
      names.foreach(n => spark.catalog.dropTempView(s"raw_$n"))
    }
  }

  test("K7/snapshot: dbt's snapshot verb over the reference's movie " +
      "dimension — two daily batches through the ModelGraph snapshot " +
      "materialization build the SCD2 history the empty " +
      "dbt_project/snapshots/ scaffold implies") {
    import graft.pipeline.ModelGraph
    import graft.pipeline.ModelGraph.Model
    import org.apache.spark.sql.functions.lit
    dailyTables.foreach { case (n, df) =>
      df.createOrReplaceTempView(s"raw_$n") }
    val name = "movie_dim_snap_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    ModelGraph.reset(spark, name)
    try {
      def model(d8: String) = Model(name,
        s"SELECT title, `${d8}_sales` AS sales FROM raw_${d8}_box_office",
        materialized = "snapshot", uniqueKey = Seq("title"))
      // dbt runs the same snapshot daily; the source rolls to the new day
      ModelGraph.run(spark, Seq(model("20250113")), snapshotAt = lit(113))
      ModelGraph.run(spark, Seq(model("20250114")), snapshotAt = lit(114))
      val hist = spark.table(name)
        .orderBy("title", "valid_from")
        .as[(String, Long, Int, Option[Int], Boolean)].collect().toSeq
      // every movie's sales moved day-over-day (the fixture salts sales
      // with d8 % 97): per title one CLOSED day-113 version and one
      // CURRENT day-114 version
      assert(hist.size === movies.size * 2)
      movies.foreach { m =>
        val vs = hist.filter(_._1 === m)
        assert(vs.map(v => (v._3, v._4, v._5)) ===
          Seq((113, Some(114), false), (114, None, true)),
          s"movie $m history: $vs")
        assert(vs.head._2 !== vs.last._2, s"movie $m sales should differ")
      }
    } finally {
      ModelGraph.reset(spark, name)
      dates.foreach(d => spark.catalog.dropTempView(s"raw_${d}_box_office"))
    }
  }

  test("A8/A9: idempotent saveAsTable + bulk load append") {
    val (_, df) = dailyTables.head
    val table = Ingest.saveDaily(df, "20250113")
    assert(spark.table(table).count() === movies.length)
    Ingest.saveDaily(df, "20250113") // mode("ignore") — second write is a no-op
    assert(spark.table(table).count() === movies.length)
    val staged = java.nio.file.Files.createTempDirectory("graft_a9_").toString
    df.write.mode("overwrite").parquet(staged)
    Ingest.bulkLoad(spark, staged, table)
    assert(spark.table(table).count() === movies.length * 2)
    spark.sql(s"DROP TABLE $table")
  }

  test("E2: CSV-era day reconciles with a Parquet-era day (schema variants)") {
    import org.apache.spark.sql.types.{DecimalType, IntegerType}
    // same payload shape, two DDL generations (daily_csv_pipeline.py:127-148
    // vs daily_parquet_pipeline.py:114-135)
    val csvDay = Ingest.dailyTable(Ingest.parsePayload(Seq(payload("20250113",
      Seq((1, "MovieA", 1000L, 100L), (2, "MovieB", 2000L, 200L)))).toDS()),
      "20250113", Ingest.CsvEra)
    val pqDay = Ingest.dailyTable(Ingest.parsePayload(Seq(payload("20250114",
      Seq((1, "MovieA", 1500L, 150L), (2, "MovieC", 2500L, 250L)))).toDS()),
      "20250114", Ingest.ParquetEra)

    // the legacy DDL's exact types materialize
    val csvTypes = csvDay.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(csvTypes("20250113_rank_num") === IntegerType)
    assert(csvTypes("20250113_sales") === DecimalType(18, 0))
    assert(csvTypes("code") === DecimalType(18, 0))
    assert(pqDay.schema("code").dataType === LongType)

    // normalized, both eras share the canonical schema and union losslessly
    val n13 = Ingest.toLong(Ingest.normalizeEra(csvDay, "20250113"), "20250113")
    val n14 = Ingest.toLong(Ingest.normalizeEra(pqDay, "20250114"), "20250114")
    assert(n13.schema === n14.schema)
    val unioned = n13.unionByName(n14)
    assert(unioned.count() === 4)
    assert(unioned.schema("sales").dataType === LongType)
    // values survive the NUMERIC → BIGINT widening bit-exactly
    assert(unioned.filter($"title" === "MovieA").select("sales")
      .as[Long].collect().sorted.toSeq === Seq(1000L, 1500L))

    // E2 proper: set-reconciliation of keys across the two eras
    val k13 = n13.select("code")
    val k14 = n14.select("code")
    assert(k13.intersect(k14).count() === 1) // MovieA carried over
    assert(k13.except(k14).count() === 1)    // MovieB dropped out
    assert(k14.except(k13).count() === 1)    // MovieC entered
  }

  test("observed: DQ counters ride the action, no second scan") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions.{col, when}
    val obs = Observation("stage_dq")
    val df = Seq((1L, "a"), (2L, null), (3L, "c"), (4L, null))
      .toDF("k", "v")
    val staged = pipeline.Pipeline.observed(
      df.withColumn("key", when(col("v").isNotNull, col("k"))), obs, "key")
    val n = staged.count() // the "real" action; metrics ride along
    assert(n === 4)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("n_null_key") === 2L)
  }

  test("K2: backfill runs exactly the missing dates, in order, and a " +
    "re-invoke is a no-op") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_backfill").toString
    val store = s"$out/longstore"
    def writeDay(day: LocalDate): Unit = {
      val d8 = day.toString.replace("-", "")
      val raw = payload(d8, Seq((1, s"Movie$d8", 1000L, 100L)))
      val wide = Ingest.dailyTable(
        Ingest.requireNonEmpty(Ingest.parsePayload(Seq(raw).toDS()), d8), d8)
      Ingest.upsertLongStore(Ingest.toLong(wide, d8), store)
    }
    val jan = (d: Int) => LocalDate.of(2025, 1, d)
    // pre-materialized: 13 and 15; the 14th and 16th..17th are the gap
    writeDay(jan(13)); writeDay(jan(15))
    val isDone = pipeline.Pipeline.partitionDone(spark, store)
    val ran = pipeline.Pipeline.backfill(jan(13), jan(17), isDone, writeDay)
    assert(ran === Seq(jan(14), jan(16), jan(17)))
    // all five days materialized exactly once
    val days = spark.read.parquet(store)
      .select("show_range").distinct().count()
    assert(days === 5)
    assert(spark.read.parquet(store).count() === 5)
    // catchup is idempotent: nothing left to run
    assert(pipeline.Pipeline.backfill(jan(13), jan(17), isDone, writeDay)
      .isEmpty)
  }

  test("K2: a flaky date is retried; earlier dates' output stands on " +
    "abort") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_backfill2").toString
    val store = s"$out/longstore"
    val jan = (d: Int) => LocalDate.of(2025, 2, d)
    val attempts = scala.collection.mutable.Map.empty[LocalDate, Int]
    def flakyWrite(day: LocalDate): Unit = {
      attempts(day) = attempts.getOrElse(day, 0) + 1
      // day 2 fails once then succeeds; day 3 always fails
      if (day == jan(2) && attempts(day) == 1)
        throw new RuntimeException("transient")
      if (day == jan(3)) throw new RuntimeException("permanent")
      val d8 = day.toString.replace("-", "")
      val raw = payload(d8, Seq((1, s"Movie$d8", 1000L, 100L)))
      val wide = Ingest.dailyTable(
        Ingest.requireNonEmpty(Ingest.parsePayload(Seq(raw).toDS()), d8), d8)
      Ingest.upsertLongStore(Ingest.toLong(wide, d8), store)
    }
    val isDone = pipeline.Pipeline.partitionDone(spark, store)
    val e = intercept[RuntimeException] {
      pipeline.Pipeline.backfill(jan(1), jan(4), isDone, flakyWrite,
        retries = 1)
    }
    assert(e.getMessage === "permanent")
    assert(attempts(jan(2)) === 2, "transient failure retried once")
    assert(attempts(jan(3)) === 2, "permanent failure exhausted retries")
    // days 1 and 2 survived the abort; resuming runs only 3 and 4
    assert(isDone(jan(1)) && isDone(jan(2)) && !isDone(jan(4)))
  }

  test("K2: a fatal error in a backfill day job propagates after exactly " +
    "one attempt and stops the backfill") {
    val jan = (d: Int) => LocalDate.of(2025, 4, d)
    val attempts = scala.collection.mutable.Map.empty[LocalDate, Int]
    def interrupted(day: LocalDate): Unit = {
      attempts(day) = attempts.getOrElse(day, 0) + 1
      if (day == jan(2)) throw new InterruptedException("stop")
    }
    intercept[InterruptedException] {
      pipeline.Pipeline.backfill(jan(1), jan(3), _ => false, interrupted,
        retries = 3)
    }
    assert(attempts.toMap === Map(jan(1) -> 1, jan(2) -> 1),
      "the fatal day ran once and no later day ran")
  }

  test("K2: a failure AFTER the day's write commits does not duplicate " +
    "rows on retry (upsert writer is the retry-safe form)") {
    // The hazard: attempt 1 commits the partition, then fails before
    // reporting success; the in-loop retry re-runs the whole day. With an
    // append writer that means duplicate rows; upsertLongStore's dynamic
    // partition overwrite makes the retry REPLACE the partition instead.
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft_backfill3").toString
    val store = s"$out/longstore"
    val day = LocalDate.of(2025, 3, 1)
    var attempts = 0
    def crashAfterCommit(d: LocalDate): Unit = {
      attempts += 1
      val d8 = d.toString.replace("-", "")
      val raw = payload(d8, Seq((1, s"Movie$d8", 1000L, 100L)))
      val wide = Ingest.dailyTable(
        Ingest.requireNonEmpty(Ingest.parsePayload(Seq(raw).toDS()), d8), d8)
      Ingest.upsertLongStore(Ingest.toLong(wide, d8), store)
      if (attempts == 1) throw new RuntimeException("post-commit failure")
    }
    val ran = pipeline.Pipeline.backfill(day, day,
      pipeline.Pipeline.partitionDone(spark, store), crashAfterCommit,
      retries = 1)
    assert(ran === Seq(day) && attempts === 2)
    // exactly one copy of the day's single row — no append duplication
    assert(spark.read.parquet(store).count() === 1)
  }
}
