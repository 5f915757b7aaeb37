package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{functions, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.ingest.Ingest
import graft.pipeline.{Consolidate, ModelGraph, Pipeline}

/** Timings of one operation, in seconds: its wall time, the JVM's CPU
  * time and GC time, the wall time of each stage, and each query's
  * latency. */
final case class OpTimes(total: Double, cpu: Double, gc: Double, stages: Seq[Double],
    queries: Seq[Double])

/** The paper's flow driven through the program's public functions: land a
  * day's KOFIC payload, rebuild the two dbt models, serve the dashboards.
  * Each call into a layer is wrapped in a span. State lives in one catalog
  * database plus one long-format store directory, both under `work`. */
final class Flow(spark: SparkSession, gen: BoxOffice, tr: Tracer, work: String) {
  import spark.implicits._

  private var db = ""
  private var store = ""
  /** Charts in the long store, oldest first. */
  val landed = ArrayBuffer.empty[IndexedSeq[Entry]]
  /** Per-layer counts summed over measured operations. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var lastDash = Map.empty[String, Array[Row]]
  /** What the last operation did, measured by [[account]] after it. */
  private val pendingDays = ArrayBuffer.empty[(LocalDate, String)]
  private var pendingPlans = Seq.empty[SparkPlan]
  private var pendingSql = 0L

  def count(k: String, v: Double): Unit =
    if (tr.op >= 1) counts(k) = counts.getOrElse(k, 0.0) + v

  def lastDay: LocalDate = landed.last.head.day

  /** Switch to a new, empty database and store. */
  def fresh(name: String): Unit = {
    spark.sql(s"CREATE DATABASE $name")
    spark.sql(s"USE $name")
    db = name
    store = s"$work/store_$name"
    landed.clear()
  }

  def drop(): Unit = {
    spark.sql("USE default")
    spark.sql(s"DROP DATABASE $db CASCADE")
    Flow.rm(new File(store))
  }

  private def ymd(d: LocalDate) = d.format(BoxOffice.Ymd)
  private def bytes(p: String) = p.getBytes("UTF-8").length.toLong

  /** Set-up: land `days` into the long store with one append, and keep the
    * last `raw` of them as per-day tables too. */
  def seed(days: Seq[LocalDate], raw: Int): Unit = {
    val payloads = days.map(gen.payload)
    val d0 = ymd(days.head)
    val wide = Ingest.dailyTable(Ingest.parsePayload(payloads.toDS()), d0)
    Ingest.appendLongStore(Ingest.toLong(wide, d0), store)
    days.zip(payloads).takeRight(raw).foreach { case (d, p) =>
      Ingest.saveDaily(Ingest.dailyTable(Ingest.parsePayload(Seq(p).toDS()), ymd(d)), ymd(d))
    }
    landed ++= days.map(gen.chart)
  }

  /** One day: parse → non-empty guard → typed daily table, then land it as
    * the raw per-day table and as the day's long-store partition. */
  def landDay(day: LocalDate, payload: String): Unit = {
    val d = ymd(day)
    val wide = tr.span("ingest.parse") {
      val flat = Ingest.requireNonEmpty(Ingest.parsePayload(Seq(payload).toDS()), s"payload $d")
      Ingest.dailyTable(flat, d)
    }
    tr.span("ingest.land") {
      Ingest.saveDaily(wide, d)
      Ingest.upsertLongStore(Ingest.toLong(wide, d), store)
    }
    landed += gen.chart(day)
    pendingDays += day -> payload
  }

  /** `Pipeline.backfill` over [start, end], probing the store's partitions. */
  def backfill(start: LocalDate, end: LocalDate, payloads: Map[LocalDate, String]): Int = {
    val done = Pipeline.partitionDone(spark, store)
    var attempts = 0
    val ran = tr.span("pipeline.backfill") {
      Pipeline.backfill(start, end,
        isDone = d => tr.span("pipeline.probe")(done(d)),
        run = d => { attempts += 1; landDay(d, payloads(d)) })
    }
    count("pipeline.attempts", attempts.toDouble)
    count("pipeline.days_run", ran.size.toDouble)
    ran.size
  }

  val Models = Seq("box_office_data", "box_office_showrange")

  /** Rebuild both dbt models as tables over the `n` days ending at `end`. */
  def models(end: LocalDate, n: Int): Unit = {
    val names = Consolidate.tableNames(end, n)
    val ms = tr.span("modelgraph.render") {
      Seq(
        ModelGraph.Model(Models(0), Consolidate.boxOfficeDataSql(names, t => s"raw_$t"), "table"),
        ModelGraph.Model(Models(1), Consolidate.boxOfficeShowRangeSql(names, t => s"raw_$t"), "table"))
    }
    tr.span("modelgraph.run")(ModelGraph.run(spark, ms))
    pendingSql = ms.map(m => bytes(m.sql)).sum
  }

  /** The dashboard tiles: (name, SQL) over the long store and the models. */
  def dashSql(end: LocalDate): Seq[(String, String)] = {
    val from = end.minusDays(6)
    Seq(
      "topk7" -> s"""SELECT title, SUM(audience_num) AS audience FROM box_office_long
        |WHERE show_range BETWEEN DATE'$from' AND DATE'$end'
        |GROUP BY title ORDER BY audience DESC, title LIMIT 10""".stripMargin,
      "dow_avg" -> """SELECT dayofweek(show_range) AS dow, AVG(sales) AS avg_sales
        |FROM box_office_long GROUP BY dayofweek(show_range) ORDER BY dow""".stripMargin,
      "corr" -> "SELECT corr(sales, audience_num) AS r FROM box_office_long",
      "trend7" -> s"""SELECT showRange, total_sales FROM box_office_showrange
        |WHERE showRange BETWEEN DATE'$from' AND DATE'$end' ORDER BY showRange""".stripMargin)
  }

  /** Runs every tile; returns each tile's latency in seconds. */
  def dashboards(end: LocalDate): Seq[Double] = {
    tr.span("serve.scan") {
      spark.read.parquet(store).createOrReplaceTempView("box_office_long")
    }
    val out = dashSql(end).map { case (name, sql) =>
      val t0 = System.nanoTime()
      val (df, rows) = tr.span(s"serve.$name") {
        val df = spark.sql(sql)
        (df, df.collect())
      }
      ((name -> rows, df.queryExecution.executedPlan), (System.nanoTime() - t0) / 1e9)
    }
    lastDash = out.map(_._1._1).toMap
    pendingPlans = out.map(_._1._2)
    out.map(_._2)
  }

  /** Counts the last operation's output on disk and its scans' files; runs
    * after the operation, outside its timed window. */
  def account(): Unit = {
    pendingDays.foreach { case (day, payload) =>
      val (files, size) = Flow.du(tableDir(s"raw_${ymd(day)}_box_office"),
        new File(store, s"show_range=$day"))
      count("ingest.rows", gen.chart(day).size.toDouble)
      count("ingest.files_written", files.toDouble)
      count("ingest.bytes_written", size.toDouble)
      count("ingest.payload_bytes", bytes(payload).toDouble)
    }
    pendingDays.clear()
    if (pendingSql > 0) {
      val (files, size) = Flow.du(Models.map(tableDir): _*)
      count("modelgraph.sql_bytes", pendingSql.toDouble)
      count("modelgraph.files_out", files.toDouble)
      count("modelgraph.bytes_out", size.toDouble)
      pendingSql = 0
    }
    count("serve.files_read", pendingPlans.map(Flow.filesRead).sum.toDouble)
  }

  private def tableDir(t: String): File = new File(
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(t, Some(db))).location)

  /** Bytes the measured operations landed and materialized, over the
    * payload bytes they landed. */
  def storedPerInputByte: Double =
    (counts.getOrElse("ingest.bytes_written", 0.0) + counts.getOrElse("modelgraph.bytes_out", 0.0)) /
      counts.getOrElse("ingest.payload_bytes", 0.0)

  // ---------------------------------------------------------------
  // Correctness: program outputs against the plain-Scala expectations
  // ---------------------------------------------------------------

  /** Mismatches of what the last `n` days landed: their raw tables, and
    * each day's sales and audience in the long store. Empty when all agree. */
  def checkLanded(n: Int): Seq[String] = {
    val window = landed.takeRight(n)
    val bad = ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) bad += what
    val raw = window.map { c =>
      val d = ymd(c.head.day)
      spark.table(s"raw_${d}_box_office")
        .select(functions.lit(d), $"code", $"${d}_sales", $"${d}_audience_num")
    }.reduce(_ union _).collect().groupBy(_.getString(0))
    window.foreach { c =>
      val d = ymd(c.head.day)
      val got = raw.getOrElse(d, Array.empty[Row]).map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      expect(s"raw_${d}_box_office", got.sorted.toSeq == c.map(e => (e.code, e.sales, e.audience)).sorted)
    }
    val sums = spark.read.parquet(store).groupBy("show_range")
      .agg(functions.sum("sales"), functions.sum("audience_num")).collect()
      .map(r => r.getDate(0).toLocalDate -> (r.getLong(1), r.getLong(2))).toMap
    expect("long store sums", landed.forall { c =>
      sums.get(c.head.day).contains((c.map(_.sales).sum, c.map(_.audience).sum))
    } && sums.size == landed.size)
    bad.toSeq
  }

  /** Mismatches of the models over `n` days ending at `end` and of the last
    * dashboard results; empty when all agree. */
  def check(end: LocalDate, n: Int): Seq[String] = {
    val upToEnd = landed.filter(c => !c.head.day.isAfter(end)).toSeq
    val window = upToEnd.takeRight(n)
    val bad = ArrayBuffer.empty[String]
    def expect(what: String, ok: Boolean): Unit = if (!ok) bad += what
    val all = upToEnd.flatten
    expect("dashboard topk7", lastDash("topk7").map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Expected.topAudience(upToEnd.takeRight(7)))
    val dow = lastDash("dow_avg").map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val wantDow = Expected.dowAvg(all)
    expect("dashboard dow_avg", dow.map(_._1) == wantDow.map(_._1) &&
      dow.zip(wantDow).forall { case (a, b) => Expected.close(a._2, b._2) })
    expect("dashboard corr",
      Expected.close(lastDash("corr").head.getDouble(0), Expected.corr(all)))
    val range = spark.table(Models(1)).collect().map { r =>
      r.getDate(0).toLocalDate -> (1 to 6).map(r.getLong)
    }.toMap
    expect("box_office_showrange sums", range == Expected.showRange(window))

    val pivot = Expected.pivot(window)
    val data = spark.table(Models(0))
    val cols = data.columns.drop(2)
    val rows = data.collect()
    expect("box_office_data keys",
      rows.map(r => (r.getString(0), r.getLong(1))).toSet == pivot.keySet && rows.length == pivot.size)
    expect("box_office_data cells", rows.forall { r =>
      val want = pivot.getOrElse((r.getString(0), r.getLong(1)), Map.empty[String, Long])
      cols.indices.forall { i =>
        val v = if (r.isNullAt(i + 2)) None else Some(r.getLong(i + 2))
        v == want.get(cols(i))
      }
    })
    expect("dashboard trend7", lastDash("trend7").map(r =>
      (r.getDate(0).toLocalDate, r.getLong(1))).toSeq == Expected.trend(window.takeRight(7)))
    count("modelgraph.rows_out", (range.size + rows.length).toDouble)
    bad.toSeq
  }
}

object Flow {
  def rm(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rm)
    f.delete(): Unit
  }

  /** (regular files, bytes) under the given paths. */
  def du(roots: File*): (Long, Long) = {
    var files = 0L
    var size = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(walk)
      else if (f.isFile) { files += 1; size += f.length() }
    roots.foreach(walk)
    (files, size)
  }

  /** Files the plan's scans read, from their `numFiles` SQL metric. */
  def filesRead(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case q: QueryStageExec => filesRead(q.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(filesRead).sum
  }
}
