package perfbench

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.ingest.Ingest
import graft.pipeline.Consolidate

/** The benchmark's own tests; exits non-zero when any fails.
  * {{{ python3 perfbench/run.py --selftest }}} */
object SelfTest {
  private var failed = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"  $name threw $e"); false
    }
    if (!pass) failed += 1
    println(s"${if (pass) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val days = BoxOffice.days(LocalDate.of(2025, 1, 21), 3)

    test("same seed gives byte-identical payloads") {
      days.map(new BoxOffice(7).payload) == days.map(new BoxOffice(7).payload)
    }
    test("a different seed gives different payloads") {
      days.forall(d => new BoxOffice(7).payload(d) != new BoxOffice(8).payload(d))
    }
    test("the board corpus depends on the seed alone, and has near-copies") {
      val c = Corpus.documents(7, 200)
      val words = c.map(_._2.split(" ").toSet)
      val nearCopies = words.indices.count(i => (0 until i).exists { j =>
        (words(i) & words(j)).size >= 0.8 * (words(i) | words(j)).size
      })
      c == Corpus.documents(7, 200) && c != Corpus.documents(8, 200) &&
        c.map(_._1) == (0L until 200L) && nearCopies > 20
    }
    test("a chart is the top 10 of distinct movies, ranked by sales") {
      val c = new BoxOffice(7).chart(days.head)
      c.size == 10 && c.map(_.code).distinct.size == 10 &&
        c.map(_.sales) == c.map(_.sales).sorted.reverse && c.map(_.rank) == (1 to 10)
    }

    test("tail: 100 samples use p90 (10 above it)") {
      Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90.0)
    }
    test("tail: 20 samples fall back to p50") {
      Stats.tail((1 to 20).map(_.toDouble)).map(_._1).contains(50.0)
    }
    test("tail: 15 samples have no percentile with 10 above it") {
      Stats.tail((1 to 15).map(_.toDouble)).isEmpty
    }
    test("tail: 1000 samples use p99") {
      Stats.tail((1 to 1000).map(_.toDouble)).map(_._1).contains(99.0)
    }

    test("self time subtracts the union of child intervals, clipped") {
      val parent = Span(1, "op", 0, 1, 0, 100)
      val kids = Seq(Span(2, "a.x", 1, 1, 10, 30), Span(3, "a.y", 1, 1, 20, 50),
        Span(4, "a.z", 1, 1, 60, 70), Span(5, "a.w", 1, 1, 95, 120))
      Span.selfMs(parent, kids) == 100 - 40 - 10 - 5 && Span.selfMs(parent, Nil) == 100
    }
    test("covered merges touching and nested intervals") {
      Stats.covered(Seq((0L, 10L), (10L, 20L), (2L, 5L)), 0, 100) == 20 &&
        Stats.covered(Seq((50L, 60L)), 0, 40) == 0
    }

    val printed = Main.EndToEnd ++ perLayerNames.map(n => n -> Main.unitOf(n))
    val names = printed.map(_._1)
    test("every metric name matches [A-Za-z0-9_.-]+") {
      names.forall(_.matches("[A-Za-z0-9_.-]+")) && names.distinct.size == names.size
    }
    val declared = new java.io.File("BENCHMARK.json")
    if (declared.isFile) test("BENCHMARK.json declares exactly the metrics and units the run prints") {
      val text = new String(java.nio.file.Files.readAllBytes(declared.toPath), "UTF-8")
      val found = "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
        .findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toSet
      found == printed.toSet
    }

    val spark = SparkSession.builder().master(s"local[${a.getOrElse("cores", "2")}]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", s"${a.getOrElse("work", ".")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val gen = new BoxOffice(11)
      val tables = days.map { d =>
        val ymd = d.format(BoxOffice.Ymd)
        s"${ymd}_box_office" ->
          Ingest.dailyTable(Ingest.parsePayload(Seq(gen.payload(d)).toDS()), ymd)
      }
      val charts = days.map(gen.chart)
      test("oracle agrees with Consolidate.boxOfficeShowRange") {
        Consolidate.boxOfficeShowRange(tables).collect().map { r =>
          r.getDate(0).toLocalDate -> (1 to 6).map(r.getLong)
        }.toMap == Expected.showRange(charts)
      }
      test("oracle agrees with Consolidate.boxOfficeData") {
        val df = Consolidate.boxOfficeData(tables)
        val cols = df.columns.drop(2)
        val want = Expected.pivot(charts)
        val got = df.collect().map { r =>
          (r.getString(0), r.getLong(1)) -> cols.indices.collect {
            case i if !r.isNullAt(i + 2) => cols(i) -> r.getLong(i + 2)
          }.toMap
        }.toMap
        got == want
      }
    } finally spark.stop()

    println(s"${if (failed == 0) "all passed" else s"$failed failed"}")
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Per-layer names, as a traced run prints them. */
  def perLayerNames: Seq[String] =
    Layers.metrics(Nil, new SparkProbe, 1, 1, Map.empty, 0.0).map(_._1)
}
