package perfbench

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** One ranked movie of one day's chart, as numbers. The payload carries the
  * same values as strings (FIXTURES.md §B1). */
final case class Entry(day: LocalDate, rank: Int, rankInten: Long,
    newEntry: String, code: Long, title: String, openDt: LocalDate,
    sales: Long, salesShare: String, salesInten: Long, salesChange: String,
    salesAcc: Long, audience: Long, audiInten: Long, audiChange: String,
    audiAcc: Long, screens: Long, shows: Long)

/** Seed-determined KOFIC daily charts: each day's top `perDay` from a pool
  * of `poolSize` movies. A day's chart depends only on (seed, day), so any
  * window can be generated on its own. */
final class BoxOffice(seed: Long, poolSize: Int = 200, perDay: Int = 10) {
  require(perDay <= poolSize)

  private val pool: IndexedSeq[(Long, String, LocalDate)] = {
    val r = new SplittableRandom(seed)
    val tag = java.lang.Long.toString(seed & 0xfffL, 36)
    (0 until poolSize).map { i =>
      (20200000L + i * 37L + (seed & 0x1fL), f"영화 $tag-$i%03d",
        LocalDate.of(2023, 1, 1).plusDays(r.nextInt(365).toLong))
    }
  }

  def chart(day: LocalDate): IndexedSeq[Entry] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ day.toEpochDay)
    val idx = Array.range(0, poolSize)
    for (i <- 0 until perDay) {
      val j = i + r.nextInt(poolSize - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    val sales = Array.fill(perDay)(10000000L + r.nextLong(490000000L))
      .sorted(Ordering[Long].reverse)
    val total = sales.sum.toDouble
    (0 until perDay).map { i =>
      val (code, title, openDt) = pool(idx(i))
      val audience = sales(i) / (8000L + r.nextInt(5000))
      val screens = 50L + r.nextInt(1500)
      Entry(day, i + 1, (r.nextInt(7) - 3).toLong,
        if (r.nextInt(10) == 0) "NEW" else "OLD", code, title, openDt,
        sales(i), fmt1(100.0 * sales(i) / total),
        r.nextLong(200000000L) - 100000000L, fmt1(r.nextInt(2001) / 10.0 - 100),
        sales(i) * (2L + r.nextInt(50)), audience,
        r.nextLong(40000L) - 20000L, fmt1(r.nextInt(2001) / 10.0 - 100),
        audience * (2L + r.nextInt(50)), screens, screens * (3L + r.nextInt(3)))
    }
  }

  private def fmt1(x: Double): String = String.format(Locale.ROOT, "%.1f", x)

  /** The day's KOFIC API response body, every leaf a string. */
  def payload(day: LocalDate): String = {
    val d = day.format(BoxOffice.Ymd)
    val rows = chart(day).map { e =>
      Seq("rnum" -> e.rank, "rank" -> e.rank, "rankInten" -> e.rankInten,
        "rankOldAndNew" -> e.newEntry, "movieCd" -> e.code,
        "movieNm" -> e.title, "openDt" -> e.openDt,
        "salesAmt" -> e.sales, "salesShare" -> e.salesShare,
        "salesInten" -> e.salesInten, "salesChange" -> e.salesChange,
        "salesAcc" -> e.salesAcc, "audiCnt" -> e.audience,
        "audiInten" -> e.audiInten, "audiChange" -> e.audiChange,
        "audiAcc" -> e.audiAcc, "scrnCnt" -> e.screens, "showCnt" -> e.shows)
        .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    }
    s"""{"boxOfficeResult":{"boxofficeType":"일별 박스오피스",""" +
      s""""showRange":"$d~$d","dailyBoxOfficeList":${rows.mkString("[", ",", "]")}}}"""
  }
}

object BoxOffice {
  val Ymd: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMdd")

  def days(start: LocalDate, n: Int): IndexedSeq[LocalDate] =
    (0 until n).map(i => start.plusDays(i.toLong))
}

/** What the program must produce, computed in plain Scala from the
  * generated charts. */
object Expected {

  /** `box_office_showrange`: per day, the six sums in model column order
    * (sales, total_sales, audience_num, total_audience_num, screen_num,
    * screen_show). */
  def showRange(charts: Seq[Seq[Entry]]): Map[LocalDate, Seq[Long]] =
    charts.filter(_.nonEmpty).map { c =>
      c.head.day -> Seq(c.map(_.sales).sum, c.map(_.salesAcc).sum,
        c.map(_.audience).sum, c.map(_.audiAcc).sum, c.map(_.screens).sum,
        c.map(_.shows).sum)
    }.toMap

  /** `box_office_data`: per (title, code), every non-null pivot cell by its
    * `yyyyMMdd_<measure>` column name. Cells absent here must be null. */
  def pivot(charts: Seq[Seq[Entry]]): Map[(String, Long), Map[String, Long]] =
    charts.flatten.groupBy(e => (e.title, e.code)).map { case (k, es) =>
      k -> es.flatMap { e =>
        val d = e.day.format(BoxOffice.Ymd)
        Seq(s"${d}_sales" -> e.sales, s"${d}_total_sales" -> e.salesAcc,
          s"${d}_audience_num" -> e.audience,
          s"${d}_total_audience_num" -> e.audiAcc)
      }.toMap
    }

  /** Top titles by summed audience, ties broken by title. */
  def topAudience(charts: Seq[Seq[Entry]], k: Int = 10): Seq[(String, Long)] =
    charts.flatten.groupBy(_.title).map { case (t, es) => t -> es.map(_.audience).sum }
      .toSeq.sortBy { case (t, a) => (-a, t) }.take(k)

  /** Average sales by Spark's `dayofweek` (1 = Sunday … 7 = Saturday). */
  def dowAvg(entries: Iterable[Entry]): Seq[(Int, Double)] =
    entries.groupBy(e => e.day.getDayOfWeek.getValue % 7 + 1).map {
      case (dow, es) => dow -> es.map(_.sales.toDouble).sum / es.size
    }.toSeq.sortBy(_._1)

  /** Pearson correlation of sales and audience. */
  def corr(entries: Iterable[Entry]): Double = {
    val xs = entries.map(_.sales.toDouble).toArray
    val ys = entries.map(_.audience.toDouble).toArray
    val mx = xs.sum / xs.length
    val my = ys.sum / ys.length
    var sxy, sxx, syy = 0.0
    xs.indices.foreach { i =>
      val dx = xs(i) - mx; val dy = ys(i) - my
      sxy += dx * dy; sxx += dx * dx; syy += dy * dy
    }
    sxy / math.sqrt(sxx * syy)
  }

  /** Total sales per day, oldest first. */
  def trend(charts: Seq[Seq[Entry]]): Seq[(LocalDate, Long)] =
    charts.filter(_.nonEmpty).map(c => c.head.day -> c.map(_.sales).sum)
      .sortBy(_._1.toEpochDay)

  /** Relative closeness for doubles that Spark sums in another order. */
  def close(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
