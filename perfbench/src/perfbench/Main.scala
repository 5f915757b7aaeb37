package perfbench

import java.lang.management.ManagementFactory
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Stats.Obj

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * perfbench.Main --workload nightly|backfill --seed N --seconds S
  *   --trace 0|1 --work DIR --cores N [--commit SHA] [--load1 X]
  * }}}
  * One client, closed loop: each operation starts when the previous one
  * (and its untimed correctness check) has finished. */
object Main {

  /** Workload sizes: days of history landed by set-up, days in a backfill
    * operation, days the nightly models cover. */
  val HistoryDays = 30
  val BackfillDays = 6
  val ModelDays = 9
  /** Set-ups a run makes; backfill's are short (about 1 s), so it makes more
    * for a steadier median. */
  val SetupReps = Map("nightly" -> 3, "backfill" -> 5)
  val WarmupOps = 1
  val WarmupBackfillDays = 2
  /** Operations measured at the least, whatever `--seconds` says, so each
    * median has this many samples and one slow operation does not move it. */
  val MinOps = 3
  val HistoryStart: LocalDate = LocalDate.of(2024, 1, 1)

  val Workloads = Seq("nightly", "backfill")
  /** Each workload's stages, in the order `ops_s` reports them. */
  val Stages = Map("nightly" -> Seq("land", "models", "tiles"),
    "backfill" -> Seq("backfill", "board"))

  /** End-to-end metrics and their units, in print order. */
  val EndToEnd = Seq("refresh_p50_s" -> "s", "dash_p50_s" -> "s",
    "stored_bytes_per_input_byte" -> "ratio", "setup_s" -> "s", "heap_live_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val nightly = workload == "nightly"
    val launched = System.nanoTime()
    val timeline = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def mark(phase: String): Unit = timeline += phase -> (System.nanoTime() - launched) / 1e9

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.modelgraph.stateRoot", s"$work/mgstate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session")
    val probe = new SparkProbe
    if (trace) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val tr = new Tracer(trace, spark.sparkContext)
    val gen = new BoxOffice(seed)
    val flow = new Flow(spark, gen, tr, work)
    val board = new Board(spark, seed, tr, work)
    val history = BoxOffice.days(HistoryStart, HistoryDays)

    // Set-up number k: a fresh database with the history in the long store
    // and, for nightly, the days before the first night as raw tables; for
    // backfill, a fresh board corpus.
    def setup(k: Int): Unit = {
      if (k > 1) flow.drop()
      flow.fresh(s"setup$k")
      flow.seed(history, if (nightly) ModelDays - 1 else 0)
      if (!nightly) board.fresh(s"setup$k")
    }

    // One operation, and the check of its output that runs after it.
    def op(warm: Boolean): (OpTimes, () => Seq[String]) = {
      val cpu0 = cpuSeconds()
      val gc0 = gcMillis()
      var stages = Seq.empty[Double]
      var queries = Seq.empty[Double]
      var check: () => Seq[String] = () => Nil
      val total = timed(tr.span("op") {
        if (nightly) {
          val day = flow.lastDay.plusDays(1)
          val p = gen.payload(day)
          val land = timed(flow.landDay(day, p))
          val model = timed(flow.models(day, ModelDays))
          queries = flow.dashboards(day)
          stages = Seq(land, model, queries.sum)
          check = () => flow.check(day, ModelDays)
        } else {
          val n = if (warm) WarmupBackfillDays else BackfillDays
          val start = flow.lastDay.plusDays(1)
          val end = start.plusDays(n - 1L)
          val payloads = BoxOffice.days(start, n).map(d => d -> gen.payload(d)).toMap
          val land = timed { flow.backfill(start, end, payloads): Unit }
          queries = board.pass()
          stages = Seq(land, queries.sum)
          check = () => flow.checkLanded(n)
        }
      })
      (OpTimes(total, cpuSeconds() - cpu0, (gcMillis() - gc0) / 1e3, stages, queries), check)
    }

    // Set-up, repeated. The first repetition also pays the JVM's and
    // Spark's first-use costs; the median leaves it out. The operations
    // run on the last set-up's state.
    val setupCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to SetupReps(workload)).map { k =>
      val cpu0 = cpuSeconds()
      val s = timed(setup(k))
      setupCpu += cpuSeconds() - cpu0
      s
    }
    mark("setup")

    // Warm-up operations (op 0): untimed, but checked like the others.
    val warmFailures = (1 to WarmupOps).flatMap { _ =>
      val (_, check) = op(warm = true)
      flow.account()
      check()
    }
    mark("warmup")
    val gc0 = gcMillis()
    val steal0 = stealSeconds()
    val results = scala.collection.mutable.ArrayBuffer.empty[OpTimes]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || attempted < MinOps) {
      attempted += 1
      tr.op = attempted
      try {
        val (r, check) = op(warm = false)
        flow.account()
        val bad = check()
        if (bad.isEmpty) results += r
        else failures += s"op $attempted: ${bad.mkString(", ")}"
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"op $attempted: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    mark("measure")
    val gcS = (gcMillis() - gc0) / 1e3
    val stealS = for (a <- steal0; b <- stealSeconds()) yield b - a
    // the board's outputs, for the oracle check run.py makes after the JVM
    if (!nightly) board.dump(s"$work/board_out")
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    warmFailures.foreach(f => System.err.println(s"[perfbench] warm-up check failed: $f"))

    val storedRatio = flow.storedPerInputByte
    val ok = results.nonEmpty
    val refresh = results.map(_.total).toSeq
    def medianOf(xs: Iterable[Double]) = if (ok) Stats.median(xs.toSeq) else Double.NaN

    flow.drop()
    val heapMb = liveHeapMb()
    // stopping the context delivers every pending listener event
    spark.stop()
    mark("teardown")

    val layer: Seq[(String, Double)] =
      if (!trace) Nil
      else {
        val c = flow.counts
        val derived = Seq(
          "pipeline.useful_ratio" ->
            (if (c.getOrElse("pipeline.attempts", 0.0) == 0) 0.0
             else c("pipeline.days_run") / c("pipeline.attempts")))
        val perOp = c.toSeq
          .map { case (k, v) => k -> v / attempted }
        Layers.metrics(tr.spans.toSeq, probe, attempted, cores, (perOp ++ derived).toMap, gcS)
      }

    val e2e = Map(
      "refresh_p50_s" -> medianOf(refresh),
      "dash_p50_s" -> medianOf(results.map(r => r.queries.sum / r.queries.size)),
      "stored_bytes_per_input_byte" -> storedRatio,
      "setup_s" -> Stats.median(setupS),
      "heap_live_mb" -> heapMb)
    val tail = if (ok) Stats.tail(refresh) else None
    val info = Obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "load1_at_launch" -> a.getOrElse("load1", "?"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION, "commit" -> a.getOrElse("commit", "unknown"),
      "measured_s" -> measuredS, "cpu_steal_s_while_measuring" -> stealS, "ops" -> attempted, "failed" -> failures.size,
      "fail_ratio" -> failures.size.toDouble / attempted.max(1),
      "failures" -> failures.toSeq,
      "refresh_tail" -> Obj(
        "percentile" -> tail.map(_._1), "value_s" -> tail.map(_._2),
        "samples" -> refresh.size, "rule" -> "highest percentile with >= 10 samples above it"),
      "ops_s" -> Obj(("total" +: "cpu" +: "gc" +: Stages(workload)).zipWithIndex.map { case (k, i) =>
        k -> results.map(r => (r.total +: r.cpu +: r.gc +: r.stages)(i)).toSeq
      }: _*),
      "setup_cpu_s" -> setupCpu.toSeq,
      "setup_runs_s" -> setupS, "timeline_s" -> Obj(timeline.toSeq: _*),
      "end_to_end" -> Obj(EndToEnd.map { case (k, _) => k -> e2e(k) }: _*))
    println(s"# perfbench ${Stats.json(info)}")

    val metrics =
      if (trace) layer.map { case (k, v) => k -> Obj("value" -> v, "unit" -> unitOf(k)) }
      else EndToEnd.map { case (k, u) =>
        k -> Obj("value" -> e2e(k), "unit" -> u)
      }
    println(Stats.json(Obj(
      "correct" -> (failures.isEmpty && warmFailures.isEmpty && ok),
      "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> Obj(metrics: _*))))
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time the hypervisor gave to others, summed over CPUs (Linux). */
  private def stealSeconds(): Option[Double] = scala.util.Try {
    val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+")
    cpu(8).toDouble / 100
  }.toOption

  /** CPU time the JVM has used, all threads. */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap still in use after a forced full collection. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def unitOf(metric: String): String =
    if (metric.contains("bytes")) "bytes"
    else if (metric.endsWith("ratio")) "ratio"
    else if (metric.endsWith("_s")) "s"
    else "count"
}
