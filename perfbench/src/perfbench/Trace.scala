package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer. Times are wall-clock epoch milliseconds, the
  * clock Spark's listener events carry. `op` is the operation the call
  * belongs to (0 = warm-up). */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Long, endMs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Long = endMs - startMs
}

object Span {
  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span, children: Seq[Span]): Long =
    s.ms - Stats.covered(children.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
}

/** Records spans around the benchmark's calls into each layer. Spans stay
  * in memory until the run ends. Disabled, `span` only runs the body. The
  * innermost open span's id rides on the Spark local property
  * [[Tracer.SpanProp]], so every job a call submits names its span. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1
  var op = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.currentTimeMillis())
        open = open.tail
        sc.setLocalProperty(Tracer.SpanProp, open.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Job, task and planning records from Spark's listener buses, keyed by
  * the span that submitted them. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  import SparkProbe._
  /** (latest phase end in ms, analysis + optimization + planning seconds) */
  val plans = ArrayBuffer.empty[(Long, Double)]
  val jobs = ArrayBuffer.empty[Job]
  val bySpan = scala.collection.mutable.Map.empty[Int, Acc]
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    jobs += Job(e.jobId, span, e.time, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = bySpan.getOrElseUpdate(stageSpan.getOrElse(e.stageId, 0), new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shuffle += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.peakMem = a.peakMem max m.peakExecutionMemory
    }
  }

  private val PlanPhases = Set("analysis", "optimization", "planning")

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.filter { case (k, _) => PlanPhases(k) }
    if (ph.nonEmpty)
      plans += ((ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs).sum / 1e3))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

object SparkProbe {
  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long)
  final class Acc {
    var tasks = 0L; var runMs = 0L; var shuffle = 0L; var spill = 0L
    var peakMem = 0L
  }
}

/** Folds spans and probe records into the per-layer metrics. Every figure is
  * per measured operation (ops numbered from 1), so runs of different
  * lengths compare. */
object Layers {
  val SparkLayers = Seq("ingest", "modelgraph", "serve", "ops")

  /** Work counted at layer boundaries; reported as 0 when a workload does
    * not touch the layer. */
  val Counts = Seq("ingest.rows", "ingest.files_written", "ingest.bytes_written",
    "pipeline.attempts", "pipeline.useful_ratio", "modelgraph.sql_bytes",
    "modelgraph.rows_out", "modelgraph.bytes_out", "modelgraph.files_out",
    "serve.files_read")

  def metrics(spans: Seq[Span], probe: SparkProbe, ops: Int, cores: Int,
      counts: Map[String, Double], gcS: Double): Seq[(String, Double)] = {
    val measured = spans.filter(_.op >= 1)
    val byParent = measured.groupBy(_.parent)
    val self = measured.map(s => s.id -> Span.selfMs(s, byParent.getOrElse(s.id, Nil))).toMap
    val layerOf = measured.map(s => s.id -> s.layer).toMap
    def perOp(x: Double) = x / ops
    def sumS(pred: Span => Boolean) = perOp(measured.filter(pred).map(_.ms).sum / 1e3)
    def named(n: String) = sumS(_.name == n)

    // outermost spans of a layer: their union is the layer's wall time
    def tops(layer: String) = measured.filter(s =>
      s.layer == layer && !layerOf.get(s.parent).contains(layer))
    val jobs = probe.jobs.filter(j => layerOf.contains(j.span)).toSeq
    val sparkRows = SparkLayers.flatMap { l =>
      val ids = measured.filter(_.layer == l).map(_.id).toSet
      val accs = ids.toSeq.flatMap(probe.bySpan.get)
      val wallMs = tops(l).map(_.ms).sum
      val jobIv = jobs.map(j => (j.startMs, j.endMs))
      val driverOnlyMs = tops(l).map(s => s.ms - Stats.covered(jobIv, s.startMs, s.endMs)).sum
      val planS = probe.plans.toSeq.collect {
        case (t, secs) if innermost(measured, t).exists(s => ids(s.id)) => secs
      }.sum
      val runMs = accs.map(_.runMs).sum
      Seq(
        s"$l.plan_s" -> perOp(planS),
        s"$l.jobs" -> perOp(jobs.count(j => ids(j.span)).toDouble),
        s"$l.tasks" -> perOp(accs.map(_.tasks).sum.toDouble),
        s"$l.task_run_s" -> perOp(runMs / 1e3),
        s"$l.driver_only_s" -> perOp(driverOnlyMs / 1e3),
        s"$l.core_busy_ratio" ->
          (if (wallMs == 0) 0.0 else runMs.toDouble / (wallMs.toDouble * cores)),
        s"$l.shuffle_bytes" -> perOp(accs.map(_.shuffle).sum.toDouble),
        s"$l.spill_bytes" -> perOp(accs.map(_.spill).sum.toDouble))
    }
    val measuredIds = measured.map(_.id).toSet
    val peak = probe.bySpan.collect { case (id, a) if measuredIds(id) => a.peakMem }
    def selfS(layer: String) =
      perOp(measured.filter(_.layer == layer).map(s => self(s.id)).sum / 1e3)
    Seq(
      "ingest.parse_s" -> named("ingest.parse"),
      "ingest.land_s" -> named("ingest.land"),
      "ingest.self_s" -> selfS("ingest"),
      "pipeline.backfill_s" -> named("pipeline.backfill"),
      "pipeline.probe_s" -> named("pipeline.probe"),
      "pipeline.self_s" -> selfS("pipeline"),
      "modelgraph.render_s" -> named("modelgraph.render"),
      "modelgraph.run_s" -> named("modelgraph.run"),
      "modelgraph.self_s" -> selfS("modelgraph"),
      "serve.scan_s" -> named("serve.scan"),
      "serve.topk7_s" -> named("serve.topk7"),
      "serve.dow_avg_s" -> named("serve.dow_avg"),
      "serve.corr_s" -> named("serve.corr"),
      "serve.trend7_s" -> named("serve.trend7"),
      "serve.self_s" -> selfS("serve")) ++
      Board.Queries.map(q => s"ops.${q}_s" -> named(s"ops.$q")) ++ Seq(
      "op.self_s" -> selfS("op")) ++
      Counts.map(k => k -> counts.getOrElse(k, 0.0)) ++
      sparkRows ++ Seq(
        "spark.gc_s" -> perOp(gcS),
        "spark.peak_exec_mem_bytes" -> (if (peak.isEmpty) 0.0 else peak.max.toDouble))
  }

  /** The shortest span whose interval holds the instant. */
  def innermost(spans: Seq[Span], t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).minByOption(_.ms)
}
