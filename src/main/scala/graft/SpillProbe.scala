package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev-side SPILL probe (not part of the driver contract, not CI): measured
  * backing for the 100 TB posture claims. ScaleProbe shows TIME scaling per
  * decade; this main shows MEMORY behavior — per-query bytes spilled
  * (in-memory merge + disk), shuffle bytes written, and peak per-task
  * execution memory — for the bench's heaviest queries at sf0.1 (1×) and
  * the stacked sf1ish decade (10×).
  *
  * The testdata is far smaller than the 128 GiB host, so with default
  * settings nothing would ever spill and the probe would prove nothing.
  * `SPARK_GRAFT_MEM_FRACTION` (default 0.05) shrinks Spark's unified
  * execution+storage pool to the point where per-task execution memory at
  * the decade scale is in the single-digit-MB range — the SAME
  * memory-pressure regime a 1000-executor cluster hits when 100 TB is
  * divided across its task slots. A query that degrades gracefully here
  * (spills to disk, completes, stays ~linear) has a working spill path;
  * one that OOMs or goes super-linear has a scale bug the timing bench
  * cannot see.
  *
  * Results → SCALE.md (table) + one JSON line per (query, sf) on stdout.
  * Run: `scripts/spill_probe.sh`, or
  * `sbt "runMain graft.SpillProbe"` for default settings.
  */
object SpillProbe {

  /** The bench's heaviest queries by median wall-clock (r9 top-10), so
    * every family that dominates the round total has spill evidence:
    * the two capstones, the Pregel family (LPA / pagerank / modularity /
    * BFS / neighborhood-Jaccard), the near-dup inverted-index family,
    * the LSH eval harness in BOTH forms (full exact-truth — whose
    * documented super-linearity is exactly why it must be SEEN to
    * degrade gracefully, not assumed — and the sampled 100 TB form),
    * and the argmax keeper. */
  private val Heavy = Seq("pipeline_curate", "pipeline_curate2",
    "graph_label_prop", "graph_pagerank", "graph_bfs", "graph_jaccard",
    "dedup_containment", "dedup_ngram_jaccard", "dedup_keep_best",
    "graph_modularity", "dedup_minhash_eval", "dedup_minhash_eval_sampled",
    // r11's expensive additions (VERDICT r11 item 6): the banding sweep
    // (runs exact-Jaccard truth), the nprobe tuning curve (k replays of
    // the shared Lloyd fit), the two-fit whitening, the winnowing
    // substring report, and the composed curation funnel.
    "dedup_band_sweep", "ivf_nprobe_sweep", "embed_whiten",
    "dedup_substring", "curate_funnel",
    // r12's snapshot/media families (VERDICT r12 item 3): the one-shuffle
    // visibility-interval history over the persisted changelog store and
    // the batched-decode pipeline (the repartition + mapPartitions shape
    // whose spill posture nothing else in the battery covers).
    "snapshot_history", "media_decode_agg")

  private final class SpillListener extends SparkListener {
    val memSpilled = new java.util.concurrent.atomic.LongAdder
    val diskSpilled = new java.util.concurrent.atomic.LongAdder
    val shuffleWritten = new java.util.concurrent.atomic.LongAdder
    val peakExecPerTask = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.LongAdder
    override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
      val m = end.taskMetrics
      if (m != null) {
        memSpilled.add(m.memoryBytesSpilled)
        diskSpilled.add(m.diskBytesSpilled)
        shuffleWritten.add(m.shuffleWriteMetrics.bytesWritten)
        peakExecPerTask.getAndAccumulate(m.peakExecutionMemory, math.max(_, _))
        tasks.increment()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val memFraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.05")
    val spark = Session.local(cpus, "spark.memory.fraction" -> memFraction)

    val sf1ish = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1ish")
    ScaleProbe.buildStack(spark, "/root/testdata/sf0.1", sf1ish)
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1", "sf1ish" -> sf1ish)

    val mb = 1024.0 * 1024.0
    // dev-only subset (comma-separated) — probe one family without
    // re-timing the battery (ScaleProbe's PROBE_ONLY convention)
    val heavy = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSet).map(only => Heavy.filter(only))
      .getOrElse(Heavy)
    val rows = for (name <- heavy; (label, dir) <- dirs) yield {
      val listener = new SpillListener
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      // a query that cannot finish under the pinch is itself a finding —
      // record it and keep probing the rest instead of dying mid-sweep
      val ok = scala.util.Try(SparkEntry.queries(name)(spark, dir).count())
        .isSuccess
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // listener events are delivered asynchronously; give the bus a
      // moment to drain before reading the counters (dev probe — the
      // public API has no flush)
      Thread.sleep(1500)
      spark.sparkContext.removeSparkListener(listener)
      val r = (name, label, secs,
        listener.memSpilled.sum() / mb, listener.diskSpilled.sum() / mb,
        listener.shuffleWritten.sum() / mb,
        listener.peakExecPerTask.get() / mb, listener.tasks.sum(), ok)
      println(f"""{"probe":"$name","sf":"$label","sec":$secs%.2f,""" +
        f""""mem_spill_mb":${r._4}%.1f,"disk_spill_mb":${r._5}%.1f,""" +
        f""""shuffle_write_mb":${r._6}%.1f,"peak_task_exec_mb":${r._7}%.1f,""" +
        f""""tasks":${r._8},"completed":$ok}""")
      r
    }

    val hdr =
      s"""# SCALE — memory & spill evidence (round 10)
         |
         |ScaleProbe (BASELINE.md "Scale evidence") shows TIME per decade;
         |this table shows MEMORY behavior for the bench's heaviest
         |queries (the r9 top-10 cost families) under deliberate memory
         |pressure, produced by `graft.SpillProbe` via
         |`scripts/spill_probe.sh`.
         |
         |Setup: local[$cpus], `spark.memory.fraction=$memFraction` (a ~${
        (memFraction.toDouble * 100).round}% unified pool — the per-task
         |execution-memory regime of a fully-loaded production executor,
         |since the test host's 128 GiB would otherwise never spill on
         |sub-GiB testdata), sf0.1 = driver testdata (1×), sf1ish = the
         |ScaleProbe stacked decade (10×). `mem spill` counts in-memory
         |merge spills (deserialized bytes), `disk spill` the bytes that
         |actually hit disk; `peak task exec` is the largest single task's
         |execution-memory high-water mark.
         |
         || query | sf | wall s | mem spill MB | disk spill MB | shuffle write MB | peak task exec MB | tasks | completed |
         ||---|---|---|---|---|---|---|---|---|""".stripMargin
    val table = rows.map { case (n, l, s, ms, ds, sw, pk, tk, ok) =>
      f"| $n | $l | $s%.2f | $ms%.1f | $ds%.1f | $sw%.1f | $pk%.1f | $tk | ${if (ok) "yes" else "NO"} |"
    }.mkString("\n")
    val footer =
      """|
         |Reading: a nonzero `mem spill`/`disk spill` with a completed run
         |and a ~linear 1×→10× wall-clock ratio means the operator's
         |sort/aggregate/join paths degrade gracefully when execution
         |memory is scarce — the property that matters at 100 TB, where
         |some stage is always memory-tight. `peak task exec` growing far
         |slower than 10× confirms per-task state is bounded by partition
         |size (shuffle partitioning doing its job), not by input scale.
         |""".stripMargin
    // a PROBE_ONLY subset must never clobber the full battery's published
    // table (the bench.sh never-publish-a-partial-run rule)
    if (sys.env.get("SPARK_GRAFT_PROBE_ONLY").isEmpty) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALE.md"),
        hdr + "\n" + table + "\n" + footer)
      println(
        s"""{"metric":"spill_probe","rows":${rows.length},"out":"SCALE.md"}""")
    } else println(
      s"""{"metric":"spill_probe","rows":${rows.length},"out":"stdout-only (subset)"}""")
    spark.stop()
  }
}
