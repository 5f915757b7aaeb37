package graft
import org.apache.hadoop.fs.FileUtil

/** Benchmark main (driver contract): runs every declared query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Noise control: each query runs `SPARK_GRAFT_BENCH_RUNS` times (default
  * 3) and reports the per-query MEDIAN — BASELINE.md documents ±25% host
  * noise on single runs, and medians keep round-over-round comparisons
  * meaningful. `spread` is emitted per query so a noisy host is visible
  * in the artifact itself. A failed query reports `null` timing and is
  * EXCLUDED from `total`, so a partially-failed run can never look
  * comparable to a clean baseline; the names surface in `failed`.
  *
  * ADAPTIVE RERUNS (r16, closes the r15 high-variance hole): a query
  * whose observed range after the base runs exceeds max(0.3s, 50% of its
  * median) can never clear the gate's spread-aware band — its noise
  * floor swallows any regression signal, and 8 such queries regenerated
  * adjudication work every round (dq_profile_approx's 5-round history).
  * Those queries automatically get extra runs (up to
  * `SPARK_GRAFT_BENCH_MAXRUNS`, default 7); the median is then over all
  * runs, and the reported `spread` is the TRIMMED range (drop the single
  * fastest and slowest run) once ≥5 runs exist — the gate's band wants
  * "how far can this query's MEDIAN plausibly wobble", and a
  * median-of-7 is insensitive to the one cold-JIT/GC outlier that
  * full-range spread keeps alive. Queries that got extra runs are named
  * in the artifact's `reruns` map with their run count.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Bench hygiene IN the artifact (r10 verdict nit: the driver's tail
    // scrape of a busy-host run published a second, contradictory total
    // for the round). Capture the 1-minute load BEFORE the JVM warms up:
    // any scrape of ANY Bench run now self-identifies contamination, so
    // a number measured on a non-idle host can't be read as definitive.
    val load1 = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val contaminated = load1 > 4.0 // same bar as scripts/bench.sh
    val spark = Session.local(Session.cpus)
    // warmup: pay the one-time executor/codegen/parquet-footer costs before
    // the clock starts, so they don't land on whichever query runs first.
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      spark.read.parquet(s"$sfDir/documents.parquet").count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    } catch { case _: Throwable => () }
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXRUNS", "7")
      .toInt.max(runs)
    var failed = List.empty[String]
    // dev-only: comma-separated subset for timing iteration (driver unsets)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    // Persisted derived stores (near-dup edge list, snapshot dedup index,
    // CDC changelog) are derive-once / read-many production indexes, but a
    // store surviving from a PREVIOUS bench run hides its build cost from
    // this run's artifact — and on a fresh tmpdir the build lands inside
    // whichever query touches the store first (the r18 driver bench read
    // pipeline_curate at 10.4s vs 2.7s idle for exactly this reason: its
    // first timed run paid the edge-store build). So: wipe the three
    // stores this run builds for `sfDir` up front (only those: the tmpdir
    // is shared with other datasets' stores, other JVMs and in-flight
    // `*.build.*` directories), then pay the cold build ONCE here as an
    // explicitly-timed `store_build` entry in `queries` — additive per
    // the bench contract (no existing entry removed or renamed), and the
    // per-query medians keep their warm-read, production-index semantics.
    // Skipped for dev subset runs (SPARK_GRAFT_BENCH_ONLY), which iterate
    // against a warm store.
    val storeBuild: Option[(String, Option[Double], Double, Int)] =
      if (only.isDefined) None
      else {
        Seq(ops.TextSim.edgeStoreDir(sfDir),
          ops.TextSim.snapshotStoreDir(sfDir),
          ops.Relational.changelogStoreDir(sfDir))
          .foreach(d => FileUtil.fullyDelete(new java.io.File(d)))
        val t0 = System.nanoTime()
        try {
          ops.TextSim.ensureEdgeStore(spark, sfDir)
          ops.TextSim.ensureSnapshotStore(spark, sfDir)
          ops.Relational.ensureChangelogStore(spark, sfDir)
          spark.catalog.clearCache()
          Some(("store_build", Some((System.nanoTime() - t0) / 1e9), 0.0, 1))
        } catch {
          case e: Throwable =>
            failed ::= "store_build"
            System.err.println(s"[bench] store_build FAILED: ${e.getMessage}")
            Some(("store_build", None, 0.0, 1))
        }
      }
    def medianOf(s: Seq[Double]): Double =
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    // (name, median | None if failed, spread, n_runs)
    val results: Seq[(String, Option[Double], Double, Int)] =
      storeBuild.toSeq ++ (SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_(name)) }
        .map { case (name, fn) =>
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var ok = true
        def timedRun(): Unit = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            times += (System.nanoTime() - t0) / 1e9
            // drop any persist()ed intermediates (e.g. dedup_ngram_jaccard's
            // shingle table) OUTSIDE the timed window, so later runs measure
            // the cold path rather than reading run 1's cache
            spark.catalog.clearCache()
          } catch {
            case e: Throwable =>
              // a failing query must be VISIBLE, not a fast-looking timing
              ok = false
              failed ::= name
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
        var i = 0
        while (i < runs && ok) { timedRun(); i += 1 }
        // adaptive reruns: while the full observed range still exceeds
        // max(0.3s, 50% of the running median), keep measuring (cap
        // maxRuns) — see the scaladoc for why these queries would
        // otherwise be permanently ungateable
        while (ok && runs > 1 && i < maxRuns && {
          val s = times.toSeq.sorted
          (s.last - s.head) > math.max(0.3, 0.5 * medianOf(s))
        }) { timedRun(); i += 1 }
        if (!ok) (name, None, 0.0, i)
        else {
          val s = times.toSeq.sorted
          // trimmed spread once >=5 runs exist: range of the runs with
          // the single min and max dropped — the band the GATE needs
          // (median wobble), not the band one outlier run paints
          val spread =
            if (s.size >= 5) s(s.size - 2) - s(1) else s.last - s.head
          (name, Some(medianOf(s)), spread, s.size)
        }
      })
    def f(d: Double) = BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val qs = results.map { case (k, v, _, _) =>
      s"\"" + k + "\":" + v.map(f(_).toString).getOrElse("null")
    }.mkString("{", ",", "}")
    val spreads = results.collect { case (k, Some(_), sp, _) =>
      s"\"" + k + "\":" + f(sp)
    }.mkString("{", ",", "}")
    val reruns = results.collect { case (k, Some(_), _, n) if n > runs =>
      s"\"" + k + "\":" + n
    }.mkString("{", ",", "}")
    val total = f(results.flatMap(_._2).sum)
    // `total` keeps store_build's one-time cold build; `total_queries`
    // sums the declared queries alone, comparable with artifacts that
    // predate the store_build entry
    val totalQueries =
      f(results.filter(_._1 != "store_build").flatMap(_._2).sum)
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val hygiene =
      s""""loadavg_before":$load1,"contaminated":$contaminated"""
    val json =
      s"""{"metric":"total","value":$total,"total_queries":$totalQueries,"unit":"sec","runs":$runs,"queries":$qs,"spread":$spreads,"reruns":$reruns,"failed":$failedJson,$hygiene,"sf":"$sfDir"}"""
    // stdout gets wrapped in sbt [info] noise — ALSO write the JSON to a
    // file so the bench gate can always machine-parse it (BENCH_r01 had
    // "parsed": null from scraping the sbt tail). scripts/bench.sh emits
    // this file as its sole stdout line.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/tmp/graft_bench.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(json)
    // The driver keeps only a tail window of stdout; the full line above is
    // ~5.5 KB so what survives the scrape can be an arbitrary suffix (r1–r4
    // all recorded "parsed": null). Print a SECOND, compact record as the
    // very last stdout line so any tail window retains the verdict-bearing
    // numbers: total seconds, query count, failures.
    // top-10 slowest medians ride in the compact line too: r5/r6 showed
    // the tail scrape can land inside the big line's `spread` map, making
    // per-query medians unrecoverable from the artifact — these ten are
    // the ones any round-over-round regression hunt needs.
    val top10 = results
      .collect { case (k, Some(m), _, _) => (k, m) }
      .sortBy(-_._2).take(10)
      .map { case (k, m) => s"\"" + k + "\":" + f(m) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":$total,"total_queries":$totalQueries,"unit":"sec","n_queries":${results.size},"runs":$runs,"failed":$failedJson,"top10_median":$top10,$hygiene,"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
