package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Orchestration layer (SURVEY.md §2.K): the reference's Airflow task chain
  * (`a >> b >> c`, daily_parquet_pipeline.py:214), per-task `retries: 1`
  * (:167), and XCom inter-task handoff (:192,198), re-expressed as plain
  * Scala composition of `DataFrame => DataFrame` stages.
  *
  *  - K1 chaining: `run` folds the stages; within a run, handoff is a lazy
  *    plan (no serialization boundary at all — Catalyst optimizes ACROSS
  *    stages, e.g. a later stage's filter pushes below an earlier stage's
  *    projection).
  *  - K3 retries: each stage is retried up to `retries` times. NOTE: Spark
  *    plans are lazy, so a retry is only meaningful around an ACTION —
  *    checkpointed runs (below) materialize per stage and give true
  *    per-stage retry, exactly like Airflow re-running one task.
  *  - K4 checkpoint handoff: with `checkpointDir`, each stage's output is
  *    written to Parquet and re-read, making stage boundaries durable
  *    (≙ XCom/S3 between Airflow tasks) at the cost of breaking plan
  *    fusion — the same trade the reference made everywhere, opt-in here.
  */
final case class Stage(name: String, f: DataFrame => DataFrame)

object Pipeline {
  import org.apache.spark.sql.{functions => F, Observation}

  /** Runtime data-quality counters at a stage boundary — rows seen and
    * null join-keys — ridden on the NEXT action as `Dataset.observe`
    * accumulators (zero extra scans, unlike a separate `count()`, which
    * at 100 TB would re-run the stage). Read them from the Observation
    * after any action on the returned frame:
    * {{{
    *   val obs = Observation("ingest")
    *   val staged = Pipeline.observed(df, obs, "o_custkey")
    *   staged.write.parquet(out)           // the real action
    *   val m = obs.get                      // Map(n_rows -> ..., n_null_key -> ...)
    * }}}
    * This is the Airflow-era "row count check task" (a second full read
    * in the reference's warehouse) collapsed into the writing pass itself.
    */
  def observed(df: DataFrame, obs: Observation, keyCol: String): DataFrame =
    df.observe(obs,
      F.count(F.lit(1)).as("n_rows"),
      F.sum(F.when(F.col(keyCol).isNull, 1L).otherwise(0L)).as("n_null_key"))

  /** K2 backfill/catchup semantics — the ENGINE half of the reference's
    * `schedule_interval` + `catchup` + manual backfill (dbt_dags.py:37-38,
    * README.md:48,125). Given an inclusive logical-date interval and a
    * probe for already-materialized dates, run the missing dates in order
    * through a day-parameterized job, each with the K3 retry contract.
    * A date whose output exists is SKIPPED (the reference's `CREATE TABLE
    * IF NOT EXISTS` per-day idempotency), so re-invoking the same interval
    * after a crash resumes where it stopped and a full re-invoke is a
    * no-op. A date that exhausts its retries aborts the backfill with
    * dates-run-so-far preserved on disk — matching Airflow's
    * depends-on-past=false task-level failure, where earlier successful
    * runs stand.
    *
    * Exactly-once-per-date holds ONLY when `run` is itself retry-safe for
    * one date — the in-loop retry re-invokes `run(day)` after a failure
    * that may already have committed task files. A plain append writer is
    * NOT (a half-committed attempt + retry = duplicate rows); use a
    * per-date overwrite such as `Ingest.upsertLongStore` (dynamic
    * partition overwrite: the retry REPLACES the partition), whose
    * job-commit staging also keeps `isDone`'s directory probe from seeing
    * a crashed attempt's partials. PipelineSpec's mid-write crash case
    * pins exactly this composition.
    *
    * Returns the logical dates actually executed. The WALL-CLOCK trigger
    * (cron) stays with the orchestrator, exactly as SURVEY §2.K declares —
    * what the engine owns is which dates run, in what order, and the
    * per-date materialization contract above.
    */
  def backfill(start: java.time.LocalDate, endInclusive: java.time.LocalDate,
      isDone: java.time.LocalDate => Boolean,
      run: java.time.LocalDate => Unit,
      retries: Int = 1): Seq[java.time.LocalDate] = {
    require(!endInclusive.isBefore(start), s"empty interval $start..$endInclusive")
    val dates = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(endInclusive)).toSeq
    val ran = Seq.newBuilder[java.time.LocalDate]
    dates.foreach { day =>
      if (!isDone(day)) {
        withRetry(retries, s"[backfill] $day")(run(day))
        ran += day
      }
    }
    ran.result()
  }

  /** K3: run `body`, re-running it after a failure up to `retries` more
    * times; the last failure propagates. NonFatal only: OOM / interrupts
    * propagate at once, never retried against a possibly-corrupted JVM.
    * Each retry prints `<label> failed (attempt n), retrying` to stderr. */
  private def withRetry[T](retries: Int, label: String)(body: => T): T = {
    var attempt = 0
    var result: Option[T] = None
    while (result.isEmpty) {
      try result = Some(body)
      catch {
        case scala.util.control.NonFatal(_) if attempt < retries =>
          attempt += 1
          System.err.println(s"$label failed (attempt $attempt), retrying")
      }
    }
    result.get
  }

  /** The standard `isDone` probe for a partitioned long-format store
    * (Ingest.appendLongStore): a date is materialized iff its
    * `show_range=<date>` partition directory exists. A metadata-only
    * filesystem check — never a data scan, so probing a year of dates
    * against a 100 TB store is 365 directory stats.
    */
  def partitionDone(spark: org.apache.spark.sql.SparkSession, path: String,
      partCol: String = "show_range"): java.time.LocalDate => Boolean = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    day => fs.exists(new org.apache.hadoop.fs.Path(path, s"$partCol=$day"))
  }
}

final class Pipeline(
    stages: Seq[Stage],
    retries: Int = 1,
    checkpointDir: Option[String] = None) {

  def run(input: DataFrame): DataFrame =
    stages.foldLeft(input) { (df, stage) =>
      Pipeline.withRetry(retries, s"[pipeline] stage '${stage.name}'") {
        val out = stage.f(df)
        checkpointDir match {
          case Some(dir) =>
            val path = s"$dir/${stage.name}"
            out.write.mode("overwrite").parquet(path) // the ACTION retried
            out.sparkSession.read.parquet(path)
          case None => out
        }
      }
    }
}
