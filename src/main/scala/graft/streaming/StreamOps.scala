package graft.streaming

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{Column, DataFrame, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import graft.ops.dsum

/** Streaming transforms (SURVEY.md §2.I). The reference is scheduled
  * micro-batch (cron `0 0 * * *`, daily_parquet_pipeline.py:174) with
  * retries/backfill for late data; Structured Streaming expresses the same
  * semantics declaratively. Each transform below is a plain
  * `DataFrame => DataFrame`, so the SAME code runs in batch mode (where the
  * driver's DuckDB oracle checks it — see ops.Streaming) and on a
  * `readStream` source (where StreamingSpec drives it with MemoryStream).
  *
  * Scale posture: all aggregations key on (window[, user]) — state is
  * partitioned by group key across executors; watermarks bound state size
  * (without one, a streaming agg's state grows forever at 100 TB/day).
  */
object StreamOps {

  /** T2: tumbling daily window — the per-day GROUP BY showRange (D1). */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(to_date(col("window.start")).as("day"), col("n"),
        col("sum_value"))

  /** T3: sliding 7-day window stepping daily — the trailing-week trendline
    * (README.md:193-196) as overlapping windows (each event lands in 7).
    */
  def sliding7d(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "7 days", "1 day"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(to_date(col("window.start")).as("win_start"), col("n"),
        col("sum_value"))

  /** T4: 30-minute-gap session windows per user. Timestamps are exported as
    * epoch micros so batch output compares exactly against the DuckDB
    * oracle's TIMESTAMP_NS values (`epoch_us`).
    */
  def sessionize(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("last_ts")).as("last_us"),
        col("n_events"))

  /** T5: watermarked tumbling count — events later than 1 hour behind the
    * max seen ts are dropped from open windows; state for closed windows is
    * evicted. Streaming-only semantics (batch ignores watermarks), verified
    * by StreamingSpec golden runs.
    */
  def watermarkedDaily(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** One bar's open/high/low/close/n over (ts, event_id)-ordered ticks:
    * the aggregate list of [[ohlcHourly]] and of the batch `ts_ohlc`. */
  def ohlcBar: Seq[Column] = Seq(
    min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
    max(col("value")).as("high"),
    min(col("value")).as("low"),
    max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
    count(lit(1)).as("n"))

  /** T2 extension (r9): hourly OHLC bars over the tick stream — the
    * streaming twin of the batch `ts_ohlc` query (same (ts, event_id)
    * tie-broken open/close, same oracle). min_by/max_by/min/max/count are
    * all single-row-per-group aggregation state, so the streaming state
    * per (hour, type) window is CONSTANT-size regardless of tick volume
    * and the watermark closes each bar one hour after its window — the
    * compaction that turns an unbounded 100 TB/day tick firehose into a
    * bounded bar table incrementally.
    */
  def ohlcHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(ohlcBar.head, ohlcBar.tail: _*)
      .select(col("event_type"), col("window.start").as("bar_ts"),
        col("open"), col("high"), col("low"), col("close"), col("n"))

  /** T6: stateful dedup keyed on event_id, with state bounded by the
    * watermark — the staging-layer 중복 제거 (README.md:88) applied
    * incrementally. `dropDuplicatesWithinWatermark` exists only for
    * streaming plans (batch rejects it at analysis), so the batch path
    * takes the semantically-equivalent global dedup: when every duplicate
    * arrives within the watermark of its original — the delivery guarantee
    * the streaming form is designed for, asserted by StreamingSpec T6 —
    * the two produce identical results, which is what lets the driver's
    * DuckDB oracle check this transform (`stream_dedup_watermark`).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    if (events.isStreaming)
      events
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  /** T2 alerting extension: per-(type, hour-window) counts joined against
    * a BATCH-PROFILED per-type hourly baseline, emitting only windows
    * whose count breaches 2× the baseline — the rate-spike / error-burst
    * alert. The reference table is a static model parameter (in
    * production: yesterday's profile) broadcast into the stream — the
    * stream-static join every production alerter runs; append-legal
    * because the threshold filter sits ABOVE a watermarked windowed
    * aggregate, so each alert emits exactly once, one watermark after its
    * window closes, with one count per open (type, window) of state.
    */
  def rateAlert(events: DataFrame, hourlyRef: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(hourlyRef), Seq("event_type"))
      .filter(col("n").cast("double") > lit(2.0) * col("avg_hourly"))
      .select(col("event_type"), col("window.start").as("win_ts"),
        col("n"), col("avg_hourly"))

  /** Windowed top-k, stream side (T++): per-hour (event_type, count)
    * aggregates under a 1h watermark. The RANKING step deliberately lives
    * in [[rankTopK]], NOT here: Structured Streaming cannot run a rank
    * window over a streaming aggregate, so the production shape is
    * append-mode output of FINALIZED windows into
    * `foreachBatch(rankTopK(_, k))` — each closed window is ranked exactly
    * once, and state is one count per open (window, type), bounded by the
    * watermark. Batch-checked via `stream_topk` (same two functions, no
    * watermark node after EliminateEventTimeWatermark).
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Rank a (window, event_type, n) count table to its per-window top-k —
    * the foreachBatch half of the streaming top-k (partition-local window:
    * one hour's type counts, bounded by the type domain). */
  def rankTopK(counts: DataFrame, k: Int): DataFrame =
    counts
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("window").orderBy(col("n").desc, col("event_type"))))
      .filter(col("rk") <= k)
      .select(unix_micros(col("window.start")).as("win_us"),
        col("rk").cast("long").as("rk"), col("event_type"), col("n"))

  /** Stream-stream inner join: clicks within the 10 minutes before each
    * error by the same user — the streaming form of the batch `join_range`
    * query. Both sides carry watermarks and the join condition bounds
    * click_ts relative to err_ts, so Spark can size the join state and
    * evict rows once the watermark passes — unbounded state otherwise.
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"))
    val e = errors.withWatermark("ts", "1 hour")
      .select(col("user_id").as("u2"), col("ts").as("err_ts"),
        col("event_id").as("err_id"))
    c.join(e, expr(
      """user_id = u2 AND
        |click_ts >= err_ts - interval 10 minutes AND
        |click_ts < err_ts""".stripMargin))
      .select(col("err_id"), col("user_id"), col("click_ts"), col("err_ts"))
  }

  /** Stream-stream LEFT OUTER join (r14): every error row emits whether
    * or not a prior click matched — the "errors with no preceding
    * interaction" investigation [[clickErrorJoin]]'s inner form cannot
    * express (an unmatched error silently vanishes there). Same
    * watermarks + time-range condition, so state stays bounded; the
    * OUTER-specific contract is emission latency: an unmatched error
    * buffers in the join state until the watermark passes its match
    * window's end (err_ts, since clicks must precede the error), and only
    * then emits with NULL click_ts — Spark cannot know "no click will
    * come" earlier. At 100 TB that is the same per-key bounded state as
    * the inner join plus one watermark-delay's worth of unmatched
    * probe rows; the NULL-side rows appear one watermark delay late by
    * construction, which downstream consumers must expect.
    */
  def errorClickJoinOuter(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"))
    val e = errors.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("u2"), col("ts").as("err_ts"),
        col("event_id").as("err_id"))
    e.join(c, expr(
      """user_id = u2 AND
        |click_ts >= err_ts - interval 10 minutes AND
        |click_ts < err_ts""".stripMargin), "left_outer")
      .select(col("err_id"), col("u2").as("user_id"), col("err_ts"),
        col("click_ts"))
  }

  /** Stream–static enrichment: every micro-batch joins the bounded
    * dimension table — the streaming form of the batch broadcast join
    * (C1). No watermark and no join state: the static side is fully known,
    * so Spark re-plans it per micro-batch (picking up dimension updates
    * between batches) and broadcasts it map-side. LEFT join so an event
    * with an unknown key flows through with nulls instead of silently
    * disappearing from the stream.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")

  /** Idempotent micro-batch sink (T1/A8): each batch overwrites exactly the
    * daily partitions it contains (dynamic partition overwrite), so
    * re-processing a batch after a failure rewrites the same partitions
    * instead of duplicating rows — the reference's CREATE TABLE IF NOT
    * EXISTS / per-day-table idempotency, in streaming form. Use with
    * `writeStream.foreachBatch(idempotentDailySink(path))`.
    */
  def idempotentDailySink(path: String)(batch: DataFrame, batchId: Long): Unit =
    // per-WRITER option, not a session-conf set/restore: the conf mutation
    // was racy under concurrent jobs sharing the session (same fix as
    // Ingest.upsertLongStore)
    batch
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)

  /** EXACTLY-ONCE micro-batch sink (T5's write-side complement, r13):
    * epoch-ledger dedup — the transactional-sink pattern Delta's
    * `txnAppId`/`txnVersion` and Kafka's idempotent producer spell, on
    * plain parquet. Three moves make APPEND-shaped output exactly-once
    * under Structured Streaming's at-least-once batch replay:
    *
    *  1. COMMITTED-EPOCH CHECK: a replayed batchId whose marker exists is
    *     a no-op — the duplicate delivery is dropped at the sink, not
    *     deduped downstream.
    *  2. EPOCH-PARTITIONED OVERWRITE: data lands under `epoch=batchId`
    *     with dynamic partition overwrite, so a TORN write (crash after
    *     some files, before the marker) is healed by the retry rewriting
    *     exactly its own partition — never touching other epochs.
    *  3. MARKER-AFTER-DATA: the `_epochs/<id>` marker is created only
    *     after the write completes; [[committedEpochs]] reads join the
    *     ledger, so a torn uncommitted epoch is invisible to readers.
    *
    * At 100 TB the ledger is one small marker object per micro-batch,
    * COMPACTED in-band (see below) so its file count stays bounded by
    * `compactEvery` instead of growing one file per micro-batch forever
    * (10⁵ files/year of list cost at streaming cadence — the r15
    * residual); the data layout is the append-friendly
    * partition-per-epoch a compaction job later rewrites.
    * Use with `writeStream.foreachBatch(exactlyOnceSink(path))`.
    *
    * CONCURRENCY CONTRACT: single writer per sink path. Structured
    * Streaming enforces at most one active query per checkpoint location
    * (a second start throws ConcurrentModificationException on the
    * checkpoint lock), so two concurrent replays of the same batchId
    * cannot happen under the engine — the marker check's check-then-write
    * window is safe by that guarantee, not by filesystem atomicity. The
    * marker PUBLISH is atomic anyway (write to a hidden temp name, then
    * rename — see the marker-format note below), so the ledger itself can
    * never tear; what the single-writer rule protects is the epoch
    * partition's data files. Pointing two different queries (or a
    * manual backfill racing a live query) at one sink path is outside the
    * contract — production deployments that need that use a per-writer
    * txnAppId dimension in the ledger, as Delta does.
    *
    * READER-vs-COMPACTION window (r17 note): the single-writer rule
    * covers writers only — a [[committedEpochs]] reader overlapping a
    * [[compactLedger]] or [[vacuumEpochs]] run can list a marker file or
    * an `epoch=N` data directory that is deleted before the scan reads
    * it, failing TRANSIENTLY with FileNotFoundException mid-scan (never
    * corruption: the manifest supersets the markers it replaces, and
    * vacuum deletes ledger-first, so a retry always sees a consistent,
    * equal-or-newer committed set). Readers that must overlap
    * maintenance should retry on FNFE or set
    * `spark.sql.files.ignoreMissingFiles=true` for the read — the same
    * posture Spark documents for any table compacted while scanned.
    *
    * Marker format (r15): markers carry their batchId as content and are
    * published by [[graft.ops.PersistedStore.publishFile]], whose failed
    * move fails the micro-batch so Structured Streaming replays it.
    * Markers are NON-EMPTY, because the reader lists the ledger through
    * Spark's file source and file scans skip zero-length files (probed:
    * a binaryFile load of touch'd markers returns no rows).
    *
    * LEDGER COMPACTION (r16): once the marker-file count reaches
    * `compactEvery`, the sink rolls every committed epoch — tail marker
    * files plus any previous manifest — into ONE `manifest-<maxEpoch>`
    * file (one epoch id per line) and deletes the compacted markers:
    * the Delta-checkpoint pattern on plain files. Publish order makes
    * every crash window safe: (1) new manifest lands by atomic move —
    * until then readers see the old manifest + all markers; (2) tail
    * markers are deleted — a crash mid-delete leaves epochs present in
    * BOTH manifest and markers, which the reader's semi-join dedups by
    * construction; (3) older manifests are deleted — the newest manifest
    * is always a superset of every older one, so readers that pick the
    * max-named manifest are correct in every window. Retention: the
    * ledger never forgets an epoch (a manifest line is ~20 bytes — 10⁵
    * epochs/year is ~2 MB/year of manifest, one file); dropping ancient
    * epochs from the manifest is a policy decision that must be paired
    * with deleting their data partitions, so it stays with the same
    * retention job that expires the data.
    */
  def exactlyOnceSink(path: String, compactEvery: Int = 64)(
      batch: DataFrame, batchId: Long): Unit = {
    val ledger = new java.io.File(s"$path/_epochs")
    val marker = new java.io.File(ledger, batchId.toString)
    if (!marker.exists() && !manifestEpochs(ledger).contains(batchId)) {
      batch
        .withColumn("epoch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch").parquet(s"$path/data")
      ledger.mkdirs()
      graft.ops.PersistedStore.publishFile(marker, batchId.toString)
      compactLedger(ledger, compactEvery)
    }
  }

  /** Digit-named marker files in the ledger dir (tail epochs not yet
    * folded into a manifest). Driver-side listing is safe here BECAUSE
    * of compaction: the tail is bounded by `compactEvery`. */
  private def tailMarkers(ledger: java.io.File): Seq[java.io.File] =
    Option(ledger.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("[0-9]+")).toSeq

  /** Manifest files, oldest first; the newest is the authority (each
    * compaction folds its predecessor, so newest ⊇ every older one). */
  private def manifestFiles(ledger: java.io.File): Seq[java.io.File] =
    Option(ledger.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("manifest-[0-9]+"))
      .sortBy(f => f.getName.stripPrefix("manifest-").toLong).toSeq

  /** Epochs recorded in the NEWEST manifest (driver read of one small
    * file — the replay-check path; the reader side scans it through
    * Spark's text source instead). Empty when no compaction ran yet. */
  private def manifestEpochs(ledger: java.io.File): Set[Long] =
    manifestFiles(ledger).lastOption match {
      case None => Set.empty
      case Some(m) =>
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(m.toPath)).asScala
          .filter(_.nonEmpty).map(_.toLong).toSet
    }

  /** Publish `epochs` as the ledger's manifest `manifest-<top>`, then
    * delete the `tail` markers it holds and every superseded manifest —
    * the crash-window order of [[exactlyOnceSink]]'s scaladoc: failures
    * after the publish only leave redundant files the reader dedups or
    * supersedes, never lost commits. */
  private def rewriteManifest(ledger: java.io.File, top: Long,
      epochs: Seq[Long], tail: Seq[java.io.File]): Unit = {
    val prev = manifestFiles(ledger)
    val out = new java.io.File(ledger, s"manifest-$top")
    graft.ops.PersistedStore.publishFile(out,
      epochs.mkString("", "\n", "\n"))
    tail.foreach(_.delete())
    prev.filter(_.getName != out.getName).foreach(_.delete())
  }

  /** Roll tail markers + previous manifest into one new manifest once
    * the tail reaches `compactEvery` files. */
  private def compactLedger(ledger: java.io.File, compactEvery: Int): Unit = {
    val tail = tailMarkers(ledger)
    if (tail.size >= compactEvery.max(1)) {
      val epochs = (manifestEpochs(ledger) ++
        tail.map(_.getName.toLong)).toSeq.sorted
      rewriteManifest(ledger, epochs.max, epochs, tail)
    }
  }

  /** RETENTION for [[exactlyOnceSink]] output (r16): drop every epoch
    * BELOW `keepFrom` — ledger entries AND data partitions together,
    * because the exactly-once invariant is "epoch in ledger ⇔ its data
    * is complete and visible"; pruning one side alone either leaks
    * storage forever (data without ledger) or makes reads claim rows
    * that no longer exist (ledger without data). Delta's VACUUM +
    * checkpoint-retention, on plain files.
    *
    * Crash-window order — LEDGER FIRST, data second:
    *  1. publish a new manifest holding only the kept epochs (atomic
    *     move) and delete the dropped epochs' tail markers — from this
    *     instant readers no longer see the dropped epochs, so their
    *     data files are unobserved garbage;
    *  2. delete the `epoch=N` data directories. A crash between 1 and
    *     2 leaves orphaned invisible partitions that the next vacuum
    *     (or any cleanup of unreferenced paths) removes — never the
    *     reverse window where a reader holds a ledger entry whose data
    *     is mid-delete.
    *
    * CONTRACT: `keepFrom` must trail the streaming checkpoint's replay
    * horizon. A vacuumed epoch is forgotten by the ledger, so a replay
    * of that batchId (only possible by restarting from a checkpoint
    * OLDER than the vacuum) would re-commit it as new data — the same
    * rule as Delta's VACUUM vs time travel: retention must outlive
    * every reader/replayer that can still name the dropped versions. */
  def vacuumEpochs(path: String, keepFrom: Long): Unit = {
    val ledger = new java.io.File(s"$path/_epochs")
    if (!ledger.exists()) return
    val all = (manifestEpochs(ledger) ++
      tailMarkers(ledger).map(_.getName.toLong)).toSeq.sorted
    val drop = all.filter(_ < keepFrom)
    val keep = all.filterNot(_ < keepFrom)
    if (drop.nonEmpty) {
      // step 1: ledger forgets first (manifest name stays monotonic —
      // max over ALL epochs including dropped — so newest-name-wins
      // reader selection is preserved)
      rewriteManifest(ledger, all.max, keep,
        tailMarkers(ledger).filter(f => drop.contains(f.getName.toLong)))
    }
    // step 2: the now-unobservable data — swept BY HORIZON over the
    // partition directories, not by the drop list, so orphans from a
    // previous vacuum's step-1/step-2 crash window (data present,
    // ledger already forgot them) are collected too
    Option(new java.io.File(s"$path/data").listFiles())
      .getOrElse(Array.empty)
      .filter { f =>
        f.isDirectory && f.getName.matches("epoch=[0-9]+") &&
          f.getName.stripPrefix("epoch=").toLong < keepFrom
      }
      .foreach(FileUtil.fullyDelete(_))
  }

  /** Reader for [[exactlyOnceSink]] output: only epochs whose ledger
    * marker committed are visible (a torn write's partition exists on
    * disk but is filtered here — the read side of the exactly-once
    * contract). The ledger is read as a DATASOURCE — the compacted
    * `manifest-N` file through the text source (one committed epoch per
    * line) unioned with `binaryFile` over the tail marker files (one
    * row per non-empty marker) — and applied as a broadcast LEFT SEMI
    * join on the epoch partition column, so the filter composes with
    * partition pruning and nothing epoch-count sized is ever built on
    * the driver: at long retention the listing cost is one manifest
    * file plus a tail bounded by the sink's `compactEvery` (r15's
    * marker-file-per-micro-batch-forever growth, closed r16). The
    * broadcast is legitimate — the ledger is micro-batch-count sized, a
    * model parameter. Duplicates across manifest and tail (the
    * compaction crash window) are harmless: a LEFT SEMI join dedups its
    * build side by construction.
    *
    * PRE-r15 COMPAT: ledgers written by the original sink used
    * zero-byte markers, which `binaryFile` silently skips — without a
    * fallback every epoch committed by that sink would vanish from
    * reads rather than error. A driver-side sweep finds zero-length
    * digit-named markers and unions them as literals; the set is
    * bounded (the current sink never writes empty markers, so it can
    * only hold legacy files) and the next compaction folds them into
    * the manifest, after which the sweep finds nothing. */
  def committedEpochs(s: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame = {
    // Before the FIRST write attempt `$path/data` does not exist; the
    // exactly-once contract reads that the same as "nothing committed",
    // so return an empty frame instead of throwing PATH_NOT_FOUND. The
    // schema is unknowable before any data lands (it is the stream's own
    // schema), hence emptyDataFrame — callers at that stage have zero
    // committed epochs to project anyway. Once a torn write exists the
    // parquet schema is readable and the ledger join filters it row-wise.
    if (!new java.io.File(s"$path/data").exists()) return s.emptyDataFrame
    val data = s.read.parquet(s"$path/data")
    // data exists but no marker ever committed (torn first write): the
    // ledger dir is absent — everything on disk is uncommitted.
    val ledgerDir = new java.io.File(s"$path/_epochs")
    if (!ledgerDir.exists()) return data.filter(lit(false))
    // non-marker files (the manifest itself) are filtered by PATTERN
    // before the cast — under ANSI mode a cast of the regexp miss ('')
    // throws rather than nulling
    val tail = s.read.format("binaryFile").load(ledgerDir.getPath)
      .filter(col("path").rlike("/[0-9]+$"))
      .select(regexp_extract(col("path"), "/([0-9]+)$", 1)
        .cast("long").as("committed_epoch"))
    val fromManifest = manifestFiles(ledgerDir).lastOption.map { m =>
      s.read.text(m.getPath)
        .filter(col("value").rlike("^[0-9]+$"))
        .select(col("value").cast("long").as("committed_epoch"))
    }
    val legacy = tailMarkers(ledgerDir).filter(_.length() == 0L)
      .map(_.getName.toLong)
    val fromLegacy =
      if (legacy.isEmpty) None
      else Some(s.createDataFrame(
        s.sparkContext.parallelize(legacy.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("committed_epoch",
            org.apache.spark.sql.types.LongType)))))
    val ledger = (Seq(tail) ++ fromManifest ++ fromLegacy).reduce(_ union _)
    data.join(broadcast(ledger),
      data("epoch").cast("long") === ledger("committed_epoch"), "left_semi")
  }

  final case class SessState(startMs: Long, lastMs: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start_us: Long,
    last_us: Long, n_events: Int)

  /** Custom arbitrary-state sessionization via flatMapGroupsWithState —
    * the surface `session_window` can't cover (bespoke close conditions,
    * enriched session payloads). State is one open session per user; a
    * session EMITS when a later event arrives >= gap after its last event
    * (same strict boundary as session_window). The still-open session
    * stays in state across micro-batches.
    *
    * Scale posture: state is keyed by user and lives in the state store —
    * one small record per active user, partitioned across executors. A
    * production deployment adds an event-time timeout to flush idle
    * sessions; kept timeout-free here so batch-driven tests stay
    * deterministic.
    *
    * Late-data contract: lateness WITHIN the still-open session (or a
    * pre-open burst that coalesces into one island) is handled — events
    * merge, bounds only widen. But once a session has been EMITTED it
    * leaves state, so an event older than the open session that belongs to
    * an already-emitted session produces a NEW (duplicate/overlapping)
    * session row — exactly-once sessionization therefore requires upstream
    * watermarking to bound lateness below the gap (e.g. `withWatermark`
    * before this operator), or a downstream merge keyed on overlap. This
    * is the same contract `session_window` + watermark has; it is stated
    * here because NoTimeout + Append makes it easy to miss.
    */
  def sessionizeStateful(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    eventsByUser(events)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[SessState]) =>
          val merged = mergeSessions(rows, state.getOption, gapMs)
          // head of `merged` is the latest interval — it stays open in
          // state; every earlier one is closed and emitted.
          val open = merged.head
          state.update(open)
          merged.tail.reverse.iterator.map(s =>
            SessionOut(user, s.startMs * 1000, s.lastMs * 1000, s.n))
      }
  }

  /** The (user_id, ts) events as typed rows grouped by user: the input
    * both stateful sessionizers fold. */
  private def eventsByUser(events: DataFrame)
      : KeyValueGroupedDataset[Long, (Long, java.sql.Timestamp)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
  }

  /** Gaps-and-islands over the batch events PLUS the open session (as an
    * interval), sorted by start: consecutive intervals merge when the gap
    * is < gapMs. This handles late BURSTS correctly — several old events
    * coalesce into one session rather than N singletons — and a late
    * in-session event can only widen the session, never rewind it.
    * Head of the returned list is the LATEST interval. */
  private def mergeSessions(rows: Iterator[(Long, java.sql.Timestamp)],
      prior: Option[SessState], gapMs: Long): List[SessState] = {
    val intervals = (rows.map { r =>
      val t = r._2.getTime; SessState(t, t, 1)
    } ++ prior.iterator).toArray
      .sortBy(i => (i.startMs, i.lastMs))
    var merged = List.empty[SessState]
    intervals.foreach { i =>
      merged = merged match {
        case h :: rest if i.startMs - h.lastMs < gapMs =>
          SessState(h.startMs, math.max(h.lastMs, i.lastMs),
            h.n + i.n) :: rest
        case acc => i :: acc
      }
    }
    merged
  }

  final case class CdcState(seq: Int, op: String, price: Option[Double])
  final case class CdcOut(o_orderkey: Long, last_op: String,
    price: Option[Double])

  /** Stateful CDC materialization: latest-wins compaction of an I/U/D
    * changelog keyed by primary key, carried ACROSS micro-batches — the
    * streaming twin of the batch `cdc_apply` hash aggregation. State is one
    * (seq, op, price) record per key (constant-size, partitioned across
    * executors by the group key); each micro-batch folds its rows into the
    * stored record by max seq and emits the key's new current row — i.e.
    * the UPDATE-mode stream IS the maintained table. Tombstones stay in
    * state (a 'D' must keep winning over late lower-seq rows); the
    * consumer drops them on read, exactly like the batch form. In batch
    * execution the same code sees each key's whole log once with empty
    * state and reduces to plain latest-wins — which is what lets the
    * driver's DuckDB oracle (shared with `cdc_apply`) check this
    * transform.
    */
  def cdcLatestWins(log: DataFrame)
      : org.apache.spark.sql.Dataset[CdcOut] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = log.sparkSession
    import spark.implicits._
    log.select(col("o_orderkey"), col("seq"), col("op"), col("price"))
      .as[(Long, Int, String, Option[Double])]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Int, String, Option[Double])],
         state: org.apache.spark.sql.streaming.GroupState[CdcState]) =>
          val latest = (rows.map(r => CdcState(r._2, r._3, r._4)) ++
            state.getOption.iterator).maxBy(_.seq)
          state.update(latest)
          CdcOut(key, latest.op, latest.price)
      }
  }

  final case class Scd2VerState(seg: String, validFrom: Int)
  final case class Scd2Out(c_custkey: Long, seg: String, valid_from: Int,
    valid_to: Option[Int], is_current: Boolean)

  /** Stateful SCD2 maintenance at ingest (r18 — the STREAMING spelling
    * of the Scd2/K8 dbt-snapshot verb): a dimension-change log keyed by
    * natural key flows in; per key the state is the OPEN version
    * (tracked value + valid_from — constant-size, partitioned across
    * executors by key); each micro-batch folds its rows in ts order:
    * a changed tracked value CLOSES the open version (emitted with
    * valid_to = the new ts, is_current = false) and opens a new one,
    * an unchanged value is skipped (dbt's check strategy), and the
    * currently-open version is (re-)emitted each batch — so in UPDATE
    * output mode the last emission per (key, valid_from) IS the
    * maintained SCD2 table, the cdcLatestWins consumption contract.
    * In batch execution each key's whole log arrives in one invocation
    * with empty state and the emissions are exactly the full version
    * history — which is what lets the driver's DuckDB oracle (shared
    * with `scd2_apply`'s window-over-history reconstruction) check this
    * transform. Scale: state is one tiny record per dimension key (a
    * dimension's cardinality, not the event volume); no windows, no
    * sorts beyond each batch's per-key handful of rows.
    */
  def scd2Versions(dimLog: DataFrame)
      : org.apache.spark.sql.Dataset[Scd2Out] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val spark = dimLog.sparkSession
    import spark.implicits._
    dimLog.select(col("c_custkey"), col("seg"), col("ts"))
      .as[(Long, String, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, String, Int)],
         state: org.apache.spark.sql.streaming.GroupState[Scd2VerState]) =>
          val (closed, open) =
            foldScd2(key, rows.toSeq.sortBy(_._3), state.getOption)
          open.foreach(state.update)
          (closed ++ open.map(o =>
            Scd2Out(key, o.seg, o.validFrom, None, is_current = true)))
            .iterator
      }
  }

  /** Advance one key's open version through ts-ordered rows; returns
    * (closed version emissions, final open version). Null-safe on the
    * tracked value (a NULL→value flip IS a change — the Scd2.apply
    * contract). */
  private def foldScd2(key: Long, ordered: Seq[(Long, String, Int)],
      init: Option[Scd2VerState])
      : (Seq[Scd2Out], Option[Scd2VerState]) = {
    var cur = init
    val closed = Seq.newBuilder[Scd2Out]
    ordered.foreach { case (_, seg, ts) =>
      cur match {
        case None => cur = Some(Scd2VerState(seg, ts))
        case Some(c) if c.seg != seg =>
          closed += Scd2Out(key, c.seg, c.validFrom, Some(ts),
            is_current = false)
          cur = Some(Scd2VerState(seg, ts))
        case _ => () // unchanged: check strategy skips
      }
    }
    (closed.result(), cur)
  }

  /** Idle-session flush — the PRODUCTION variant of [[sessionizeStateful]]
    * (whose NoTimeout trade is documented above): EventTimeTimeout closes
    * a session once the WATERMARK passes its last event + gap, so a user
    * who goes silent stops pinning state — without this, state size is
    * unbounded in the number of ever-seen keys, the thing that actually
    * kills a 100 TB streaming job. Requires `withWatermark` on `ts`
    * upstream (Spark enforces this); the flush fires in the first
    * micro-batch whose watermark exceeds lastMs + gap — the same close
    * boundary an arriving event would have triggered, so the two variants
    * emit identical sessions, just on different clocks. */
  def sessionizeStatefulTimeout(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    eventsByUser(events)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              SessionOut(user, s.startMs * 1000, s.lastMs * 1000, s.n))
          } else {
            val merged = mergeSessions(rows, state.getOption, gapMs)
            val open = merged.head
            val closed = merged.tail.reverse
            if (open.lastMs + gapMs <= state.getCurrentWatermarkMs) {
              // Defensive: the freshest interval is ALREADY past its close
              // boundary. Emit it NOW rather than parking a timeout the
              // watermark may never cross again. UNREACHABLE under current
              // Spark semantics — FlatMapGroupsWithStateExec filters input
              // rows behind the watermark before they reach this function
              // (verified by StreamingSpec's late-burst test), so every
              // surviving event has ts >= watermark and the open interval
              // can't be expired — but that filter is an executor-side
              // policy this function shouldn't silently depend on: if it
              // ever admits late rows, a parked watermark+1 timeout would
              // strand the session in state on a quiet stream.
              state.remove()
              (closed :+ open).iterator.map(s =>
                SessionOut(user, s.startMs * 1000, s.lastMs * 1000, s.n))
            } else {
              state.update(open)
              state.setTimeoutTimestamp(open.lastMs + gapMs)
              closed.iterator.map(s =>
                SessionOut(user, s.startMs * 1000, s.lastMs * 1000, s.n))
            }
          }
      }
  }
  final case class BandRef(minId: Long, sig: Seq[Long])
  final case class NearDupHit(doc_id: Long, band: Int, ref_id: Long,
    est_sim: Double)

  /** Streaming near-dup detection at ingest — the MinHash/LSH dedup the
    * batch family runs nightly, expressed as a continuous flag feed: each
    * arriving document is signed MAP-SIDE (TextSim.perRowSig — the
    * bit-identical per-row form of the batch signature; an aggregation
    * cannot precede a stateful operator in a stream, which is exactly why
    * the per-row form exists), exploded to its LSH band keys, and run
    * through flatMapGroupsWithState keyed on (band, key). State per
    * bucket is ONE (min doc_id, signature) reference record; an arriving
    * doc colliding with its bucket's reference emits a
    * (doc_id, band, ref_id, est_sim) hit — the candidate feed a
    * downstream exact-verify or quarantine stage consumes (the
    * stream_topk seam convention: the per-doc collapse happens after the
    * stateful op, in foreachBatch or the consumer). A doc with a SMALLER
    * id than the stored reference takes over as reference and reports
    * the old reference as its dup — the min-id-keeps policy of the batch
    * dedup family, maintained incrementally.
    *
    * In BATCH execution the same code sees each bucket's rows once with
    * empty state (ascending doc_id order imposed in the handler), so
    * every non-min member emits against the bucket minimum — which is
    * what the DuckDB oracle mirrors (TextSim.dStreamNearDup), making the
    * streaming operator's core policy exact-oracle-checkable.
    *
    * Scale posture: state is one small record per DISTINCT band key —
    * linear in corpus size like dropDuplicates state; a production
    * deployment bounds it with an event-time timeout (expiring buckets
    * not hit within the dedup horizon — the dedupWithinWatermark
    * contract) and the RocksDB state store (StreamingSpec's provider
    * matrix). est_sim = matches/16 is exact in binary, so the flag feed
    * carries no float-drift surface.
    */
  def nearDupCollisions(docs: DataFrame)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.TextSim
    // Signing is execution-mode-appropriate, policy is not: a stream
    // must sign per row (aggregation cannot precede a stateful op), a
    // batch signs via sigTable's one-sha-per-DISTINCT-shingle
    // explode+groupBy (the per-row interpreted HOF fold measured ~3×
    // slower over a 60k-doc batch). The two paths produce bit-identical
    // signatures by construction — TextSimSpec pins them doc-for-doc —
    // so the bucket-min policy and the oracle see one contract.
    val sigs =
      if (docs.isStreaming)
        docs.withColumn("sh", TextSim.perRowShingles(3))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"), TextSim.perRowSig(col("sh")).as("sig"))
      else TextSim.sigTable(TextSim.shingleRows(docs, 3))
    val signed = sigs
      .select(col("doc_id"), col("sig"),
        posexplode(TextSim.perRowBandKeys(col("sig")))
          .as(Seq("band", "key")))
    signed.as[(Long, Seq[Long], Int, String)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (bk: (Int, String),
         rows: Iterator[(Long, Seq[Long], Int, String)],
         state: org.apache.spark.sql.streaming.GroupState[BandRef]) =>
          val out = List.newBuilder[NearDupHit]
          var ref = state.getOption
          rows.toSeq.sortBy(_._1).foreach { case (id, sig, band, _) =>
            ref match {
              case None => ref = Some(BandRef(id, sig))
              case Some(r0) if id > r0.minId =>
                out += NearDupHit(id, band, r0.minId,
                  TextSim.sigEst(sig, r0.sig))
              case Some(r0) => // new bucket minimum: the old ref is the dup
                out += NearDupHit(r0.minId, band, id,
                  TextSim.sigEst(sig, r0.sig))
                ref = Some(BandRef(id, sig))
            }
          }
          ref.foreach(state.update)
          out.result().iterator
      }
  }

}
