package graft.ops

import graft.Q
import graft.Tables._
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Batch-checkable projections of the streaming transforms (SURVEY.md §2.I
  * T2–T4). `window`/`session_window` work identically over a batch
  * DataFrame, so the driver's DuckDB oracle can verify the exact window
  * semantics; StreamingSpec re-drives the same StreamOps transforms through
  * MemoryStream + watermark where batch has no equivalent (T1/T5/T6).
  */
object Streaming {

  val queries: Map[String, Q] = Map(
    "stream_tumbling" -> ((s, d) =>
      StreamOps.tumblingDaily(events(s, d)).orderBy("day")),

    "stream_sliding" -> ((s, d) =>
      StreamOps.sliding7d(events(s, d)).orderBy("win_start")),

    "stream_session" -> ((s, d) =>
      StreamOps.sessionize(events(s, d))
        .orderBy("user_id", "session_start_us")),

    // The stream-stream INTERVAL join (T+), batch-checked: the same
    // `clickErrorJoin` transform StreamingSpec drives through two
    // MemoryStreams — an equi join on user_id with a [err-10min, err)
    // range residual. In batch, EliminateEventTimeWatermark drops the
    // watermark nodes and the plan is a plain sort-merge join with the
    // range as a post-join filter; in streaming, the SAME watermark
    // bounds both sides' join state — which is exactly what makes this
    // join viable over an unbounded 100 TB/day stream. Timestamps are
    // emitted as epoch micros (the stream_session convention) for
    // cross-engine comparison.
    "stream_interval_join" -> ((s, d) => {
      val ev = events(s, d)
      StreamOps.clickErrorJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "error"))
        .select(col("err_id"), col("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("err_ts")).as("err_us"))
        .orderBy("err_id", "click_us")
    }),

    // T-oj batch twin (r15): the SAME errorClickJoinOuter transform
    // StreamingSpec drives through two MemoryStreams. In batch the
    // watermark nodes are eliminated and the plan is a plain LEFT OUTER
    // join with the range residual; in streaming the same watermark
    // bounds both sides' state AND times the NULL-side emission (an
    // unmatched error emits one watermark delay late, with NULL
    // click_ts). The LEFT JOIN oracle hash-checks exactly those
    // NULL-side rows — the semantics the MemoryStream spec could pin
    // only on one hand-built case (r14 review).
    "stream_interval_join_outer" -> ((s, d) => {
      val ev = events(s, d)
      StreamOps.errorClickJoinOuter(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "error"))
        .select(col("err_id"), col("user_id"),
          unix_micros(col("err_ts")).as("err_us"),
          unix_micros(col("click_ts")).as("click_us"))
        .orderBy("err_id", "click_us")
    }),

    // T6 batch twin: the SAME dedupWithinWatermark transform StreamingSpec
    // drives through MemoryStream, here batch-checked against an oracle.
    // At-least-once delivery is simulated by re-appending every 'error'
    // event (exact duplicate rows, so which copy survives is immaterial
    // and the result is deterministic); dropDuplicatesWithinWatermark
    // collapses them back to the original table. In batch the watermark
    // node is eliminated and this is a plain dedup on event_id; in
    // streaming the SAME code bounds its dedup state by the 1h watermark —
    // the property that keeps state finite over an unbounded stream.
    "stream_dedup_watermark" -> ((s, d) => {
      val ev = events(s, d)
      val redelivered = ev.unionAll(ev.filter(col("event_type") === "error"))
      StreamOps.dedupWithinWatermark(redelivered)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    // T2 extension batch twin: the SAME ohlcHourly transform StreamingSpec
    // drives through MemoryStream. In batch the watermark node is
    // eliminated and the hour window equals date_trunc('hour') — the
    // identical bars (and oracle) as the batch-native ts_ohlc query; in
    // streaming the same code holds constant-size per-bar state and the
    // watermark closes each bar an hour after its window.
    "stream_ohlc" -> ((s, d) =>
      StreamOps.ohlcHourly(events(s, d)).orderBy("event_type", "bar_ts")),

    // T2 alerting batch twin: the SAME rateAlert transform StreamingSpec
    // drives through MemoryStream. The per-type hourly baseline is
    // profiled from the same table here (count / distinct-hours — an IEEE
    // division of exact longs); in streaming it is the static side of a
    // stream-static broadcast join, the model-parameter pattern every
    // production alerter uses.
    "stream_rate_alert" -> ((s, d) => {
      val ev = events(s, d)
      val ref = ev.groupBy("event_type")
        .agg((count(lit(1)).cast("double") /
          countDistinct(date_trunc("hour", col("ts")))).as("avg_hourly"))
      StreamOps.rateAlert(ev, ref)
        .select(col("event_type"), unix_micros(col("win_ts")).as("win_us"),
          col("n"), col("avg_hourly"))
        .orderBy("event_type", "win_us")
    }),

    // T7 batch twin: the SAME enrichWithDim transform StreamingSpec
    // drives through MemoryStream (stream–static broadcast LEFT join),
    // batch-checked here with customer as the bounded dimension. The
    // broadcast hint is legitimate for THIS table: a dimension's
    // cardinality is fixed by the business domain, not by event volume —
    // exactly the case where map-side broadcast is the 100 TB plan.
    // Stateful CDC materialization batch twin: the SAME cdcLatestWins
    // mapGroupsWithState transform StreamingSpec drives through
    // MemoryStream in Update mode (state carried across batches), here
    // batch-checked against cdc_apply's oracle over the shared synthetic
    // changelog. Tombstones survive in state and drop on read.
    "stream_cdc_apply" -> ((s, d) =>
      StreamOps.cdcLatestWins(Relational.cdcLog(s, d))
        .filter(col("last_op") =!= "D")
        .select(col("o_orderkey"), col("last_op"), col("price"))
        .orderBy("o_orderkey")),

    // T++ windowed top-k, batch-checked: the same hourlyCounts → rankTopK
    // pair StreamingSpec drives through MemoryStream (append mode ranks
    // each finalized window exactly once in foreachBatch).
    "stream_topk" -> ((s, d) =>
      StreamOps.rankTopK(StreamOps.hourlyCounts(events(s, d)), 3)
        .orderBy("win_us", "rk")),

    // Streaming near-dup at ingest, batch-checked: the SAME
    // nearDupCollisions transform StreamingSpec drives through
    // MemoryStream across triggers. In batch every band bucket is seen
    // once with empty state, so each non-min member emits against the
    // bucket minimum — the exact policy the oracle mirrors from the
    // shared signature/banding contract (TextSim.dStreamNearDup).
    "stream_dedup_minhash" -> ((s, d) =>
      StreamOps.nearDupCollisions(documents(s, d).select("doc_id", "text"))
        .toDF().orderBy("doc_id", "band")),

    "stream_enrich" -> ((s, d) => {
      val dim = customer(s, d).select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
      StreamOps.enrichWithDim(events(s, d), dim)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("segment"))
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    // Tumbling 1-day windows == date_trunc('day'). The decimal cast matches
    // dsum's DECIMAL(30,8) accumulation.
    "stream_tumbling" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
        |CAST(round(SUM(CAST(value AS DECIMAL(30,8))),4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // An event at ts belongs to the 7 daily-aligned windows starting at
    // date_trunc(day, ts) - i days, i in 0..6 (epoch 1970-01-01 is
    // day-aligned, matching Spark's window start alignment).
    "stream_sliding" ->
      """WITH x AS (SELECT ts, value, unnest(generate_series(0,6)) AS i FROM events)
        |SELECT CAST(date_trunc('day', ts) - i * INTERVAL 1 DAY AS DATE) AS win_start,
        |COUNT(*) AS n,
        |CAST(round(SUM(CAST(value AS DECIMAL(30,8))),4) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // Gaps-and-islands: a session breaks when the gap is >= 30 minutes
    // (Spark's session [start, last+gap) is half-open, so an event exactly
    // at the gap boundary starts a NEW session).
    "stream_session" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts, SUM(brk) OVER
        |    (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |epoch_us(max(ts)) AS last_us, COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,
    // Interval join: each error matches the clicks of the SAME user in
    // the 10 minutes strictly before it (half-open, Spark's convention).
    "stream_interval_join" ->
      """SELECT e.event_id AS err_id, c.user_id,
        |  epoch_us(c.ts) AS click_us, epoch_us(e.ts) AS err_us
        |FROM events c JOIN events e ON c.user_id = e.user_id
        |WHERE c.event_type = 'click' AND e.event_type = 'error'
        |  AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
        |ORDER BY err_id, click_us""".stripMargin,
    // LEFT OUTER interval join: every error keeps its row; clicks of the
    // same user in the 10 minutes strictly before it attach where they
    // exist, NULL click_us where none do (the click predicates live in
    // the ON clause so unmatched errors survive the join).
    "stream_interval_join_outer" ->
      """SELECT e.event_id AS err_id, e.user_id,
        |  epoch_us(e.ts) AS err_us, epoch_us(c.ts) AS click_us
        |FROM events e LEFT JOIN events c
        |  ON c.user_id = e.user_id AND c.event_type = 'click'
        |  AND c.ts >= e.ts - INTERVAL 10 MINUTE AND c.ts < e.ts
        |WHERE e.event_type = 'error'
        |ORDER BY err_id, click_us""".stripMargin,
    // Hour windows start epoch-aligned == date_trunc('hour'); per-window
    // rank over the type domain.
    "stream_topk" ->
      """WITH w AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, h, n, row_number() OVER
        |    (PARTITION BY h ORDER BY n DESC, event_type) AS rk
        |  FROM w)
        |SELECT epoch_us(h) AS win_us, CAST(rk AS BIGINT) AS rk,
        |  event_type, n
        |FROM r WHERE rk <= 3 ORDER BY win_us, rk""".stripMargin,
    // Bucket minimum as reference, one row per colliding band — the
    // signature/banding mirror lives with the contract in TextSim.
    "stream_dedup_minhash" -> TextSim.dStreamNearDup,
    // Hour windows start epoch-aligned == date_trunc('hour'); baseline =
    // total / distinct active hours per type.
    "stream_rate_alert" ->
      """WITH ref AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) /
        |      count(DISTINCT date_trunc('hour', ts)) AS avg_hourly
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT w.event_type, epoch_us(w.h) AS win_us, n, avg_hourly
        |FROM w JOIN ref USING (event_type)
        |WHERE CAST(n AS DOUBLE) > 2.0 * avg_hourly
        |ORDER BY 1, 2""".stripMargin,
    // Dedup of the redelivered union == the original events table (the
    // duplicates are exact copies keyed by event_id, which is unique).
    "stream_dedup_watermark" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // Hour windows start epoch-aligned == date_trunc('hour'): the same
    // bars and tie-broken endpoints, so the batch ts_ohlc oracle itself.
    "stream_ohlc" -> Relational.oracles("ts_ohlc"),
    // Stream–static LEFT enrichment == plain left join on the dimension.
    "stream_enrich" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id,
        |  c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin,
    // Identical contract to cdc_apply: the stateful stream and the batch
    // hash aggregation must materialize the same compacted state.
    "stream_cdc_apply" -> Relational.oracles("cdc_apply")
  )
}
