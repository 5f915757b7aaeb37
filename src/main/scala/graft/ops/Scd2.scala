package graft.ops

import graft.Q
import graft.Tables.customer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type 2 maintenance (dbt SNAPSHOTS — the
  * one dbt verb the reference scaffolds but the engine lacked until
  * r18: `dbt_project/dbt_project/snapshots/` ships empty alongside the
  * stock dbt_project.yml that documents it; any dbt deployment of the
  * reference's shape would snapshot the movie dimension's genre/title
  * drift with it).
  *
  * An SCD2 table keeps every VERSION of a dimension row: the natural
  * key, the tracked attributes, and the validity interval
  * (`valid_from`, `valid_to`, `is_current`). [[apply]] advances that
  * history by one batch under dbt's `check` strategy (new version iff
  * any tracked column differs from the key's current version —
  * `strategy: check`, and with all non-key columns tracked,
  * `check_cols: all`); the timestamp strategy is the same operator
  * with the caller putting `updated_at` in the tracked set. Per batch:
  *
  *  - a key whose tracked values CHANGED closes the current version
  *    (`valid_to` = batch ts, `is_current` = false) and opens a new one
  *  - a key with UNCHANGED tracked values is skipped (no new version)
  *  - a key new to the dimension opens its first version
  *  - a key ABSENT from the batch survives current (dbt's default; its
  *    `invalidate_hard_deletes` close-out is the caller composing a
  *    left-anti batch of deletions)
  *
  * PLAN SHAPE (the 100 TB answer): history rows ride through UNTOUCHED
  * as a union branch — only the CURRENT slice (≤ |keys| rows, the
  * dimension's live cardinality, not its history) joins the batch, one
  * equi full-outer join on the natural key. The matched/changed row
  * fans out to (closed old, new version) via ONE `explode` over an
  * inline 2-struct array — a codegen'd generator, not a second pass
  * over the join. A batch with duplicate natural keys is the same data
  * error MERGE raises (two "current" versions of one key), detected
  * the r18 MERGE way: a map-side-combinable source-side dup-key
  * pre-count joined back onto the batch, `raise_error` folded into the
  * row fan-out so pruning can never elide it. Nothing here windows or
  * sorts the history; cost is O(|batch| + |current slice|) per batch
  * regardless of how deep the history grows.
  *
  * Like the MERGE interpreter, callers persist the returned state
  * between batches (ModelGraph's `snapshot` materialization commits it
  * to the durable parquet state store) — chaining many applies lazily
  * would re-derive each level's current slice twice per level.
  *
  * Cited reference behavior: dbt_project/dbt_project/snapshots/ (the
  * scaffold this fills), dbt snapshot semantics per the stock
  * dbt_project.yml the reference ships.
  */
object Scd2 {

  private val meta = Seq("valid_from", "valid_to", "is_current")

  /** First load: every batch row opens its first version at `ts`.
    * `valid_to` is NULL of `ts`'s own type (dbt stamps a timestamp; the
    * board query uses exact integer batch sequence numbers). */
  def init(batch: DataFrame, ts: Column): DataFrame = {
    require(meta.forall(c => !batch.columns.contains(c)),
      s"SCD2 metadata column collision: batch already has one of $meta")
    batch.withColumn("valid_from", ts)
      .withColumn("valid_to", when(lit(false), ts))
      .withColumn("is_current", lit(true))
  }

  /** Apply one batch at `ts` to an SCD2 `state` (schema = batch columns
    * + valid_from/valid_to/is_current) under the check strategy on
    * `tracked`. Keys are compared null-safely on `tracked` (a tracked
    * NULL→value flip IS a change); natural `keys` are assumed non-null
    * (a NULL key row in the batch can only ever open versions). */
  def apply(state: DataFrame, batch: DataFrame, keys: Seq[String],
      tracked: Seq[String], ts: Column): DataFrame = {
    require(keys.nonEmpty && tracked.nonEmpty,
      "SCD2 requires non-empty key and tracked column sets")
    require(meta.forall(c => !batch.columns.contains(c)) &&
      Seq("__graft_b", "__graft_bcnt")
        .forall(c => !batch.columns.contains(c)),
      "SCD2 metadata column collision in batch")
    val dimCols = batch.columns.toSeq
    require(state.columns.toSet == (dimCols ++ meta).toSet,
      "SCD2 state schema must be exactly the batch columns + " +
        s"$meta; state has ${state.columns.mkString(", ")}, batch has " +
        dimCols.mkString(", "))

    // duplicate-key batches would open two concurrent "current"
    // versions — the same data error MERGE refuses, detected the same
    // cheap way (map-side-combinable pre-count, join-back normally
    // empty so AQE broadcasts it)
    val dups = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_bcnt"))
      .filter(col("__graft_bcnt") > 1)
    val b = batch.join(dups, keys, "left")
      .withColumn("__graft_b", lit(true)).as("b")
    val c = state.filter(col("is_current")).as("c")
    val hist = state.filter(!col("is_current"))

    val joinCond = keys.map(k => col(s"c.$k") === col(s"b.$k"))
      .reduce(_ && _)
    val j = c.join(b, joinCond, "full_outer")
    // explicit presence flags (null-safe even when every data column of
    // a side is legitimately null) — same discipline as the MERGE
    // interpreter; is_current doubles as the current slice's flag
    val cP = col("c.is_current").isNotNull
    val bP = col("b.__graft_b").isNotNull
    val changed = tracked
      .map(tc => !(col(s"c.$tc") <=> col(s"b.$tc"))).reduce(_ || _)

    val nullTo = when(lit(false), ts)
    def curRow = struct(
      dimCols.map(cn => col(s"c.$cn").as(cn)) ++ Seq(
        col("c.valid_from").as("valid_from"),
        col("c.valid_to").as("valid_to"),
        col("c.is_current").as("is_current")): _*)
    def closedRow = struct(
      dimCols.map(cn => col(s"c.$cn").as(cn)) ++ Seq(
        col("c.valid_from").as("valid_from"),
        ts.as("valid_to"), lit(false).as("is_current")): _*)
    def newRow = struct(
      dimCols.map(cn => col(s"b.$cn").as(cn)) ++ Seq(
        ts.as("valid_from"), nullTo.as("valid_to"),
        lit(true).as("is_current")): _*)

    val fanOut = when(cP && !bP, array(curRow))
      .when(!cP && bP, array(newRow))
      .when(changed, array(closedRow, newRow))
      .otherwise(array(curRow))
    // the dup-key raise_error rides a FILTER over the exploded rows
    // (dup batch keys always emit ≥1 row, so the guard always
    // evaluates and a filter cannot be pruned away)
    val dupError = raise_error(concat(
      lit("GRAFT_SCD2_DUPLICATE_KEY: a snapshot batch carries "),
      col("__graft_bcnt").cast("string"),
      lit(" rows for one natural key — an SCD2 key can open at most " +
        "one version per batch; deduplicate the batch on the key")))
      .cast("boolean")
    val advanced = j
      .select(explode(fanOut).as("__graft_r"),
        col("b.__graft_bcnt").as("__graft_bcnt"))
      .filter(when(col("__graft_bcnt").isNotNull, dupError)
        .otherwise(lit(true)))
      .select(col("__graft_r.*"))
    hist.select(advanced.columns.map(col).toSeq: _*).unionAll(advanced)
  }

  /** The three batches of the customer dimension's market-segment
    * drift that `scd2_apply` applies and `stream_scd2` replays: every
    * key at its own segment, keys ≡0 (mod 3) restated as SEG2, keys
    * ≡0 (mod 2) restated as SEG3 when ≡0 (mod 4) else SEG2. */
  private def segmentBatches(s: SparkSession, d: String): Seq[DataFrame] = {
    val cust = customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    Seq(cust,
      cust.filter(col("c_custkey") % 3 === 0)
        .withColumn("seg", lit("SEG2")),
      cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("seg",
          when(col("c_custkey") % 4 === 0, lit("SEG3")).otherwise(lit("SEG2"))))
  }

  val queries: Map[String, Q] = Map(
    // dbt snapshots at board scale (the reference's missing verb): a
    // three-batch replay of the customer dimension's market-segment
    // drift, exact integer batch stamps so the whole history is
    // deterministic. Batch 1 first-loads every key; batch 2 re-states
    // keys ≡0 (mod 3) as SEG2 (a change for all of them); batch 3
    // re-states keys ≡0 (mod 2) as SEG3 when ≡0 (mod 4) else SEG2 —
    // so ≡0 (mod 12) changes a second time, ≡0 (mod 6) but not 4
    // arrives UNCHANGED and is skipped, ≡0 (mod 4) but not 3 changes
    // from its original segment, and keys absent from every later
    // batch stay current from batch 1. Every SCD2 path — open, close,
    // re-open, skip-unchanged, absent-survives — lands in the result.
    // The oracle is the window-over-history spelling (dedupe on
    // IS DISTINCT FROM lag, then lead for valid_to) — the exact
    // whole-history reconstruction the incremental operator must agree
    // with batch by batch.
    "scd2_apply" -> ((s, d) => {
      val Seq(b1, b2, b3) = segmentBatches(s, d)
      val s1 = init(b1, lit(1))
      val s2 = apply(s1, b2, Seq("c_custkey"), Seq("seg"), lit(2))
      val s3 = apply(s2, b3, Seq("c_custkey"), Seq("seg"), lit(3))
      s3.orderBy("c_custkey", "valid_from")
    }),

    // The STREAMING spelling of the same verb (r18): the identical
    // three-batch dimension log, stamped and unioned, replayed through
    // StreamOps.scd2Versions — per-key stateful version maintenance
    // via flatMapGroupsWithState (state = the open version; changed
    // values close-and-reopen, unchanged skip — dbt's check strategy
    // at ingest). In batch execution each key's whole log arrives in
    // one invocation with empty state, so the emissions are exactly
    // the full SCD2 history and the SAME window-over-history oracle as
    // scd2_apply checks it; StreamingSpec drives the same transform
    // through MemoryStream across triggers and pins that the last
    // UPDATE-mode emission per (key, valid_from) agrees batch-for-
    // batch. The batch operator and the stateful stream MUST
    // materialize the same table — that agreement is the claim.
    "stream_scd2" -> ((s, d) => {
      val log = segmentBatches(s, d).zipWithIndex
        .map { case (b, i) => b.withColumn("ts", lit(i + 1)) }
        .reduce(_ unionAll _)
      graft.streaming.StreamOps.scd2Versions(log)
        .toDF().orderBy("c_custkey", "valid_from")
    })
  )

  /** The window-over-history reconstruction of [[segmentBatches]]: both
    * `scd2_apply`'s and `stream_scd2`'s oracle. */
  private val dSegmentHistory =
    """WITH u AS (
      |  SELECT c_custkey, c_mktsegment AS seg, 1 AS ts FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'SEG2', 2 FROM customer WHERE c_custkey % 3 = 0
      |  UNION ALL
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 4 = 0 THEN 'SEG3' ELSE 'SEG2' END, 3
      |  FROM customer WHERE c_custkey % 2 = 0),
      |v AS (
      |  SELECT c_custkey, seg, ts,
      |    lag(seg) OVER (PARTITION BY c_custkey ORDER BY ts) AS prev
      |  FROM u),
      |chg AS (
      |  SELECT c_custkey, seg, ts FROM v
      |  WHERE prev IS NULL OR seg IS DISTINCT FROM prev)
      |SELECT c_custkey, seg, ts AS valid_from,
      |  lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts) AS valid_to,
      |  lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts) IS NULL
      |    AS is_current
      |FROM chg
      |ORDER BY c_custkey, valid_from""".stripMargin

  val oracles: Map[String, String] = Map(
    "scd2_apply" -> dSegmentHistory,
    // Identical contract to scd2_apply: the incremental batch operator
    // and the stateful stream must materialize the same history.
    "stream_scd2" -> dSegmentHistory
  )
}
