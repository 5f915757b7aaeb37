package graft

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{round, sum}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

package object ops {
  import org.apache.spark.sql.functions.{col, conv, lower, split, substring, sha2}

  /** Lower-cased whitespace tokens of `text` — THE tokenization convention
    * shared by every text operator (TextSim, Corpus, Curation) and mirrored
    * in DuckDB by [[dToks]]. */
  def toks: Column = split(lower(col("text")), " ")

  /** Portable 60-bit hash: first 15 hex chars of sha256(s), as BIGINT —
    * deterministic in both engines; DuckDB mirror is [[dH60]]. At 100 TB
    * swap in xxhash64 here (one place) and drop the oracle pairing. */
  def h60(s: Column): Column =
    conv(substring(sha2(s, 256), 1, 15), 16, 10).cast("long")

  /** Dot product via the native codegen'd expression — same
    * ascending-index double fold as [[dDot]]. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.dot(a, b)

  // ---- Reuse policy for intermediate frames (the one place it is set) ----
  //
  // A frame read more than once is cut, materialized or reused through
  // exactly one of the three helpers below, never by a raw
  // localCheckpoint/persist call (OneCopySpec holds that). The two
  // checkpoint helpers truncate the plan to a LogicalRDD leaf in
  // executor-local storage: an executor loss is fatal to the query. Local
  // mode cannot lose an executor; on a cluster the same truncation with
  // recovery is reliable `checkpoint` to a checkpoint dir, swapped in here.

  /** Lineage cut, materialized lazily (`localCheckpoint(false)`). For
    * sequential fixpoints and small reused lists:
    *  - A fixpoint round that reads the previous round twice doubles
    *    its LOGICAL plan per round under a lineage-keeping persist (2^20
    *    nodes by 20 rounds; measured as an OOM composing the explain
    *    string on a diameter-20+ connected-components graph). The cut
    *    keeps each round's plan O(1).
    *  - Lazy, not eager (r19 A/B over the graph/eval family, isolated
    *    median-of-5 on an idle host): 28.8 → 26.5 s over 14 queries,
    *    graph_hits −16%, ivf_nprobe_sweep −21%, graph_label_prop −12%,
    *    no real regressions. The frame's last stage runs inside the
    *    action that runs anyway (a convergence count, the next round)
    *    instead of behind one more job barrier; under AQE its shuffle
    *    map stages still run at the call. That holds because these
    *    frames are node- or list-sized and their consumers are
    *    sequential stages; see [[materialize]] for the frames where it
    *    does not. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(false)

  /** Lineage cut, materialized now (eager `localCheckpoint`). For:
    *  - Corpus-sized frames feeding both sides of a self-join. Lazy
    *    measured equal-or-worse at both scales (r13, decade
    *    dedup_embed 17.1 s lazy vs 15.7 s eager, dedup_embed_eval 7.1 s
    *    vs 6.5 s): the two sides' concurrent map stages contend on block
    *    locks instead of reading a finished materialization. Without any
    *    cut the 8-table plane bucketing recomputes once per side (decade
    *    dedup_embed 40.6 s). The accepted cost is one job (~0.3 s at
    *    sf0.1) when no label exceeds the cap and the frame is empty; a
    *    count to skip it would cost a full pass at exactly the scale
    *    where the cut pays.
    *  - Rows that must exist before their source changes or goes: a DML
    *    target re-pointed at rows read from itself, a delete+insert batch
    *    view read after the DELETE, a CTAS read-back before its DROP.
    *  - graph_label_prop's edge base: under the lazy form one LPA join's
    *    broadcast choice varied between runs of a shared session
    *    (PlanSnapSpec's `{BroadcastHashJoin: 3}` entry). */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Cached with its lineage (`persist(MEMORY_AND_DISK)`). For
    * corpus-sized frames with several consumers: each consumer reads the
    * blocks instead of replaying the plan, and a lost executor
    * recomputes its blocks from the scan rather than failing the query.
    * The price against a local checkpoint was measured on
    * pipeline_curate (r8, sf0.1, interleaved median-of-3): 5.81 s vs
    * 4.30 s, kept as the cost of recoverability (BASELINE.md,
    * "pipeline_curate stage costs"). Blocks live until the caller's
    * clearCache (Bench after each timed run, Verify after each query); a
    * long-lived session should unpersist after the result is
    * materialized. */
  def reuse(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  // ---- DuckDB oracle fragments (the cross-engine contract, one home) ----

  /** DuckDB mirror of [[toks]]. */
  val dToks = "string_split(lower(text),' ')"

  /** DuckDB mirror of [[h60]]. */
  def dH60(s: String): String =
    s"CAST('0x' || substr(sha256($s),1,15) AS BIGINT)"

  /** DuckDB (doc_id, pos, tok) rows, 1-based pos — parallel unnests zip. */
  val dTokRows =
    s"SELECT doc_id, unnest($dToks) AS tok, " +
      s"unnest(generate_series(1, len($dToks))) AS pos FROM documents"

  /** DuckDB mirror of [[dot]]: list_sum over the zipped product. */
  def dDot(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a,$b), " +
      "x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"

  /** Exact distributed SUM of a double expression: accumulate as decimal so
    * the result is independent of partition/combine order (double summation
    * is not associative — the same query can differ in the last ulp run to
    * run and engine to engine), then one deterministic round + cast back.
    * The 8-digit fractional headroom is far below the doubles' representation
    * error of the source's 2–4-decimal money values, so the decimal quantum
    * is exact in both Spark and the DuckDB oracle.
    */
  def exactSum(e: Column): Column = sum(e.cast(DecimalType(30, 8)))

  /** exactSum rounded to `scale` and returned as double. */
  def dsum(e: Column, scale: Int): Column =
    round(exactSum(e), scale).cast("double")

  /** Scratch area for queries that stage data on disk (roundtrips, bucketed
    * tables, partitioned layouts, partial-aggregate snapshots): one dir per
    * JVM (concurrent verify/bench PROCESSES can't clobber each other) with a
    * unique subdir per invocation — a DataFrame returned by an earlier
    * invocation stays readable even if a later one runs before it is
    * consumed. Growth is bounded by invocations within one JVM (gate flows
    * call each query once per run).
    */
  private lazy val scratch: String = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch_")
    // Scratch is per-JVM; delete it recursively on exit so repeated
    // verify/bench runs don't accumulate table copies in /tmp
    // (ADVICE r2 — there was no cleanup at all).
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      FileUtil.fullyDelete(p.toFile): Unit
    }))
    p.toString
  }
  private[ops] def scratchDir(tag: String): String =
    s"$scratch/${tag}_${java.util.UUID.randomUUID().toString.take(8)}"
}
