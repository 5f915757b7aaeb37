package graft

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{round, sum}
import org.apache.spark.sql.types.DecimalType

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
