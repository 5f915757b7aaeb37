package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}

/** Plan-shape snapshot (r15): pins the PRESENCE of the good plan, not
  * just the absence of bad nodes. PlanAuditSpec gates anti-patterns
  * (cartesians, BNLJs, global windows, fact broadcasts), but a Spark
  * upgrade or conf drift that silently turns a broadcast join into a
  * sort-merge, or drops a scan's filter pushdown, passes every one of
  * those gates and surfaces only as bench noise rounds later. This
  * module extracts a small, deterministic feature vector from every
  * declared query's EXECUTED (AQE-final) plan at sf0.001 and commits it
  * as `PLANSNAP.json`; PlanSnapSpec re-derives the vector and diffs, so
  * plan drift is caught as a named, per-query diff at test time.
  *
  * Features per query — the levers that matter at 100 TB:
  *  - join strategy histogram (BroadcastHashJoin vs SortMergeJoin vs
  *    ShuffledHashJoin vs BroadcastNestedLoopJoin vs CartesianProduct):
  *    the broadcast-vs-shuffle decision IS the scale plan;
  *  - shuffle-exchange count (each is a full network pass over the data);
  *  - broadcast-exchange count;
  *  - file-scan count and how many of those scans reached the reader
  *    with pushed-down filters (pruning evidence).
  *
  * Determinism: the walk runs on the AQE-final plan after a collect()
  * at sf0.001 under the exact session shape the test JVM uses
  * (local[4], shuffle.partitions=4, UTC) — same data, same stats, same
  * confs → same plan. Reused exchanges/subtrees count at their origin
  * only; subquery plans hang off expressions and are out of scope (same
  * boundary as PlanAuditSpec's walks). The serialization is one sorted
  * line per query, so a drift reads as a one-line git diff.
  */
object PlanSnap {

  /** The feature vector. `json` is the CANONICAL serialization —
    * PlanSnapSpec compares these strings, so the format is the contract
    * (keys fixed, joins sorted by name). */
  final case class Features(joins: Map[String, Int], shuffles: Int,
      broadcasts: Int, scans: Int, pushedScans: Int) {
    def json: String = {
      val j = joins.toSeq.sorted
        .map { case (k, n) => s""""$k": $n""" }.mkString("{", ", ", "}")
      s"""{"joins": $j, "shuffles": $shuffles, "broadcasts": $broadcasts,""" +
        s""" "scans": $scans, "pushed_scans": $pushedScans}"""
    }
  }

  /** Extract the feature vector: exchange sites from the INITIAL
    * prepared plan (before any stage runs), join/scan evidence from the
    * AQE-final plan after a collect(). Split deliberately — see [[of]]
    * for why final-plan exchange counts are runtime-racy. */
  def features(df: DataFrame): Features = {
    val (sh, bc) = exchangeSites(df.queryExecution.executedPlan)
    df.collect(): Unit
    of(df.queryExecution.executedPlan).copy(shuffles = sh, broadcasts = bc)
  }

  /** Shuffle/broadcast exchange sites in the prepared-but-unexecuted
    * plan — EnsureRequirements' deterministic output (static stats →
    * static join choices → fixed exchange set). The AQE-FINAL plan's
    * exchange count is NOT deterministic: stage reuse races concurrent
    * submissions (two equivalent exchanges both materialize before
    * either can be reused), and checkpoint-fed stages shift coalescing
    * boundaries run to run — observed ±1–2 shuffles on
    * q5/stat_kruskal/graph_ppr at sf0.001 with identical join
    * histograms. The initial plan pins "how many network passes does
    * this plan ask for", which is the scale-relevant shape; AQE can
    * only dedup or locally re-read those at runtime. */
  private def exchangeSites(p: SparkPlan): (Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    def nodes(q: SparkPlan): Seq[SparkPlan] = q match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val ns = nodes(p)
    (ns.count {
      case _: ShuffleExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }, ns.count {
      case _: BroadcastExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[BroadcastExchangeLike]
      case _ => false
    })
  }

  /** Walk an executed plan, expanding adaptive wrappers and query
    * stages (they hide their content from a plain collect — same
    * expansion as PlanAuditSpec.finalFlags).
    *
    * Exchanges are counted as SITES, not materializations: a
    * `ReusedExchangeExec` counts as one exchange of its reused type.
    * AQE's stage reuse is runtime-racy — when two equivalent stages are
    * submitted concurrently, both may materialize before either can be
    * reused, so the raw count of origin exchange nodes varies run to
    * run (observed ±1–2 on q5/stat_kruskal/sim_topk_pq at sf0.001).
    * Site counting is invariant to that race: reuse fired → one origin
    * + one reuse node; reuse missed → two origins; either way two
    * sites. The number the snapshot pins is "how many times does the
    * plan NEED a network pass", which is the scale-relevant quantity —
    * whether the runtime dedups the second materialization is an AQE
    * scheduling detail, not plan shape. */
  def of(p: SparkPlan): Features = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins._
    def nodes(q: SparkPlan): Seq[SparkPlan] = q match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case r: ReusedExchangeExec => Seq(r) // site counted here, by type
      case other => other +: other.children.flatMap(nodes)
    }
    val ns = nodes(p)
    val joins = ns.collect {
      case _: BroadcastHashJoinExec => "BroadcastHashJoin"
      case _: SortMergeJoinExec => "SortMergeJoin"
      case _: ShuffledHashJoinExec => "ShuffledHashJoin"
      case _: BroadcastNestedLoopJoinExec => "BroadcastNestedLoopJoin"
      case _: CartesianProductExec => "CartesianProduct"
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val scans = ns.collect { case f: FileSourceScanExec => f }
    def isShuffle(n: SparkPlan): Boolean = n match {
      case _: ShuffleExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[ShuffleExchangeLike]
      case _ => false
    }
    def isBroadcast(n: SparkPlan): Boolean = n match {
      case _: BroadcastExchangeLike => true
      case r: ReusedExchangeExec => r.child.isInstanceOf[BroadcastExchangeLike]
      case _ => false
    }
    Features(
      joins = joins,
      shuffles = ns.count(isShuffle),
      broadcasts = ns.count(isBroadcast),
      scans = scans.size,
      pushedScans = scans.count(
        _.metadata.get("PushedFilters").exists(_ != "[]")))
  }

  /** Canonical artifact body: valid JSON, one query per sorted line. */
  def render(rows: Seq[(String, Features)]): String =
    rows.sortBy(_._1)
      .map { case (n, f) => s""""$n": ${f.json}""" }
      .mkString("{\n", ",\n", "\n}\n")

  /** Split a committed artifact back into per-query canonical lines
    * (the inverse of [[render]] up to the object braces/commas). */
  def parseLines(body: String): Map[String, String] =
    body.linesIterator
      .map(_.trim.stripSuffix(","))
      .filter(l => l.startsWith("\"") && l.contains(": {"))
      .map { l =>
        val name = l.substring(1, l.indexOf('"', 1))
        name -> l
      }.toMap

  /** BENCH-SCALE snapshot subjects (r16): the top-30 heaviest queries
    * by BENCH_r15_full median. PLANSNAP.json pins sf0.001 plans; an AQE
    * strategy that flips only at sf0.1 sizes (broadcast↔sort-merge on a
    * mid-size dimension) is invisible there and would surface as bench
    * noise — exactly the drift class the artifact exists to catch (r15
    * verdict residual). These queries' feature vectors are ALSO pinned
    * at sf0.1 in `PLANSNAP_SF01.json`; the list is pinned statically
    * (not recomputed from the latest bench) so the artifact's subject
    * set can't drift with host noise — revisit it when the board's cost
    * profile genuinely changes. */
  val benchTop30: Seq[String] = Seq(
    "embed_whiten", "pipeline_curate2", "pipeline_curate",
    "ivf_nprobe_sweep", "graph_hits", "dedup_band_sweep", "graph_ppr",
    "dedup_minhash_eval", "dedup_ngram_jaccard",
    "dedup_minhash_eval_sampled", "dq_profile_approx", "dedup_containment",
    "graph_label_prop", "graph_bfs", "graph_pagerank", "graph_modularity",
    "dq_profile", "retrieval_rrf", "sim_rank_metrics", "embed_abtt",
    "embed_pca_power", "agg_spearman", "text_bm25", "dedup_semantic",
    "dedup_simhash", "curate_funnel", "dedup_pipeline", "sim_topk_ivf",
    "dedup_embed_eval", "sim_topk_pq")

  /** Snapshot one query set at one scale into `out`. */
  private def generate(spark: SparkSession, sfDir: String, out: String,
      names: Seq[String]): Unit = {
    val qs = SparkEntry.queries
    val missing = names.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val rows = names.sorted.map { n =>
      val f = features(qs(n)(spark, sfDir))
      spark.catalog.clearCache()
      n -> f
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out), render(rows))
    println(s"PLANSNAP: ${rows.size} queries @ $sfDir -> $out")
  }

  /** Regenerate the committed artifacts. Session shape MUST mirror
    * SparkSpec's (the spec re-derives under that session): local[4], 4
    * shuffle partitions, UTC.
    *
    * No args: regenerate BOTH canonical artifacts — every query at
    * sf0.001 into PLANSNAP.json, [[benchTop30]] at sf0.1 into
    * PLANSNAP_SF01.json. With args: `sfDir out [ALL|BENCH30|q1,q2,…]`
    * for ad-hoc runs. */
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    val all = SparkEntry.queries.keys.toSeq
    if (args.isEmpty) {
      generate(spark, "/root/testdata/sf0.001", "PLANSNAP.json", all)
      generate(spark, "/root/testdata/sf0.1", "PLANSNAP_SF01.json",
        benchTop30)
    } else {
      val sfDir = args(0)
      val out = if (args.length > 1) args(1) else "PLANSNAP.json"
      val names = if (args.length > 2) args(2) match {
        case "ALL" => all
        case "BENCH30" => benchTop30
        case csv => csv.split(",").toSeq
      } else all
      generate(spark, sfDir, out, names)
    }
    spark.stop()
  }
}
