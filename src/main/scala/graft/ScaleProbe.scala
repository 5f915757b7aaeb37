package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-side SCALING probe (not part of the driver contract, not CI): the
  * testdata tops out at sf0.1, so this main synthesizes one more decade —
  * a stacked ~sf1 (10 key-offset copies of the sf0.1 tables, document
  * texts salted with a per-copy prefix token so the copies are distinct
  * rows but deliberately remain NEAR-DUPLICATES of each other, the
  * heavily-duplicated-crawl shape a dedup pipeline actually faces) — and
  * runs a set of DECLARED queries, unchanged, at sf0.01 → sf0.1 → sf1ish,
  * printing per-decade wall-clock ratios. A linear operator on 32 local
  * cores should scale well under the 10× data ratio (fixed overheads
  * amortize); anything super-linear here would be a red flag the sf0.1
  * bench cannot see. Results are recorded in BASELINE.md ("Scale
  * evidence"); re-run with `sbt "runMain graft.ScaleProbe"` or plain java
  * with the bench classpath.
  *
  * The stack writes to /tmp/graft_sf1ish (left in place for re-runs;
  * ~10× sf0.1 on disk).
  */
object ScaleProbe {

  private val Probes = Seq(
    "agg_sum_groupby", "join_sortmerge", "win_cumsum", "dq_profile",
    "sessionize_batch", "dedup_hash", "dedup_minhash",
    "dedup_ngram_jaccard", "dedup_cc", "text_tfidf",
    // r8: the r7 heavy families (VERDICT r7 task 6)
    "dedup_containment", "graph_label_prop", "text_bm25", "embed_pq",
    "overlap_sources",
    // r8 additions keep probing every new family
    "curate_dsir",
    // r9: the layout/maintenance battery (staged writes included in the
    // measured time) + the round's new heavy families
    "join_bucketed", "cdc_apply", "agg_incremental", "ts_ohlc",
    "shard_manifest", "dedup_span_sliding", "graph_triangles",
    // r9 second wave: rank-transform joins, Pregel BFS, per-partition
    // codec scan, stateful CDC, sketch rollup
    "agg_spearman", "graph_bfs", "text_compress_ratio", "stream_cdc_apply",
    "agg_hll_rollup",
    // r9 third wave: the statistics/curation batch — AUC's value spine,
    // the wedge-expansion link scorer, the two join/explode-scaled DQ ops
    "stat_auc", "graph_jaccard", "dq_referential", "text_blocklist",
    // r9 fourth wave: the eval/keeper/peel family over the LSH graph and
    // the reconciliation join
    "dedup_minhash_eval", "dedup_keep_best", "graph_core",
    "graph_modularity", "dq_reconcile", "dedup_minhash_eval_sampled",
    // r9 close: the second capstone, the two window-merge/bin joins, the
    // per-user order audit, the vocabulary-spine divergence, assortativity
    "pipeline_curate2", "join_asof_nearest", "join_interval_bin",
    "dq_order_audit", "text_js_divergence", "graph_assortativity",
    // r10: the PII scrub, both new decontamination surfaces, the rule
    // battery, and the dataset-card capstone
    "text_pii_redact", "text_pii_classes", "decontaminate_embed",
    "curate_gopher_rules", "curation_card", "stream_topk",
    // r11: the embedding near-dup pair/eval family — dedup_embed switches
    // to the LSH path above the cap at the decade (cost shape changes by
    // DESIGN there), and the eval harness carries the exact-truth side's
    // super-linearity (the dedup_minhash_eval trade, embedding form)
    "dedup_embed", "dedup_embed_eval",
    // r16: the SQL-text MERGE (one full-outer shuffle join on the key +
    // clause projections — should track join_sortmerge's decade ratio)
    "sql_merge",
    // r17: the whitening fit (changed by r16's pcaFit2 deflation — the
    // decade row pins that the saved corpus re-scan is scale-neutral)
    "embed_whiten",
    // r18: the SCD2 three-batch history (current-slice joins + explode
    // fan-out, dup pre-counts included), the dbt schema-test battery
    // (five aggregates/anti-joins over two models), and the durable
    // incremental runner (state commits included in the measured time —
    // the table-format commit cost); sql_merge re-probed above under
    // the r18 equi fast-path guard
    "scd2_apply", "model_tests", "model_graph_incremental",
    // r18 (late): the DML quartet completion — UPDATE/DELETE/INSERT
    // re-points (scan-linear projections/filters/unions + the commit
    // checkpoint), the CDF read (one window shuffle by key + explode),
    // the streaming SCD2 fold (flatMapGroupsWithState batch form), and
    // the delete+insert incremental strategy (two DML statements per
    // batch incl. the IN-subquery semi join)
    "sql_update", "sql_delete", "sql_insert", "snapshot_changes",
    "stream_scd2", "model_graph_delete_insert",
    // r18 optimization round: the queries whose plans the round rewrote
    // and that had no decade row yet — the banding-config sweep and the
    // SimHash pair path (both on the slimmer estimate-filter-then-distinct
    // exchange), the checkpointed HITS fixpoint, the five-pass rank
    // scorecard, and the single-E-step IVF sweep
    "dedup_band_sweep", "dedup_simhash", "graph_hits", "sim_rank_metrics",
    "ivf_nprobe_sweep",
    // r19 optimization round: the remaining queries the lazy-checkpoint
    // conversion and the chunked PCA aggregates touched that had no
    // decade row yet — the two PageRank fixpoints, the power-iteration
    // fit's published-model form, and the greedy MMR selection loop
    "graph_pagerank", "graph_ppr", "embed_pca_power", "sim_mmr")

  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus)

    val sf1ish = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1ish")
    buildStack(spark, "/root/testdata/sf0.1", sf1ish)

    val dirs = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1ish" -> sf1ish)
    // warmup each dir's footers once
    dirs.foreach { case (_, d) =>
      spark.read.parquet(s"$d/lineitem.parquet").count()
      spark.read.parquet(s"$d/documents.parquet").count()
    }
    // dev-only subset (comma-separated probe names) — probe a new family
    // without re-timing the whole battery
    val probes = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSet)
      .map(only => Probes.filter(only))
      .getOrElse(Probes)
    val rows = probes.map { name =>
      val fn = SparkEntry.queries(name)
      val times = dirs.map { case (_, d) =>
        // median of 3, cold path (Bench protocol)
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, d).count()
          spark.catalog.clearCache()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        ts(1)
      }
      val r01 = times(1) / times(0)
      val r1 = times(2) / times(1)
      println(f"""{"probe":"$name","sf0.01":${times(0)}%.3f,""" +
        f""""sf0.1":${times(1)}%.3f,"sf1ish":${times(2)}%.3f,""" +
        f""""x10_ratio_a":$r01%.2f,"x10_ratio_b":$r1%.2f}""")
      (name, times, r01, r1)
    }
    val worst = rows.maxBy(_._4)
    println(f"""{"metric":"scale_probe","probes":${rows.length},""" +
      f""""worst_decade_ratio":${worst._4}%.2f,""" +
      f""""worst_probe":"${worst._1}"}""")
    spark.stop()
  }

  /** 10 key-offset copies of the sf0.1 tables the probes touch. Offsets
    * keep every key space disjoint (orderkey/custkey/suppkey/doc_id);
    * document texts get a distinct leading token per copy, so exact dedup
    * sees distinct rows while MinHash/Jaccard correctly finds each
    * original's 10 salted copies as a near-dup cluster. */
  private[graft] def buildStack(s: SparkSession, src: String, dst: String): Unit = {
    val marker = new java.io.File(s"$dst/_STACK_OK")
    // r8 added embeddings to the stack — refresh a pre-r8 stack in place
    val complete = new java.io.File(s"$dst/embeddings.parquet").exists()
    if (marker.exists() && complete) return
    // events ships as TIMESTAMP(NANOS); read raw nanos as long (the
    // Tables.events convention) — the stacked copy then stores plain
    // INT64, which Tables.events converts identically.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def stacked(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = s.read.parquet(s"$src/$t.parquet")
      (0 until 10).map(i => f(base, i)).reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    stacked("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * 1000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * 1000000L))
    }
    stacked("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 1000000L))
    }
    stacked("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * 1000000L))
    }
    stacked("documents") { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text", concat(lit(s"cp$i "), col("text")))
        .withColumn("n_chars", col("n_chars") + lit(4L))
    }
    stacked("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 1000000L))
    }
    stacked("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * 1000000L))
    }
    stacked("part") { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * 1000000L))
    }
    // identical vectors under fresh ids: every copy is an exact semantic
    // duplicate of its original — the worst case a near-dup/ANN family
    // can face, which is precisely what the decade probe should stress
    stacked("embeddings") { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
    }
    // dimension keys referenced unchanged from the stacked facts — the
    // copies share the same 25 nations / 5 regions, copied through as-is
    Seq("nation", "region").foreach { t =>
      s.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    new java.io.FileOutputStream(marker).close()
  }
}
