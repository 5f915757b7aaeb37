package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.ops.TextSim.dStopwords

/** Dataset-curation operators: deterministic sampling and splits, mixture
  * rebalancing, eval-set decontamination, and sliding-window chunking.
  *
  * Sampling here is HASH-based, never `rand()`: keep a row iff
  * `h(key) mod M < rate·M`. That is the scale-correct form — reproducible
  * across runs/retries/clusters, stable under repartitioning, and (unlike
  * Bernoulli `sample()`) expressible in the DuckDB oracle, so the gate
  * checks the exact kept set, not just counts.
  *
  * Scale notes (100 TB):
  *  - sample/split/mixture are scan + broadcast-joined per-group rates +
  *    filter — map-side only, no shuffle beyond the tiny stats agg.
  *  - decontaminate builds shingles ONLY for the (small) eval set on one
  *    side; the corpus side streams through an inverted-index join on the
  *    shingle hash. Eval shingles are a broadcast candidate (bounded by
  *    eval size, not corpus size).
  *  - chunking multiplies rows by ~n_tok/stride — linear, partition-local.
  */
object Curation {

  private val ChunkLen = 32
  private val Stride = 24
  private val EvalGram = 8 // decontamination shingle width
  private val PackBudget = 512L // tokens per packed training sequence
  private val PackShards = 8 // packing parallelism (see pack_sequences)

  /** Distinct (doc_id, g) 8-gram rows of `df` — TextSim's shared shingle
    * builder (the n=8 instantiation), one home for the n-gram contract. */
  private def grams(df: DataFrame): DataFrame =
    TextSim.shingleRows(df, EvalGram)

  /** The 90/5/5 deterministic split — ONE home for the hash prefix and
    * thresholds, shared by split_train and pipeline_curate (and mirrored
    * by [[dSplitCase]]). */
  private def splitCol: Column = {
    val b = pmod(h60(concat(lit("spl"), col("doc_id"))), lit(100))
    when(b < 90, "train").when(b < 95, "val").otherwise("test")
  }

  /** The packing manifest (shard, seq, n_docs, seq_tok, first/last doc) —
    * shared by `pack_sequences` (the loader-facing manifest) and
    * `pack_efficiency` (its waste report). */
  private def packManifest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("n_tok"),
        pmod(h60(concat(lit("pck"), col("doc_id"))), lit(PackShards))
          .as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("cum0", coalesce(sum("n_tok").over(w), lit(0L)))
      .withColumn("seq", expr(s"cum0 div $PackBudget"))
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("seq_tok"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** The Gopher-style rule columns, ordered — ONE home for the thresholds,
    * shared by `curate_gopher_rules` (per-rule reporting) and
    * `curation_card`'s keep_rate (r10 review: the card must aggregate the
    * SAME rules it reports on, not a hand-copy that can drift). */
  private def gopherRules: Seq[(String, Column)] = {
    val nW = size(toks)
    val meanLen = aggregate(transform(toks, t => length(t)),
      lit(0), (acc, v) => acc + v).cast("double") / nW
    val stopCnt = size(filter(toks,
      t => array_contains(typedlit(TextSim.stopwords), t)))
    val uniqR = size(array_distinct(toks)).cast("double") / nW
    Seq(
      "r_len" -> (nW >= 10 && nW <= 1000),
      "r_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
      "r_stop" -> (stopCnt >= 2),
      "r_unique" -> (round(uniqR, 6) >= 0.5))
  }

  /** DuckDB mirror of [[splitCol]]. */
  private lazy val dSplitCase: String =
    s"""CASE WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 90
       |       THEN 'train'
       |     WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 95
       |       THEN 'val'
       |     ELSE 'test' END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic stratified sampling: per-language keep rates applied
    // via content-stable hash buckets. Reproducible on any cluster layout.
    "sample_hash" -> ((s, d) => {
      val rate = when(col("lang") === "es", 500)
        .when(col("lang") === "zh", 300).otherwise(800) // per-mille
      Tables.documents(s, d)
        .filter(pmod(h60(concat(lit("smp"), col("doc_id"))), lit(1000))
          < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split (90/5/5) from the same hash
    // family — the split survives re-runs and data relayout.
    "split_train" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), splitCol.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
        .orderBy("split")
    }),

    // Deterministic hash-sharding manifest: the training pipeline's final
    // write step — doc → shard h(doc) mod 8, members ordered within the
    // shard by their hash. That IS a stable pseudo-random global shuffle
    // with no global-sort bottleneck: hash values are uniform, so shard
    // contents range-partition cleanly and any reader reproduces the order
    // from the doc ids alone. The manifest — per-shard count, first/last
    // member in hash order (doc_id-tiebroken), order-free bit_xor
    // checksum — is what the writer publishes for reader-side integrity;
    // every column is single-row per-group aggregation state, map-side
    // combined (no window, no sort).
    "shard_manifest" -> ((s, d) => {
      val hk = h60(concat(lit("shard"), col("doc_id")))
      Tables.documents(s, d)
        .select(col("doc_id"), hk.as("hk"))
        .withColumn("shard", pmod(col("hk"), lit(8)).cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          min_by(col("doc_id"), struct(col("hk"), col("doc_id")))
            .as("first_doc"),
          max_by(col("doc_id"), struct(col("hk"), col("doc_id")))
            .as("last_doc"),
          expr("bit_xor(hk)").as("checksum"))
        .orderBy("shard")
    }),

    // Exact per-group quota sampling: keep exactly min(20, |group|) docs
    // per language, chosen by content-stable hash rank — the hard-cap
    // form of mixture control (rate sampling above only converges to the
    // target in expectation). The rank window is partition-local per
    // group; at 100 TB a two-phase prune (per-partition top-k, then
    // global) bounds the window input the way sim_topk does.
    "sample_quota" -> ((s, d) => {
      // Two-phase prune (the win_rank/sim_topk pattern): each physical
      // partition keeps its own top-20 per lang FIRST, so the global
      // per-lang rank window — a handful of partitions at 100 TB — sees at
      // most 20·n_partitions rows, never a whole language on one task.
      // Per-partition top-k by the same ordering is a superset of the
      // global top-k, so the result is exact.
      val hk = h60(concat(lit("quota"), col("doc_id")))
      val local = Tables.documents(s, d)
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("lang"), spark_partition_id())
            .orderBy(hk, col("doc_id"))))
        .filter(col("prn") <= 20)
      local
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(hk, col("doc_id"))))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy("lang", "rn")
    }),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
    // per-item key ln(u)/w with u a content-stable uniform in (0,1) and
    // w = n_chars; the top-3 keys per source are a draw of 3 docs with
    // probability proportional to length, without replacement — the
    // quality-weighted subsample a mixture designer takes when longer
    // (or higher-scored) documents should win slots. ln(u)/w is the
    // monotone log of the textbook u^(1/w), avoiding pow; the ranking key
    // is rounded to 9 with doc_id tiebreak (the tfidf ln-parity
    // contract). Same two-phase top-k as sample_quota: per-partition
    // top-3 first, so the per-source window never sees a whole source.
    "sample_weighted" -> ((s, d) => {
      val u = (pmod(h60(concat(lit("wsm"), col("doc_id"))), lit(1000000L))
        .cast("double") + lit(1.0)) / lit(1000002.0)
      // least(·, -1e-9): for u near 1 and large w, ln(u)/w can round to
      // ±0.0 at 9 decimals — Spark's HALF_UP drops the sign while a C
      // round may keep -0.0, and the "strictly negative key" invariant
      // breaks. Clamping the measure-zero top band to -1e-9 keeps keys
      // negative in both engines; ties there fall to the doc_id tiebreak.
      val key = least(round(log(u) / col("n_chars").cast("double"), 9),
        lit(-1e-9))
      val local = Tables.documents(s, d)
        .withColumn("es_key", key)
        .withColumn("prn", row_number().over(
          Window.partitionBy(col("source"), spark_partition_id())
            .orderBy(desc("es_key"), col("doc_id"))))
        .filter(col("prn") <= 3)
      local
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(desc("es_key"), col("doc_id"))))
        .filter(col("rn") <= 3)
        .select(col("source"), col("rn"), col("doc_id"), col("es_key"))
        .orderBy("source", "rn")
    }),

    // Mixture rebalancing toward a uniform source distribution:
    // rate(src) = min(1, target/cnt(src)), applied as hash sampling.
    // Output = per-source original vs kept counts (the rebalanced corpus).
    "mix_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("source").agg(count(lit(1)).as("n_orig"))
      val total = docs.agg(count(lit(1)).as("total"))
      val rates = stats.crossJoin(total)
        .select(col("source"), col("n_orig"),
          least(lit(1.0), col("total").cast("double") / 20.0 /
            col("n_orig")).as("rate"))
      docs.join(broadcast(rates), "source")
        .filter(pmod(h60(concat(lit("mix"), col("doc_id"))), lit(10000))
          .cast("double") < col("rate") * 10000.0)
        .groupBy("source", "n_orig")
        .agg(count(lit(1)).as("n_kept"))
        .select("source", "n_orig", "n_kept")
        .orderBy("source")
    }),

    // Temperature-scaled mixture weights (T = 2): the multilingual-corpus
    // sampling formula (exponent 1/T on source shares, renormalized —
    // the mBERT/XLM exponential-smoothing recipe) that upweights tail
    // sources without letting head sources dominate. T = 2 makes the
    // exponent a SQUARE ROOT, which IEEE requires correctly rounded —
    // identical in both engines — unlike pow, whose libm rounding
    // differs (the agg_skewkurt rule). The |sources| sqrt terms quantize
    // to the exactSum decimal before the normalizing sum (order-
    // independent); the global window runs over |sources| rows only.
    "mix_temperature" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("source").agg(count(lit(1)).as("n_orig"))
      val total = docs.agg(count(lit(1)).as("total"))
      val wAll = Window.partitionBy()
      stats.crossJoin(broadcast(total))
        .withColumn("p", col("n_orig").cast("double") / col("total"))
        .withColumn("sq", sqrt(col("p")))
        .withColumn("z",
          sum(col("sq").cast(org.apache.spark.sql.types.DecimalType(30, 8)))
            .over(wAll).cast("double"))
        .select(col("source"), col("n_orig"),
          round(col("p"), 6).as("p"),
          round(col("sq") / col("z"), 6).as("w_t2"),
          floor(col("sq") / col("z") * col("total") + 0.5).cast("long")
            .as("n_target"))
        .orderBy("source")
    }),

    // Temperature-sweep tuning curve (the mixture sibling of
    // ivf_nprobe_sweep): mix_temperature's w ∝ p^(1/T) reweighting
    // evaluated at T ∈ {1, 2, 4} — per (T, lang): weight, target
    // count, and effective epochs (n_target/n_orig, the repetition
    // multiplier T buys a small language) — the table a mixture review
    // reads before picking T (T=1 keeps the natural mix, T→∞ goes
    // uniform; XLM-R ships T≈1.43 chosen from exactly this curve).
    // Keyed on LANG, not source: this corpus's sources are exactly
    // uniform (25 docs each — a sweep over them returns the same row at
    // every T), while the language mix is skewed, which is also the
    // axis temperature sampling is actually deployed on (mix_epochs'
    // L113 precedent).
    // POWERS ARE SQRT CHAINS BY DESIGN: 1/T ∈ {1, 1/2, 1/4} makes
    // p^(1/T) ∈ {p, sqrt(p), sqrt(sqrt(p))} — IEEE sqrt is correctly
    // rounded in both engines, so the sweep carries no libm pow()
    // divergence surface (the reason the grid is powers of two, the
    // nDCG-literal precedent). Normalizers follow mix_temperature's own
    // decimal-sum contract per T, windowed over the |T|×|sources|
    // aggregate — never document-scaled. Epochs close as a mul/div-only
    // IEEE chain (no add — no FMA surface), rounded at 6dp for display.
    "mix_temperature_sweep" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("lang").agg(count(lit(1)).as("n_orig"))
      val total = docs.agg(count(lit(1)).as("total"))
      val dec = DecimalType(30, 8)
      val wT = Window.partitionBy("temperature")
      stats.crossJoin(broadcast(total))
        .withColumn("p", col("n_orig").cast("double") / col("total"))
        .withColumn("temperature", explode(typedlit(Seq(1, 2, 4))))
        .withColumn("sq", when(col("temperature") === 1, col("p"))
          .when(col("temperature") === 2, sqrt(col("p")))
          .otherwise(sqrt(sqrt(col("p")))))
        .withColumn("z", sum(col("sq").cast(dec)).over(wT).cast("double"))
        .select(col("temperature"), col("lang"), col("n_orig"),
          round(col("p"), 6).as("p"),
          round(col("sq") / col("z"), 6).as("w_t"),
          floor(col("sq") / col("z") * col("total") + 0.5).cast("long")
            .as("n_target"),
          round(col("sq") / col("z") * col("total") / col("n_orig"), 6)
            .as("epochs"))
        .orderBy("temperature", "lang")
    }),

    // Train/holdout leakage audit (the split-side complement of
    // decontaminate): after the DECLARED 90/5/5 hash split (splitCol —
    // the same one definition split_train and pipeline_curate plan),
    // how much of val/test is already in train — exact-text collisions
    // (the full-memorization risk) and 8-gram overlaps (the partial-
    // leakage risk, EvalGram's own width). Duplication-saturated corpora
    // leak exactly this way: dup clusters straddle any content-blind
    // split, which is why real pipelines dedup BEFORE splitting — this
    // audit is the number that justifies that order. Scale: the train
    // hash/gram sets are corpus-sized, so both probes are plain shuffle
    // LEFT SEMI equi joins planned by stats (NOT broadcast — the
    // decontaminate shape only broadcasts because its eval slice is
    // bounded); per-doc EXISTS semantics means the semi join never
    // multiplies rows. Rates are IEEE divisions of exact longs.
    "split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("split", splitCol)
      val train = docs.filter(col("split") === "train")
      val trainH = train.select(sha2(col("text"), 256).as("h")).distinct()
      val trainG = grams(train).select("g").distinct()
      val hold = docs.filter(col("split") =!= "train")
      val holdH = hold.select(col("split"), col("doc_id"),
        sha2(col("text"), 256).as("h"))
      val exactLeak = holdH.join(trainH, Seq("h"), "left_semi")
        .groupBy("split").agg(count(lit(1)).as("n_exact_leak"))
      val gramLeak = TextSim
        .shingleRows(hold, EvalGram, carry = Seq("split"))
        .join(trainG, Seq("g"), "left_semi")
        .select("split", "doc_id").distinct()
        .groupBy("split").agg(count(lit(1)).as("n_gram_leak"))
      hold.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .join(exactLeak, Seq("split"), "left")
        .join(gramLeak, Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_exact_leak"), lit(0L)).as("n_exact_leak"),
          (coalesce(col("n_exact_leak"), lit(0L)).cast("double") /
            col("n_docs")).as("exact_leak_rate"),
          coalesce(col("n_gram_leak"), lit(0L)).as("n_gram_leak"),
          (coalesce(col("n_gram_leak"), lit(0L)).cast("double") /
            col("n_docs")).as("gram_leak_rate"))
        .orderBy("split")
    }),

    // Second capstone — the r9 curation stack composed end-to-end:
    // classifier gate (frozen logistic, z ≥ 0) → exact dedup → near-dup
    // CC collapse keeping the BEST-z member per cluster (the keep_best
    // policy with the classifier score as quality) → token-budget
    // mixture (each source sampled down to the binding source's token
    // mass via content-stable hash thresholds) → 90/5/5 hash split.
    // Where pipeline_curate proves the r7 stack composes, this proves
    // the new parts do — and that policies THREAD: the same z drives
    // both the gate and the keeper, the same token accounting drives the
    // mixture. Every stage is deterministic, so the whole composition is
    // oracle-checkable down to exact ids.
    "pipeline_curate2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val z = TextSim.classifierZ // the ONE model definition
      // z quantized at 6dp before BOTH decision surfaces that read it —
      // the keep gate (z >= 0) and the per-cluster keeper argmax: the
      // multiply-add z chain is the FMA-contraction surface ts_acf
      // documents, so raw-z comparisons within ~1 ulp of the boundary (or
      // of a rival cluster member) could flip cross-engine (ADVICE r9).
      // The oracle mirrors round(z, 6) in its f CTE.
      val gated = docs.withColumn("z", round(z, 6)).filter(col("z") >= 0)
      val wEx = Window.partitionBy(h60(col("text")), col("text"))
        .orderBy("doc_id")
      // read by the candidate pairs, the clusters and the keeper join
      val exact = reuse(gated
        .withColumn("rn", row_number().over(wEx))
        .filter(col("rn") === 1).drop("rn"))
      val lab = Graph.dupClusters(exact, TextSim.minhashPairs(exact))
      val scored = exact.join(lab, "doc_id")
      val best = scored.groupBy("comp")
        .agg(max_by(col("doc_id"), struct(col("z"), -col("doc_id")))
          .as("best_id"))
      // read by the token budget and the mixture join
      val kept = reuse(scored.join(best, Seq("comp"))
        .filter(col("doc_id") === col("best_id"))
        .select(col("doc_id"), col("source"), col("text")))
      val st = kept.groupBy("source")
        .agg(sum(size(toks).cast("long")).as("n_tokens"))
        .withColumn("budget",
          min("n_tokens").over(Window.partitionBy()))
        .select(col("source"),
          floor(col("budget").cast("double") / col("n_tokens") * 1000000)
            .cast("long").as("thr"))
      val mixed = kept.join(st, Seq("source"))
        .filter(pmod(h60(concat(lit("mix2"), col("doc_id"))),
          lit(1000000)) < col("thr"))
      mixed
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tok"), splitCol.as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"), sum("n_tok").as("tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source", "split")
    }),

    // Token-budget mixture plan: mixtures are specified in TOKENS, not
    // documents (a source of long documents over-contributes under a
    // doc-count plan — L16/L33 quota machinery measures the wrong unit
    // for an LLM token budget). Each source's keep fraction is
    // B/T_source with B = the binding (smallest) source's token mass —
    // the balanced-token plan; the sampler to execute it is sample_hash
    // at rate f. One token-count aggregate (map-side combined), the min
    // over the ¦sources¦ aggregate, raw IEEE ratios of exact longs.
    "mix_token_budget" -> ((s, d) => {
      val wAll = Window.partitionBy()
      Tables.documents(s, d)
        .select(col("source"), size(toks).cast("long").as("t"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
        .withColumn("budget", min("n_tokens").over(wAll))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("budget").cast("double") / col("n_tokens")).as("keep_frac"),
          floor(col("budget").cast("double") / col("n_tokens") *
            col("n_docs") + 0.5).cast("long").as("est_docs"))
        .orderBy("source")
    }),

    // Uniform-language repetition schedule (L113; the planning table
    // behind multilingual rebalancing, graded by Muennighoff et al.
    // 2023's data-constrained scaling): hold the total token budget at
    // the corpus mass (B = T) but split it UNIFORMLY across languages —
    // the α→0 limit of temperature sampling (mix_temperature's knob).
    // epochs_lang = (T/¦langs¦)/T_lang: the dominant language is
    // subsampled (epochs < 1), small languages repeat (epochs > 1), and
    // `over4` trips where repetition exceeds the paper's ~4-epoch
    // useful-repeat regime and the plan should re-weight instead.
    // Shape: one map-side token count → ¦langs¦ aggregate → window over
    // that aggregate; every ratio is a compound IEEE division of exact
    // longs evaluated identically in both engines.
    "mix_epochs" -> ((s, d) => {
      val wAll = Window.partitionBy()
      Tables.documents(s, d)
        .select(col("lang"), size(toks).cast("long").as("t"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
        .withColumn("total", sum("n_tokens").over(wAll))
        .withColumn("n_lang", count(lit(1)).over(wAll))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("total"), 6)
            .as("tok_share"),
          floor(col("total").cast("double") / col("n_lang") + 0.5)
            .cast("long").as("alloc_tokens"),
          round(col("total").cast("double") / col("n_lang") /
            col("n_tokens"), 6).as("epochs"),
          (col("total").cast("double") / col("n_lang") > col("n_tokens"))
            .cast("int").as("repeated"),
          (col("total").cast("double") / col("n_lang") >
            lit(4.0) * col("n_tokens")).cast("int").as("over4"))
        .orderBy("lang")
    }),

    // Class-balanced downsampling: every label keeps exactly min-class-
    // count members — the balanced-training-set prep that prevents a
    // majority class from dominating a classifier. Selection is
    // content-stable (h60 hash rank, sample_hash's property: re-runs and
    // re-partitions pick the SAME rows, no RNG state), per-label windows
    // only; the min count is a 1-row broadcast scalar (model-parameter
    // shape). At 100 TB the per-label window sorts only within each
    // label's partition slice — the quota machinery of sample_quota with
    // a data-derived cap.
    "sample_balanced" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val m = emb.groupBy("label").agg(count(lit(1)).as("n"))
        .agg(min("n").as("m"))
      emb
        .withColumn("hk", graft.ops.h60(concat(lit("bal"), col("vec_id"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy("hk", "vec_id")).cast("long"))
        .crossJoin(broadcast(m)) // 1-row scalar cap
        .filter(col("rn") <= col("m"))
        .select(col("vec_id"), col("label"), col("rn"))
        .orderBy("label", "rn")
    }),

    // Mixture-concentration monitor: how unequal is the source mix — the
    // dataset-card reading a rebalance decision (mix_resample /
    // mix_temperature) starts from. Four standard concentration measures
    // in one row: Gini (Lorenz form 2·Σi·xᵢ/(k·Σx) − (k+1)/k over
    // ascending sorted source counts — every operand an exact integer, so
    // the closing expression is one IEEE formula that can't drift),
    // Shannon entropy in nats and Herfindahl index (both per-term
    // round-then-decimal-sum, the text_entropy contract — ln is libm and
    // MAY differ in the last ulp cross-engine), and top-1 share (IEEE
    // division of exact longs). Every window runs over the |sources|
    // aggregate — domain-bounded, never document-scaled.
    "mix_concentration" -> ((s, d) => {
      val src = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n"))
      val wAll = Window.partitionBy()
      val wOrd = Window.orderBy(col("n"), col("source"))
      val dec = DecimalType(30, 8)
      val d19 = DecimalType(19, 0)
      val p = col("n").cast("double") / col("tot")
      src
        .withColumn("i", row_number().over(wOrd))
        .withColumn("k", count(lit(1)).over(wAll))
        .withColumn("tot", sum("n").over(wAll))
        .select(col("k"), col("tot"), col("n"),
          (col("i").cast(d19) * col("n").cast(d19)).as("iw"),
          round(-p * log(p), 6).cast(dec).as("ent_term"),
          // (30,10), not the entropy terms' (30,8): an 8dp cast would
          // silently re-quantize the 9dp rounding above and make the
          // final round(hhi, 9) vacuous (ADVICE r9) — the same reason
          // text_js_divergence holds its 9dp terms in (30,10)
          round(p * p, 9).cast(DecimalType(30, 10)).as("hhi_term"))
        .groupBy("k", "tot")
        .agg(sum("iw").as("siw"), sum("ent_term").as("se"),
          sum("hhi_term").as("sh"), max("n").as("nmax"))
        .select(col("k").as("n_sources"), col("tot").as("n_docs"),
          (lit(2.0) * col("siw").cast("double") / (col("k") * col("tot")) -
            (col("k") + 1).cast("double") / col("k")).as("gini"),
          round(col("se").cast("double"), 6).as("entropy_nats"),
          round(col("sh").cast("double"), 9).as("hhi"),
          (col("nmax").cast("double") / col("tot")).as("top1_share"))
    }),

    // Curation-card capstone (r10; distinct from Corpus's volume-rollup
    // `dataset_card`): the one-table summary a curation run
    // PUBLISHES — per source: volume (docs, tokens), exact-dup rate,
    // eval-contamination rate (8-gram, train side only), PII incidence,
    // mean classifier z, Gopher-rule keep rate, and language entropy.
    // Every number is the declared operator's own definition re-aggregated
    // per source, so the card can't drift from the pipeline it describes.
    // Scale: one pass over documents computes every per-doc feature
    // map-side (z, PII, rules, text hash) into ONE groupBy(source);
    // language entropy and contamination are |sources|-sized aggregates
    // joined at the end; the eval-gram probe is the decontaminate shape
    // (bounded eval slice broadcast, corpus streams through). No window,
    // no collect, no per-doc join-back.
    // Determinism: rates are IEEE divisions of exact longs; mean_z and
    // entropy follow the round-then-decimal-sum contract (6dp terms in
    // DECIMAL(30,8), one closing IEEE division/round).
    "curation_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the card aggregates the OPERATORS' OWN definitions — classifierZ
      // and gopherRules are the same Column trees curate_classifier /
      // pipeline_curate2 / curate_gopher_rules plan, so the published
      // card cannot drift from the gates it summarizes
      val gKeep = gopherRules.map(_._2).reduce(_ && _)
      val piiAny = TextSim.PiiPatterns.map { case (_, p, _) =>
        regexp_count(col("text"), lit(p)) > 0
      }.reduce(_ || _)
      val base = docs.select(col("source"), col("lang"),
        col("doc_id"), size(toks).cast("long").as("n_tok"),
        round(TextSim.classifierZ, 6).cast(DecimalType(30, 8)).as("z"),
        when(piiAny, 1L).otherwise(0L).as("pii"),
        when(gKeep, 1L).otherwise(0L).as("gk"),
        sha2(col("text"), 256).as("h"))
      val perSource = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        countDistinct(col("h")).as("n_distinct"),
        sum("pii").as("n_pii"), sum("gk").as("n_keep"),
        sum("z").as("sz"),
        // contam_rate's denominator: the rate is TRAIN-side only
        // (doc_id >= 10 in the numerator), so dividing by all docs would
        // understate contamination for any source contributing eval docs
        sum(when(col("doc_id") >= 10, 1L).otherwise(0L)).as("n_train"))
      // entropy denominator REUSES perSource's n_docs instead of a third
      // aggregation over the regex-heavy base projection (r10 review)
      val langEnt = base.groupBy("source", "lang")
        .agg(count(lit(1)).as("c"))
        .join(perSource.select(col("source"), col("n_docs").as("n")),
          "source")
        .select(col("source"),
          round(-(col("c").cast("double") / col("n")) *
            log(col("c").cast("double") / col("n")), 6)
            .cast(DecimalType(30, 8)).as("term"))
        .groupBy("source")
        .agg(round(sum("term").cast("double"), 6).as("lang_entropy"))
      // contamination: train docs (doc_id >= 10) sharing any 8-gram with
      // the eval slice — source rides the shingle rows (carry), so no
      // join back to the fact table
      val evalG = grams(docs.filter(col("doc_id") < 10))
        .select("g").distinct()
      val contam = TextSim.shingleRows(docs.filter(col("doc_id") >= 10),
          EvalGram, carry = Seq("source"))
        .join(broadcast(evalG), Seq("g"))
        .select("doc_id", "source").distinct()
        .groupBy("source").agg(count(lit(1)).as("n_contam"))
      perSource
        .join(langEnt, Seq("source"))
        .join(contam, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          ((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs")).as("dup_rate"),
          // a source whose docs are ALL eval (doc_id < 10) has n_train=0
          // — contamination over zero train docs is 0 by definition, not
          // NULL (the published card must never show a silent NULL rate)
          when(col("n_train") > 0,
            coalesce(col("n_contam"), lit(0L)).cast("double") /
              col("n_train")).otherwise(lit(0.0)).as("contam_rate"),
          (col("n_pii").cast("double") / col("n_docs")).as("pii_rate"),
          (col("n_keep").cast("double") / col("n_docs")).as("keep_rate"),
          round(col("sz").cast("double") / col("n_docs"), 6).as("mean_z"),
          col("lang_entropy"))
        .orderBy("source")
    }),

    // Gopher-style rule battery (r10; Rae et al. 2021 §A1.1 shape): the
    // transparent heuristic gate run BEFORE any learned classifier —
    // word-count bounds, mean-word-length bounds, minimum stopword
    // evidence, and a repetition cap (unique-token ratio — the
    // document-level cousin of text_repetition's n-gram form). Per-rule
    // booleans are emitted alongside the conjunction so a dataset card
    // can report WHICH rule rejected, not just that one did (the reason
    // real pipelines keep rule gates next to classifier gates). Pure
    // map-side projection; thresholds tuned to this corpus's 10–60-token
    // documents, same contract as curate_classifier's weights.
    // Determinism: the two ratio rules compare an IEEE division of
    // identical exact integers (deterministic cross-engine; no FMA
    // surface in a single divide), the rest are integer comparisons.
    "curate_gopher_rules" -> ((s, d) => {
      Tables.documents(s, d).select(col("doc_id") +:
          gopherRules.map { case (n, c) => c.as(n) }: _*)
        .withColumn("keep",
          gopherRules.map { case (n, _) => col(n) }.reduce(_ && _))
        .orderBy("doc_id")
    }),

    // Curation-funnel attrition table (the release-notes companion of
    // curation_card): each declared gate applied in canonical pipeline
    // order — eval holdout → Gopher rules → classifier → near-dup
    // collapse → decontamination — with per-stage in/out/drop counts,
    // drop rate and cumulative keep rate. This is the funnel every data
    // release publishes ("we started with N docs and kept M"), and
    // because each stage reuses the DECLARED gate's own machinery
    // (gopherRules, TextSim.classifierZ, dedup_cc's minhashPairs + CC
    // components, the EvalGram decontamination probe), the funnel
    // cannot drift from the gates it narrates. The dedup stage is
    // NEAR-dup by design: this corpus duplicates by near-copy, never
    // byte-exact (an exact-hash stage is provably zero-drop here), and
    // pipeline_curate2 — the capstone the funnel narrates — collapses
    // near-dup clusters too. ORDER MATTERS and is part of the contract:
    // the collapse keeps the min-doc_id member among docs that SURVIVED
    // the upstream gates (a cluster whose head was gopher-rejected
    // elects a new head), one min-over-component window — bounded by
    // cluster size, never global. A zero-drop stage is not vacuity, it
    // is the funnel's finding: the classifier's marginal attrition
    // after the Gopher gate is exactly what this table exists to
    // reveal (a redundant gate reads as a 0 row). Scale: one map-side
    // feature pass + dedup_cc's CC + the broadcast eval-gram probe
    // (decontaminate's shape) + one 1-row conditional aggregate; the
    // stage table itself is a constant-sized per-row explode of that
    // one row. Determinism: counts are exact longs; rates are single
    // IEEE divisions of identical exact longs; the classifier gate
    // tests round(z,6) >= 0 (curate_classifier's quantize-before-gate
    // contract).
    "curate_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gKeep = gopherRules.map(_._2).reduce(_ && _)
      val sCond = col("tr") && col("gf") && col("cf")
      val evalGrams = grams(docs.filter(col("doc_id") < 10))
        .select(col("g")).distinct()
      val contam = grams(docs.filter(col("doc_id") >= 10))
        .join(broadcast(evalGrams), Seq("g"))
        .select(col("doc_id")).distinct().withColumn("ct", lit(true))
      val comps = Graph.dupClusters(docs, TextSim.minhashPairs(docs))
      val flags = docs
        .select(col("doc_id"), (col("doc_id") >= 10).as("tr"),
          gKeep.as("gf"), (round(TextSim.classifierZ, 6) >= 0).as("cf"))
        .join(comps, Seq("doc_id"))
        .withColumn("f", sCond && col("doc_id") ===
          min(when(sCond, col("doc_id"))).over(Window.partitionBy("comp")))
        .join(contam, Seq("doc_id"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(false)))
      val one = flags.agg(
        count(lit(1)).as("n0"),
        sum(when(col("tr"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("tr") && col("gf"), 1L).otherwise(0L)).as("n2"),
        sum(when(sCond, 1L).otherwise(0L)).as("n3"),
        sum(when(col("f"), 1L).otherwise(0L)).as("n4"),
        sum(when(col("f") && !col("ct"), 1L).otherwise(0L)).as("n5"))
      val stageDefs = Seq(
        (1, "eval_holdout", "n0", "n1"), (2, "gopher_rules", "n1", "n2"),
        (3, "classifier", "n2", "n3"), (4, "near_dup_collapse", "n3", "n4"),
        (5, "decontaminate", "n4", "n5"))
      val stageArr = array(stageDefs.map { case (i, nm, a, b) =>
        struct(lit(i).as("stage_id"), lit(nm).as("stage"),
          col(a).as("n_in"), col(b).as("n_out"))
      }: _*)
      one.select(col("n0"), explode(stageArr).as("st"))
        .select(col("st.stage_id").as("stage_id"),
          col("st.stage").as("stage"),
          col("st.n_in").as("n_in"), col("st.n_out").as("n_out"),
          (col("st.n_in") - col("st.n_out")).as("n_drop"),
          ((col("st.n_in") - col("st.n_out")).cast("double") /
            col("st.n_in")).as("drop_rate"),
          (col("st.n_out").cast("double") / col("n0"))
            .as("cum_keep_rate"))
        .orderBy("stage_id")
    }),

    // Eval-set decontamination: flag corpus docs sharing any 8-gram with
    // the held-out eval docs (doc_id < 10). The eval shingle set is tiny
    // and broadcast; the corpus streams through one inverted-index join.
    "decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evalGrams = grams(docs.filter(col("doc_id") < 10))
        .select(col("g")).distinct()
      grams(docs.filter(col("doc_id") >= 10))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        .orderBy("doc_id")
    }),

    // Decontamination with a Bloom prefilter: at 100 TB the corpus gram
    // stream dwarfs the eval set, so probe a KB-sized Bloom filter (built
    // over eval grams, collected driver-side as a model parameter, embedded
    // as a foldable literal) BEFORE the exact join. Bloom filters have no
    // false negatives, so the prefilter is lossless; false positives die in
    // the exact verify join — the result is identical to `decontaminate`
    // (and shares its oracle), but the join's probe side shrinks from every
    // corpus gram to bloom hits only.
    "decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evalGrams = grams(docs.filter(col("doc_id") < 10))
        .select(col("g")).distinct()
      val bloom = evalGrams
        .agg(graft.functions.BloomFunctions.bloomAgg(col("g"), 1 << 14,
          1 << 18))
        .head().getAs[Array[Byte]](0)
      grams(docs.filter(col("doc_id") >= 10))
        .filter(graft.functions.BloomFunctions.mightContain(bloom, col("g")))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        .orderBy("doc_id")
    }),

    // Capstone: the full curation pipeline a training run actually
    // executes, composed from the library's own operators —
    //   1. quality gate (>= 30 tokens),
    //   2. exact dedup (global first occurrence per text),
    //   3. near-dup collapse (MinHash/LSH candidate graph → connected
    //      components → keep each cluster's representative),
    //   4. eval decontamination (drop docs sharing an 8-gram with the
    //      held-out eval set),
    //   5. deterministic train/val/test split.
    // Output: per (split, lang) survivor counts — the dataset card. Every
    // stage is the same shuffle shape it has standalone; nothing here is
    // more than linear + the CC loop.
    //
    // Exact dedup is a row_number window, NOT min_by-over-groupBy:
    // A/B-measured at sf0.1 (median-of-5, back-to-back) the window wins
    // 5.6s vs 6.5s for the whole capstone — with mostly-unique texts the
    // aggregate's map-side combine saves almost nothing, while its
    // two-phase hash map pays full-text key hashing twice; the window
    // shuffles once and does one partition-local sort. The window
    // partitions on (h60(text), text): same groups as raw text, but
    // exchange comparisons are 8-byte hashes in the common case. Both
    // formulations scale linearly.
    "pipeline_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = Window.partitionBy(h60(col("text")), col("text"))
        .orderBy("doc_id")
      // read by both edge semi joins, the clusters and the keeper join
      val exact = reuse(docs.filter(size(toks) >= 30)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn"))
      // r13 — restriction identity: MinHash signatures are per-doc
      // deterministic (sigTable has no corpus-dependent df filtering), so
      // candidate pairs over any SUBSET of the corpus are exactly the
      // corpus-wide edge store restricted to pairs with both endpoints
      // surviving. Two semi joins against the kept-id set replace a full
      // re-shingle + re-sign + re-band of the filtered corpus — at 100 TB
      // the difference between REUSING the curation index and rebuilding
      // it mid-pipeline. The oracle keeps deriving pairs from the filtered
      // set in SQL; the identity makes the two spellings value-equal.
      val exactIds = exact.select(col("doc_id"))
      val edges = TextSim.minhashEdges(s, d)
        .join(exactIds.withColumnRenamed("doc_id", "ia"), Seq("ia"),
          "left_semi")
        .join(exactIds.withColumnRenamed("doc_id", "ib"), Seq("ib"),
          "left_semi")
      val kept = exact.join(Graph.dupClusters(exact, edges), "doc_id")
        .filter(col("doc_id") === col("comp"))
      // read by the decontamination grams and the anti join
      val train = reuse(kept.filter(col("doc_id") >= 10))
      val evalG = grams(docs.filter(col("doc_id") < 10))
        .select("g").distinct()
      val contam = grams(train)
        .join(broadcast(evalG), Seq("g"))
        .select("doc_id").distinct()
      train.join(contam, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), splitCol.as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
        .orderBy("split", "lang")
    }),

    // Sliding-window chunking (32-token windows, stride 24): the training
    // prep / RAG shape. A token at 0-based pos p lands in chunks
    // [max(0, ceil((p-31)/24)), floor(p/24)] — both bounds in integer
    // arithmetic that agrees across engines (the max(0,·) guard absorbs
    // the trunc-vs-floor difference on negative division).
    "text_chunk" -> ((s, d) => {
      val tr = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos"), col("tok"),
          greatest(lit(0),
            expr(s"(pos - ${ChunkLen - 1} + ${Stride - 1}) div $Stride"))
            .as("cmin"),
          expr(s"pos div $Stride").as("cmax"))
      tr.select(col("doc_id"), col("pos"), col("tok"),
          explode(sequence(col("cmin"), col("cmax"))).as("chunk"))
        .groupBy("doc_id", "chunk")
        .agg(count(lit(1)).as("n_tok"),
          collect_list(struct(col("pos"), col("tok"))).as("raw"))
        .select(col("doc_id"), col("chunk"), col("n_tok"),
          substring(sha2(concat_ws(" ",
            transform(array_sort(col("raw")), x => x.getField("tok"))),
            256), 1, 16).as("chunk_hash"))
        .orderBy("doc_id", "chunk")
    }),

    // Sequence packing: concatenate documents in a deterministic order and
    // cut the stream into fixed token-budget training sequences — the
    // "concat-then-chunk" packing every LLM data loader runs before
    // training. A doc lands in the sequence where its first token falls
    // (seq = floor(tokens_before / budget)), so sequences can overhang the
    // budget by at most one partial doc — the standard no-doc-splitting
    // trade. Packing is SHARDED by a content-stable hash: each shard packs
    // its own substream with one partition-local cumsum, so there is no
    // global window — at 100 TB, shard count (here 8, in production
    // ~4×cores) is the parallelism knob, and any contiguous order is as
    // good as any other because document order is arbitrary by design.
    // Output: the packing manifest (per-sequence doc count, token load,
    // doc-id range) a loader would mmap.
    "pack_sequences" -> ((s, d) => packManifest(s, d).orderBy("shard", "seq")),

    // Packing-efficiency report (r10): the padding-waste metric a trainer
    // tracks per data release — per shard: sequence/doc/token counts,
    // fill rate vs the budgeted capacity (n_seqs × budget), the largest
    // overhang, and how many sequences overflow the budget (the
    // no-doc-splitting trade pack_sequences documents). Re-aggregates the
    // SAME manifest pack_sequences emits (shared [[packManifest]]), so
    // the report can't drift from the layout it describes. Fill rate is
    // one IEEE division of exact longs; everything else is integer.
    "pack_efficiency" -> ((s, d) =>
      packManifest(s, d)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_seqs"), sum("n_docs").as("n_docs"),
          sum("seq_tok").as("n_tokens"), max("seq_tok").as("max_seq_tok"),
          sum(when(col("seq_tok") > PackBudget, 1L).otherwise(0L))
            .as("n_overflow"))
        .select(col("shard"), col("n_seqs"), col("n_docs"), col("n_tokens"),
          (col("n_tokens").cast("double") /
            (col("n_seqs") * PackBudget)).as("fill_rate"),
          col("max_seq_tok"), col("n_overflow"))
        .orderBy("shard")),

    // Length-bucketed dynamic-batching waste (L104): the OTHER padding
    // strategy next to pack_sequences' concat-and-chunk — group docs into
    // power-of-two length buckets (the fairseq/HF group_by_length
    // recipe), fill fixed batches of 8 in (len, doc_id) order within each
    // (bucket, shard), pad every batch member to the batch max. Per
    // bucket: doc/batch/token counts, padded slots, waste ratio — the
    // report that decides bucket boundaries for a training run.
    // Everything is integer until the ONE waste division. Scale: the
    // batching window partitions by (bucket, shard) — shard = doc_id % 4
    // here, the per-shard batch construction a real loader does anyway —
    // so no window partition grows with the corpus share of one bucket
    // (a bucket-only window would concentrate whole-corpus skew on ≤5
    // keys at 100 TB).
    "batch_padding_report" -> ((s, d) => {
      val len = size(toks).cast("long")
      val bucket = when(len <= 16, 16L).when(len <= 32, 32L)
        .when(len <= 64, 64L).when(len <= 128, 128L).otherwise(100000L)
      val rows = Tables.documents(s, d)
        .select(col("doc_id"), len.as("len"), bucket.as("bucket"),
          pmod(col("doc_id"), lit(4)).as("shard"))
      val perBatch = rows
        .withColumn("rn", row_number().over(Window
          .partitionBy("bucket", "shard")
          .orderBy(asc("len"), asc("doc_id"))))
        .withColumn("batch", expr("(rn - 1) div 8"))
        .groupBy("bucket", "shard", "batch")
        .agg(count(lit(1)).as("nb"), max("len").as("mx"),
          sum("len").as("sm"))
      perBatch.groupBy("bucket")
        .agg(sum("nb").as("n_docs"), count(lit(1)).as("n_batches"),
          sum("sm").as("total_tokens"),
          sum(col("nb") * col("mx")).as("padded_tokens"))
        .select(col("bucket"), col("n_docs"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          round(lit(1.0) - col("total_tokens").cast("double") /
            col("padded_tokens"), 6).as("waste_ratio"))
        .orderBy("bucket")
    }),

    // L54 — snapshot diff: the audit a corpus release runs between two
    // curated versions — which docs were added, removed, changed, kept.
    // Snapshots are derived deterministically from the one documents
    // table (old = doc_id % 7 ≠ 0; new = doc_id % 5 ≠ 0, with every
    // 11th doc's text revised) so the oracle sees identical inputs.
    // Scale shape: both sides reduce to (doc_id, 60-bit content hash)
    // BEFORE the full-outer join — the shuffle carries 16 bytes/doc, not
    // document text, and the join is hash-partitioned on doc_id, linear.
    // This is the read-side complement of merge_upsert (CDC write path)
    // and dedup_incremental (cross-snapshot near-dup).
    "corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), h60(col("text")).as("h_old"))
      val nw = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          h60(when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h_new"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))
        .orderBy("status")
    }),

    // L57 — DSIR importance weights (Xie et al., "Data Selection for
    // Language Models via Importance Resampling", arXiv:2302.03169):
    // score every raw document by how target-like its hashed n-gram
    // features are, so a later resample can shift the corpus mixture
    // toward the target domain. Features are hashed unigram BUCKETS
    // (h60 mod 1024 — the paper's hashed feature space, which bounds the
    // model at 1024 cells regardless of vocabulary size); the target
    // distribution is the English slice (the high-quality-proxy stand-in,
    // as in text_lm_score), the raw distribution is the whole corpus.
    // log w(doc) = Σ_tokens [ln p̂_tgt(b(tok)) − ln p̂_raw(b(tok))], both
    // add-one smoothed over the 1024 buckets.
    // Float contract: each bucket's log-likelihood ratio quantizes to a
    // 6dp decimal ON THE 1024-ROW LUT (the text_lm_score rule: identical
    // IEEE-division inputs, a last-ulp ln() divergence cannot move a
    // round-6 value off its quantum), so each doc's log weight is an
    // exact partition-order-independent decimal sum.
    // Scale: ONE instance aggregate builds BOTH bucket distributions
    // (the target slice is a conditional sum, not a second scan); the
    // LUT and its totals row are model parameters (1024 + 1 rows,
    // broadcast); scoring is a broadcast equi join + linear per-doc agg.
    // At 100 TB the resample step itself reuses sample_weighted's
    // two-phase per-source top-k with log_w as the weight.
    "curate_dsir" -> ((s, d) => {
      val inst = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
        .withColumn("b", pmod(h60(col("tok")), lit(1024L)))
      val buckets = inst.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tc"),
        count(lit(1)).as("rc"))
      val scal = buckets.agg(sum("tc").as("tn"), sum("rc").as("rn"))
      val lut = buckets.crossJoin(broadcast(scal))
        .select(col("b"),
          round(log((col("tc") + 1).cast("double") /
                (col("tn") + 1024).cast("double")) -
              log((col("rc") + 1).cast("double") /
                (col("rn") + 1024).cast("double")), 6)
            .cast(DecimalType(30, 8)).as("lr"))
      inst.join(broadcast(lut), Seq("b"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("lr").as("slr"))
        // no re-round here: the decimal sum is EXACT (6dp terms), and a
        // round(…,4) would land on .xxxx5 midpoints whenever the sum's
        // 5th–6th decimals read "50" — the one case HALF_UP (Spark) and
        // binary-double rounding (DuckDB) disagree on. cast-to-double of
        // the same decimal is IEEE-correctly-rounded in both engines.
        .select(col("doc_id"), col("n_tok"),
          col("slr").cast("double").as("log_w"))
        .orderBy("doc_id")
    })
  )

  private lazy val dDecontaminate: String =
    s"""WITH g AS (SELECT doc_id, unnest(${TextSim.dShingles(EvalGram)}) AS g
      |  FROM documents),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id < 10)
      |SELECT g.doc_id, count(*) AS n_hit
      |FROM g JOIN ev USING (g) WHERE g.doc_id >= 10
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** DuckDB mirror of [[packManifest]]: one (shard, seq, n_docs,
    * seq_tok, first_doc, last_doc) row per packed sequence. */
  private lazy val dPackManifest: String =
    s"""WITH t AS (SELECT doc_id,
       |  CAST(len($dToks) AS BIGINT) AS n_tok,
       |  ${dH60("'pck' || CAST(doc_id AS VARCHAR)")} % $PackShards AS shard
       |  FROM documents),
       |c AS (SELECT doc_id, n_tok, shard,
       |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS cum0
       |  FROM t)
       |SELECT shard, cum0 // $PackBudget AS seq, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS seq_tok,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2""".stripMargin

  /** DuckDB mirror of round(TextSim.classifierZ, 6) over the token list
    * expression `t` and the raw `text` column (the classifier contract:
    * quantize at 6dp BEFORE any gate). */
  private def dZRound6(t: String): String =
    s"round(${TextSim.dClassifierZ(t)}, 6)"

  /** DuckDB mirror of gopherRules' conjunction over the same `t`/`text`
    * context (the card oracle's gk CASE, factored for curate_funnel). */
  private lazy val dGopherKeep: String = {
    s"""(len(t) >= 10 AND len(t) <= 1000) AND
       |      (CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
       |        / len(t) >= 3.0 AND
       |       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
       |        / len(t) <= 10.0) AND
       |      (len(list_filter(t, x -> list_contains($dStopwords, x))) >= 2) AND
       |      (round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
       |        >= 0.5)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // The funnel mirror replays each gate from the SAME factored
    // fragments (dZRound6 / dGopherKeep), the prior-survivor window and
    // the dDecontaminate gram probe; stage rows close as a UNION ALL
    // over the one aggregated row.
    "curate_funnel" -> {
      val stages = Seq(
        (1, "eval_holdout", "n0", "n1"), (2, "gopher_rules", "n1", "n2"),
        (3, "classifier", "n2", "n3"), (4, "near_dup_collapse", "n3", "n4"),
        (5, "decontaminate", "n4", "n5"))
      val stageSelects = stages.map { case (i, nm, a, b) =>
        s"""SELECT $i AS stage_id, '$nm' AS stage, $a AS n_in, $b AS n_out,
           |  $a - $b AS n_drop,
           |  CAST($a - $b AS DOUBLE) / $a AS drop_rate,
           |  CAST($b AS DOUBLE) / n0 AS cum_keep_rate FROM one""".stripMargin
      }.mkString("\n|UNION ALL\n|")
      s"""WITH RECURSIVE
        |${Graph.dDupClusters("documents")},
        |tk AS (SELECT doc_id, text, $dToks AS t FROM documents),
        |f0 AS (SELECT tk.doc_id, tk.doc_id >= 10 AS tr,
        |    ($dGopherKeep) AS gf,
        |    ${dZRound6("t")} >= 0 AS cf,
        |    comp
        |  FROM tk JOIN lab ON tk.doc_id = lab.doc_id),
        |f1 AS (SELECT doc_id, tr, gf, cf,
        |    tr AND gf AND cf AND doc_id = MIN(
        |      CASE WHEN tr AND gf AND cf THEN doc_id END) OVER (
        |        PARTITION BY comp) AS f
        |  FROM f0),
        |gm AS (SELECT doc_id, unnest(${TextSim.dShingles(EvalGram)}) AS gr
        |  FROM documents),
        |ev AS (SELECT DISTINCT gr FROM gm WHERE doc_id < 10),
        |ctd AS (SELECT DISTINCT gm.doc_id FROM gm JOIN ev USING (gr)
        |  WHERE gm.doc_id >= 10),
        |fl AS (SELECT f1.*, ctd.doc_id IS NOT NULL AS ct
        |  FROM f1 LEFT JOIN ctd ON f1.doc_id = ctd.doc_id),
        |one AS (SELECT count(*) AS n0,
        |    CAST(SUM(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN tr AND gf THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n2,
        |    CAST(SUM(CASE WHEN tr AND gf AND cf THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        |    CAST(SUM(CASE WHEN f AND NOT ct THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n5
        |  FROM fl)
        |$stageSelects
        |ORDER BY stage_id""".stripMargin
    },
    "curation_card" -> {
      val piiAny = TextSim.PiiPatterns.map { case (_, p, _) =>
        s"len(regexp_extract_all(text, '$p')) > 0"
      }.mkString(" OR ")
      s"""WITH tk AS (SELECT doc_id, source, lang, text, $dToks AS t
        |  FROM documents),
        |base AS (SELECT doc_id, source, lang,
        |    CAST(len(t) AS BIGINT) AS n_tok,
        |    CAST(${dZRound6("t")} AS DECIMAL(30,8)) AS z,
        |    CASE WHEN $piiAny THEN 1 ELSE 0 END AS pii,
        |    CASE WHEN $dGopherKeep THEN 1 ELSE 0 END AS gk,
        |    sha256(text) AS h
        |  FROM tk),
        |ps AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    count(DISTINCT h) AS n_distinct,
        |    CAST(sum(pii) AS BIGINT) AS n_pii,
        |    CAST(sum(gk) AS BIGINT) AS n_keep, sum(z) AS sz,
        |    CAST(sum(CASE WHEN doc_id >= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train
        |  FROM base GROUP BY 1),
        |lc AS (SELECT source, lang, count(*) AS c FROM base GROUP BY 1, 2),
        |tot AS (SELECT source, count(*) AS n FROM base GROUP BY 1),
        |le AS (SELECT source,
        |    round(CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n) *
        |      ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(30,8))) AS DOUBLE),
        |      6) AS lang_entropy
        |  FROM lc JOIN tot USING (source) GROUP BY 1),
        |ev AS (SELECT DISTINCT unnest(${TextSim.dShingles(EvalGram)}) AS g
        |  FROM documents WHERE doc_id < 10),
        |tg AS (SELECT doc_id, source,
        |    unnest(${TextSim.dShingles(EvalGram)}) AS g
        |  FROM documents WHERE doc_id >= 10),
        |cd AS (SELECT DISTINCT doc_id, source FROM tg
        |  WHERE g IN (SELECT g FROM ev)),
        |ct AS (SELECT source, count(*) AS n_contam FROM cd GROUP BY 1)
        |SELECT ps.source, n_docs, n_tokens,
        |  CAST(n_docs - n_distinct AS DOUBLE) / n_docs AS dup_rate,
        |  CASE WHEN n_train > 0
        |    THEN CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_train
        |    ELSE 0.0 END AS contam_rate,
        |  CAST(n_pii AS DOUBLE) / n_docs AS pii_rate,
        |  CAST(n_keep AS DOUBLE) / n_docs AS keep_rate,
        |  round(CAST(sz AS DOUBLE) / n_docs, 6) AS mean_z,
        |  lang_entropy
        |FROM ps JOIN le USING (source) LEFT JOIN ct USING (source)
        |ORDER BY source""".stripMargin
    },
    "curate_gopher_rules" -> {
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents)
        |SELECT doc_id,
        |  len(tk) >= 10 AND len(tk) <= 1000 AS r_len,
        |  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / len(tk) >= 3.0 AND
        |  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / len(tk) <= 10.0 AS r_word_len,
        |  len(list_filter(tk, x -> list_contains($dStopwords, x))) >= 2 AS r_stop,
        |  round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
        |    >= 0.5 AS r_unique,
        |  (len(tk) >= 10 AND len(tk) <= 1000) AND
        |  (CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / len(tk) >= 3.0 AND
        |   CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |    / len(tk) <= 10.0) AND
        |  (len(list_filter(tk, x -> list_contains($dStopwords, x))) >= 2) AND
        |  (round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
        |    >= 0.5) AS keep
        |FROM t ORDER BY doc_id""".stripMargin
    },
    "sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE ${dH60("'smp' || CAST(doc_id AS VARCHAR)")} % 1000 <
        |  CASE WHEN lang = 'es' THEN 500
        |       WHEN lang = 'zh' THEN 300 ELSE 800 END
        |ORDER BY doc_id""".stripMargin,
    "split_train" ->
      s"""WITH s AS (SELECT doc_id,
        |  CASE WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 90
        |         THEN 'train'
        |       WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // Same hash-order first/last via the window spelling; bit_xor is the
    // identical order-free checksum in both engines.
    "shard_manifest" ->
      s"""WITH s AS (SELECT doc_id,
        |    ${dH60("'shard' || CAST(doc_id AS VARCHAR)")} AS hk
        |  FROM documents),
        |r AS (SELECT *, CAST(hk % 8 AS INT) AS shard,
        |  row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS rf,
        |  row_number() OVER (PARTITION BY hk % 8
        |    ORDER BY hk DESC, doc_id DESC) AS rl
        |  FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  max(CASE WHEN rf = 1 THEN doc_id END) AS first_doc,
        |  max(CASE WHEN rl = 1 THEN doc_id END) AS last_doc,
        |  bit_xor(hk) AS checksum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "sample_quota" ->
      s"""WITH r AS (SELECT lang, doc_id, row_number() OVER
        |    (PARTITION BY lang ORDER BY
        |      ${dH60("'quota' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        |  FROM documents)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin,
    "sample_weighted" ->
      s"""WITH b AS (SELECT source, doc_id,
        |    least(round(ln((CAST(${dH60("'wsm' || CAST(doc_id AS VARCHAR)")}
        |        % 1000000 AS DOUBLE) + 1.0) / 1000002.0)
        |      / CAST(n_chars AS DOUBLE), 9), -0.000000001) AS es_key
        |  FROM documents),
        |r AS (SELECT source, doc_id, es_key, row_number() OVER
        |    (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
        |  FROM b)
        |SELECT source, rn, doc_id, es_key FROM r WHERE rn <= 3
        |ORDER BY source, rn""".stripMargin,
    "mix_resample" ->
      s"""WITH st AS (SELECT source, count(*) AS n_orig FROM documents
        |  GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM documents),
        |r AS (SELECT source, n_orig,
        |  least(1.0, CAST(total AS DOUBLE) / 20.0 / n_orig) AS rate
        |  FROM st, t)
        |SELECT d.source, n_orig, count(*) AS n_kept
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(${dH60("'mix' || CAST(doc_id AS VARCHAR)")} % 10000
        |    AS DOUBLE) < rate * 10000.0
        |GROUP BY d.source, n_orig ORDER BY d.source""".stripMargin,
    // Per-T normalizers replayed from the same decimal-sum contract;
    // the T grid unnests inline, powers stay sqrt chains.
    "mix_temperature_sweep" ->
      """WITH st AS (SELECT lang, count(*) AS n_orig FROM documents
        |  GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM documents),
        |p AS (SELECT lang, n_orig, total,
        |    CAST(n_orig AS DOUBLE) / total AS p
        |  FROM st, t),
        |e AS (SELECT *, unnest([1, 2, 4]) AS temperature FROM p),
        |q AS (SELECT *, CASE WHEN temperature = 1 THEN p
        |    WHEN temperature = 2 THEN sqrt(p)
        |    ELSE sqrt(sqrt(p)) END AS sq FROM e),
        |z AS (SELECT *, CAST(SUM(CAST(sq AS DECIMAL(30,8))) OVER (
        |    PARTITION BY temperature) AS DOUBLE) AS z FROM q)
        |SELECT temperature, lang, n_orig, round(p, 6) AS p,
        |  round(sq / z, 6) AS w_t,
        |  CAST(floor(sq / z * total + 0.5) AS BIGINT) AS n_target,
        |  round(sq / z * total / n_orig, 6) AS epochs
        |FROM z ORDER BY temperature, lang""".stripMargin,
    "split_leakage" -> {
      s"""WITH ds AS (SELECT doc_id, text, $dSplitCase AS split
        |  FROM documents),
        |th AS (SELECT DISTINCT sha256(text) AS h FROM ds
        |  WHERE split = 'train'),
        |tgm AS (SELECT doc_id, unnest(${TextSim.dShingles(EvalGram)}) AS gr
        |  FROM ds WHERE split = 'train'),
        |tg AS (SELECT DISTINCT gr FROM tgm),
        |hold AS (SELECT split, doc_id, sha256(text) AS h, text FROM ds
        |  WHERE split <> 'train'),
        |el AS (SELECT split, count(*) AS n_exact FROM hold
        |  WHERE h IN (SELECT h FROM th) GROUP BY 1),
        |hg AS (SELECT split, doc_id, unnest(${TextSim.dShingles(EvalGram)})
        |    AS gr FROM hold),
        |gl AS (SELECT split, count(DISTINCT doc_id) AS n_gram FROM hg
        |  WHERE gr IN (SELECT gr FROM tg) GROUP BY 1),
        |ns AS (SELECT split, count(*) AS n_docs FROM hold GROUP BY 1)
        |SELECT ns.split, n_docs,
        |  CAST(COALESCE(n_exact, 0) AS BIGINT) AS n_exact_leak,
        |  CAST(COALESCE(n_exact, 0) AS DOUBLE) / n_docs
        |    AS exact_leak_rate,
        |  CAST(COALESCE(n_gram, 0) AS BIGINT) AS n_gram_leak,
        |  CAST(COALESCE(n_gram, 0) AS DOUBLE) / n_docs AS gram_leak_rate
        |FROM ns LEFT JOIN el ON ns.split = el.split
        |LEFT JOIN gl ON ns.split = gl.split
        |ORDER BY ns.split""".stripMargin
    },
    "mix_temperature" ->
      """WITH st AS (SELECT source, count(*) AS n_orig FROM documents
        |  GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM documents),
        |p AS (SELECT source, n_orig, total,
        |    CAST(n_orig AS DOUBLE) / total AS p,
        |    sqrt(CAST(n_orig AS DOUBLE) / total) AS sq
        |  FROM st, t),
        |z AS (SELECT *, CAST(SUM(CAST(sq AS DECIMAL(30,8))) OVER ()
        |    AS DOUBLE) AS z FROM p)
        |SELECT source, n_orig, round(p, 6) AS p,
        |  round(sq / z, 6) AS w_t2,
        |  CAST(floor(sq / z * total + 0.5) AS BIGINT) AS n_target
        |FROM z ORDER BY source""".stripMargin,
    "pipeline_curate2" -> {
      s"""WITH RECURSIVE
        |f AS (SELECT doc_id, text, source,
        |    ${dZRound6(dToks)} AS z
        |  FROM documents),
        |g1 AS (SELECT * FROM f WHERE z >= 0),
        |x AS (SELECT *, row_number() OVER
        |  (PARTITION BY text ORDER BY doc_id) AS rn FROM g1),
        |ex AS (SELECT doc_id, text, source, z FROM x WHERE rn = 1),
        |${Graph.dDupClusters("ex")},
        |sc AS (SELECT e.*, lab.comp FROM ex e JOIN lab USING (doc_id)),
        |rk AS (SELECT *, row_number() OVER
        |  (PARTITION BY comp ORDER BY z DESC, doc_id) AS krn FROM sc),
        |kept AS (SELECT doc_id, source, text FROM rk WHERE krn = 1),
        |st AS (SELECT source,
        |    CAST(sum(len($dToks)) AS BIGINT) AS n_tokens FROM kept
        |  GROUP BY 1),
        |b AS (SELECT source,
        |    CAST(floor(CAST(min(n_tokens) OVER () AS DOUBLE) / n_tokens
        |      * 1000000) AS BIGINT) AS thr
        |  FROM st),
        |mixed AS (SELECT k.* FROM kept k JOIN b USING (source)
        |  WHERE ${dH60("'mix2' || CAST(doc_id AS VARCHAR)")} % 1000000
        |    < thr),
        |spl AS (SELECT doc_id, source,
        |    CAST(len($dToks) AS BIGINT) AS n_tok, $dSplitCase AS split
        |  FROM mixed)
        |SELECT source, split, count(*) AS n,
        |  CAST(sum(n_tok) AS BIGINT) AS tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM spl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "mix_token_budget" ->
      s"""WITH st AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len($dToks)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |b AS (SELECT *, min(n_tokens) OVER () AS budget FROM st)
        |SELECT source, n_docs, n_tokens,
        |  CAST(budget AS DOUBLE) / n_tokens AS keep_frac,
        |  CAST(floor(CAST(budget AS DOUBLE) / n_tokens * n_docs + 0.5)
        |    AS BIGINT) AS est_docs
        |FROM b ORDER BY source""".stripMargin,
    // Same exact-long token stats; every ratio the identical compound
    // IEEE division (total / n_lang [/ n_tokens]) both engines evaluate
    // left-to-right on the same exact integers. The over4 multiplier is
    // spelled 4e0 — DuckDB parses `4.0` as DECIMAL and would run the
    // comparison in decimal arithmetic, silently breaking the IEEE
    // contract (the MmrLambda lesson, decimal-literal flavor).
    "mix_epochs" ->
      s"""WITH st AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len($dToks)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |b AS (SELECT *, CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
        |    count(*) OVER () AS n_lang FROM st)
        |SELECT lang, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / total, 6) AS tok_share,
        |  CAST(floor(CAST(total AS DOUBLE) / n_lang + 0.5) AS BIGINT)
        |    AS alloc_tokens,
        |  round(CAST(total AS DOUBLE) / n_lang / n_tokens, 6) AS epochs,
        |  CAST(CAST(total AS DOUBLE) / n_lang > n_tokens AS INT)
        |    AS repeated,
        |  CAST(CAST(total AS DOUBLE) / n_lang > 4e0 * n_tokens AS INT)
        |    AS over4
        |FROM b ORDER BY lang""".stripMargin,
    "sample_balanced" ->
      s"""WITH n AS (SELECT label, count(*) AS n FROM embeddings
        |  GROUP BY 1),
        |m AS (SELECT min(n) AS m FROM n),
        |r AS (SELECT vec_id, label,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY ${dH60("'bal' || CAST(vec_id AS VARCHAR)")}, vec_id)
        |      AS rn
        |  FROM embeddings)
        |SELECT vec_id, label, CAST(rn AS BIGINT) AS rn
        |FROM r, m WHERE rn <= m ORDER BY label, rn""".stripMargin,
    "mix_concentration" ->
      """WITH src AS (SELECT source, count(*) AS n FROM documents
        |  GROUP BY 1),
        |r AS (SELECT source, n,
        |    row_number() OVER (ORDER BY n, source) AS i,
        |    CAST(count(*) OVER () AS BIGINT) AS k,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot
        |  FROM src),
        |t AS (SELECT k, tot, n,
        |    CAST(i AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0)) AS iw,
        |    CAST(round(-(CAST(n AS DOUBLE) / tot) *
        |      ln(CAST(n AS DOUBLE) / tot), 6) AS DECIMAL(30,8)) AS ent_term,
        |    CAST(round((CAST(n AS DOUBLE) / tot) *
        |      (CAST(n AS DOUBLE) / tot), 9) AS DECIMAL(30,10)) AS hhi_term
        |  FROM r)
        |SELECT k AS n_sources, tot AS n_docs,
        |  2.0 * CAST(sum(iw) AS DOUBLE) / (k * tot) -
        |    CAST(k + 1 AS DOUBLE) / k AS gini,
        |  round(CAST(sum(ent_term) AS DOUBLE), 6) AS entropy_nats,
        |  round(CAST(sum(hhi_term) AS DOUBLE), 9) AS hhi,
        |  CAST(max(n) AS DOUBLE) / tot AS top1_share
        |FROM t GROUP BY k, tot""".stripMargin,
    "decontaminate" -> dDecontaminate,
    // The Bloom prefilter is invisible to the oracle: no false negatives
    // means the exact-verified result is identical to plain decontaminate.
    "decontaminate_bloom" -> dDecontaminate,
    "pipeline_curate" ->
      s"""WITH RECURSIVE
        |q AS (SELECT doc_id, text, lang FROM documents
        |  WHERE len($dToks) >= 30),
        |x AS (SELECT *, row_number() OVER
        |  (PARTITION BY text ORDER BY doc_id) AS rn FROM q),
        |ex AS (SELECT doc_id, text, lang FROM x WHERE rn = 1),
        |${Graph.dDupClusters("ex")},
        |kept AS (SELECT e.* FROM ex e JOIN lab USING (doc_id)
        |  WHERE doc_id = comp),
        |train AS (SELECT * FROM kept WHERE doc_id >= 10),
        |evg AS (SELECT DISTINCT g FROM (SELECT
        |    unnest(${TextSim.dShingles(EvalGram)}) AS g
        |  FROM documents WHERE doc_id < 10)),
        |trg AS (SELECT doc_id, unnest(${TextSim.dShingles(EvalGram)}) AS g
        |  FROM train),
        |contam AS (SELECT DISTINCT t.doc_id FROM trg t JOIN evg USING (g)),
        |spl AS (SELECT doc_id, lang,
        |  CASE WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 90
        |         THEN 'train'
        |       WHEN ${dH60("'spl' || CAST(doc_id AS VARCHAR)")} % 100 < 95
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT split, lang, count(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM spl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_chunk" ->
      s"""WITH t AS ($dTokRows),
        |b AS (SELECT doc_id, pos - 1 AS p, tok,
        |  greatest(0, (pos - 1 - ${ChunkLen - 1} + ${Stride - 1})
        |    // $Stride) AS cmin,
        |  (pos - 1) // $Stride AS cmax FROM t),
        |c AS (SELECT doc_id, p, tok,
        |  unnest(generate_series(cmin, cmax)) AS chunk FROM b)
        |SELECT doc_id, chunk, count(*) AS n_tok,
        |  substr(sha256(string_agg(tok, ' ' ORDER BY p)), 1, 16)
        |    AS chunk_hash
        |FROM c GROUP BY doc_id, chunk ORDER BY doc_id, chunk""".stripMargin,
    "pack_sequences" -> s"$dPackManifest\nORDER BY 1, 2",
    "pack_efficiency" ->
      s"""WITH m AS ($dPackManifest)
        |SELECT shard, count(*) AS n_seqs,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(seq_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(seq_tok) AS DOUBLE) / (count(*) * $PackBudget)
        |    AS fill_rate,
        |  max(seq_tok) AS max_seq_tok,
        |  CAST(sum(CASE WHEN seq_tok > $PackBudget THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overflow
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "batch_padding_report" ->
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len($dToks) AS BIGINT) AS len FROM documents),
        |b AS (SELECT doc_id, len,
        |    CAST(CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
        |      WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
        |      ELSE 100000 END AS BIGINT) AS bucket,
        |    doc_id % 4 AS shard
        |  FROM t),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket, shard
        |    ORDER BY len, doc_id) AS rn FROM b),
        |pb AS (SELECT bucket, shard, (rn - 1) // 8 AS batch,
        |    count(*) AS nb, max(len) AS mx,
        |    CAST(sum(len) AS BIGINT) AS sm
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT bucket, CAST(sum(nb) AS BIGINT) AS n_docs,
        |  count(*) AS n_batches,
        |  CAST(sum(sm) AS BIGINT) AS total_tokens,
        |  CAST(sum(nb * mx) AS BIGINT) AS padded_tokens,
        |  round(1.0 - CAST(sum(sm) AS DOUBLE) / sum(nb * mx), 6)
        |    AS waste_ratio
        |FROM pb GROUP BY 1 ORDER BY 1""".stripMargin,
    "corpus_diff" ->
      s"""WITH old AS (SELECT doc_id, ${dH60("text")} AS h_old
        |  FROM documents WHERE doc_id % 7 <> 0),
        |nw AS (SELECT doc_id, ${dH60(
             "CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END")}
        |    AS h_new
        |  FROM documents WHERE doc_id % 5 <> 0),
        |cls AS (SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
        |    CASE WHEN old.doc_id IS NULL THEN 'added'
        |         WHEN nw.doc_id IS NULL THEN 'removed'
        |         WHEN h_old <> h_new THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id)
        |SELECT status, count(*) AS n, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM cls GROUP BY status ORDER BY status""".stripMargin,
    "curate_dsir" ->
      s"""WITH inst AS (
        |  SELECT doc_id, lang, ${dH60("tok")} % 1024 AS b
        |  FROM (SELECT doc_id, lang, unnest($dToks) AS tok
        |        FROM documents)),
        |bk AS (SELECT b,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
        |    COUNT(*) AS rc
        |  FROM inst GROUP BY b),
        |sc AS (SELECT SUM(tc) AS tn, SUM(rc) AS rn FROM bk),
        |lut AS (SELECT b,
        |    CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(tn + 1024 AS DOUBLE))
        |      - ln(CAST(rc + 1 AS DOUBLE) / CAST(rn + 1024 AS DOUBLE)), 6)
        |      AS DECIMAL(30,8)) AS lr
        |  FROM bk, sc)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(lr) AS DOUBLE) AS log_w
        |FROM inst JOIN lut USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
