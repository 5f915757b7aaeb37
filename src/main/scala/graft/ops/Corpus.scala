package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Corpus-preparation operators a large-scale training-data pipeline runs
  * over raw documents — repetition/quality signals, span-level dedup,
  * PII redaction, normalization, and vocabulary statistics. These extend
  * the reference's text processing (it stops at per-day CSV consolidation;
  * see `dags/daily_csv_pipeline.py`) with the C4/Gopher-style corpus
  * filters the brief names as first-class scale components.
  *
  * Scale notes (100 TB):
  *  - Every query is explode → flat codegen projection → shuffle agg; no
  *    higher-order lambdas in hot paths (nested HOFs re-inline outer
  *    expressions after ProjectCollapse and fall out of codegen — measured
  *    in round 2, see TextSim's shingleRows note).
  *  - `dedup_span` is the C4 paragraph-dedup shape: global first-occurrence
  *    wins on span hash. The span table shuffles on the span text hash —
  *    uniform keys, linear; reassembly shuffles on doc_id. Nothing is
  *    quadratic.
  *  - `text_vocab` aggregates to vocabulary cardinality (≪ corpus) with
  *    map-side combine, then ranks only the top-k rows AFTER a
  *    TakeOrderedAndProject — the global window never sees the full vocab.
  */
object Corpus {

  private val SpanLen = 16

  /** Reference-vocabulary size for text_oov_rate. Deliberately SMALL
    * relative to the corpus's token inventory (the synthetic generator
    * draws all languages from one shared ~31-token pool, differing only
    * in distribution — language signal lives in frequencies, not
    * inventory), so coverage is distribution-sensitive: a top-16
    * English-frequency vocab covers English running text best and every
    * other language measurably worse. At 100 TB this is the 30–50k BPE
    * vocab against a ~10⁶-type corpus — same ratio logic, same plan. */
  private val VocabTopK = 16

  /** (doc_id, pos, tok) rows — 0-based pos. */
  private def tokenRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "tok")))

  /** BM25 per-term scores (doc_id, sc) against the doc-0 probe, each
    * rounded to 6 before any sum, for the (doc, probe term) tf rows
    * that `scored` keeps — text_bm25's and retrieval_rrf's lexical arm.
    * ONE corpus-wide explode: tfAll's groupBy yields tf directly, and
    * dl / the query-term list derive from it — the tokenizer (the
    * dominant cost at scale) runs once, not once per statistic. */
  private def bm25Terms(s: SparkSession, d: String,
      scored: DataFrame => DataFrame): DataFrame = {
    val tfAll = tokenRows(Tables.documents(s, d))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = tfAll.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val q = tfAll.filter(col("doc_id") === 0).select("tok")
    val tf = tfAll.join(q, "tok")
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    scored(tf).join(df, "tok").join(dl, "doc_id").crossJoin(stats)
      .select(col("doc_id"),
        round(
          log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
              (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") /
              col("avgdl"))),
          6).as("sc"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Gopher-style repetition signals: distinct-token ratio, most-frequent-
    // bigram share, duplicate-bigram fraction. High dup_bigram_frac /
    // top_bigram_frac flags boilerplate and generated spam.
    "text_repetition" -> ((s, d) => {
      val tr = tokenRows(Tables.documents(s, d))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bg = tr
        .select(col("doc_id"), col("tok"), lead("tok", 1).over(w).as("t1"))
        .filter(col("t1").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("g"))
      val bgStats = bg.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_bigrams"), max("c").as("max_bg"),
          count(lit(1)).as("n_distinct_bg"))
      val tokStats = tr.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), countDistinct("tok").as("n_utok"))
      // LEFT from tokStats: a single-token doc has no bigrams, so an inner
      // join would drop it from the quality report — exactly the
      // degenerate doc a filter pipeline most wants to see. Its bigram
      // fractions are null (null arithmetic in both engines).
      // raw IEEE divisions of identical integers — no round: count
      // ratios have dyadic denominators that land exactly on rounding
      // midpoints (the win_ntile 41/640 class, r8 sf1ish sweep)
      tokStats.join(bgStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          (col("n_utok").cast("double") / col("n_tok"))
            .as("distinct_tok_ratio"),
          (col("max_bg").cast("double") / col("n_bigrams"))
            .as("top_bigram_frac"),
          (lit(1.0) -
            col("n_distinct_bg").cast("double") / col("n_bigrams"))
            .as("dup_bigram_frac"))
        .orderBy("doc_id")
    }),

    // C4-style span-level dedup: split every document into consecutive
    // 16-token spans, keep only each span text's GLOBAL first occurrence
    // (ordered by doc_id, span index), and reassemble the surviving text.
    // Output is per-doc span counts plus a hash of the rebuilt text (the
    // full text would bloat the parquet dump; the hash pins it exactly).
    "dedup_span" -> ((s, d) => {
      val spans = tokenRows(Tables.documents(s, d))
        .groupBy(col("doc_id"), expr(s"pos div $SpanLen").as("span"))
        .agg(collect_list(struct(col("pos"), col("tok"))).as("raw"))
        .select(col("doc_id"), col("span"),
          concat_ws(" ",
            transform(array_sort(col("raw")), x => x.getField("tok")))
            .as("sptext"))
      val nSpans = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val kept = spans
        .withColumn("rn", row_number().over(
          Window.partitionBy("sptext").orderBy("doc_id", "span")))
        .filter(col("rn") === 1)
      // LEFT join from the span counts: a doc whose EVERY span is a global
      // duplicate must still appear, as (n_kept=0, kept_hash=null) — an
      // inner join would silently erase it from the surviving corpus (this
      // fires at sf0.01: doc 420's 5 spans are all dups of earlier docs).
      val rebuilt = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          collect_list(struct(col("span"), col("sptext"))).as("raw"))
        .select(col("doc_id"), col("n_kept"),
          substring(sha2(concat_ws(" ",
            transform(array_sort(col("raw")), x => x.getField("sptext"))),
            256), 1, 16).as("kept_hash"))
      nSpans.join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("kept_hash"))
        .orderBy("doc_id")
    }),

    // PII redaction: the corpus carries no real PII, so a deterministic
    // email + phone is appended per row (from existing columns) and then
    // redacted — the oracle checks the actual replacement semantics via a
    // hash of the redacted text, not just the counts.
    "text_pii_redact" -> ((s, d) => {
      val aug = concat(col("text"), lit(" contact "), col("source"),
        lit("@example.com or call +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "\\+1-555-[0-9]{4}"
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_count(aug, lit(emailRe)).cast("long").as("n_email"),
          regexp_count(aug, lit(phoneRe)).cast("long").as("n_phone"),
          substring(sha2(regexp_replace(
            regexp_replace(aug, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"), 256), 1, 16).as("red_hash"))
        .orderBy("doc_id")
    }),

    // Text normalization: lowercase, strip non-alphanumerics, collapse
    // whitespace, trim. A mixed-case/symbol suffix is appended so the
    // oracle exercises every step on every row.
    "text_normalize" -> ((s, d) => {
      val aug = concat(col("text"), lit("  Mixed-CASE @#$ 42!"))
      val norm = trim(regexp_replace(
        regexp_replace(lower(aug), "[^a-z0-9 ]", " "), " +", " "))
      Tables.documents(s, d)
        .select(col("doc_id"), length(norm).cast("long").as("n_norm"),
          substring(sha2(norm, 256), 1, 16).as("norm_hash"))
        .orderBy("doc_id")
    }),

    // Normalization-keyed exact dedup — the C4-style middle rung between
    // byte-exact dedup (misses a reflowed copy entirely) and the near-dup
    // machinery (wastes an inverted-index pass on what is literally the
    // same text in different casing/punctuation): dedup on the NORMALIZED
    // form (text_normalize's casefold + symbol-strip + whitespace
    // collapse), keep the min-id variant, report how many formatting
    // variants collapsed. Group key is (h60, normalized text) — the
    // dedup_hash collision-safety convention; per-group windows only.
    "dedup_exact_norm" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      val wg = Window.partitionBy("nh", "n")
      Tables.documents(s, d)
        .withColumn("n", norm)
        .withColumn("nh", h60(col("n")))
        .withColumn("rn", row_number().over(wg.orderBy("doc_id")))
        .withColumn("n_variants", count(lit(1)).over(wg))
        .select(col("doc_id"), col("nh").as("norm_h60"),
          col("n_variants"), (col("rn") === 1).cast("int").as("kept"))
        .orderBy("doc_id")
    }),

    // Per-document TF-IDF keyword extraction: top-3 terms per doc by
    // tf·ln(N/df). The rank window is PARTITION BY doc_id over that doc's
    // distinct tokens — partition-local, never global. Ranking key is the
    // round-6 score (both engines round the same double; ln agrees to the
    // ulp — the same contract text_vocab's idf has held since it landed)
    // with the token as tiebreak.
    "text_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tf = tokenRows(docs).groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(countDistinct("doc_id").as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(df, "tok").crossJoin(nDocs)
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df")), 6).as("score"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(desc("score"), asc("tok"))))
        .filter(col("rk") <= 3)
        .select("doc_id", "rk", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    }),

    // Dataset card: the summary table a corpus release ships — doc/token
    // counts, average length, and exact-dup uniqueness per (source, lang)
    // with rollup subtotals and the corpus-total row, grouping() flags
    // disambiguating rolled-up slots. One scan, one Expand; every number
    // a mixture designer quotes comes from this card. (Single-table
    // rollup — the DataFrame API is safe here; the SQL-path workaround is
    // only needed after multi-joins, see agg_rollup.)
    "dataset_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"), col("lang"), size(toks).cast("long").as("n_tok"),
          sha2(col("text"), 256).as("h"))
      docs.rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tok_total"),
          // raw division (win_ntile dyadic-midpoint class — no round)
          (sum(col("n_tok")).cast("double") / count(lit(1)))
            .as("avg_tok"),
          countDistinct(col("h")).as("n_unique_text"),
          grouping(col("source")).as("g_src"),
          grouping(col("lang")).as("g_lang"))
        .orderBy(col("g_src"), col("g_lang"), col("source"), col("lang"))
    }),

    // Winnowing fingerprints (L45; Schleimer-Wilkerson-Aiken, SIGMOD 2003
    // — the MOSS local fingerprinting scheme): hash every positional word
    // 3-gram, then every window of 4 consecutive hashes selects its MIN.
    // Guarantee: any token run of length >= w+k-1 = 6 shared by two
    // documents shares at least one selected fingerprint, while only
    // ~2/(w+1) of all hashes are stored — local dedup/plagiarism evidence
    // at a fraction of the index size. Value-set form (distinct selected
    // hashes per doc, pinned by count/min/max) — position-free, and pure
    // integers end to end: no float parity surface. Scale: both windows
    // are per-doc partitions (partition-local, never global); the rest is
    // one map + one groupBy.
    "text_winnow" -> ((s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      // 3-grams via the native Generator UDTF (emits (pos, ngram) rows in
      // place) — NOT posexplode + lead windows, which pay a co-location
      // shuffle the shingleRows scaladoc measured ~2× slower. Only the
      // inherent window-min pass needs the per-doc window.
      val g3 = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.NGramGenerator.ngrams(toks, 3))
        .select(col("doc_id"), col("pos"), h60(col("ngram")).as("h"))
      val fps = g3
        .select(col("doc_id"), col("pos"),
          min("h").over(w.rowsBetween(0, 3)).as("fp"),
          lead("h", 3).over(w).isNotNull.as("fullw"))
        .filter(col("fullw"))
        .select(col("doc_id"), col("fp")).distinct()
      fps.groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"),
          max("fp").as("max_fp"))
        .orderBy("doc_id")
    }),

    // Exact-substring duplication report (L125; the scalable form of Lee
    // et al. 2022's ExactSubstr dedup): per document, the token mass
    // covered by >=6-token runs shared verbatim with ANY other document —
    // what ExactSubstr would cut. Suffix arrays don't distribute; the
    // winnowing fingerprints above do the same detection as one shuffle:
    // a fingerprint selected in >=2 distinct docs IS a shared >=6-token
    // run (winnowing guarantee: every shared run of w+k-1 = 6 tokens
    // shares at least one selected min-hash, CorpusSpec pins it against
    // brute-force 6-gram truth), so flagged spans [pos, pos+5] merge per
    // doc into duplicated intervals — never a doc x doc pair, never a
    // global structure: detection is groupBy(fp) HAVING >=2 distinct
    // docs, span recovery a left-semi join back on fp, interval merge a
    // per-doc window over (pos-sorted) selected rows. Integer-exact end
    // to end; the one division (dup_ratio) is a single IEEE divide of
    // identical exact longs in both engines. Unlike dedup_span (exact
    // whole-paragraph first-occurrence), this catches duplication at
    // sub-span granularity and ATTRIBUTES it per doc: kept_tok is the
    // residual corpus a trim pass would retain.
    "dedup_substring" -> ((s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val h3 = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.NGramGenerator.ngrams(toks, 3))
        .select(col("doc_id"), col("pos"), h60(col("ngram")).as("h"))
      // winnow selection WITH position (text_winnow's value-set form
      // drops it): same 4-hash window min, same full-window gate
      val fps = h3
        .select(col("doc_id"), col("pos"),
          min("h").over(w.rowsBetween(0, 3)).as("fp"),
          lead("h", 3).over(w).isNotNull.as("fullw"))
        .filter(col("fullw"))
        .select(col("doc_id"), col("pos"), col("fp"))
      val shared = fps.groupBy("fp")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2).select("fp")
      val sp = fps.join(shared, Seq("fp"), "left_semi")
        .select(col("doc_id"), col("pos"), (col("pos") + lit(5)).as("e"))
      // classic interval merge: new interval where pos clears the running
      // max end of everything before it; both windows are per-doc
      val prevMax = max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
      val per = sp
        .withColumn("nw",
          when(prevMax.isNull || col("pos") > prevMax, 1).otherwise(0))
        .withColumn("ivid", sum("nw").over(w))
        .groupBy("doc_id", "ivid")
        .agg(min("pos").as("s0"), max("e").as("e0"),
          count(lit(1)).as("nwin"))
        .groupBy("doc_id")
        .agg(sum(col("e0") - col("s0") + 1).as("dup_tok"),
          sum("nwin").as("n_dup_win"))
      Tables.documents(s, d)
        .select(col("doc_id"), size(toks).cast("long").as("n_tok"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_dup_win"), lit(0L)).as("n_dup_win"),
          coalesce(col("dup_tok"), lit(0L)).as("dup_tok"),
          (col("n_tok") - coalesce(col("dup_tok"), lit(0L))).as("kept_tok"),
          round(coalesce(col("dup_tok"), lit(0L)).cast("double") /
            col("n_tok"), 6).as("dup_ratio"))
        .withColumn("mostly_dup", col("dup_ratio") >= 0.5)
        .orderBy("doc_id")
    }),

    // BM25 ranked retrieval (L43; Robertson's Okapi BM25 with the
    // Lucene-style +1 inside the idf ln, which keeps every term
    // contribution non-negative): score the corpus against the probe
    // query — doc 0's distinct tokens, the same fixed-probe convention
    // sim_cosine uses for vectors. Per-term scores are rounded to 6
    // BEFORE the exact-decimal per-doc sum, so accumulation is
    // partition-order-independent and immune to last-ulp ln() skew (the
    // text_lm_score contract). Scale: token rows are semi-joined to the
    // |q|-sized term list BEFORE the tf groupBy, so everything past the
    // tokenizer is |q|-bounded, not vocabulary-bounded; (n_docs, avgdl)
    // is a 1-row broadcast stat; the final top-20 is TakeOrderedAndProject
    // (never a global sort).
    "text_bm25" -> ((s, d) =>
      bm25Terms(s, d, identity)
        .groupBy("doc_id")
        .agg(dsum(col("sc"), 6).as("score"), count(lit(1)).as("n_terms"))
        .orderBy(desc("score"), asc("doc_id")).limit(20)),

    // Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
    // SIGIR 2009): the standard way deployed search fuses a lexical
    // (BM25) arm with a dense (embedding-cosine) arm — score =
    // Σ 1/(60 + rank), missing-from-an-arm contributes 0. Probe = doc 0's
    // tokens / vec 0's embedding (the fixed-probe convention of text_bm25
    // and sim_cosine; doc↔vec ids align in this corpus), self excluded
    // from both arms. Each arm ranks its top-50 by its own
    // deterministically-ordered score (BM25 through the text_bm25 exact
    // chain; the raw cosine is bit-identical across engines), so the
    // fused order mirrors exactly; 1/(60+rank) is a single IEEE division
    // of exact integers and their sum is two fixed-order adds — no
    // quantization needed before the final ORDER BY (doc_id breaks the
    // swapped-rank-pair ties). Scale: the lexical arm is the audited
    // text_bm25 shape (|q|-bounded past the tokenizer), the dense arm one
    // broadcast-probe scan (sim_cosine shape); both end in
    // TakeOrderedAndProject top-50, and the rank windows run AFTER that
    // prune over ≤50 rows (the text_vocab pattern). Fusion itself is a
    // 50×50 full-outer join — constant-sized at any corpus scale.
    "retrieval_rrf" -> ((s, d) => {
      // df is corpus-true (doc 0 included, as in text_bm25); only the
      // SCORED set excludes the probe doc itself.
      val lexScore = bm25Terms(s, d, _.filter(col("doc_id") =!= 0))
        .groupBy("doc_id").agg(dsum(col("sc"), 6).as("score"))
      val lex = lexScore
        .orderBy(desc("score"), asc("doc_id")).limit(50)
        .withColumn("lr", row_number().over(
          Window.orderBy(desc("score"), asc("doc_id"))))
        .select(col("doc_id"), col("lr"))
      val probe = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .limit(1)
        .select(col("embedding").as("p"),
          sqrt(dot(col("embedding"), col("embedding"))).as("pnrm"))
      val den = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), col("embedding"),
          sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
        .crossJoin(broadcast(probe))
        .select(col("doc_id"),
          (dot(col("embedding"), col("p")) / (col("nrm") * col("pnrm")))
            .as("cos"))
        .orderBy(desc("cos"), asc("doc_id")).limit(50)
        .withColumn("dr", row_number().over(
          Window.orderBy(desc("cos"), asc("doc_id"))))
        .select(col("doc_id"), col("dr"))
      val rrf =
        coalesce(lit(1.0) / (lit(60) + col("lr")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dr")), lit(0.0))
      lex.join(den, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("lr"), lit(0)).as("lex_rank"),
          coalesce(col("dr"), lit(0)).as("dense_rank"),
          round(rrf, 6).as("rrf_score"))
        .orderBy(desc("rrf_score"), asc("doc_id")).limit(20)
    }),

    // Heavy hitters via Count-Min Sketch prefilter + exact verify: one
    // pass builds the CMS (and the stream total) — collected driver-side
    // as a model parameter — then token ROWS are prefiltered map-side by
    // `cms_estimate(tok) >= T` BEFORE the exact groupBy, so the shuffle
    // carries only candidate tokens. CMS never underestimates, so no true
    // heavy hitter is lost; overestimates (hash collisions) survive to the
    // exact count and die at the final `cnt >= T` — output is EXACT
    // (threshold T = 0.1% of the stream), hence oracle-checkable.
    "agg_cms_heavy" -> ((s, d) => {
      val tokRows = tokenRows(Tables.documents(s, d)).select("tok")
      val row = tokRows.agg(
        graft.functions.CmsSketch.cmsAgg(col("tok")), count(lit(1))).head()
      val cms = row.getAs[Array[Byte]](0)
      val threshold = (row.getLong(1) + 999L) / 1000L
      tokRows
        .filter(graft.functions.CmsSketch.cmsEstimate(cms, col("tok"))
          >= threshold)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= threshold)
        .orderBy("tok")
    }),

    // CCNet-style LM quality scoring: train a unigram language model with
    // add-one smoothing on the English docs (the "clean reference corpus"
    // stand-in for CCNet's Wikipedia-trained KenLM), then score EVERY doc
    // by its average per-token negative log-likelihood. Low avg_nll ≈
    // reference-like text; high ≈ OOV-heavy / off-distribution (non-English
    // docs surface immediately) — the canonical perplexity filter of a
    // pretraining pipeline.
    // Cross-engine float contract: each token's nll is rounded to 4 decimals
    // and cast to DECIMAL before the per-doc sum, so the sum is partition-
    // order-independent AND immune to a last-ulp ln() divergence (a 1e-15
    // disagreement cannot move a round-4 value off its quantum); the final
    // avg divides two identical numbers in both engines.
    // Scale: the LM is vocab-sized (≪ corpus) — groupBy(tok) with map-side
    // combine; the scoring join shuffles token rows on tok (or broadcasts
    // when the LM fits); the two global scalars ride a 1-row broadcast.
    "text_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val lm = docs.filter(col("lang") === "en")
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val scal = lm.agg(sum("c").as("n_ref"), count(lit(1)).as("v_ref"))
      docs.select(col("doc_id"), explode(toks).as("tok"))
        .join(lm, Seq("tok"), "left")
        .crossJoin(broadcast(scal))
        .select(col("doc_id"),
          round(-log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
            (col("n_ref") + col("v_ref")).cast("double")), 4)
            .cast(DecimalType(30, 8)).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("nll").as("snll"))
        .select(col("doc_id"), col("n_tok"),
          (col("snll").cast("double") / col("n_tok")).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Bigram LM with stupid backoff (Brants et al. 2007, "Large Language
    // Models in Machine Translation"): score(w2|w1) = c12/c1 when the
    // bigram was seen in the English reference slice, else 0.4 × the
    // add-one unigram probability — the context-aware upgrade of
    // text_lm_score's unigram filter (catches word-salad whose unigrams
    // are individually fine). Per-doc avg NLL over the doc's bigrams;
    // single-token docs have no bigrams and drop (the text_repetition
    // contract). Determinism: both ratio forms are IEEE on identical
    // exact integers (and the 0.4 literal is the same double in both
    // engines), each −ln term rounds to 4dp and quantizes to decimal
    // before the per-doc sum — the text_lm_score contract. Scale: the
    // model is the (w1,w2) count table — linear in the corpus, hash
    // equi joins only; the lead window partitions per doc.
    "text_lm_bigram" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tr = tokenRows(docs)
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = tr
        .select(col("doc_id"), col("tok").as("w1"),
          lead("tok", 1).over(w).as("w2"))
        .filter(col("w2").isNotNull)
      val ref = docs.filter(col("lang") === "en").select("doc_id")
      val bg = pairs.join(ref, "doc_id")
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val ug = tr.join(ref, "doc_id")
        .groupBy(col("tok").as("w1")).agg(count(lit(1)).as("c1"))
      val scal = ug.agg(sum("c1").as("n_ref"), count(lit(1)).as("v_ref"))
      pairs
        .join(bg, Seq("w1", "w2"), "left")
        .join(ug, Seq("w1"), "left")
        .join(ug.select(col("w1").as("w2"), col("c1").as("c2")),
          Seq("w2"), "left")
        .crossJoin(broadcast(scal))
        .select(col("doc_id"),
          round(-log(
            when(col("c12").isNotNull,
              col("c12").cast("double") / col("c1"))
              .otherwise(lit(0.4) *
                (coalesce(col("c2"), lit(0L)) + 1).cast("double") /
                (col("n_ref") + col("v_ref")).cast("double"))), 4)
            .cast(DecimalType(30, 8)).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("nll").as("snll"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("snll").cast("double") / col("n_bigrams")).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Tokenizer-fertility report (L106): chars-per-token and
    // bytes-per-token per language — the tokenizer-efficiency numbers
    // that drive multilingual mixture budgets (a language whose bytes
    // cost 2× the tokens eats 2× the compute per learned byte; cf. the
    // fertility tables in the XLM-R / NLLB tokenizer analyses). Pure
    // map-side projection → one |langs|-sized groupBy; ratios are single
    // IEEE divisions of exact integer sums. length() counts CHARACTERS
    // and octet_length() UTF-8 BYTES in both engines — the byte/char gap
    // IS the signal for zh vs en.
    "text_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), size(toks).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("n_chars"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          sum("n_chars").as("n_chars"), sum("n_bytes").as("n_bytes"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars"), col("n_bytes"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("chars_per_tok"),
          round(col("n_bytes").cast("double") / col("n_tokens"), 6)
            .as("bytes_per_tok"))
        .orderBy("lang")),

    // Vocabulary statistics: global top-20 tokens by collection frequency,
    // with document frequency and idf. The rank window runs AFTER the
    // top-k prune (TakeOrderedAndProject), never over the full vocabulary.
    "text_vocab" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = tokenRows(docs).groupBy("tok")
        .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      stats.crossJoin(nDocs)
        .orderBy(desc("cnt"), asc("tok")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("cnt"), asc("tok"))))
        .select(col("rk"), col("tok"), col("cnt"), col("df"),
          round(log(col("n_docs").cast("double") / col("df")), 6).as("idf"))
        .orderBy("rk")
    }),

    // Per-doc Shannon entropy (nats) over the doc's own token
    // distribution — the diversity twin of text_repetition's ratio
    // signals: template/generated text scores low, natural text tracks
    // log(n_types). Determinism: each −p·ln(p) term rounds to 6dp and is
    // quantized to decimal BEFORE the per-doc sum (the text_lm_score
    // contract — identical double inputs give identical ln outputs, and
    // the decimal sum is partition-order-independent). Linear: one
    // (doc, tok) count, one per-doc rollup.
    // (single corpus pass: the per-doc totals are doc-partitioned windows
    // over the tf aggregate — no second explode, and the final rollup
    // reuses the same doc_id partitioning)
    "text_entropy" -> ((s, d) => {
      val tf = tokenRows(Tables.documents(s, d))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val wd = Window.partitionBy("doc_id")
      val p = col("c").cast("double") / col("n_tok")
      tf.withColumn("n_tok", sum("c").over(wd))
        .withColumn("n_types", count(lit(1)).over(wd))
        .select(col("doc_id"), col("n_tok"), col("n_types"),
          round(-p * log(p), 6).cast(DecimalType(30, 8)).as("term"))
        .groupBy("doc_id", "n_tok", "n_types")
        .agg(round(sum("term").cast("double"), 6).as("entropy"))
        .orderBy("doc_id")
    }),

    // L51 — BPE merge-selection statistics: the pair-counting step of
    // byte-pair-encoding tokenizer training (Sennrich et al. 2016,
    // arXiv:1508.07909). Adjacent character-pair frequencies, weighted by
    // token frequency, ranked; rank-1 is the merge BPE would apply next.
    // Scale shape: the corpus collapses to the VOCABULARY first (groupBy
    // tok, map-side combined — vocab ≪ corpus at any SF), so the pair
    // explosion and its HOF lambda run over vocab rows only; corpus size
    // touches exactly one linear aggregation. Top-20 via
    // TakeOrderedAndProject; the rank window sees ≤20 rows.
    "bpe_pair_count" -> ((s, d) => {
      val vocab = tokenRows(Tables.documents(s, d))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .filter(length(col("tok")) >= 2)
      val pairs = vocab.select(col("freq"),
        explode(transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
      pairs.groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("n"), asc("pair"))))
        .select("rk", "pair", "n").orderBy("rk")
    }),

    // L52 — distribution drift (PSI): the dataset-monitoring gate a corpus
    // refresh runs before a new snapshot is accepted. Population Stability
    // Index of the doc-length distribution, "current" slice (odd doc_id)
    // vs "reference" slice (even doc_id), over 10 equal-width buckets
    // derived from the REFERENCE slice's [min, max] — integer-only bucket
    // math (`div` after a greatest(0,·) clamp, so trunc == floor in both
    // engines), Laplace-smoothed ratios (+1/+10) so empty buckets stay
    // finite. Per-bucket terms are emitted (sum downstream for the scalar;
    // PSI > 0.2 is the conventional "shifted" alarm). Scale shape: two
    // linear bucket-count aggregations + a 10-row spine join; the global
    // window runs over exactly 10 rows. ln under round-6 follows the
    // text_vocab idf precedent in the cross-engine contract. The bucket
    // spine derives from the (non-null) edges row, so an EMPTY reference
    // slice yields an empty result — a loud monitoring failure — instead
    // of 10 smoothed zero-PSI rows silently accepting any snapshot.
    "dq_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val cur = docs.filter(col("doc_id") % 2 === 1)
      val edges = ref.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      def hist(slice: DataFrame, as: String): DataFrame =
        slice.crossJoin(broadcast(edges))
          .select(least(lit(9), expr(
            "greatest(0, n_chars - lo) * 10 div (hi - lo + 1)"))
            .cast("int").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as(as))
      val spine = edges.filter(col("lo").isNotNull)
        .select(explode(sequence(lit(0), lit(9))).as("bucket"))
      val wAll = Window.partitionBy()
      def p(n: Column, tot: Column): Column =
        (n + 1).cast("double") / (tot + 10)
      spine.join(hist(ref, "n_ref"), Seq("bucket"), "left")
        .join(hist(cur, "n_cur"), Seq("bucket"), "left")
        .na.fill(0L, Seq("n_ref", "n_cur"))
        .withColumn("tr", sum("n_ref").over(wAll))
        .withColumn("tc", sum("n_cur").over(wAll))
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          round((p(col("n_ref"), col("tr")) - p(col("n_cur"), col("tc"))) *
            log(p(col("n_ref"), col("tr")) / p(col("n_cur"), col("tc"))), 6)
            .as("psi_term"))
        .orderBy("bucket")
    }),

    // Two-sample Kolmogorov–Smirnov drift gate — the continuous,
    // bin-free complement of dq_drift_psi: KS = max over the value domain
    // of |CDF_ref − CDF_cur| sees shape shifts PSI's 10 fixed buckets can
    // wash out. Machinery is the agg_spearman distinct-value spine: one
    // (value, per-slice count) aggregate (map-side combined), cumulative
    // sums over the spine (bounded by the METRIC DOMAIN, not doc count),
    // each CDF an IEEE division of identical exact integers, |diff| and
    // max order-free — so the statistic needs no rounding. Argmax
    // tie-breaks on the smallest value for a deterministic report row.
    // Jensen–Shannon divergence between two corpus halves' UNIGRAM
    // distributions (nats) — drift on the TOKEN axis, where dq_drift_psi
    // and dq_drift_ks watch the length axis: a vocabulary shift (new
    // domain, new boilerplate, new language) moves JS long before length
    // histograms notice. Symmetric and bounded (≤ ln 2), zero-count
    // tokens contribute only through the other side's ½q·ln(q/m) term —
    // exactly the property KL lacks. One exploded-token aggregation
    // builds both distributions (conditional sums, map-side combined);
    // totals ride a window over the VOCABULARY spine; per-token ln terms
    // follow the round-then-decimal-sum contract at 9dp (term magnitudes
    // are ~1e-4; 6dp would quantize them away).
    "text_js_divergence" -> ((s, d) => {
      val cnt = tokenRows(Tables.documents(s, d))
        .groupBy("tok")
        .agg(count(when(col("doc_id") % 2 === 0, 1)).as("cr"),
          count(when(col("doc_id") % 2 === 1, 1)).as("cc"))
      val wAll = Window.partitionBy()
      val p = col("cr").cast("double") / col("tr")
      val q = col("cc").cast("double") / col("tc")
      val m = (p + q) / 2
      val term =
        when(col("cr") > 0, p * log(p / m) / 2).otherwise(0.0) +
          when(col("cc") > 0, q * log(q / m) / 2).otherwise(0.0)
      cnt
        .withColumn("tr", sum("cr").over(wAll))
        .withColumn("tc", sum("cc").over(wAll))
        .select(col("tr"), col("tc"),
          round(term, 9).cast(DecimalType(30, 10)).as("t"))
        .groupBy("tr", "tc")
        .agg(count(lit(1)).as("vocab"),
          round(sum("t").cast("double"), 9).as("js_nats"))
        .select(col("vocab"), col("tr").as("n_ref_tokens"),
          col("tc").as("n_cur_tokens"), col("js_nats"))
    }),

    "dq_drift_ks" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val cnt = docs
        .groupBy("n_chars")
        .agg(count(when(col("doc_id") % 2 === 0, 1)).as("nr"),
          count(when(col("doc_id") % 2 === 1, 1)).as("nc"))
      val w = Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      cnt
        .withColumn("cr", sum("nr").over(w))
        .withColumn("cc", sum("nc").over(w))
        .withColumn("tr", sum("nr").over(wAll))
        .withColumn("tc", sum("nc").over(wAll))
        .withColumn("diff",
          abs(col("cr").cast("double") / col("tr") -
            col("cc").cast("double") / col("tc")))
        .orderBy(col("diff").desc, col("n_chars"))
        .limit(1)
        .select(col("n_chars").as("at_value"), col("diff").as("ks_stat"),
          col("tr").as("n_ref"), col("tc").as("n_cur"))
    }),

    // L53 — robust outlier flagging (median/MAD): the quality gate that
    // survives the heavy-tailed length distributions a mean/stddev z-score
    // chokes on. Per-source median and median-absolute-deviation of
    // n_chars; a doc is flagged when |x − med| > 3·MAD. All comparisons
    // are exact in binary: medians of ints interpolate to at worst .5
    // (representable), 3·MAD likewise — no float-boundary risk in the
    // cross-engine contract. Exact `percentile` materializes each group's
    // value multiset on its reducer — fine for per-source doc counts; the
    // wired 100 TB boundary pass is the `dq_outlier_mad_approx` twin
    // below (GK sketch, mergeable, map-side — the
    // agg_histogram_eqdepth_approx precedent applied per group).
    "dq_outlier_mad" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val med = docs.groupBy("source")
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val mad = docs.join(broadcast(med), "source")
        .groupBy("source", "med")
        .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
      docs.join(broadcast(mad), "source")
        .filter(abs(col("n_chars") - col("med")) > lit(3) * col("mad"))
        .select("source", "doc_id", "n_chars", "med", "mad")
        .orderBy("source", "doc_id")
    }),

    // The 100 TB twin of dq_outlier_mad: both percentile passes become
    // approx_percentile (GK, accuracy 10000 → per-group rank error ≤
    // n/10⁴, bounded sketch memory instead of the group's full multiset
    // in one buffer). GK returns actual data values — a median that the
    // exact form would interpolate to x.5 lands on an integer here, so
    // docs sitting exactly at the 3·MAD boundary can flip; rows-only at
    // the driver, with ApproxAccuracySpec pinning outlier-set agreement
    // against the exact oracle form.
    "dq_outlier_mad_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
      val med = docs.groupBy("source")
        .agg(expr("approx_percentile(n_chars, 0.5, 10000)").as("med"))
      val mad = docs.join(broadcast(med), "source")
        .groupBy("source", "med")
        .agg(expr("approx_percentile(abs(n_chars - med), 0.5, 10000)")
          .as("mad"))
      docs.join(broadcast(mad), "source")
        .filter(abs(col("n_chars") - col("med")) > lit(3) * col("mad"))
        .select("source", "doc_id", "n_chars", "med", "mad")
        .orderBy("source", "doc_id")
    }),

    // CCNet perplexity bucketing (L110; Wenzek et al. 2020 §4.3): per
    // language, docs ranked by reference-LM score and split into the
    // head / middle / tail terciles CCNet releases as quality strata —
    // the bucket a doc lands in decides whether it enters pretraining
    // at all (head+middle) or only after re-filtering (tail). Reuses the
    // DECLARED text_lm_score operator verbatim (same lambda), so the
    // strata cannot drift from the published per-doc score; the oracle
    // nests text_lm_score's oracle as a subquery for the same reason.
    // Determinism: avg_nll is bit-identical cross-engine (its own green
    // oracle row proves it), ntile(3) runs over the unique
    // (avg_nll, doc_id) order, and the bucket means round each summand
    // to 6dp into DECIMAL(30,8) before the cross-row sum. Scale: the
    // window partitions by lang over per-DOC rows (id + two numbers —
    // ~10^10 skinny rows at 100 TB, a routine shuffle sort, the
    // sample_balanced precedent); the 100 TB shortcut is per-lang
    // approx_percentile cutoffs instead of exact ntile, the
    // dq_profile_approx convention.
    "curate_ccnet_buckets" -> ((s, d) => {
      val scored = queries("text_lm_score")(s, d) // (doc_id, n_tok, avg_nll)
      val langs = Tables.documents(s, d).select("doc_id", "lang")
      val w = Window.partitionBy("lang")
        .orderBy(col("avg_nll"), col("doc_id"))
      scored.join(langs, "doc_id")
        .withColumn("bucket_id", ntile(3).over(w))
        .groupBy("lang", "bucket_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tok"),
          exactSum(round(col("avg_nll"), 6)).as("snll"))
        .select(col("lang"), col("bucket_id"),
          when(col("bucket_id") === 1, "head")
            .when(col("bucket_id") === 2, "middle")
            .otherwise("tail").as("bucket"),
          col("n_docs"), col("n_tok"),
          round(col("snll").cast("double") / col("n_docs"), 6)
            .as("mean_nll"))
        .orderBy("lang", "bucket_id")
    }),

    // Vocabulary-coverage / OOV report (L111): per language, the share of
    // running tokens outside a frozen top-VocabTopK reference vocabulary
    // (built from the English slice — the fixed-tokenizer stand-in; see
    // VocabTopK's scaladoc for why it is sized below the inventory).
    // THE number a tokenizer/vocab decision is judged by per language:
    // high OOV means the vocab fragments that language into fallback
    // bytes, the capacity tax text_fertility prices in chars-per-token.
    // Vocab ties break (count DESC, tok) — deterministic in both
    // engines; rates are single IEEE divisions of exact longs. Scale:
    // the vocab is a model-parameter table (structural limit(VocabTopK)
    // → broadcastable), the probe join is map-side against it, and the
    // per-lang rollup is |langs|-sized with map-side combine. The
    // tokenizer runs once over the full corpus for the probe plus once
    // over the English slice for the vocab (no shared-scan persist — the
    // vocab pass reads one lang's partitions and aggregates immediately).
    "text_oov_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tr = docs.select(col("doc_id"), col("lang"),
        explode(toks).as("tok"))
      val vocab = tr.filter(col("lang") === "en")
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("tok")).limit(VocabTopK)
        .select(col("tok"), lit(1).as("inv"))
      tr.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(when(col("inv").isNull, col("tok")))
            .as("n_oov_types"))
        .select(col("lang"), col("n_tok"), col("n_oov"), col("n_oov_types"),
          round(col("n_oov").cast("double") / col("n_tok"), 6)
            .as("oov_rate"))
        .orderBy("lang")
    }),

    // Compressibility quality signal (Gopher's repetition family, the
    // whole-document form): deflate(text) size over byte size. Boilerplate
    // and generated spam compress far below natural text, so a low ratio
    // flags what token-level heuristics (text_repetition) can see only
    // within their n-gram horizon. One reused level-6 Deflater per
    // PARTITION (the multimodal batched-decode shape — allocation
    // amortized, no per-row codec setup), linear scan, no shuffle before
    // the final sort. zlib output is deterministic for a fixed level and
    // library, but engine-specific — no DuckDB oracle (rows-only; bounds
    // + discrimination pinned by CorpusSpec).
    "text_compress_ratio" -> ((s, d) => {
      import s.implicits._
      Tables.documents(s, d).select("doc_id", "text").as[(Long, String)]
        .mapPartitions { it =>
          val defl = new java.util.zip.Deflater(6)
          val buf = new Array[Byte](1 << 16)
          it.map { case (id, text) =>
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            defl.reset(); defl.setInput(bytes); defl.finish()
            var n = 0L
            while (!defl.finished()) n += defl.deflate(buf)
            (id, bytes.length.toLong, n)
          }
        }
        .toDF("doc_id", "n_bytes", "n_deflate")
        .withColumn("ratio",
          col("n_deflate").cast("double") / col("n_bytes"))
        .orderBy("doc_id")
    })
  )

  /** The winnowing selection both text_winnow and dedup_substring read:
    * token rows `t`, positional trigrams `g3`, their hashes `h3`, and
    * `sel` (doc_id, pos, fp, is_fullw) — the min hash of each 4-trigram
    * window, full windows flagged. */
  private lazy val dWinnowSel: String =
    s"""t AS ($dTokRows),
      |g3 AS (SELECT doc_id, pos,
      |    tok || ' ' || lead(tok, 1) OVER w || ' ' ||
      |      lead(tok, 2) OVER w AS g,
      |    lead(tok, 2) OVER w IS NOT NULL AS is_full
      |  FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |h3 AS (SELECT doc_id, pos, ${dH60("g")} AS h
      |  FROM g3 WHERE is_full),
      |sel AS (SELECT doc_id, pos,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY pos)
      |      IS NOT NULL AS is_fullw
      |  FROM h3)""".stripMargin

  /** DuckDB mirror of [[bm25Terms]] over every doc: the `t`…`sc` CTE
    * chain text_bm25 sums and retrieval_rrf's lexical arm ranks. */
  private lazy val dBm25Terms: String =
    s"""t AS ($dTokRows),
      |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY 1),
      |st AS (SELECT count(*) AS n_docs,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |q AS (SELECT DISTINCT tok FROM t WHERE doc_id = 0),
      |tf AS (SELECT doc_id, tok, count(*) AS tf
      |  FROM t JOIN q USING (tok) GROUP BY 1, 2),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT doc_id,
      |    round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)
      |        + 1.0) *
      |      (CAST(tf AS DOUBLE) * 2.2) /
      |      (CAST(tf AS DOUBLE) + 1.2 *
      |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)), 6) AS sc
      |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), st)""".stripMargin

  /** text_lm_score's full oracle, factored so curate_ccnet_buckets can
    * nest it verbatim — one SQL text, two rows, zero drift (the engine
    * side shares the declared lambda the same way). */
  private lazy val dLmScore: String =
    s"""WITH t AS (SELECT doc_id, unnest($dToks) AS tok FROM documents),
      |rt AS (SELECT t.tok FROM t JOIN documents d USING (doc_id)
      |  WHERE d.lang = 'en'),
      |lm AS (SELECT tok, count(*) AS c FROM rt GROUP BY 1),
      |scal AS (SELECT sum(c) AS n_ref, count(*) AS v_ref FROM lm),
      |nll AS (SELECT doc_id,
      |    CAST(round(-ln(CAST(coalesce(c, 0) + 1 AS DOUBLE) /
      |      CAST(n_ref + v_ref AS DOUBLE)), 4) AS DECIMAL(30,8)) AS nll
      |  FROM t LEFT JOIN lm USING (tok), scal)
      |SELECT doc_id, count(*) AS n_tok,
      |  CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
      |FROM nll GROUP BY 1 ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_repetition" ->
      s"""WITH t AS ($dTokRows),
        |bg AS (SELECT doc_id, tok || ' ' ||
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS g,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS t1
        |  FROM t),
        |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg
        |  WHERE t1 IS NOT NULL GROUP BY 1, 2),
        |bgs AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS max_bg,
        |    count(*) AS n_distinct_bg FROM bgc GROUP BY 1),
        |ts AS (SELECT doc_id, count(*) AS n_tok,
        |    count(DISTINCT tok) AS n_utok FROM t GROUP BY 1)
        |SELECT ts.doc_id, n_tok,
        |  CAST(n_utok AS DOUBLE) / n_tok AS distinct_tok_ratio,
        |  CAST(max_bg AS DOUBLE) / n_bigrams AS top_bigram_frac,
        |  1.0 - CAST(n_distinct_bg AS DOUBLE) / n_bigrams
        |    AS dup_bigram_frac
        |FROM ts LEFT JOIN bgs USING (doc_id) ORDER BY doc_id""".stripMargin,
    "dedup_span" ->
      s"""WITH t AS ($dTokRows),
        |spn AS (SELECT doc_id, (pos - 1) // $SpanLen AS span,
        |    string_agg(tok, ' ' ORDER BY pos) AS sptext
        |  FROM t GROUP BY 1, 2),
        |cnt AS (SELECT doc_id, count(*) AS n_spans FROM spn GROUP BY 1),
        |k AS (SELECT doc_id, span, sptext, row_number() OVER
        |    (PARTITION BY sptext ORDER BY doc_id, span) AS rn FROM spn),
        |rb AS (SELECT doc_id, count(*) AS n_kept,
        |    substr(sha256(string_agg(sptext, ' ' ORDER BY span)), 1, 16)
        |      AS kept_hash
        |  FROM k WHERE rn = 1 GROUP BY 1)
        |SELECT c.doc_id, n_spans, coalesce(n_kept, 0) AS n_kept, kept_hash
        |FROM cnt c LEFT JOIN rb USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_pii_redact" ->
      """WITH a AS (SELECT doc_id, text || ' contact ' || source ||
        |  '@example.com or call +1-555-' ||
        |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(aug,
        |    '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phone,
        |  substr(sha256(regexp_replace(regexp_replace(aug,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '\+1-555-[0-9]{4}', '<PHONE>', 'g')), 1, 16) AS red_hash
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |  lower(text || '  Mixed-CASE @#$ 42!'),
        |  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm,
        |  substr(sha256(norm), 1, 16) AS norm_hash
        |FROM n ORDER BY doc_id""".stripMargin,
    "dedup_exact_norm" ->
      s"""WITH n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS n
        |  FROM documents),
        |g AS (SELECT doc_id, ${dH60("n")} AS norm_h60,
        |    row_number() OVER (PARTITION BY ${dH60("n")}, n
        |      ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY ${dH60("n")}, n) AS n_variants
        |  FROM n)
        |SELECT doc_id, norm_h60, CAST(n_variants AS BIGINT) AS n_variants,
        |  CAST(rn = 1 AS INT) AS kept
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      s"""WITH t AS ($dTokRows),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tok, tf, df,
        |    round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6)
        |      AS score
        |  FROM tf JOIN df USING (tok), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tok) AS rk FROM sc)
        |SELECT doc_id, rk, tok, tf, df, score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "dataset_card" ->
      s"""SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len($dToks)) AS BIGINT) AS n_tok_total,
        |  CAST(sum(len($dToks)) AS DOUBLE) / count(*)
        |    AS avg_tok,
        |  count(DISTINCT sha256(text)) AS n_unique_text,
        |  GROUPING(source) AS g_src, GROUPING(lang) AS g_lang
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY g_src, g_lang, source, lang""".stripMargin,
    "text_winnow" ->
      s"""WITH $dWinnowSel,
        |fps AS (SELECT DISTINCT doc_id, fp FROM sel WHERE is_fullw)
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp,
        |  max(fp) AS max_fp
        |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the text_winnow chain; pos is 1-based here vs the Generator's
    // 0-based — interval LENGTHS are shift-invariant, so every emitted
    // number is identical
    "dedup_substring" ->
      s"""WITH $dWinnowSel,
        |fps AS (SELECT doc_id, pos, fp FROM sel WHERE is_fullw),
        |shared AS (SELECT fp FROM fps GROUP BY fp
        |  HAVING count(DISTINCT doc_id) >= 2),
        |sp AS (SELECT f.doc_id, f.pos, f.pos + 5 AS e
        |  FROM fps f JOIN shared USING (fp)),
        |iv AS (SELECT doc_id, pos, e,
        |    CASE WHEN max(e) OVER wp IS NULL OR pos > max(e) OVER wp
        |      THEN 1 ELSE 0 END AS nw
        |  FROM sp WINDOW wp AS (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |mg AS (SELECT doc_id,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS ivid,
        |    pos, e FROM iv),
        |pm AS (SELECT doc_id, ivid, min(pos) AS s0, max(e) AS e0,
        |    count(*) AS nwin FROM mg GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tok,
        |    CAST(SUM(nwin) AS BIGINT) AS n_dup_win FROM pm GROUP BY 1)
        |SELECT d.doc_id, CAST(len($dToks) AS BIGINT) AS n_tok,
        |  coalesce(p.n_dup_win, 0) AS n_dup_win,
        |  coalesce(p.dup_tok, 0) AS dup_tok,
        |  CAST(len($dToks) AS BIGINT) - coalesce(p.dup_tok, 0) AS kept_tok,
        |  round(CAST(coalesce(p.dup_tok, 0) AS DOUBLE) /
        |    len($dToks), 6) AS dup_ratio,
        |  round(CAST(coalesce(p.dup_tok, 0) AS DOUBLE) /
        |    len($dToks), 6) >= 0.5 AS mostly_dup
        |FROM documents d LEFT JOIN per p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "text_bm25" ->
      s"""WITH $dBm25Terms
        |SELECT doc_id,
        |  CAST(round(SUM(CAST(sc AS DECIMAL(30,8))), 6) AS DOUBLE)
        |    AS score,
        |  count(*) AS n_terms
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // Same BM25 chain as text_bm25 (df corpus-true, probe doc excluded
    // only from the scored set); dense arm = the sim_cosine fold; both
    // arms rank on their deterministic scores, and the fused order runs
    // on the ROUNDED rrf + doc_id in both engines (the sim_topk_pq
    // ordering convention).
    "retrieval_rrf" ->
      s"""WITH $dBm25Terms,
        |ls AS (SELECT doc_id,
        |    CAST(round(SUM(CAST(sc AS DECIMAL(30,8))), 6) AS DOUBLE)
        |      AS score
        |  FROM sc WHERE doc_id <> 0 GROUP BY doc_id),
        |lex AS (SELECT doc_id, lr FROM (SELECT doc_id, row_number()
        |    OVER (ORDER BY score DESC, doc_id) AS lr FROM ls)
        |  WHERE lr <= 50),
        |pr AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
        |dsc AS (SELECT vec_id AS doc_id,
        |    ${dDot("embedding", "p")} /
        |      (sqrt(${dDot("embedding", "embedding")}) *
        |       sqrt(${dDot("p", "p")})) AS cos
        |  FROM embeddings, pr WHERE vec_id <> 0),
        |den AS (SELECT doc_id, dr FROM (SELECT doc_id, row_number()
        |    OVER (ORDER BY cos DESC, doc_id) AS dr FROM dsc)
        |  WHERE dr <= 50)
        |SELECT coalesce(l.doc_id, n.doc_id) AS doc_id,
        |  coalesce(lr, 0) AS lex_rank, coalesce(dr, 0) AS dense_rank,
        |  round(coalesce(CAST(1 AS DOUBLE) / (60 + lr), 0.0) +
        |        coalesce(CAST(1 AS DOUBLE) / (60 + dr), 0.0), 6)
        |    AS rrf_score
        |FROM lex l FULL OUTER JOIN den n ON l.doc_id = n.doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin,
    "text_fertility" ->
      s"""SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len($dToks)) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  round(CAST(sum(length(text)) AS DOUBLE) /
        |    sum(len($dToks)), 6) AS chars_per_tok,
        |  round(CAST(sum(strlen(text)) AS DOUBLE) /
        |    sum(len($dToks)), 6) AS bytes_per_tok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "agg_cms_heavy" ->
      s"""WITH t AS ($dTokRows),
        |th AS (SELECT (count(*) + 999) // 1000 AS t0 FROM t)
        |SELECT tok, count(*) AS cnt FROM t, th
        |GROUP BY tok, t0 HAVING count(*) >= t0
        |ORDER BY tok""".stripMargin,
    // Same backoff split and ratio shapes; DuckDB's 0.4 literal casts to
    // the identical double, each -ln rounds to 4dp into decimal.
    "text_lm_bigram" ->
      s"""WITH t AS ($dTokRows),
        |b AS (SELECT doc_id, tok AS w1,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM t),
        |p AS (SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL),
        |refdocs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |bg AS (SELECT w1, w2, count(*) AS c12
        |  FROM p JOIN refdocs USING (doc_id) GROUP BY 1, 2),
        |ug AS (SELECT tok AS w1, count(*) AS c1
        |  FROM t JOIN refdocs USING (doc_id) GROUP BY 1),
        |scal AS (SELECT sum(c1) AS n_ref, count(*) AS v_ref FROM ug),
        |sc AS (SELECT doc_id,
        |    CAST(round(-ln(CASE WHEN c12 IS NOT NULL
        |        THEN CAST(c12 AS DOUBLE) / c1
        |        ELSE 0.4 * CAST(coalesce(c2, 0) + 1 AS DOUBLE) /
        |          CAST(n_ref + v_ref AS DOUBLE) END), 4)
        |      AS DECIMAL(30,8)) AS nll
        |  FROM p LEFT JOIN bg USING (w1, w2) LEFT JOIN ug USING (w1)
        |  LEFT JOIN (SELECT w1 AS w2, c1 AS c2 FROM ug) u2 USING (w2),
        |  scal)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(nll) AS DOUBLE) / count(*) AS avg_nll
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_lm_score" -> dLmScore,
    // Nests the text_lm_score oracle verbatim (dLmScore — the engine side
    // reuses the declared lambda the same way), then the identical
    // ntile(3) over (avg_nll, doc_id) per lang; bucket means sum 6dp
    // decimal quanta.
    "curate_ccnet_buckets" ->
      s"""WITH sc AS (SELECT * FROM ($dLmScore)),
        |j AS (SELECT sc.doc_id, sc.n_tok, sc.avg_nll, d.lang,
        |    ntile(3) OVER (PARTITION BY d.lang
        |      ORDER BY sc.avg_nll, sc.doc_id) AS bucket_id
        |  FROM sc JOIN documents d USING (doc_id))
        |SELECT lang, bucket_id,
        |  CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok,
        |  round(CAST(sum(CAST(round(avg_nll, 6) AS DECIMAL(30,8)))
        |    AS DOUBLE) / count(*), 6) AS mean_nll
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same top-VocabTopK (count DESC, tok) vocab; OOV = left-join miss.
    "text_oov_rate" ->
      s"""WITH t AS (SELECT doc_id, lang, unnest($dToks) AS tok
        |  FROM documents),
        |v AS (SELECT tok, 1 AS inv FROM (
        |  SELECT tok, count(*) AS c FROM t WHERE lang = 'en' GROUP BY 1
        |  ORDER BY c DESC, tok LIMIT $VocabTopK)),
        |p AS (SELECT t.lang, t.tok, v.inv FROM t
        |  LEFT JOIN v ON t.tok = v.tok)
        |SELECT lang, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  count(DISTINCT CASE WHEN inv IS NULL THEN tok END)
        |    AS n_oov_types,
        |  round(CAST(sum(CASE WHEN inv IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_vocab" ->
      s"""WITH t AS ($dTokRows),
        |st AS (SELECT tok, count(*) AS cnt, count(DISTINCT doc_id) AS df
        |  FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |r AS (SELECT tok, cnt, df, n_docs, row_number() OVER
        |    (ORDER BY cnt DESC, tok) AS rk FROM st, n)
        |SELECT rk, tok, cnt, df,
        |  round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS idf
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "text_entropy" ->
      s"""WITH t AS ($dTokRows),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |nt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |    count(*) AS n_types FROM tf GROUP BY 1)
        |SELECT doc_id, n_tok, n_types,
        |  round(CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / n_tok)
        |    * ln(CAST(c AS DOUBLE) / n_tok), 6) AS DECIMAL(30,8)))
        |    AS DOUBLE), 6) AS entropy
        |FROM tf JOIN nt USING (doc_id)
        |GROUP BY doc_id, n_tok, n_types ORDER BY doc_id""".stripMargin,
    "bpe_pair_count" ->
      s"""WITH t AS ($dTokRows),
        |v AS (SELECT tok, count(*) AS freq FROM t
        |  WHERE len(tok) >= 2 GROUP BY 1),
        |px AS (SELECT tok, freq,
        |  unnest(generate_series(1, len(tok) - 1)) AS i FROM v),
        |p AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair, freq FROM px),
        |g AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p GROUP BY 1),
        |r AS (SELECT pair, n,
        |  row_number() OVER (ORDER BY n DESC, pair) AS rk FROM g)
        |SELECT rk, pair, n FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "text_js_divergence" ->
      s"""WITH t AS ($dTokRows),
        |cnt AS (
        |  SELECT tok,
        |    count(*) FILTER (doc_id % 2 = 0) AS cr,
        |    count(*) FILTER (doc_id % 2 = 1) AS cc
        |  FROM t GROUP BY 1),
        |w AS (
        |  SELECT tok, cr, cc,
        |    CAST(sum(cr) OVER () AS BIGINT) AS tr,
        |    CAST(sum(cc) OVER () AS BIGINT) AS tc
        |  FROM cnt),
        |z AS (
        |  SELECT tr, tc,
        |    CAST(round(
        |      CASE WHEN cr > 0 THEN (CAST(cr AS DOUBLE) / tr) *
        |        ln((CAST(cr AS DOUBLE) / tr) /
        |          ((CAST(cr AS DOUBLE) / tr + CAST(cc AS DOUBLE) / tc)
        |            / 2)) / 2 ELSE 0.0 END +
        |      CASE WHEN cc > 0 THEN (CAST(cc AS DOUBLE) / tc) *
        |        ln((CAST(cc AS DOUBLE) / tc) /
        |          ((CAST(cr AS DOUBLE) / tr + CAST(cc AS DOUBLE) / tc)
        |            / 2)) / 2 ELSE 0.0 END, 9) AS DECIMAL(30,10)) AS t
        |  FROM w)
        |SELECT count(*) AS vocab, tr AS n_ref_tokens, tc AS n_cur_tokens,
        |  round(CAST(sum(t) AS DOUBLE), 9) AS js_nats
        |FROM z GROUP BY tr, tc""".stripMargin,
    "dq_drift_ks" ->
      """WITH cnt AS (SELECT n_chars,
        |    count(*) FILTER (doc_id % 2 = 0) AS nr,
        |    count(*) FILTER (doc_id % 2 = 1) AS nc
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT n_chars,
        |    sum(nr) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
        |    sum(nc) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
        |    sum(nr) OVER () AS tr, sum(nc) OVER () AS tc
        |  FROM cnt)
        |SELECT n_chars AS at_value,
        |  abs(CAST(cr AS DOUBLE)/tr - CAST(cc AS DOUBLE)/tc) AS ks_stat,
        |  CAST(tr AS BIGINT) AS n_ref, CAST(tc AS BIGINT) AS n_cur
        |FROM cum
        |ORDER BY ks_stat DESC, n_chars LIMIT 1""".stripMargin,
    "dq_drift_psi" ->
      """WITH ref AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
        |cur AS (SELECT n_chars FROM documents WHERE doc_id % 2 = 1),
        |e AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM ref),
        |hr AS (SELECT least(9, greatest(0, n_chars - lo) * 10
        |    // (hi - lo + 1)) AS bucket, count(*) AS n_ref
        |  FROM ref, e GROUP BY 1),
        |hc AS (SELECT least(9, greatest(0, n_chars - lo) * 10
        |    // (hi - lo + 1)) AS bucket, count(*) AS n_cur
        |  FROM cur, e GROUP BY 1),
        |sp AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bucket
        |  FROM e WHERE lo IS NOT NULL),
        |j AS (SELECT sp.bucket, coalesce(n_ref, 0) AS n_ref,
        |    coalesce(n_cur, 0) AS n_cur
        |  FROM sp LEFT JOIN hr USING (bucket) LEFT JOIN hc USING (bucket)),
        |t AS (SELECT bucket, n_ref, n_cur, sum(n_ref) OVER () AS tr,
        |    sum(n_cur) OVER () AS tc FROM j)
        |SELECT bucket, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  round((CAST(n_ref + 1 AS DOUBLE) / (tr + 10)
        |      - CAST(n_cur + 1 AS DOUBLE) / (tc + 10))
        |    * ln((CAST(n_ref + 1 AS DOUBLE) / (tr + 10))
        |      / (CAST(n_cur + 1 AS DOUBLE) / (tc + 10))), 6) AS psi_term
        |FROM t ORDER BY bucket""".stripMargin,
    "dq_outlier_mad" ->
      """WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY 1),
        |mad AS (SELECT d.source, med,
        |    quantile_cont(abs(n_chars - med), 0.5) AS mad
        |  FROM documents d JOIN med USING (source) GROUP BY 1, 2)
        |SELECT d.source, doc_id, n_chars, med, mad
        |FROM documents d JOIN mad USING (source)
        |WHERE abs(n_chars - med) > 3 * mad
        |ORDER BY source, doc_id""".stripMargin
  )
}
