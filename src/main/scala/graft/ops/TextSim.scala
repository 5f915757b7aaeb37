package graft.ops

import graft.Q
import graft.Tables._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.J / builder brief):
  * tokenization, word counts, quality scoring, language ID, fingerprinting,
  * exact + near-duplicate detection (hash, n-gram Jaccard, MinHash+LSH),
  * and vector similarity (cosine, exact top-k, LSH-bucketed top-k) over the
  * `documents` (doc_id, text, lang, source, n_chars) and `embeddings`
  * (vec_id, 64-d float array, label) tables.
  *
  * Design rules:
  *  - Everything is built-in higher-order functions (`transform`, `aggregate`,
  *    `zip_with`, `filter`) and codegen'd scalar functions — zero UDFs in the
  *    data path, so Catalyst sees through every expression.
  *  - Vector math casts float elements to double FIRST and folds
  *    sequentially, exactly like the paired DuckDB oracle, so scores agree
  *    bit-for-bit and rankings are stable across engines.
  *  - Portable hashing for oracle-checked dedup: sha256-derived 60-bit ints
  *    (`conv(substr(sha2(...),1,15),16,10)`) — deterministic in both engines.
  *    At 100 TB swap in xxhash64 (one line) — same plan shape, cheaper hash;
  *    the sha form exists so the DuckDB oracle can replay it.
  *
  * Scale posture (the 100 TB story, per operator):
  *  - tokenize/wordcount/quality/langid/fingerprint: map-side only (narrow),
  *    then one shuffle for the word-count groupBy. Linear, no skew risk
  *    beyond token frequency (a hot word is one reducer key — counts are
  *    map-side combined first).
  *  - dedup_hash: shuffle-distinct on a 256-bit key; uniform by construction.
  *  - dedup_ngram_jaccard: inverted-index join on 3-gram shingles (NOT an
  *    all-pairs cross join) — cost is Σ_g df(g)², the standard
  *    candidate-pair bound; 3-grams keep df(g) small. The stop-shingle
  *    guard (df(g) <= StopShingleDf, enforced in the plan and mirrored in
  *    the oracle) caps any one reducer key at τ² pairs regardless of
  *    corpus size, and df = 1 shingles skip the join entirely.
  *  - dedup_minhash: 16-perm signature, 4 bands × 4 rows LSH — candidate
  *    pairs only from band-key collisions; verification on the 16-slot
  *    signatures, never the raw text. This is the linear-ish scale path.
  *  - sim_cosine / sim_topk: probes are broadcast (small side), candidates
  *    stream through one scan — k·N work, no N² pair blowup. Top-k is
  *    two-phase: per-input-partition row_number prune to k, then global
  *    row_number over ≤ k·partitions rows per probe — no single task ever
  *    sorts a whole probe's candidate set.
  *  - sim_topk_lsh: sign-random-projection buckets (8 tables × 4 bits)
  *    prune candidates before exact re-rank — the ANN path when the probe
  *    set itself is large. Deterministic, hence an exact oracle row
  *    (r11); TextSimSpec still asserts recall vs the exact path.
  *  - dedup_embed: blocked on `label` (pre-assigned cluster/shard key), so
  *    pairs are generated per-block — the blocking pattern that keeps exact
  *    near-dup search feasible at scale.
  *
  * The near-dup family defines each relation it shares once per engine:
  * the capped shingle overlap ([[shingleOverlap]] / `dShingleOverlap`),
  * the Jaccard >= 0.5 truth ([[ngramJaccardOf]] / `dJaccardTruth`), the
  * precision/recall tally ([[confusion]] and [[rates]] / `dRates`) and
  * the dup clusters ([[Graph.dupClusters]] / `Graph.dDupClusters`).
  */
object TextSim {

  // toks / h60 / dot and their DuckDB mirrors live in the ops package
  // object — one home for the cross-engine tokenization + hash contract.

  private val NumHashes = 16
  private val Bands = 4 // 4 bands x 4 rows

  /** (bands, rows-per-band) configs dedup_band_sweep grades — every legal
    * factorization of the 16-perm signature except (16,1), whose
    * single-value bucket key has stop-shingle-like unbounded collision
    * classes (the sweep refuses configs whose worst bucket grows without
    * bound), and (1,16), which only ever fires on exact signature equality
    * (strictly dominated by the exact-hash dedup operator). */
  private[ops] val BandSweepCfgs: Seq[(Int, Int)] =
    Seq((2, 8), (4, 4), (8, 2))

  /** Stop-shingle document-frequency cap for dedup_ngram_jaccard: shingles
    * appearing in more than this many documents are dropped from the
    * Jaccard universe before the inverted-index self-join (each such
    * shingle costs df² candidate pairs on a single reducer key). 1000 caps
    * any one key at ~10⁶ pairs — a single-task workload — independent of
    * corpus size. The declared query is pinned to this constant — the
    * DuckDB oracle hardcodes the same value, so the two can never diverge
    * (there is deliberately NO runtime knob on the declared path); tests
    * exercise other caps through `ngramJaccard`'s explicit tau parameter. */
  private[ops] val StopShingleDfDefault = 1000

  /** Distinct word n-gram shingle ROWS (doc_id, g) via the native
    * [[graft.functions.NGramGenerator]] UDTF: each n-gram is built once,
    * partition-locally, inside GenerateExec — no shuffle before the final
    * distinct. Two rejected formulations, both measured slower:
    *  - transform-inside-transform HOFs re-inline the tokenizer into every
    *    lambda iteration after projection collapse (240µs/hash interpreted
    *    vs ~1µs) and fall out of whole-stage codegen (round-2 trap);
    *  - posexplode + window-lead (rounds 2–7) is flat codegen but pays an
    *    extra full shuffle to co-locate each doc's token rows for the lead
    *    window — the Generator reads the token array in place, which
    *    removed that exchange and measured ~2× faster on dedup_minhash.
    * Scale: fan-out is linear in corpus token count; distinct() on
    * (doc_id, g) is the one shuffle, same as before.
    */
  private[graft] def shingleRows(docs: org.apache.spark.sql.DataFrame, n: Int,
      carry: Seq[String] = Nil) =
    // `carry` names doc-level columns functionally dependent on doc_id
    // (e.g. lang) that ride the shingle rows so downstream aggregations can
    // key on them WITHOUT a join back to the fact table — the join-back
    // form needs either a fact-sized broadcast (driver OOM at 100 TB) or a
    // second full shuffle of the corpus. FD columns add zero groups to the
    // distinct().
    docs.select(col("doc_id") +: carry.map(col) :+
        graft.functions.NGramGenerator.ngrams(toks, n): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("ngram").as("g"): _*)
      .distinct()

  /** Universal-hash family for MinHash permutations: sig_j = (a_j·h + b_j)
    * mod P over the ONE sha-derived base hash h (reduced mod P = 2^31-1).
    * a_j < P and h mod P < P keep every product under 2^62 — no signed-64
    * overflow in either engine (DuckDB raises on BIGINT overflow, so this
    * bound is what makes the oracle mirror legal). Constants come from a
    * fixed-seed PRNG and are interpolated into the oracle SQL, so both
    * engines share them by construction. */
  private[ops] val MinHashP = 2147483647L // 2^31 - 1, prime
  private[ops] val hashAB: IndexedSeq[(Long, Long)] = {
    val r = new scala.util.Random(0x5eed)
    IndexedSeq.fill(NumHashes)(
      (r.nextInt((MinHashP - 1).toInt).toLong + 1L,
        r.nextInt(MinHashP.toInt).toLong))
  }

  /** (doc_id, sig[16]) MinHash signatures from shingle rows: ONE sha per
    * distinct shingle (the expensive part), then 16 cheap linear
    * permutations folded as 16 min-aggregate columns in a single groupBy —
    * one shuffle, map-side combined, no row multiplication. (Round 2
    * exploded 16 hash indices and sha'd each — 16× the sha cost and 16×
    * the shuffle rows; this form benchmarked ~3× faster end-to-end on
    * dedup_minhash at sf0.1. A hash-each-distinct-shingle-then-JOIN
    * variant was also benchmarked and LOST: the join shuffle costs more
    * than recomputing the base hash.)
    */
  private[graft] def sigTable(sh: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Nil) = {
    val base = sh.select(col("doc_id") +: carry.map(col) :+
      (h60(col("g")) % MinHashP).as("hm"): _*)
    val mins = hashAB.zipWithIndex.map { case ((a, b), j) =>
      min((col("hm") * a + b) % MinHashP).as(s"s$j")
    }
    base.groupBy("doc_id", carry: _*).agg(mins.head, mins.tail: _*)
      .select(col("doc_id") +: carry.map(col) :+
        array((0 until NumHashes).map(j => col(s"s$j")): _*).as("sig"): _*)
  }

  /** Per-ROW MinHash machinery — the SAME shingle universe, (a_j, b_j)
    * permutations and band layout as [[sigTable]]/[[bandRowsFromSigs]],
    * but computed map-side from one row's token array instead of via
    * explode + groupBy. This is the STREAMING form: a stream of arriving
    * docs signs each row with zero shuffle and zero pre-state (the
    * explode+groupBy batch form is an aggregation, which streaming cannot
    * place before a stateful operator), and the per-row values are
    * bit-identical to the batch signatures by construction (spec-pinned:
    * TextSimSpec compares them doc-for-doc). Batch plans should keep
    * using sigTable — one sha per DISTINCT shingle beats per-row
    * recompute when shingles repeat across the corpus. */
  private[graft] def perRowShingles(n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))

  private[graft] def perRowSig(sh: Column): Column = {
    // One sha per shingle, like sigTable: the shingles are pre-hashed by
    // a transform that is the aggregate's INPUT (evaluated once per
    // row), and the 16 linear permutations fold over the hashed values.
    // The naive form — 16 independent array_min(transform(sh, h60…))
    // columns — re-inlines the sha 16× per shingle after projection
    // collapse (measured: 3.3s for stream_dedup_minhash at sf0.1, sha
    // dominating; this form cut it to ~the banding join's cost). The
    // MinHashP seed in the accumulator is a safe identity for min: every
    // permuted value is strictly below it (mod P), and empty-shingle rows
    // are filtered before signing.
    val aLit = typedlit(hashAB.map(_._1))
    val bLit = typedlit(hashAB.map(_._2))
    val hm = transform(sh, g => h60(g) % MinHashP)
    aggregate(hm,
      typedlit(Seq.fill(NumHashes)(MinHashP)),
      (acc, h) => transform(sequence(lit(0), lit(NumHashes - 1)),
        j => least(element_at(acc, j + 1),
          (h * element_at(aLit, j + 1) + element_at(bLit, j + 1))
            % MinHashP)))
  }

  private[graft] def perRowBandKeys(sig: Column): Column =
    bandKeys(sig, Bands, NumHashes / Bands)

  /** The LSH band keys of signature `sig` cut into `b` bands of `r`
    * rows: band i's key is its r slots joined by ','. */
  private def bandKeys(sig: Column, b: Int, r: Int): Column =
    transform(sequence(lit(0), lit(b - 1)),
      bd => concat_ws(",", slice(sig, bd * r + 1, lit(r))))

  /** Signature-overlap estimate of two signature columns — the Column
    * form of [[sigEst]]. */
  private def estSim(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), v => v))
      .cast("double") / NumHashes

  /** (ia, ib, est_sim) of band collisions `coll` (ia, sa, ib, sb) that
    * clear the 0.5 floor. est_sim is computed per COLLISION ROW (cheap
    * 16-slot zip) and the floor applied BEFORE the distinct, so the
    * dedup shuffle carries only surviving pairs and three scalar
    * columns — not the two 16-long signature arrays, and not the
    * sub-threshold collisions that used to ride the exchange just to be
    * filtered after it (guide §2.3). Same rows: est_sim is a pure
    * function of (ia, ib), so filter∘distinct and distinct∘filter
    * agree, and per-pair rows collapse identically. */
  private def gatedPairs(coll: org.apache.spark.sql.DataFrame) =
    coll.withColumn("est_sim", estSim(col("sa"), col("sb")))
      .filter(col("est_sim") >= 0.5)
      .select("ia", "ib", "est_sim").distinct()

  /** Signature-overlap similarity estimate — matches/NumHashes, exact in
    * binary (NumHashes is a power of two), shared by the streaming
    * near-dup handler and its oracle mirror. */
  private[graft] def sigEst(a: Seq[Long], b: Seq[Long]): Double =
    a.zip(b).count { case (x, y) => x == y }.toDouble / NumHashes

  /** MinHash near-dup candidate pairs (ia < ib, est_sim >= 0.5) via LSH
    * banding over the 16-slot signatures — shared by dedup_minhash and the
    * composed dedup_pipeline. sigTable ends in an aggregation, so the
    * signatures materialize once behind an exchange and both join sides
    * read them.
    */
  private[graft] def minhashPairs(docs: org.apache.spark.sql.DataFrame) = {
    val bands = bandRowsFromSigs(sigTable(shingleRows(docs, 3)))
    gatedPairs(bandSide(bands, "ia", "sa")
      .join(bandSide(bands, "ib", "sb"), Seq("band", "key"))
      .filter(col("ia") < col("ib")))
  }

  /** Where the near-dup candidate EDGE store lives for a dataset dir —
    * the graph-diagnostic counterpart of the L40 signature store. The
    * key folds in the banding contract constants (NumHashes/Bands and
    * the 0.5 est_sim floor baked into [[minhashPairs]]) so a constant
    * change can never read a stale store from a previous build
    * ([[PersistedStore.dir]] owns the key scheme). */
  private[graft] def edgeStoreDir(d: String): String =
    PersistedStore.dir("edge",
      Seq(d, "minhash-edges", NumHashes, Bands, "0.5", "v1"))

  /** Idempotently materialize the near-dup candidate edge list
    * (minhashPairs' (ia, ib), ia < ib) as parquet — the write a curation
    * pipeline performs ONCE when the corpus is indexed. The seven graph
    * diagnostics (dedup_cc / dedup_cluster_stats / memorization_risk /
    * dedup_keep_best / graph_triangles / graph_core / graph_jaccard)
    * read this back instead of re-shingling + re-signing + re-banding
    * the corpus per query: at 100 TB the candidate derivation is the
    * dominant cost and is shared infrastructure, exactly like the L40
    * snapshot signatures — no diagnostic should pay it again. Contents
    * are deterministic (literal hash constants), so the DuckDB oracles'
    * in-SQL re-derivation still matches bit-for-bit; EdgeStoreSpec pins
    * store ≡ in-plan derivation and the graph queries' store reads.
    * Commit protocol (versioned key + atomic temp-dir publish) is
    * [[PersistedStore.ensure]]. */
  private[graft] def ensureEdgeStore(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    PersistedStore.ensure(s, edgeStoreDir(d)) { tmp =>
      minhashPairs(documents(s, d)).select(col("ia"), col("ib"))
        .write.mode("overwrite").parquet(s"$tmp/edges.parquet")
    }

  /** The candidate edge list read back from the persisted store. */
  private[graft] def minhashEdges(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val store = ensureEdgeStore(s, d)
    s.read.parquet(s"$store/edges.parquet")
  }

  /** Boundary between the "prior snapshot" index and the "new batch" for
    * the incremental-dedup shape: docs below are the already-curated
    * corpus, docs at/above are today's arrivals. Pinned into both the
    * declared query and its oracle (same contract style as
    * [[StopShingleDfDefault]]). */
  private[ops] val SnapshotBoundary = 250

  /** Where the snapshot signature store lives for a given dataset dir —
    * keyed by the dataset path so sf0.001/sf0.01/sf0.1 never collide,
    * PLUS the index-build contract (snapshot boundary, shingle width,
    * signature length, the h60 exact index) so a derivation change lands
    * in a fresh directory instead of reading a stale store out of the
    * persistent tmpdir ([[PersistedStore.dir]]). In production this is
    * the curated-corpus metadata location next to the snapshot itself;
    * the sandbox testdata dir is read-only, so the local stand-in lives
    * under java.io.tmpdir. */
  private[graft] def snapshotStoreDir(d: String): String =
    PersistedStore.dir("snapshot",
      Seq(d, "snapshot-index", SnapshotBoundary, "shingle3", NumHashes,
        "h60-exact", "v1"))

  /** Idempotently materialize the snapshot's dedup index — the write the
    * CURATION job performs once when the snapshot is published, replayed
    * here on first use: (a) the MinHash signature table (doc_id, sig) and
    * (b) the exact-dup h60 hash index, both as parquet. The incremental
    * query then reads these back instead of re-shingling snapshot text,
    * so per-batch cost scales with the BATCH while the store write
    * amortizes over every batch that follows. Commit protocol (versioned
    * key + atomic temp-dir publish, cross-process safe) is
    * [[PersistedStore.ensure]]. */
  private[graft] def ensureSnapshotStore(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    PersistedStore.ensure(s, snapshotStoreDir(d)) { tmp =>
      val index = documents(s, d).filter(col("doc_id") < SnapshotBoundary)
      sigTable(shingleRows(index, 3))
        .write.mode("overwrite").parquet(s"$tmp/sigs.parquet")
      index.select(h60(col("text")).as("ht")).distinct()
        .write.mode("overwrite").parquet(s"$tmp/exact.parquet")
    }

  /** Cross-corpus MinHash candidate pairs (index side × batch side) via
    * the same LSH banding as [[minhashPairs]], but with the two corpora
    * kept separate: only the BATCH is shingled-and-signed fresh; the
    * index signatures are computed once and, in the production shape,
    * would be READ from the signature store written at snapshot time —
    * incremental dedup's whole point is that the 100 TB corpus is never
    * re-hashed per daily batch. Band keys are per-doc deterministic, so
    * index×batch collisions here are bit-identical to the crossing subset
    * of a whole-corpus [[minhashPairs]] run (which is what the oracle
    * mirrors). Output: (ia ∈ index, ib ∈ batch, est_sim ≥ 0.5).
    */
  /** LSH band explosion over an ALREADY-COMPUTED signature table —
    * split out so the incremental path can feed signatures read back
    * from the snapshot store instead of re-shingling corpus text. */
  private[ops] def bandRowsFromSigs(sigs: org.apache.spark.sql.DataFrame) =
    sigs.select(col("doc_id"), col("sig"),
      posexplode(perRowBandKeys(col("sig"))).as(Seq("band", "key")))

  /** One join side of band rows: doc_id as `id`, sig as `sig`. */
  private def bandSide(bands: org.apache.spark.sql.DataFrame, id: String,
      sig: String) =
    bands.select(col("doc_id").as(id), col("sig").as(sig), col("band"),
      col("key"))

  private[graft] def minhashPairsBetween(
      index: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame) =
    minhashPairsBetweenSigs(sigTable(shingleRows(index, 3)),
      sigTable(shingleRows(batch, 3)))

  private[graft] def minhashPairsBetweenSigs(
      indexSigs: org.apache.spark.sql.DataFrame,
      batchSigs: org.apache.spark.sql.DataFrame) =
    gatedPairs(bandSide(bandRowsFromSigs(indexSigs), "ia", "sa")
      .join(bandSide(bandRowsFromSigs(batchSigs), "ib", "sb"),
        Seq("band", "key")))

  /** Every occurrence of a span that >= 2 DISTINCT docs share, from
    * `spans` (doc_id, span_idx, span): each occurrence reduces to its
    * [[h60]] hash map-side, so the span TEXT never shuffles — the
    * groupBy shuffles (hash, doc_id) only and the flag joins back on
    * the hash. dedup_span_flag's and dedup_span_sliding's shared tail. */
  private def flagRepeatedSpans(spans: org.apache.spark.sql.DataFrame) = {
    val hashed = spans
      .select(col("doc_id"), col("span_idx").cast("long").as("span_idx"),
        h60(col("span")).as("hs"))
    val repeated = hashed.groupBy("hs")
      .agg(countDistinct("doc_id").as("n_docs"))
      .filter(col("n_docs") >= 2)
    hashed.join(repeated, "hs")
      .select("doc_id", "span_idx", "hs", "n_docs")
      .orderBy("doc_id", "span_idx")
  }

  /** Full cosine — only for shapes where each vector appears once. In pair
    * generators, precompute per-vector norms first (normCol) so the sqrt
    * work is O(N), not O(pairs); `dotA/(nrmA*nrmB)` multiplies in the same
    * order as the oracle's sqrt(dot(a,a))*sqrt(dot(b,b)), so results stay
    * bit-identical. */
  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def normOf(e: Column): Column = sqrt(dot(e, e))

  /** Deterministic pseudo-random 64-d hyperplane for LSH table `t`, bit `b`
    * (splitmix-style), generated driver-side as a literal so the plan is
    * pure codegen. Shared by sim_topk_lsh, embedNearDupPairs, and
    * plans.AnnRewriteRule (which rebuilds the bucket from raw Catalyst
    * nodes — the Column DSL is unresolved until analysis, illegal in an
    * optimizer rule — but from these SAME planes, so rewrite and
    * hand-written ANN agree on buckets). */
  private[graft] def plane(t: Int, b: Int): Seq[Float] = {
    var x = (t * 16 + b + 1) * 0x9E3779B97F4A7C15L
    Seq.tabulate(64) { _ =>
      x ^= x >>> 30; x *= 0xBF58476D1CE4E5B9L
      x ^= x >>> 27; x *= 0x94D049BB133111EBL
      x ^= x >>> 31
      (((x & 0xFFFFL).toDouble / 65535.0) * 2.0 - 1.0).toFloat
    }
  }

  /** 4-bit sign-random-projection bucket of `e` for LSH table `t`.
    * `private[ops]`: Embeddings.semanticDupIds sub-blocks runaway
    * centroid cells with the same tables/planes. */
  private[ops] def signBucket(t: Int, e: Column): Column =
    (0 until 4).map { b =>
      (when(dot(e, typedlit(plane(t, b))) > 0, 1).otherwise(0)) * (1 << b)
    }.reduce(_ + _)

  /** Adaptive bucket WIDTH for a block of `cnt` members under `cap` (r11).
    *
    * Why fixed 4 bits is not enough at 100 TB: a candidate pair survives
    * if it collides in ANY of the 8 tables, and for uncorrelated vectors
    * P(collide in one 4-bit table) = 1/16, so the union keeps
    * 1−(15/16)⁸ ≈ 40% of ALL in-block pairs — measured exactly at the
    * decade (8.23M candidates / 20.0M in-label pairs = 0.41). That is a
    * 2.5× reduction, not a defeat of the n² term: a 1M-vector hot label
    * would still emit ~4·10¹¹ pairs. The fix is to spend MORE bits on
    * BIGGER blocks: with 2^bits ≥ cnt/cap buckets the expected bucket
    * population is ≤ cap, so the per-table pair mass is ≤ 8 · cnt·cap/2 —
    * LINEAR in cnt for a fixed cap, at every block size.
    *
    * bits = ceil(log2(cnt/cap)) clamped to [4, 16], computed INTEGER-ONLY
    * (ceil-div then bit_length via `length(bin(q-1))`) because a
    * float log2 can land on 0.99999… and flip the ceil differently per
    * engine — the DuckDB mirror [[dBucketBits]] is the same integer
    * spelling. Below 16·cap the clamp keeps today's 4 bits, so every
    * result at current test scales (decade included: 2000/1000 → q=2 →
    * clamps to 4) is bit-for-bit unchanged; only genuinely runaway blocks
    * get wider keys. Recall trade at width b per table is p^b with
    * p = 1 − θ/π (θ = angle): near-identical pairs (cos ≥ 0.9, p ≈ .909)
    * still collide in ≥1 of 8 tables with P ≈ 0.99 at b = 8 — the pairs
    * dedup keeps stay found; the 0.35–0.7 tail thins, same trade as
    * before, now size-independent. */
  private[ops] def bucketBits(cnt: Column, cap: Int): Column = {
    // ceil-div as floor((cnt+cap−1)/cap): one double division of exact
    // longs, floor'd — exact for any block a filesystem can hold (the
    // half-ulp flip needs cnt ≳ 2⁴³·cap); DuckDB mirrors with integer //
    val q = floor((cnt + lit(cap - 1)) / lit(cap)).cast("long")
    greatest(lit(4), least(lit(16), length(bin(q - 1)).cast("int")))
  }

  /** Width-masked 16-bit sign bucket: the key of table `t` at the
    * block's adaptive width. The first 4 planes (the [[signBucket]] set)
    * are evaluated unconditionally — bits ≥ 4 always — so a 4-bit key
    * equals signBucket exactly; planes 4..15 sit under a `bits > b`
    * guard, evaluated LAZILY (CASE branches don't run when the predicate
    * fails in codegen), because a bit b ≥ bits is masked to 0 anyway.
    * At the overwhelmingly common clamp floor (blocks ≤ 16·cap) this
    * computes 4 dim-sized dots per table, not 16 — the r12 fix for the
    * 4× plane-dot cost the unconditional r11 form paid everywhere
    * (dedup_semantic measured 1.28s → back near its pre-adaptive 0.62s).
    * VALUE-identical to mask-after-the-fact by construction: bit b
    * contributes iff b < bits in both spellings, so the DuckDB mirror
    * (full 16-bit key AND'd to the width) needs no change. */
  private[ops] def signBucketMasked(t: Int, e: Column, bits: Column): Column = {
    val low4 = (0 until 4).map { b =>
      (when(dot(e, typedlit(plane(t, b))) > 0, 1).otherwise(0)) * (1 << b)
    }.reduce(_ + _)
    (4 until 16).map { b =>
      when(bits > b,
        (when(dot(e, typedlit(plane(t, b))) > 0, 1).otherwise(0)) * (1 << b))
        .otherwise(0)
    }.foldLeft(low4)(_ + _)
  }

  /** DuckDB mirror of [[plane]] (t, b): the identical hyperplane, each
    * float emitted as its EXACT double value (Float→Double widening is
    * exact; Double.toString round-trips), so both engines dot against
    * bit-identical coefficients. */
  private def dPlane(t: Int, b: Int): String =
    plane(t, b).map(f => f.toDouble.toString).mkString("[", ",", "]")

  /** DuckDB mirror of [[signBucket]]: same ascending-index double fold
    * (dDot ≡ DotProductExpr, bit-identical since r2), same sign test,
    * same bit packing — the bucket assignment is therefore EXACTLY the
    * engine's, which is what makes the over-cap LSH path of
    * `dedup_embed` oracle-expressible rather than an approximation. A
    * sign flip would need |dot| below the fold's last-ulp error (~1e-13
    * relative) — measure-zero against hyperplane dots of O(1) spread. */
  private def dSignBucket(t: Int, e: String): String =
    (0 until 4).map { b =>
      s"(CASE WHEN ${dDot(e, dPlane(t, b))} > 0 THEN 1 ELSE 0 END)*${1 << b}"
    }.mkString(" + ")

  /** DuckDB mirror of [[bucketBits]]: integer ceil-div (`//`) and the
    * same bit_length-via-bin spelling — no float log2 anywhere, so the
    * width can never ceil differently across engines. */
  private def dBucketBits(cnt: String, cap: Int): String =
    s"GREATEST(4, LEAST(16, length(bin((($cnt + ${cap - 1}) // $cap) - 1))))"

  /** DuckDB mirror of [[signBucketMasked]]: full 16-bit key AND'd to the
    * adaptive width (variable shift is fine here; the MASK VALUE is what
    * must agree, and both spellings produce 2^bits − 1). */
  private def dSignBucketMasked(t: Int, e: String, bits: String): String = {
    val key16 = (0 until 16).map { b =>
      s"(CASE WHEN ${dDot(e, dPlane(t, b))} > 0 THEN 1 ELSE 0 END)*${1 << b}"
    }.mkString(" + ")
    s"(($key16) & ((1 << ($bits)) - 1))"
  }

  /** dedup_embed's declared contract constants — interpolated into BOTH
    * the Spark plan and the DuckDB oracle so there is no runtime knob to
    * diverge on (the StopShingleDf pattern). */
  private[ops] val EmbedBlockCap = 1000
  private[ops] val EmbedDupTau = 0.35

  /** Blocked embedding near-dup pairs with a bounded per-block cost.
    *
    * Labels with ≤ `blockCap` members do exact all-pairs inside the block —
    * at most cap² comparisons per block, by construction. Labels BIGGER
    * than the cap are sub-blocked by sign-LSH (8 tables, the same
    * deterministic hyperplanes as sim_topk_lsh) at an ADAPTIVE width:
    * [[bucketBits]] spends ceil(log2(cnt/cap)) bits (clamped [4,16]) so
    * the expected bucket population stays ≤ cap at ANY block size —
    * candidate pairs only come from same-(label, table, bucket)
    * collisions, bounding the over-cap pair stage at ~8·cnt·cap/2, LINEAR
    * in the block (r11; the r2–r10 fixed-4-bit form only cut all-pairs
    * ~2.5× once the 8-table union was accounted for — measured 0.41× at
    * the decade). Near-identical pairs (the ones dedup cares about) still
    * collide: cos ≥ 0.9 survives ≥1 of 8 tables with P ≈ 0.99 at 4 bits
    * and ≈ 0.99 at 8 bits (p_bit ≈ 0.909 ⇒ p⁸ ≈ 0.47 per table). Every
    * surviving candidate is verified with the exact cosine, so precision
    * is exact; recall inside oversized blocks is the documented LSH
    * trade, now size-independent.
    */
  private[graft] def embedNearDupPairs(
      e0: org.apache.spark.sql.DataFrame,
      blockCap: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val e = e0.select(col("vec_id"), col("label"), col("embedding"),
      normOf(col("embedding")).as("nrm"),
      count(lit(1)).over(Window.partitionBy("label")).as("cnt"))
    val small = e.filter(col("cnt") <= blockCap)
    val big = e.filter(col("cnt") > blockCap)

    val sa = small.select(col("label"), col("vec_id").as("ia"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val sb = small.select(col("label"), col("vec_id").as("ib"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val smallPairs = sa.join(sb, Seq("label")).filter(col("ia") < col("ib"))

    // adaptive width (r11): 2^bits ≥ cnt/cap buckets per table bounds the
    // expected bucket population at cap, making the over-cap pair stage
    // LINEAR in block size (see bucketBits' scaladoc for the union-of-8
    // math that fixed 4 bits loses). bits is constant within a label, so
    // keys never mix widths across the (label, tbl, key) join.
    // both self-join sides read the 32–128 plane dots per vector once
    val bl = materialize(big
      .withColumn("bits", bucketBits(col("cnt"), blockCap))
      .select(col("label"), col("vec_id"), col("embedding"),
        col("nrm"),
        posexplode(array((0 until 8).map(t =>
          signBucketMasked(t, col("embedding"), col("bits"))): _*))
          .as(Seq("tbl", "key"))))
    val ba = bl.select(col("label"), col("tbl"), col("key"),
      col("vec_id").as("ia"), col("embedding").as("ea"), col("nrm").as("na"))
    val bb = bl.select(col("label"), col("tbl"), col("key"),
      col("vec_id").as("ib"), col("embedding").as("eb"), col("nrm").as("nb"))
    val bigPairs = ba.join(bb, Seq("label", "tbl", "key"))
      .filter(col("ia") < col("ib"))
      .dropDuplicates("label", "ia", "ib")
      .select(col("label"), col("ia"), col("ea"), col("na"),
        col("ib"), col("eb"), col("nb"))

    smallPairs.unionByName(bigPairs)
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("ia"), col("ib"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("label", "ia", "ib")
  }

  private[graft] val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** DuckDB list literal of [[stopwords]]. */
  private[ops] lazy val dStopwords: String =
    stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  /** text_langid's marker lexicons, in priority (tiebreak) order. */
  private val LangMarkers = Seq(
    "en" -> Seq("the", "a", "and", "query"),
    "de" -> Seq("der", "die", "das", "batch"),
    "es" -> Seq("el", "la", "los", "data"),
    "fr" -> Seq("le", "les", "et", "table"))

  /** Per-language marker counts s_<lang> over exploded `tok` rows — one
    * codegen'd conditional sum each, so one aggregation pass counts all
    * four. */
  private def langScores: Seq[Column] = LangMarkers.map { case (l, ms) =>
    sum(when(col("tok").isin(ms: _*), 1).otherwise(0)).cast("long")
      .as(s"s_$l")
  }

  /** The argmax language over s_en..s_fr, ties to the earlier one. */
  private def langPred: Column =
    when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
      col("s_en") >= col("s_fr"), "en")
      .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
      .when(col("s_es") >= col("s_fr"), "es")
      .otherwise("fr").as("lang_pred")

  /** DuckDB mirror of [[langScores]]: (doc_id, lang, s_en..s_fr). */
  private lazy val dLangScores: String =
    "SELECT doc_id, lang, " + LangMarkers.map { case (l, ms) =>
      s"len(list_filter($dToks, t -> list_contains(" +
        ms.map(w => s"'$w'").mkString("[", ",", "]") + s", t))) AS s_$l"
    }.mkString(", ") + " FROM documents"

  /** DuckDB mirror of [[langPred]]. */
  private val dLangPred =
    """CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
      |    WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
      |    WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END""".stripMargin

  /** Inverted-index 3-gram Jaccard with an explicit stop-shingle cap.
    * The declared `dedup_ngram_jaccard` query pins tau =
    * StopShingleDfDefault — the same constant the DuckDB oracle
    * interpolates, so the two engines compute over the identical guarded
    * universe by construction (no runtime knob to diverge on); tests pass
    * small taus here directly to exercise the guard on fixtures. */
  private[graft] def ngramJaccard(s: org.apache.spark.sql.SparkSession,
      d: String, tau: Int): org.apache.spark.sql.DataFrame =
    ngramJaccardOf(documents(s, d), tau)

  private[graft] def ngramJaccardOf(docs: org.apache.spark.sql.DataFrame,
      tau: Int): org.apache.spark.sql.DataFrame =
    shingleOverlap(docs, tau)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("ia", "ib", "inter", "jaccard")
      .orderBy("ia", "ib")

  /** The capped 3-gram shingle overlap of every document pair that shares
    * a shingle: (ia < ib, inter = shared shingles, na, nb = each doc's
    * shingle count), all over the universe of shingles with df <= tau.
    * dedup_ngram_jaccard's Jaccard and dedup_containment's containment
    * are both ratios of these counts. */
  private def shingleOverlap(docs: org.apache.spark.sql.DataFrame,
      tau: Int): org.apache.spark.sql.DataFrame = {
    // Per-doc sizes join onto the PAIR AGGREGATE output, planned by stats
    // (no hint): the pair table is orders of magnitude smaller than the
    // posting self-join input, so the two size lookups ride on cheap
    // exchanges — AQE may legitimately broadcast sz at small SF and will
    // shuffle-join it at 100 TB, both scale-safe. (History: r8 pinned
    // broadcast(sz) — wrong at scale, sz grows with the corpus; the first
    // r9 cut carried n_sh on every posting row via a second doc_id window.
    // Joining sizes after the pair aggregate keeps the hot path skinny,
    // and with the packed pair key below the decade probe reads
    // 25.6s → 20.8s end-to-end.)
    // df via a map-side-combinable aggregate joined back, NOT a window
    // (r18 optimization round): count(*) OVER (PARTITION BY g) shuffles
    // every posting row by g AND sorts it inside WindowExec; the
    // aggregate form shuffles the same rows for the join but its build
    // side is the (g, df) table — partial-aggregated map-side, and
    // stats-planned like the sz joins below (AQE broadcasts it at small
    // SF, shuffle-joins at corpus scale; either way the WindowExec sort
    // is gone). The shingle distinct's exchange feeds both the df
    // aggregate and the probe side, so AQE reuses one materialization.
    // Same rows by construction: every posting's g is in dfTab
    // pre-filter, and the inner join keeps exactly df <= tau.
    // Measured (idle, median-of-7, sf0.1 isolated): dedup_ngram_jaccard
    // 2.33s -> 1.81s; the window form's decade cost was dominated by the
    // pair aggregate so the scale posture is unchanged.
    val sh0 = shingleRows(docs, 3)
    val dfTab = sh0.groupBy("g")
      .agg(count(lit(1)).as("df")).filter(col("df") <= tau)
    // corpus-sized, consumed three times (doc sizes + both join sides)
    val sh = reuse(sh0.join(dfTab, "g"))
    // sz counts df = 1 shingles too (the "informative-shingle"
    // denominator); only the join skips them, since a shingle in one
    // doc can never produce an ia < ib pair.
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val joinable = sh.filter(col("df") >= 2)
    val a = joinable.select(col("doc_id").as("ia"), col("g"))
    val b = joinable.select(col("doc_id").as("ib"), col("g"))
    // The intersection count aggregates a df²-sized pair stream into
    // nearly-unique (ia, ib) groups — the operator's true cost floor on a
    // duplication-heavy corpus (the salted decade probe counts 113M real
    // candidate pairs; a lossless PPJoin prefix filter was measured there
    // and still left 31M candidates — no shortcut exists below the real
    // candidate mass). Packing the pair into ONE long key (valid while
    // doc_id < 2^31, the documented id-width contract; shard the id space
    // beyond that) makes the 100M-group hash aggregate 1.7× faster than
    // the two-column grouping — measured 17.4s → 10.0s on the decade.
    a.join(b, Seq("g")).filter(col("ia") < col("ib"))
      .select((shiftleft(col("ia"), 32).bitwiseOR(col("ib"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("inter"))
      .select(shiftright(col("pk"), 32).as("ia"),
        col("pk").bitwiseAND(lit(4294967295L)).as("ib"), col("inter"))
      .join(sz.select(col("doc_id").as("ia"), col("n_sh").as("na")),
        Seq("ia"))
      .join(sz.select(col("doc_id").as("ib"), col("n_sh").as("nb")),
        Seq("ib"))
  }

  /** Grades a candidate pair set against a truth pair set, both keyed on
    * `keys`: one full outer join on the pair key, collapsed to one
    * confusion row (n_cand, n_truth, tp, fp, fn, precision, recall). Both
    * sides are candidate-bounded, never all-pairs. */
  private def confusion(cand: org.apache.spark.sql.DataFrame,
      truth: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame =
    cand.select(keys.map(col) :+ lit(1L).as("cin"): _*)
      .join(truth.select(keys.map(col) :+ lit(1L).as("tin"): _*), keys,
        "full_outer")
      .agg(
        sum(when(col("cin").isNotNull, 1L).otherwise(0L)).as("n_cand"),
        sum(when(col("tin").isNotNull, 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("cin").isNotNull && col("tin").isNotNull, 1L)
          .otherwise(0L)).as("tp"))
      .select(Seq(col("n_cand"), col("n_truth"), col("tp")) ++ rates: _*)

  /** fp, fn, precision and recall from n_cand, n_truth and tp. A ratio
    * over an empty side is NULL (try_divide), as in DuckDB, instead of
    * the ANSI divide-by-zero error a plain division raises. */
  private def rates: Seq[Column] = Seq(
    (col("n_cand") - col("tp")).as("fp"),
    (col("n_truth") - col("tp")).as("fn"),
    try_divide(col("tp").cast("double"), col("n_cand")).as("precision"),
    try_divide(col("tp").cast("double"), col("n_truth")).as("recall"))

  /** Precision/recall of the MinHash/LSH candidate pairs of `docs`
    * against their exact n-gram-Jaccard >= 0.5 truth. */
  private def minhashEval(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    confusion(minhashPairs(docs),
      ngramJaccardOf(docs, StopShingleDfDefault), Seq("ia", "ib"))

  val queries: Map[String, Q] = Map(
    // U1: tokenize + explode (UDTF shape) with 1-based position.
    "text_tokens" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "tok")))
        .select(col("doc_id"), col("tok"), (col("pos0") + 1).as("pos"))
        .orderBy("doc_id", "pos")),

    // Native Generator UDTF: word trigrams emitted row-by-row by
    // functions.NGramGenerator through GenerateExec (no intermediate
    // array-of-ngrams per row, unlike a transform(sequence(...)) HOF —
    // which also drops out of codegen; see the Generator's scaladoc). The
    // per-doc aggregate keeps the oracle row count bounded; docs with
    // fewer than 3 tokens generate nothing and are absent in both engines.
    "text_ngram_gen" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          graft.functions.NGramGenerator.ngrams(toks, 3))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("ngram")).as("n_unique"),
          min("ngram").as("first_gram"))
        .orderBy("doc_id")),

    // U2: corpus term frequency.
    "text_wordcount" -> ((s, d) =>
      documents(s, d)
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy("tok")),

    // Token counting: whitespace tokens + a BPE-ish regex segmentation
    // (letter runs | single digits | single punctuation) — the two standard
    // corpus-size estimators.
    "text_token_count" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws"),
          regexp_count(lower(col("text")), lit("[a-z]+|[0-9]|[^a-z0-9 ]"))
            .as("n_bpe"))
        .orderBy("doc_id")),

    // Quality scoring: length, punctuation ratio, stopword ratio, mean token
    // length, and a composite score. All ratios rounded at 6.
    "text_quality" -> ((s, d) => {
      val nTok = size(toks)
      val stopHits = size(filter(toks,
        t => array_contains(typedlit(stopwords), t)))
      val punct = regexp_count(lower(col("text")), lit("[^a-z0-9 ]"))
      val tokLenSum = aggregate(transform(toks, t => length(t)),
        lit(0), (acc, v) => acc + v)
      documents(s, d)
        .select(col("doc_id"),
          length(col("text")).as("n_chars_m"),
          nTok.as("n_tok"),
          // raw IEEE divisions — count ratios have dyadic denominators
          // that land on rounding midpoints (win_ntile class, r8)
          (stopHits.cast("double") / nTok).as("stop_ratio"),
          (punct.cast("double") / length(col("text"))).as("punct_ratio"),
          (tokLenSum.cast("double") / nTok).as("avg_tok_len"),
          (least(nTok.cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - punct.cast("double") / length(col("text"))))
            .as("quality_score"))
        .orderBy("doc_id")
    }),

    // Blocklist screening — the lexicon-based content filter every curation
    // pipeline runs (toxicity/spam/PII term lists). Shaped for REAL
    // lexicons (10⁴–10⁵ terms): the blocklist is a TABLE equi-joined
    // against the exploded token stream, not an in-expression literal the
    // way text_quality's 6-word stopword HOF is — a 100k-term list won't
    // inline into codegen, but broadcasts fine (it's a fixed-size model
    // parameter, not corpus-scaling, so the explicit hint is legitimate —
    // contrast the banned per-doc broadcasts in PlanAuditSpec). Hit
    // counting is a map-side-combined per-doc aggregate; the left join
    // back restores zero-hit docs. Ratios are raw IEEE divisions of
    // identical integers (win_ntile contract).
    "text_blocklist" -> ((s, d) => {
      import s.implicits._
      val lex = Seq("slow", "big", "merge", "filter").toDF("term")
      val docs = documents(s, d)
      val hits = docs
        .select(col("doc_id"), explode(toks).as("tok"))
        .join(broadcast(lex), col("tok") === col("term"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      docs.select(col("doc_id"), size(toks).cast("long").as("n_toks"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
        .withColumn("hit_rate",
          col("n_hits").cast("double") / col("n_toks"))
        .withColumn("flagged", col("hit_rate") > 0.05)
        .orderBy("doc_id")
    }),

    // Quality-classifier APPLY — the model-scoring step of a CCNet/
    // FineWeb-style curation pipeline: a trained linear model (weights
    // frozen here as literals, exactly how a reviewed model config ships)
    // over the text_quality feature vector, producing a keep/drop gate.
    // Pure map-side projection — the shape holds for any linear/logistic
    // scorer at 100 TB. Determinism: features are IEEE ratios of identical
    // exact integers, z is one fixed-order dot product of identical
    // doubles (drift-free), and the KEEP decision tests z ≥ 0 — the
    // sigmoid's only monotone threshold — so the gate never sits on a
    // libm boundary; the displayed sigmoid score is round(…,6) like every
    // exp/ln surface (text_entropy contract).
    "curate_classifier" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), classifierZ.as("z"))
        // z quantized at 6dp BEFORE the gate — multiply-add chains are
        // exactly the surface a vectorized engine may FMA-contract (the
        // ts_acf lesson), so gating on raw z would let a z within ~1 ulp
        // of 0 flip keep between engines; 6dp absorbs the wobble on gate
        // and display alike (ADVICE r9). The oracle mirrors the same
        // round-then-compare.
        .select(col("doc_id"), round(col("z"), 6).as("z"),
          round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))
        .withColumn("keep", col("z") >= 0)
        .orderBy("doc_id")
    }),

    // Candidate-generator EVAL harness: precision/recall of the MinHash/
    // LSH candidate set against the exact n-gram-Jaccard ≥ 0.5 truth —
    // the dataset-card number every dedup CONFIG decision (bands, perms,
    // thresholds) is judged by, computed as a first-class query instead
    // of a hidden spec. Both sides are the engine's own declared
    // operators (dedup_minhash's pair generator, dedup_ngram_jaccard's
    // truth), full-outer-joined on the pair key and collapsed to one
    // confusion row. Scale: the join is keyed on (ia, ib) — both sides
    // are candidate-bounded, never all-pairs; precision/recall are IEEE
    // divisions of exact longs. The TRUTH side costs what exact truth
    // costs (it inherits dedup_ngram_jaccard's documented super-linearity
    // on duplication-saturated corpora — 22.7× on the salted 10× decade);
    // at 100 TB run the harness over a sample_hash slice of documents —
    // precision/recall are ratio estimates, and hash sampling keeps both
    // sides consistent on the same sub-corpus.
    "dedup_minhash_eval" -> ((s, d) => minhashEval(documents(s, d))),

    // The eval harness's 100 TB form, executable: BOTH sides run over the
    // SAME hash-sampled sub-corpus (h60 mod 4 == 0, ~25%), so the exact
    // truth side's super-linear cost is paid on a controllable slice and
    // the reported precision/recall are ratio estimates over it.
    // Content-stable sampling (sample_hash's property) makes the estimate
    // reproducible run-to-run; candidate and truth stay consistent
    // because they see the identical documents.
    "dedup_minhash_eval_sampled" -> ((s, d) =>
      minhashEval(documents(s, d)
        .filter(pmod(h60(concat(lit("eval"), col("doc_id"))), lit(4)) === 0))),

    // LSH banding-config sweep (the MinHash analog of ivf_nprobe_sweep):
    // the SAME 16-perm signature table banded three ways — (bands, rows)
    // ∈ {(2,8), (4,4), (8,2)} — and each config graded against the one
    // exact n-gram-Jaccard ≥ 0.5 truth: raw collision pairs (the scan
    // cost a config buys), gated candidates (est_sim ≥ 0.5, what the
    // pipeline would emit), tp/fp/fn, precision, recall. This is the
    // table a dedup config review reads before choosing b — the S-curve
    // trade (more bands → higher recall, more collisions) measured on
    // the actual corpus instead of assumed from 1−(1−s^r)^b. One
    // signature pass feeds all configs (sigTable ends in an aggregation,
    // so it materializes once behind its exchange); the per-config band
    // explosion adds 2+4+8 rows per doc; each candidate join is the
    // declared operator's own LSH equi join on (cfg, band, key). A
    // (16,1) config is deliberately excluded: its bucket key is a single
    // hash value whose collision classes are stop-shingle-like unbounded
    // (df² pairs on one reducer key, the exact failure StopShingleDf
    // caps) — a sweep should not run a config whose worst bucket grows
    // without bound. Truth side costs what exact truth costs (the
    // dedup_minhash_eval trade); at 100 TB run the sweep over the
    // _sampled sub-corpus recipe. n_truth is a 1-row aggregate crossed
    // into the 3 config rows (mix_resample shape).
    "dedup_band_sweep" -> ((s, d) => {
      val docs = documents(s, d)
      val sig = sigTable(shingleRows(docs, 3))
      val bandRows = BandSweepCfgs.map { case (b, r) =>
        sig.select(lit(b).as("bands"), col("doc_id"), col("sig"),
          posexplode(bandKeys(col("sig"), b, r)).as(Seq("band", "key")))
      }.reduce(_ union _)
      val l = bandRows.select(col("bands"), col("band"), col("key"),
        col("doc_id").as("ia"), col("sig").as("sa"))
      val r = bandRows.select(col("bands"), col("band"), col("key"),
        col("doc_id").as("ib"), col("sig").as("sb"))
      // est_sim computed per collision row BEFORE the distinct (the
      // minhashPairs reorder) so the dedup exchange carries four scalars
      // instead of two 16-long arrays; no threshold filter here — the
      // sweep counts sub-0.5 collisions (n_coll) by design. Same rows.
      val coll = l.join(r, Seq("bands", "band", "key"))
        .filter(col("ia") < col("ib"))
        .withColumn("est_sim", estSim(col("sa"), col("sb")))
        .select("bands", "ia", "ib", "est_sim").distinct()
      // PROBED AND REVERTED (r19, the graph_modularity discipline): the
      // r18 verdict suggested hoisting this config-independent truth
      // table behind one bounded checkpoint shared by the grade join and
      // the n_truth scalar. Measured isolated median-of-7 at sf0.1 on an
      // idle host: no checkpoint 3.49s, `cut` 4.43s, `materialize`
      // 5.49s — the checkpoint LOSES ~1-2s. Why: (a) the truth
      // subtree is already executed once — ngramJaccard's persisted
      // shingle table plus runtime exchange reuse share the derivation
      // between both consumers (the committed plan shows one subtree
      // with repeated operator ids); (b) a LogicalRDD leaf has no stats,
      // so AQE stops broadcasting the tiny truth side of the grade join
      // and the full collision set pays a sort-merge shuffle instead.
      val truth = ngramJaccard(s, d, StopShingleDfDefault)
        .select(col("ia"), col("ib"), lit(1L).as("tin"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      coll.join(truth, Seq("ia", "ib"), "left")
        .groupBy("bands")
        .agg(count(lit(1)).as("n_coll"),
          sum(when(col("est_sim") >= 0.5, 1L).otherwise(0L)).as("n_cand"),
          sum(when(col("est_sim") >= 0.5 && col("tin").isNotNull, 1L)
            .otherwise(0L)).as("tp"))
        .crossJoin(broadcast(nTruth))
        .select(Seq(col("bands"),
          (lit(NumHashes) / col("bands")).cast("int").as("rows_per_band"),
          col("n_coll"), col("n_cand"), col("tp")) ++ rates: _*)
        .orderBy("bands")
    }),

    // Corpus boilerplate inventory: the top-20 3-gram shingles by
    // document frequency with their corpus share — the table that
    // surfaces nav bars, cookie banners and license headers BEFORE any
    // pair-generating dedup runs (a shingle in 30% of docs is template
    // text, and it is exactly what StopShingleDf must cap — this query
    // is the empirical view behind that constant). Reuses the DECLARED
    // shingle builder, one groupBy(g) + TakeOrderedAndProject top-20
    // (two-phase, per-partition heads only — never a global sort), then
    // the 1-row doc-count cross into 20 rows. The (df DESC, g) order key
    // is fully deterministic (g unique per group). Flag threshold 5%
    // mirrors as the same literal in both engines.
    "text_boilerplate" -> ((s, d) => {
      val docs = documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      shingleRows(docs, 3)
        .groupBy("g").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("g"))
        .limit(20)
        .crossJoin(broadcast(nDocs))
        .select(col("g").as("shingle"), col("df"),
          (col("df").cast("double") / col("n_docs")).as("doc_share"),
          (col("df").cast("double") / col("n_docs") > 0.05).as("flagged"))
        .orderBy(col("df").desc, col("shingle"))
    }),

    // Language ID: marker-lexicon frequency heuristic with a deterministic
    // priority tiebreak (en > de > es > fr). The lexicons are illustrative;
    // the operator shape (frequency of language-marker tokens, argmax) is
    // the standard n-gram heuristic.
    "text_langid" -> ((s, d) => {
      // One exploded-token aggregation pass computes all four marker counts
      // (codegen'd conditional sums); the argmax CASE then runs over the
      // aggregated COLUMNS. Spelling the scores as per-doc array HOFs
      // instead re-inlines the tokenizer into every score reference after
      // projection collapse (~5x the work, interpreted).
      val docs = documents(s, d)
      // `lang` rides the exploded rows into the groupBy key (functionally
      // dependent on doc_id, so zero extra groups) — annotating the result
      // with the stored label costs nothing. The previous form joined back
      // to broadcast(docs.select(doc_id, lang)): a hinted broadcast of a
      // fact-table projection, i.e. a driver OOM at 100 TB.
      val scores = docs
        .select(col("doc_id"), col("lang"), explode(toks).as("tok"))
        .groupBy("doc_id", "lang")
        .agg(langScores.head, langScores.tail: _*)
      scores
        .select(col("doc_id"), col("lang"),
          col("s_en"), col("s_de"), col("s_es"), col("s_fr"), langPred)
        .orderBy("doc_id")
    }),

    // Language-ID confidence margin (L115): text_langid's marker scores
    // plus the CALIBRATION a routing decision needs — margin = top1 −
    // top2 marker count and an `ambiguous` flag (margin ≤ 1 or fewer
    // than 3 marker hits total). Real pipelines route low-margin docs
    // (mixed-language pages, boilerplate) to a heavier classifier or the
    // discard pile rather than trusting the argmax; this emits that
    // routing signal from the SAME one-pass conditional-sum aggregation
    // (integer-only end-to-end, so the oracle is exact with no float
    // contract at all). Scale: identical plan to text_langid — one
    // exploded-token aggregation, map-side combinable; the top-2 runs
    // over a 4-element array per ROW, not a window.
    "text_langid_margin" -> ((s, d) => {
      val scores = documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id")
        .agg(langScores.head, langScores.tail: _*)
      val sorted = reverse(sort_array(
        array(col("s_en"), col("s_de"), col("s_es"), col("s_fr"))))
      scores
        .select(col("doc_id"), langPred,
          sorted.getItem(0).as("top1"),
          sorted.getItem(1).as("top2"),
          (sorted.getItem(0) - sorted.getItem(1)).as("margin"),
          (col("s_en") + col("s_de") + col("s_es") + col("s_fr"))
            .as("evidence"),
          (sorted.getItem(0) - sorted.getItem(1) <= 1 ||
            col("s_en") + col("s_de") + col("s_es") + col("s_fr") < 3)
            .cast("int").as("ambiguous"))
        .orderBy("doc_id")
    }),

    // Document fingerprint: polynomial rolling hash over portable per-token
    // values (len*31 + first-char code), mod 1e9+7 — order-sensitive, so
    // re-ordered docs get different prints (unlike a bag-of-words hash).
    "text_fingerprint" -> ((s, d) => {
      val vals = transform(toks, t => (length(t) * 31 + ascii(t)).cast("long"))
      documents(s, d)
        .select(col("doc_id"),
          aggregate(vals, lit(0L),
            (acc, v) => (acc * 1000003L + v) % 1000000007L).as("fp"))
        .orderBy("doc_id")
    }),

    // U3: exact dedup via content hash — groupwise min keeps the result
    // deterministic even when true duplicates exist.
    "dedup_hash" -> ((s, d) =>
      documents(s, d)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("h")),

    // Near-dup detection: 3-gram shingle Jaccard >= 0.5 via inverted-index
    // join (cost Σ_g df(g)² — never an all-pairs cross join). Pairs with
    // zero shared shingles have J=0 and are correctly absent.
    //
    // Stop-shingle guard (the 100 TB skew bound): a shingle shared by df
    // documents contributes df² candidate pairs to ONE reducer key — one
    // boilerplate phrase across 1% of a 100 TB corpus is a quadratic hot
    // key. Shingles with df > StopShingleDf are dropped from the universe
    // BEFORE the join (and from n_sh, so Jaccard is over the guarded
    // universe — the DuckDB oracle mirrors the identical filter, so parity
    // holds by construction). df comes from a map-side-combinable (g, df)
    // aggregate joined back onto the postings (r18 — see shingleOverlap's
    // note; the earlier count-over-window pass and its WindowExec sort
    // are gone). df = 1 rows additionally skip the join: a shingle
    // in exactly one doc can never produce an ia < ib pair (result-neutral
    // prune that typically halves the join input).
    "dedup_ngram_jaccard" -> (ngramJaccard(_, _, StopShingleDfDefault)),

    // SimHash near-dup: 60-bit fingerprints from token-frequency-weighted
    // sha hashes; candidate pairs from 4x15-bit band blocking, verified by
    // hamming distance <= 3. The blocking is EXACT here by pigeonhole: 3
    // differing bits cannot touch all 4 bands, so every qualifying pair
    // shares at least one band — linear-ish candidate generation with zero
    // recall loss, the classic simhash trick.
    "dedup_simhash" -> ((s, d) => {
      val wtok = documents(s, d)
        .select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("w"))
        .withColumn("h", h60(col("tok")))
      // 60 weighted bit-sums as aggregate columns in ONE groupBy — no 60x
      // row explosion, one shuffle instead of two (r2 exploded bit indices:
      // doc-token rows x60 through two exchanges). fp values are unchanged,
      // so the DuckDB oracle needs no edit.
      val bitSums = (0 until 60).map(b =>
        sum(when(expr(s"(h >> $b) & 1") === 1, col("w"))
          .otherwise(-col("w"))).as(s"v$b"))
      val fp = wtok
        .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"),
          (0 until 60).map(b =>
            when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
            .reduce(_ + _).as("fp"))
      val bands = fp.select(col("doc_id"), col("fp"),
        posexplode(array((0 until 4).map(c =>
          expr(s"(fp >> ${c * 15}) & 32767")): _*)).as(Seq("c", "chunk")))
      val l = bands.select(col("doc_id").as("ia"), col("fp").as("fa"),
        col("c"), col("chunk"))
      val r = bands.select(col("doc_id").as("ib"), col("fp").as("fb"),
        col("c"), col("chunk"))
      // hamming computed per collision row and the <=3 gate applied
      // BEFORE the distinct (the minhashPairs reorder): far-apart
      // fingerprint collisions never ride the dedup exchange, and the
      // exchange carries (ia, ib, hamming) scalars, not both raw
      // fingerprints. Same rows: hamming is a pure function of the pair.
      l.join(r, Seq("c", "chunk")).filter(col("ia") < col("ib"))
        .withColumn("hamming", bit_count(col("fa").bitwiseXOR(col("fb"))))
        .filter(col("hamming") <= 3)
        .select(col("ia"), col("ib"), col("hamming").cast("long").as("hamming"))
        .distinct()
        .orderBy("ia", "ib")
    }),

    // MinHash + LSH near-dup: 16-perm signatures, 4 bands x 4 rows.
    // Candidate pairs come ONLY from band-key collisions; similarity is then
    // estimated from signature agreement (k/16). The banding join is the
    // linear-ish scale path — raw text never meets raw text.
    "dedup_minhash" -> ((s, d) =>
      minhashPairs(documents(s, d))
        .select(col("ia"), col("ib"), col("est_sim"))
        .orderBy("ia", "ib")),

    // Containment dedup (L50): Jaccard CONTAINMENT C(A,B) = |A∩B|/|A| —
    // the asymmetric signal symmetric Jaccard misses. A small doc fully
    // quoted inside a much larger one has tiny Jaccard (|A∩B|/|A∪B|) but
    // containment ≈ 1; C4-style boilerplate/quotation removal keys on
    // exactly this. Same inverted-index join and stop-shingle cap as
    // dedup_ngram_jaccard (Σ df(g)² bound, never all-pairs); emits pairs
    // where either direction's containment ≥ 0.8, with both directions
    // reported so the caller knows which side is the quoted one.
    "dedup_containment" -> ((s, d) =>
      shingleOverlap(documents(s, d), StopShingleDfDefault)
        // raw divisions (win_ntile dyadic-midpoint class): the 0.8
        // filter then compares bit-identical doubles in both engines
        .withColumn("c_ab",
          col("inter").cast("double") / col("na"))
        .withColumn("c_ba",
          col("inter").cast("double") / col("nb"))
        .filter(col("c_ab") >= 0.8 || col("c_ba") >= 0.8)
        .select("ia", "ib", "inter", "c_ab", "c_ba")
        .orderBy("ia", "ib")),

    // Span-level dedup (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", arXiv:2107.06499 — the ExactSubstr idea
    // discretized): docs are cut into consecutive 10-token spans and a
    // span appearing in >= 2 DISTINCT docs is flagged at every
    // occurrence — the sub-document repetition (licenses, boilerplate,
    // quoted passages) that whole-doc hashing can never see and MinHash
    // underweights. Cutting (not sliding) windows keep the blowup at
    // n_tokens/10 rows per doc instead of n_tokens. Scale: see
    // flagRepeatedSpans; collisions at 60 bits are ~2^-60 per pair — the
    // dedup_hash argument.
    "dedup_span_flag" -> ((s, d) => {
      val k = 10
      val spans = documents(s, d)
        .select(col("doc_id"), toks.as("tk"))
        .withColumn("n_spans", floor(size(col("tk")) / k).cast("int"))
        .filter(col("n_spans") >= 1)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), col("n_spans") - 1),
            i => array_join(slice(col("tk"), i * k + 1, lit(k)), " ")))
          .as(Seq("span_idx", "span")))
      flagRepeatedSpans(spans)
    }),

    // Sliding twin of dedup_span: a window at EVERY token position, so a
    // shared 10-token run is caught regardless of alignment — the cutting
    // variant misses a span that straddles a window boundary in one of
    // the two docs (its documented trade). Cost: n_tokens rows per doc
    // instead of n/10 — the 10× blowup is the price of alignment
    // invariance, so the cutting variant stays the default scan and this
    // is the escalation path for corpora where boilerplate offsets drift
    // (the Lee et al. suffix-array setting). Same skinny (hash, doc)
    // shuffle; emitted matches then collapse overlapping runs downstream.
    "dedup_span_sliding" -> ((s, d) => {
      val k = 10
      val spans = documents(s, d)
        .select(col("doc_id"), toks.as("tk"))
        .filter(size(col("tk")) >= k)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), size(col("tk")) - k),
            i => array_join(slice(col("tk"), i + 1, lit(k)), " ")))
          .as(Seq("span_idx", "span")))
      flagRepeatedSpans(spans)
    }),

    // Cross-source near-dup overlap matrix: the dataset-card analytic a
    // mixture designer reads before weighting sources — how much of source
    // A is (nearly) inside source B. Reuses the MinHash/LSH candidate
    // pairs and joins each side to its source tag; (least, greatest)
    // canonicalizes the unordered source pair. avg_sim accumulates through
    // the exact-decimal sum (est_sim is k/16 — exactly representable, but
    // the decimal quantum keeps the contract uniform). Scale: two
    // node-sized hash joins on the candidate-bounded pair set, then a
    // groupBy on a |sources|² key space — all linear past the banding.
    "overlap_sources" -> ((s, d) => {
      val docs = documents(s, d)
      val sa = docs.select(col("doc_id").as("ia"), col("source").as("srcTagA"))
      val sb = docs.select(col("doc_id").as("ib"), col("source").as("srcTagB"))
      minhashPairs(docs)
        .join(sa, "ia").join(sb, "ib")
        .select(least(col("srcTagA"), col("srcTagB")).as("source_a"),
          greatest(col("srcTagA"), col("srcTagB")).as("source_b"),
          col("est_sim"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          dsum(col("est_sim"), 6).as("sum_sim"))
        .orderBy("source_a", "source_b")
    }),

    // The composed training-data dedup pipeline as ONE declarative plan:
    // exact content-hash dedup (keep min doc_id per sha) followed by
    // near-dup removal (greedy keep-the-smaller-id over the MinHash pair
    // set — the standard first-wins heuristic; transitive chains keep
    // their head). Output = the surviving document ids.
    "dedup_pipeline" -> ((s, d) => {
      val docs = documents(s, d)
      val exactKeep = docs
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val drops = minhashPairs(docs).select(col("ib").as("doc_id")).distinct()
      exactKeep.join(drops, Seq("doc_id"), "left_anti").orderBy("doc_id")
    }),

    // Incremental dedup: today's batch (doc_id >= SnapshotBoundary) checked
    // against the already-curated snapshot (doc_id < SnapshotBoundary)
    // WITHOUT re-pairing the snapshot against itself — and WITHOUT
    // re-reading snapshot text: both index sides come from the parquet
    // signature store ensureSnapshotStore wrote when the snapshot was
    // curated (SnapshotStoreSpec plan-asserts that the only documents
    // scan touching `text` is the batch side). Exact dups via a semi-join
    // on the stored h60 index (60-bit sha prefix; the earlier (hash,
    // text) double-check needed snapshot text in the hot path — at one
    // collision per ~2⁶⁰ texts the hash alone carries exact semantics,
    // and the oracle's (hash AND text) form stays identical on any real
    // corpus); near-dups via the cross-corpus LSH banding over stored
    // signatures. Per-batch cost scales with the BATCH, not the corpus.
    // Output: each flagged new doc with its exact-dup flag and its count /
    // best score of near-dup snapshot partners.
    "dedup_incremental" -> ((s, d) => {
      val store = ensureSnapshotStore(s, d)
      val batch = documents(s, d).filter(col("doc_id") >= SnapshotBoundary)
      val idx = s.read.parquet(s"$store/exact.parquet")
      val exact = batch
        .join(idx, h60(batch("text")) === idx("ht"), "left_semi")
        .select(col("doc_id"), lit(1L).as("exact_dup"))
      val near = minhashPairsBetweenSigs(
        s.read.parquet(s"$store/sigs.parquet"),
        sigTable(shingleRows(batch, 3)))
        .groupBy(col("ib").as("doc_id"))
        .agg(count(lit(1)).as("n_near"), max(col("est_sim")).as("best_sim"))
      near.join(exact, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("exact_dup"), lit(0L)).as("exact_dup"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          coalesce(col("best_sim"), lit(0.0)).as("best_sim"))
        .orderBy("doc_id")
    }),

    // U4: cosine of every vector against the vec_id=0 probe (broadcast) —
    // explicit double fold so the oracle's identical fold agrees bitwise.
    "sim_cosine" -> ((s, d) => {
      // limit(1): no-op on the unique-keyed probe row, but makes the bound
      // structural for PlanAuditSpec's hinted-broadcast gate.
      val p = embeddings(s, d).filter(col("vec_id") === 0).limit(1)
        .select(col("embedding").as("p"), normOf(col("embedding")).as("pnrm"))
      embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"),
          normOf(col("embedding")).as("nrm"))
        .crossJoin(broadcast(p))
        .select(col("vec_id"), col("label"),
          round(dot(col("embedding"), col("p")) / (col("nrm") * col("pnrm")), 6)
            .as("cos_sim"))
        .orderBy("vec_id")
    }),

    // U5: exact top-5 neighbours for 10 broadcast probes. Two-phase top-k:
    // per-input-partition prune to 5 (parallel), then per-probe final
    // row_number over <= 5*partitions survivors. k·N work, no N² pairs.
    "sim_topk" -> ((s, d) => {
      val probes = embeddings(s, d).filter(col("vec_id") < 10).limit(10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"),
          normOf(col("embedding")).as("pnrm"))
      val scored = embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          normOf(col("embedding")).as("nrm"))
        .crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("cand_id"),
          (dot(col("embedding"), col("p")) / (col("nrm") * col("pnrm")))
            .as("cos"))
      val local = scored
        .withColumn("part", spark_partition_id())
        .withColumn("lrn", row_number().over(Window
          .partitionBy("probe_id", "part")
          .orderBy(col("cos").desc, col("cand_id"))))
        .filter(col("lrn") <= 5)
      Ivf.rankCandidates(local, 5)
    }),

    // ANN variant: sign-random-projection LSH (8 tables x 4 bits) prunes the
    // candidate set before the exact re-rank. "Approximate" only relative
    // to the exact top-k truth (TextSimSpec's recall assertion); the
    // algorithm is deterministic, so since r11 it is an EXACT oracle row
    // (the DuckDB mirror rebuilds the same buckets from the same plane
    // literals and replays candidate generation + re-rank verbatim).
    "sim_topk_lsh" -> ((s, d) => {
      val emb = embeddings(s, d)
      val buckets = emb.select(col("vec_id") +: col("embedding") +:
        (0 until 8).map(t => signBucket(t, col("embedding")).as(s"k$t")): _*)
      val bl = buckets.select(col("vec_id"), col("embedding"),
        posexplode(array((0 until 8).map(t => col(s"k$t")): _*))
          .as(Seq("tbl", "key")))
      val probes = bl.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"),
          col("tbl"), col("key"))
      val cands = probes.join(bl, Seq("tbl", "key"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("p"), col("vec_id").as("cand_id"),
          col("embedding")).distinct()
      Ivf.rankCandidates(cands.select(col("probe_id"), col("cand_id"),
        cosine(col("embedding"), col("p")).as("cos")), 5)
    }),

    // IVF ANN variant: data-adaptive coarse quantizer (DataFrame-native
    // Lloyd iterations), probes search their 3 nearest of 8 cells then
    // exact-re-rank. "Approximate" only vs the exact top-k truth
    // (TextSimSpec's recall assertion); the fit is deterministic —
    // lowest-id seeds, decimal-exact means, (d, cell)-keyed argmins — so
    // since r11 the ENTIRE pipeline (2 Lloyd iterations included) is
    // replayed by the DuckDB oracle as chained CTEs and the row is
    // exact-checked.
    "sim_topk_ivf" -> ((s, d) => {
      val emb = embeddings(s, d)
      val centroids = Ivf.fitCentroids(emb, k = 8, iters = 2)
      Ivf.search(emb, centroids,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 3)
    }),

    // IVF nprobe tuning curve (L112): recall@5 AND scan fraction for
    // nprobe ∈ {1, 2, 4} against the exact top-5 truth — THE
    // accuracy/cost trade-off table every deployed IVF index is tuned
    // from (FAISS's nprobe sweep): recall climbs toward 1 as nprobe→k
    // while scan_frac climbs toward a full scan, and the knee picks the
    // operating point. The truth side IS the declared sim_topk operator
    // (same lambda — the curate_ccnet_buckets reuse convention), the
    // candidate side IS Ivf.candidates, which `search` itself ranks, so
    // the sweep measures exactly the shipped answer path. Deterministic
    // end-to-end (the oracle replays the Lloyd fit via the shared
    // dIvfLloyd chain), hence an exact oracle row — the sim_rank_metrics
    // convention for eval harnesses. Scale: per nprobe the cost is the
    // audited sim_topk_ivf shape (nprobe/k of the corpus per probe);
    // counts close per probe-set, truth is 10×5 rows, and every division
    // is IEEE on exact longs.
    "ivf_nprobe_sweep" -> ((s, d) => {
      val emb = embeddings(s, d)
      val centroids = Ivf.fitCentroids(emb, k = 8, iters = 2)
      val truth = cut(queries("sim_topk")(s, d).select("probe_id", "cand_id"))
      val tn = truth.agg(count(lit(1)).as("n_truth")).limit(1)
      // ONE E-step, checkpointed, probed by all three configs (r18
      // optimization round — previously each config ran assign twice,
      // once in candidates and once in search: six full-corpus E-steps
      // for identical centroids). The index IS what a deployed IVF
      // stores, so this is the production read path; probes and the
      // corpus count are projections of the same materialization
      // (assign preserves every row). Per config the candidate rows are
      // computed once, checkpointed, and BOTH the scored-count and the
      // ranked top-5 read them — same rows, same (cos desc, cand_id)
      // order keys, so n_scored/recall are unchanged by construction.
      // corpus-sized: on a cluster, the stored IVF index table it stands for
      val indexed = cut(Ivf.index(emb, centroids))
      val probes = indexed.filter(col("cand_id") < 10)
        .select(col("cand_id").as("vec_id"), col("e").as("embedding"))
      val nc = indexed.agg(count(lit(1)).as("n_corpus")).limit(1)
      Seq(1, 2, 4).map { np =>
        val cand = cut(Ivf
          .candidatesFromIndex(indexed, centroids, probes, nprobe = np))
        val hits = Ivf.rankCandidates(cand, k = 5)
          .join(truth, Seq("probe_id", "cand_id"), "left_semi")
          .agg(count(lit(1)).as("hits")).limit(1)
        cand.agg(count(lit(1)).as("n_scored")).limit(1)
          .crossJoin(broadcast(hits))
          .select(lit(np).as("nprobe"), col("n_scored"), col("hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tn)).crossJoin(broadcast(nc))
        .select(col("nprobe"), col("n_scored"), col("hits"),
          round(col("hits").cast("double") / col("n_truth"), 6)
            .as("recall_at5"),
          round(col("n_scored").cast("double") /
            (lit(10L) * (col("n_corpus") - 1)), 6).as("scan_frac"))
        .orderBy("nprobe")
    }),

    // Embedding near-dup with label blocking and a bounded per-block cost:
    // exact all-pairs only inside blocks of ≤ EmbedBlockCap vectors;
    // bigger blocks fall to sign-LSH sub-bucketed candidates
    // (embedNearDupPairs above). The cap is part of the DECLARED
    // cross-engine contract, not a hidden approximation (r11): the oracle
    // mirrors BOTH paths — exact pairs under the cap, same-(label, table,
    // bucket) collision candidates above it, from bit-identical plane
    // dots — so the result matches the oracle at EVERY scale, including
    // decades where labels blow past the cap (the r8/r10 sweeps' sole
    // non-match row, green from r11 on). Against the exact all-pairs
    // TRUTH the over-cap path remains the documented LSH recall trade:
    // measured on the r8 sf1ish decade (labels ~10× over cap), 0
    // spurious pairs (every candidate is cosine-verified) at 91.8%
    // recall, concentrated on the near-identical pairs dedup keeps
    // (collision prob ≈ 1-(1-s⁴)⁸ rises steeply in s).
    "dedup_embed" -> ((s, d) =>
      embedNearDupPairs(embeddings(s, d), blockCap = EmbedBlockCap,
        threshold = EmbedDupTau)),

    // Candidate-generator eval for the EMBEDDING near-dup path (r11) —
    // L79's harness pointed at sign-LSH instead of MinHash banding: one
    // confusion row scoring the 8-table collision candidate set against
    // the exact label-blocked cosine ≥ τ truth. This turns dedup_embed's
    // prose recall claim ("~91.8% at the r8 decade") into a declared,
    // oracle-checked, rerunnable number — the figure a bands/bits/cap
    // config decision is judged by. Both sides are deterministic (the
    // planes are literals, the dot fold is the bit-identical contract),
    // so unlike most eval harnesses this one has an EXACT oracle.
    // Scale: the candidate side is the inverted-index LSH join (linear-
    // ish in collisions); the truth side costs what exact truth costs —
    // super-linear inside big labels, the dedup_minhash_eval trade; at
    // 100 TB run both sides over the same hash-sampled sub-corpus
    // exactly as dedup_minhash_eval_sampled prescribes.
    "dedup_embed_eval" -> ((s, d) => {
      // e: both truth sides and the bucketing; bl: both candidate sides
      val e = materialize(embeddings(s, d).select(col("vec_id"),
        col("label"), col("embedding"), normOf(col("embedding")).as("nrm"),
        count(lit(1)).over(Window.partitionBy("label")).as("cnt")))
      val ta = e.select(col("label"), col("vec_id").as("ia"),
        col("embedding").as("ea"), col("nrm").as("na"))
      val tb = e.select(col("label"), col("vec_id").as("ib"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val truth = ta.join(tb, Seq("label")).filter(col("ia") < col("ib"))
        .filter(dot(col("ea"), col("eb")) / (col("na") * col("nb"))
          >= EmbedDupTau)
      val bl = materialize(e
        .withColumn("bits", bucketBits(col("cnt"), EmbedBlockCap))
        .select(col("label"), col("vec_id"),
          posexplode(array((0 until 8).map(t =>
            signBucketMasked(t, col("embedding"), col("bits"))): _*))
            .as(Seq("tbl", "key"))))
      val ca = bl.select(col("label"), col("tbl"), col("key"),
        col("vec_id").as("ia"))
      val cb = bl.select(col("label"), col("tbl"), col("key"),
        col("vec_id").as("ib"))
      val cand = ca.join(cb, Seq("label", "tbl", "key"))
        .filter(col("ia") < col("ib"))
        .dropDuplicates("label", "ia", "ib")
      confusion(cand, truth, Seq("label", "ia", "ib"))
    }),

    // PII class battery (r10): extends L11's email/phone `text_pii_redact`
    // (Corpus.scala) to the four-class detector set — email, SSN,
    // 13–16-digit card runs, IPv4 — counted per doc and rewritten to
    // typed placeholders in ONE map-side projection (no shuffle, no UDF:
    // regexp_count / regexp_replace are codegen'd). Patterns are
    // deliberately inside the Java∩RE2 common dialect (no lookaround, no
    // backrefs) so the DuckDB mirror is the same regex text, and the
    // replacement ORDER is part of the contract (one PiiPatterns source
    // generates both plans). L11's convention for a PII-free corpus:
    // deterministic SSN/card/IP strings derived from doc_id are appended
    // per row, so the oracle checks real replacement semantics, not just
    // the identity path; TextSimSpec additionally pins edge behavior
    // (negative lookalikes) on a hand fixture via [[piiRedact]].
    "text_pii_classes" -> ((s, d) => {
      val aug = concat(col("text"),
        lit(" ssn "), (pmod(col("doc_id"), lit(900)) + 100).cast("string"),
        lit("-"), (pmod(col("doc_id"), lit(90)) + 10).cast("string"),
        lit("-"), (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"),
        lit(" card "),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 16, "4"),
        lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0.1"))
      piiRedact(documents(s, d).withColumn("text", aug))
    }),

    // Embedding-space decontamination (r10): the semantic complement of
    // Curation's 8-gram `decontaminate` — an eval item paraphrased or
    // reformatted shares no shingles but still sits next to its source in
    // embedding space. Corpus vectors scoring >= 0.35 cosine against ANY
    // of the k held-out eval vectors (vec_id < 10) are flagged with their
    // max score and hit count. Scale: the eval side is k model-parameter
    // rows (broadcast, structurally limit(10)); the corpus streams through
    // one k·N scoring pass + per-vector aggregate — never pairs, never a
    // corpus-side collect. At real scale, band the eval side with sign-LSH
    // first (embedNearDupPairs' bucketing) to cut k·N to collisions only.
    "decontaminate_embed" -> ((s, d) => {
      val emb = embeddings(s, d)
      val ev = emb.filter(col("vec_id") < 10).limit(10)
        .select(col("embedding").as("e"))
      emb.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(ev))
        .select(col("vec_id"),
          round(cosine(col("embedding"), col("e")), 6).as("cos"))
        .groupBy("vec_id")
        .agg(max("cos").as("max_cos"),
          sum(when(col("cos") >= 0.35, 1L).otherwise(0L)).as("n_hits"))
        .filter(col("max_cos") >= 0.35)
        .orderBy("vec_id")
    }),

    // U6 surface: the custom Aggregator (graft.functions.MinHashUnion,
    // registered as a UDAF) unions per-doc MinHash signatures into one
    // per-language signature via elementwise min — a mergeable sketch, the
    // canonical TypedImperativeAggregate shape.
    "udaf_minhash_lang" -> ((s, d) => {
      graft.functions.MinHashUnion.register(s)
      val docs = documents(s, d)
      // lang rides the shingle rows (carry) so the per-language union needs
      // no join back to the fact table — the previous hinted broadcast of
      // docs.select(doc_id, lang) was a fact-sized broadcast, i.e. a
      // driver OOM at 100 TB.
      sigTable(shingleRows(docs, 3, carry = Seq("lang")), carry = Seq("lang"))
        .groupBy("lang")
        .agg(expr("minhash_union(sig)").as("usig"))
        .select(col("lang"), concat_ws(",", col("usig")).as("sig_csv"))
        .orderBy("lang")
    })
  )

  /** The frozen linear quality model z over the text_quality feature
    * vector — ONE home for the weights, shared by `curate_classifier`,
    * `pipeline_curate2`'s gate AND keeper argmax, and `curation_card`'s
    * mean_z (the r10 review found three hand-copies accumulating: a
    * weight change that missed one site would silently make the card
    * disagree with the gate it summarizes). Its DuckDB mirror is
    * [[dClassifierZ]]; every consumer quantizes with round(z, 6) before
    * any decision surface (ADVICE r9). */
  private[ops] def classifierZ: Column = {
    val nTok = size(toks).cast("double")
    // try_divide: an empty text has no characters, so its punctuation
    // ratio (and z) is NULL — what the DuckDB mirrors' division gives —
    // instead of an ANSI DIVIDE_BY_ZERO that fails the whole query.
    // size(toks) is never 0 (split yields [""]), so the others are safe.
    val punct = try_divide(
      regexp_count(lower(col("text")), lit("[^a-z0-9 ]")).cast("double"),
      length(col("text")))
    val stopR = size(filter(toks,
      t => array_contains(typedlit(stopwords), t))).cast("double") / size(toks)
    val avgLen = aggregate(transform(toks, t => length(t)),
      lit(0), (acc, v) => acc + v).cast("double") / size(toks)
    lit(-1.0) + lit(2.5) * least(nTok / 100.0, lit(1.0)) +
      lit(3.0) * stopR - lit(4.0) * punct + lit(0.8) * (avgLen / 10.0)
  }

  /** DuckDB mirror of [[classifierZ]], unrounded, over the token list
    * expression `t` and the raw `text` column — the one DuckDB copy of
    * the weights. */
  private[ops] def dClassifierZ(t: String): String =
    s"""-1.0 + 2.5 * least(CAST(len($t) AS DOUBLE) / 100.0, 1.0) +
       |      3.0 * (CAST(len(list_filter($t, x -> list_contains($dStopwords, x)))
       |        AS DOUBLE) / len($t)) -
       |      4.0 * (CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]'))
       |        AS DOUBLE) / length(text)) +
       |      0.8 * (CAST(list_sum(list_transform($t, x -> length(x)))
       |        AS DOUBLE) / len($t) / 10.0)""".stripMargin

  /** PII detector classes, ordered: (name, pattern, placeholder). The
    * REPLACEMENT order is part of the contract (SSN's dashed groups must
    * rewrite before the bare 13–16-digit card run can see them; IPv4 last —
    * its dot-broken digit runs are disjoint from both). Patterns stay in
    * the Java∩RE2 common dialect so Spark (java.util.regex) and DuckDB
    * (RE2) compile the same text to the same automaton. */
  private[graft] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("card", "\\b\\d{13,16}\\b", "<CARD>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Per-doc PII counts + redacted text — one map-side projection over any
    * (doc_id, text) frame; the shared core of `text_pii_classes` and
    * TextSimSpec's injected-fixture cases. Each class is COUNTED on the
    * text with all EARLIER classes already redacted (stage i of the same
    * replacement chain), so `n_<class>` equals the number of
    * `<PLACEHOLDER>`s that class actually emits — counting every class on
    * the raw text would over-count when patterns overlap (e.g. a 13-digit
    * email local part matches the card run but is consumed by the email
    * rewrite first). */
  private[graft] def piiRedact(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // stages(i) = text with the first i patterns redacted
    val stages = PiiPatterns.scanLeft(col("text")) {
      case (acc, (_, p, repl)) => regexp_replace(acc, p, repl)
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((n, p, _), i) =>
      regexp_count(stages(i), lit(p)).cast("long").as(s"n_$n")
    }
    docs.select(col("doc_id") +: counts :+ stages.last.as("redacted"): _*)
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[shingleRows]] — shared with Curation's
    * decontamination grams (n=8). */
  private[ops] def dShingles(n: Int): String = {
    val parts = (0 until n).map(o => s"$dToks[i+$o]").mkString(" || ' ' || ")
    s"CASE WHEN len($dToks) >= $n THEN list_distinct(list_transform(" +
      s"generate_series(1, len($dToks)-${n - 1}), i -> $parts)) " +
      "ELSE [] END"
  }
  /** DuckDB mirror of sigTable's universal-hash signatures: same (a_j, b_j)
    * constants interpolated from hashAB, same mod-P arithmetic. Recomputes
    * the base sha per j (oracle runs at sf0.01 — clarity over speed). */
  private val dSig = "list_value(" + hashAB.map { case (a, b) =>
    s"list_min(list_transform(sh, g -> ($a*(${dH60("g")}%$MinHashP)+$b)%$MinHashP))"
  }.mkString(",") + ")"
  /** DuckDB mirror of [[bandRowsFromSigs]] over `sig` (doc_id, sig),
    * cut into `b` bands of `r` rows: one (doc_id, sig, band, key) row
    * per band. */
  private def dBandRows(b: Int, r: Int): String =
    s"""SELECT doc_id, sig, unnest(generate_series(0,${b - 1})) AS band,
       |  unnest(list_transform(generate_series(0,${b - 1}), bd ->
       |    array_to_string(sig[bd*$r+1 : bd*$r+$r], ','))) AS key
       |  FROM sig""".stripMargin

  /** DuckDB mirror of [[estSim]]; the /$NumHashes division is exact in
    * binary. */
  private def dEstSim(a: String, b: String): String =
    s"CAST(len(list_filter(list_zip($a, $b), x -> x[1] = x[2])) AS DOUBLE)" +
      s"/$NumHashes"

  /** Shared CTE chain producing `pairs(ia, ib, est_sim)` — the DuckDB
    * mirror of `minhashPairs`, over any relation with (doc_id, text). */
  private[ops] def dMinhashCteFrom(rel: String): String =
    s"""s AS (SELECT doc_id, ${dShingles(3)} AS sh FROM $rel),
       |sig AS (SELECT doc_id, $dSig AS sig FROM s),
       |bands AS (${dBandRows(Bands, NumHashes / Bands)}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
       |         a.sig AS sa, b.sig AS sb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT ia, ib, ${dEstSim("sa", "sb")} AS est_sim
       |  FROM cand WHERE ${dEstSim("sa", "sb")} >= 0.5)""".stripMargin

  private[ops] lazy val dMinhashCte: String = dMinhashCteFrom("documents")

  /** DuckDB mirror of [[shingleOverlap]] over the shingle sets `s`
    * (doc_id, sh): the capped postings `e`, the per-doc sizes `sz` and the
    * per-pair overlap `inter` (ia, ib, inter). */
  private lazy val dShingleOverlap: String =
    s"""e0 AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |e AS (SELECT doc_id, g FROM (
       |  SELECT doc_id, g, count(*) OVER (PARTITION BY g) AS df FROM e0)
       |  WHERE df <= $StopShingleDfDefault),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM e GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS inter
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1,2)""".stripMargin

  /** [[dShingleOverlap]] plus `truth` (ia, ib): the pairs whose n-gram
    * Jaccard is >= 0.5, the DuckDB mirror of [[ngramJaccardOf]]'s pairs. */
  private lazy val dJaccardTruth: String =
    s"""$dShingleOverlap,
       |truth AS (
       |  SELECT ia, ib FROM inter
       |  JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
       |  WHERE round(CAST(inter AS DOUBLE) /
       |    (sa.n_sh + sb.n_sh - inter), 6) >= 0.5)""".stripMargin

  /** DuckDB mirror of [[rates]]; DuckDB's division by zero is NULL. */
  private val dRates =
    """n_cand - tp AS fp, n_truth - tp AS fn,
      |  CAST(tp AS DOUBLE) / n_cand AS precision,
      |  CAST(tp AS DOUBLE) / n_truth AS recall""".stripMargin

  /** DuckDB mirror of [[minhashEval]] over the (doc_id, text) relation
    * `rel`: the CTE chain and closing SELECT that follow `WITH`. */
  private def dMinhashEval(rel: String): String =
    s"""${dMinhashCteFrom(rel)},
       |$dJaccardTruth,
       |u AS (
       |  SELECT p.ia IS NOT NULL AS cin, t.ia IS NOT NULL AS tin
       |  FROM (SELECT ia, ib FROM pairs) p
       |  FULL OUTER JOIN truth t ON p.ia = t.ia AND p.ib = t.ib),
       |m AS (
       |  SELECT CAST(sum(CASE WHEN cin THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_cand,
       |    CAST(sum(CASE WHEN tin THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
       |    CAST(sum(CASE WHEN cin AND tin THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tp
       |  FROM u)
       |SELECT n_cand, n_truth, tp, $dRates
       |FROM m""".stripMargin

  /** Oracle mirror of StreamOps.nearDupCollisions' BATCH form (kept here
    * so the signature/banding contract has one home): per (band, key)
    * bucket the reference is the min doc_id, and every other member
    * emits one row per colliding band with the signature-overlap
    * estimate. */
  private[ops] lazy val dStreamNearDup: String =
    s"""WITH s0 AS (SELECT doc_id, ${dShingles(3)} AS sh FROM documents),
       |s AS (SELECT * FROM s0 WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, $dSig AS sig FROM s),
       |bands AS (${dBandRows(Bands, NumHashes / Bands)}),
       |m AS (SELECT band, key, min(doc_id) AS ref_id FROM bands
       |  GROUP BY 1, 2)
       |SELECT b.doc_id, CAST(b.band AS INTEGER) AS band, m.ref_id,
       |  ${dEstSim("b.sig", "r.sig")} AS est_sim
       |FROM bands b JOIN m ON b.band = m.band AND b.key = m.key
       |JOIN sig r ON r.doc_id = m.ref_id
       |WHERE b.doc_id > m.ref_id
       |ORDER BY b.doc_id, b.band""".stripMargin

  /** The embedding-dedup oracles' `e` (vec_id, label, embedding, nrm,
    * cnt = label size) and `bk`: the 8 sign-LSH (label, vec_id, key,
    * tbl) tables, masked per label size, of the `e` rows `where` keeps. */
  private def dEmbedBuckets(where: String): String = {
    val bits = dBucketBits("cnt", EmbedBlockCap)
    val bk = (0 until 8).map(t =>
      s"SELECT label, vec_id, " +
        s"${dSignBucketMasked(t, "embedding", bits)} AS key, " +
        s"$t AS tbl FROM e $where")
      .mkString("\n  UNION ALL\n  ")
    s"""e AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${dDot("embedding", "embedding")}) AS nrm,
       |    count(*) OVER (PARTITION BY label) AS cnt
       |  FROM embeddings),
       |bk AS (
       |  $bk)""".stripMargin
  }

  private def dCos(a: String, b: String): String =
    s"${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))"

  /** DuckDB mirror of Ivf.rankDist: ||e−c||² minus the probe-constant
    * ||e||² term — same expression order, bit-identical doubles. */
  private def dRankDist(e: String, c: String): String =
    s"${dDot(c, c)} - 2.0 * ${dDot(e, c)}"

  /** The full Ivf.fitCentroids replay as a chained-CTE fragment (el,
    * c0, a1, c1, a2, c2, af): lowest-8 seeds, two Lloyd iterations
    * (argmin by (rank-dist, cell), decimal-exact per-dimension means
    * cast to FLOAT, empty cells COALESCE to the previous centroid),
    * final assignment in `af`, fitted centroids in `c2`. Factored so
    * sim_topk_ivf and ivf_nprobe_sweep replay the SAME learned
    * quantizer from one SQL text — zero drift between the answer path
    * and the tuning sweep that grades it. */
  private lazy val dIvfLloyd: String = {
    def assign(cRel: String, alias: String) =
      s"""$alias AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell, row_number() OVER
         |    (PARTITION BY e.vec_id
         |     ORDER BY ${dRankDist("e.embedding", "c.c")}, c.cell) AS rn
         |  FROM embeddings e, $cRel c) WHERE rn = 1)""".stripMargin
    def step(aRel: String, prevC: String, alias: String) =
      s"""$alias AS (SELECT s.cell, COALESCE(u.c, s.c) AS c
         |  FROM $prevC s LEFT JOIN (
         |    SELECT cell, list(m ORDER BY pos) AS c FROM (
         |      SELECT cell, pos,
         |        CAST(CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)
         |          / count(*) AS FLOAT) AS m
         |      FROM $aRel JOIN el USING (vec_id) GROUP BY 1, 2)
         |    GROUP BY cell) u USING (cell))""".stripMargin
    s"""el AS (SELECT vec_id,
      |    unnest(generate_series(0, len(embedding) - 1)) AS pos,
      |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
      |    embedding AS c
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        ORDER BY vec_id LIMIT 8)),
      |${assign("c0", "a1")},
      |${step("a1", "c0", "c1")},
      |${assign("c1", "a2")},
      |${step("a2", "c1", "c2")},
      |${assign("c2", "af")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // counts via regexp_extract_all length; replacement chain in the SAME
    // order as PiiPatterns (one source of truth — both engines' SQL/plan
    // are generated from it); DuckDB needs the explicit 'g' flag where
    // Spark's regexp_replace is global by default. The aug CTE mirrors
    // the query's deterministic doc_id-derived SSN/card/IP injection.
    "text_pii_classes" -> {
      // stage-i counting mirrors piiRedact: class i counts on the text
      // with classes 0..i-1 already replaced
      val stages = PiiPatterns.scanLeft("text") { case (acc, (_, p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      val cnts = PiiPatterns.zipWithIndex.map { case ((n, p, _), i) =>
        s"CAST(len(regexp_extract_all(${stages(i)}, '$p')) AS BIGINT) AS n_$n"
      }
      val red = stages.last
      s"""WITH aug AS (SELECT doc_id,
        |    text || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
        |    CAST(doc_id % 90 + 10 AS VARCHAR) || '-' ||
        |    CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' card ' ||
        |    lpad(CAST(doc_id % 1000 AS VARCHAR), 16, '4') || ' ip 10.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS text
        |  FROM documents)
        |SELECT doc_id, ${cnts.mkString(",\n  ")},
        |  $red AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin
    },
    "decontaminate_embed" ->
      s"""WITH ev AS (SELECT embedding AS e FROM embeddings WHERE vec_id < 10),
        |sc AS (SELECT vec_id, round(${dCos("embedding", "e")}, 6) AS cos
        |  FROM embeddings, ev WHERE vec_id >= 10),
        |g AS (SELECT vec_id, max(cos) AS max_cos,
        |    CAST(sum(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits
        |  FROM sc GROUP BY 1)
        |SELECT * FROM g WHERE max_cos >= 0.35 ORDER BY vec_id""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id, unnest($dToks) AS tok,
        |unnest(generate_series(1, len($dToks))) AS pos
        |FROM documents ORDER BY doc_id, pos""".stripMargin,
    "text_wordcount" ->
      s"""SELECT tok, COUNT(*) AS n FROM
        |(SELECT unnest($dToks) AS tok FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ALL positional trigrams (no list_distinct — the generator emits
    // duplicates too, unlike dShingles' deduped set).
    "text_ngram_gen" ->
      s"""WITH t AS (SELECT doc_id, $dToks AS w FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
        |  FROM t)
        |SELECT doc_id, count(*) AS n_grams,
        |  count(DISTINCT ngram) AS n_unique, min(ngram) AS first_gram
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id, len(string_split(text,' ')) AS n_ws,
        |len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9 ]')) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" -> {
      s"""SELECT doc_id, length(text) AS n_chars_m, len($dToks) AS n_tok,
        |CAST(len(list_filter($dToks, t -> list_contains($dStopwords, t))) AS DOUBLE) / len($dToks) AS stop_ratio,
        |CAST(len(regexp_extract_all(lower(text),'[^a-z0-9 ]')) AS DOUBLE) / length(text) AS punct_ratio,
        |CAST(list_sum(list_transform($dToks, t -> length(t))) AS DOUBLE) / len($dToks) AS avg_tok_len,
        |least(CAST(len($dToks) AS DOUBLE)/100.0, 1.0) *
        |(1.0 - CAST(len(regexp_extract_all(lower(text),'[^a-z0-9 ]')) AS DOUBLE)/length(text)) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "text_blocklist" ->
      s"""WITH lex AS (
        |  SELECT unnest(['slow','big','merge','filter']) AS term),
        |tok AS (SELECT doc_id, unnest($dToks) AS tok FROM documents),
        |h AS (SELECT doc_id, count(*) AS n_hits
        |  FROM tok JOIN lex ON tok = term GROUP BY 1),
        |base AS (SELECT doc_id, CAST(len($dToks) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT b.doc_id, b.n_toks,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / b.n_toks AS hit_rate,
        |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / b.n_toks > 0.05
        |    AS flagged
        |FROM base b LEFT JOIN h USING (doc_id) ORDER BY b.doc_id""".stripMargin,
    "dedup_minhash_eval" -> s"WITH ${dMinhashEval("documents")}",
    // Same confusion mirror over the hash-sampled sub-corpus; h60 is
    // nonnegative so plain % mirrors Spark's pmod.
    "dedup_minhash_eval_sampled" ->
      s"""WITH sdocs AS (SELECT * FROM documents
        |  WHERE ${dH60("'eval' || CAST(doc_id AS VARCHAR)")} % 4 = 0),
        |${dMinhashEval("sdocs")}""".stripMargin,
    "text_boilerplate" ->
      s"""WITH sh AS (SELECT doc_id, unnest(${dShingles(3)}) AS g
        |  FROM documents),
        |df AS (SELECT g, count(*) AS df FROM sh GROUP BY 1),
        |t AS (SELECT count(*) AS n_docs FROM documents),
        |top AS (SELECT g, df FROM df ORDER BY df DESC, g LIMIT 20)
        |SELECT g AS shingle, df,
        |  CAST(df AS DOUBLE) / n_docs AS doc_share,
        |  CAST(df AS DOUBLE) / n_docs > 0.05 AS flagged
        |FROM top, t ORDER BY df DESC, shingle""".stripMargin,
    // Per-config banding replayed from the ONE sig CTE (same (a_j, b_j)
    // constants); the truth is dedup_minhash_eval's dJaccardTruth.
    "dedup_band_sweep" -> {
      val cfgCtes = BandSweepCfgs.map { case (b, r) =>
        s"""bands_$b AS (${dBandRows(b, r)}),
           |coll_$b AS (
           |  SELECT DISTINCT $b AS bands, a.doc_id AS ia, b.doc_id AS ib,
           |         a.sig AS sa, b.sig AS sb
           |  FROM bands_$b a JOIN bands_$b b
           |    ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id)""".stripMargin
      }.mkString(",\n")
      val unionColl = BandSweepCfgs
        .map { case (b, _) => s"SELECT * FROM coll_$b" }
        .mkString(" UNION ALL ")
      s"""WITH s AS (SELECT doc_id, ${dShingles(3)} AS sh FROM documents),
        |sig AS (SELECT doc_id, $dSig AS sig FROM s),
        |$cfgCtes,
        |coll AS (SELECT bands, ia, ib, ${dEstSim("sa", "sb")} AS est_sim
        |  FROM ($unionColl)),
        |$dJaccardTruth,
        |nt AS (SELECT count(*) AS n_truth FROM truth),
        |per AS (
        |  SELECT bands, count(*) AS n_coll,
        |    CAST(sum(CASE WHEN est_sim >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cand,
        |    CAST(sum(CASE WHEN est_sim >= 0.5 AND t.ia IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS tp
        |  FROM coll c LEFT JOIN truth t ON c.ia = t.ia AND c.ib = t.ib
        |  GROUP BY 1)
        |SELECT bands, CAST($NumHashes / bands AS INTEGER) AS rows_per_band,
        |  n_coll, n_cand, tp, $dRates
        |FROM per, nt ORDER BY bands""".stripMargin
    },
    "curate_classifier" -> {
      s"""WITH z AS (SELECT doc_id,
        |    ${dClassifierZ(dToks)} AS z
        |  FROM documents)
        |SELECT doc_id, round(z, 6) AS z,
        |  round(1.0 / (1.0 + exp(-z)), 6) AS score,
        |  round(z, 6) >= 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin
    },
    "text_langid" ->
      s"""WITH s0 AS ($dLangScores)
        |SELECT doc_id, lang, s_en, s_de, s_es, s_fr, $dLangPred AS lang_pred
        |FROM s0 ORDER BY doc_id""".stripMargin,
    // Same marker counts; top-2 via a per-row descending list sort
    // (list_reverse_sort ≡ reverse(sort_array)) — integer-only, no float
    // contract anywhere.
    "text_langid_margin" ->
      s"""WITH s0 AS ($dLangScores),
        |t AS (SELECT *, list_reverse_sort([s_en, s_de, s_es, s_fr]) AS srt
        |  FROM s0)
        |SELECT doc_id, $dLangPred AS lang_pred,
        |  CAST(srt[1] AS BIGINT) AS top1,
        |  CAST(srt[2] AS BIGINT) AS top2,
        |  CAST(srt[1] - srt[2] AS BIGINT) AS margin,
        |  CAST(s_en + s_de + s_es + s_fr AS BIGINT) AS evidence,
        |  CAST(srt[1] - srt[2] <= 1 OR s_en + s_de + s_es + s_fr < 3
        |    AS INT) AS ambiguous
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |list_transform($dToks, t -> CAST(length(t)*31 + ascii(t) AS BIGINT))),
        |(a, b) -> (a * 1000003 + b) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_hash" ->
      """SELECT sha256(text) AS h, min(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    // Mirrors the Spark plan's stop-shingle guard (df <= StopShingleDf)
    // so Jaccard is computed over the identical guarded universe in both
    // engines — parity by construction at any scale factor.
    "dedup_ngram_jaccard" ->
      s"""WITH s AS (SELECT doc_id, ${dShingles(3)} AS sh FROM documents),
        |$dShingleOverlap
        |SELECT ia, ib, inter,
        |round(CAST(inter AS DOUBLE)/(sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        |FROM inter JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
        |WHERE round(CAST(inter AS DOUBLE)/(sa.n_sh + sb.n_sh - inter), 6) >= 0.5
        |ORDER BY ia, ib""".stripMargin,
    "dedup_containment" ->
      s"""WITH s AS (SELECT doc_id, ${dShingles(3)} AS sh FROM documents),
        |$dShingleOverlap
        |SELECT ia, ib, inter,
        |  CAST(inter AS DOUBLE) / sa.n_sh AS c_ab,
        |  CAST(inter AS DOUBLE) / sb.n_sh AS c_ba
        |FROM inter JOIN sz sa ON ia = sa.doc_id JOIN sz sb ON ib = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / sa.n_sh >= 0.8
        |   OR CAST(inter AS DOUBLE) / sb.n_sh >= 0.8
        |ORDER BY ia, ib""".stripMargin,
    // Cutting 10-token spans; a span in >= 2 distinct docs flags every
    // occurrence. Same h60 hash both sides; list slices are 1-based
    // inclusive in DuckDB, matching Spark's 1-based slice(start, length).
    "dedup_span_flag" ->
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(1, len(tk)//10)) AS i,
        |  tk FROM t),
        |sp AS (SELECT doc_id, i - 1 AS span_idx,
        |  array_to_string(tk[((i-1)*10+1):((i-1)*10+10)], ' ') AS span
        |  FROM s),
        |h AS (SELECT doc_id, span_idx, ${dH60("span")} AS hs FROM sp),
        |rep AS (SELECT hs, count(DISTINCT doc_id) AS n_docs FROM h
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, span_idx, hs, n_docs FROM h JOIN rep USING (hs)
        |ORDER BY doc_id, span_idx""".stripMargin,
    // Sliding variant: a window at every position, span_idx 0-based.
    "dedup_span_sliding" ->
      s"""WITH t AS (SELECT doc_id, $dToks AS tk FROM documents),
        |s AS (SELECT doc_id, unnest(generate_series(1, len(tk) - 9)) AS i,
        |  tk FROM t WHERE len(tk) >= 10),
        |sp AS (SELECT doc_id, i - 1 AS span_idx,
        |  array_to_string(tk[i:(i+9)], ' ') AS span FROM s),
        |h AS (SELECT doc_id, span_idx, ${dH60("span")} AS hs FROM sp),
        |rep AS (SELECT hs, count(DISTINCT doc_id) AS n_docs FROM h
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, span_idx, hs, n_docs FROM h JOIN rep USING (hs)
        |ORDER BY doc_id, span_idx""".stripMargin,
    "dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, tok, count(*) AS w FROM
        |  (SELECT doc_id, unnest($dToks) AS tok FROM documents) GROUP BY 1,2),
        |h AS (SELECT doc_id, w, ${dH60("tok")} AS h FROM t),
        |b AS (SELECT doc_id, bit,
        |  SUM(CASE WHEN (h >> bit) & 1 = 1 THEN w ELSE -w END) AS v
        |  FROM h, (SELECT unnest(generate_series(0,59)) AS bit) GROUP BY 1,2),
        |fp AS (SELECT doc_id,
        |  SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE 0 END) AS fp
        |  FROM b GROUP BY 1),
        |bands AS (SELECT doc_id, fp, unnest(generate_series(0,3)) AS c,
        |  unnest(list_transform(generate_series(0,3),
        |    c -> (fp >> (c*15)) & 32767)) AS chunk FROM fp),
        |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
        |  a.fp AS fa, b.fp AS fb FROM bands a JOIN bands b
        |  ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT ia, ib, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY ia, ib""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $dMinhashCte
        |SELECT ia, ib, est_sim FROM pairs ORDER BY ia, ib""".stripMargin,
    "overlap_sources" ->
      s"""WITH $dMinhashCte
        |SELECT least(da.source, db.source) AS source_a,
        |  greatest(da.source, db.source) AS source_b,
        |  count(*) AS n_pairs,
        |  CAST(round(SUM(CAST(est_sim AS DECIMAL(30,8))), 6) AS DOUBLE)
        |    AS sum_sim
        |FROM pairs
        |JOIN documents da ON pairs.ia = da.doc_id
        |JOIN documents db ON pairs.ib = db.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_pipeline" ->
      s"""WITH $dMinhashCte,
        |exact AS (SELECT min(doc_id) AS doc_id FROM documents
        |          GROUP BY sha256(text))
        |SELECT doc_id FROM exact
        |WHERE doc_id NOT IN (SELECT ib FROM pairs)
        |ORDER BY doc_id""".stripMargin,
    // Whole-corpus pairs restricted to crossing (index < boundary <= batch)
    // mirror minhashPairsBetween exactly: band keys are per-doc, so the
    // crossing subset of the self-join equals the index×batch join.
    "dedup_incremental" ->
      s"""WITH $dMinhashCte,
        |ex AS (SELECT DISTINCT b.doc_id FROM documents b JOIN documents i
        |  ON b.text = i.text AND i.doc_id < $SnapshotBoundary
        |  WHERE b.doc_id >= $SnapshotBoundary),
        |nr AS (SELECT ib AS doc_id, count(*) AS n_near,
        |    max(est_sim) AS best_sim
        |  FROM pairs WHERE ia < $SnapshotBoundary AND ib >= $SnapshotBoundary
        |  GROUP BY 1)
        |SELECT coalesce(nr.doc_id, ex.doc_id) AS doc_id,
        |  CAST(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS exact_dup,
        |  coalesce(n_near, 0) AS n_near,
        |  coalesce(best_sim, 0.0) AS best_sim
        |FROM nr FULL OUTER JOIN ex ON nr.doc_id = ex.doc_id
        |ORDER BY doc_id""".stripMargin,
    "sim_cosine" ->
      s"""WITH p AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label, round(${dCos("embedding", "p")}, 6) AS cos_sim
        |FROM embeddings, p ORDER BY vec_id""".stripMargin,
    "sim_topk" ->
      s"""WITH probes AS (SELECT vec_id AS probe_id, embedding AS p
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT probe_id, vec_id AS cand_id, ${dCos("embedding", "p")} AS cos
        |  FROM embeddings, probes WHERE vec_id <> probe_id),
        |ranked AS (
        |  SELECT probe_id, cand_id, cos, row_number() OVER
        |    (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rk
        |  FROM scored)
        |SELECT probe_id, rk, cand_id, round(cos, 6) AS cos_sim
        |FROM ranked WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // Mirrors embedNearDupPairs' FULL cap contract (r11): labels at/below
    // EmbedBlockCap do exact all-pairs; labels above it pair only through
    // same-(label, table, bucket) sign-LSH collisions, from the SAME
    // plane literals (dSignBucket ≡ signBucket bit-for-bit). Candidates
    // are cosine-verified in both engines, and the >= filter runs on the
    // unrounded cosine (round only for display), exactly as the plan does.
    "dedup_embed" ->
      s"""WITH ${dEmbedBuckets(s"WHERE cnt > $EmbedBlockCap")},
        |sp AS (
        |  SELECT a.label AS label, a.vec_id AS ia, b.vec_id AS ib,
        |    ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE a.cnt <= $EmbedBlockCap),
        |bp AS (
        |  SELECT DISTINCT a.label AS label, a.vec_id AS ia, b.vec_id AS ib
        |  FROM bk a JOIN bk b
        |    ON a.label = b.label AND a.tbl = b.tbl AND a.key = b.key
        |   AND a.vec_id < b.vec_id),
        |bc AS (
        |  SELECT p.label AS label, p.ia, p.ib,
        |    ${dDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
        |  FROM bp p JOIN e x ON p.ia = x.vec_id JOIN e y ON p.ib = y.vec_id)
        |SELECT label, ia, ib, round(cos, 6) AS cos_sim
        |FROM (SELECT * FROM sp UNION ALL SELECT * FROM bc)
        |WHERE cos >= $EmbedDupTau
        |ORDER BY label, ia, ib""".stripMargin,
    // r11: sim_topk_ivf promoted from rows-only to an EXACT oracle row —
    // the oracle replays the WHOLE IVF pipeline as chained CTEs: lowest-8
    // seeds (cell = rank by vec_id), two Lloyd iterations (argmin by
    // (rank-dist, cell), decimal-exact per-dimension means cast to FLOAT,
    // empty cells COALESCE to the previous centroid — Ivf.fitCentroids
    // verbatim), final cell assignment, nprobe=3 probe routing, exact
    // cosine re-rank. Every comparison is on bit-identical doubles
    // (dDot ≡ DotProductExpr) or exact integers, so even the LEARNED
    // quantizer is cross-engine reproducible.
    "sim_topk_ivf" ->
      s"""WITH $dIvfLloyd,
        |pc AS (SELECT probe_id, p, cell FROM (
        |  SELECT e.vec_id AS probe_id, e.embedding AS p, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${dRankDist("e.embedding", "c.c")}, c.cell) AS rn
        |  FROM embeddings e, c2 c WHERE e.vec_id < 10) WHERE rn <= 3),
        |sc AS (SELECT pc.probe_id, af.vec_id AS cand_id,
        |    ${dCos("af.embedding", "pc.p")} AS cos
        |  FROM pc JOIN af ON af.cell = pc.cell
        |  WHERE af.vec_id <> pc.probe_id),
        |rk AS (SELECT probe_id, cand_id, cos, row_number() OVER
        |  (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rk FROM sc)
        |SELECT probe_id, rk, cand_id, round(cos, 6) AS cos_sim
        |FROM rk WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin,
    // Shares dIvfLloyd (identical learned quantizer); truth is the
    // sim_topk oracle's exact top-5 shape; probe cells ranked once to
    // rn ≤ 4, each nprobe reads its prefix. hits LEFT-joins onto the
    // per-nprobe scored counts so a zero-hit sweep point still emits
    // its row.
    "ivf_nprobe_sweep" ->
      s"""WITH $dIvfLloyd,
        |tr AS (SELECT probe_id, cand_id FROM (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS cand_id,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY ${dCos("b.embedding", "a.embedding")} DESC,
        |        b.vec_id) AS rk
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id) WHERE rk <= 5),
        |pcd AS (SELECT probe_id, p, cell, rn FROM (
        |  SELECT e.vec_id AS probe_id, e.embedding AS p, c.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${dRankDist("e.embedding", "c.c")}, c.cell) AS rn
        |  FROM embeddings e, c2 c WHERE e.vec_id < 10) WHERE rn <= 4),
        |np AS (SELECT unnest([1, 2, 4]) AS nprobe),
        |cand AS (SELECT np.nprobe, pc.probe_id, af.vec_id AS cand_id,
        |    ${dCos("af.embedding", "pc.p")} AS cos
        |  FROM np JOIN pcd pc ON pc.rn <= np.nprobe
        |  JOIN af ON af.cell = pc.cell
        |  WHERE af.vec_id <> pc.probe_id),
        |rk AS (SELECT nprobe, probe_id, cand_id, row_number() OVER
        |  (PARTITION BY nprobe, probe_id ORDER BY cos DESC, cand_id)
        |    AS rk FROM cand),
        |hits AS (SELECT nprobe, count(*) AS hits FROM rk
        |  JOIN tr USING (probe_id, cand_id) WHERE rk <= 5 GROUP BY 1),
        |ns AS (SELECT nprobe, count(*) AS n_scored FROM cand GROUP BY 1),
        |tn AS (SELECT count(*) AS n_truth FROM tr),
        |nc AS (SELECT count(*) AS n_corpus FROM embeddings)
        |SELECT ns.nprobe, ns.n_scored,
        |  CAST(coalesce(hits.hits, 0) AS BIGINT) AS hits,
        |  round(CAST(coalesce(hits.hits, 0) AS DOUBLE) / n_truth, 6)
        |    AS recall_at5,
        |  round(CAST(ns.n_scored AS DOUBLE) / (10 * (n_corpus - 1)), 6)
        |    AS scan_frac
        |FROM ns LEFT JOIN hits USING (nprobe), tn, nc
        |ORDER BY ns.nprobe""".stripMargin,
    // r11: sim_topk_lsh promoted from rows-only to an EXACT oracle row —
    // the "approximate" in ANN-LSH is relative to the exact top-k TRUTH
    // (quantified by TextSimSpec's recall assertion, which stays); the
    // ALGORITHM itself is deterministic, and with dSignBucket rebuilding
    // the same buckets from the same plane literals the oracle replays
    // candidate generation + exact re-rank verbatim.
    "sim_topk_lsh" -> {
      val bk = (0 until 8).map(t =>
        s"SELECT vec_id, ${dSignBucket(t, "embedding")} AS key, " +
          s"$t AS tbl FROM embeddings")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH bk AS (
        |  $bk),
        |cd AS (
        |  SELECT DISTINCT a.vec_id AS probe_id, b.vec_id AS cand_id
        |  FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.key = b.key
        |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |sc AS (
        |  SELECT probe_id, cand_id,
        |    ${dCos("y.embedding", "x.embedding")} AS cos
        |  FROM cd JOIN embeddings x ON x.vec_id = cd.probe_id
        |          JOIN embeddings y ON y.vec_id = cd.cand_id),
        |rk AS (SELECT probe_id, cand_id, cos, row_number() OVER
        |  (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rk FROM sc)
        |SELECT probe_id, rk, cand_id, round(cos, 6) AS cos_sim
        |FROM rk WHERE rk <= 5 ORDER BY probe_id, rk""".stripMargin
    },
    // cd ≡ the engine's LSH candidate set (dSignBucket = signBucket from
    // the same plane literals); tr ≡ the exact truth. Counts via scalar
    // subqueries — pairs are unique within each side, so the inner join
    // counts tp exactly like the engine's full-outer tally.
    "dedup_embed_eval" ->
      s"""WITH ${dEmbedBuckets("")},
        |tr AS (
        |  SELECT a.label AS label, a.vec_id AS ia, b.vec_id AS ib
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
        |    >= $EmbedDupTau),
        |cd AS (
        |  SELECT DISTINCT a.label AS label, a.vec_id AS ia, b.vec_id AS ib
        |  FROM bk a JOIN bk b
        |    ON a.label = b.label AND a.tbl = b.tbl AND a.key = b.key
        |   AND a.vec_id < b.vec_id),
        |agg AS (SELECT
        |  (SELECT count(*) FROM cd) AS n_cand,
        |  (SELECT count(*) FROM tr) AS n_truth,
        |  (SELECT count(*) FROM cd JOIN tr USING (label, ia, ib)) AS tp)
        |SELECT n_cand, n_truth, tp, $dRates
        |FROM agg""".stripMargin,
    "udaf_minhash_lang" ->
      s"""WITH s AS (SELECT doc_id, lang, ${dShingles(3)} AS sh FROM documents),
        |sig AS (SELECT doc_id, lang, $dSig AS sig FROM s),
        |pos AS (SELECT lang, unnest(generate_series(1,$NumHashes)) AS j, sig FROM sig),
        |mins AS (SELECT lang, j, min(sig[j]) AS m FROM pos GROUP BY 1,2)
        |SELECT lang, array_to_string(list(m ORDER BY j), ',') AS sig_csv
        |FROM mins GROUP BY lang ORDER BY lang""".stripMargin
  )
}
