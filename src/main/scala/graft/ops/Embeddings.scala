package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding-column operators for the similarity/ANN side of a training
  * pipeline: L2 normalization stats, int8 quantization, and
  * nearest-centroid assignment (the k-means E-step / IVF cell routing).
  *
  * All dot products go through the native codegen'd
  * `graft.functions.DotProductExpr` — the same ascending-index double fold
  * as the DuckDB oracle's `list_sum(list_transform(list_zip(...)))`, so
  * floating-point results are bit-identical across engines (proven by the
  * sim_cosine oracle row since round 2).
  *
  * Scale notes (100 TB):
  *  - `embed_norm` is a pure map — no shuffle at all.
  *  - `embed_quantize` explodes to elements for the per-vector max; both
  *    stages are map-side-combined hash aggregations on vec_id. Rounding
  *    is floor(x+0.5), deterministic and identical in both engines
  *    (DuckDB's round() half-away ties are a cross-engine flake risk;
  *    floor(+0.5) is not).
  *  - `embed_centroid` broadcasts the k centroid rows (model parameters,
  *    a few KB) and streams candidates through one scan — k·N work, the
  *    same shape Ivf uses. The per-vector argmin is a k-row window.
  */
object Embeddings {

  private val K = 8 // centroid count for embed_centroid (first K vec_ids)

  /** PQ codebook size per subspace: 16 sub-centroids (4-bit codes x 8
    * subspaces = a 32-bit code word), seeded from the first 16 vectors'
    * subvectors. */
  private val PqK = 16

  /** Cosine threshold for dedup_semantic — same near-dup bar as
    * dedup_embed, pinned into the declared query AND its oracle (no
    * runtime knob on the declared path, mirroring the StopShingleDf
    * contract). Safe as an exact `>=`: both engines fold the dot product
    * in ascending index order over doubles, so the cosine is bit-identical
    * and the comparison can never straddle the threshold differently. */
  private[ops] val TauSem = 0.35

  /** Per-cell population cap for dedup_semantic: cells at/below the cap
    * do the exact all-pairs the oracle mirrors; cells ABOVE it are
    * sub-blocked by sign-LSH before pairing. 4096 sits far above every
    * testdata cell (≤2000 vectors TOTAL at sf0.1), so the declared
    * query's oracle row is byte-identical — the runaway path is pinned
    * by SemanticCellCapSpec on a synthetic hot cell instead. At 100 TB
    * the cap bounds the worst cell's pair stage at cap² regardless of
    * how skewed the centroid assignment gets. */
  private[ops] val SemCellCap = 4096

  /** Duplicate vec_ids within centroid cells, bounded per-cell cost.
    *
    * Input `v`: (vec_id, cid, embedding, nrm). Cells with ≤ `cap`
    * members: exact all-pairs inside the cell (cap² worst case, the
    * SemDeDup recipe). Cells above `cap`: candidates only from
    * same-(cid, table, bucket) sign-LSH collisions — the
    * TextSim.embedNearDupPairs machinery keyed by learned cell instead
    * of label (8 tables × 4-bit buckets, same deterministic planes).
    * Every candidate is verified with the exact cosine, so precision is
    * exact; recall above the cap is the documented LSH trade (cos ≥ 0.9
    * collides in ≥1 table with p ≈ 0.99). A dup = any vector with an
    * EARLIER (smaller vec_id) in-cell neighbor at cosine ≥ `tau`. */
  private[ops] def semanticDupIds(
      v: DataFrame, cap: Int, tau: Double): DataFrame = {
    // Cell population via count(*) OVER (PARTITION BY cid) is DELIBERATE:
    // the window's one cid exchange is then REUSED by the small-cell
    // self-join on cid (HashPartitioning(cid) already satisfies the join
    // distribution — no further exchange of the payload). The r18 probe
    // that rewrote this as a k-row aggregate + broadcast join back
    // measured 1.52 → 1.69s (isolated median-of-7): the join-back saves
    // the window sort but forfeits the co-partitioning, so BOTH pair-join
    // sides re-exchange the corpus with its embedding payload — one
    // payload shuffle became two.
    val vc = v.withColumn("cnt",
      count(lit(1)).over(Window.partitionBy("cid")))
    val cos = dot(col("ea"), col("eb")) / (col("na") * col("nb"))
    val small = vc.filter(col("cnt") <= cap)
    val sa = small.select(col("cid"), col("vec_id").as("i"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val sb = small.select(col("cid"), col("vec_id").as("j"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val smallDups = sa.join(sb, Seq("cid"))
      .filter(col("i") > col("j") && cos >= tau)
      .select(col("i").as("vec_id"))
    val big = vc.filter(col("cnt") > cap)
    // r11: adaptive width (TextSim.bucketBits) — 2^bits ≥ cnt/cap buckets
    // keep the expected cell-bucket population ≤ cap at any skew, so the
    // over-cap pair stage is linear in the cell, not 0.4·n² (the 8-table
    // union loses most of a fixed 4-bit split; see bucketBits scaladoc)
    // both self-join sides read the plane bucketing once
    val bl = materialize(big
      .withColumn("bits", TextSim.bucketBits(col("cnt"), cap))
      .select(col("cid"), col("vec_id"), col("embedding"),
        col("nrm"),
        posexplode(array((0 until 8).map(t =>
          TextSim.signBucketMasked(t, col("embedding"), col("bits"))): _*))
          .as(Seq("tbl", "key"))))
    val ba = bl.select(col("cid"), col("tbl"), col("key"),
      col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na"))
    val bb = bl.select(col("cid"), col("tbl"), col("key"),
      col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb"))
    val bigDups = ba.join(bb, Seq("cid", "tbl", "key"))
      .filter(col("i") > col("j"))
      .dropDuplicates("cid", "i", "j")
      .filter(cos >= tau)
      .select(col("i").as("vec_id"))
    smallDups.unionByName(bigDups).distinct()
  }

  /** Anchor count for mine_triplets (first MineAnchors vec_ids). */
  private val MineAnchors = 20

  /** MMR relevance weight λ (and its complement spelled as its OWN literal:
    * `1 - 0.7` in Scala is 0.30000000000000004, not the double 0.3 the
    * oracle's `0.3` parses to — the two must come from the same decimal
    * text in both engines). */
  private val MmrLambda = 0.7
  private val MmrMu = 0.3
  private val MmrK = 5
  private val MmrPool = 20

  /** Semi-hard margin for mine_triplets (FaceNet's α): a negative inside
    * `pos_cos − α` of the hardest positive is the training-signal zone. */
  private val TripletMargin = 0.2

  /** Prefix widths evaluated by embed_matryoshka_eval (full dim = 64). */
  private val MrlWidths = Seq(8, 16, 32)

  /** nDCG@5 position discounts 1/log2(i+1), rounded to 9dp ONCE here and
    * interpolated as the same decimal literal into BOTH engines' plans
    * (computing log2 at query time would race the two engines' libm to
    * the last ulp — the sign-plane-literal trick from dedup_embed). */
  private val NdcgW: Seq[Double] = (1 to 5).map { i =>
    BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
  private val NdcgIdcg: Double = BigDecimal(NdcgW.sum)
    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Probes-vs-corpus cosine rows `(probe_id, cand_id, cos)` for the first
    * `nProbes` vectors against every other vector, optionally over the
    * first `width` dims only (matryoshka prefix). The RAW double cosine is
    * bit-identical across engines (ascending-index fold), so downstream
    * ranks/gates on it are safe unquantized — the sim_topk contract.
    * Scale: nProbes model-parameter rows broadcast, ONE corpus scan, k·N
    * work; the limit is structural for the hinted-broadcast gate. */
  private def probeCos(emb: DataFrame, nProbes: Int,
      width: Option[Int]): DataFrame = {
    val v = width.map(w => slice(col("embedding"), 1, w))
      .getOrElse(col("embedding"))
    val base = emb.select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
    val probes = base.filter(col("vec_id") < nProbes).limit(nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("p"),
        col("nrm").as("pnrm"))
    base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        (dot(col("v"), col("p")) / (col("nrm") * col("pnrm"))).as("cos"))
  }

  /** Power-iteration rounds for the top principal direction. Three rounds
    * of v ← normalize(Σᵢ eᵢ'(eᵢ'·v)) from the uniform seed dominate-align
    * far faster than the eigengap bound suggests on clustered embedding
    * clouds; the count is pinned into the oracle's unrolled CTE chain. */
  private val PowerIters = 3

  /** Ascending-index double-array dot — the array<double> twin of
    * DotProductExpr (which is float-only): same sequential fold, same
    * dDot mirror. Interpreted HOF, acceptable on the model-fit and
    * per-vector scoring paths where inputs are centered DOUBLE arrays. */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Fit (μ, v̂₁) of the embedding cloud: exact-decimal per-dimension
    * means, then PowerIters power-iteration rounds for the dominant
    * principal direction — the model behind embed_pca_power (the
    * published directions) and embed_abtt (the per-vector debias). The
    * collected μ/v are dim-sized model parameters (the Ivf.fitCentroids
    * exception), re-entering the plan as array literals.
    *
    * Cross-engine contract, step by step (every step mirrored in the
    * oracle's unrolled CTEs): means are decimal-exact sums over exact
    * counts (the kmeans M-step contract); per-vector coefficients are
    * ascending double folds (dotD ↔ dDot); the per-dimension
    * accumulation Σᵢ eᵢⱼ'·cᵢ casts each double product to DECIMAL(30,8)
    * (partition-order-independent); the normalizer is engine-computed
    * sqrt of the decimal sum of wⱼ² — only the final wⱼ/‖w‖ divisions
    * run driver-side, on doubles the oracle derives identically. The
    * norm's decimal quantization is replayed driver-side with
    * BigDecimal.setScale(8, HALF_UP), the same rounding both engines'
    * double→decimal cast applies. */
  private[graft] def pcaFit(s: SparkSession, d: String): (Seq[Double], Seq[Double]) = {
    val (mu, cloud) = centeredCheckpoint(s, d)
    (mu, powerIterate(cloud, mu.length))
  }

  /** Exact-decimal per-dimension means + the centered cloud, cut once
    * (each power round otherwise re-derives it
    * from the parquet scan, tripling the fit's scan cost; a lineage cut
    * changes no values — the per-element x − m arithmetic runs
    * identically either way). Aggregate-shape history: the r16 probe's
    * single shuffle-free aggregate with 64 dim sum columns measured the
    * family 40% SLOWER (5.66s → 8.14s) — 65 decimal aggregate
    * expressions in one HashAggregate blow the generated method past
    * codegen limits and fall back to interpreted. r18 kept the 64×
    * posexplode + (j)-keyed form; r19 lands the middle point the r18
    * verdict asked to probe — 8 slice-CHUNKS of ≤8 dims, 8 decimal sums
    * per chunk group (see the notes at the mean below and in
    * [[powerIterate]]): 8× fewer exploded rows, every HashAggregate
    * under codegen limits, identical decimal-exact values. Isolated
    * median-of-7 at sf0.1: whiten 3.07 → 2.60s, pca_power 1.54 → 1.37s,
    * abtt 1.59 → 1.46s vs the posexplode form. */
  private def centeredCheckpoint(s: SparkSession, d: String)
      : (Seq[Double], DataFrame) = {
    val emb = Tables.embeddings(s, d)
    val dec = org.apache.spark.sql.types.DecimalType(30, 8)
    // Chunked like powerIterate (r19 — see its note): 8 slice-chunks of
    // ≤8 dims instead of a 64× posexplode; each chunk group carries 8
    // decimal sums over exactly the addends the per-j groups summed
    // (decimal addition exact, order-free ⇒ identical means);
    // try_element_at reads a ragged tail chunk's missing slots as null
    // (element_at throws on them under ANSI), and sum() skips them. The
    // denominator counts the vectors that HAVE position i — null
    // elements included, the oracle's count(*) over unnest — so ragged
    // embeddings keep their per-position denominators and a null
    // element counts without adding to the sum.
    val cw = 8
    val mAggs = (1 to cw).map(i =>
      (sum(try_element_at(col("seg"), lit(i)).cast("double").cast(dec))
        .cast("double") /
        count(when(size(col("seg")) >= i, 1))).as(s"m$i"))
    val mu: Seq[Double] = emb
      .select(posexplode(transform(
        sequence(lit(0),
          ((size(col("embedding")) + cw - 1) / cw).cast("int") - 1),
        ci => slice(col("embedding"), ci * cw + 1, lit(cw))))
        .as(Seq("ci", "seg")))
      .groupBy("ci").agg(mAggs.head, mAggs.tail: _*)
      .orderBy("ci").collect().toSeq
      .flatMap { r =>
        val ci = r.getInt(0)
        (1 to cw).collect { case i if !r.isNullAt(i) =>
          (ci * cw + (i - 1)) -> r.getDouble(i)
        }
      }.sortBy(_._1).map(_._2)
    val centered = zip_with(col("embedding"), typedlit(mu),
      (x, m) => x.cast("double") - m)
    (mu, cut(emb.select(centered.as("ce"))))
  }

  /** PowerIters rounds of v ← normalize(Σ rows ce·(ce·v)) over a
    * one-column, already-checkpointed DataFrame of (centered/deflated)
    * double arrays — the shared engine of [[pcaFit]] and [[pcaFit2]]'s
    * second pass. Same uniform seed, same decimal accumulation and norm
    * contract as always (see [[centeredCheckpoint]] for why the
    * explode/group shape stays). */
  private[graft] def powerIterate(cloud: DataFrame, dim: Int): Seq[Double] = {
    val s = cloud.sparkSession
    val dec = org.apache.spark.sql.types.DecimalType(30, 8)
    // CHUNKED accumulation (r19, re-probing the r16 adjudication): the
    // r16 single-aggregate rewrite put 65 decimal sums in ONE
    // HashAggregate and fell out of codegen (40% slower); the original
    // posexplode form multiplied every row 64× just to key the sums.
    // Middle form: explode 8 slice-chunks of ≤8 dims per row and give
    // each (chunk)-group 8 decimal sum columns — 8× fewer exploded rows,
    // every generated update function well under codegen limits. Values
    // are bit-identical: each w_j still sums the same CAST(e_j·c AS
    // DECIMAL(30,8)) addends (decimal addition is exact and
    // order-independent), so the oracle contract is untouched. sum()
    // ignores the nulls try_element_at reads past a ragged tail chunk's
    // end (element_at would throw under ANSI); those (ci, i)
    // slots fall outside j < dim and are dropped on reassembly.
    val cw = 8
    val nCh = (dim + cw - 1) / cw
    var v: Seq[Double] = Seq.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to PowerIters) {
      val segs = cloud
        .select(dotD(col("ce"), typedlit(v)).as("c"),
          posexplode(transform(sequence(lit(0), lit(nCh - 1)),
            ci => slice(col("ce"), ci * cw + 1, lit(cw))))
            .as(Seq("ci", "seg")))
      val sums = (1 to cw).map(i =>
        sum((try_element_at(col("seg"), lit(i)) * col("c")).cast(dec))
          .cast("double").as(s"w$i"))
      val w: Seq[Double] = segs.groupBy("ci").agg(sums.head, sums.tail: _*)
        .orderBy("ci").collect().toSeq
        .flatMap { r =>
          val ci = r.getInt(0)
          (1 to cw).collect {
            case i if ci * cw + (i - 1) < dim =>
              if (r.isNullAt(i)) throw new IllegalStateException(
                s"power iteration: chunk $ci position ${i - 1} (dimension " +
                  s"${ci * cw + (i - 1)}) summed to null — every vector's " +
                  "term there was null (a null element nulls its vector's " +
                  "coefficient)")
              (ci * cw + (i - 1)) -> r.getDouble(i)
          }
        }.sortBy(_._1).map(_._2)
      val nrm = math.sqrt(w.map(x => BigDecimal(x * x)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP))
        .sum.toDouble)
      v = w.map(_ / nrm)
    }
    v
  }

  /** (μ, v̂₁, v̂₂) — [[pcaFit]] plus one Hotelling deflation round: the
    * second direction is the power-iteration fixpoint of the cloud with
    * each vector's v̂₁ projection removed (e₂ = e′ − (e′·v̂₁)·v̂₁), which is
    * exactly PCA's orthogonal-complement recursion without ever forming a
    * covariance matrix. Determinism: e₂'s per-element x − c·v is two
    * single IEEE ops on operands both engines derive identically (c is an
    * ascending fold, v a derived literal) — no sum reordering surface, so
    * no quantization needed before the decimal-accumulated iteration. */
  private[graft] def pcaFit2(s: SparkSession, d: String)
      : (Seq[Double], Seq[Double], Seq[Double]) = {
    val (mu, cloud) = centeredCheckpoint(s, d)
    val v1 = powerIterate(cloud, mu.length)
    // deflate FROM the checkpointed centered cloud (r16; previously a
    // fresh parquet scan re-derived x − m) — the per-element arithmetic
    // (x − m) − c₁·v₁ is unchanged, only its input's lineage is shorter
    val deflated = cut(cloud
      .select(col("ce").as("ce0"), dotD(col("ce"), typedlit(v1)).as("c1"))
      .select(zip_with(col("ce0"), typedlit(v1),
        (x, vv) => x - col("c1") * vv).as("ce")))
    (mu, v1, powerIterate(deflated, mu.length))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // L2 norm + first normalized component per vector. Map-only.
    "embed_norm" -> ((s, d) => {
      val x = col("embedding")
      val l2 = sqrt(dot(x, x))
      Tables.embeddings(s, d)
        .select(col("vec_id"), size(x).cast("long").as("dim"),
          round(l2, 6).as("l2_norm"),
          round(element_at(x, 1).cast("double") / l2, 6).as("u0"))
        .orderBy("vec_id")
    }),

    // Symmetric int8 quantization: scale = 127/max|x|, q = floor(x·s + 0.5).
    // Output pins the quantized vector via checksum + saturation count
    // (dumping 64 ints per row would bloat the parquet compare).
    "embed_quantize" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("v").cast("double").as("v"))
      val withMx = e.withColumn("mx",
        max(abs(col("v"))).over(Window.partitionBy("vec_id")))
      withMx.filter(col("mx") > 0)
        .select(col("vec_id"),
          floor(col("v") * 127.0 / col("mx") + 0.5).as("qv"))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("dim"), sum("qv").as("checksum"),
          sum(when(abs(col("qv")) === 127, 1L).otherwise(0L)).as("n_sat"))
        .orderBy("vec_id")
    }),

    // Nearest-centroid assignment against the first K vectors (a
    // deterministic stand-in for trained k-means centroids): squared L2
    // via the three-dot identity |a-c|² = a·a − 2a·c + c·c, ties broken
    // by centroid id.
    "embed_centroid" -> ((s, d) => {
      assign(Tables.embeddings(s, d))
        .select(col("vec_id"), col("cid").as("centroid_id"),
          round(sqrt(col("d2")), 6).as("dist"))
        .orderBy("vec_id")
    }),

    // Top principal direction of the embedding cloud by power iteration
    // (the model half of all-but-the-top; also the first step of PCA
    // whitening): per-dimension mean + dominant eigenvector of the
    // centered covariance, WITHOUT forming the covariance matrix —
    // v ← normalize(Σᵢ eᵢ'(eᵢ'·v)) touches only dim-sized state per
    // round, which is what makes the fit feasible at 100 TB (three
    // corpus scans, each one map-side dot + one (j)-keyed decimal agg;
    // a covariance matrix is dim² state and a full shuffle). The
    // published model IS the result — 64 (dim_idx, mu, v1) rows; the
    // oracle replays the entire fit as unrolled CTEs (the pageRank/
    // dIvfLloyd convention) and matches bit-for-bit under the contract
    // documented at [[pcaFit]].
    "embed_pca_power" -> ((s, d) => {
      val (mu, v) = pcaFit(s, d)
      import s.implicits._
      mu.indices.map(j => (j, mu(j), v(j))).toDF("dim_idx", "mu", "v1")
    }),

    // All-but-the-top embedding debias (Mu & Viswanath, ICLR 2018):
    // embedding clouds share a large common component that swamps cosine
    // contrast; removing the mean and the top principal projection
    // measurably improves retrieval. Per vector: the pc1 coefficient
    // c = e'·v̂₁ and the residual norm ‖e' − c·v̂₁‖ — the two numbers the
    // debiased index stores. Reuses the SAME pcaFit model as
    // embed_pca_power (one definition, the report-reuses-operator
    // convention). Determinism: c and ‖e'‖² are ascending double folds
    // rounded at 6dp BEFORE the residual combine, so the closing
    // a − c·c sits behind round barriers no vectorized engine can
    // FMA-fuse across; the residual sqrt is correctly-rounded IEEE on
    // identical operands. Scale: model fit as above, then ONE map-side
    // scoring pass — no join, no shuffle.
    "embed_abtt" -> ((s, d) => {
      val (mu, v) = pcaFit(s, d)
      val ce = zip_with(col("embedding"), typedlit(mu),
        (x, m) => x.cast("double") - m)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          round(dotD(ce, typedlit(v)), 6).as("pc1_coef"),
          round(dotD(ce, ce), 6).as("sq_norm"))
        .select(col("vec_id"), col("label"), col("pc1_coef"),
          round(sqrt(greatest(
            col("sq_norm") - col("pc1_coef") * col("pc1_coef"),
            lit(0.0))), 6).as("resid_norm"))
        .orderBy("vec_id")
    }),

    // PCA-2 whitening (the classical decorrelate-and-rescale preprocessor;
    // Hotelling deflation gives the second direction from the SAME
    // power-iteration engine as embed_pca_power): per vector the first two
    // principal coefficients rescaled to unit variance, w_i = cᵢ/√λᵢ —
    // the 2-D whitened view downstream calibration/visualization consumes.
    // λᵢ is the in-engine corpus variance of cᵢ (decimal-accumulated sum
    // of squares over an exact count — both engines derive the identical
    // double, so the √λ division needs no driver round-trip). Scale: two
    // model fits (dim-sized state), then ONE scoring pass; λ is a 1-row
    // reducing aggregate crossed back in (broadcast of a global agg — the
    // allowed scalar-cross shape).
    "embed_whiten" -> ((s, d) => {
      val (mu, v1, v2) = pcaFit2(s, d)
      val dec = org.apache.spark.sql.types.DecimalType(30, 8)
      val ce = zip_with(col("embedding"), typedlit(mu),
        (x, m) => x.cast("double") - m)
      val scored = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), ce.as("ce0"))
        .withColumn("c1r", dotD(col("ce0"), typedlit(v1)))
        .withColumn("ce2", zip_with(col("ce0"), typedlit(v1),
          (x, vv) => x - col("c1r") * vv))
        .withColumn("c2r", dotD(col("ce2"), typedlit(v2)))
        .select("vec_id", "label", "c1r", "c2r")
      val lam = scored.agg(
        (sum((col("c1r") * col("c1r")).cast(dec)).cast("double") /
          count(lit(1))).as("lam1"),
        (sum((col("c2r") * col("c2r")).cast(dec)).cast("double") /
          count(lit(1))).as("lam2"))
      scored.crossJoin(broadcast(lam))
        .select(col("vec_id"), col("label"),
          round(col("c1r") / sqrt(col("lam1")), 6).as("w1"),
          round(col("c2r") / sqrt(col("lam2")), 6).as("w2"))
        .orderBy("vec_id")
    }),

    // Embedding outlier detection (the vector-side sibling of Corpus's
    // dq_outlier_mad): distance-to-assigned-centroid median/MAD gate per
    // cell — the corrupt-embedding screen (bad encoder batches, zeroed
    // vectors, wrong-space imports) a vector pipeline runs before
    // indexing. Reuses the DECLARED E-step (`assign`, embed_centroid's
    // own cell assignment and its round(sqrt,6) displayed distance) and
    // the declared dq_outlier_mad recipe, so the screen can't drift from
    // the index geometry it guards. Robust stats, not mean/stddev —
    // distance distributions are heavy-tailed exactly when outliers are
    // present. Determinism: medians are round(…,7)-quantized — exact
    // percentile interpolation is two IEEE ops whose ORDER differs
    // between engines' lerp spellings (a+(b−a)f vs (1−f)a+fb, up to
    // 1 ulp apart), and 7dp absorbs that without ever landing on a
    // round boundary (midpoints of 6dp-rounded dists are exact 7dp
    // points). Scale: per-cell exact percentile materializes the cell's
    // distance multiset on one reducer — dq_outlier_mad documents the
    // trade and its approx_percentile twin is the wired 100 TB form
    // (here k·cap-bounded cells keep it moot until cells grow with N).
    "embed_outliers" -> ((s, d) => {
      // the K seed vectors ARE the centroids (dist 0 to themselves) —
      // they define the geometry and are excluded from the screened set,
      // otherwise every seed is trivially flagged on the near side
      val a = assign(Tables.embeddings(s, d))
        .filter(col("vec_id") >= K)
        .select(col("vec_id"), col("cid"),
          round(sqrt(col("d2")), 6).as("dist"))
      val med = a.groupBy("cid")
        .agg(round(expr("percentile(dist, 0.5)"), 7).as("med"))
      val mad = a.join(broadcast(med), "cid")
        .groupBy("cid", "med")
        .agg(round(expr("percentile(abs(dist - med), 0.5)"), 7).as("mad"))
      a.join(broadcast(mad), "cid")
        .filter(abs(col("dist") - col("med")) > lit(3) * col("mad"))
        .select(col("vec_id"), col("cid").as("centroid_id"),
          col("dist"), col("med"), col("mad"))
        .orderBy("vec_id")
    }),

    // Semantic dedup (SemDeDup shape, Abbas et al. 2023, arXiv:2303.09540):
    // cluster by nearest seed centroid, then drop any vector whose cluster
    // contains an EARLIER (smaller vec_id) vector with cosine ≥ TauSem —
    // near-duplicate *meaning*, not near-duplicate bytes. Differs from
    // dedup_embed (label-blocked): blocks here are LEARNED cells, so
    // cross-label semantic dups are caught.
    //
    // Scale (100 TB): this is exactly SemDeDup's recipe — k grows with N
    // (they use 11k cells for 5B embeddings) so cell population stays
    // bounded and the per-cell all-pairs cost is cap² with cap ≈ N/k;
    // the E-step is a broadcast k·N scan (no shuffle of the big side
    // beyond the one hash partition on cid). A runaway cell (population
    // > SemCellCap) is sub-blocked by the same sign-LSH machinery as
    // TextSim.embedNearDupPairs via semanticDupIds — wired r8; the cap
    // sits above every testdata cell so this declared query still pins
    // the exact-within-cell semantics the oracle can mirror, while
    // SemanticCellCapSpec pins the runaway path on a synthetic hot cell.
    // The keep-lowest-id rule is SemDeDup's "keep one random point per
    // near-dup neighborhood" made deterministic (and oracle-expressible:
    // NOT EXISTS an earlier in-cell neighbor above threshold).
    "dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val v = assign(emb).select(col("vec_id"), col("cid"))
        .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
        .select(col("vec_id"), col("cid"), col("embedding"),
          sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      val dups = semanticDupIds(v, SemCellCap, TauSem)
      v.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid").as("centroid_id"),
          when(col("dup").isNotNull, 0).otherwise(1).as("kept"))
        .orderBy("vec_id")
    }),

    // One full Lloyd iteration (k-means): the E-step above plus the
    // M-step — new centroid = elementwise mean of assigned vectors.
    // Output is long-format (cid, dim_idx, c_new, n) so the oracle pins
    // every coordinate. Means accumulate through the exact-decimal sum
    // (ops/package.scala) — elementwise double addition is partition-order
    // dependent; the decimal quantum is not. Plan: k·N broadcast scoring,
    // then explode to elements and ONE shuffle on (cid, dim_idx) — the
    // M-step is map-side combined, centroids never leave the executors
    // until the k×dim result (model-parameter sized) is emitted.
    "embed_kmeans_step" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      assign(emb)
        .select(col("vec_id"), col("cid"))
        .join(emb, "vec_id")
        .select(col("cid"),
          posexplode(col("embedding")).as(Seq("dim_idx", "v")))
        .groupBy("cid", "dim_idx")
        .agg(round(exactSum(col("v").cast("double")).cast("double") /
            count(lit(1)), 6).as("c_new"),
          count(lit(1)).as("n"))
        .orderBy("cid", "dim_idx")
    }),

  /** Product-quantization codes (FAISS PQ shape, Jégou et al. 2011,
    * "Product quantization for nearest neighbor search"): the 64-dim
    * vector splits into M=8 subspaces of 8 dims; each subvector is
    * assigned to the nearest of k=16 sub-centroids (seeded from the
    * first 16 vectors' subvectors — the deterministic-codebook convention
    * of embed_centroid). Output per vector: the packed 32-bit code word
    * (Σ code_s · 16^s) and the total squared reconstruction error — a
    * 64-float vector compressed to 4 bytes, the memory step that makes
    * billion-scale ANN indexes fit. Per-subspace distances accumulate in
    * exact decimal (element count is tiny but the partial-agg order is
    * not guaranteed), so codes and error are layout-independent.
    * Scale: element-explode is n·dim·k linear work — the PQ-encode map —
    * with both groupBys map-side combined; the codebook is k×dim model
    * parameters.
    */
    "embed_pq" -> ((s, d) => {
      pqBest(Tables.embeddings(s, d))
        .groupBy("vec_id")
        .agg(sum(col("cid") * pow(lit(PqK.toDouble), col("sub")).cast("long"))
          .as("code"),
          dsum(col("d2"), 6).as("err"))
        .orderBy("vec_id")
    }),

    // ADC search over the PQ codes, two-stage (the full FAISS recipe —
    // asymmetric distance computation, then exact re-rank): the probe
    // (vec 0) precomputes its squared distance to every sub-centroid — an
    // 8×16 lookup table, pure model parameters, broadcast — and each
    // database vector's approximate distance is the sum of 8 table
    // lookups selected by its code, never touching the original floats.
    // The ADC top-100 shortlist (20% of this corpus; a fixed small
    // multiple of k in production) is then re-ranked by EXACT L2 over the
    // shortlisted floats only — coarse 32-bit codes shortlist, exact math
    // decides, which is how IVF-PQ deployments actually answer queries.
    // Approximate only vs the exact-L2 truth (the recall spec quantifies
    // that); deterministic end-to-end, hence an EXACT oracle row since
    // r11. Scale: stage 1 reads ONLY the 4-byte codes
    // (n·M code rows joined to a 128-row broadcast, then
    // TakeOrderedAndProject); stage 2 fetches |shortlist| full vectors.
    "sim_topk_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // LUT from the seed slice only (probe vec 0 is inside vec_id < PqK):
      // 16 vectors × 16 centroids, not a full-corpus distance pass — the
      // whole-corpus pqD2 runs ONCE, for the codes.
      // limit(M·PqK) is a no-op on the 8×16 LUT rows but makes the bound
      // STRUCTURAL (the `assign` convention): the r11 hinted-broadcast
      // gate no longer credits the groupBy(vec_id, sub, cid) inside pqD2
      // as reducing — vec_id is a per-row key — so without the limit this
      // legitimate model-parameter broadcast reads as fact-sized.
      val lut = pqD2(emb.filter(col("vec_id") < PqK))
        .filter(col("vec_id") === 0)
        .select(col("sub"), col("cid"), col("d2").as("pd2"))
        .limit(8 * PqK)
      val shortlist = pqBest(emb).filter(col("vec_id") =!= 0)
        .join(broadcast(lut), Seq("sub", "cid"))
        .groupBy("vec_id")
        .agg(dsum(col("pd2"), 6).as("approx_d2"))
        .orderBy(asc("approx_d2"), asc("vec_id")).limit(100)
      val probe = emb.filter(col("vec_id") === 0).limit(1)
        .select(col("embedding").as("p"))
      shortlist.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("approx_d2"),
          round(greatest(dot(col("embedding"), col("embedding")) -
            lit(2.0) * dot(col("embedding"), col("p")) +
            dot(col("p"), col("p")), lit(0.0)), 6).as("exact_d2"))
        .orderBy(asc("exact_d2"), asc("vec_id")).limit(5)
    }),

    // Hard-triplet mining for contrastive training (FaceNet shape, Schroff
    // et al. 2015, arXiv:1503.03832): for each anchor, the hardest positive
    // (same label, LOWEST cosine) and hardest negative (different label,
    // HIGHEST cosine), the margin between them, and the semi-hard flag
    // (neg_cos > pos_cos − α) that marks the anchors actually carrying
    // training signal. Ranks/gates run on the RAW cosine (bit-identical
    // fold in both engines — the sim_topk contract); round(…,6) is display
    // only, and the margin is ONE subtraction of identical doubles (no
    // multiply-add chain, so no FMA-contraction quantization needed).
    // Scale: anchors are model-parameter rows (broadcast, structural
    // limit); one corpus scan scores k·N pairs; the per-anchor argmin /
    // argmax are k-partitioned windows — never an N² self-join. At 100 TB
    // the corpus side stays a single pass per mining batch, which is how
    // hard-negative mining actually runs (per-batch against the current
    // encoder's embedding snapshot).
    "mine_triplets" -> ((s, d) =>
      tripletMine(Tables.embeddings(s, d), MineAnchors, TripletMargin)),

    // Matryoshka truncation eval (MRL, Kusupati et al. 2022,
    // arXiv:2205.13147): recall@5 of prefix-dim cosine search against the
    // full-dim exact top-5 truth, one row per truncation width — the
    // measurement behind "serve the first w dims and re-rank"
    // embedding-compression deployments. Everything is exact: the same 10
    // probes rank the corpus once per width (slice(embedding, 1, w) — the
    // prefix fold is the full fold truncated, still bit-identical across
    // engines), hits are integer set intersections, and recall is ONE
    // division of exact integers. Scale: (|widths|+1) broadcast-probe
    // corpus scans, each the audited sim_topk shape; nothing is ever
    // pairwise beyond k·N.
    "embed_matryoshka_eval" -> ((s, d) =>
      matryoshkaEval(Tables.embeddings(s, d), MrlWidths, 10)),

    // Int8 quantized-search recall: the eval row for L20's symmetric
    // quantization (floor(x·127/mx + 0.5), per-vector scale), completing
    // the compression-eval family — PQ has sim_topk_pq, matryoshka has
    // L101, int8 now has this. Candidates rank by the DEQUANTIZED cosine
    // ((intdot · sc_c) · sc_p) / (nrm_c · nrm_p) — the integer dot is
    // exact in a double fold (|q| ≤ 127, 64 dims ⇒ ≤ ~1M, far inside
    // 2^53, so accumulation order cannot matter), and the scale chain is
    // written with one parenthesization mirrored in the oracle. recall@5
    // vs the exact float top-5 truth. Scale: mx comes from the audited
    // embed_quantize explode shape (element rows, map-side combined) so
    // the quantize lambda never nests inside another HOF after
    // ProjectCollapse (the shingleRows codegen note); the search itself
    // is the broadcast-probe k·N scan.
    "embed_quantize_eval" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cand = int8Top5(emb, 10).select(col("probe_id"), col("cand_id"))
      val truth = exactTop5(emb, 10).select(col("probe_id"), col("cand_id"))
      val tn = truth.agg(count(lit(1)).as("n_truth")).limit(1)
      cand.join(truth, Seq("probe_id", "cand_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(tn))
        .select(col("hits"), col("n_truth"),
          round(col("hits").cast("double") / col("n_truth"), 6)
            .as("recall_at5"))
    }),

    // IVF index maintenance report (L109): after a day's ingest (the
    // vec_id % 7 == 0 slice as the arriving batch), how did each frozen
    // cell grow, and which cells need the coarse quantizer re-trained?
    // Deployed IVF indexes freeze centroids between rebuilds and route
    // new vectors into existing cells — drift shows up as lopsided cell
    // growth, and THIS report is the rebuild trigger. One E-step over
    // the full corpus (broadcast k seed centroids, the audited `assign`
    // shape), then a k-row conditional aggregate; growth is one guarded
    // division (a cell can have zero historical members), the rebuild
    // flag compares exact-integer-derived doubles identically in both
    // engines.
    "ivf_maintenance" -> ((s, d) =>
      assign(Tables.embeddings(s, d))
        .select(col("cid"),
          (col("vec_id") % 7 === 0).cast("int").as("is_new"))
        .groupBy("cid")
        .agg(sum(lit(1) - col("is_new")).as("n_old"),
          sum("is_new").as("n_new"))
        .select(col("cid").as("centroid_id"), col("n_old"), col("n_new"),
          (col("n_old") + col("n_new")).as("n_total"),
          when(col("n_old") > 0,
            round(col("n_new").cast("double") / col("n_old"), 6))
            .otherwise(lit(0.0)).as("growth"),
          (col("n_new").cast("double") > lit(0.25) * col("n_old"))
            .cast("int").as("rebuild"))
        .orderBy("centroid_id")),

    // Maximal marginal relevance re-rank (Carbonell & Goldstein SIGIR
    // 1998): greedy diversified top-k over the relevance-top-20 shortlist —
    // the de-dup step RAG context assembly runs after retrieval, trading
    // relevance against redundancy: pick_t = argmax λ·rel(c) −
    // (1−λ)·max_{s∈picked} cos(c, s). Greedy is inherently sequential, so
    // the k rounds are unrolled (the graph_label_prop fixed-iteration
    // pattern) over the POOL, which is model-parameter-sized by
    // construction (TakeOrderedAndProject top-20; pairwise cos is pool² =
    // 400 rows) — corpus cost is one broadcast-probe scan regardless of N.
    // Each round's score is a multiply-add chain, so it is round(…,6)-
    // quantized BEFORE the argmax in both engines (the classifier-z FMA
    // contract); ties break on vec_id. Each round's selected set is a
    // `cut` (the graph-family convention) — 5 tiny jobs, not a 3^k plan
    // tree.
    "sim_mmr" -> ((s, d) =>
      mmrSelect(Tables.embeddings(s, d), MmrK, MmrPool)),

    // ANN answer-quality scorecard (L107): recall@5, MRR and nDCG@5 for
    // every compressed-search variant built from the shared probe
    // machinery (matryoshka prefixes 8/16/32 + int8), each scored against
    // the one exact float-cosine truth — the IR-standard metric row a
    // deployment quotes when choosing its compression point, replacing
    // four separate recall numbers with one comparable table. Determinism:
    // candidate/truth ranks ride bit-identical scores; the nDCG discounts
    // are 9dp literals interpolated into BOTH plans (never a query-time
    // log2); every cross-row sum (DCG terms, per-probe MRR/nDCG means)
    // accumulates through DECIMAL(30,8). Scale: |methods|+1 broadcast-
    // probe corpus scans (each the audited sim_topk shape) and then
    // constant-sized metric algebra.
    "sim_rank_metrics" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val truth = cut(exactTop5(emb, 10))
      val trSet = truth.select(col("probe_id"), col("cand_id"))
      val tr1 = truth.filter(col("rk") === 1)
        .select(col("probe_id"), col("cand_id"))
      val tn = truth.agg(count(lit(1)).as("n_truth"),
        countDistinct(col("probe_id")).as("n_probes")).limit(1)
      def mrlTop5(w: Int): DataFrame =
        probeCos(emb, 10, Some(w))
          .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
            .orderBy(desc("cos"), asc("cand_id"))))
          .filter(col("rk") <= 5)
          .select(col("probe_id"), col("cand_id"), col("rk"))
      // each 50-row list feeds three aggregates: cut, one corpus scan each
      val lists: Seq[(String, DataFrame)] =
        (MrlWidths.map(w => s"mrl$w" -> mrlTop5(w)) :+
          ("int8" -> int8Top5(emb, 10)))
          .map { case (n, df) => n -> cut(df) }
      val wCase = when(col("rk") === 1, lit(NdcgW(0)))
        .when(col("rk") === 2, lit(NdcgW(1)))
        .when(col("rk") === 3, lit(NdcgW(2)))
        .when(col("rk") === 4, lit(NdcgW(3)))
        .otherwise(lit(NdcgW(4)))
      lists.map { case (name, list) =>
        val rel = list.join(trSet.withColumn("hit", lit(1)),
            Seq("probe_id", "cand_id"), "left")
          .select(col("probe_id"), col("rk"),
            when(col("hit").isNotNull, 1).otherwise(0).as("rel"))
        val ndcg = rel.groupBy("probe_id")
          .agg(round(exactSum(wCase * col("rel")).cast("double") /
            lit(NdcgIdcg), 6).as("ndcg"))
        // IR-standard reciprocal rank: 1/rank of the FIRST candidate
        // present in the truth top-5 (0 when none of the 5 hit) — not
        // merely where truth's own #1 landed. 1/min(rk) is a single IEEE
        // division of exact small integers, safe raw per the contract.
        val rr = tr1.select(col("probe_id"))
          .join(rel.filter(col("rel") === 1)
            .groupBy("probe_id").agg(min(col("rk")).as("frk")),
            Seq("probe_id"), "left")
          .select(col("probe_id"),
            coalesce(lit(1.0) / col("frk"), lit(0.0)).as("rr"))
        val hits = rel.agg(sum(col("rel")).as("hits"))
        hits
          .crossJoin(broadcast(rr.agg(dsum(col("rr"), 6).as("smrr"))))
          .crossJoin(broadcast(ndcg.agg(dsum(col("ndcg"), 6).as("snd"))))
          .crossJoin(broadcast(tn))
          .select(lit(name).as("method"),
            round(col("hits").cast("double") / col("n_truth"), 6)
              .as("recall_at5"),
            round(col("smrr") / col("n_probes"), 6).as("mrr"),
            round(col("snd") / col("n_probes"), 6).as("ndcg_at5"))
      }.reduce(_.unionByName(_)).orderBy("method")
    })
  )

  /** sim_mmr core over any (vec_id, embedding) frame (probe = vec 0) —
    * extracted so the spec can pin the diversity semantics on a synthetic
    * near-dup cluster (MMR must skip the duplicate plain top-k would
    * take). */
  private[graft] def mmrSelect(emb: DataFrame, k: Int,
      poolN: Int): DataFrame = {
    val rel = probeCos(emb, 1, None)
      .select(col("cand_id").as("vec_id"), col("cos").as("rel"))
    val pool = cut(rel.orderBy(desc("rel"), asc("vec_id")).limit(poolN)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("rel"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm")))
    val a = pool.select(col("vec_id").as("ai"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = pool.select(col("vec_id").as("bi"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = cut(a.crossJoin(broadcast(b)).filter(col("ai") =!= col("bi"))
      .select(col("ai"), col("bi"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("pc")))
    var selected = cut(pool
      .select(col("vec_id"), round(lit(MmrLambda) * col("rel"), 6)
        .as("score"))
      .orderBy(desc("score"), asc("vec_id")).limit(1)
      .select(lit(1).as("pick_round"), col("vec_id"), col("score")))
    for (r <- 2 to k) {
      val pen = pairs
        .join(selected.select(col("vec_id").as("bi")), "bi")
        .groupBy("ai").agg(max("pc").as("pen"))
        .withColumnRenamed("ai", "vec_id")
      val pick = pool
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(pen, Seq("vec_id"))
        .select(col("vec_id"),
          round(lit(MmrLambda) * col("rel") -
            lit(MmrMu) * col("pen"), 6).as("score"))
        .orderBy(desc("score"), asc("vec_id")).limit(1)
        .select(lit(r).as("pick_round"), col("vec_id"), col("score"))
      selected = cut(selected.unionByName(pick))
    }
    selected.orderBy("pick_round")
  }

  /** mine_triplets core over any (vec_id, label, embedding) frame —
    * extracted so the spec can pin both semi-hard branches on synthetic
    * separable clusters (the sf slices' random vectors never produce a
    * positive margin). */
  private[graft] def tripletMine(emb0: DataFrame, nAnchors: Int,
      margin: Double): DataFrame = {
    val emb = emb0
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val anchors = emb.filter(col("vec_id") < nAnchors).limit(nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("p"), col("nrm").as("pnrm"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"),
        col("vec_id"), col("label"),
        (dot(col("embedding"), col("p")) / (col("nrm") * col("pnrm")))
          .as("cos"))
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("rn", row_number().over(Window.partitionBy("anchor_id")
        .orderBy(asc("cos"), asc("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("a_label"),
        col("vec_id").as("hard_pos_id"), col("cos").as("pc"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("rn", row_number().over(Window.partitionBy("anchor_id")
        .orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("vec_id").as("hard_neg_id"),
        col("cos").as("nc"))
    pos.join(neg, "anchor_id")
      .select(col("anchor_id"), col("a_label").as("label"),
        col("hard_pos_id"), round(col("pc"), 6).as("pos_cos"),
        col("hard_neg_id"), round(col("nc"), 6).as("neg_cos"),
        round(col("pc") - col("nc"), 6).as("margin"),
        when(col("nc") > col("pc") - lit(margin), 1).otherwise(0)
          .as("semi_hard"))
      .orderBy("anchor_id")
  }

  /** Exact float-cosine top-5 per probe, ranks retained — the truth list
    * every compression eval (int8, matryoshka, PQ) scores against. */
  private[graft] def exactTop5(emb: DataFrame, nProbes: Int): DataFrame =
    probeCos(emb, nProbes, None)
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("cos"), asc("cand_id"))))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rk"))

  /** Int8 symmetric-quantized search: top-5 per probe by the dequantized
    * cosine, ranks retained. mx comes from the audited embed_quantize
    * explode shape so the quantize lambda never nests inside another HOF
    * after ProjectCollapse; the quantized vector casts to array<float>
    * for the codegen dot (|q| ≤ 127 integers are exact in float, so the
    * fold still sums exact integers). Shared by embed_quantize_eval and
    * sim_rank_metrics (one implementation, one oracle chain — no drift). */
  private[graft] def int8Top5(emb: DataFrame, nProbes: Int): DataFrame = {
    val mx = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("vec_id")
      .agg(max(abs(col("v").cast("double"))).as("mx"))
      .filter(col("mx") > 0)
    val quant = emb.join(mx, "vec_id")
      .select(col("vec_id"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"),
        (col("mx") / lit(127.0)).as("sc"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(127.0) / col("mx") + lit(0.5)))
          .cast("array<float>").as("q"))
    val probes = quant.filter(col("vec_id") < nProbes).limit(nProbes)
      .select(col("vec_id").as("probe_id"), col("q").as("pq"),
        col("sc").as("psc"), col("nrm").as("pnrm"))
    quant.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        (dot(col("q"), col("pq")) * col("sc") * col("psc") /
          (col("nrm") * col("pnrm"))).as("s"))
      .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
        .orderBy(desc("s"), asc("cand_id"))))
      .filter(col("rk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rk"))
  }

  /** embed_matryoshka_eval core over any (vec_id, embedding) frame —
    * extracted so the spec can pin recall = 1.0 when all information
    * lives in the evaluated prefix. */
  private[graft] def matryoshkaEval(emb: DataFrame, widths: Seq[Int],
      nProbes: Int): DataFrame = {
    def top5(width: Option[Int]): DataFrame =
      probeCos(emb, nProbes, width)
        .withColumn("rk", row_number().over(Window.partitionBy("probe_id")
          .orderBy(desc("cos"), asc("cand_id"))))
        .filter(col("rk") <= 5)
        .select(col("probe_id"), col("cand_id"))
    val truth = top5(None)
    // 1-row denominator (nProbes × 5) derived from truth, not a
    // literal, so the query stays honest on any corpus slice.
    val tn = truth.agg(count(lit(1)).as("n_truth")).limit(1)
    widths.map { w =>
      top5(Some(w)).join(truth, Seq("probe_id", "cand_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(w).as("width"), col("hits"))
    }.reduce(_.unionByName(_))
      .crossJoin(broadcast(tn))
      .select(col("width"), col("hits"),
        round(col("hits").cast("double") / col("n_truth"), 6)
          .as("recall_at5"))
      .orderBy("width")
  }

  /** All subspace distances (vec_id, sub, cid, d2): elements joined to the
    * 16-seed codebook, squared distances accumulated in exact decimal.
    * Shared by embed_pq and sim_topk_pq. */
  private def pqD2(emb: DataFrame): DataFrame = {
    val el = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx"), col("x").cast("double").as("x"),
        expr("idx div 8").as("sub"))
    val cb = el.filter(col("vec_id") < PqK)
      .select(col("vec_id").as("cid"), col("idx"), col("x").as("cx"))
    el.join(cb, Seq("idx")) // idx determines the subspace
      .groupBy("vec_id", "sub", "cid")
      .agg(exactSum((col("x") - col("cx")) * (col("x") - col("cx")))
        .cast("double").as("d2"))
  }

  /** Per-(vector, subspace) nearest sub-centroid rows — the PQ encoding. */
  private def pqBest(emb: DataFrame): DataFrame =
    pqD2(emb).withColumn("rn", row_number().over(
        Window.partitionBy("vec_id", "sub").orderBy("d2", "cid")))
      .filter(col("rn") === 1)

  /** E-step: (vec_id, cid, d2) of the nearest of the K seed centroids —
    * broadcast k model-parameter rows, score k·N, per-vector argmin as a
    * k-row window. Shared by embed_centroid and embed_kmeans_step. */
  private def assign(emb: DataFrame): DataFrame = {
    // limit(K) is a no-op on the K unique-keyed seed rows but makes the
    // bound STRUCTURAL — PlanAuditSpec's hinted-broadcast gate reads the
    // plan, not vec_id's key semantics.
    val cent = emb.filter(col("vec_id") < K).limit(K)
      .select(col("vec_id").as("cid"), col("embedding").as("c"))
    // greatest(·, 0): the three-dot identity cancels catastrophically for
    // near-identical vector/centroid pairs and can go fractionally
    // NEGATIVE (≈ -1e-15) — sqrt would then be NaN in Spark but a hard
    // ERROR in DuckDB, so one near-dup row could kill the oracle query.
    // Mirrored in dAssign.
    val d2 = greatest(dot(col("embedding"), col("embedding")) -
      lit(2.0) * dot(col("embedding"), col("c")) +
      dot(col("c"), col("c")), lit(0.0))
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), d2.as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy("d2", "cid")))
      .filter(col("rn") === 1)
      .select("vec_id", "cid", "d2")
  }

  /** One power-iteration round as oracle CTEs: coefficient fold, decimal
    * per-dimension accumulation, decimal norm, driver-mirrored division.
    * `src` is any CTE with (vec_id, ce); `tag` prefixes the CTE names so a
    * second chain (the whiten deflation pass) can coexist in one WITH.
    * Every multi-referenced CTE is MATERIALIZED (r19, the graph_hits
    * convention): DuckDB 1.0 INLINES plain CTEs at each reference, so
    * w_k (read by n_k AND v_k) doubled its upstream per round and the
    * 6-round whiten chain re-executed ~2^6 times — the driver's oracle
    * spent 77 s on embed_whiten alone (60% of its budget). Same SQL
    * semantics, one execution per CTE. */
  private def dPowerIter(k: Int, vPrev: String, src: String = "ce",
      tag: String = ""): String =
    s"""${tag}c$k AS MATERIALIZED (SELECT vec_id, ce, ${dDot("ce", "vv")} AS c
       |  FROM $src, (SELECT v AS vv FROM $vPrev)),
       |${tag}w${k}e AS MATERIALIZED (
       |  SELECT unnest(generate_series(0, len(ce) - 1)) AS j,
       |    unnest(ce) AS ej, c FROM ${tag}c$k),
       |${tag}w$k AS MATERIALIZED (
       |  SELECT j, CAST(SUM(CAST(ej * c AS DECIMAL(30,8)))
       |    AS DOUBLE) AS wd FROM ${tag}w${k}e GROUP BY 1),
       |${tag}n$k AS MATERIALIZED (
       |  SELECT sqrt(CAST(SUM(CAST(wd * wd AS DECIMAL(30,8)))
       |    AS DOUBLE)) AS nrm FROM ${tag}w$k),
       |${tag}v$k AS MATERIALIZED (SELECT list(wd / nrm ORDER BY j) AS v
       |  FROM ${tag}w$k, ${tag}n$k)"""
      .stripMargin

  /** The full pcaFit replay: exact-decimal means, centered cloud, uniform
    * seed, PowerIters unrolled rounds — shared by embed_pca_power and
    * embed_abtt so the published model and the per-vector debias can
    * never disagree. */
  private lazy val dPcaChain: String =
    s"""el AS MATERIALIZED (SELECT vec_id,
       |    unnest(generate_series(0, len(embedding) - 1)) AS j,
       |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |mu AS MATERIALIZED (
       |  SELECT j, CAST(SUM(CAST(x AS DECIMAL(30,8))) AS DOUBLE)
       |    / count(*) AS m FROM el GROUP BY 1),
       |muv AS MATERIALIZED (SELECT list(m ORDER BY j) AS mu FROM mu),
       |ce AS MATERIALIZED (SELECT vec_id,
       |    list_transform(list_zip(embedding, mu), p ->
       |      CAST(p[1] AS DOUBLE) - p[2]) AS ce
       |  FROM embeddings, muv),
       |d0 AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
       |v0 AS MATERIALIZED (SELECT list_transform(generate_series(1, dim), i ->
       |    1.0 / sqrt(CAST(dim AS DOUBLE))) AS v FROM d0),
       |${dPowerIter(1, "v0")},
       |${dPowerIter(2, "v1")},
       |${dPowerIter(3, "v2")}""".stripMargin

  /** [[pcaFit2]]'s replay: the pcaFit chain, per-vector deflation
    * e₂ = e′ − (e′·v̂₁)·v̂₁, then the second power chain (tag `d`) from the
    * same uniform seed — shared structure, one definition per step. */
  private lazy val dWhitenChain: String =
    s"""$dPcaChain,
       |c1s AS MATERIALIZED (SELECT vec_id, ce, ${dDot("ce", "vv")} AS c1
       |  FROM ce, (SELECT v AS vv FROM v3)),
       |ce2 AS MATERIALIZED (SELECT vec_id, c1,
       |    list_transform(list_zip(ce, vv), p -> p[1] - c1 * p[2]) AS ce
       |  FROM c1s, (SELECT v AS vv FROM v3)),
       |${dPowerIter(1, "v0", "ce2", "d")},
       |${dPowerIter(2, "dv1", "ce2", "d")},
       |${dPowerIter(3, "dv2", "ce2", "d")}""".stripMargin

  val oracles: Map[String, String] = Map(
    "embed_pca_power" ->
      s"""WITH $dPcaChain
        |SELECT CAST(j AS INTEGER) AS dim_idx, m AS mu, wd / nrm AS v1
        |FROM mu JOIN w3 USING (j), n3 ORDER BY dim_idx""".stripMargin,
    "embed_abtt" ->
      s"""WITH $dPcaChain,
        |sc AS (SELECT ce.vec_id, e.label,
        |    round(${dDot("ce", "vv")}, 6) AS pc1_coef,
        |    round(${dDot("ce", "ce")}, 6) AS sq_norm
        |  FROM ce JOIN embeddings e ON ce.vec_id = e.vec_id,
        |    (SELECT v AS vv FROM v3))
        |SELECT vec_id, label, pc1_coef,
        |  round(sqrt(greatest(sq_norm - pc1_coef * pc1_coef, 0.0)), 6)
        |    AS resid_norm
        |FROM sc ORDER BY vec_id""".stripMargin,
    "embed_whiten" ->
      s"""WITH $dWhitenChain,
        |wsc AS MATERIALIZED (SELECT t.vec_id, e.label, t.c1 AS c1r,
        |    ${dDot("ce", "vv2")} AS c2r
        |  FROM ce2 t JOIN embeddings e ON t.vec_id = e.vec_id,
        |    (SELECT v AS vv2 FROM dv3)),
        |wst AS (SELECT CAST(SUM(CAST(c1r * c1r AS DECIMAL(30,8)))
        |      AS DOUBLE) / count(*) AS lam1,
        |    CAST(SUM(CAST(c2r * c2r AS DECIMAL(30,8)))
        |      AS DOUBLE) / count(*) AS lam2 FROM wsc)
        |SELECT vec_id, label, round(c1r / sqrt(lam1), 6) AS w1,
        |  round(c2r / sqrt(lam2), 6) AS w2
        |FROM wsc, wst ORDER BY vec_id""".stripMargin,
    "embed_norm" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |round(sqrt(${dDot("embedding", "embedding")}), 6) AS l2_norm,
        |round(CAST(embedding[1] AS DOUBLE) /
        |  sqrt(${dDot("embedding", "embedding")}), 6) AS u0
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |st AS (SELECT vec_id, max(abs(v)) AS mx FROM e GROUP BY 1),
        |q AS (SELECT e.vec_id, floor(v * 127.0 / mx + 0.5) AS qv
        |  FROM e JOIN st USING (vec_id) WHERE mx > 0)
        |SELECT vec_id, count(*) AS dim, CAST(sum(qv) AS BIGINT) AS checksum,
        |  CAST(sum(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sat
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "embed_centroid" ->
      s"""WITH $dAssign
        |SELECT vec_id, cid AS centroid_id, round(sqrt(d2), 6) AS dist
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "embed_outliers" ->
      s"""WITH $dAssign,
        |a AS (SELECT vec_id, cid, round(sqrt(d2), 6) AS dist
        |  FROM r WHERE rn = 1 AND vec_id >= $K),
        |med AS (SELECT cid, round(quantile_cont(dist, 0.5), 7) AS med
        |  FROM a GROUP BY 1),
        |mad AS (SELECT a.cid, med,
        |    round(quantile_cont(abs(dist - med), 0.5), 7) AS mad
        |  FROM a JOIN med USING (cid) GROUP BY 1, 2)
        |SELECT vec_id, a.cid AS centroid_id, dist, med, mad
        |FROM a JOIN mad ON a.cid = mad.cid
        |WHERE abs(dist - med) > 3 * mad
        |ORDER BY vec_id""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $dAssign,
        |a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
        |v AS (SELECT a.vec_id, cid, embedding,
        |    sqrt(${dDot("embedding", "embedding")}) AS nrm
        |  FROM a JOIN embeddings USING (vec_id)),
        |dups AS (SELECT DISTINCT x.vec_id FROM v x JOIN v y
        |  ON x.cid = y.cid AND x.vec_id > y.vec_id
        |  WHERE ${dDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
        |    >= $TauSem)
        |SELECT v.vec_id, cid AS centroid_id,
        |  CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END AS kept
        |FROM v LEFT JOIN dups ON v.vec_id = dups.vec_id
        |ORDER BY v.vec_id""".stripMargin,
    "embed_kmeans_step" ->
      s"""WITH $dAssign,
        |a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
        |el AS (SELECT cid,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim_idx,
        |    unnest(embedding) AS v
        |  FROM a JOIN embeddings USING (vec_id))
        |SELECT cid, dim_idx,
        |  round(CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,8)))
        |    AS DOUBLE) / count(*), 6) AS c_new,
        |  count(*) AS n
        |FROM el GROUP BY cid, dim_idx ORDER BY cid, dim_idx""".stripMargin,
    "embed_pq" ->
      s"""WITH $dPqChain
        |SELECT vec_id,
        |  CAST(SUM(cid * CAST(pow($PqK, sub) AS BIGINT)) AS BIGINT) AS code,
        |  CAST(round(SUM(CAST(d2 AS DECIMAL(30,8))), 6) AS DOUBLE) AS err
        |FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // r11: sim_topk_pq promoted from rows-only to an EXACT oracle row —
    // every stage is deterministic (seeded codebook, decimal-summed d2,
    // dsum'd ADC distances, full-key ordered limits, bit-identical dots),
    // so the whole two-stage ADC answer is mirrorable: lut = probe row 0's
    // sub-distances, shortlist = top-100 by code-only ADC sum, re-rank =
    // exact L2 over the shortlisted floats. The recall spec (vs exact L2)
    // stays — the oracle proves determinism, the spec quantifies quality.
    "sim_topk_pq" ->
      s"""WITH $dPqChain,
        |lut AS (SELECT sub, cid, d2 AS pd2 FROM d2 WHERE vec_id = 0),
        |sl AS (SELECT b.vec_id,
        |    CAST(round(SUM(CAST(pd2 AS DECIMAL(30,8))), 6) AS DOUBLE)
        |      AS approx_d2
        |  FROM best b JOIN lut USING (sub, cid)
        |  WHERE rn = 1 AND b.vec_id <> 0
        |  GROUP BY 1 ORDER BY approx_d2, vec_id LIMIT 100),
        |pr AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        |SELECT s.vec_id, approx_d2,
        |  round(greatest(${dDot("y.embedding", "y.embedding")} -
        |    2.0 * ${dDot("y.embedding", "p")} + ${dDot("p", "p")}, 0.0), 6)
        |    AS exact_d2
        |FROM sl s JOIN embeddings y ON y.vec_id = s.vec_id, pr
        |ORDER BY exact_d2, s.vec_id LIMIT 5""".stripMargin,
    // Ranks and the semi-hard gate run on the RAW cosine in both engines
    // (bit-identical ascending fold); round(…,6) is display-only, the
    // margin is one subtraction of identical doubles.
    "mine_triplets" ->
      s"""WITH a AS (SELECT vec_id AS anchor_id, label AS a_label,
        |    embedding AS p FROM embeddings WHERE vec_id < $MineAnchors),
        |sc AS (SELECT anchor_id, a_label, e.vec_id, e.label,
        |    ${dCosE("e.embedding", "p")} AS cos
        |  FROM embeddings e JOIN a ON e.vec_id <> a.anchor_id),
        |pos AS (SELECT anchor_id, a_label, vec_id AS hard_pos_id,
        |    cos AS pc, row_number() OVER
        |      (PARTITION BY anchor_id ORDER BY cos ASC, vec_id) AS rn
        |  FROM sc WHERE label = a_label),
        |neg AS (SELECT anchor_id, vec_id AS hard_neg_id, cos AS nc,
        |    row_number() OVER
        |      (PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rn
        |  FROM sc WHERE label <> a_label)
        |SELECT p.anchor_id, a_label AS label, hard_pos_id,
        |  round(pc, 6) AS pos_cos, hard_neg_id, round(nc, 6) AS neg_cos,
        |  round(pc - nc, 6) AS margin,
        |  CASE WHEN nc > pc - CAST($TripletMargin AS DOUBLE)
        |    THEN 1 ELSE 0 END AS semi_hard
        |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
        |WHERE p.rn = 1 AND n.rn = 1
        |ORDER BY p.anchor_id""".stripMargin,
    // Per width, the candidate top-5 CTE is the truth CTE with the lists
    // sliced to the prefix — the prefix fold is the full fold truncated,
    // so the raw-cosine ranks mirror exactly.
    "embed_matryoshka_eval" -> {
      def blk(name: String, a: String, p: String): String =
        s"""$name AS (SELECT probe_id, cand_id FROM (
          |  SELECT probe_id, e.vec_id AS cand_id, row_number() OVER
          |    (PARTITION BY probe_id
          |     ORDER BY ${dCosE(a, p)} DESC, e.vec_id) AS rk
          |  FROM embeddings e JOIN pr ON e.vec_id <> probe_id)
          |  WHERE rk <= 5)""".stripMargin
      val ws = MrlWidths.map(w =>
        blk(s"w$w", s"e.embedding[1:$w]", s"p[1:$w]") + ",\n" +
          s"h$w AS (SELECT $w AS width, count(*) AS hits " +
          s"FROM w$w JOIN tr USING (probe_id, cand_id))").mkString(",\n")
      val un = MrlWidths.map(w => s"SELECT * FROM h$w")
        .mkString(" UNION ALL ")
      s"""WITH pr AS (SELECT vec_id AS probe_id, embedding AS p
        |    FROM embeddings WHERE vec_id < 10),
        |${blk("tr", "e.embedding", "p")},
        |tn AS (SELECT count(*) AS n_truth FROM tr),
        |$ws
        |SELECT width, hits,
        |  round(CAST(hits AS DOUBLE) / n_truth, 6) AS recall_at5
        |FROM ($un), tn ORDER BY width""".stripMargin
    },
    // The integer dot is exact in both engines (ints ≤ 127 summed in a
    // double fold stay far inside 2^53); the dequantize scale chain uses
    // ONE parenthesization, shared with sim_rank_metrics via dInt8Chain.
    "embed_quantize_eval" ->
      s"""WITH $dInt8Chain,
        |pr AS (SELECT vec_id AS probe_id, embedding AS p
        |  FROM embeddings WHERE vec_id < 10),
        |tr AS (SELECT probe_id, cand_id FROM (
        |  SELECT probe_id, e.vec_id AS cand_id, row_number() OVER
        |    (PARTITION BY probe_id
        |     ORDER BY ${dCosE("e.embedding", "p")} DESC, e.vec_id) AS rk
        |  FROM embeddings e JOIN pr ON e.vec_id <> probe_id)
        |  WHERE rk <= 5),
        |tn AS (SELECT count(*) AS n_truth FROM tr),
        |h AS (SELECT count(*) AS hits
        |  FROM i8c JOIN tr USING (probe_id, cand_id))
        |SELECT hits, n_truth,
        |  round(CAST(hits AS DOUBLE) / n_truth, 6) AS recall_at5
        |FROM h, tn""".stripMargin,
    // Same dAssign E-step; conditional counts close from exact integers,
    // growth guarded exactly like the Spark `when(n_old > 0, …)`.
    "ivf_maintenance" ->
      s"""WITH $dAssign,
        |a AS (SELECT vec_id, cid FROM r WHERE rn = 1),
        |g AS (SELECT cid,
        |    CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_old,
        |    CAST(sum(CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM a GROUP BY 1)
        |SELECT cid AS centroid_id, n_old, n_new,
        |  n_old + n_new AS n_total,
        |  CASE WHEN n_old > 0
        |    THEN round(CAST(n_new AS DOUBLE) / n_old, 6)
        |    ELSE CAST(0 AS DOUBLE) END AS growth,
        |  CAST(CAST(n_new AS DOUBLE) > 0.25 * n_old AS INT) AS rebuild
        |FROM g ORDER BY centroid_id""".stripMargin,
    // Four candidate chains (three prefix slices + the shared int8
    // chain) scored by identical metric CTE blocks against one truth;
    // nDCG discounts are the same 9dp literals the Spark plan carries.
    "sim_rank_metrics" -> {
      val wCase = "CASE WHEN rk = 1 THEN " + NdcgW(0) +
        " WHEN rk = 2 THEN " + NdcgW(1) +
        " WHEN rk = 3 THEN " + NdcgW(2) +
        " WHEN rk = 4 THEN " + NdcgW(3) +
        " ELSE " + NdcgW(4) + " END"
      def cand(name: String, a: String, p: String): String =
        s"""$name AS (SELECT probe_id, cand_id, rk FROM (
          |  SELECT probe_id, e.vec_id AS cand_id, row_number() OVER
          |    (PARTITION BY probe_id
          |     ORDER BY ${dCosE(a, p)} DESC, e.vec_id) AS rk
          |  FROM embeddings e JOIN pr ON e.vec_id <> probe_id)
          |  WHERE rk <= 5)""".stripMargin
      def met(m: String, c: String): String =
        s"""${m}_rel AS (SELECT c.probe_id, c.rk,
          |    CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
          |  FROM $c c LEFT JOIN trset t
          |    ON c.probe_id = t.probe_id AND c.cand_id = t.cand_id),
          |${m}_dcg AS (SELECT probe_id,
          |    round(CAST(SUM(CAST($wCase * rel AS DECIMAL(30,8)))
          |      AS DOUBLE) / $NdcgIdcg, 6) AS ndcg
          |  FROM ${m}_rel GROUP BY 1),
          |${m}_rr AS (SELECT t1.probe_id,
          |    coalesce(CAST(1 AS DOUBLE) / f.frk, CAST(0 AS DOUBLE)) AS rr
          |  FROM tr1 t1 LEFT JOIN (SELECT probe_id, min(rk) AS frk
          |      FROM ${m}_rel WHERE rel = 1 GROUP BY 1) f
          |    ON f.probe_id = t1.probe_id),
          |${m}_met AS (SELECT '$m' AS method,
          |    round(CAST(h.hits AS DOUBLE) / tn.n_truth, 6) AS recall_at5,
          |    round(r.smrr / tn.n_probes, 6) AS mrr,
          |    round(g.snd / tn.n_probes, 6) AS ndcg_at5
          |  FROM (SELECT CAST(sum(rel) AS BIGINT) AS hits
          |      FROM ${m}_rel) h,
          |    (SELECT CAST(round(SUM(CAST(rr AS DECIMAL(30,8))), 6)
          |      AS DOUBLE) AS smrr FROM ${m}_rr) r,
          |    (SELECT CAST(round(SUM(CAST(ndcg AS DECIMAL(30,8))), 6)
          |      AS DOUBLE) AS snd FROM ${m}_dcg) g, tn)""".stripMargin
      val methods = MrlWidths.map(w => (s"mrl$w", s"c$w")) :+
        (("int8", "i8c"))
      s"""WITH pr AS (SELECT vec_id AS probe_id, embedding AS p
        |  FROM embeddings WHERE vec_id < 10),
        |${cand("tr", "e.embedding", "p")},
        |trset AS (SELECT probe_id, cand_id FROM tr),
        |tr1 AS (SELECT probe_id, cand_id FROM tr WHERE rk = 1),
        |tn AS (SELECT count(*) AS n_truth,
        |  count(DISTINCT probe_id) AS n_probes FROM tr),
        |${MrlWidths.map(w =>
            cand(s"c$w", s"e.embedding[1:$w]", s"p[1:$w]"))
          .mkString(",\n")},
        |$dInt8Chain,
        |${methods.map { case (m, c) => met(m, c) }.mkString(",\n")}
        |SELECT method, recall_at5, mrr, ndcg_at5 FROM (
        |  ${methods.map { case (m, _) => s"SELECT * FROM ${m}_met" }
          .mkString(" UNION ALL ")})
        |ORDER BY method""".stripMargin
    },
    // Unrolled greedy: s1..s5 each pick one id; later rounds exclude and
    // penalize against the UNION of earlier picks via a correlated max —
    // scores round(…,6)-quantized before every ORDER BY … LIMIT 1, λ and
    // 1−λ spelled from the same decimal text as the Spark literals.
    "sim_mmr" -> {
      val lam = s"CAST($MmrLambda AS DOUBLE)"
      val mu = s"CAST($MmrMu AS DOUBLE)"
      val blocks = (2 to MmrK).map { r =>
        val sel = (1 until r).map(i => s"SELECT vec_id FROM s$i")
          .mkString(" UNION ALL ")
        s"""s$r AS (SELECT $r AS pick_round, vec_id, score FROM (
          |  SELECT p.vec_id,
          |    round($lam * rel - $mu * (SELECT max(pc.pc) FROM pc
          |      WHERE pc.ai = p.vec_id AND pc.bi IN ($sel)), 6) AS score
          |  FROM pool p WHERE p.vec_id NOT IN ($sel))
          |  ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val un = (1 to MmrK).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH pr AS (SELECT embedding AS p FROM embeddings
        |  WHERE vec_id = 0),
        |rel AS (SELECT e.vec_id, ${dCosE("e.embedding", "p")} AS rel
        |  FROM embeddings e, pr WHERE e.vec_id <> 0),
        |pool AS (SELECT r.vec_id, rel, embedding,
        |    sqrt(${dDot("embedding", "embedding")}) AS nrm
        |  FROM (SELECT vec_id, rel FROM rel
        |    ORDER BY rel DESC, vec_id LIMIT $MmrPool) r
        |  JOIN embeddings USING (vec_id)),
        |pc AS (SELECT a.vec_id AS ai, b.vec_id AS bi,
        |    ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS pc
        |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        |s1 AS (SELECT 1 AS pick_round, vec_id, score FROM (
        |  SELECT vec_id, round($lam * rel, 6) AS score FROM pool)
        |  ORDER BY score DESC, vec_id LIMIT 1),
        |$blocks
        |SELECT pick_round, vec_id, score FROM ($un)
        |ORDER BY pick_round""".stripMargin
    }
  )

  /** DuckDB cosine mirror of `dot(a,b)/(nrm·nrm)` over raw lists. */
  private def dCosE(a: String, b: String): String =
    s"${dDot(a, b)} / (sqrt(${dDot(a, a)}) * sqrt(${dDot(b, b)}))"

  /** Shared int8 candidate CTE chain ending in `i8c(probe_id, cand_id,
    * rk ≤ 5)` — the DuckDB mirror of [[int8Top5]] (10 probes), used by
    * embed_quantize_eval AND sim_rank_metrics so the two oracles cannot
    * drift. */
  private lazy val dInt8Chain: String =
    s"""i8b AS (SELECT vec_id, embedding,
      |    sqrt(${dDot("embedding", "embedding")}) AS nrm
      |  FROM embeddings),
      |i8m AS (SELECT vec_id, max(abs(v)) AS mx FROM (SELECT vec_id,
      |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
      |  GROUP BY 1),
      |i8qv AS (SELECT b.vec_id, nrm, mx / 127.0 AS sc,
      |    list_transform(embedding, x ->
      |      floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5)) AS q
      |  FROM i8b b JOIN i8m USING (vec_id) WHERE mx > 0),
      |i8pq AS (SELECT vec_id AS probe_id, q AS pqv, sc AS psc,
      |    nrm AS pnrm FROM i8qv WHERE vec_id < 10),
      |i8ap AS (SELECT probe_id, c.vec_id AS cand_id,
      |    ${dDot("c.q", "pqv")} * c.sc * psc / (c.nrm * pnrm) AS s
      |  FROM i8qv c JOIN i8pq ON c.vec_id <> probe_id),
      |i8c AS (SELECT probe_id, cand_id, rk FROM (SELECT probe_id,
      |    cand_id, row_number() OVER (PARTITION BY probe_id
      |      ORDER BY s DESC, cand_id) AS rk FROM i8ap) WHERE rk <= 5)""".stripMargin

  /** Shared PQ CTE chain `el → e2 → cb → d2 → best` — the DuckDB mirror
    * of [[pqD2]]/[[pqBest]], used by embed_pq AND sim_topk_pq so the two
    * oracles cannot drift. */
  private lazy val dPqChain: String =
    s"""el AS (SELECT vec_id,
      |    unnest(generate_series(0, len(embedding) - 1)) AS idx,
      |    CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |e2 AS (SELECT vec_id, idx, x, idx // 8 AS sub FROM el),
      |cb AS (SELECT vec_id AS cid, idx, x AS cx FROM e2
      |  WHERE vec_id < $PqK),
      |d2 AS (SELECT e2.vec_id, sub, cid,
      |    CAST(SUM(CAST((x - cx) * (x - cx) AS DECIMAL(30,8)))
      |      AS DOUBLE) AS d2
      |  FROM e2 JOIN cb USING (idx)
      |  GROUP BY 1, 2, 3),
      |best AS (SELECT vec_id, sub, cid, d2, row_number() OVER
      |    (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn FROM d2)""".stripMargin

  /** DuckDB mirror of [[assign]] — CTE chain ending in `r(vec_id, cid,
    * d2, rn)`; the E-step rows are `WHERE rn = 1`. */
  private lazy val dAssign: String =
    s"""cent AS (SELECT vec_id AS cid, embedding AS c
      |  FROM embeddings WHERE vec_id < $K),
      |scored AS (SELECT e.vec_id, cid,
      |  greatest(${dDot("e.embedding", "e.embedding")} -
      |    2.0 * ${dDot("e.embedding", "c")} + ${dDot("c", "c")}, 0.0) AS d2
      |  FROM embeddings e, cent),
      |r AS (SELECT vec_id, cid, d2, row_number() OVER
      |  (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM scored)""".stripMargin
}
