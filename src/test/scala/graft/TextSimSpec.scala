package graft

import org.apache.spark.sql.functions._

/** Text/dedup/similarity operator tests, including the approximate paths
  * that have no DuckDB oracle (sim_topk_lsh recall, MinHashUnion UDAF).
  */
class TextSimSpec extends SparkSpec {
  import spark.implicits._

  test("dedup_hash: identical texts collapse to one group, keep min id") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val got = df.groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .sort("keep_id")
      .select("keep_id", "n").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 1L)))
  }

  test("minhash estimated similarity tracks true Jaccard on near-dup docs") {
    // Planted near-dups in the sf0.001 documents: every pair found by the
    // exact 3-gram Jaccard path must also be found by MinHash LSH (these
    // pairs have J >= 0.8, far above the 4x4-band ~0.47 threshold knee).
    val exact = ops.TextSim.queries("dedup_ngram_jaccard")(spark, sf0001)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    val lsh = ops.TextSim.queries("dedup_minhash")(spark, sf0001)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "expected planted near-dup pairs in testdata")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"MinHash LSH missed high-J pairs: $missed")
  }

  test("sim_topk_lsh achieves >=60% recall@5 vs exact sim_topk") {
    val exact = ops.TextSim.queries("sim_topk")(spark, sf0001)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val ann = ops.TextSim.queries("sim_topk_lsh")(spark, sf0001)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(exact.size === 50) // 10 probes x 5
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall@5 too low: $recall")
  }

  test("sim_topk_ivf achieves >=60% recall@5 vs exact sim_topk") {
    val exact = ops.TextSim.queries("sim_topk")(spark, sf0001)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = ops.TextSim.queries("sim_topk_ivf")(spark, sf0001)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@5 too low: $recall")
  }

  test("text_langid_margin: agrees with text_langid's argmax, margin " +
    "and flags recompute, both routing classes occur") {
    val rows = ops.TextSim.queries("text_langid_margin")(spark, sf0001)
      .collect()
    val pred = ops.TextSim.queries("text_langid")(spark, sf0001)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    rows.foreach { r =>
      assert(r.getAs[String]("lang_pred") === pred(r.getAs[Long]("doc_id")))
      val t1 = r.getAs[Long]("top1"); val t2 = r.getAs[Long]("top2")
      assert(t1 >= t2 && t2 >= 0)
      assert(r.getAs[Long]("margin") === t1 - t2)
      assert(r.getAs[Long]("evidence") >= t1 + t2)
      assert(r.getAs[Int]("ambiguous") ===
        (if (t1 - t2 <= 1 || r.getAs[Long]("evidence") < 3) 1 else 0))
    }
    assert(rows.exists(_.getAs[Int]("ambiguous") === 1),
      "some doc must be low-margin on this corpus")
    assert(rows.exists(_.getAs[Int]("ambiguous") === 0),
      "some doc must be confidently identified")
  }

  test("ivf_nprobe_sweep: recall and scan fraction are monotone in " +
    "nprobe, nested candidate sets, ratios recompute") {
    val rows = ops.TextSim.queries("ivf_nprobe_sweep")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq === Seq(1, 2, 4))
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val n = Tables.embeddings(spark, sf0001).count()
    rows.foreach { r =>
      val hits = r.getAs[Long]("hits"); val sc = r.getAs[Long]("n_scored")
      assert(hits <= 50 && hits >= 0)
      assert(r.getAs[Double]("recall_at5") === rnd(hits.toDouble / 50))
      assert(r.getAs[Double]("scan_frac") ===
        rnd(sc.toDouble / (10 * (n - 1))))
      assert(r.getAs[Double]("scan_frac") <= 1.0 + 1e-9)
    }
    // candidate sets nest as nprobe grows -> both curves monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("recall_at5") <= b.getAs[Double]("recall_at5"))
      assert(a.getAs[Long]("n_scored") < b.getAs[Long]("n_scored"))
    }
    // the sweep's widest point must clear the deployed path's 60% bar,
    // and probing 1 of 8 cells must NOT scan the whole corpus
    assert(rows.last.getAs[Double]("recall_at5") >= 0.6)
    assert(rows.head.getAs[Double]("scan_frac") < 0.9)
  }

  test("sim_topk_pq: two-stage ADC achieves >=60% recall@5 vs exact L2") {
    val emb = Tables.embeddings(spark, sf0001)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("p"))
    val exact = emb.filter(col("vec_id") =!= 0).crossJoin(probe)
      .select(col("vec_id"),
        (ops.dot(col("embedding"), col("embedding")) -
          lit(2.0) * ops.dot(col("embedding"), col("p")) +
          ops.dot(col("p"), col("p"))).as("d2"))
      .orderBy("d2", "vec_id").limit(5)
      .select("vec_id").as[Long].collect().toSet
    val pq = ops.Embeddings.queries("sim_topk_pq")(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    assert(pq.size === 5)
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ-ADC recall@5 too low: $recall")
  }

  test("IVF quantizer assigns every vector to a valid cell") {
    val emb = Tables.embeddings(spark, sf0001)
    val centroids = ops.Ivf.fitCentroids(emb, k = 8, iters = 2)
    assert(centroids.length === 8)
    assert(centroids.forall(_.length === 64))
    val cells = ops.Ivf.assign(emb, centroids)
      .groupBy("cell").count().as[(Int, Long)].collect().toMap
    assert(cells.keys.forall(c => c >= 0 && c < 8))
    assert(cells.values.sum === emb.count())
  }

  test("MinHashUnion UDAF: group signature is the elementwise min") {
    functions.MinHashUnion.register(spark)
    val df = Seq(
      ("g1", Seq.tabulate(16)(i => (i + 10).toLong)),
      ("g1", Seq.tabulate(16)(i => (20 - i).toLong)),
      ("g2", Seq.tabulate(16)(_ => 7L))
    ).toDF("g", "sig")
    val got = df.groupBy("g").agg(expr("minhash_union(sig)").as("u"))
      .sort("g").as[(String, Seq[Long])].collect()
    val expected1 = Seq.tabulate(16)(i => math.min(i + 10, 20 - i).toLong)
    assert(got(0)._2 === expected1)
    assert(got(1)._2 === Seq.fill(16)(7L))
  }

  test("text_fingerprint is order-sensitive (rolling, not bag-of-words)") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("fp_docs")
    val toks = split(lower(col("text")), " ")
    val vals = transform(toks, t => (length(t) * 31 + ascii(t)).cast("long"))
    val fps = df.select(aggregate(vals, lit(0L),
        (acc, v) => (acc * 1000003L + v) % 1000000007L).as("fp"))
      .as[Long].collect()
    assert(fps(0) !== fps(1))
  }

  test("cosine similarity: self-similarity is 1, orthogonal is 0") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 2.0f)), (3L, Seq(3.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val p = df.filter($"vec_id" === 1).select($"embedding".as("p"))
    val cos = df.crossJoin(p)
      .select($"vec_id",
        (dot($"embedding", $"p") /
          (sqrt(dot($"embedding", $"embedding")) * sqrt(dot($"p", $"p"))))
          .as("cos"))
      .sort("vec_id").as[(Long, Double)].collect().toMap
    assert(math.abs(cos(1L) - 1.0) < 1e-12)
    assert(math.abs(cos(2L)) < 1e-12)
    assert(math.abs(cos(3L) - 1.0) < 1e-12)
  }

  test("dedup_containment: asymmetric signal well-formed, threshold honored") {
    val rows = ops.TextSim.queries("dedup_containment")(spark, sf0001)
      .select("ia", "ib", "inter", "c_ab", "c_ba")
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty, "corpus has planted near-dups; containment must fire")
    rows.foreach { case (ia, ib, inter, cab, cba) =>
      assert(ia < ib)
      assert(inter >= 1)
      assert(cab > 0 && cab <= 1.0 && cba > 0 && cba <= 1.0,
        s"containment out of range: ($ia,$ib) $cab $cba")
      assert(cab >= 0.8 || cba >= 0.8, s"below threshold: ($ia,$ib)")
    }
    // directionality is reported correctly: c_ab/c_ba differ whenever the
    // two docs' informative-shingle sizes differ (inter/na vs inter/nb).
    // (This corpus's planted near-dups are SYMMETRIC — whole-doc
    // mutations, not subset quotes — so a one-sided pair existing is a
    // property of the data, not the operator; the asymmetric formula
    // itself is pinned by the oracle.)
    assert(rows.exists { case (_, _, _, cab, cba) => cab != cba },
      "expected some pair with asymmetric containment values")
  }

  test("overlap_sources: canonical source pairs, totals match the pair set") {
    val m = ops.TextSim.queries("overlap_sources")(spark, sf0001).cache()
    val rows = m.select("source_a", "source_b", "n_pairs")
      .as[(String, String, Long)].collect()
    assert(rows.nonEmpty)
    // (least, greatest) canonicalization: never a reversed duplicate row
    rows.foreach { case (a, b, _) => assert(a <= b, s"non-canonical ($a,$b)") }
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length)
    // the matrix partitions the candidate pair set: counts must total it
    val nPairs = ops.TextSim.queries("dedup_minhash")(spark, sf0001).count()
    assert(rows.map(_._3).sum === nPairs)
    m.unpersist()
    ()
  }

  test("stop-shingle guard bounds the candidate join on hot shingles") {
    // 12 identical pure-boilerplate docs: every shingle has df = 12, so an
    // unguarded inverted-index join generates all 66 pairs (J = 1) — the
    // quadratic-hot-key shape. One planted near-dup pair whose shingles are
    // rare (df <= 2) must survive the guard.
    val boiler = "the quick brown fox jumps over the lazy dog"
    val docs = (0 until 12).map(i => (i.toLong, boiler)) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "alpha beta gamma delta epsilon eta"))
    val dir = java.nio.file.Files.createTempDirectory("ngram_guard").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // tau = 4: the df=12 boilerplate shingles must be dropped BEFORE
    // candidate generation — zero hot pairs, only the planted pair
    // (J over the guarded universe = 3/(4+4-3) = 0.6) remains. Explicit
    // tau parameter, NOT a conf knob: the declared query is pinned to
    // StopShingleDfDefault so it can never diverge from the oracle.
    val guarded = ops.TextSim.ngramJaccard(spark, dir, tau = 4)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(guarded === Set((100L, 101L)))
    // default tau (1000): nothing is dropped; all 66 identical-doc pairs
    // plus the planted pair come back — the guard is a no-op below the cap
    val unguarded = ops.TextSim.queries("dedup_ngram_jaccard")(spark, dir)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(unguarded.size === 67)
    assert(unguarded.contains((100L, 101L)))
  }

  test("dedup_embed: oversized blocks are LSH-sub-blocked with high recall") {
    // Skewed fixture: one hot label far above the cap (forces the sign-LSH
    // sub-blocked path) plus one small label (exact path), with planted
    // near-dup pairs (cos ≈ 0.9998) in both.
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    def nearDup(v: Array[Float]): Array[Float] =
      v.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Array[Float])]()
    var id = 0L
    for (_ <- 0 until 30) { // hot: 60 vectors, 30 planted pairs
      val v = vec()
      rows += ((id, "hot", v)); id += 1
      rows += ((id, "hot", nearDup(v))); id += 1
    }
    for (i <- 0 until 6) { // small: 8 vectors, 2 planted pairs
      val v = vec()
      rows += ((id, "small", v)); id += 1
      if (i < 2) { rows += ((id, "small", nearDup(v))); id += 1 }
    }
    val df = rows.toSeq.toDF("vec_id", "label", "embedding")

    val truth = ops.TextSim.embedNearDupPairs(df, blockCap = 1000, threshold = 0.9)
      .select("label", "ia", "ib").as[(String, Long, Long)].collect().toSet
    assert(truth.count(_._1 == "hot") === 30)
    assert(truth.count(_._1 == "small") === 2)

    val bounded = ops.TextSim.embedNearDupPairs(df, blockCap = 20, threshold = 0.9)
    // the oversized block's candidate join must key on (label, tbl, key) —
    // the sub-bucketed exchange, not an unbounded per-label all-pairs
    assert(bounded.queryExecution.optimizedPlan.toString.contains("tbl"),
      "expected LSH sub-block columns in the plan for oversized labels")
    val got = bounded.select("label", "ia", "ib")
      .as[(String, Long, Long)].collect().toSet
    // precision is exact (every candidate is cosine-verified)
    assert((got -- truth).isEmpty)
    // small label stays exact; hot label keeps >=90% of planted pairs
    assert(got.filter(_._1 == "small") === truth.filter(_._1 == "small"))
    val hotRecall =
      got.count(_._1 == "hot").toDouble / truth.count(_._1 == "hot")
    assert(hotRecall >= 0.9, s"hot-label recall $hotRecall")
  }

  test("dedup_incremental equals the crossing subset of whole-corpus " +
    "minhash pairs") {
    import org.apache.spark.sql.functions._
    val K = 250 // TextSim.SnapshotBoundary, pinned in query and oracle
    val inc = ops.TextSim.queries("dedup_incremental")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("exact_dup"), r.getAs[Long]("n_near"),
          r.getAs[Double]("best_sim")))).toMap
    // every flagged doc is on the batch side of the boundary
    assert(inc.keySet.forall(_ >= K))
    // near-dup counts must match the crossing subset of dedup_minhash
    val expected = ops.TextSim.queries("dedup_minhash")(spark, sf0001)
      .filter(col("ia") < K && col("ib") >= K)
      .groupBy(col("ib").as("doc_id"))
      .agg(count(lit(1)).as("n"), max("est_sim").as("best"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("n"), r.getAs[Double]("best")))).toMap
    val nearGot = inc.collect { case (id, (_, n, best)) if n > 0 =>
      (id, (n, best)) }
    assert(nearGot === expected,
      "cross-corpus banding must equal the crossing subset of the " +
        "whole-corpus pair set")
  }

  test("dedup_span flags a planted shared 10-token span at every " +
    "occurrence and nothing else") {
    // doc 0 and doc 1 share tokens 0-9 exactly (doc 1 embeds them at a
    // NON-span-aligned offset in its own text? no — spans are cutting
    // windows, so the shared run must occupy a full window in both docs
    // to be caught; that alignment sensitivity is the documented trade
    // vs the O(n·k) sliding variant). doc 2 is disjoint filler.
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " zeta eta theta iota kappa lambda mu nu xi omicron"),
      (1L, shared + " uno dos tres cuatro cinco seis siete ocho nueve diez"),
      (2L, (1 to 20).map(i => s"filler$i").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("span").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = ops.TextSim.queries("dedup_span_flag")(spark, dir)
      .select("doc_id", "span_idx", "n_docs")
      .as[(Long, Long, Long)].collect().toSet
    // the shared span is window 0 of both docs; no other window repeats
    assert(got === Set((0L, 0L, 2L), (1L, 0L, 2L)), s"got $got")
  }

  test("dedup_span_sliding catches a misaligned shared run the cutting " +
    "variant misses") {
    // the shared 10-token run starts at offset 0 in doc 0 but offset 3 in
    // doc 1 — it straddles doc 1's window boundary, so cutting windows
    // see no repeat, while sliding windows must flag it in both docs.
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " zeta eta theta iota kappa lambda mu nu xi omicron"),
      (1L, "pre1 pre2 pre3 " + shared + " uno dos tres cuatro cinco seis siete"),
      (2L, (1 to 20).map(i => s"filler$i").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("span_slide").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val cut = ops.TextSim.queries("dedup_span_flag")(spark, dir).count()
    assert(cut == 0L, "cutting windows must miss the misaligned run")
    val slid = ops.TextSim.queries("dedup_span_sliding")(spark, dir)
      .select("doc_id", "span_idx").as[(Long, Long)].collect().toSet
    assert(slid === Set((0L, 0L), (1L, 3L)), s"got $slid")
  }

  test("text_blocklist: join-side hit counts equal per-doc token " +
    "membership, zero-hit docs survive the left join (L72)") {
    val lex = Set("slow", "big", "merge", "filter")
    val res = ops.TextSim.queries("text_blocklist")(spark, sf0001)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(res.map(_._1).toSet === docs.keySet, "every doc appears once")
    res.foreach { case (id, nTok, nHits, rate, flagged) =>
      val toks = docs(id).toLowerCase.split(" ", -1)
      assert(nTok === toks.length.toLong, s"doc $id")
      assert(nHits === toks.count(lex.contains).toLong, s"doc $id")
      assert(rate === nHits.toDouble / nTok)
      assert(flagged === (rate > 0.05))
    }
    // the synthetic corpus must exercise both branches
    assert(res.exists(_._5) && res.exists(r => !r._5))
  }

  test("curate_classifier: scores reproduce the frozen logistic model " +
    "and the keep gate is the sign of z (L77)") {
    val res = ops.TextSim.queries("curate_classifier")(spark, sf0001)
      .as[(Long, Double, Double, Boolean)].collect()
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "it")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    res.foreach { case (id, z, score, keep) =>
      val t = docs(id).toLowerCase
      val toks = t.split(" ", -1)
      val punct = t.count(c => !(c.isDigit || c == ' ' ||
        (c >= 'a' && c <= 'z'))).toDouble / t.length
      val zRef = -1.0 + 2.5 * math.min(toks.length / 100.0, 1.0) +
        3.0 * (toks.count(stop) .toDouble/ toks.length) - 4.0 * punct +
        0.8 * (toks.map(_.length).sum.toDouble / toks.length / 10.0)
      assert(math.abs(z - zRef) < 1e-6, s"doc $id")
      assert(math.abs(score - 1.0 / (1.0 + math.exp(-zRef))) < 1e-5)
      assert(keep === (zRef >= 0) ||
        math.abs(zRef) < 1e-9, s"doc $id gate")
    }
    assert(res.exists(_._4) && res.exists(r => !r._4),
      "corpus must exercise both keep and drop")
    // score is monotone in z — the gate threshold is score 0.5
    res.foreach { case (_, z, score, _) =>
      assert((z >= 0) === (score >= 0.5)) }
  }

  test("dedup_minhash_eval: confusion row reconciles with the two source " +
    "queries it evaluates (L79)") {
    val Array((nc, nt, tp, fp, fn, prec, rec)) =
      ops.TextSim.queries("dedup_minhash_eval")(spark, sf0001)
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    val cand = ops.TextSim.minhashPairs(Tables.documents(spark, sf0001))
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    val truth = ops.TextSim.queries("dedup_ngram_jaccard")(spark, sf0001)
      .select("ia", "ib").as[(Long, Long)].collect().toSet
    assert(nc === cand.size.toLong && nt === truth.size.toLong)
    assert(tp === (cand & truth).size.toLong)
    assert(fp === (cand -- truth).size.toLong)
    assert(fn === (truth -- cand).size.toLong)
    assert(prec === tp.toDouble / nc && rec === tp.toDouble / nt)
    // LSH banding at 16 perms should find most true near-dups here
    assert(rec > 0.5, s"recall $rec suspiciously low")
  }

  test("dedup_minhash_eval_sampled: the sampled harness is a consistent " +
    "sub-corpus restriction of the full one (L79 scale path)") {
    val Array((nc, nt, tp, fp, fn, prec, rec)) =
      ops.TextSim.queries("dedup_minhash_eval_sampled")(spark, sf0001)
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    val Array((fnc, fnt, _, _, _, _, _)) =
      ops.TextSim.queries("dedup_minhash_eval")(spark, sf0001)
        .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(nc <= fnc && nt <= fnt, "a sub-corpus can only shrink both sides")
    assert(nc > 0 && nt > 0, "the 25% sample must retain some dup pairs")
    assert(tp + fp === nc && tp + fn === nt)
    assert(prec === tp.toDouble / nc && rec === tp.toDouble / nt)
    // both endpoints of every counted pair are inside the sample
    val inSample = Tables.documents(spark, sf0001)
      .filter(pmod(ops.h60(concat(lit("eval"), col("doc_id"))), lit(4)) === 0)
      .select("doc_id").as[Long].collect().toSet
    val cand = ops.TextSim.minhashPairs(Tables.documents(spark, sf0001)
        .filter(pmod(ops.h60(concat(lit("eval"), col("doc_id"))),
          lit(4)) === 0))
      .select("ia", "ib").as[(Long, Long)].collect()
    assert(cand.length.toLong === nc)
    cand.foreach { case (a, b) =>
      assert(inSample(a) && inSample(b)) }
  }

  test("dedup_minhash_eval: a slice where LSH proposes no pair grades " +
    "precision NULL and recall 0 instead of failing on 0/0") {
    // One true near-dup pair (one word of 14 changed: 9 of the 15
    // distinct 3-gram shingles shared, J = 0.6) whose signatures agree
    // on no whole 4-row band, so the 4x4 banding never proposes it.
    val docs = Seq(
      (1L, "every nightly load lands one parquet file per day under the " +
        "raw table folder"),
      (2L, "every nightly load drops one parquet file per day under the " +
        "raw table folder"))
    val dir = java.nio.file.Files.createTempDirectory("eval_no_cand").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val truth = ops.TextSim.queries("dedup_ngram_jaccard")(spark, dir)
      .select("ia", "ib", "jaccard").as[(Long, Long, Double)].collect()
    assert(truth.toSeq === Seq((1L, 2L, 0.6)))
    assert(ops.TextSim.minhashPairs(Tables.documents(spark, dir)).isEmpty,
      "precondition: the banding must miss the pair")
    val rows = ops.TextSim.queries("dedup_minhash_eval")(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getAs[Long]("n_cand"), r.getAs[Long]("n_truth"),
      r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")) ===
      ((0L, 1L, 0L, 0L, 1L)))
    assert(r.isNullAt(r.fieldIndex("precision")))
    assert(r.getAs[Double]("recall") === 0.0)
  }

  test("text_pii_redact positive path: injected PII is counted and " +
    "rewritten, clean text passes through untouched") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "contact alice.smith+x@example.com or bob@sub.domain.org now"),
      (2L, "ssn 123-45-6789 card 4111111111111111 ip 10.0.255.1 end"),
      (3L, "a perfectly clean sentence with no identifiers at all"),
      (4L, "two ips 192.168.0.1 8.8.8.8 and mail c@d.io"),
      // a 12-digit run is NOT a card (below the 13-digit floor); the
      // dashed SSN shape must not match a plain 9-digit run
      (5L, "123456789012 and 123456789 stay as they are")
    ).toDF("doc_id", "text")
    val out = ops.TextSim.piiRedact(fixture)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 2L && out(1L)._6 ===
      "contact <EMAIL> or <EMAIL> now")
    assert((out(2L)._3, out(2L)._4, out(2L)._5) === ((1L, 1L, 1L)))
    assert(out(2L)._6 === "ssn <SSN> card <CARD> ip <IP> end")
    assert(out(3L)._6 === "a perfectly clean sentence with no identifiers at all")
    assert((out(3L)._2, out(3L)._3, out(3L)._4, out(3L)._5) ===
      ((0L, 0L, 0L, 0L)))
    assert(out(4L)._5 === 2L && out(4L)._2 === 1L)
    assert(out(4L)._6 === "two ips <IP> <IP> and mail <EMAIL>")
    assert((out(5L)._3, out(5L)._4) === ((0L, 0L)) &&
      out(5L)._6 === "123456789012 and 123456789 stay as they are")
  }

  test("dedup_band_sweep: candidate sets nest as bands double — " +
    "collisions, gated candidates, tp and recall all monotone") {
    val rows = ops.TextSim.queries("dedup_band_sweep")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Int]("bands")).toSeq === Seq(2, 4, 8))
    rows.foreach { r =>
      assert(r.getAs[Int]("bands") * r.getAs[Int]("rows_per_band") === 16)
      assert(r.getAs[Long]("n_cand") <= r.getAs[Long]("n_coll"))
      assert(r.getAs[Long]("tp") <= r.getAs[Long]("n_cand"))
      assert(r.getAs[Long]("fp") === r.getAs[Long]("n_cand") -
        r.getAs[Long]("tp"))
    }
    // an r-slot band collision implies both of its (r/2)-slot halves
    // collide, so doubling the band count can only ADD candidate pairs
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_coll") <= b.getAs[Long]("n_coll"))
      assert(a.getAs[Long]("n_cand") <= b.getAs[Long]("n_cand"))
      assert(a.getAs[Long]("tp") <= b.getAs[Long]("tp"))
      assert(a.getAs[Double]("recall") <= b.getAs[Double]("recall"))
    }
  }

  test("text_boilerplate: exactly top-20, df non-increasing, share " +
    "recomputes against the corpus size") {
    val rows = ops.TextSim.queries("text_boilerplate")(spark, sf0001)
      .collect()
    assert(rows.length === 20)
    val n = Tables.documents(spark, sf0001).count()
    rows.foreach { r =>
      assert(r.getAs[Double]("doc_share") ===
        r.getAs[Long]("df").toDouble / n)
      assert(r.getAs[Boolean]("flagged") ===
        (r.getAs[Long]("df").toDouble / n > 0.05))
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("df") >= b.getAs[Long]("df"))
    }
  }

  test("per-row MinHash signatures are bit-identical to sigTable's " +
    "(the streaming form signs exactly what the batch form signs)") {
    val docs = Tables.documents(spark, sf0001)
    val perRow = docs
      .select(col("doc_id"),
        ops.TextSim.perRowSig(ops.TextSim.perRowShingles(3)).as("sig"))
      .filter(size(col("sig")) > 0)
      .as[(Long, Seq[Long])].collect().toMap
    val batch = ops.TextSim.sigTable(ops.TextSim.shingleRows(docs, 3))
      .as[(Long, Seq[Long])].collect().toMap
    assert(perRow.keySet === batch.keySet)
    perRow.foreach { case (id, sig) => assert(sig === batch(id), s"doc $id") }
  }

  test("minhashPairs: estimate-filter-before-distinct equals the naive " +
    "distinct-then-filter pair set (r18 shuffle-diet reorder)") {
    // The r18 optimization computes est_sim per collision row, filters,
    // and THEN dedupes on (ia, ib, est_sim) scalars — the naive form
    // deduped (ia, ib, sa, sb) first and filtered after. est_sim is a
    // pure function of the pair, so the two must agree exactly; this
    // pins that equivalence against the live implementation.
    val docs = Tables.documents(spark, sf0001)
    val sig = ops.TextSim.sigTable(ops.TextSim.shingleRows(docs, 3))
    // the naive (pre-r18) pair set, rebuilt inline: 4 bands x 4 rows
    val bands = sig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        bd => concat_ws(",", slice(col("sig"), bd * 4 + 1, lit(4)))))
        .as(Seq("band", "key")))
    val l = bands.select(col("doc_id").as("ia"), col("sig").as("sa"),
      col("band"), col("key"))
    val r = bands.select(col("doc_id").as("ib"), col("sig").as("sb"),
      col("band"), col("key"))
    val naive = l.join(r, Seq("band", "key")).filter(col("ia") < col("ib"))
      .select("ia", "ib", "sa", "sb").distinct()
      .withColumn("est_sim",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          v => v)).cast("double") / 16)
      .filter(col("est_sim") >= 0.5)
      .select("ia", "ib", "est_sim")
      .as[(Long, Long, Double)].collect().toSet
    val got = ops.TextSim.minhashPairs(docs)
      .select("ia", "ib", "est_sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(naive.nonEmpty, "expected planted near-dup pairs in testdata")
    assert(got === naive)
    // structural invariants the reorder must preserve: distinct pairs,
    // nothing below the banding threshold
    assert(got.size === got.map(p => (p._1, p._2)).size)
    got.foreach { case (_, _, est) => assert(est >= 0.5) }
  }

}
