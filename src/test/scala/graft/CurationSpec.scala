package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the Curation operators (hash sampling, splits,
  * mixture rebalance, decontamination, chunking). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("sample_hash is deterministic and tracks per-lang rates") {
    val q = ops.Curation.queries("sample_hash")
    val a = q(spark, sf0001).as[(Long, String)].collect().toSeq
    val b = q(spark, sf0001).as[(Long, String)].collect().toSeq
    assert(a === b, "hash sampling must be reproducible run-to-run")
    val byLang = a.groupBy(_._2).view.mapValues(_.size).toMap
    val totals = Tables.documents(spark, sf0001)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    // rates: es .5, zh .3, rest .8 — binomial at n~100 stays within ±0.2
    for ((lang, kept) <- byLang) {
      val rate = lang match {
        case "es" => 0.5; case "zh" => 0.3; case _ => 0.8
      }
      val frac = kept.toDouble / totals(lang)
      assert(math.abs(frac - rate) < 0.2,
        s"$lang kept $frac, expected ~$rate")
    }
  }

  test("split_train partitions the corpus, train is the large side") {
    val rows = ops.Curation.queries("split_train")(spark, sf0001)
      .select("split", "n").as[(String, Long)].collect().toMap
    assert(rows.keySet === Set("train", "val", "test"))
    assert(rows.values.sum === 500L)
    assert(rows("train") > rows("val") + rows("test"))
  }

  test("mix_resample never upsamples and caps rich sources near target") {
    val rows = ops.Curation.queries("mix_resample")(spark, sf0001)
      .select("source", "n_orig", "n_kept")
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val target = 500.0 / 20.0
    rows.foreach { case (src, orig, kept) =>
      assert(kept <= orig, s"$src upsampled: $kept > $orig")
      // sources below target keep everything (rate clamps at 1)
      if (orig <= target) assert(kept === orig, s"$src should keep all")
    }
  }

  test("decontaminate flags only non-eval docs, with positive hits") {
    val rows = ops.Curation.queries("decontaminate")(spark, sf0001)
      .select("doc_id", "n_hit").as[(Long, Long)].collect()
    rows.foreach { case (id, hits) =>
      assert(id >= 10, "eval docs must not flag themselves")
      assert(hits >= 1)
    }
    // the corpus plants near-duplicate pairs; at least one involves an
    // eval doc's content at this SF (8-gram overlap), so the result is
    // non-trivial
    assert(rows.nonEmpty, "expected at least one contaminated doc")
  }

  test("decontaminate_bloom: lossless prefilter, and the bloom rejects") {
    // exact equality with the unfiltered variant (no false negatives)
    val plain = ops.Curation.queries("decontaminate")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val bloomed = ops.Curation.queries("decontaminate_bloom")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(bloomed == plain)
    // and the prefilter genuinely shrinks the join probe side: far fewer
    // corpus grams pass the bloom than exist (otherwise it's dead weight)
    val docs = Tables.documents(spark, sf0001)
    val evalGrams = docs.filter(col("doc_id") < 10)
      .select(col("doc_id"), explode(expr(
        """filter(transform(sequence(0, size(split(lower(text),' '))-8),
          |i -> array_join(slice(split(lower(text),' '), i+1, 8), ' ')),
          |g -> size(split(g, ' ')) = 8)""".stripMargin)).as("g"))
      .select("g").distinct()
    val bloom = evalGrams.agg(functions.BloomFunctions
      .bloomAgg(col("g"), 1 << 14, 1 << 18)).head().getAs[Array[Byte]](0)
    val corpusToks = docs.filter(col("doc_id") >= 10)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
    val total = corpusToks.count()
    val pass = corpusToks.filter(
      functions.BloomFunctions.mightContain(bloom, col("tok"))).count()
    // single tokens are mostly NOT eval 8-grams: nearly all must be cut
    assert(pass < total / 10,
      s"bloom rejected too little: $pass of $total tokens passed")
  }

  test("text_chunk windows are bounded and cover every token") {
    val chunks = ops.Curation.queries("text_chunk")(spark, sf0001)
    val bad = chunks.filter(col("n_tok") > 32 || col("n_tok") < 1).count()
    assert(bad === 0, "chunk size must be in [1, 32]")
    // every doc has a chunk 0
    val docsWithC0 = chunks.filter(col("chunk") === 0)
      .select("doc_id").distinct().count()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(docsWithC0 === nDocs)
    // overlap means summed chunk sizes >= token count per doc
    val cov = chunks.groupBy("doc_id").agg(sum("n_tok").as("covered"))
    val toks = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n"))
    val uncovered = cov.join(toks, "doc_id")
      .filter(col("covered") < col("n")).count()
    assert(uncovered === 0)
  }

  test("pack_sequences assigns every doc once, conserves tokens, " +
    "keeps shard ranges disjoint") {
    val q = ops.Curation.queries("pack_sequences")
    val m = q(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    val nDocs = docs.count()
    val nToks = docs
      .agg(sum(size(split(lower(col("text")), " ")))).head().getLong(0)
    assert(m.map(_.getAs[Long]("n_docs")).sum === nDocs,
      "every document must land in exactly one sequence")
    assert(m.map(_.getAs[Long]("seq_tok")).sum === nToks,
      "packing must conserve the total token count")
    // within a shard, sequences cover disjoint ascending doc-id ranges
    m.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_.getAs[Long]("seq"))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("last_doc") < b.getAs[Long]("first_doc"),
            "sequence doc ranges must not overlap within a shard")
        case _ =>
      }
    }
    // deterministic: the manifest is identical run-to-run
    assert(q(spark, sf0001).collect().toSeq === m.toSeq)
  }

  test("mix_temperature: weights normalize, tail sources gain share") {
    val got = ops.Curation.queries("mix_temperature")(spark, sf0001)
      .select("n_orig", "p", "w_t2").as[(Long, Double, Double)].collect()
    assert(got.nonEmpty)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-4,
      "temperature weights must renormalize to 1")
    // sqrt flattening: w > p exactly when p < 1/Z² and Z = Σ√p ≤ √k, so
    // every below-mean source is strictly upweighted (p < 1/k ≤ 1/Z²);
    // above the mean the crossover is data-dependent — assert instead
    // that flattening preserves order while compressing ratios
    val meanP = 1.0 / got.length
    got.foreach { case (_, p, w) =>
      if (p < meanP - 1e-9) assert(w > p, s"tail source not upweighted: $p $w")
    }
    val byP = got.sortBy(_._2)
    byP.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3 + 1e-12, "weights must preserve share order")
    }
    val (pMin, wMin) = (byP.head._2, byP.head._3)
    val (pMax, wMax) = (byP.last._2, byP.last._3)
    if (pMin < pMax - 1e-9)
      assert(wMax / wMin < pMax / pMin,
        "temperature must compress the head/tail ratio")
  }

  test("corpus_diff: statuses match set arithmetic over the doc_id space") {
    val got = ops.Curation.queries("corpus_diff")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ids = Tables.documents(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    val old = ids.filter(_ % 7 != 0)
    val nw = ids.filter(_ % 5 != 0)
    // every 11th doc's text is revised in the new snapshot, so any doc in
    // both snapshots with doc_id % 11 == 0 must read 'changed'
    val expect = Map(
      "added" -> (nw -- old).size.toLong,
      "removed" -> (old -- nw).size.toLong,
      "changed" -> (old & nw).count(_ % 11 == 0).toLong,
      "unchanged" -> (old & nw).count(_ % 11 != 0).toLong)
    assert(got === expect.filter(_._2 > 0))
    assert(got.values.sum === (old | nw).size.toLong)
  }

  test("curate_dsir scores every doc, and target-language docs rank " +
    "higher per token") {
    val scored = ops.Curation.queries("curate_dsir")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(scored.length === docs.size,
      "every document must receive an importance weight")
    // target docs are drawn FROM the target distribution, so their mean
    // per-token log-likelihood ratio must exceed the off-target mean
    // (Gibbs' inequality, up to hash-bucket collisions and smoothing)
    val (en, rest) = scored.partition { case (id, _, _) => docs(id) == "en" }
    def meanPerTok(xs: Array[(Long, Long, Double)]) =
      xs.map { case (_, n, w) => w / n }.sum / xs.length
    assert(meanPerTok(en) > meanPerTok(rest),
      s"en=${meanPerTok(en)} vs rest=${meanPerTok(rest)}")
  }

  test("shard_manifest: shards partition the corpus, hash-order endpoints") {
    val m = ops.Curation.queries("shard_manifest")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val total = Tables.documents(spark, sf0001).count()
    assert(m.map(_._2).sum === total, "shards must partition every doc")
    assert(m.forall(r => r._1 >= 0 && r._1 < 8))
    // endpoints reproduce from the assignment hash, per shard
    val byHash = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        graft.ops.h60(concat(lit("shard"), col("doc_id"))).as("hk"))
      .as[(Long, Long)].collect()
      .groupBy { case (_, hk) => math.floorMod(hk, 8).toInt }
    m.foreach { case (shard, _, first, last) =>
      val sorted = byHash(shard).sortBy { case (id, hk) => (hk, id) }
      assert(first === sorted.head._1 && last === sorted.last._1,
        s"shard $shard endpoints")
    }
  }

  test("mix_token_budget: the binding source keeps everything, all " +
    "sources land the same token mass (L84)") {
    val res = ops.Curation.queries("mix_token_budget")(spark, sf0001)
      .as[(String, Long, Long, Double, Long)].collect()
    val budget = res.map(_._3).min
    res.foreach { case (src, nDocs, nTok, f, est) =>
      assert(f === budget.toDouble / nTok, src)
      assert(f > 0.0 && f <= 1.0)
      assert(est === math.floor(f * nDocs + 0.5).toLong, src)
      // planned token mass per source == the budget (to rounding)
      assert(math.abs(f * nTok - budget) < 1e-6, src)
    }
    assert(res.count(_._4 == 1.0) >= 1, "the binding source keeps all")
    // brute-force token totals
    val totals = Tables.documents(spark, sf0001)
      .select(col("source"), col("text")).as[(String, String)].collect()
      .groupBy(_._1).map { case (s0, xs) =>
        s0 -> xs.map(_._2.toLowerCase.split(" ", -1).length.toLong).sum }
    res.foreach { case (src, _, nTok, _, _) =>
      assert(nTok === totals(src), src) }
  }

  test("mix_epochs: shares sum to 1, epochs recompute from the uniform " +
    "per-lang allocation, flags agree with their definitions (L113)") {
    val rows = ops.Curation.queries("mix_epochs")(spark, sf0001).collect()
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val nLang = rows.length
    assert(nLang === 5)
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.map(_.getAs[Double]("tok_share")).sum - 1.0)
      < 1e-4)
    rows.foreach { r =>
      val nt = r.getAs[Long]("n_tokens")
      val alloc = total.toDouble / nLang
      assert(r.getAs[Long]("alloc_tokens") ===
        math.floor(alloc + 0.5).toLong)
      assert(r.getAs[Double]("epochs") === rnd(alloc / nt))
      assert(r.getAs[Int]("repeated") === (if (alloc > nt) 1 else 0))
      assert(r.getAs[Int]("over4") === (if (alloc > 4.0 * nt) 1 else 0))
    }
    // uniform language allocation over the en-dominant corpus must
    // subsample en and repeat the smaller languages, or it is vacuous
    val en = rows.find(_.getAs[String]("lang") == "en").get
    assert(en.getAs[Int]("repeated") === 0, "en must be subsampled")
    assert(rows.count(_.getAs[Int]("repeated") == 1) === 4,
      "the four non-en languages must repeat")
  }

  test("sample_balanced: every label keeps exactly the minority count, " +
    "selection is content-stable (L81)") {
    val res = ops.Curation.queries("sample_balanced")(spark, sf0001)
      .as[(Long, Int, Long)].collect()
    val counts = Tables.embeddings(spark, sf0001)
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    val m = counts.values.min
    val byLabel = res.groupBy(_._2)
    assert(byLabel.keySet === counts.keySet, "every label survives")
    byLabel.foreach { case (lbl, rows) =>
      assert(rows.length.toLong === m, s"label $lbl quota")
      assert(rows.map(_._3).sorted.toSeq === (1L to m), s"label $lbl ranks")
    }
    // content-stable: a second run picks the identical rows
    val again = ops.Curation.queries("sample_balanced")(spark, sf0001)
      .as[(Long, Int, Long)].collect()
    assert(res.sortBy(r => (r._2, r._3)).toSeq ===
      again.sortBy(r => (r._2, r._3)).toSeq)
  }

  test("mix_concentration: measures match the brute-force share walk and " +
    "sit in their theoretical ranges (L75)") {
    val Array((k, nDocs, gini, ent, hhi, top1)) =
      ops.Curation.queries("mix_concentration")(spark, sf0001)
        .as[(Long, Long, Double, Double, Double, Double)].collect()
    val counts = Tables.documents(spark, sf0001)
      .groupBy("source").count().as[(String, Long)].collect()
      .sortBy { case (src, n) => (n, src) }
    assert(k === counts.length.toLong)
    assert(nDocs === counts.map(_._2).sum)
    val tot = counts.map(_._2).sum.toDouble
    val shares = counts.map(_._2 / tot)
    // Gini via the same Lorenz rank form, double-checked by the
    // mean-absolute-difference definition Σ|xi−xj| / (2k·Σx)
    val xs = counts.map(_._2.toDouble)
    val mad = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum /
      (2.0 * xs.length * xs.sum)
    assert(math.abs(gini - mad) < 1e-9, s"gini $gini vs MAD form $mad")
    assert(gini >= 0.0 && gini <= 1.0 - 1.0 / k)
    assert(math.abs(ent - -shares.map(p => p * math.log(p)).sum) < 1e-4)
    // upper bound ln(k) carries the 6dp per-term rounding budget (k·5e-7):
    // a near-uniform mix can legitimately land a hair above it
    assert(ent >= 0.0 && ent <= math.log(k.toDouble) + k * 5e-7)
    assert(math.abs(hhi - shares.map(p => p * p).sum) < 1e-6)
    assert(hhi >= 1.0 / k - 1e-12 && hhi <= 1.0)
    assert(top1 === shares.max)
  }

  test("batch_padding_report: bucket accounting closes and waste is a " +
    "true padding fraction") {
    val rows = ops.Curation.queries("batch_padding_report")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    var buckets = Seq.empty[Long]
    rows.foreach { r =>
      val nd = r.getAs[Long]("n_docs"); val nb = r.getAs[Long]("n_batches")
      val tt = r.getAs[Long]("total_tokens")
      val pt = r.getAs[Long]("padded_tokens")
      val w = r.getAs[Double]("waste_ratio")
      // batches fill to 8 within each of the 4 shards — at least
      // ceil(nd/8), at most one partial batch per shard
      assert(nb >= (nd + 7) / 8 && nb <= nd / 8 + 4)
      assert(pt >= tt && tt > 0)
      // every doc in the bucket fits the bucket bound, so no batch can
      // pad a slot past it
      assert(pt <= nb * 8 * r.getAs[Long]("bucket"))
      val want = BigDecimal(1.0 - tt.toDouble / pt)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(w === want)
      buckets = buckets :+ r.getAs[Long]("bucket")
    }
    assert(buckets === buckets.sorted)
    assert(buckets.distinct.length === buckets.length)
  }

  test("curate_funnel: stages chain (n_out feeds n_in), rates " +
    "recompute, and the holdout + near-dup stages actually drop") {
    val rows = ops.Curation.queries("curate_funnel")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[Int]("stage_id")).toSeq === (1 to 5))
    assert(rows.head.getAs[Long]("n_in") === 500L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_out") === b.getAs[Long]("n_in"))
    }
    rows.foreach { r =>
      val in = r.getAs[Long]("n_in"); val out = r.getAs[Long]("n_out")
      assert(out <= in)
      assert(r.getAs[Long]("n_drop") === in - out)
      assert(r.getAs[Double]("drop_rate") === (in - out).toDouble / in)
      assert(r.getAs[Double]("cum_keep_rate") === out.toDouble / 500L)
    }
    assert(rows(0).getAs[Long]("n_drop") === 10L, "the 10 eval docs")
    assert(rows(3).getAs[Long]("n_drop") > 0L,
      "dup families straddle the upstream gates, so the collapse fires")
  }

  test("mix_temperature_sweep: T=1 is the natural mix; higher T " +
    "flattens toward uniform and repeats small languages") {
    val rows = ops.Curation.queries("mix_temperature_sweep")(spark, sf0001)
      .collect()
    val langs = rows.map(_.getAs[String]("lang")).distinct.length
    assert(rows.length === 3 * langs)
    val byT = rows.groupBy(_.getAs[Int]("temperature"))
    byT(1).foreach { r =>
      assert(math.abs(r.getAs[Double]("w_t") - r.getAs[Double]("p")) < 1e-5)
      assert(math.abs(r.getAs[Double]("epochs") - 1.0) < 1e-5)
    }
    // flattening: the dominant language's weight strictly falls with T
    def maxW(t: Int) = byT(t).map(_.getAs[Double]("w_t")).max
    assert(maxW(1) > maxW(2) && maxW(2) > maxW(4))
    // and some small language repeats (epochs > 1) once T > 1
    assert(byT(4).exists(_.getAs[Double]("epochs") > 1.0))
  }

  test("split_leakage: holdout splits covered, rates recompute, and " +
    "gram leakage is non-vacuous on a duplication-saturated corpus") {
    val rows = ops.Curation.queries("split_leakage")(spark, sf0001)
      .collect()
    assert(rows.map(_.getAs[String]("split")).toSeq === Seq("test", "val"))
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n > 0)
      assert(r.getAs[Double]("exact_leak_rate") ===
        r.getAs[Long]("n_exact_leak").toDouble / n)
      assert(r.getAs[Double]("gram_leak_rate") ===
        r.getAs[Long]("n_gram_leak").toDouble / n)
      assert(r.getAs[Long]("n_gram_leak") >= r.getAs[Long]("n_exact_leak"))
    }
    assert(rows.map(_.getAs[Long]("n_gram_leak")).sum > 0)
  }

  test("an empty-text doc gets a NULL z: curate_classifier and " +
    "curation_card complete instead of dividing by its zero length") {
    val docs = Seq(
      (0L, "the data of the batch is in the table and it is a query",
        "web", "en"),
      (11L, "", "web", "en"),
      (12L, "the query is a batch of data and the table is in it",
        "wiki", "en"))
    val dir = java.nio.file.Files.createTempDirectory("empty_text").toString
    docs.toDF("doc_id", "text", "source", "lang").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val z = ops.TextSim.queries("curate_classifier")(spark, dir)
      .select("doc_id", "z").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(z.keySet === Set(0L, 11L, 12L))
    assert(z(11L).isEmpty, s"the empty doc's z must be NULL: $z")
    assert(z(0L).nonEmpty && z(12L).nonEmpty)
    val card = ops.Curation.queries("curation_card")(spark, dir)
      .select("source", "n_docs").as[(String, Long)].collect().toMap
    assert(card === Map("web" -> 2L, "wiki" -> 1L))
  }

}
