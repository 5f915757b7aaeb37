package graft

import org.apache.spark.sql.functions._

/** Connected-components invariants beyond the DuckDB recursive-CTE oracle:
  * the oracle pins cross-engine equality on the LSH graph (near-cliques,
  * 2-3 iterations); these pin convergence on DEEP graphs — a long path is
  * the worst case for min-label propagation — and the partition of the
  * vertex set.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents converges on a long path graph") {
    // path 0-1-2-...-9 plus isolated 100, 101: one component of 10 needing
    // ~9 propagation rounds (diameter), two singletons.
    val verts = (0L to 9L).toDF("doc_id").union(Seq(100L, 101L).toDF("doc_id"))
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ops.Graph.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    (0L to 9L).foreach(v => assert(got(v) == 0L, s"vertex $v"))
    assert(got(100L) == 100L && got(101L) == 101L)
    assert(got.size == 12)
  }

  test("connectedComponents falls back to star contraction on a diameter-50 path") {
    // path 0-1-...-50: diameter 50 > MaxIter=20, so min-label propagation
    // cannot finish and the Kiveris large-star/small-star fallback must
    // take over (O(log n) rounds, diameter-independent). Offset by 7 so a
    // wrong label can't accidentally equal a position index; add two
    // singletons and a disjoint triangle to pin the partition.
    val chain = (0L to 50L).map(_ + 7L)
    val verts = (chain ++ Seq(1000L, 1001L, 2000L, 2001L, 2002L))
      .toDF("doc_id")
    val edges = chain.sliding(2).map(p => (p(0), p(1))).toSeq
      .++(Seq((2000L, 2001L), (2001L, 2002L), (2000L, 2002L)))
      .toDF("src", "dst")
    val got = ops.Graph.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    chain.foreach(v => assert(got(v) == 7L, s"vertex $v -> ${got(v)}"))
    Seq(2000L, 2001L, 2002L).foreach(v => assert(got(v) == 2000L))
    assert(got(1000L) == 1000L && got(1001L) == 1001L)
    assert(got.size == 56)
  }

  test("connectedComponents merges two clusters through a bridge edge") {
    // two triangles {0,1,2} {5,6,7} bridged by 2-5: one component rooted 0.
    val verts = Seq(0L, 1L, 2L, 5L, 6L, 7L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (5L, 6L), (6L, 7L),
      (5L, 7L), (2L, 5L)).toDF("src", "dst")
    val got = ops.Graph.connectedComponents(verts, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(0L), s"expected one component: $got")
  }

  test("labelPropagate separates bridged cliques that CC would merge") {
    // two triangles {0,1,2} {10,11,12} with bridge 2-10: connected
    // components collapses them into ONE cluster; label propagation keeps
    // them apart — the community structure survives the weak link, which
    // is exactly what it adds over dedup_cc.
    val e0 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L), (11L, 12L),
      (10L, 12L), (2L, 10L)).toDF("src", "dst")
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val lab = ops.Graph.labelPropagate(sym, 3)
      .as[(Long, Long)].collect().toMap
    assert(lab.keySet === Set(0L, 1L, 2L, 10L, 11L, 12L))
    val left = Set(0L, 1L, 2L).map(lab)
    val right = Set(10L, 11L, 12L).map(lab)
    assert(left.size === 1, s"left clique not uniform: $lab")
    assert(right.size === 1, s"right clique not uniform: $lab")
    assert(left != right, s"bridge merged the communities: $lab")
  }

  test("dedup_cc partitions all documents; kept count == component count") {
    val cc = ops.Graph.queries("dedup_cc")(spark, sf0001).cache()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(cc.count() == nDocs, "every doc must appear exactly once")
    val nComp = cc.select("comp").distinct().count()
    val nKept = cc.filter(col("kept") === 1).count()
    assert(nKept == nComp, "exactly one representative per component")
    // sizes are consistent: sum of distinct (comp, comp_size) == nDocs
    val sizeSum = cc.select("comp", "comp_size").distinct()
      .agg(sum("comp_size")).as[Long].head()
    assert(sizeSum == nDocs)
    // planted near-dups produce at least one multi-doc cluster
    assert(cc.filter(col("comp_size") > 1).count() > 0)
    cc.unpersist()
    ()
  }

  test("pageRank: mass conservation and hub dominance on a star graph") {
    // star: center 0 connected to leaves 1..8 (symmetrized internally).
    val edges = (1L to 8L).map(l => (0L, l)).toDF("src", "dst")
    val pr = ops.Graph.pageRank(edges, 3).as[(Long, Double)].collect().toMap
    assert(pr.size == 9)
    // total rank mass stays ~1 (damping redistributes, never leaks: every
    // node has out-degree >= 1 after symmetrization)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass=${pr.values.sum}")
    // the hub out-ranks every leaf, and all leaves tie by symmetry
    val leaves = (1L to 8L).map(pr)
    assert(leaves.forall(l => pr(0L) > l), s"hub must dominate: $pr")
    assert(leaves.distinct.size == 1, s"leaves must tie: $leaves")
  }

  test("pageRank: uniform ranks on a cycle (regular graph fixpoint)") {
    // on a k-regular graph the uniform vector is the exact fixpoint, so
    // even 3 iterations must return exactly 1/N per node (up to fp noise).
    val n = 6L
    val edges = (0L until n).map(i => (i, (i + 1) % n)).toDF("src", "dst")
    val pr = ops.Graph.pageRank(edges, 3).as[(Long, Double)].collect().toMap
    assert(pr.size == n)
    pr.values.foreach(v => assert(math.abs(v - 1.0 / n) < 1e-12, s"$pr"))
  }

  test("triangleCounts: K4 clique vs square vs chain") {
    // K4 (0-3): C(3,2)=3 triangles per node. Square 10-11-12-13 (cycle,
    // no chord): zero triangles, nodes absent. Chain 20-21-22: zero.
    // Canonical a<b edges, mixed into one list — counts must not bleed
    // across components.
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    val chain = Seq((20L, 21L), (21L, 22L))
    val edges = (k4 ++ square ++ chain).toDF("a", "b")
    val got = ops.Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toMap
    (0L to 3L).foreach(v => assert(got(v) == 3L, s"K4 vertex $v: $got"))
    assert(got.keySet == (0L to 3L).toSet,
      s"square/chain nodes must have no triangles: $got")
  }

  test("graph_bfs: seeds at 0, edges relax by at most 1, 4-hop horizon") {
    val res = ops.Graph.queries("graph_bfs")(spark, sf0001)
      .as[(Long, String, Int)].collect()
    val dist = res.map(r => r._1 -> r._3).toMap
    assert(res.nonEmpty)
    // every seed present at distance 0; nothing beyond the unrolled horizon
    assert(res.filter(_._3 == 0).forall(r =>
      r._1 % 100 == 0 && r._2 == "customer"))
    assert(res.forall(r => r._3 >= 0 && r._3 <= 4))
    // triangle inequality over the real edge set: |d(u) - d(v)| <= 1 for
    // every edge whose both ends were reached
    val edges = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, sf0001).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(1000000000L) + col("l_suppkey")).as("dst"))
      .distinct().as[(Long, Long)].collect()
    edges.foreach { case (u, v) =>
      (dist.get(u), dist.get(v)) match {
        case (Some(du), Some(dv)) =>
          assert(math.abs(du - dv) <= 1, s"edge ($u,$v): $du vs $dv")
        case (Some(du), None) => assert(du >= 4,
          s"$u reached at $du but neighbor $v unreached")
        case (None, Some(dv)) => assert(dv >= 4,
          s"$v reached at $dv but neighbor $u unreached")
        case _ => ()
      }
    }
  }

  test("edgeBase: the distinct customer–supplier pairs of orders⋈lineitem " +
    "on either side of the supplier-id offset; undirected holds each " +
    "pair once in each orientation") {
    def keys(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a).cast("long"), col(b).cast("long"))
        .as[(Long, Long)].collect()
    val custOf = keys(Tables.orders(spark, sf0001), "o_orderkey", "o_custkey")
      .toMap
    val want = keys(Tables.lineitem(spark, sf0001), "l_orderkey", "l_suppkey")
      .flatMap { case (o, supp) =>
        custOf.get(o).map(c => (c, 1000000000L + supp)) }.toSet
    assert(want.nonEmpty)
    val base = ops.Graph.edgeBase(spark, sf0001)
    val got = base.as[(Long, Long)].collect()
    assert(got.length === want.size, "each pair must appear once")
    assert(got.toSet === want)
    assert(got.forall { case (src, dst) =>
      src < 1000000000L && dst >= 1000000000L })
    val sym = ops.Graph.undirected(base).as[(Long, Long)].collect()
    assert(sym.length === 2 * got.length)
    assert(sym.distinct.length === sym.length)
    assert(sym.toSet === want ++ want.map(_.swap))
  }

  test("graph_jaccard: per-edge scores match brute-force neighborhood " +
    "set algebra, zero-common-neighbor edges survive (L76)") {
    val res = ops.Graph.queries("graph_jaccard")(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val edges = ops.TextSim.minhashPairs(Tables.documents(spark, sf0001))
      .select("ia", "ib").as[(Long, Long)].collect()
    assert(res.map(r => (r._1, r._2)).toSet === edges.toSet,
      "one score row per candidate edge")
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    res.foreach { case (a, b, da, db, cn, j) =>
      assert(da === nbrs(a).size.toLong && db === nbrs(b).size.toLong)
      assert(cn === (nbrs(a) & nbrs(b)).size.toLong, s"edge ($a,$b)")
      assert(j === cn.toDouble / (nbrs(a) | nbrs(b)).size, s"edge ($a,$b)")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("graph_core: 3-round peel matches the brute-force driver walk and " +
    "every survivor keeps degree >= k among survivors (L78)") {
    val res = ops.Graph.queries("graph_core")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val e0 = ops.TextSim.minhashPairs(Tables.documents(spark, sf0001))
      .select("ia", "ib").as[(Long, Long)].collect()
    var edges = (e0 ++ e0.map(_.swap)).toSet
    for (_ <- 1 to 3) {
      val deg = edges.groupBy(_._1).map { case (v, es) => v -> es.size }
      val alive = deg.filter(_._2 >= 2).keySet
      edges = edges.filter { case (a, b) => alive(a) && alive(b) }
    }
    val brute = edges.groupBy(_._1)
      .map { case (v, es) => v -> es.size.toLong }.filter(_._2 >= 2)
    assert(res === brute)
    assert(res.nonEmpty, "the salted dup corpus must produce a 2-core")
    // peeling is monotone: the core is a subset of the raw 2-core candidates
    val rawDeg = (e0 ++ e0.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.size }
    res.keys.foreach(v => assert(rawDeg(v) >= 2, s"vertex $v"))
  }

  test("graph_assortativity: r matches the brute-force degree Pearson " +
    "and sits in [-1, 1] (L86)") {
    val Array((m2, r)) =
      ops.Graph.queries("graph_assortativity")(spark, sf0001)
        .as[(Long, Double)].collect()
    val edges = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, sf0001).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(1000000000L) + col("l_suppkey")).as("dst"))
      .distinct().as[(Long, Long)].collect()
    val sym = edges ++ edges.map(_.swap)
    assert(m2 === sym.length.toLong)
    val deg = sym.groupBy(_._1).map { case (v, es) => v -> es.size.toDouble }
    val xs = sym.map(e => deg(e._1)); val ys = sym.map(e => deg(e._2))
    val n = sym.length.toDouble
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val rRef = cov / math.sqrt(
      xs.map(a => (a - mx) * (a - mx)).sum *
        ys.map(b => (b - my) * (b - my)).sum)
    assert(math.abs(r - rRef) < 1e-9, s"$r vs $rRef")
    assert(r >= -1.0 && r <= 1.0)
  }

  test("graph_modularity: Q matches the brute-force Newman computation " +
    "over the LPA labels (L82)") {
    val Array((nNodes, nComm, m, q)) =
      ops.Graph.queries("graph_modularity")(spark, sf0001)
        .as[(Long, Long, Long, Double)].collect()
    val labels = ops.Graph.queries("graph_label_prop")(spark, sf0001)
      .select("id", "community").as[(Long, Long)].collect().toMap
    val edges = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, sf0001).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(1000000000L) + col("l_suppkey")).as("dst"))
      .distinct().as[(Long, Long)].collect()
    assert(nNodes === labels.size.toLong && m === edges.length.toLong)
    assert(nComm === labels.values.toSet.size.toLong)
    val sym = edges ++ edges.map(_.swap)
    val m2 = sym.length.toDouble
    val intra = sym.count { case (a, b) => labels(a) == labels(b) }
    val degByNode = sym.groupBy(_._1).map { case (v, es) => v -> es.size }
    val dc = degByNode.toSeq.groupBy { case (v, _) => labels(v) }
      .map { case (_, vs) => vs.map(_._2.toLong).sum }
    val qRef = intra / m2 - dc.map(d => d.toDouble * d).sum / (m2 * m2)
    assert(math.abs(q - qRef) < 1e-9, s"$q vs $qRef")
    assert(q >= -0.5 && q <= 1.0)
  }

  test("dedup_keep_best: exactly one keeper per cluster, and it is the " +
    "argmax-quality member (smallest id on ties) (L80)") {
    val res = ops.Graph.queries("dedup_keep_best")(spark, sf0001)
      .as[(Long, Long, Double, Int)].collect()
    val cc = ops.Graph.queries("dedup_cc")(spark, sf0001)
      .select("doc_id", "comp").as[(Long, Long)].collect().toMap
    assert(res.map(_._1).toSet === cc.keySet, "covers every document")
    res.foreach { case (id, comp, _, _) => assert(comp === cc(id)) }
    res.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.count(_._4 == 1) === 1, s"cluster $comp keepers")
      val keeper = members.find(_._4 == 1).get
      val bestQ = members.map(_._3).max
      assert(keeper._3 === bestQ, s"cluster $comp keeps max quality")
      val tied = members.filter(_._3 == bestQ)
      assert(keeper._1 === tied.map(_._1).min,
        s"cluster $comp tie falls to smallest id")
    }
    // somewhere the best copy must NOT be the min-id member, or this
    // operator would be indistinguishable from dedup_cc's policy
    val ccKeepers = res.filter(r => r._1 === r._2).map(_._1).toSet
    val bestKeepers = res.filter(_._4 == 1).map(_._1).toSet
    assert(bestKeepers !== ccKeepers,
      "corpus must exercise a non-min-id best pick")
  }

  test("dedup_cluster_stats: the distribution accounts for every doc " +
    "exactly once and shares recompute") {
    val rows = ops.Graph.queries("dedup_cluster_stats")(spark, sf0001)
      .collect()
    val nTotal = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nTotal)
    rows.foreach { r =>
      val sz = r.getAs[Long]("comp_size")
      val nc = r.getAs[Long]("n_clusters"); val nd = r.getAs[Long]("n_docs")
      assert(nd === sz * nc, "doc mass = size x clusters")
      val want = BigDecimal(nd.toDouble / nTotal)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("doc_share") === want)
    }
    // the corpus plants near-dups, so a >1 cluster must exist, and
    // singletons must still dominate a sane corpus
    assert(rows.exists(_.getAs[Long]("comp_size") > 1))
    val singles = rows.find(_.getAs[Long]("comp_size") === 1L).get
    assert(singles.getAs[Double]("doc_share") > 0.5)
  }

  test("graph_hits: each side L1-normalizes to 1, kinds split by id " +
    "space, and scores match a brute-force double walk") {
    val rows = ops.Graph.queries("graph_hits")(spark, sf0001).collect()
    val (cust, supp) = rows.partition(_.getAs[String]("kind") == "customer")
    assert(cust.nonEmpty && supp.nonEmpty)
    cust.foreach(r => assert(r.getAs[Long]("id") < 1000000000L))
    supp.foreach(r => assert(r.getAs[Long]("id") >= 1000000000L))
    assert(math.abs(cust.map(_.getAs[Double]("score")).sum - 1.0) < 1e-6)
    assert(math.abs(supp.map(_.getAs[Double]("score")).sum - 1.0) < 1e-6)
    rows.foreach(r => assert(r.getAs[Double]("score") >= 0.0))
    // centrality must discriminate, or the fixpoint collapsed
    assert(cust.map(_.getAs[Double]("score")).distinct.length > 1)
    assert(supp.map(_.getAs[Double]("score")).distinct.length > 1)
    // brute-force: 2 L1-normalized double iterations over the edges
    val edges = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, sf0001).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (lit(1000000000L) + col("l_suppkey")).as("dst"))
      .distinct().as[(Long, Long)].collect()
    var hub = edges.map(_._1).distinct.sorted
      .map(_ -> 1.0 / edges.map(_._1).distinct.length).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 1 to 2) {
      val ar = edges.groupBy(_._2).map { case (s0, es) =>
        s0 -> es.map(e => hub(e._1)).sum }
      val at = ar.values.sum
      auth = ar.map { case (k, v) => k -> v / at }
      val hr = edges.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => auth(e._2)).sum }
      val ht = hr.values.sum
      hub = hr.map { case (k, v) => k -> v / ht }
    }
    cust.foreach(r => assert(math.abs(r.getAs[Double]("score") -
      hub(r.getAs[Long]("id"))) < 1e-6, s"hub ${r.getAs[Long]("id")}"))
    supp.foreach(r => assert(math.abs(r.getAs[Double]("score") -
      auth(r.getAs[Long]("id"))) < 1e-6, s"auth ${r.getAs[Long]("id")}"))
  }

  test("graph_ppr: restart mass concentrates on the seeds and the " +
    "shortlist is sorted") {
    val rows = ops.Graph.queries("graph_ppr")(spark, sf0001).collect()
    assert(rows.length === 50)
    val scores = rows.map(_.getAs[Double]("ppr"))
    assert(scores.forall(_ > 0.0))
    assert(scores.sameElements(scores.sortBy(-_)), "sorted by ppr")
    // the 3 seed customers carry the teleport term (0.15/3 = 0.05) on top
    // of propagated flow; no OTHER customer can reach that band in 3
    // hops (suppliers may — at tiny SF the handful of supplier hubs
    // absorb most seed mass, which is the PPR locality working)
    val cust = rows.filter(_.getAs[String]("kind") == "customer")
      .map(_.getAs[Double]("ppr"))
    assert(cust.count(_ > 0.05) === 3, "exactly the 3 seeds in the band")
    assert(cust.count(_ < 0.05) === cust.length - 3)
  }

  test("memorization_risk agrees with dedup_cc's clusters; exposure " +
    "and tiers recompute") {
    val risk = ops.Graph.queries("memorization_risk")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("comp"), r.getAs[Long]("dup_count"),
          r.getAs[Long]("n_tok"), r.getAs[Long]("exposure"),
          r.getAs[String]("tier"))).toMap
    val cc = ops.Graph.queries("dedup_cc")(spark, sf0001)
      .filter(col("comp_size") > 1).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("comp"), r.getAs[Long]("comp_size"))).toMap
    assert(risk.keySet === cc.keySet,
      "the risk table lists exactly the clustered docs")
    risk.foreach { case (id, (comp, dc, nt, exp, tier)) =>
      assert((comp, dc) === cc(id))
      assert(exp === dc * nt)
      assert(tier === (if (dc >= 3) "high" else "low"))
    }
    assert(risk.values.exists(_._5 === "high") &&
      risk.values.exists(_._5 === "low"), "both tiers fire on this corpus")
  }

}
