package graft.ops

import graft.Q
import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2.C). The reference has zero joins in code — its
  * UNION-ALL+pivot substitutes for a 9-way self-join (box_office_data.sql) —
  * but enrichment joins are implied by the genre/season dashboards
  * (README.md:205-220) and the "new entry" flag is semantically an anti-join
  * of today's codes against yesterday's (daily_csv_pipeline.py:72).
  *
  * Scale posture:
  *  - dimension tables (region/nation/supplier here; movie metadata in the
  *    reference's domain) are explicitly `broadcast()` — no shuffle of the
  *    fact side, the join rides inside the scan stage;
  *  - fact⋈fact goes shuffle/sort-merge (`hint("merge")`), the strategy that
  *    scales to 100 TB with AQE skew-split enabled;
  *  - the range join keys on an equality (user_id) first so it planned as a
  *    sort-merge join with a residual range filter, not a cartesian product.
  */
object Joins {

  /** Stage customer and orders as 8-bucket tables on the custkey join key
    * and return their bucket-co-located join. Path-backed in the ops
    * scratch (auto-cleaned at JVM exit); table names are unique per
    * invocation because the catalog is session-global. Shared by the
    * `join_bucketed` query and BucketingSpec's plan assertion.
    */
  private[graft] def bucketedOrdersCustomer(s: SparkSession,
                                            d: String): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val (ct, ot) = (s"graft_bkt_cust_$tag", s"graft_bkt_ord_$tag")
    customer(s, d).select("c_custkey", "c_mktsegment")
      .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", scratchDir("bkt_cust")).saveAsTable(ct)
    orders(s, d).select("o_custkey", "o_totalprice")
      .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", scratchDir("bkt_ord")).saveAsTable(ot)
    val c = s.table(ct); val o = s.table(ot)
    // hint("merge") pins the sort-merge path (at 100 TB neither fact side
    // broadcasts); with both scans bucketed 8-way on their join key the
    // join's distribution requirement is met by the LAYOUT and neither
    // side shuffles — BucketingSpec asserts zero exchanges below the join.
    c.hint("merge").join(o, c("c_custkey") === o("o_custkey"))
  }

  /** The as-of joins' one event stream: errors (typ 0, err_id) and
    * clicks (typ 1, clk_ts) of `events`, ms-truncated to `tsm`, unioned
    * by name under the per-user key `u`. */
  private def asofEvents(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .withColumn("tsm", date_trunc("MILLISECOND", col("ts")))
    val err = e.filter(col("event_type") === "error")
      .select(col("user_id").as("u"), col("tsm"), lit(0).as("typ"),
        col("event_id").as("err_id"),
        lit(null).cast("timestamp").as("clk_ts"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), col("tsm"), lit(1).as("typ"),
        lit(null).cast("long").as("err_id"), col("tsm").as("clk_ts"))
    err.unionByName(clk)
  }

  val queries: Map[String, Q] = Map(
    // C1 broadcast: fact × 3 broadcast dims, revenue per region.
    "join_broadcast" -> ((s, d) => {
      val li = lineitem(s, d); val sup = supplier(s, d)
      val n = nation(s, d); val r = region(s, d)
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("r_name")
    }),

    // C1 sort-merge: lineitem⋈orders⋈customer⋈nation, revenue by nation/year.
    "join_sortmerge" -> ((s, d) => {
      val li = lineitem(s, d); val o = orders(s, d)
      val c = customer(s, d); val n = nation(s, d)
      li.hint("merge")
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("order_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("n_name", "order_year")
    }),

    // C1 over the part dimension: revenue and average retail margin by part
    // brand — covers the remaining testdata table; part is small enough to
    // broadcast at sf but keyed like a fact at 100 TB, so it goes
    // shuffle/sort-merge with AQE free to downgrade to broadcast.
    "join_part" -> ((s, d) => {
      val li = lineitem(s, d); val p = part(s, d)
      li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
          round(exactSum(col("p_retailprice")).cast("double") / count(lit(1)), 4)
            .as("avg_retail"),
          count(lit(1)).as("n"))
        .orderBy("p_brand")
    }),

    // C2 left outer: order count per customer including zero-order customers.
    "join_left" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_custkey")
    }),

    // C2 semi: customers with at least one urgent order (EXISTS).
    "join_semi" -> ((s, d) => {
      val c = customer(s, d)
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // C2 anti: customers with no orders at all (NOT EXISTS) — the reference's
    // "new entry" detection shape.
    "join_anti" -> ((s, d) => {
      val c = customer(s, d); val o = orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // As-of join: for each error event, the LAST click strictly before it
    // by the same user — the reference's day-over-day comparison
    // (csv:72-74 *Inten fields) generalized to event time. Implemented as
    // the scale-safe union+window form: tag both streams, union, and take
    // last(click_ts, ignoreNulls) over (user, time) — O(n log n) in one
    // shuffle, vs the O(candidate-pairs) join+max formulation the oracle
    // uses (fine for DuckDB at sf0.01, a blowup at 100 TB). Sort key
    // (tsm, typ) with errors(0) before clicks(1) makes an equal-timestamp
    // click fall OUTSIDE the error's frame => strictly-before semantics.
    "join_asof" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("u").orderBy(col("tsm"), col("typ"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      asofEvents(s, d)
        .withColumn("last_clk", last(col("clk_ts"), ignoreNulls = true).over(w))
        .filter(col("typ") === 0)
        .select(col("err_id"), col("u").as("user_id"),
          unix_micros(col("last_clk")).as("last_click_us"))
        .orderBy("err_id")
    }),

    // Range/theta join: for each error event, clicks by the same user in the
    // preceding 10 minutes (as-of/day-over-day comparison pattern, csv:72-74).
    // ts is ms-truncated on both sides: the parquet carries nanoseconds and
    // Spark reads µs while DuckDB reads ns, so sub-ms must not decide matches.
    "join_range" -> ((s, d) => {
      val e = events(s, d)
        .withColumn("tsm", date_trunc("MILLISECOND", col("ts")))
      val err = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id").as("u"),
          col("tsm").as("err_ts"))
      val clk = e.filter(col("event_type") === "click")
        .select(col("user_id").as("u2"), col("tsm").as("clk_ts"))
      err.join(clk,
          col("u") === col("u2") &&
            col("clk_ts") >= col("err_ts") - expr("interval 10 minutes") &&
            col("clk_ts") < col("err_ts"),
          "left_outer")
        .groupBy("err_id")
        .agg(count(col("clk_ts")).as("n_prior_clicks"))
        .orderBy("err_id")
    }),

    // NEAREST-event as-of with tolerance (both directions) — the sensor-
    // alignment variant of join_asof: each error pairs with its nearest
    // click by the same user within ±10 minutes, whichever side it lies
    // on (ties to the earlier, i.e. backward, match; same-µs clicks are
    // excluded on both sides — strict). Same merge-sort window technique
    // as join_asof run in BOTH directions — two per-user ordered windows
    // over the unioned stream, NO pair join at all, so the cost is two
    // sorts of the event stream keyed by user regardless of click
    // density (a pair range-join degrades with clicks-per-user).
    "join_asof_nearest" -> ((s, d) => {
      val TolUs = 600000000L
      val uni = asofEvents(s, d)
      val wB = Window.partitionBy("u").orderBy(col("tsm"), col("typ"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // reverse scan: at equal tsm the error (typ 0) sorts FIRST under
      // typ ASC, so a same-µs click stays outside its window — strict
      val wF = Window.partitionBy("u").orderBy(col("tsm").desc, col("typ"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = unix_micros(col("tsm"))
      val db = t - unix_micros(col("before_clk"))
      val da = unix_micros(col("after_clk")) - t
      uni
        .withColumn("before_clk",
          last(col("clk_ts"), ignoreNulls = true).over(wB))
        .withColumn("after_clk",
          last(col("clk_ts"), ignoreNulls = true).over(wF))
        .filter(col("typ") === 0)
        .withColumn("db", when(col("before_clk").isNotNull &&
          db <= TolUs, db))
        .withColumn("da", when(col("after_clk").isNotNull &&
          da <= TolUs, da))
        .withColumn("diff_us",
          when(col("db").isNotNull &&
            (col("da").isNull || col("db") <= col("da")), col("db"))
            .otherwise(col("da")))
        .withColumn("direction",
          when(col("diff_us").isNull, lit(null).cast("string"))
            .when(col("db").isNotNull && col("diff_us") === col("db"),
              "before")
            .otherwise("after"))
        .select(col("err_id"), col("u").as("user_id"),
          col("diff_us"), col("direction"))
        .orderBy("err_id")
    }),

    // KEYLESS interval join via BIN BUCKETING — the range-join shape
    // Spark genuinely lacks (no equi key anywhere: a naive spelling plans
    // BroadcastNestedLoopJoin, and when BOTH sides scale with data that's
    // quadratic death — join_range above dodges it only because user_id
    // keys the shuffle). Decomposition: each interval EXPLODES to the
    // hour bins it overlaps (sequence() — intervals here span ≤3 bins),
    // each point maps to its one bin, the join becomes a plain equi join
    // ON BIN, and an exact containment filter + pair-key distinct remove
    // bin-duplicate matches. Cost: |intervals|·bins_per_interval +
    // |points| shuffled on a uniform bin key — linear, AQE-replannable,
    // no nested loop. Intervals = rate-alert windows widened to
    // [start−30min, start+90min) (both sides data-scaled); points =
    // purchases; result: per purchase, how many alert envelopes covered
    // it (0 via left join).
    "join_interval_bin" -> ((s, d) => {
      val ev = events(s, d)
      val ref = ev.groupBy("event_type")
        .agg((count(lit(1)).cast("double") /
          countDistinct(date_trunc("hour", col("ts")))).as("avg_hourly"))
      val alerts = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
        .join(ref, Seq("event_type"))
        .filter(col("n").cast("double") > lit(2.0) * col("avg_hourly"))
        .select(col("event_type").as("alert_type"),
          (unix_micros(col("h")) - 1800000000L).as("lo"),
          (unix_micros(col("h")) + 5400000000L).as("hi"))
      val HourUs = 3600000000L
      val binned = alerts
        .withColumn("bin", explode(sequence(
          floor(col("lo") / HourUs), floor((col("hi") - 1) / HourUs))))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts")).as("t"),
          floor(unix_micros(col("ts")) / HourUs).as("bin"))
      purchases
        .join(binned, Seq("bin"), "left_outer")
        .withColumn("hit",
          when(col("t") >= col("lo") && col("t") < col("hi"), 1L)
            .otherwise(0L))
        // a purchase can match one envelope through only its own bin, but
        // distinct alert envelopes may overlap — count DISTINCT envelopes
        .groupBy("event_id")
        .agg(sum("hit").as("n_covering_alerts"))
        .orderBy("event_id")
    }),

    // L24 skew-mitigation join, oracle-checked: lineitem keyed on
    // l_returnflag is the worst-case hot-key layout — 3 distinct keys over
    // the whole fact table, so a plain shuffle join lands EVERYTHING on 3
    // reducers no matter the cluster size. saltedJoin spreads each key
    // over 16 replicas (deterministic per-row replica pick), and the
    // result must hash-match the plain-join oracle exactly — salting is a
    // layout change, never a semantics change.
    "join_skew_salted" -> ((s, d) => {
      import s.implicits._
      val li = lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      val dim = Seq(("A", 1), ("N", 2), ("R", 3))
        .toDF("l_returnflag", "w")
      Skew.saltedJoin(li, dim, "l_returnflag", 16)
        .groupBy("l_returnflag", "w")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity") * col("w"), 2).as("wsum"))
        .orderBy("l_returnflag")
    }),

    // Fuzzy record linkage by edit distance — the entity-resolution join
    // family (variant names / typos) that token- and hash-based dedup
    // cannot see. Scale architecture, in order of importance:
    //  1. COLLAPSE TO THE NAME DICTIONARY first (groupBy p_name, map-side
    //     combined): the quadratic step then runs on the vocabulary,
    //     which grows with the catalog, not the fact table (fixed at 64
    //     names here at every SF, like a real product dictionary).
    //  2. Multi-pass BLOCKING as an EQUI join — each name enters its
    //     3-char prefix and suffix blocks (explode), so a single edit at
    //     either end still meets its match in the other block; the union
    //     of passes is deduped before the verify. No all-pairs, no BNLJ.
    //  3. levenshtein(na, nb) ≤ 2 verifies ONLY within-block candidates;
    //     identical unit-cost edit distance in both engines.
    //  4. row_pairs = ca×cb maps each dictionary link back to affected
    //     row volume without ever joining the fact table to itself.
    // Blocking recall is the standard trade (an edit at BOTH ends can
    // escape both blocks) — the oracle mirrors the same blocking, so the
    // contract is the blocked candidate set, exactly.
    "join_fuzzy" -> ((s, d) => {
      val dict = part(s, d).groupBy("p_name")
        .agg(count(lit(1)).as("cnt"))
      val blocks = dict.select(col("p_name"), col("cnt"),
        explode(array(substring(col("p_name"), 1, 3),
          expr("right(p_name, 3)"))).as("bk"))
      val aa = blocks.select(col("bk"), col("p_name").as("na"),
        col("cnt").as("ca"))
      val bb = blocks.select(col("bk"), col("p_name").as("nb"),
        col("cnt").as("cb"))
      aa.join(bb, Seq("bk"))
        .filter(col("na") < col("nb"))
        .select("na", "nb", "ca", "cb").distinct()
        .withColumn("lev", levenshtein(col("na"), col("nb")))
        .filter(col("lev") <= 2)
        .select(col("na"), col("nb"), col("lev"),
          (col("ca") * col("cb")).as("row_pairs"))
        .orderBy("na", "nb")
    }),

    // Null-safe equi join (C2 extension): <=> treats NULL as a joinable
    // value (NULL <=> NULL is true) — the semantics optional dimension
    // keys and CDC keys need, where plain = silently drops every
    // NULL-keyed row. A sixth of orders get a NULL key here; the dim side
    // carries the NULL group too and the join must preserve it (the
    // per-key row count n must equal the dim's own k_rows, including for
    // the NULL group). Planned as a normal hash join — null-safe equality
    // is a shuffle key like any other, no BNLJ.
    "join_null_safe" -> ((s, d) => {
      val a = orders(s, d).select(col("o_orderkey"),
        when(col("o_orderkey") % 6 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("k"))
      val dim = a.groupBy("k").agg(count(lit(1)).as("k_rows"))
        .withColumnRenamed("k", "dk")
      a.join(dim, col("k") <=> col("dk"))
        .groupBy(coalesce(col("dk"), lit("<null>")).as("key_display"))
        .agg(count(lit(1)).as("n"), max("k_rows").as("k_rows"))
        .orderBy("key_display")
    }),

    // Bucketed co-located join (C1 extension): the third shuffle-elimination
    // lever beside broadcast and AQE — pay the partitioning shuffle ONCE at
    // write time, then every recurring join on the bucket key reads
    // co-located buckets and exchanges nothing. The staging write is part
    // of the measured query here; in production it amortizes over every
    // later join against the table. The only exchange in this plan belongs
    // to the final segment aggregation, not the join.
    "join_bucketed" -> ((s, d) =>
      bucketedOrdersCustomer(s, d)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("c_mktsegment")),

    // Composite analytic 1 (TPC-H Q3 shape): shipping priority — segment-
    // filtered customers ⋈ pre-cutoff orders ⋈ post-cutoff shipments,
    // revenue per open order, top 10. The selective dimension filters sit
    // ON the scans (pushed to parquet), the filtered customer side is
    // small enough for AQE to broadcast, and the final order+limit plans
    // as TakeOrderedAndProject — at 100 TB only the 10×partitions
    // survivors ever reach the driver.
    "q3_shipping_priority" -> ((s, d) => {
      val cutoff = to_timestamp(lit("1998-06-15"))
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = orders(s, d).filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = lineitem(s, d).filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // Composite analytic 2 (TPC-H Q10 shape): returned-item losses by
    // customer in one quarter — returns-filtered fact ⋈ quarter-filtered
    // orders ⋈ customers ⋈ broadcast nation, top 20 by lost revenue.
    "q10_returned" -> ((s, d) => {
      val li = lineitem(s, d).filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-10-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select("o_orderkey", "o_custkey")
      val c = customer(s, d)
      val n = nation(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("lost_revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("lost_revenue"), asc("c_custkey"))
        .limit(20)
    }),

    // Composite analytic 3 (TPC-H Q5 shape): local-supplier revenue by
    // nation — the 6-table join with the co-location predicate
    // (s_nationkey = c_nationkey) riding on the fact join. Plan shape at
    // scale: region→nation prune first (broadcast, 1 region → ~5 nations),
    // the pruned customer/supplier dims broadcast into the two fact joins,
    // the year filter pushes to the orders scan, and the only big shuffle
    // is lineitem⋈orders on orderkey. The same-nation equality adds
    // s_nationkey to the supplier join key — no extra exchange.
    "q5_local_supplier" -> ((s, d) => {
      val r = region(s, d).filter(col("r_name") === "ASIA")
      val n = nation(s, d)
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val c = customer(s, d)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
      val o = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        .select("o_orderkey", "o_custkey")
      val sup = supplier(s, d).select("s_suppkey", "s_nationkey")
      lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // TPC-H Q1 (pricing summary): the canonical one-scan multi-aggregate
    // benchmark query — pushed date filter, six aggregates per group in a
    // single pass, every money sum and average derived from exact decimal
    // accumulation (the dsum contract; built-in avg would merge doubles
    // partition-order-dependently).
    "q1_pricing_summary" -> ((s, d) => {
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(disc, 2).as("sum_disc_price"),
          dsum(disc * (lit(1) + col("l_tax")), 2).as("sum_charge"),
          round(exactSum(col("l_quantity")).cast("double") /
            count(lit(1)), 4).as("avg_qty"),
          round(exactSum(col("l_extendedprice")).cast("double") /
            count(lit(1)), 4).as("avg_price"),
          round(exactSum(col("l_discount")).cast("double") /
            count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // TPC-H Q18 (large-volume customers): HAVING-filtered semi-join shape
    // — the inner per-order quantity rollup keeps only orders over the
    // threshold (a tiny set), which then drives semi-join-style lookups
    // into orders/customer; top-20 via TakeOrderedAndProject, never a
    // global sort.
    "q18_large_volume" -> ((s, d) => {
      val big = lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity"), 2).as("total_qty"))
        .filter(col("total_qty") > 300)
      orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey")).limit(20)
    }),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the
    // MULTI-EXISTENTIAL decorrelated plan — a semi- AND an anti-self-join
    // of the fact table per supplier, the shape nothing else in the suite
    // exercises. Adapted to this schema (no l_commitdate/l_receiptdate):
    // a line is "late" when it ships >90 days after the order date. For
    // each late line of a finished order: EXISTS another supplier on the
    // order (semi) and NOT EXISTS another LATE supplier (anti) — i.e. the
    // one supplier who single-handedly held up a multi-supplier order.
    // Plan at scale (verified via QDebug .explain): Catalyst defers l1's
    // orders join + late filter until AFTER the anti join (legal: orders
    // is 1:1 on orderkey and every predicate is a row filter on l1), so
    // the probe side is ONE bare 2-column lineitem scan shuffled ONCE on
    // l_orderkey, and the semi and the anti consume that same
    // partitioning back-to-back with no intermediate exchange — the
    // shuffle-reuse this shape is meant to exercise. l2 deliberately
    // skips the orders join: whether ANOTHER supplier has a line in the
    // same order is independent of order status (l1 already pins the
    // order to 'F'), so the semi's build side is a bare 2-column scan
    // too. Only l3 ("another LATE supplier") genuinely needs
    // lineitem⋈orders. Supplier (dim-sized) broadcasts into the count.
    "q21_waiting" -> ((s, d) => {
      val fl = lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 90)).as("late"))
      val l1 = fl.filter(col("late")).select("l_orderkey", "l_suppkey")
      val l2 = lineitem(s, d)
        .select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = fl.filter(col("late"))
        .select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
      l1.join(l2, col("l_orderkey") === col("o2") &&
          col("l_suppkey") =!= col("s2"), "left_semi")
        .join(l3, col("l_orderkey") === col("o3") &&
          col("l_suppkey") =!= col("s3"), "left_anti")
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
    }),

    // TPC-H Q2 shape (min-cost supplier): the PER-GROUP SCALAR SUBQUERY
    // plan — for every part, the minimum unit cost any supplier charged,
    // then the supplier rows achieving exactly that minimum. Adapted to
    // this schema (no partsupp): unit cost = l_extendedprice/l_quantity
    // observed on lineitem; Q2's region filter becomes the p_type filter.
    // The equality join back onto the min is safe cross-engine because
    // the division runs on identical double operands in both engines
    // (IEEE-identical, the dot-fold contract) and min() is
    // order-independent. Plan at scale: the filtered part dim broadcasts
    // into the lineitem scan BEFORE the min pass (prune early), the
    // groupBy and the join-back share the l_partkey shuffle key, and the
    // final order+limit is TakeOrderedAndProject.
    "q2_min_cost_supplier" -> ((s, d) => {
      val p = part(s, d).filter(col("p_type") === "STANDARD")
        .select("p_partkey", "p_name")
      val li = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val minc = li.groupBy("l_partkey")
        .agg(min("unit_cost").as("min_cost"))
        .withColumnRenamed("l_partkey", "mk")
      li.join(minc, col("l_partkey") === col("mk") &&
          col("unit_cost") === col("min_cost"))
        .select("p_partkey", "p_name", "l_suppkey", "min_cost")
        .distinct()
        .join(broadcast(supplier(s, d)
          .select("s_suppkey", "s_name", "s_acctbal")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("s_acctbal"),
          // floor(x·10⁴+0.5), not round(): the unit-cost quotient lands on
          // .xxxx5 midpoints where the engines' round() disagree
          (floor(col("min_cost") * 10000 + 0.5) / 10000).as("min_cost"))
        .orderBy(desc("s_acctbal"), asc("p_partkey"), asc("s_suppkey"))
        .limit(100)
    }),

    // TPC-H Q4 (order priority checking): EXISTS with a correlated
    // inequality — count orders per priority that had at least one late
    // line. Adapted like q21: "late" = shipped >90 days after the order
    // date (no commit/receipt dates in this schema). Plan shape: the
    // quarter filter pushes to the orders scan, then ONE left-semi
    // sort-merge join on orderkey with the lateness residual evaluated
    // on the matched pair — the EXISTS never materializes a count, and
    // the 5-row groupBy rides on the semi join's output.
    "q4_order_priority" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01")) &&
          col("o_orderdate") < to_timestamp(lit("1997-10-01")))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val li = lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(li, col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 90), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // TPC-H Q6 (forecasting revenue change): the canonical pushed-filter
    // single-scan aggregate — every predicate (date range, discount band,
    // quantity cap) reaches the parquet scan as PushedFilters, no join, no
    // shuffle beyond the 1-row final aggregate. The discount literals are
    // parsed to identical doubles by both engines, so the band compare is
    // deterministic cross-engine.
    "q6_forecast_revenue" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount"), 2)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q12 (shipping modes and order priority): conditional
    // priority counts per line attribute. Adapted: no l_shipmode column,
    // so the mode becomes the SHIP-DELAY BUCKET (<=30d fast / <=60d
    // medium / else slow) — same plan: fact⋈fact join on orderkey, a
    // computed group key, and two SUM(CASE…) aggregates in one pass.
    "q12_ship_delay" -> ((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      val delay = datediff(col("l_shipdate").cast("date"),
        col("o_orderdate").cast("date"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select("l_orderkey", "l_shipdate")
        .join(orders(s, d).select("o_orderkey", "o_orderdate",
          "o_orderpriority"), col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_bucket",
          when(delay <= 30, "1_FAST")
            .when(delay <= 60, "2_MEDIUM").otherwise("3_SLOW"))
        .groupBy("delay_bucket")
        .agg(sum(when(hi, 1).otherwise(0)).as("high_line_count"),
          sum(when(hi, 0).otherwise(1)).as("low_line_count"))
        .orderBy("delay_bucket")
    }),

    // TPC-H Q14 (promotion effect): ratio of conditional revenue — the
    // percentage of one month's revenue from PROMO-type parts. Both the
    // numerator and denominator accumulate the exact decimal quantum, so
    // the final double quotient is computed from identical operands in
    // both engines and the floor(x·10⁴+0.5) rounding is safe (round()
    // would diverge on .xxxx5 midpoints). The month filter pushes to the
    // lineitem scan; part (2k rows) broadcasts.
    "q14_promo_effect" -> ((s, d) => {
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-10-01")))
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(broadcast(part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (floor(lit(100) * exactSum(when(col("p_type") === "PROMO", disc)
              .otherwise(0)).cast("double") /
            exactSum(disc).cast("double") * 10000 + 0.5) / 10000)
            .as("promo_pct"),
          dsum(disc, 2).as("total_revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q7 (volume shipping): bidirectional trade volume between two
    // markets by year — TWO independent dimension chains (supplier→
    // nation→region, customer→nation→region) hang off one fact row, with
    // a DISJUNCTIVE cross-chain pair predicate. Adapted to region pairs
    // (AMERICA↔ASIA) for healthy populations at every SF; the plan shape
    // is Q7's: both dim chains broadcast (supplier and customer each
    // pre-joined to their geography before touching the fact), the pair
    // filter runs on broadcast-join output, and the only big shuffle is
    // lineitem⋈orders on orderkey.
    "q7_trade_volume" -> ((s, d) => {
      val supGeo = supplier(s, d)
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("r_name").as("supp_region"))
      val custGeo = customer(s, d)
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("cust_region"))
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select("l_orderkey", "l_suppkey", "l_shipdate",
          "l_extendedprice", "l_discount")
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supGeo), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(custGeo), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_region") === "AMERICA" &&
            col("cust_region") === "ASIA") ||
          (col("supp_region") === "ASIA" &&
            col("cust_region") === "AMERICA"))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("supp_region", "cust_region", "l_year")
    }),

    // TPC-H Q8 (national market share): the RATIO-OF-CONDITIONAL-SUMS
    // per group — what share of one market's volume came from one
    // supplier nation, by year. Adapted: market = ASIA-region customers
    // buying ECONOMY parts; focal supplier nation = NATION_3. Numerator
    // and denominator both accumulate the exact decimal quantum in the
    // SAME single aggregation pass, so the share is one identical double
    // division in both engines under the floor(+0.5) contract.
    "q8_market_share" -> ((s, d) => {
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val custAsia = customer(s, d)
        .join(broadcast(nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      val sup = supplier(s, d).select("s_suppkey", "s_nationkey")
      lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
        .join(broadcast(part(s, d)
          .filter(col("p_type") === "ECONOMY").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, d).select("o_orderkey", "o_custkey",
          "o_orderdate"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(custAsia), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          (floor(exactSum(when(col("s_nationkey") === 3, vol)
              .otherwise(0)).cast("double") /
            exactSum(vol).cast("double") * 10000 + 0.5) / 10000)
            .as("mkt_share"),
          dsum(vol, 2).as("total_volume"))
        .orderBy("o_year")
    }),

    // TPC-H Q9 (product type profit): profit per supplier nation per
    // year over a part-name substring filter. Adapted (no partsupp):
    // unit cost = 60% of p_retailprice, so
    // amount = l_extendedprice·(1−l_discount) − 0.6·p_retailprice·l_qty
    // — the same fact⋈part⋈supplier⋈orders star with a LIKE-filtered
    // part dim broadcast into the scan and the profit expression
    // accumulated under the exact decimal contract (identical double
    // operands on both engines before the decimal cast).
    "q9_product_profit" -> ((s, d) => {
      val amount = col("l_extendedprice") * (lit(1) - col("l_discount")) -
        lit(0.6) * col("p_retailprice") * col("l_quantity")
      lineitem(s, d)
        .join(broadcast(part(s, d)
            .filter(col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, d)
            .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(dsum(amount, 2).as("sum_profit"),
          count(lit(1)).as("n_lines"))
        .orderBy("nation", "o_year")
    }),

    // TPC-H Q13 (customer distribution): the DOUBLE AGGREGATION over an
    // outer join with a JOIN-CONDITION filter — orders are filtered
    // INSIDE the left join (adapted: priority ≠ 5-LOW stands in for the
    // comment NOT LIKE), so filtered-out customers still appear with
    // count 0, then the per-customer counts are re-grouped into the
    // distribution. Two shuffles by necessity (custkey, then c_count);
    // the second input is |customers| rows, already tiny relative to the
    // fact.
    "q13_custdist" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderpriority") =!= "5-LOW")
        .select("o_orderkey", "o_custkey")
      customer(s, d).select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q15 (top supplier): grouped revenue view consumed TWICE —
    // once for the global max (1-row broadcast), once as the join-back
    // probe — with equality ON THE AGGREGATED VALUE. Safe cross-engine
    // because the per-supplier revenue is the exact decimal sum rounded
    // to cents on both sides, so max() and the equality compare run on
    // identical doubles. Plan: one shuffle on suppkey builds the view;
    // the max is a broadcast hash join on the value (not BNLJ — the max
    // IS the join key); supplier dim broadcasts into the final lookup.
    "q15_top_supplier" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-10-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q17 (small-quantity-order revenue): the PER-GROUP CORRELATED
    // SCALAR THRESHOLD — lines whose quantity is under 20% of their
    // part's average quantity. Decorrelated as groupBy(partkey) avg +
    // equi join back (the q2 pattern); the threshold is
    // 0.2·exactSum(qty)/count so both engines derive it from the same
    // exact decimal numerator (built-in avg would merge doubles
    // partition-order-dependently). Container filter adapted to
    // p_size < 25. The brand-filtered part dim broadcasts into BOTH the
    // threshold pass and the probe — at 100 TB the per-part aggregate
    // only ever sees the ~1/brand-count slice of the fact.
    "q17_small_qty_revenue" -> ((s, d) => {
      val p = part(s, d)
        .filter(col("p_brand") === "Brand#1" && col("p_size") < 25)
        .select("p_partkey")
      val li = lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val thr = li.groupBy(col("l_partkey").as("tk"))
        .agg((lit(0.2) * exactSum(col("l_quantity")).cast("double") /
          count(lit(1))).as("qty_thr"))
      li.join(broadcast(thr), col("l_partkey") === col("tk") &&
          col("l_quantity") < col("qty_thr"))
        .agg((floor(exactSum(col("l_extendedprice")).cast("double") /
            7.0 * 100 + 0.5) / 100).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q11 (important stock): grouped value vs a GLOBAL-SCALAR
    // HAVING threshold. Adapted (no partsupp): per-part revenue from one
    // region's suppliers, kept when above 1.5× the mean part value —
    // TPC-H's fixed fraction would need re-tuning per SF, the mean is
    // scale-free. The threshold derives from exactSum over the ALREADY
    // cent-rounded per-part values (a second-level double sum would be
    // partition-order dependent), so both engines compare identical
    // doubles. Plan: one shuffle on partkey builds the value view; the
    // 1-row threshold crosses back in as a broadcast (model-parameter
    // BNLJ, allowlisted); supplier geography broadcasts into the scan.
    "q11_important_value" -> ((s, d) => {
      val supAsia = supplier(s, d)
        .join(broadcast(nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey")
      val v = lineitem(s, d)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(broadcast(supAsia), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("val"))
      val thr = v.agg((lit(1.5) * exactSum(col("val")).cast("double") /
        count(lit(1))).as("thr"))
      v.crossJoin(broadcast(thr))
        .filter(col("val") > col("thr"))
        .select("l_partkey", "val")
        .orderBy(desc("val"), asc("l_partkey"))
    }),

    // TPC-H Q19 (discounted revenue): the DISJUNCTIVE CROSS-SIDE
    // predicate — three OR'd conjunct groups each spanning part AND
    // lineitem columns. Catalyst extracts the part-only weakening
    // (p_brand=B1 AND size≤10) OR … and pushes it to the part scan, and
    // the join itself stays a plain equi join on partkey with the full
    // disjunction as a post-join filter — the shape that degrades to a
    // cartesian monster if the equi key isn't recognized.
    "q19_disjunctive_revenue" -> ((s, d) => {
      val li = lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val p = part(s, d).select("p_partkey", "p_brand", "p_size")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 35)))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q20 (potential part promotion): NESTED IN with a CORRELATED
    // per-group threshold. Adapted (no partsupp availqty): suppliers who
    // DOMINATED the 1997 supply of a red-prefixed part — shipped more
    // than half that part's total. The per-(part,supplier) rollup is
    // built once; the per-part half-total RE-AGGREGATES that rollup
    // (same partkey grouping — no second scan of the fact), and the
    // dominance join-back + the final IN are both equi joins. The
    // quantity sums are exact decimals on both engines so the q > half
    // compare is deterministic; prefix LIKE pushes to the part scan as a
    // range predicate.
    "q20_dominant_supplier" -> ((s, d) => {
      val g = part(s, d).filter(col("p_name").like("red%"))
        .select("p_partkey")
      val sq = lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(broadcast(g), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(exactSum(col("l_quantity")).cast("double").as("q"))
      val pq = sq.groupBy(col("l_partkey").as("pk"))
        .agg((lit(0.5) * exactSum(col("q")).cast("double")).as("half"))
      val dominant = sq.join(broadcast(pq), col("l_partkey") === col("pk") &&
          col("q") > col("half"))
        .select("l_suppkey").distinct()
      supplier(s, d).select("s_suppkey", "s_name")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q22 shape (global sales opportunity): the SCALAR-AVERAGE
    // SUBQUERY + ANTI-JOIN plan — above-average-balance customers from a
    // set of countries with NO recent activity, rolled up per country.
    // Adapted to this schema/data (no phone prefixes; every customer has
    // SOME order): country code = nation key set, and "no orders" becomes
    // "no orders since 2000-07-01" — the dormant-customer variant, same
    // decorrelated multi-block shape. Plan at scale: the positive-balance
    // average is a 1-row broadcast (scalar subquery → BNLJ probe, the
    // model-parameter pattern); the anti join's build side is the
    // date-filtered orders projection (filter pushed to the scan, one
    // shuffle on custkey); the customer side arrives already pruned by
    // the nation-set + balance filters. Money totals via the exact
    // decimal contract.
    "q22_dormant_balance" -> ((s, d) => {
      val c = customer(s, d)
        .filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg((exactSum(col("c_acctbal")).cast("double") / count(lit(1)))
          .as("avg_bal"))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-07-01")))
        .select("o_custkey")
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          dsum(col("c_acctbal"), 2).as("totacctbal"))
        .orderBy("c_nationkey")
    })
  )

  val oracles: Map[String, String] = Map(
    // The oracles accumulate the same DECIMAL(30,8) quantum as dsum: a plain
    // double SUM in DuckDB is order-dependent too, and near a half-quantum
    // boundary its rounding can diverge from the exact decimal result
    // (observed on join_sortmerge: 19317868.315 exact vs .31499 double).
    "join_broadcast" ->
      """SELECT r_name, CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))),2) AS DOUBLE) AS revenue,
        |COUNT(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_sortmerge" ->
      """SELECT n_name, year(o_orderdate) AS order_year,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))),2) AS DOUBLE) AS revenue, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "join_part" ->
      """SELECT p_brand,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))),2) AS DOUBLE) AS revenue,
        |round(CAST(SUM(CAST(p_retailprice AS DECIMAL(30,8))) AS DOUBLE)/COUNT(*),4) AS avg_retail,
        |COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |CAST(round(SUM(CAST(o_totalprice AS DECIMAL(30,8))),2) AS DOUBLE) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority='1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_asof" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |date_trunc('milliseconds', ts) AS tsm FROM events)
        |SELECT a.event_id AS err_id, a.user_id AS user_id,
        |epoch_us(max(b.tsm)) AS last_click_us
        |FROM e a LEFT JOIN e b ON b.user_id = a.user_id
        |  AND b.event_type = 'click' AND b.tsm < a.tsm
        |WHERE a.event_type = 'error'
        |GROUP BY 1,2 ORDER BY 1""".stripMargin,
    // Direct pair mirror: nearest by abs diff, ties to the backward
    // match; same-µs clicks excluded (strict both sides). LEFT-null rows
    // trivially take rn 1.
    "join_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    date_trunc('milliseconds', ts) AS tsm FROM events),
        |a AS (SELECT event_id AS err_id, user_id, tsm FROM e
        |  WHERE event_type = 'error'),
        |b AS (SELECT user_id, tsm FROM e WHERE event_type = 'click'),
        |j AS (
        |  SELECT a.err_id, a.user_id,
        |    abs(epoch_us(b.tsm) - epoch_us(a.tsm)) AS diff_us,
        |    CASE WHEN b.tsm IS NULL THEN NULL
        |         WHEN b.tsm < a.tsm THEN 'before' ELSE 'after' END
        |      AS direction,
        |    row_number() OVER (PARTITION BY a.err_id
        |      ORDER BY abs(epoch_us(b.tsm) - epoch_us(a.tsm)),
        |        CASE WHEN b.tsm < a.tsm THEN 0 ELSE 1 END) AS rn
        |  FROM a LEFT JOIN b ON a.user_id = b.user_id
        |    AND b.tsm <> a.tsm
        |    AND abs(epoch_us(b.tsm) - epoch_us(a.tsm)) <= 600000000)
        |SELECT err_id, user_id, diff_us, direction
        |FROM j WHERE rn = 1 ORDER BY err_id""".stripMargin,
    // The oracle spells the DIRECT keyless range join (fine at oracle
    // scale) — the engine's binned decomposition must reproduce it.
    "join_interval_bin" ->
      """WITH ref AS (
        |  SELECT event_type,
        |    CAST(count(*) AS DOUBLE) /
        |      count(DISTINCT date_trunc('hour', ts)) AS avg_hourly
        |  FROM events GROUP BY 1),
        |w AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |al AS (
        |  SELECT w.event_type AS alert_type,
        |    epoch_us(h) - 1800000000 AS lo, epoch_us(h) + 5400000000 AS hi
        |  FROM w JOIN ref USING (event_type)
        |  WHERE CAST(n AS DOUBLE) > 2.0 * avg_hourly),
        |p AS (SELECT event_id, epoch_us(ts) AS t FROM events
        |  WHERE event_type = 'purchase')
        |SELECT event_id, count(lo) AS n_covering_alerts
        |FROM p LEFT JOIN al ON t >= lo AND t < hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "join_range" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |date_trunc('milliseconds', ts) AS tsm FROM events)
        |SELECT a.event_id AS err_id, COUNT(b.tsm) AS n_prior_clicks
        |FROM e a LEFT JOIN e b ON b.user_id = a.user_id AND b.event_type = 'click'
        |AND b.tsm >= a.tsm - INTERVAL 10 MINUTE AND b.tsm < a.tsm
        |WHERE a.event_type = 'error'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Plain (unsalted) join: the salted plan must reproduce it bit-for-bit.
    "join_skew_salted" ->
      """SELECT l_returnflag, w, COUNT(*) AS n,
        |CAST(round(SUM(CAST(l_quantity * w AS DECIMAL(30,8))),2) AS DOUBLE) AS wsum
        |FROM lineitem
        |JOIN (VALUES ('A',1),('N',2),('R',3)) AS dim(l_returnflag, w)
        |  USING (l_returnflag)
        |GROUP BY 1,2 ORDER BY 1""".stripMargin,
    // IS NOT DISTINCT FROM is DuckDB's spelling of <=>.
    "join_null_safe" ->
      """WITH a AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 6 = 0 THEN NULL
        |         ELSE o_orderpriority END AS k
        |  FROM orders),
        |d AS (SELECT k AS dk, count(*) AS k_rows FROM a GROUP BY 1)
        |SELECT coalesce(dk, '<null>') AS key_display, count(*) AS n,
        |  max(k_rows) AS k_rows
        |FROM a JOIN d ON a.k IS NOT DISTINCT FROM d.dk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Bucketing is a layout change, never a semantics change: the oracle is
    // the plain join.
    "join_bucketed" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |CAST(round(SUM(CAST(o_totalprice AS DECIMAL(30,8))),2) AS DOUBLE) AS sum_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Identical dictionary-collapse + prefix/suffix blocking: the
    // contract is the BLOCKED candidate set (see the query's scaladoc).
    "join_fuzzy" ->
      """WITH d AS (SELECT p_name, count(*) AS cnt FROM part GROUP BY 1),
        |bl AS (SELECT p_name, cnt,
        |    unnest([substr(p_name, 1, 3), right(p_name, 3)]) AS bk
        |  FROM d),
        |cand AS (SELECT DISTINCT a.p_name AS na, b.p_name AS nb,
        |    a.cnt AS ca, b.cnt AS cb
        |  FROM bl a JOIN bl b USING (bk) WHERE a.p_name < b.p_name)
        |SELECT na, nb, levenshtein(na, nb) AS lev,
        |  CAST(ca * cb AS BIGINT) AS row_pairs
        |FROM cand WHERE levenshtein(na, nb) <= 2
        |ORDER BY na, nb""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15'
        |  AND l_shipdate > TIMESTAMP '1998-06-15'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(30,8))), 2) AS DOUBLE) AS lost_revenue,
        |COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-10-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |  AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(round(SUM(CAST(l_quantity AS DECIMAL(30,8))), 2) AS DOUBLE)
        |  AS sum_qty,
        |CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(30,8))), 2)
        |  AS DOUBLE) AS sum_base_price,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_disc_price,
        |CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |  * (1 + l_tax) AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_charge,
        |round(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
        |  / count(*), 4) AS avg_qty,
        |round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE)
        |  / count(*), 4) AS avg_price,
        |round(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE)
        |  / count(*), 4) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q18_large_volume" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(round(SUM(CAST(l_quantity AS DECIMAL(30,8))), 2)
        |      AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q21_waiting" ->
      """WITH fl AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 90
        |      AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM fl l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE l1.late
        |  AND EXISTS (SELECT 1 FROM fl l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM fl l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH p AS (SELECT p_partkey, p_name FROM part
        |  WHERE p_type = 'STANDARD'),
        |li AS (SELECT p_partkey, p_name, l_suppkey,
        |    l_extendedprice / l_quantity AS unit_cost
        |  FROM lineitem JOIN p ON l_partkey = p_partkey),
        |mc AS (SELECT p_partkey AS mk, min(unit_cost) AS min_cost
        |  FROM li GROUP BY 1),
        |hit AS (SELECT DISTINCT p_partkey, p_name, l_suppkey, min_cost
        |  FROM li JOIN mc ON p_partkey = mk AND unit_cost = min_cost)
        |SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
        |  floor(min_cost * 10000 + 0.5) / 10000 AS min_cost
        |FROM hit JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate < TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND CAST(l_shipdate AS DATE) >
        |        CAST(o_orderdate AS DATE) + 90)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(round(SUM(CAST(l_extendedprice * l_discount
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q12_ship_delay" ->
      """SELECT CASE
        |    WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |      <= 30 THEN '1_FAST'
        |    WHEN CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |      <= 60 THEN '2_MEDIUM'
        |    ELSE '3_SLOW' END AS delay_bucket,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_effect" ->
      """SELECT
        |  floor(100 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(30,8))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(30,8))) AS DOUBLE) * 10000 + 0.5) / 10000
        |    AS promo_pct,
        |  CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |  AND l_shipdate < TIMESTAMP '1997-10-01'""".stripMargin,
    "q7_trade_volume" ->
      """SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
        |  year(l_shipdate) AS l_year,
        |  CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |WHERE ((r1.r_name = 'AMERICA' AND r2.r_name = 'ASIA')
        |    OR (r1.r_name = 'ASIA' AND r2.r_name = 'AMERICA'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        |  floor(CAST(SUM(CAST(CASE WHEN s_nationkey = 3
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(30,8))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(30,8))) AS DOUBLE) * 10000 + 0.5) / 10000
        |    AS mkt_share,
        |  CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_volume
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE r2.r_name = 'ASIA' AND p_type = 'ECONOMY'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS sum_profit,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '5-LOW'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q15_top_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |    CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(30,8))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-10-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM r)
        |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH p AS (SELECT p_partkey FROM part
        |  WHERE p_brand = 'Brand#1' AND p_size < 25),
        |li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN p ON l_partkey = p_partkey),
        |thr AS (SELECT l_partkey AS tk,
        |    0.2 * CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE)
        |      / count(*) AS qty_thr
        |  FROM li GROUP BY 1)
        |SELECT floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8)))
        |    AS DOUBLE) / 7.0 * 100 + 0.5) / 100 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM li JOIN thr ON l_partkey = tk AND l_quantity < qty_thr""".stripMargin,
    "q11_important_value" ->
      """WITH v AS (SELECT l_partkey,
        |    CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(30,8))), 2) AS DOUBLE) AS val
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT l_partkey, val FROM v
        |WHERE val > (SELECT 1.5 * CAST(SUM(CAST(val AS DECIMAL(30,8)))
        |    AS DOUBLE) / count(*) FROM v)
        |ORDER BY val DESC, l_partkey""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(30,8))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 1 AND 15)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
        |    AND l_quantity BETWEEN 10 AND 25)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
        |    AND l_quantity BETWEEN 20 AND 35)""".stripMargin,
    "q20_dominant_supplier" ->
      """WITH g AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
        |sq AS (SELECT l_partkey, l_suppkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS q
        |  FROM lineitem JOIN g ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |pq AS (SELECT l_partkey AS pk,
        |    0.5 * CAST(SUM(CAST(q AS DECIMAL(30,8))) AS DOUBLE) AS half
        |  FROM sq GROUP BY 1)
        |SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM sq
        |  JOIN pq ON l_partkey = pk AND q > half)
        |ORDER BY s_suppkey""".stripMargin,
    "q22_dormant_balance" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |  WHERE c_nationkey IN (1, 3, 5, 7, 9)),
        |a AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE)
        |    / COUNT(*) AS avg_bal
        |  FROM c WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(round(SUM(CAST(c_acctbal AS DECIMAL(30,8))), 2) AS DOUBLE)
        |    AS totacctbal
        |FROM c, a
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
