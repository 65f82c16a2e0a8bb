package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.AsOfJoin

/** General relational surface over the star schema — the operator classes
  * SURVEY.md §2.5 lists as the engine's extension beyond the reference's
  * single-table scope: aggregation, broadcast/shuffle joins, semi/anti
  * joins, windows, rollup, set ops, top-k, as-of join.
  *
  * Scale notes (the plans these produce at 100 TB):
  *  - dimension joins (`region`,`nation`,`customer`) are `broadcast()`
  *    hinted — no shuffle of the fact table;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key once,
  *    with AQE free to re-plan skew;
  *  - aggregates are partial (map-side combine) by construction;
  *  - money sums are rounded at the OUTPUT only (never mid-plan), to
  *    pin cross-engine float determinism for the oracle.
  */
object RelationalQueries {
  import Tables.load

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 flavor: scan-heavy partial aggregation
    "rel_q1_pricing" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // dimension-chain broadcast join: orders → customer → nation → region
    "rel_q2_star_join" -> ((s, dir) => {
      val o = load(s, dir, "orders")
      val c = load(s, dir, "customer")
      val n = load(s, dir, "nation")
      val r = load(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // fact-fact shuffle join + group
    "rel_q3_fact_join" -> ((s, dir) => {
      val l = load(s, dir, "lineitem")
      val o = load(s, dir, "orders").where(col("o_orderstatus") =!= "F")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    // left-semi: orders having at least one heavy lineitem
    "rel_q4_semi" -> ((s, dir) => {
      val o = load(s, dir, "orders")
      val heavy = load(s, dir, "lineitem").where(col("l_quantity") >= 49)
      o.join(heavy, o("o_orderkey") === heavy("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    }),

    // left-anti: customers with no big-ticket order
    "rel_q5_anti" -> ((s, dir) => {
      val c = load(s, dir, "customer")
      val o = load(s, dir, "orders").where(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    }),

    // window functions: per-customer order sequence + running spend
    "rel_q6_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running", round(
          sum(col("o_totalprice")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long").as("rn"), col("running"))
    }),

    // rollup: hierarchical aggregates with NULL grouping markers
    "rel_q7_rollup" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))),

    // set ops: users who purchased AND errored; minus those who signed up
    "rel_q8_setops" -> ((s, dir) => {
      val e = load(s, dir, "events")
      def users(t: String, minValue: Double) =
        e.where(col("event_type") === t && col("value") > minValue)
          .select(col("user_id"))
      users("purchase", 150).intersect(users("error", 150))
        .except(users("signup", 190))
    }),

    // deterministic top-k on stored columns
    "rel_q9_topk" -> ((s, dir) =>
      load(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // exact distinct counts (expansion + two-level aggregate under AQE)
    "rel_q10_distinct" -> ((s, dir) =>
      load(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    // cube: all grouping combinations in ONE pass (expand + partial agg —
    // no re-scan per grouping at scale)
    "rel_q12_cube" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))),

    // grouping sets: explicit grouping combinations (finer than cube)
    "rel_q13_grouping_sets" -> ((s, dir) =>
      load(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // scalar-function panel: string/date/math/conditional/JSON — all
    // codegen'd builtins, zero UDFs (the hot-path rule)
    "rel_q14_scalar" -> ((s, dir) =>
      load(s, dir, "events").select(
        col("event_id"),
        upper(col("event_type")).as("etype"),
        concat_ws("-", col("event_type"), col("user_id").cast("string")).as("tag"),
        to_date(col("ts")).as("day"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        round(sqrt(col("value")), 6).as("sqrt_v"),
        round(log(col("value") + 1), 6).as("ln_v"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        when(col("value") > 250, "high").when(col("value") > 100, "mid")
          .otherwise("low").as("bucket"))),

    // approximate distinct (HLL sketch — mergeable, O(1) state/partition;
    // the 100 TB answer to rel_q10's exact expansion). No SQL oracle:
    // sketch estimates are engine-specific → rows-only check.
    // built-in HLL sketch (engine-private hash, so the raw estimate is
    // not replayable in DuckDB — rel_q29 is the portable-sketch
    // counterpart). The oracle-checkable CLAIM: each estimate lands
    // within 5% of the exact count (rsd 1%, so a 5σ envelope; HLL is
    // deterministic for fixed input) — exact counts + the booleans
    // replay in SQL as count(DISTINCT) + TRUE.
    "rel_q15_approx_distinct" -> ((s, dir) => {
      def within(c: String) =
        abs(approx_count_distinct(col(c), 0.01) - countDistinct(col(c)))
          .leq(countDistinct(col(c)).cast("double") * 0.05)
      load(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        within("l_partkey").as("parts_ok"),
        within("l_suppkey").as("supps_ok"),
        within("l_orderkey").as("orders_ok"))
    }),

    // range/interval join: fact rows into broadcast interval dim —
    // non-equi predicate against a tiny build side, so the fact table
    // never shuffles (the scale-safe banded-join shape)
    "rel_q16_range_join" -> ((s, dir) => {
      val bands = s.range(0, 6).select(
        col("id").as("band"),
        (col("id") * 10).cast("double").as("lo"),
        ((col("id") + 1) * 10).cast("double").as("hi"))
      load(s, dir, "lineitem")
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"))
    }),

    // pivot: event_type columns per user cohort (explicit value list —
    // no discovery scan; conditional aggregation under the hood)
    "rel_q17_pivot" -> ((s, dir) =>
      load(s, dir, "events")
        .groupBy(pmod(col("user_id"), lit(10)).as("cohort"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum(col("value")), 2))),

    // bucketed co-located fact-fact join: same semantics as rel_q3 but
    // over 16-bucket tables on the join key — the join runs with ZERO
    // exchanges (bucket n ⋈ bucket n in place). At 100 TB this is the
    // layout that turns the nightly fact join from a network pass into
    // a local merge.
    "rel_q18_bucketed_join" -> ((s, dir) => {
      val (l, o) = Tables.bucketedFacts(s, dir)
      // hint("merge"): at this SF the optimizer would broadcast orders;
      // force the sort-merge path to exercise the exchange-free bucketed
      // join that both sides would take at real fact-table sizes
      l.hint("merge").join(o.where(col("o_orderstatus") =!= "F"),
          l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),

    // salted skew join: lineitem ⋈ part through the manual skew escape
    // hatch (SkewJoin) — salting spreads hot keys across `salts` tasks;
    // semantics must equal the plain join, which the oracle asserts.
    "rel_q19_skew_join" -> ((s, dir) => {
      val l = load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val p = load(s, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      graft.operators.SkewJoin.saltedJoin(l, p, Seq("l_partkey"), salts = 4)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // exact percentiles (sort-based within group; one shuffle). For
    // scale, rel_q15's HLL shows the sketch-side answer; this is the
    // exact-path complement.
    "rel_q20_percentiles" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))),

    // analytic window battery: lag/lead/rank/dense_rank/ntile over the
    // same single partition-sort — one shuffle serves all five
    "rel_q21_analytics" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          rank().over(Window.partitionBy(col("o_orderpriority"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc))
            .cast("long").as("prio_rank"),
          ntile(4).over(w).cast("long").as("quartile"))
        .where(col("o_custkey") % 10 === 0)
    }),

    // left outer join: null-extended dimension rows survive into the
    // aggregate (count(col) vs count(*) distinguishes matched/unmatched)
    "rel_q22_outer" -> ((s, dir) => {
      val c = load(s, dir, "customer")
      val o = load(s, dir, "orders").where(col("o_totalprice") > 250000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          count(lit(1)).as("n_rows"))
    }),

    // full outer join of two per-user aggregates (USING-key coalescing)
    "rel_q23_full_outer" -> ((s, dir) => {
      val e = load(s, dir, "events")
      val p = e.where(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_purchases"))
      val r = e.where(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_errors"))
      p.join(r, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
          coalesce(col("n_errors"), lit(0L)).as("n_errors"))
    }),

    // SQL-text surface: scalar subquery + decorrelated IN subquery through
    // Spark's own parser/analyzer (the rounded avg pins the float
    // threshold so both engines compare against the identical literal)
    "rel_q24_subqueries" -> ((s, dir) => {
      load(s, dir, "orders").createOrReplaceTempView("orders")
      load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  round(sum(o_totalprice), 2) AS total
          |FROM orders
          |WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders)
          |  AND o_custkey IN (SELECT c_custkey FROM customer
          |                    WHERE c_mktsegment = 'BUILDING')
          |GROUP BY o_orderpriority""".stripMargin)
    }),

    // typed Aggregator UDAF: custom (min, max, n) in one partial-agg pass
    "rel_q25_udaf" -> ((s, dir) => {
      val span = udaf(graft.functions.TypedAggregators.SpanAgg,
        org.apache.spark.sql.Encoders.scalaDouble)
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(span(col("l_extendedprice")).as("s"))
        .select(col("l_returnflag"),
          col("s.min").as("min_price"), col("s.max").as("max_price"),
          col("s.n").as("n"),
          round(col("s.max") - col("s.min"), 2).as("span"))
    }),

    // RANGE window frames + the remaining ranking functions: a
    // value-range running sum (peers aggregate together, unlike ROWS)
    // plus dense_rank / percent_rank / cume_dist off one partition-sort
    "rel_q30_range_frames" -> ((s, dir) => {
      val byDate = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      load(s, dir, "orders")
        .where(col("o_custkey") % 20 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          round(sum(col("o_totalprice")).over(
            byDate.rangeBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, 0)), 2).as("running_range"),
          dense_rank().over(byDate).cast("long").as("drank"),
          round(percent_rank().over(byDate), 6).as("prank"),
          round(cume_dist().over(byDate), 6).as("cdist"))
    }),

    // value window functions (first/last/nth) over an EXPLICIT unbounded
    // frame — last_value's default frame ends at CURRENT ROW, the classic
    // silent-wrong-answer; pinning the frame is the portable semantics
    "rel_q31_value_windows" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      load(s, dir, "orders")
        .where(col("o_custkey") % 10 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
    }),

    // deterministic HLL: the portable-hash cardinality sketch whose
    // ESTIMATE is oracle-checkable (vs rel_q15's engine-private HLL)
    "rel_q29_hll_distinct" -> ((s, dir) =>
      graft.functions.Sketches.hllDistinct(
        load(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_partkey"))),

    // statistical aggregates: correlation / stddev / variance per group —
    // single-pass co-moment accumulation (partial-aggregated), rounded at
    // the output to absorb engine-specific summation order
    "rel_q26_stats" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))),

    // mergeable histogram sketch (custom TypedImperativeAggregate):
    // per-group fixed-bin counts, shuffled as O(bins) state — the
    // deterministic, oracle-checkable counterpart of rel_q15's HLL
    "rel_q27_hist_sketch" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.HistogramSketch
          .hist(col("l_quantity"), lo = 0.0, hi = 55.0, bins = 11).as("hist"))
        .select(col("l_returnflag"), posexplode(col("hist")).as(Seq("bin", "n")))),

    // quantile estimates read off the histogram sketch (PromQL
    // histogram_quantile semantics: first bin reaching φ·total, linear
    // interpolation within it) — sketch once, estimate any φ for free
    "rel_q28_hist_quantile" -> ((s, dir) =>
      load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.HistogramSketch
          .hist(col("l_quantity"), lo = 0.0, hi = 55.0, bins = 11).as("hist"))
        .select(col("l_returnflag"),
          graft.functions.HistogramSketch.quantile(col("hist"), 0.0, 5.0, 0.5).as("p50_est"),
          graft.functions.HistogramSketch.quantile(col("hist"), 0.0, 5.0, 0.9).as("p90_est"))),

    // as-of join: each purchase matched to the user's most recent click
    "rel_q11_asof" -> ((s, dir) => {
      val e = load(s, dir, "events")
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      AsOfJoin.asof(purchases, clicks, Seq("user_id"),
          leftTs = "ts", rightTs = "click_ts", rightVals = Seq("click_ts", "click_value"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof_click_ts").as("click_ts"), col("asof_click_value").as("click_value"))
    }),
  )

  val oracles: Map[String, String] = Map(
    "rel_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    "rel_q2_star_join" ->
      """SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "rel_q3_fact_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1""".stripMargin,
    "rel_q4_semi" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY 1""".stripMargin,
    "rel_q5_anti" ->
      """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |GROUP BY 1""".stripMargin,
    "rel_q6_window" ->
      """SELECT o_custkey, o_orderkey, rn, running FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn,
        |    round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running
        |  FROM orders
        |) WHERE rn <= 3""".stripMargin,
    "rel_q7_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "rel_q8_setops" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 150
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'signup' AND value > 190""".stripMargin,
    "rel_q9_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "rel_q10_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    "rel_q12_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "rel_q13_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin,
    "rel_q14_scalar" ->
      """SELECT event_id,
        |  upper(event_type) AS etype,
        |  event_type || '-' || CAST(user_id AS VARCHAR) AS tag,
        |  CAST(ts AS DATE) AS day,
        |  year(ts) AS y, month(ts) AS m,
        |  round(sqrt(value), 6) AS sqrt_v,
        |  round(ln(value + 1), 6) AS ln_v,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CASE WHEN value > 250 THEN 'high' WHEN value > 100 THEN 'mid'
        |       ELSE 'low' END AS bucket
        |FROM events""".stripMargin,
    "rel_q15_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_suppkey) AS exact_supps,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS orders_ok
        |FROM lineitem""".stripMargin,
    "rel_q16_range_join" ->
      """SELECT band, count(*) AS n, round(avg(l_extendedprice), 2) AS avg_price
        |FROM lineitem
        |JOIN (SELECT i AS band, i * 10 AS lo, (i + 1) * 10 AS hi
        |      FROM range(0, 6) t(i))
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY 1""".stripMargin,
    "rel_q17_pivot" ->
      """SELECT user_id % 10 AS cohort,
        |  round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        |  round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |  round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        |  round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY 1""".stripMargin,
    "rel_q18_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY 1""".stripMargin,
    "rel_q19_skew_join" ->
      """SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    "rel_q20_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY 1""".stripMargin,
    "rel_q21_analytics" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  rank() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS prio_rank,
        |  ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC)
        |QUALIFY o_custkey % 10 = 0""".stripMargin,
    "rel_q22_outer" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_big_orders,
        |  count(*) AS n_rows
        |FROM customer LEFT JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 250000) o
        |  ON c_custkey = o_custkey
        |GROUP BY 1""".stripMargin,
    "rel_q23_full_outer" ->
      """SELECT user_id,
        |  coalesce(n_purchases, 0) AS n_purchases,
        |  coalesce(n_errors, 0) AS n_errors
        |FROM (SELECT user_id, count(*) AS n_purchases FROM events
        |      WHERE event_type = 'purchase' GROUP BY 1) p
        |FULL JOIN (SELECT user_id, count(*) AS n_errors FROM events
        |      WHERE event_type = 'error' GROUP BY 1) e
        |USING (user_id)""".stripMargin,
    "rel_q24_subqueries" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders
        |WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority""".stripMargin,
    "rel_q25_udaf" ->
      """SELECT l_returnflag, min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price, count(*) AS n,
        |  round(max(l_extendedprice) - min(l_extendedprice), 2) AS span
        |FROM lineitem GROUP BY 1""".stripMargin,
    "rel_q29_hll_distinct" ->
      graft.functions.Sketches.duckHllSql(
        "lineitem", Seq("l_returnflag"), "l_partkey"),
    "rel_q31_value_windows" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |QUALIFY o_custkey % 10 = 0""".stripMargin,
    "rel_q30_range_frames" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_range,
        |  dense_rank() OVER w AS drank,
        |  round(percent_rank() OVER w, 6) AS prank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WHERE o_custkey % 20 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)""".stripMargin,
    "rel_q26_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(stddev_samp(l_quantity), 6) AS sd_qty,
        |  round(var_samp(l_quantity), 6) AS var_qty,
        |  round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "rel_q28_hist_quantile" ->
      """WITH bins AS (SELECT CAST(unnest(range(0, 11)) AS INTEGER) AS bin),
        |flags AS (SELECT DISTINCT l_returnflag FROM lineitem),
        |cnt AS (SELECT l_returnflag,
        |    least(10, greatest(0, CAST(floor((l_quantity - 0.0) / 5.0) AS INTEGER))) AS bin,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2),
        |h AS (SELECT f.l_returnflag,
        |    list(coalesce(cnt.n, 0) ORDER BY b.bin) AS hist
        |  FROM flags f CROSS JOIN bins b
        |  LEFT JOIN cnt ON cnt.l_returnflag = f.l_returnflag AND cnt.bin = b.bin
        |  GROUP BY 1),
        |q AS (SELECT l_returnflag, hist,
        |    list_transform(range(1, 12), i -> list_sum(hist[1:i])) AS cums,
        |    CAST(list_sum(hist) AS DOUBLE) AS total
        |  FROM h),
        |e AS (SELECT l_returnflag, hist, cums,
        |    0.5 * total AS t50, 0.9 * total AS t90,
        |    list_position(list_transform(cums, c -> CAST(c AS DOUBLE) >= 0.5 * total), true) AS i50,
        |    list_position(list_transform(cums, c -> CAST(c AS DOUBLE) >= 0.9 * total), true) AS i90
        |  FROM q)
        |SELECT l_returnflag,
        |  round(0.0 + 5.0 * ((i50 - 1) +
        |    (t50 - CASE WHEN i50 = 1 THEN 0 ELSE cums[i50 - 1] END) /
        |    CAST(hist[i50] AS DOUBLE)), 6) AS p50_est,
        |  round(0.0 + 5.0 * ((i90 - 1) +
        |    (t90 - CASE WHEN i90 = 1 THEN 0 ELSE cums[i90 - 1] END) /
        |    CAST(hist[i90] AS DOUBLE)), 6) AS p90_est
        |FROM e""".stripMargin,
    "rel_q27_hist_sketch" ->
      """WITH bins AS (SELECT CAST(unnest(range(0, 11)) AS INTEGER) AS bin),
        |flags AS (SELECT DISTINCT l_returnflag FROM lineitem),
        |c AS (SELECT l_returnflag,
        |    least(10, greatest(0, CAST(floor((l_quantity - 0.0) / 5.0) AS INTEGER))) AS bin,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT f.l_returnflag, b.bin, coalesce(c.n, 0) AS n
        |FROM flags f CROSS JOIN bins b
        |LEFT JOIN c ON c.l_returnflag = f.l_returnflag AND c.bin = b.bin""".stripMargin,
    "rel_q11_asof" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value, c.click_ts, c.click_value
        |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, value AS click_value
        |      FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND p.ts >= c.click_ts""".stripMargin,
  )
}
