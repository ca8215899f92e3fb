package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational breadth over the TPC-H-ish star schema (TESTDATA.md): joins
  * (broadcast / shuffle / semi / anti), multi-key aggregation, rollup,
  * distinct aggregation, windows, set ops, top-k.
  *
  * The reference has no joins (SURVEY.md §2.4) — these exercise the engine
  * breadth its users get from Spark, sized for 100 TB: only the
  * constant-size dims (nation = 25 rows, region = 5 rows at every SF) carry
  * an explicit `broadcast()` hint; scaling dims (customer/supplier grow with
  * SF) are left to AQE, which broadcasts when small and falls back to
  * sort-merge at scale. Fact-fact joins shuffle on their keys, and money
  * sums use the order-independent decimal pattern ([[Tables.dsum]]).
  */
object StarQueries {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: scan-heavy multi-aggregate, map-side partial agg.
    "q1_lineitem_agg" -> ((s, d) => lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-01-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q3 shape: 3-way join, agg, top-k by revenue.
    // Join ORDER matters at scale: orders ⋈ filtered-customer first — a
    // selectivity filter (~1/5 of orders survive the segment) — so the
    // expensive lineitem join shuffles only surviving orders. No broadcast
    // hint on customer: it scales with the fact tables (SF×150k rows), so a
    // forced broadcast is an OOM landmine at 100×; AQE picks broadcast when
    // the filtered side is actually under the threshold and falls back to
    // sort-merge when it is not.
    "q3_top_orders" -> ((s, d) => {
      val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = orders(s, d).join(c, col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate")
      lineitem(s, d).join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: snowflake dim chain. nation/region are constant-size
    // (25/5 rows at every SF) so they keep an explicit broadcast hint;
    // supplier grows SF×10k rows, so its join is left to AQE — broadcast at
    // small SF, sort-merge once it outgrows the threshold.
    "q5_nation_revenue" -> ((s, d) => {
      val l = lineitem(s, d)
      val su = supplier(s, d)
      val n = nation(s, d)
      val r = region(s, d)
      l.join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // Left-outer join preserving unmatched customers (count(col) keeps
    // no-order customers at 0).
    "join_outer" -> ((s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")),

    // Full-outer join of two aggregates (keys surviving from either side).
    "join_full_outer" -> ((s, d) => {
      val c = customer(s, d).groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val su = supplier(s, d).groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    // Left-semi: customers with at least one order (EXISTS).
    "join_semi" -> ((s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")),

    // Left-anti: customers with no orders (NOT EXISTS).
    "join_anti" -> ((s, d) => customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")),

    // Ranking window: top-3 orders per customer.
    "window_rank" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),

    // Running-total window (frame spec). Quantities are integral-valued
    // doubles, so the windowed sum is exact under any accumulation order.
    // NB: (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    // the window order adds quantity/price tiebreaks (any remaining ties are
    // full duplicates, whose prefix sums commute) and the final sort includes
    // running_qty to pin the row order of duplicated keys.
    "window_running" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, d)
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    }),

    // TPC-H Q14 shape: fact ⋈ part dim with LIKE-gated conditional
    // aggregation (promo revenue share per brand). part scales with SF —
    // no broadcast hint, AQE decides; the ratio divides two decimal-exact
    // sums so both engines produce bit-identical doubles (rounded anyway).
    "q14_promo_share" -> ((s, d) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      lineitem(s, d).join(part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          dsum4(rev).as("revenue"),
          round(dsum4(when(col("p_type").like("ECO%"), rev).otherwise(lit(0.0))) /
            dsum4(rev), 6).as("promo_share"))
        .orderBy("p_brand")
    }),

    // RANGE-frame window (value-based frame, not row-based): per supplier,
    // quantity shipped in the trailing 30-day window of each row. Range
    // frames include ALL peers of the boundary values, so the result is
    // deterministic under any tie order — no tiebreak columns needed in the
    // frame, only in the output sort.
    "window_range_frame" -> ((s, d) => {
      val days = datediff(col("l_shipdate"), lit("1992-01-01").cast("date"))
      val w = Window.partitionBy("l_suppkey").orderBy(days)
        .rangeBetween(-30, Window.currentRow)
      lineitem(s, d)
        .withColumn("days", days)
        .withColumn("qty_30d", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "days", "l_orderkey", "l_linenumber", "qty_30d")
        .orderBy("l_suppkey", "days", "l_orderkey", "l_linenumber", "qty_30d")
    }),

    // Set ops over customer vs supplier nations.
    "set_union" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey")),
    "set_intersect" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),
    "set_except" -> ((s, d) =>
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    // COUNT(DISTINCT) per group (two-phase distinct aggregation).
    "agg_distinct" -> ((s, d) => orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("uniq_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")),

    // ROLLUP grouping sets (explicit NULLS FIRST for oracle parity —
    // DuckDB's default ASC ordering is NULLS LAST, Spark's is NULLS FIRST).
    "rollup_agg" -> ((s, d) => lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Custom whole-operator top-k-per-key (bounded heaps, partial+final
    // around one exchange) — oracle is the equivalent window row_number SQL.
    "window_topk_custom" -> ((s, d) => {
      import graft.plans.TopK
      TopK.perKey(orders(s, d), keys = Seq("o_custkey"),
          order = Seq(TopK.Sort("o_totalprice", desc = true), TopK.Sort("o_orderkey")), k = 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // Salted skew join: same result as the plain join (the oracle IS the
    // plain join) with the hot keys spread across 4 salt buckets.
    "join_salted" -> ((s, d) => {
      import graft.ext.SkewJoin
      SkewJoin.saltedEquiJoin(
          lineitem(s, d), orders(s, d),
          col("l_orderkey"), col("o_orderkey"),
          saltFrom = Seq(col("l_linenumber"), col("l_partkey")), buckets = 4)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"))
        .orderBy("o_orderstatus")
    }),

    // Exact median (interpolated percentile) per group.
    "agg_median" -> ((s, d) => lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("median_price"))
      .orderBy("l_returnflag")),

    // Approximate quantiles (the GK sketch behind percentile_approx). At
    // accuracy 10000 the rank error (n/10000) is far below the width of the
    // integral quantity value plateaus, so the picked VALUE equals DuckDB's
    // exact discrete quantile and the oracle hash-matches.
    "agg_approx_quantile" -> ((s, d) => lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_quantity, 0.5, 10000)").as("q50"),
        expr("percentile_approx(l_quantity, 0.95, 10000)").as("q95"))
      .orderBy("l_returnflag")),

    // Statistical aggregates (stddev/variance/correlation). Kept to
    // quantity-scale magnitudes and rounded to 6 decimals: accumulation-order
    // float drift between engines is ~1e-10 here, far inside the rounding.
    "agg_stats" -> ((s, d) => lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"))
      .orderBy("l_returnflag")),

    // Mergeable KLL-style quantile sketch ([[graft.ext.KllQuantileAggregator]])
    // — PROPERTY oracle: the sketch's picked values are rank-checked against
    // the actual data IN the query (counts of rows below/at the sketch
    // quantile must bracket the target rank within the sketch's 2% error
    // budget), while the exact quantiles ride along as oracle-checked data
    // columns. O(k·log(n/k)) per group over the shuffle instead of the full
    // column — the scale path agg_median's exact percentile doesn't have.
    "agg_quantile_sketch" -> ((s, d) => {
      val li = lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
      // untyped udaf form (optimization round 16): the typed groupByKey
      // path planned AppendColumns + SerializeFromObject — a per-row Scala
      // closure and tuple deserialization in the hot scan; the udaf form
      // runs the SAME aggregator through ObjectHashAggregate with no
      // object boundary on the input side
      val kll = udaf(new graft.ext.KllQuantileAggregator(512, Seq(0.5, 0.95)),
        org.apache.spark.sql.Encoders.scalaDouble)
      val sk = li.groupBy(col("l_returnflag").as("rf"))
        .agg(kll(col("l_quantity")).as("qs"))
        .select(col("rf"), element_at(col("qs"), 1).as("v50"), element_at(col("qs"), 2).as("v95"))
      val eps = 0.02
      def bracketOk(vName: String, p: Double) =
        (sum(when(col("l_quantity") < col(vName), 1L).otherwise(0L)) <=
          (lit(p) + eps) * count(lit(1))) &&
          (sum(when(col("l_quantity") <= col(vName), 1L).otherwise(0L)) >=
            (lit(p) - eps) * count(lit(1)))
      li.join(broadcast(sk), col("l_returnflag") === col("rf"))
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("q50_exact"),
          expr("percentile(l_quantity, 0.95)").as("q95_exact"),
          (bracketOk("v50", 0.5) && bracketOk("v95", 0.95)).as("sketch_ok"))
        .orderBy("l_returnflag")
    }),

    // Pivot: order counts per priority × status (conditional-agg oracle).
    "pivot_agg" -> ((s, d) => orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy("o_orderpriority")),

    // spark.sql surface: correlated scalar subquery — orders above their
    // customer's average order value.
    "sql_scalar_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_v o
        WHERE o_totalprice > 1.5 * (
          SELECT avg(o_totalprice) FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }),

    // spark.sql surface: IN-subquery with aggregation gate.
    "sql_in_subquery" -> ((s, d) => {
      orders(s, d).createOrReplaceTempView("orders_v")
      customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c_custkey, c_name FROM customer_v
        WHERE c_custkey IN (
          SELECT o_custkey FROM orders_v GROUP BY o_custkey HAVING count(*) >= 20)
        ORDER BY c_custkey""")
    }),

    // GROUPING SETS beyond rollup: chosen dimension combinations.
    "sql_grouping_sets" -> ((s, d) => {
      lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS cnt
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // CUBE: all dimension combinations.
    "cube_agg" -> ((s, d) => orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // Backward as-of join (ext.AsOfJoin: union + side-marker + running last —
    // one shuffle, no range nested-loop): each purchase event matched to the
    // user's most recent click at or before it. The click side is deduped per
    // (user, time) first so the as-of pick is deterministic; DuckDB's native
    // ASOF JOIN is the oracle.
    "join_asof" -> ((s, d) => {
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ets").as("purchase_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user"), col("ets").as("click_ts"))
        .agg(max(col("event_id")).as("click_id"))
      graft.ext.AsOfJoin.asOf(purchases, clicks,
          col("user_id"), col("c_user"), col("purchase_ts"), col("click_ts"))
        .select("purchase_id", "user_id", "click_id")
        .orderBy("purchase_id")
    }),

    // Forward as-of: each click matched to the user's NEXT purchase at or
    // after it (same one-shuffle plan, descending sort).
    "join_asof_fwd" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ets").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ets").as("purchase_ts"))
        .agg(max(col("event_id")).as("purchase_id"))
      graft.ext.AsOfJoin.asOfForward(clicks, purchases,
          col("user_id"), col("p_user"), col("click_ts"), col("purchase_ts"))
        .select("click_id", "user_id", "purchase_id")
        .orderBy("click_id")
    }),

    // Band join (ext.RangeJoin: bucket-equi-join + refine, never a
    // nested-loop): events binned into value intervals, including an
    // overlapping catch-all bin — a point matches every interval holding it.
    "join_range" -> ((s, d) => {
      import s.implicits._
      val bins = ((0 until 10).map(i => (i, i * 50.0, (i + 1) * 50.0)) :+ ((99, 0.0, 500.0)))
        .toDF("bin_id", "lo", "hi")
      graft.ext.RangeJoin.pointInInterval(
          events(s, d).select("event_id", "value"), bins,
          col("value"), col("lo"), col("hi"), bucketWidth = 50.0)
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("bin_id")
    }),

    // Co-located bucketed join (cluster.Bucketing): both facts bucketed on
    // the join key at write time → the join plans with no Exchange on either
    // side (asserted in BucketingSpec; the oracle is the plain join).
    "join_bucketed" -> ((s, d) => {
      import graft.cluster.Bucketing
      // catalog names unique per scratch root, so no two roots share a table
      val (l, o) = QueryMemo.scratch("bucketed", s, d) { root =>
        val tag = new java.io.File(root).getName
        Bucketing.writeBucketed(lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
          s"${tag}_lineitem", s"$root/lineitem", "l_orderkey", 16)
        Bucketing.writeBucketed(orders(s, d).select("o_orderkey", "o_orderpriority"),
          s"${tag}_orders", s"$root/orders", "o_orderkey", 16)
        (s"${tag}_lineitem", s"${tag}_orders")
      }
      s.table(l).join(s.table(o), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Join + grouped agg: order revenue by market segment and month.
    // customer scales with SF — no broadcast hint; AQE decides.
    "segment_monthly" -> ((s, d) => orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"),
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment", "order_month")),
  )

  /** Operator-only twin for the bench split (round-4 VERDICT item 2): the
    * mergeable KLL sketch aggregation without the exact-percentile bracket
    * verification agg_quantile_sketch runs beside it. */
  val operatorOnly: Map[String, Q] = Map(
    "agg_quantile_sketch" -> ((s, d) => {
      val kll = udaf(new graft.ext.KllQuantileAggregator(512, Seq(0.5, 0.95)),
        org.apache.spark.sql.Encoders.scalaDouble)
      lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
        .groupBy("l_returnflag")
        .agg(kll(col("l_quantity")).as("qs"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q50"), element_at(col("qs"), 2).as("q95"))
    }),
  )

  val oracle: Map[String, String] = Map(
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-01-01'
         GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    "q3_top_orders" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_nation_revenue" ->
      """SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2 ORDER BY r_name, n_name""",
    "join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY c_custkey""",
    "join_full_outer" ->
      """SELECT coalesce(nk_c, nk_s) AS nationkey,
           coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
         FROM (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier GROUP BY 1) s
           ON nk_c = nk_s
         ORDER BY nationkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
           SUM(l_quantity) OVER (PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
         FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""",
    "q14_promo_share" ->
      """SELECT p_brand, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
           round(
             CAST(SUM(CAST(CASE WHEN p_type LIKE 'ECO%'
               THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(22,4))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE),
             6) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY p_brand""",
    "window_range_frame" ->
      """SELECT l_suppkey,
           CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS INTEGER) AS days,
           l_orderkey, l_linenumber,
           SUM(l_quantity) OVER (PARTITION BY l_suppkey
             ORDER BY date_diff('day', DATE '1992-01-01', l_shipdate)
             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS qty_30d
         FROM lineitem
         ORDER BY l_suppkey, days, l_orderkey, l_linenumber, qty_30d""",
    "set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""",
    "agg_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_customers,
           count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, SUM(l_quantity) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "window_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""",
    "join_salted" ->
      """SELECT o_orderstatus, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderstatus""",
    "agg_median" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_extendedprice, 0.5) AS median_price
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "agg_quantile_sketch" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS q50_exact,
           quantile_cont(l_quantity, 0.95) AS q95_exact,
           true AS sketch_ok
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "agg_approx_quantile" ->
      """SELECT l_returnflag,
           quantile_disc(l_quantity, 0.5) AS q50,
           quantile_disc(l_quantity, 0.95) AS q95
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "agg_stats" ->
      """SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp
         FROM lineitem GROUP BY 1 ORDER BY l_returnflag""",
    "pivot_agg" ->
      """SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    "sql_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "sql_in_subquery" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (
           SELECT o_custkey FROM orders GROUP BY o_custkey HAVING count(*) >= 20)
         ORDER BY c_custkey""",
    "sql_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "join_asof" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.click_id
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
         ASOF JOIN (SELECT user_id AS c_user, ts AS click_ts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2) c
           ON p.user_id = c.c_user AND p.ts >= c.click_ts
         ORDER BY purchase_id""",
    "join_asof_fwd" ->
      """SELECT c.event_id AS click_id, c.user_id, p.purchase_id
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
         ASOF JOIN (SELECT user_id AS p_user, ts AS purchase_ts, max(event_id) AS purchase_id
                    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
           ON c.user_id = p.p_user AND c.ts <= p.purchase_ts
         ORDER BY click_id""",
    "join_range" ->
      """SELECT b.bin_id, count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events e
         JOIN (VALUES (0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 150.0),
                      (3, 150.0, 200.0), (4, 200.0, 250.0), (5, 250.0, 300.0),
                      (6, 300.0, 350.0), (7, 350.0, 400.0), (8, 400.0, 450.0),
                      (9, 450.0, 500.0), (99, 0.0, 500.0)) b(bin_id, lo, hi)
           ON e.value >= b.lo AND e.value < b.hi
         GROUP BY b.bin_id ORDER BY b.bin_id""",
    "join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    "segment_monthly" ->
      """SELECT c_mktsegment, strftime(o_orderdate, '%Y-%m') AS order_month,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY c_mktsegment, order_month""",
  )
}
