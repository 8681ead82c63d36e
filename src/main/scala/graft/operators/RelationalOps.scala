package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._

/** Core relational operators: aggregation, joins (broadcast dim star,
  * interval/range), full-outer coalesce merge, union.
  *
  * Scale notes (100 TB posture):
  *  - BOUNDED dims (region 5, nation 25, supplier as the smallest scaling
  *    dim) carry explicit `broadcast()` hints so the fact scan never
  *    shuffles for their enrichment — mirrors the reference's Redis-cached
  *    async dim lookup (reference
  *    gmall-realtime/.../app/function/DimAsyncFunction.java:46-82) which a
  *    BroadcastHashJoin subsumes. SCALING dims (customer, part) are left
  *    un-hinted: stats/AQE broadcast them while they fit and degrade to a
  *    shuffle join when they don't — a forced broadcast would OOM at 100×.
  *  - Fact-fact joins (orders ⋈ lineitem) shuffle on the join key only;
  *    with AQE enabled skew is split at runtime.
  *  - Money arithmetic is done in DECIMAL so results are exactly
  *    reproducible across engines (oracle parity) and stable under
  *    re-partitioning — double sums are partition-order dependent.
  */
object RelationalOps {

  /** Decimal cast used for exact, order-independent money aggregation. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Floor division by a positive constant, in pure integer arithmetic.
    * Spark's `div` truncates toward zero while DuckDB's `//` floors —
    * they differ on negative numerators, so every oracle-compared
    * binning uses this instead of `div`: `pmod` makes the numerator
    * exactly divisible, after which truncation IS floor. No double
    * round-trip, so exact at any magnitude (the lone edge — numerators
    * within `d` of Long.MinValue — fails loudly under ANSI instead of
    * silently diverging).
    */
  def floorDiv(n: Column, d: Long): Column = {
    val nn = n.cast("long")
    call_function("div", nn - pmod(nn, lit(d)), lit(d))
  }

  /** Pricing-summary aggregation (TPC-H Q1 shape) — the hash-aggregate
    * workhorse. Partial aggregation (map-side combine) happens
    * automatically; cardinality of the group key is tiny so the final
    * shuffle is negligible at any scale.
    *
    * Money math runs on UNSCALED LONGS (cents, and 10^-4 units for the
    * price×discount product), the columnar-engine decimal strategy:
    * `sum(decimal(18,2))` promotes its buffer to decimal(28,2), which is
    * past Spark's compact-long precision (18), so every row accumulates
    * through the allocating non-compact path — measured 1.6× slower than
    * the long form on the same data. The decimal(18,2) CAST from the
    * stored double stays (it is the rounding contract shared with the
    * oracle); ×100 / ×10000 and the final single division are exact.
    * Overflow posture: a 10^-4-unit total overflows a long at ~9·10^14
    * currency units — ANSI mode (Spark 4 default) makes that a loud
    * error, and the remedy at such scale is summing the long into a
    * decimal(38,0) final aggregate, not per-row decimal accumulation.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val qtyC = (dec($"l_quantity") * 100).cast("long")
    val priceC = (dec($"l_extendedprice") * 100).cast("long")
    val discC = (dec($"l_discount") * 100).cast("long")
    lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        (sum(qtyC) / 100.0).as("sum_qty"),
        (sum(priceC) / 100.0).as("sum_base_price"),
        (sum(priceC * (lit(100L) - discC)) / 10000.0).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  /** Batch twin of the reference's stream-stream interval join
    * (OrderWideApp: orderInfo ⋈ orderDetail within ±5 s, reference
    * gmall-realtime/.../app/dwm/OrderWideApp.java:88-97): equi key plus a
    * time-range predicate. Here: lineitem within 90 days of its order's
    * date. Catalyst plans the equi part as the shuffle key; the range
    * predicate is a post-join filter, so state/memory stays bounded by the
    * equi-key groups — the same reason the reference bounds its join
    * window.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val l = lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .select(
        l("l_orderkey").as("orderkey"),
        l("l_linenumber").cast("bigint").as("linenumber"),
        dec(l("l_extendedprice")).cast("double").as("price"),
        o("o_orderstatus").as("orderstatus"))
  }

  /** Left-outer form of [[intervalJoin]]: every lineitem survives;
    * those with no order inside the 90-day window carry a null
    * orderstatus — the batch twin of
    * [[graft.streaming.OrderWidePipeline.intervalJoinLeftStreaming]]'s
    * watermark-released orphan rows. Same scale shape as the inner form
    * (hash equi-join on the key, range recheck as a post-filter on the
    * matched side only).
    */
  def intervalJoinLeft(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val l = lineitem(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey") &&
        l("l_shipdate") >= o("o_orderdate") &&
        l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"),
      "left")
      .select(
        l("l_orderkey").as("orderkey"),
        l("l_linenumber").cast("bigint").as("linenumber"),
        dec(l("l_extendedprice")).cast("double").as("price"),
        o("o_orderstatus").as("orderstatus"))
  }

  /** Dim-enrichment chain (reference DimAsyncFunction / OrderWideApp
    * intended joins, gmall-realtime/.../bean/OrderWide.java:40-53):
    * customer → nation → region resolved via left joins — the
    * Spark-native replacement for per-event cached dim lookups.
    */
  def dimEnrich(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    // customer is deliberately un-hinted: it grows with the fact tables
    // (a multi-GB broadcast at warehouse scale); stats/AQE pick broadcast
    // at test scale and fall back to shuffle when it is genuinely large.
    // nation/region are bounded dims — hinted.
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        o("o_orderkey").as("orderkey"),
        c("c_name").as("cust_name"),
        n("n_name").as("nation_name"),
        r("r_name").as("region_name"))
  }

  /** Full order-wide table: facts joined to every dimension (the completed
    * version of the reference's unfinished OrderWideApp enrichment,
    * OrderWide.java:40-53). Two fact tables shuffle on the order key;
    * bounded dims broadcast by hint, scaling dims by stats only.
    */
  def orderWide(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val l = lineitem(spark, dir)
    val p = part(spark, dir)
    val s = supplier(spark, dir)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    // part and customer are deliberately un-hinted: both grow with the
    // fact tables (TPC-H: part = SF·200k, customer = SF·150k) and would
    // OOM as forced broadcasts at 100×; stats/AQE still broadcast them
    // at test scale. supplier (SF·10k, the smallest scaling dim, kept
    // per the dim-star stance) and nation (bounded 25) stay hinted.
    // Supplier-hint bound: ~100 B/row ⇒ SF·10k ≈ SF MB; safe while
    // SF ≲ 2000 (≈2 GB, within executor broadcast budget at the 8 GB
    // executors this targets). Beyond that, drop the hint and let
    // stats/AQE decide exactly as part/customer do — the threshold is a
    // deployment-memory policy, not a plan-shape requirement.
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(p, l("l_partkey") === p("p_partkey"), "left")
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"), "left")
      .join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .select(
        l("l_orderkey").as("orderkey"),
        l("l_linenumber").cast("bigint").as("linenumber"),
        (dec(l("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(l("l_discount")))).cast("double").as("revenue"),
        o("o_orderpriority").as("orderpriority"),
        p("p_brand").as("brand"),
        s("s_name").as("supp_name"),
        c("c_mktsegment").as("mktsegment"),
        n("n_name").as("cust_nation"))
  }

  /** Decorrelated "above my group's average" predicate — the scalar-
    * subquery shape (orders above their customer's average spend),
    * planned as a self-aggregation join. The comparison cross-multiplies
    * (price · count > sum) so it stays in exact DECIMAL — an avg would
    * round and make the filter boundary engine-dependent.
    */
  def aboveCustomerAverage(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val perCust = o.groupBy($"o_custkey".as("agg_custkey"))
      .agg(sum(dec($"o_totalprice")).as("spend_sum"),
        count(lit(1)).as("spend_cnt"))
    o.join(perCust, $"o_custkey" === $"agg_custkey")
      .filter(dec($"o_totalprice") * $"spend_cnt" > $"spend_sum")
      .select($"o_orderkey".as("orderkey"), $"o_custkey".as("custkey"),
        dec($"o_totalprice").cast("double").as("totalprice"))
  }

  /** Argmin join (TPC-H Q2 shape without a partsupp table): per part,
    * the supplier offering its minimum line price — min computed in
    * exact DECIMAL, rows matching the min recovered by equi-join, ties
    * resolved to the lowest supplier key. Two aggregations + one
    * shuffle join on the part key; no window over the fact table.
    */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey", dec($"l_extendedprice").as("price"))
    val mins = l.groupBy($"l_partkey".as("mp")).agg(min($"price").as("min_price"))
    l.join(mins, $"l_partkey" === $"mp" && $"price" === $"min_price")
      .groupBy($"l_partkey")
      .agg(min($"l_suppkey").as("suppkey"), first($"min_price").as("min_price"))
      .select($"l_partkey".as("partkey"), $"suppkey",
        $"min_price".cast("double").as("min_price"))
  }

  /** Correlated min-cost-per-group lookup (TPC-H Q2 shape, adapted to
    * this schema's missing partsupp: supply cost per (part, supplier) =
    * min line price for the pair, derived once from lineitem). For each
    * ECONOMY-type part, every EUROPE-region supplier offering that
    * part's minimum regional cost, with supplier account/nation detail
    * — the textbook correlated scalar subquery ("cost = (SELECT
    * min(cost) ... WHERE same part AND same region)"), decorrelated to
    * ONE aggregate over the region-restricted cost set, recovered by
    * equi-join on (partkey, cost).
    *
    * Scale shape: the fact table collapses to the (part, supplier) cost
    * grid FIRST (shuffle on the pair key), dims broadcast onto the
    * grid, the per-part min is a second aggregate of the SAME restricted
    * grid (no window over fact rows, no fact broadcast), and the
    * min-recovery join hashes both derivations on partkey. Ties (two
    * suppliers at the same min cost) all surface, as in Q2.
    */
  def minCostRegionSupplier(spark: SparkSession, dir: String): DataFrame = {
    val ps = lineitem(spark, dir)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(min(dec($"l_extendedprice")).as("cost"))
    val eu = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region(spark, dir).filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val eps = ps.join(broadcast(eu), $"l_suppkey" === $"s_suppkey")
    val minc = eps.groupBy($"l_partkey".as("mp")).agg(min($"cost").as("min_cost"))
    eps.join(minc, $"l_partkey" === $"mp" && $"cost" === $"min_cost")
      .join(part(spark, dir).filter($"p_type" === "ECONOMY"),
        $"l_partkey" === $"p_partkey")
      .select($"s_acctbal", $"s_name".as("supp_name"), $"n_name".as("nation_name"),
        $"l_partkey".as("partkey"), $"p_brand".as("brand"),
        $"cost".cast("double").as("supply_cost"))
  }

  /** Local-supplier revenue by nation (TPC-H Q5 shape): the six-way
    * join customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region
    * with the customer-and-supplier-same-nation condition. Facts
    * shuffle on their join keys; all dims broadcast; revenue in exact
    * DECIMAL.
    */
  def nationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    val o = orders(spark, dir)
    val l = lineitem(spark, dir)
    val s = supplier(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    // no broadcast hint on customer: at warehouse scale it is a large
    // dim that should shuffle (stats pick broadcast at test scale)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(s),
        l("l_suppkey") === s("s_suppkey") && c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("region_name"), n("n_name").as("nation_name"))
      .agg(sum(dec(l("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(l("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** First-non-null merge after a full outer join — the relational form of
    * the reference's field-wise `firstNonNull` OrderWide merge
    * (bean/OrderWide.java:90-107): coalesce each side's key/value.
    */
  def coalesceMerge(spark: SparkSession, dir: String): DataFrame = {
    val perCust = orders(spark, dir).groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum(dec($"o_totalprice")).as("total_spent"))
    val c = customer(spark, dir)
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "full_outer")
      .select(
        coalesce(c("c_custkey"), perCust("o_custkey")).as("custkey"),
        coalesce(c("c_name"), lit("unknown")).as("name"),
        coalesce(perCust("n_orders"), lit(0L)).as("n_orders"),
        coalesce(perCust("total_spent"), lit(0).cast("decimal(28,2)")).cast("double").as("total_spent"))
  }

  /** Left-semi join (EXISTS): customers that have at least one urgent
    * order. Semi joins ship only the key column of the right side
    * through the shuffle and short-circuit on first match — the
    * existence-check shape used for retention/activity filters at scale.
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
    customer(spark, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey".as("custkey"), $"c_name".as("name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no urgent orders —
    * the complement sweep. (Every customer in the corpus has *some*
    * order, so the predicate matches the semi join's to stay
    * non-vacuous.)
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .join(orders(spark, dir)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey".as("custkey"), $"c_name".as("name"))

  /** As-of join: each purchase attributed to the user's most recent
    * preceding view (last-touch attribution). Implemented as
    * union + last_value window — one shuffle on the user key, no
    * inequality join and no per-pair state, so it scales like a sort
    * within partitions. (The composable form Spark lacks a native
    * operator for; preference order per design notes: compose before
    * custom plan.)
    */
  def asofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).filter($"event_type".isin("view", "purchase"))
      .select($"event_id", $"user_id", $"event_type", $"ts",
        when($"event_type" === "view", $"event_id").as("view_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    e.withColumn("last_view_id", last($"view_id", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id",
        coalesce($"last_view_id", lit(-1L)).as("attributed_view_id"))
  }

  /** Same attribution via the engine's NATIVE as-of join operator
    * ([[org.apache.spark.sql.graftexpr.AsOfJoinExec]]): purchases as-of
    * joined to views on user_id, ordered by (ts, event_id), strict. One
    * shuffle per side on the user key and a single merge pass per
    * partition — unlike the window form, the views stream is never
    * unioned into the purchase stream, so each side scans and prunes
    * independently (at scale: views >> purchases; the purchase side
    * shuffle is tiny).
    */
  def asofAttributionNative(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val purchases = e.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val views = e.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("view_user_id"),
        $"ts".as("view_ts"))
    // key user_id; order (ts, event_id) strict — identical tie semantics
    // to the window form (a view at the same ts with a smaller event_id
    // counts as preceding)
    org.apache.spark.sql.graftexpr.AsOf.join(purchases, views,
        leftKeys = Seq("user_id"), rightKeys = Seq("view_user_id"),
        leftOrder = Seq("ts", "event_id"), rightOrder = Seq("view_ts", "view_id"),
        strict = true)
      .select($"event_id".as("purchase_id"), $"user_id",
        coalesce($"view_id", lit(-1L)).as("attributed_view_id"))
  }

  /** `j8_asof_sql`: the [[asofAttributionNative]] attribution driven by
    * SQL TEXT ALONE — the `asof_match` join-condition marker
    * ([[org.apache.spark.sql.graftexpr.AsOfMark]]) is rewritten by
    * `RewriteMarkerJoins` into the native
    * [[org.apache.spark.sql.graftexpr.AsOfJoinExec]], so a SQL-first
    * consumer reaches the sort-merge as-of operator with no Scala
    * imports (the session registers the marker through
    * `GraftFunctions.registerAll`). Identical key/order/strictness
    * contract to the native form — same oracle.
    */
  def asofAttributionSql(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("graft_events_v")
    spark.sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM graft_events_v
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS view_user_id,
        |    ts AS view_ts FROM graft_events_v WHERE event_type = 'view')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  coalesce(v.view_id, -1L) AS attributed_view_id
        |FROM p LEFT JOIN v
        |  ON asof_match(p.user_id, v.view_user_id,
        |    struct(p.ts, p.event_id), struct(v.view_ts, v.view_id), true)""".stripMargin)
  }

  /** `j8_asof_sql_inner`: [[asofAttributionSql]] with a plain (INNER)
    * JOIN — purchases with no prior view are DROPPED instead of
    * null-extended, the default semantics of DuckDB's native ASOF JOIN
    * and of pandas merge_asof + dropna. Plans the same sort-merge
    * [[org.apache.spark.sql.graftexpr.AsOfJoinExec]] with
    * `dropUnmatched` set; also the shape the optimizer's
    * EliminateOuterJoin produces from a LEFT marker join under a
    * null-rejecting filter, so this query gates that rewrite path too.
    */
  def asofAttributionSqlInner(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("graft_events_v")
    spark.sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM graft_events_v
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS view_user_id,
        |    ts AS view_ts FROM graft_events_v WHERE event_type = 'view')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  v.view_id AS attributed_view_id
        |FROM p JOIN v
        |  ON asof_match(p.user_id, v.view_user_id,
        |    struct(p.ts, p.event_id), struct(v.view_ts, v.view_id), true)""".stripMargin)
  }

  /** `j8_asof_sql_conj`: [[asofAttributionSql]] with COMPOSED extra ON
    * conjuncts — same-day attribution with a view-quality floor:
    * `asof_match(...) AND to_date(p.ts) = to_date(v.view_ts) AND
    * v.view_value >= 0.2`. RewriteMarkerJoins partitions the conjuncts:
    * the cross-side date equality becomes an extra as-of KEY (candidates
    * restricted to the purchase's calendar day), the right-side-only
    * value floor a pre-join filter on the view side — both inside the
    * one sort-merge as-of pass, never a post-join filter (which under
    * LEFT OUTER would turn matches into false nulls). The round-9 gap
    * this closes: the rule previously matched only a bare marker, so any
    * riding conjunct fell through to a misleading runtime error.
    */
  def asofAttributionSqlConj(spark: SparkSession, dir: String): DataFrame = {
    events(spark, dir).createOrReplaceTempView("graft_events_v")
    spark.sql(
      """WITH p AS (SELECT event_id, user_id, ts FROM graft_events_v
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS view_user_id,
        |    ts AS view_ts, value AS view_value
        |  FROM graft_events_v WHERE event_type = 'view')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  coalesce(v.view_id, -1L) AS attributed_view_id
        |FROM p LEFT JOIN v
        |  ON asof_match(p.user_id, v.view_user_id,
        |    struct(p.ts, p.event_id), struct(v.view_ts, v.view_id), true)
        |  AND to_date(p.ts) = to_date(v.view_ts)
        |  AND v.view_value >= 0.2""".stripMargin)
  }

  /** `j11_range_sql`: the [[rangeJoinShipments]] interval-stabbing query
    * driven by SQL TEXT ALONE — the `range_bin_match` marker
    * ([[org.apache.spark.sql.graftexpr.RangeBinMark]]) is rewritten by
    * `RewriteMarkerJoins` into the binned equi join (intervals exploded
    * into 7-day bins, points hashed to their bin, exact range re-check),
    * so the natural SQL range predicate plans as a hash join instead of
    * the nested-loop cliff Catalyst would otherwise emit. Same
    * aggregate-below-the-join shape as the Scala form — the points side
    * is the distinct-ship-date histogram — and the standard
    * `BROADCAST(pts)` SQL hint survives the rewrite (the day-domain
    * points side broadcasts, so the exploded interval side never
    * shuffles — measured 11.4 s → Scala-twin parity at sf1 without it).
    * Same oracle as `j11_range_join`.
    */
  def rangeJoinShipmentsSql(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("graft_orders_v")
    lineitem(spark, dir).createOrReplaceTempView("graft_lineitem_v")
    spark.sql(
      s"""WITH iv AS (SELECT o_orderkey, o_orderdate AS win_lo,
         |    o_orderdate + INTERVAL 7 DAYS AS win_hi FROM graft_orders_v),
         |pts AS (SELECT l_shipdate, count(*) AS w FROM graft_lineitem_v
         |  GROUP BY l_shipdate)
         |SELECT /*+ BROADCAST(pts) */ o_orderkey, sum(w) AS n_shipments
         |FROM iv JOIN pts
         |  ON range_bin_match(pts.l_shipdate, iv.win_lo, iv.win_hi, ${7L * 86400}L)
         |GROUP BY o_orderkey""".stripMargin)
  }

  /** Linear multi-touch attribution: each purchase's credit split
    * evenly across the user's views in the 7 days strictly before it —
    * the fractional counterpart of [[asofAttribution]]'s last-touch.
    * Weights are exact ppm integers: base = 10⁶ div n, and the
    * division remainder goes to the EARLIEST touch (deterministic
    * (ts, view_id) order), so every purchase's weights sum to exactly
    * 1,000,000 — no float shares, no drift under re-aggregation. A
    * purchase with no views keeps its mass on view_id −1.
    *
    * Plan: the range join shuffles both sides once on the user key
    * (views per (user, week) are bounded in any real event stream);
    * the count/rank pair shares one purchase-keyed window exchange.
    */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val v = e.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("v_user"),
        $"ts".as("v_ts"))
    val j = p.join(v,
      $"user_id" === $"v_user" && $"v_ts" < $"p_ts" &&
        $"v_ts" >= $"p_ts" - expr("INTERVAL 7 DAYS"), "left")
    val byPurchase =
      org.apache.spark.sql.expressions.Window.partitionBy($"purchase_id")
    val touchOrder = byPurchase.orderBy($"v_ts", $"view_id")
    j.withColumn("n", count($"view_id").over(byPurchase))
      .withColumn("touch_rank", row_number().over(touchOrder))
      .select($"purchase_id", $"user_id",
        coalesce($"view_id", lit(-1L)).as("view_id"),
        when($"view_id".isNull, lit(1000000L))
          .otherwise(expr("1000000 div n") +
            when($"touch_rank" === 1, expr("1000000 % n")).otherwise(lit(0L)))
          .as("weight_ppm"))
  }

  /** `j16_ushape_attribution`: position-based (U-shaped) multi-touch
    * attribution — 40% of each purchase's credit to the FIRST view in
    * the 7-day lookback, 40% to the LAST, the remaining 20% split
    * across the middle touches; the industry-standard complement to
    * [[linearAttribution]] (equal split) and [[asofAttribution]]
    * (last-touch-takes-all).
    *
    * Weights are exact ppm integers with a deterministic remainder
    * rule, so every purchase sums to exactly 1,000,000:
    *   n = 1 → 1,000,000; n = 2 → 500,000 each;
    *   n ≥ 3 → first/last 400,000, middles 200,000 div (n−2) with the
    *   division remainder on the EARLIEST middle (rank 2).
    * A purchase with no views keeps its mass on view_id −1.
    *
    * Plan: the same user-keyed range join as [[linearAttribution]];
    * count + rank share ONE purchase-keyed window exchange (per-group
    * size bounded by views-per-user-week, no skew blowup).
    */
  def ushapeAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("p_ts"))
    val v = e.filter($"event_type" === "view")
      .select($"event_id".as("view_id"), $"user_id".as("v_user"),
        $"ts".as("v_ts"))
    val j = p.join(v,
      $"user_id" === $"v_user" && $"v_ts" < $"p_ts" &&
        $"v_ts" >= $"p_ts" - expr("INTERVAL 7 DAYS"), "left")
    val byPurchase =
      org.apache.spark.sql.expressions.Window.partitionBy($"purchase_id")
    val touchOrder = byPurchase.orderBy($"v_ts", $"view_id")
    j.withColumn("n", count($"view_id").over(byPurchase))
      .withColumn("touch_rank", row_number().over(touchOrder))
      .select($"purchase_id", $"user_id",
        coalesce($"view_id", lit(-1L)).as("view_id"),
        when($"view_id".isNull, lit(1000000L))
          .when($"n" === 1L, lit(1000000L))
          .when($"n" === 2L, lit(500000L))
          .when($"touch_rank" === 1L || $"touch_rank" === $"n", lit(400000L))
          .otherwise(expr("200000 div (n - 2)") +
            when($"touch_rank" === 2L, expr("200000 % (n - 2)"))
              .otherwise(lit(0L)))
          .as("weight_ppm"))
  }

  /** J10: Bloom-prefiltered fact join — the explicit runtime-filter
    * pattern (see [[org.apache.spark.sql.graftexpr.GraftBloom]]).
    * Revenue of lineitems belonging to URGENT orders, by order month:
    * the filtered orders' keys aggregate into one ~32 KB bloom blob
    * which broadcasts to the lineitem scan, where the codegen'd
    * `bloom_might_contain` probe drops ~4/5 of the fact rows BEFORE the
    * join's shuffle. No false negatives → the exact join afterwards
    * makes the result identical to the plain join (the oracle); false
    * positives (~1-2% at these sizings) only ship extra bytes.
    *
    * Sizing: 2^18 bits / 6 hashes ≈ 1% fpp up to ~30k keys (bits/n ≥ 9).
    * A deployment sizes numBits to the small side's key cardinality
    * (~10 bits/key for 1% fpp) — the blob stays kilobytes-to-megabytes
    * while the savings scale with the FACT side.
    *
    * The blob binds to the probe as a SCALAR SUBQUERY (evaluated once,
    * inlined as a constant — see [[GraftBloom.mightContainScalar]]), NOT
    * by joining the blob row onto the fact table: a joined blob is
    * re-copied out of every probed row's UnsafeRow, which costs more
    * than the shuffle the prefilter saves.
    */
  def bloomPrefilterJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftexpr.GraftBloom
    val urgent = orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
    val bloom = urgent.agg(
      GraftBloom.build($"o_orderkey", numBits = 1 << 18, numHashes = 6).as("__bloom"))
    val li = lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    val prefiltered = li
      .filter(GraftBloom.mightContainScalar(bloom, $"l_orderkey"))
    prefiltered
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("order_month"))
      .agg(
        sum($"l_extendedprice".cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - $"l_discount".cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
  }

  /** Keyless range join (interval stabbing) via time BINNING — the
    * scale-out plan for "point falls inside interval" predicates with no
    * equi key. Catalyst can only plan a pure range predicate as a
    * nested-loop/cartesian join — O(|intervals|·|points|), which is the
    * canonical 100 TB cliff. Binning converts it to an equi join:
    * intervals explode into the fixed-width time bins they overlap
    * (≤ ceil(span/width)+1 rows each), points map to their single bin,
    * the join runs hash-partitioned on the bin key, and the exact
    * range predicate re-checks each candidate. Each (interval, point)
    * pair meets in exactly one bin — the point's — so no dedup is
    * needed. Bin width tunes fan-out vs selectivity: ~the typical
    * interval span is the usual sweet spot (≤2 bins per interval).
    *
    * Output columns = interval columns ++ point columns (callers
    * disambiguate names beforehand).
    */
  def rangeBinJoin(intervals: DataFrame, lo: String, hi: String,
      points: DataFrame, pt: String, binSeconds: Long): DataFrame = {
    require(binSeconds > 0, s"binSeconds must be positive, got $binSeconds")
    def bin(c: Column): Column = floor(unix_timestamp(c) / binSeconds).cast("long")
    val iv = intervals.withColumn("__bin",
      explode(sequence(bin(col(lo)), bin(col(hi)))))
    val pts = points.withColumn("__bin", bin(col(pt)))
    iv.join(pts, "__bin")
      .filter(col(pt) >= col(lo) && col(pt) <= col(hi))
      .drop("__bin")
  }

  /** J11: shipments observed within a week of each order's date — a
    * keyless interval-stabbing query over [[rangeBinJoin]] (every
    * lineitem ship date in the market, not just the order's own lines,
    * so there is genuinely no join key). 7-day bins match the 7-day
    * window: each interval explodes into exactly 2 bins.
    *
    * AGGREGATE PUSHDOWN below the range join: the per-interval count
    * distributes over the stab, so the 600k ship events collapse to
    * ~2.5k (distinct timestamp, weight) rows BEFORE joining and the
    * exact count is recovered as a weighted sum. The join's
    * intermediate shrinks from |intervals|·|points-in-range| (~260M
    * pairs at sf0.1 — measured 49 s) to |intervals|·|distinct
    * stamps-in-range| (~1.2M — sub-second), and at 100 TB it is the
    * difference between an intermediate that dwarfs the fact table and
    * one keyed by the time-domain cardinality.
    */
  def rangeJoinShipments(spark: SparkSession, dir: String): DataFrame = {
    val iv = orders(spark, dir).select(
      $"o_orderkey",
      $"o_orderdate".as("win_lo"),
      ($"o_orderdate" + expr("INTERVAL 7 DAYS")).as("win_hi"))
    // The aggregated points side is keyed by the TIME DOMAIN, not the
    // data volume — distinct ship dates stay ~2.5k from sf0.1 to sf1
    // (measured) and grow only with calendar span at 100 TB, so it is
    // broadcast-safe the way nation/region are. Hinting it removes the
    // shuffle of the exploded interval side entirely (intervals scale
    // with the fact table; un-hinted, both sides exchanged on __bin).
    val pts = broadcast(lineitem(spark, dir)
      .groupBy($"l_shipdate").agg(count(lit(1)).as("w")))
    rangeBinJoin(iv, "win_lo", "win_hi", pts, "l_shipdate", 7L * 86400)
      .groupBy($"o_orderkey")
      .agg(sum($"w").as("n_shipments"))
  }

  /** Union of two homogeneous branches with provenance tags (reference
    * UserJumpDetailApp.java:115 unions match + timeout streams).
    */
  def taggedUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val high = e.filter($"value" >= 150.0)
      .select($"event_id", lit("high").as("tag"))
    val errs = e.filter($"event_type" === "error" && $"value" < 150.0)
      .select($"event_id", lit("error").as("tag"))
    high.union(errs)
  }

  /** Blocked fuzzy join (record linkage): near-identical part names
    * paired by edit distance, with a blocking key so the quadratic
    * scoring never touches the full corpus.
    *
    * The scalable shape is CANONICALIZE → BLOCK → SCORE: the scaling
    * table first collapses to its distinct key strings (name,
    * occurrence-count) — bounded by the vocabulary, not the row count —
    * then candidate pairs form only WITHIN a block (here the head noun,
    * i.e. the last name token) via an equi-join, and the codegen'd
    * `levenshtein` scores block-local pairs only. An unblocked
    * theta-join on edit distance would be a nested-loop cross product;
    * blocked, the pair count is Σ|block|², bounded by vocabulary
    * structure. Both join inputs are aggregation outputs, so AQE
    * broadcasts the build side while it fits and degrades to a hash
    * join when it doesn't.
    *
    * Skew caveat for real name corpora: a heavy block (a very common
    * head noun / surname) makes its |block|² term dominate. The
    * production refinements compose from operators already here —
    * AQE's skew-join split handles moderate skew on the shuffled form,
    * and a second blocking key (e.g. a length band or first-letter
    * split, the multi-pass blocking standard in record linkage) caps
    * the worst block at the cost of missing pairs that straddle bands.
    */
  def fuzzyBlockedJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = part(spark, dir)
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", element_at(split($"p_name", " "), -1))
    val a = names.select($"p_name".as("a_name"), $"n_parts".as("a_parts"), $"blk")
    val b = names.select($"p_name".as("b_name"), $"n_parts".as("b_parts"), $"blk")
    a.join(b, "blk")
      .where($"a_name" < $"b_name")
      .withColumn("dist", levenshtein($"a_name", $"b_name").cast("long"))
      .where($"dist" <= 3)
      .select($"a_name", $"b_name", $"dist", $"a_parts", $"b_parts")
  }
}
