package graft

import org.apache.spark.sql.functions.col
import graft.QuerySpec._
import graft.operators._

/** The gmall-surface operators (SURVEY.md §2) as oracle-checked queries,
  * one [[QuerySpec]] each (the oracle parity conventions are documented
  * there).
  */
object GmallRegistry {
  // the window form and the native as-of exec implement one contract
  // (strict lexicographic (ts, event_id) predecessor), and the SQL marker
  // form compiles to the same AsOfJoinExec, so all three share one oracle
  private val asofOracle =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, ts,
      |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
      |  FROM events WHERE event_type IN ('view', 'purchase')),
      |w AS (SELECT event_id, user_id, event_type,
      |    last_value(view_id IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
      |  FROM e)
      |SELECT event_id AS purchase_id, user_id,
      |  coalesce(last_view_id, -1) AS attributed_view_id
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin

  // shared by j2_config_route and j9_salted_skew_join
  private val routeOracle =
    """SELECT e.event_id, cfg.sink_type, cfg.sink_table AS topic
      |FROM events e
      |JOIN (VALUES ('click','kafka','dwd_click'), ('view','kafka','dwd_view'),
      |             ('purchase','hbase','dim_purchase'), ('signup','hbase','dim_signup'))
      |  AS cfg(source_type, sink_type, sink_table)
      |  ON e.event_type = cfg.source_type
      |ORDER BY e.event_id""".stripMargin

  // shared by j11_range_join and j11_range_sql
  private val rangeJoinOracle =
    """SELECT o.o_orderkey, count(*) AS n_shipments
      |FROM orders o JOIN lineitem l
      |  ON l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 7 DAY
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // shared by dws_keyword_count and dws_keyword_count_udtf
  private val keywordCountOracle =
    """SELECT word, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents) t
      |WHERE length(word) > 0 GROUP BY 1 ORDER BY n DESC, word""".stripMargin

  // shared by topk_orders and topk_orders_agg
  private val topkOrdersOracle =
    """SELECT o_orderkey AS orderkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
      |FROM orders ORDER BY totalprice DESC, orderkey LIMIT 100""".stripMargin

  // shared by retention_cohorts and retention_bitmap
  private val retentionOracle =
    """WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |cohort AS (SELECT user_id, min(d) AS c0 FROM byday GROUP BY 1),
      |sizes AS (SELECT c0, count(*) AS cohort_users FROM cohort GROUP BY 1),
      |cells AS (SELECT c.c0, CAST(datediff('day', c.c0, b.d) AS BIGINT) AS day_offset,
      |    count(*) AS users
      |  FROM byday b JOIN cohort c ON c.user_id = b.user_id GROUP BY 1, 2)
      |SELECT strftime(x.c0, '%Y-%m-%d') AS cohort, x.day_offset, x.users,
      |  CAST(x.users AS DOUBLE) / CAST(s.cohort_users AS DOUBLE) AS retained_share
      |FROM cells x JOIN sizes s ON s.c0 = x.c0""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // same unscaled-long money math as the operator: decimal(18,2) cast
    // fixes the rounding, ×100/×10000 and the one division are exact in
    // both engines (sums stay far below 2^53 at test SF)
    QuerySpec("q1_pricing_summary", RelationalOps.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |           (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      asc("l_returnflag", "l_linestatus")),
    QuerySpec("j1_interval_join", RelationalOps.intervalJoin,
      """SELECT l.l_orderkey AS orderkey, CAST(l.l_linenumber AS BIGINT) AS linenumber,
        |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  o.o_orderstatus AS orderstatus
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  AND l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
        |ORDER BY orderkey, linenumber""".stripMargin,
      asc("orderkey", "linenumber")),
    QuerySpec("j12_interval_left", RelationalOps.intervalJoinLeft,
      """SELECT l.l_orderkey AS orderkey, CAST(l.l_linenumber AS BIGINT) AS linenumber,
        |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  o.o_orderstatus AS orderstatus
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  AND l.l_shipdate >= o.o_orderdate
        |  AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
        |ORDER BY orderkey, linenumber""".stripMargin,
      asc("orderkey", "linenumber")),
    QuerySpec("j3_dim_enrich", RelationalOps.dimEnrich,
      """SELECT o.o_orderkey AS orderkey, c.c_name AS cust_name,
        |  n.n_name AS nation_name, r.r_name AS region_name
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    QuerySpec("j4_order_wide", RelationalOps.orderWide,
      """SELECT l.l_orderkey AS orderkey, CAST(l.l_linenumber AS BIGINT) AS linenumber,
        |  CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  o.o_orderpriority AS orderpriority, p.p_brand AS brand, s.s_name AS supp_name,
        |  c.c_mktsegment AS mktsegment, n.n_name AS cust_nation
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY orderkey, linenumber""".stripMargin,
      asc("orderkey", "linenumber")),
    QuerySpec("p11_coalesce_merge", RelationalOps.coalesceMerge,
      """WITH per_cust AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(c.c_custkey, p.o_custkey) AS custkey,
        |  coalesce(c.c_name, 'unknown') AS name,
        |  coalesce(p.n_orders, 0) AS n_orders,
        |  CAST(coalesce(p.total_spent, 0) AS DOUBLE) AS total_spent
        |FROM customer c FULL OUTER JOIN per_cust p ON c.c_custkey = p.o_custkey
        |ORDER BY custkey""".stripMargin,
      asc("custkey")),
    // cross-multiplied comparison keeps the boundary in exact DECIMAL
    QuerySpec("q5_above_avg", RelationalOps.aboveCustomerAverage,
      """WITH a AS (SELECT o_custkey AS agg_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_sum,
        |    count(*) AS spend_cnt
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice
        |FROM orders o JOIN a ON o.o_custkey = a.agg_custkey
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * spend_cnt > spend_sum
        |ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    QuerySpec("q6_cheapest_supplier", RelationalOps.cheapestSupplier,
      """WITH l AS (SELECT l_partkey, l_suppkey,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price FROM lineitem),
        |m AS (SELECT l_partkey AS mp, min(price) AS min_price FROM l GROUP BY 1)
        |SELECT l.l_partkey AS partkey, min(l.l_suppkey) AS suppkey,
        |  CAST(any_value(m.min_price) AS DOUBLE) AS min_price
        |FROM l JOIN m ON l.l_partkey = m.mp AND l.price = m.min_price
        |GROUP BY 1 ORDER BY partkey""".stripMargin,
      asc("partkey")),
    // eps is referenced once; the per-part min replays as a window min
    // (QUALIFY-style) so the expensive CTE is not re-evaluated under
    // DuckDB's CTE inlining — values identical to the engine's
    // aggregate-and-join decorrelation (both exact DECIMAL)
    QuerySpec("q2_min_cost_region", RelationalOps.minCostRegionSupplier,
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eu AS (SELECT s_suppkey, s_name, s_acctbal, n.n_name
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE'),
        |eps AS (SELECT ps.l_partkey, ps.cost, eu.s_name, eu.s_acctbal, eu.n_name,
        |    min(ps.cost) OVER (PARTITION BY ps.l_partkey) AS min_cost
        |  FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey)
        |SELECT e.s_acctbal, e.s_name AS supp_name, e.n_name AS nation_name,
        |  e.l_partkey AS partkey, p.p_brand AS brand,
        |  CAST(e.cost AS DOUBLE) AS supply_cost
        |FROM eps e JOIN part p ON e.l_partkey = p.p_partkey
        |WHERE e.cost = e.min_cost AND p.p_type = 'ECONOMY'
        |ORDER BY partkey, supp_name""".stripMargin,
      asc("partkey", "supp_name")),
    QuerySpec("q7_nation_revenue", RelationalOps.nationRevenue,
      """SELECT r.r_name AS region_name, n.n_name AS nation_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      asc("region_name", "nation_name")),
    QuerySpec("j5_semi_join", RelationalOps.semiJoin,
      """SELECT c_custkey AS custkey, c_name AS name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY custkey""".stripMargin,
      asc("custkey")),
    QuerySpec("j6_anti_join", RelationalOps.antiJoin,
      """SELECT c_custkey AS custkey, c_name AS name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY custkey""".stripMargin,
      asc("custkey")),
    QuerySpec("j7_asof_attribution", RelationalOps.asofAttribution,
      asofOracle, asc("purchase_id")),
    QuerySpec("j8_asof_native", RelationalOps.asofAttributionNative,
      asofOracle, asc("purchase_id")),
    QuerySpec("j8_asof_sql", RelationalOps.asofAttributionSql,
      asofOracle, asc("purchase_id")),
    // composed conjuncts: the date equality is an extra as-of key ->
    // window partition additionally by calendar day; the value floor
    // pre-filters the view side
    QuerySpec("j8_asof_sql_conj", RelationalOps.asofAttributionSqlConj,
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events
        |  WHERE event_type = 'purchase'
        |     OR (event_type = 'view' AND value >= 0.2)),
        |w AS (SELECT event_id, user_id, event_type,
        |    last_value(view_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id,
        |  coalesce(last_view_id, -1) AS attributed_view_id
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
      asc("purchase_id")),
    // inner flavor: purchases without a prior view DROP (no coalesce row)
    QuerySpec("j8_asof_sql_inner", RelationalOps.asofAttributionSqlInner,
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |w AS (SELECT event_id, user_id, event_type,
        |    last_value(view_id IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_id
        |  FROM e)
        |SELECT event_id AS purchase_id, user_id,
        |  last_view_id AS attributed_view_id
        |FROM w WHERE event_type = 'purchase' AND last_view_id IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,
      asc("purchase_id")),
    QuerySpec("u1_tagged_union", RelationalOps.taggedUnion,
      """SELECT event_id, 'high' AS tag FROM events WHERE value >= 150.0
        |UNION ALL
        |SELECT event_id, 'error' AS tag FROM events WHERE event_type = 'error' AND value < 150.0
        |ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("p1_json_parse", EventOps.jsonParse,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.k') IS NOT NULL AS clean
        |FROM events ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("p6_datetime_derive", EventOps.datetimeDerive,
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS dt,
        |  CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec
        |FROM events ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("st1_is_new_fix", EventOps.isNewFix,
      """SELECT event_id, user_id,
        |  CAST(CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS is_new
        |FROM events ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("st2_daily_uv", EventOps.dailyUniqueVisitors,
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt,
        |  min(event_id) AS first_event_id, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY user_id, dt""".stripMargin,
      asc("user_id", "dt")),
    QuerySpec("st3_bounce_detect", EventOps.bounceDetect,
      """WITH w AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS prev_sec,
        |    CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS next_sec
        |  FROM events)
        |SELECT event_id, user_id FROM w
        |WHERE (prev_sec IS NULL OR sec - prev_sec > 1800)
        |  AND (next_sec IS NULL OR next_sec - sec > 600)
        |ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("x1_log_split", EventOps.logSplit,
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_id, 'start' AS branch, CAST(NULL AS BIGINT) AS item, CAST(NULL AS VARCHAR) AS page_id
        |  FROM e WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, 'page', NULL, NULL FROM e WHERE event_type <> 'signup'
        |UNION ALL
        |SELECT event_id, 'display', unnest(range(1, k % 4 + 1)), event_type
        |  FROM e WHERE event_type <> 'signup'
        |ORDER BY event_id, branch, item""".stripMargin,
      asc("event_id", "branch", "item")),
    QuerySpec("s4_cdc_normalize", EventOps.cdcNormalize,
      """SELECT 'gmall2021' AS database, 'order_info' AS tableName,
        |  o_orderkey AS id,
        |  CASE WHEN o_orderstatus = 'O' THEN 'insert' ELSE 'update' END AS type
        |FROM orders WHERE o_orderstatus IN ('O', 'F')
        |ORDER BY id""".stripMargin,
      asc("id")),
    QuerySpec("dim_scd2_history", EventOps.scd2History,
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS attr,
        |  epoch_us(ts) AS valid_from,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |    AS valid_to,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
        |    AS is_current,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS version
        |FROM c ORDER BY user_id, version""".stripMargin,
      asc("user_id", "version")),
    // PIT probe against the same history CTE chain as dim_scd2_history
    QuerySpec("j13_scd2_pit", EventOps.scd2PointInTime,
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |c AS (SELECT user_id, ts, event_id, event_type FROM o
        |  WHERE prev_type IS NULL OR prev_type <> event_type),
        |hist AS (SELECT user_id, event_type AS attr,
        |  epoch_us(ts) AS valid_from,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |    AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS BIGINT) AS version
        |FROM c),
        |probes AS (SELECT event_id, user_id AS p_user,
        |    epoch_us(ts) + 30000000 AS at_us
        |  FROM events WHERE event_id % 37 = 0)
        |SELECT event_id, p_user AS user_id, at_us,
        |  h.attr AS attr_at, h.version AS version_at
        |FROM probes p JOIN hist h
        |  ON p.p_user = h.user_id AND p.at_us >= h.valid_from
        |  AND (h.valid_to IS NULL OR p.at_us < h.valid_to)
        |ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("j2_config_route", EventOps.configRoute, routeOracle, asc("event_id")),
    // the salted two-phase join must produce exactly the unsalted answer
    QuerySpec("j9_salted_skew_join", EventOps.saltedRoute, routeOracle, asc("event_id")),
    // MG candidates + exact recheck make the approximate scan exact:
    // the oracle is the plain GROUP BY ... HAVING over the same share
    QuerySpec("skew_heavy_hitters", EventOps.heavyHitterScan,
      """WITH keyed AS (
        |  SELECT 10000 // ((event_id % 10000) + 1) AS hh_key FROM events),
        |tot AS (SELECT count(*) AS n FROM keyed)
        |SELECT hh_key, count(*) AS cnt
        |FROM keyed, tot
        |GROUP BY hh_key, n
        |HAVING count(*) >= (n * 22 + 999) // 1000
        |ORDER BY hh_key""".stripMargin,
      asc("hh_key")),
    // the bloom prefilter is transparent (no false negatives + exact
    // join after), so the oracle is the PLAIN join
    QuerySpec("j10_bloom_prefilter", RelationalOps.bloomPrefilterJoin,
      """SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS line_count
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("order_month")),
    // the binned range join is exact (bin candidate ⊇ matches, exact
    // predicate re-checked), so the oracle is the naive theta join
    QuerySpec("j11_range_join", RelationalOps.rangeJoinShipments,
      rangeJoinOracle, asc("o_orderkey")),
    // the SQL marker form rewrites to the same binned equi join — same oracle
    QuerySpec("j11_range_sql", RelationalOps.rangeJoinShipmentsSql,
      rangeJoinOracle, asc("o_orderkey")),
    // same unscaled-long money math as the operators; shares are single
    // divisions of exact longs
    QuerySpec("q14_promo_share", AnalyticsOps.promoRevenue,
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |         (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    ELSE 0 END) AS BIGINT) / 10000.0 AS promo_revenue,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |       (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) / 10000.0 AS total_revenue,
        |  CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |         (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS DOUBLE) /
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |       (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS DOUBLE) AS promo_share,
        |  count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("ship_month")),
    // a single global-aggregate row: no order is needed, but the
    // entry keeps the one-protocol-path invariant
    QuerySpec("q19_disjunctive", AnalyticsOps.disjunctiveRevenue,
      """SELECT
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |       (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
        |  count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
      asc("line_count")),
    QuerySpec("q4_order_priority", AnalyticsOps.orderPriorityCensus,
      """SELECT o_orderpriority AS priority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("priority")),
    QuerySpec("q13_cust_distribution", AnalyticsOps.customerOrderDistribution,
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
      By(col("custdist").desc, col("c_count").desc)),
    // decorrelated exactly as the operator: per-part (sum, cnt) over ALL
    // lines; the 20%-of-avg comparison cross-multiplied into DECIMAL
    QuerySpec("q17_small_qty_revenue", AnalyticsOps.smallQuantityRevenue,
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') ON l_partkey = p_partkey
        |JOIN (SELECT l_partkey AS ap, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_sum,
        |        count(*) AS qty_cnt
        |      FROM lineitem GROUP BY 1) ON l_partkey = ap
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * qty_cnt * 5 < qty_sum""".stripMargin,
      asc("n_lines")),
    QuerySpec("q18_large_orders", AnalyticsOps.largeVolumeOrders,
      """SELECT c_name AS cust_name, o_custkey AS custkey, o_orderkey AS orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
        |  CAST(total_qty AS DOUBLE) AS total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey AS bk, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200) ON o_orderkey = bk
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    QuerySpec("q22_idle_customers", AnalyticsOps.idleRichCustomers,
      """SELECT c_mktsegment AS segment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer,
        |  (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum, count(*) AS bal_cnt
        |   FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0)
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_cnt > bal_sum
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("segment")),
    // Morton interleave recomputed in pure SQL from the SAME mask
    // constants (ZOrder.sqlZValue2) — per-row value parity for the
    // layout expression
    QuerySpec("layout_zvalue", Bucketing.zValueIndex,
      s"""SELECT l_orderkey AS orderkey, CAST(l_linenumber AS BIGINT) AS linenumber,
         |  l_partkey AS partkey, l_suppkey AS suppkey,
         |  ${org.apache.spark.sql.graftexpr.ZOrder.sqlZValue2("l_partkey", "l_suppkey")} AS z
         |FROM lineitem ORDER BY orderkey, linenumber""".stripMargin,
      asc("orderkey", "linenumber")),
    // zone-map replay: same integer shard/box arithmetic (// ≡ div),
    // same Morton masks; every scan count value-checked
    QuerySpec("layout_zonemap_prune", Bucketing.zoneMapPrune, {
      import graft.operators.Bucketing.{ZmShards, ZmPctLo, ZmPctHi, ZmNormCap}
      def norm(c: String, lo: String, hi: String) =
        s"(CASE WHEN b.$hi = b.$lo THEN CAST(0 AS BIGINT) ELSE (($c - b.$lo) * $ZmNormCap) // (b.$hi - b.$lo) END)"
      val z = org.apache.spark.sql.graftexpr.ZOrder.sqlZValue2(
        norm("pk", "pk_min", "pk_max"), norm("sk", "sk_min", "sk_max"))
      val zDen = (ZmNormCap + 1) * (ZmNormCap + 1)
      def lay(name: String, shard: String) =
        s"""SELECT '$name' AS layout, CAST(count(*) AS BIGINT) AS n_shards,
           |  CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT) AS shards_scanned,
           |  CAST(sum(n_rows) AS BIGINT) AS rows_total,
           |  CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
           |  CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS DOUBLE) /
           |    CAST(sum(n_rows) AS DOUBLE) AS scan_fraction
           |FROM (SELECT zn.*, (zpk_min <= p.p_hi AND zpk_max >= p.p_lo AND
           |    zsk_min <= p.s_hi AND zsk_max >= p.s_lo) AS scanned
           |  FROM (SELECT $shard AS shard,
           |      min(pk) AS zpk_min, max(pk) AS zpk_max,
           |      min(sk) AS zsk_min, max(sk) AS zsk_max, count(*) AS n_rows
           |    FROM base, b GROUP BY 1) zn, p)""".stripMargin
      s"""WITH raw AS (SELECT l_partkey AS pk, l_suppkey AS sk FROM lineitem),
         |b AS (SELECT min(pk) AS pk_min, max(pk) AS pk_max, min(sk) AS sk_min,
         |  max(sk) AS sk_max FROM raw),
         |base AS (SELECT pk, sk, $z AS z FROM raw, b),
         |p AS (SELECT pk_min + ((pk_max - pk_min) * $ZmPctLo) // 100 AS p_lo,
         |  pk_min + ((pk_max - pk_min) * $ZmPctHi) // 100 AS p_hi,
         |  sk_min + ((sk_max - sk_min) * $ZmPctLo) // 100 AS s_lo,
         |  sk_min + ((sk_max - sk_min) * $ZmPctHi) // 100 AS s_hi FROM b)
         |${lay("linear_partkey",
              s"CASE WHEN b.pk_max = b.pk_min THEN CAST(0 AS BIGINT) ELSE ((pk - b.pk_min) * $ZmShards) // (b.pk_max - b.pk_min + 1) END")}
         |UNION ALL
         |${lay("zorder_pk_sk", s"(z * $ZmShards) // $zDen")}
         |ORDER BY layout""".stripMargin
    },
      asc("layout")),
    QuerySpec("q10_returned_items", AnalyticsOps.returnedItemRevenue,
      """SELECT c_custkey AS custkey, c_name AS cust_name,
        |  c_mktsegment AS mktsegment, n_name AS nation_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, custkey LIMIT 20""".stripMargin,
      Semantic),
    // Sums CAST to BIGINT like every sibling oracle: DuckDB's
    // sum(int) yields HUGEINT while Spark emits BIGINT, which
    // hash-mismatches at the driver even when values are identical.
    // (Canonical TPC-H Q12 can't run here: the synthetic lineitem has
    // no l_shipmode / l_commitdate / l_receiptdate columns, so the
    // Q12 *shape* — CASE-inside-SUM priority split over the join — is
    // kept on the columns that exist.)
    QuerySpec("q12_shipmode_priority", AnalyticsOps.shipmodePriority,
      """SELECT l_shipdate >= o_orderdate AS shipped_after_order,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("shipped_after_order")),
    // same unscaled-long revenue units as q14; the winner filter is a
    // scalar-max subquery over the same supplier-sized aggregate
    QuerySpec("q15_top_supplier", AnalyticsOps.topSupplierRevenue,
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |         (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS rev_u
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_u / 10000.0 AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE rev_u = (SELECT max(rev_u) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
      asc("s_suppkey")),
    QuerySpec("q16_supplier_variety", AnalyticsOps.partSupplierVariety,
      """SELECT p_brand AS brand, p_type AS type, CAST(p_size AS BIGINT) AS size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4'
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE CAST(s_acctbal AS DECIMAL(18,2)) < 0)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      asc("brand", "type", "size")),
    // CORRELATED formulation on purpose: the Spark side runs the
    // decorrelated one-aggregate form, so a hash match here is a
    // cross-form equivalence proof
    QuerySpec("q21_waiting_suppliers", AnalyticsOps.waitingSuppliers,
      """SELECT s_name AS supp_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        |    AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
        |    AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("supp_name")),
    // salting is an execution-layout change, not a semantic one: the
    // oracle is the plain unsalted GROUP BY
    QuerySpec("agg_salted_sum", EventOps.saltedTypeTotals,
      """SELECT event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("event_type")),
    QuerySpec("x2_cdc_route", EventOps.cdcRoute,
      """WITH cdc AS (
        |  SELECT o_orderkey AS id,
        |    CASE WHEN o_orderstatus = 'O' THEN 'insert' ELSE 'update' END AS type,
        |    o_orderkey::VARCHAR AS v_id, o_custkey::VARCHAR AS v_user,
        |    (o_totalprice::DECIMAL(18,2))::VARCHAR AS v_amt
        |  FROM orders WHERE o_orderstatus IN ('O', 'F'))
        |SELECT id, 'kafka' AS sink_type, 'dwd_order_info' AS topic,
        |  CAST(json_object('id', v_id, 'user_id', v_user, 'total_amount', v_amt) AS VARCHAR) AS value
        |FROM cdc WHERE type = 'insert'
        |UNION ALL
        |SELECT id, 'hbase', 'dim_order_info',
        |  CAST(json_object('id', v_id, 'total_amount', v_amt) AS VARCHAR)
        |FROM cdc WHERE type = 'update'
        |ORDER BY id""".stripMargin,
      asc("id")),
    QuerySpec("p4_dynamic_prune", (s, d) => EventOps.dynamicPrune(s, d),
      "SELECT event_id, event_type, user_id FROM events ORDER BY event_id",
      asc("event_id")),
    QuerySpec("k2_dynamic_topic", EventOps.dynamicTopic,
      """SELECT event_id, 'dwd_' || event_type AS topic,
        |  CAST(to_json(struct_pack(event_id := event_id, event_type := event_type, user_id := user_id)) AS VARCHAR) AS value
        |FROM events ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("dws_tumbling", WindowOps.tumbling,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      asc("window_start", "event_type")),
    // the implied DWS visitor table: hour strings formatted from raw
    // NTZ timestamps on both engines; sessions via the shared gap rule
    QuerySpec("dws_visitor_stats", WindowOps.visitorStats,
      s"""WITH e0 AS (SELECT user_id, event_id, event_type, ts,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start
         |  FROM events),
         |hourly AS (SELECT window_start,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pv,
         |    count(*) AS n_events FROM e0 GROUP BY 1),
         |u AS (SELECT window_start, count(*) AS uv FROM
         |  (SELECT DISTINCT window_start, user_id FROM e0) d GROUP BY 1),
         |lagd AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
         |    ORDER BY sec, event_id) AS prev_sec FROM e0),
         |st AS (SELECT *, CAST(sum(CASE WHEN prev_sec IS NULL
         |      OR sec - prev_sec > ${graft.operators.AnalyticsOps.SessionGapSec}
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY sec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
         |  FROM lagd),
         |sess AS (SELECT user_id, session_no, min(ts) AS t0,
         |    max(sec) - min(sec) AS dur FROM st GROUP BY 1, 2),
         |sv AS (SELECT strftime(date_trunc('hour', t0), '%Y-%m-%d %H:%M:%S') AS window_start,
         |    count(*) AS sv, CAST(sum(dur) AS BIGINT) AS dur_sec FROM sess GROUP BY 1)
         |SELECT h.window_start, h.pv, h.n_events, u.uv,
         |  CAST(coalesce(s.sv, 0) AS BIGINT) AS sv,
         |  CAST(coalesce(s.dur_sec, 0) AS BIGINT) AS dur_sec
         |FROM hourly h JOIN u USING (window_start)
         |LEFT JOIN sv s USING (window_start)
         |ORDER BY window_start""".stripMargin,
      asc("window_start")),
    QuerySpec("dws_sliding", WindowOps.sliding,
      """WITH s AS (
        |  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS s0 FROM events),
        |w AS (SELECT unnest([s0, s0 - INTERVAL 30 MINUTE]) AS ws FROM s)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("window_start")),
    QuerySpec("dws_uv_per_hour", WindowOps.uvPerHour,
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(DISTINCT user_id) AS uv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("window_start")),
    // sketch-oracle pattern: the checked output is the GUARANTEE
    // (exact value + bound satisfied), never the estimate itself
    QuerySpec("dws_uv_per_hour_approx", (s, d) => WindowOps.uvPerHourApprox(s, d),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(DISTINCT user_id) AS uv_exact, TRUE AS within_bounds
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("window_start")),
    QuerySpec("dws_uv_sketch_rollup", (s, d) => WindowOps.uvSketchRollup(s, d),
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS uv_exact, TRUE AS within_bounds
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("day")),
    // the bitmap rollup is EXACT, so the oracle is the plain distinct
    // count — no tolerance column, unlike the sketch twins above
    QuerySpec("dws_uv_bitmap_rollup", WindowOps.uvBitmapRollup,
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  count(DISTINCT user_id) AS uv,
        |  count(DISTINCT strftime(ts, '%Y-%m-%d %H')) AS n_hours
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("day")),
    QuerySpec("bitmap_segment_overlap", AnalyticsOps.bitmapSegmentOverlap,
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS card_inter
        |  FROM s a JOIN s b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, ca.n AS card_a, cb.n AS card_b, card_inter,
        |  CAST(ca.n + cb.n - card_inter AS BIGINT) AS card_union,
        |  CAST(card_inter AS DOUBLE) /
        |    CAST(ca.n + cb.n - card_inter AS DOUBLE) AS jaccard
        |FROM i
        |JOIN c ca ON i.type_a = ca.event_type
        |JOIN c cb ON i.type_b = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
      asc("type_a", "type_b")),
    QuerySpec("dws_keyword_count", WindowOps.keywordCount,
      keywordCountOracle, By(col("n").desc, col("word"))),
    QuerySpec("dws_keyword_count_udtf", WindowOps.keywordCountUdtf,
      keywordCountOracle, By(col("n").desc, col("word"))),
    QuerySpec("agg_rollup", AnalyticsOps.rollupSummary,
      """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
      asc("returnflag", "linestatus")),
    QuerySpec("agg_cube", AnalyticsOps.cubeEvents,
      """SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS etype,
        |  CASE WHEN GROUPING(dt) = 1 THEN 'ALL' ELSE dt END AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS dt, value FROM events) t
        |GROUP BY CUBE (event_type, dt)
        |ORDER BY etype, day""".stripMargin,
      asc("etype", "day")),
    QuerySpec("agg_grouping_sets", AnalyticsOps.groupingSets,
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY returnflag, linestatus""".stripMargin,
      asc("returnflag", "linestatus")),
    QuerySpec("agg_pivot", AnalyticsOps.pivotStatusCounts,
      """SELECT o_orderpriority AS priority,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("priority")),
    QuerySpec("agg_unpivot", AnalyticsOps.unpivotStatusCounts,
      """WITH p AS (SELECT o_orderpriority AS priority,
        |    count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
        |    count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
        |    count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
        |  FROM orders GROUP BY 1)
        |SELECT priority, 'n_open' AS status_bucket, n_open AS n FROM p
        |UNION ALL
        |SELECT priority, 'n_filled', n_filled FROM p
        |UNION ALL
        |SELECT priority, 'n_pending', n_pending FROM p
        |ORDER BY priority, status_bucket""".stripMargin,
      asc("priority", "status_bucket")),
    QuerySpec("agg_median", AnalyticsOps.medianValueByType,
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events)
        |SELECT event_type, avg(value) AS median_value,
        |  CAST(any_value(cnt) AS BIGINT) AS n
        |FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      asc("event_type")),
    // the t-digest estimate is engine-specific; what IS exact is its rank
    // guarantee, so the checked output is the per-(group, p) bound verdict
    QuerySpec("agg_percentile_approx", AnalyticsOps.percentileApprox,
      s"""SELECT e.event_type, CAST(p.p AS DOUBLE) AS p,
         |  TRUE AS within_bounds, e.n
         |FROM (SELECT event_type, count(value) AS n FROM events
         |      GROUP BY 1 HAVING count(value) > 0) e
         |CROSS JOIN (SELECT unnest([${AnalyticsOps.PercentileTargets.mkString(", ")}]) AS p) p
         |ORDER BY event_type, p""".stripMargin,
      asc("event_type", "p")),
    QuerySpec("rank_top_per_brand", AnalyticsOps.topPerBrand,
      """WITH rev AS (
        |  SELECT p.p_brand, p.p_partkey,
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |r AS (SELECT p_brand AS brand,
        |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rank,
        |    p_partkey AS partkey, revenue
        |  FROM rev)
        |SELECT brand, rank, partkey, revenue FROM r WHERE rank <= 3
        |ORDER BY brand, rank""".stripMargin,
      asc("brand", "rank")),
    QuerySpec("window_running_total", AnalyticsOps.runningTotal,
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY custkey, orderkey""".stripMargin,
      asc("custkey", "orderkey")),
    QuerySpec("window_lag_lead", AnalyticsOps.lagLeadGaps,
      """SELECT user_id, event_id,
        |  lag(event_id, 1) OVER w AS prev_event,
        |  lead(event_id, 1) OVER w AS next_event,
        |  epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER w AS gap_ms
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("window_quartiles", AnalyticsOps.orderQuartiles,
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
        |ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    QuerySpec("q8_market_share", AnalyticsOps.marketShare,
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |         (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    ELSE 0 END) AS BIGINT) / 10000.0 AS nation_revenue,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |       (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) / 10000.0 AS total_revenue,
        |  CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |         (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS DOUBLE) /
        |  CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |       (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) AS BIGINT) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      asc("order_year")),
    QuerySpec("window_range_frame", AnalyticsOps.rangeFrameSum,
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_ms(ts)
        |    RANGE BETWEEN 60000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_minute_value
        |FROM events ORDER BY event_id""".stripMargin,
      asc("event_id")),
    QuerySpec("set_intersect", AnalyticsOps.setIntersect,
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, dt""".stripMargin,
      asc("user_id", "dt")),
    QuerySpec("set_intersect_all", AnalyticsOps.setIntersectAll,
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'click'
        |INTERSECT ALL
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, dt""".stripMargin,
      asc("user_id", "dt")),
    QuerySpec("set_except_all", AnalyticsOps.setExceptAll,
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'click'
        |EXCEPT ALL
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, dt""".stripMargin,
      asc("user_id", "dt")),
    // full value-level REPLAY of the KMV/theta sketch pipeline, exact in
    // BOTH regimes: DuckDB recomputes every splitmix64 hash bit-exactly
    // (GraftBloom.sqlMix64Ctes), takes the same k smallest per segment,
    // and applies the same estimators — (k-1)/F(θ) off the k-th minimum
    // when a sketch filled (θ >> 11 / 2^53 and floor(x+0.5) mirror
    // GraftKmv.frac/Math.round; both sides are IEEE-754-identical
    // double ops on exactly-representable operands), plain counts when
    // it never filled. Truncation commutes with union/intersection
    // below θ, so replaying on the FULL distinct-hash sets equals the
    // JVM's sketch-merge results (KmvSketch.scala scaladoc).
    QuerySpec("kmv_segment_overlap", AnalyticsOps.segmentOverlap, {
      import org.apache.spark.sql.graftexpr.GraftBloom.sqlMix64Ctes
      val k = 8192
      def est(n: String, theta: String) =
        s"CASE WHEN $n < $k THEN $n ELSE CAST(floor(${k - 1}.0 / " +
          s"(CAST(($theta) >> 11 AS DOUBLE) / 9007199254740992.0) + 0.5) AS BIGINT) END"
      s"""WITH su AS (SELECT DISTINCT event_type, CAST(user_id AS UBIGINT) AS z0
         |            FROM events WHERE user_id IS NOT NULL),
         |${sqlMix64Ctes("m", "su", "event_type")},
         |rk AS (SELECT event_type, hash,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hash) AS rn,
         |        count(*) OVER (PARTITION BY event_type) AS n FROM m3),
         |st AS (SELECT event_type, any_value(n) AS n,
         |        max(CASE WHEN rn = $k THEN hash END) AS theta
         |       FROM rk GROUP BY 1),
         |card AS (SELECT event_type, n, theta, ${est("n", "theta")} AS card FROM st),
         |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |          a.card AS card_a, b.card AS card_b,
         |          least(a.theta, b.theta) AS itheta
         |        FROM card a JOIN card b ON a.event_type < b.event_type),
         |uh AS (SELECT p.type_a, p.type_b, m3.hash FROM pairs p
         |       JOIN m3 ON m3.event_type = p.type_a OR m3.event_type = p.type_b
         |       GROUP BY 1, 2, 3),
         |urk AS (SELECT type_a, type_b, hash,
         |        row_number() OVER (PARTITION BY type_a, type_b ORDER BY hash) AS rn,
         |        count(*) OVER (PARTITION BY type_a, type_b) AS n FROM uh),
         |ust AS (SELECT type_a, type_b, any_value(n) AS n,
         |        max(CASE WHEN rn = $k THEN hash END) AS theta FROM urk GROUP BY 1, 2),
         |ucard AS (SELECT type_a, type_b, ${est("n", "theta")} AS card_union FROM ust),
         |ih AS (SELECT p.type_a AS ta, p.type_b AS tb, p.itheta, ha.hash FROM pairs p
         |       JOIN m3 ha ON ha.event_type = p.type_a
         |       JOIN m3 hb ON hb.event_type = p.type_b AND hb.hash = ha.hash),
         |icard AS (SELECT ta, tb,
         |        CASE WHEN any_value(itheta) IS NULL THEN count(*)
         |             ELSE CAST(floor(CAST(count(*) FILTER (WHERE hash < itheta) AS DOUBLE)
         |                  / (CAST(any_value(itheta) >> 11 AS DOUBLE) / 9007199254740992.0) + 0.5) AS BIGINT) END AS card_inter
         |       FROM ih GROUP BY 1, 2)
         |SELECT p.type_a, p.type_b, p.card_a, p.card_b,
         |  u.card_union, coalesce(i.card_inter, 0) AS card_inter
         |FROM pairs p
         |JOIN ucard u ON u.type_a = p.type_a AND u.type_b = p.type_b
         |LEFT JOIN icard i ON i.ta = p.type_a AND i.tb = p.type_b
         |ORDER BY p.type_a, p.type_b""".stripMargin
    },
      asc("type_a", "type_b")),
    // full value-level REPLAY of the count-min sketch: DuckDB recomputes
    // every (row, bucket) counter with the same portable md5-ring hashes
    // and takes the same min — no tolerance band needed
    QuerySpec("cm_frequencies", (s, d) => AnalyticsOps.cmFrequencies(s, d), {
      import org.apache.spark.sql.graftexpr.GraftCountMin.{sqlCoefs, sqlH31, P}
      val W = 1024
      s"""WITH keyed AS (SELECT 10000 // ((event_id % 10000) + 1) AS hh_key FROM events),
         |h AS (SELECT hh_key, ${sqlH31("hh_key")} AS h31 FROM keyed),
         |buckets AS (SELECT r, (((a * h31 + b) % $P) % $W) AS bucket, count(*) AS cnt
         |  FROM h CROSS JOIN ${sqlCoefs(4)} GROUP BY 1, 2),
         |keys AS (SELECT hh_key, count(*) AS exact FROM keyed GROUP BY 1),
         |probe AS (SELECT hh_key, exact, r,
         |    (((a * ${sqlH31("hh_key")} + b) % $P) % $W) AS bucket
         |  FROM keys CROSS JOIN ${sqlCoefs(4)}),
         |est AS (SELECT p.hh_key, p.exact, min(coalesce(b.cnt, 0)) AS est
         |  FROM probe p LEFT JOIN buckets b ON p.r = b.r AND p.bucket = b.bucket
         |  GROUP BY 1, 2)
         |SELECT hh_key, CAST(est AS BIGINT) AS est, exact,
         |  est >= exact AS overestimates
         |FROM est ORDER BY hh_key""".stripMargin
    },
      asc("hh_key")),
    QuerySpec("profile_documents", AnalyticsOps.profileDocuments, {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS "column", count($c) AS n_values,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  min(CAST($c AS VARCHAR)) AS min_str,
           |  max(CAST($c AS VARCHAR)) AS max_str
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
      asc("column")),
    QuerySpec("set_except", AnalyticsOps.setExcept,
      """SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id, strftime(ts, '%Y-%m-%d') AS dt FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, dt""".stripMargin,
      asc("user_id", "dt")),
    QuerySpec("sessionize", AnalyticsOps.sessionize,
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS prev_sec
        |  FROM events),
        |s AS (SELECT user_id, sec,
        |    CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM e),
        |g AS (SELECT user_id, sec,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM s)
        |SELECT user_id, session_no, min(sec) AS session_start,
        |  count(*) AS n_events, max(sec) - min(sec) AS duration_sec
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_no""".stripMargin,
      asc("user_id", "session_no")),
    QuerySpec("sessionize_duration_hist", AnalyticsOps.sessionDurationHist,
      s"""WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS prev_sec
        |  FROM events),
        |s AS (SELECT user_id, sec,
        |    CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS is_start
        |  FROM e),
        |g AS (SELECT user_id, sec,
        |    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
        |  FROM s),
        |sess AS (SELECT user_id, session_no, count(*) AS n_events,
        |    max(sec) - min(sec) AS dur FROM g GROUP BY 1, 2),
        |t AS (SELECT count(*) AS n_total FROM sess),
        |h AS (SELECT dur // ${AnalyticsOps.SessDurBinSec} AS bin,
        |    count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events
        |  FROM sess GROUP BY 1)
        |SELECT CAST(bin * ${AnalyticsOps.SessDurBinSec} AS BIGINT) AS bin_lo_sec,
        |  CAST((bin + 1) * ${AnalyticsOps.SessDurBinSec} AS BIGINT) AS bin_hi_sec,
        |  n_sessions, n_events,
        |  CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE) * 1000000.0 AS share_ppm
        |FROM h, t ORDER BY bin_lo_sec""".stripMargin,
      asc("bin_lo_sec")),
    QuerySpec("agg_listagg", AnalyticsOps.regionNationList,
      """SELECT r_name AS region, count(*) AS n_nations,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY region""".stripMargin,
      asc("region")),
    QuerySpec("agg_rollup_time", AnalyticsOps.rollupTime,
      """SELECT coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS y,
        |  coalesce(CAST(month(o_orderdate) AS BIGINT), -1) AS m,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |    AS revenue_cents,
        |  CASE WHEN GROUPING(year(o_orderdate)) = 1 THEN 'total'
        |    WHEN GROUPING(month(o_orderdate)) = 1 THEN 'year'
        |    ELSE 'month' END AS level
        |FROM orders
        |GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
        |ORDER BY y, m""".stripMargin,
      asc("y", "m")),
    // latest-by-(ts, event_id) replayed as a ranking window; the engine
    // side carries the same total order in a decimal-packed max
    QuerySpec("cdc_latest_compaction", AnalyticsOps.latestRowCompaction,
      """WITH r AS (SELECT user_id, event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_versions
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  cents AS last_cents, CAST(n_versions AS BIGINT) AS n_versions
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
      asc("user_id")),
    QuerySpec("ts_wow_change", AnalyticsOps.weekOverWeek,
      """WITH w AS (SELECT event_type,
        |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *, lag(cents) OVER (PARTITION BY event_type ORDER BY week) AS prev_cents
        |  FROM w)
        |SELECT event_type, week, cents, prev_cents,
        |  CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
        |    THEN CAST(cents - prev_cents AS DOUBLE) / CAST(prev_cents AS DOUBLE)
        |  END AS wow_change
        |FROM l ORDER BY event_type, week""".stripMargin,
      asc("event_type", "week")),
    QuerySpec("topk_with_ties", AnalyticsOps.topRevenueBrandsWithTies,
      s"""WITH rev AS (SELECT p_brand,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1)
        |SELECT p_brand, revenue_cents, rnk FROM (
        |  SELECT *, CAST(rank() OVER (ORDER BY revenue_cents DESC, p_brand) AS BIGINT) AS rnk
        |  FROM rev)
        |WHERE rnk <= ${AnalyticsOps.TiesK}
        |ORDER BY rnk, p_brand""".stripMargin,
      asc("rnk", "p_brand")),
    QuerySpec("hierarchy_shares", AnalyticsOps.hierarchyShares,
      """WITH rev AS (SELECT r_name AS region, n_name AS nation,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT region, nation, revenue_cents,
        |  CAST(revenue_cents AS DOUBLE) /
        |    CAST(CAST(sum(revenue_cents) OVER (PARTITION BY region) AS BIGINT) AS DOUBLE)
        |    AS share_of_region,
        |  CAST(revenue_cents AS DOUBLE) /
        |    CAST(CAST(sum(revenue_cents) OVER () AS BIGINT) AS DOUBLE) AS share_of_total
        |FROM rev ORDER BY region, nation""".stripMargin,
      asc("region", "nation")),
    QuerySpec("topk_orders", AnalyticsOps.topKOrders, topkOrdersOracle, Semantic),
    // heap-aggregate form keeps the same contract as the sort+limit form
    QuerySpec("topk_orders_agg", AnalyticsOps.topKOrdersAgg,
      topkOrdersOracle, By(col("totalprice").desc, col("orderkey"))),
    QuerySpec("q3_shipping_priority", AnalyticsOps.shippingPriority,
      """SELECT l.l_orderkey AS orderkey,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY revenue DESC, orderkey LIMIT 10""".stripMargin,
      Semantic),
    // a single global-aggregate row
    QuerySpec("q6_revenue_change", AnalyticsOps.revenueChange,
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |                CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin,
      asc("revenue")),
    // day rendered as a string on both engines: parquet date32 vs DuckDB
    // DATE reach pandas as different physical types, and the driver's
    // compare is type-sensitive
    QuerySpec("ts_gapfill", TimeSeriesOps.gapfillForwardFill,
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
        |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM spans)
        |SELECT c.user_id, strftime(c.d, '%Y-%m-%d') AS day, dl.day_cents,
        |  last_value(dl.day_cents IGNORE NULLS) OVER (PARTITION BY c.user_id ORDER BY c.d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        |FROM cal c LEFT JOIN daily dl ON c.user_id = dl.user_id AND c.d = dl.d""".stripMargin,
      asc("user_id", "day")),
    // open/close replayed as deterministic window firsts/lasts ordered by
    // (ts, event_id) — the same total order min_by/max_by use on the
    // Spark side, where the struct ordering breaks timestamp ties
    QuerySpec("ts_ohlc_downsample", TimeSeriesOps.ohlcDownsample,
      """WITH e AS (
        |  SELECT event_type,
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS bucket,
        |    ts, event_id, value,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |w AS (
        |  SELECT event_type, bucket, value, c,
        |    first_value(value) OVER win AS open_v,
        |    last_value(value) OVER win AS close_v
        |  FROM e
        |  WINDOW win AS (PARTITION BY event_type, bucket ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bucket, min(open_v) AS open, max(value) AS high,
        |  min(value) AS low, min(close_v) AS close,
        |  CAST(sum(c) AS BIGINT) AS vol_cents, count(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin,
      asc("event_type", "bucket")),
    // exact-integer median/MAD replay: 2×median as the middle pair's
    // sum (doubled when the middle is one row), flag by 2·dev2 > K·mad4
    QuerySpec("ts_anomaly_mad", TimeSeriesOps.anomalyMad,
      s"""WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |m1 AS (
        |  SELECT event_type, day, day_cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day_cents, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM daily),
        |med AS (
        |  SELECT event_type,
        |    CAST(CASE WHEN count(*) = 1 THEN sum(day_cents) * 2 ELSE sum(day_cents) END AS BIGINT) AS med2
        |  FROM m1 WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1),
        |dev AS (
        |  SELECT d.event_type, d.day, d.day_cents,
        |    abs(d.day_cents * 2 - med.med2) AS dev2
        |  FROM daily d JOIN med USING (event_type)),
        |m2 AS (
        |  SELECT event_type, day, dev2,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev2, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM dev),
        |mad AS (
        |  SELECT event_type,
        |    CAST(CASE WHEN count(*) = 1 THEN sum(dev2) * 2 ELSE sum(dev2) END AS BIGINT) AS mad4
        |  FROM m2 WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1)
        |SELECT d.event_type, d.day, d.day_cents,
        |  (d.dev2 * 2 > ${graft.operators.TimeSeriesOps.MadK} * mad.mad4) AS is_anomaly
        |FROM dev d JOIN mad USING (event_type)""".stripMargin,
      asc("event_type", "day")),
    // exact-integer EWMA replay: the same 3^k·4^(W−1−k) weights
    // (TimeSeriesOps.ewmaWeight) as an unrolled lag chain
    QuerySpec("ts_ewma", TimeSeriesOps.ewmaSmooth, {
      import graft.operators.TimeSeriesOps.{EwmaWindow, ewmaWeight}
      def x(k: Int) = if (k == 0) "day_cents" else s"lag(day_cents, $k) OVER w"
      val num = (0 until EwmaWindow)
        .map(k => s"coalesce(${x(k)} * ${ewmaWeight(k)}, 0)").mkString(" + ")
      val den = (0 until EwmaWindow)
        .map(k => s"CASE WHEN ${x(k)} IS NOT NULL THEN ${ewmaWeight(k)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH daily AS (
         |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_cents
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, day, day_cents,
         |  CAST($num AS BIGINT) AS ewma_num,
         |  CAST($den AS BIGINT) AS ewma_den,
         |  CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS ewma
         |FROM daily
         |WINDOW w AS (PARTITION BY event_type ORDER BY day)""".stripMargin
    },
      asc("event_type", "day")),
    // exact least-squares sums as BIGINTs; slope one division, the
    // intercept the same double expression as the Spark side (its exact
    // integer numerator could overflow where the sums cannot)
    QuerySpec("ts_linear_trend", TimeSeriesOps.linearTrend,
      """WITH daily AS (
        |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, y,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS x
        |  FROM daily),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT event_type, n,
        |  n * sxy - sx * sy AS slope_num,
        |  n * sxx - sx * sx AS slope_den,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |  END AS slope,
        |  (CAST(sy AS DOUBLE) -
        |    (CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |      ELSE CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |    END) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
      asc("event_type")),
    QuerySpec("events_funnel", FunnelOps.funnel,
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1),
        |steps AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, count(*) AS users FROM v
        |  UNION ALL SELECT 2, 'click', count(*) FROM c
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
        |SELECT step, step_name, users,
        |  CAST(users AS DOUBLE) / CAST((SELECT count(*) FROM v) AS DOUBLE) AS share_of_entry
        |FROM steps""".stripMargin,
      asc("step")),
    QuerySpec("events_funnel_windowed", FunnelOps.funnelWindowed,
      s"""WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL ${graft.operators.FunnelOps.StepBudgetHours} HOURS
        |  GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL ${graft.operators.FunnelOps.StepBudgetHours} HOURS
        |  GROUP BY 1),
        |steps AS (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, count(*) AS users FROM v
        |  UNION ALL SELECT 2, 'click', count(*) FROM c
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
        |SELECT step, step_name, users,
        |  CAST(users AS DOUBLE) / CAST((SELECT count(*) FROM v) AS DOUBLE) AS share_of_entry
        |FROM steps""".stripMargin,
      asc("step")),
    // path signature replayed with ORDER BY inside string_agg; the
    // (n_sessions DESC, path) total order makes the LIMIT cut exact
    QuerySpec("events_path_analysis", FunnelOps.pathAnalysis,
      s"""WITH e0 AS (
         |  SELECT user_id, event_id, event_type,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
         |  FROM events),
         |e AS (SELECT *, lag(sec) OVER (PARTITION BY user_id
         |    ORDER BY sec, event_id) AS prev_sec FROM e0),
         |s AS (SELECT user_id, event_id, event_type, sec,
         |    CAST(sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > ${graft.operators.AnalyticsOps.SessionGapSec}
         |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY sec, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
         |  FROM e),
         |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_no
         |    ORDER BY sec, event_id) AS rn FROM s),
         |p AS (SELECT user_id, session_no,
         |    string_agg(event_type, '>' ORDER BY sec, event_id) AS path
         |  FROM r WHERE rn <= ${graft.operators.FunnelOps.PathCap} GROUP BY 1, 2)
         |SELECT path, count(*) AS n_sessions,
         |  count(DISTINCT user_id) AS n_users
         |FROM p GROUP BY 1
         |ORDER BY n_sessions DESC, path LIMIT ${graft.operators.FunnelOps.PathTopN}""".stripMargin,
      Semantic),
    // the same (sec, event_id) total order as the path oracle; row
    // normalization over the aggregated |types|^2 matrix
    QuerySpec("events_markov_transitions", FunnelOps.markovTransitions,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |s AS (SELECT event_type AS src, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY sec, event_id) AS dst FROM e),
        |t AS (SELECT src, dst, count(*) AS n FROM s
        |  WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS DOUBLE) AS p
        |FROM t ORDER BY src, dst""".stripMargin,
      asc("src", "dst")),
    // quartile thresholds via cross-multiplied rank rule over bounded
    // histograms (no ntile / global user sort); scores are integer
    // comparisons against the three broadcast cutoffs
    QuerySpec("events_rfm_segments", FunnelOps.rfmSegments,
      s"""WITH users AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |    count(*) AS freq,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS mon
        |  FROM events GROUP BY 1),
        |a AS (SELECT max(last_day) AS anchor, count(*) AS n FROM users),
        |u AS (SELECT user_id, CAST(anchor - last_day AS BIGINT) AS r_days,
        |    freq, mon // ${FunnelOps.RfmMonBand} AS m_band, mon
        |  FROM users, a),
        |rh AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM
        |  (SELECT r_days AS v, count(*) AS c FROM u GROUP BY 1)),
        |fh AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM
        |  (SELECT freq AS v, count(*) AS c FROM u GROUP BY 1)),
        |mh AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM
        |  (SELECT m_band AS v, count(*) AS c FROM u GROUP BY 1)),
        |rc AS (SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS rt1,
        |    min(CASE WHEN cum * 2 >= n THEN v END) AS rt2,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS rt3 FROM rh, a),
        |fc AS (SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS ft1,
        |    min(CASE WHEN cum * 2 >= n THEN v END) AS ft2,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS ft3 FROM fh, a),
        |mc AS (SELECT min(CASE WHEN cum * 4 >= n THEN v END) AS mt1,
        |    min(CASE WHEN cum * 2 >= n THEN v END) AS mt2,
        |    min(CASE WHEN cum * 4 >= n * 3 THEN v END) AS mt3 FROM mh, a),
        |s AS (SELECT user_id, r_days, freq, mon,
        |    4 - (CASE WHEN r_days > rt1 THEN 1 ELSE 0 END)
        |      - (CASE WHEN r_days > rt2 THEN 1 ELSE 0 END)
        |      - (CASE WHEN r_days > rt3 THEN 1 ELSE 0 END) AS r_score,
        |    1 + (CASE WHEN freq > ft1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN freq > ft2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN freq > ft3 THEN 1 ELSE 0 END) AS f_score,
        |    1 + (CASE WHEN m_band > mt1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN m_band > mt2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN m_band > mt3 THEN 1 ELSE 0 END) AS m_score
        |  FROM u, rc, fc, mc)
        |SELECT user_id, r_days, freq, mon AS mon_cents,
        |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS segment
        |FROM s ORDER BY user_id""".stripMargin,
      asc("user_id")),
    QuerySpec("dq_documents", QualityOps.documentConstraints,
      """SELECT 'documents_text_empty' AS check_name,
        |  CAST((SELECT count(*) FROM documents
        |     WHERE text IS NULL OR length(text) = 0) AS BIGINT) AS violations,
        |  (SELECT count(*) FROM documents) AS checked
        |UNION ALL SELECT 'documents_nchars_mismatch',
        |  (SELECT count(*) FROM documents WHERE n_chars <> length(text)),
        |  (SELECT count(*) FROM documents)
        |UNION ALL SELECT 'documents_lang_unknown',
        |  (SELECT count(*) FROM documents
        |     WHERE lang NOT IN ('en', 'de', 'fr', 'es', 'zh')),
        |  (SELECT count(*) FROM documents)
        |UNION ALL SELECT 'documents_doc_id_unique',
        |  (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) FROM documents),
        |  (SELECT count(*) FROM documents)""".stripMargin,
      asc("check_name")),
    QuerySpec("retention_cohorts", FunnelOps.retentionCohorts,
      retentionOracle, asc("cohort", "day_offset")),
    // identical numbers to retention_cohorts (the bitmap-algebra path
    // is an implementation strategy, not a semantic change)
    QuerySpec("retention_bitmap", FunnelOps.retentionBitmap,
      retentionOracle, asc("cohort", "day_offset")),
    QuerySpec("j14_fuzzy_join", RelationalOps.fuzzyBlockedJoin,
      """WITH n AS (
        |  SELECT p_name, count(*) AS n_parts,
        |    (string_split(p_name, ' '))[-1] AS blk
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
        |  a.n_parts AS a_parts, b.n_parts AS b_parts
        |FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin,
      asc("a_name", "b_name")),
    QuerySpec("j15_linear_attribution", RelationalOps.linearAttribution,
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.purchase_id, p.user_id, v.view_id, v.v_ts
        |  FROM p LEFT JOIN v ON p.user_id = v.v_user
        |    AND v.v_ts < p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 7 DAY),
        |w AS (SELECT purchase_id, user_id, view_id, v_ts,
        |    count(view_id) OVER (PARTITION BY purchase_id) AS n,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY v_ts, view_id) AS rk
        |  FROM j)
        |SELECT purchase_id, user_id,
        |  coalesce(view_id, CAST(-1 AS BIGINT)) AS view_id,
        |  CAST(CASE WHEN view_id IS NULL THEN 1000000
        |    ELSE 1000000 // n + CASE WHEN rk = 1 THEN 1000000 % n ELSE 0 END
        |  END AS BIGINT) AS weight_ppm
        |FROM w ORDER BY purchase_id, view_id""".stripMargin,
      asc("purchase_id", "view_id")),
    // U-shaped: 40/20/40 in exact ppm; n=1 → all, n=2 → even split,
    // middle remainder to the earliest middle touch (rk = 2)
    QuerySpec("j16_ushape_attribution", RelationalOps.ushapeAttribution,
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |j AS (SELECT p.purchase_id, p.user_id, v.view_id, v.v_ts
        |  FROM p LEFT JOIN v ON p.user_id = v.v_user
        |    AND v.v_ts < p.p_ts AND v.v_ts >= p.p_ts - INTERVAL 7 DAY),
        |w AS (SELECT purchase_id, user_id, view_id, v_ts,
        |    count(view_id) OVER (PARTITION BY purchase_id) AS n,
        |    row_number() OVER (PARTITION BY purchase_id
        |      ORDER BY v_ts, view_id) AS rk
        |  FROM j)
        |SELECT purchase_id, user_id,
        |  coalesce(view_id, CAST(-1 AS BIGINT)) AS view_id,
        |  CAST(CASE WHEN view_id IS NULL THEN 1000000
        |    WHEN n = 1 THEN 1000000
        |    WHEN n = 2 THEN 500000
        |    WHEN rk = 1 OR rk = n THEN 400000
        |    ELSE 200000 // (n - 2) +
        |      CASE WHEN rk = 2 THEN 200000 % (n - 2) ELSE 0 END
        |  END AS BIGINT) AS weight_ppm
        |FROM w ORDER BY purchase_id, view_id""".stripMargin,
      asc("purchase_id", "view_id")),
    QuerySpec("q9_product_profit", AnalyticsOps.productTypeProfit,
      """WITH l AS (SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |p AS (SELECT p_partkey,
        |    CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cost_c
        |  FROM part WHERE p_name LIKE '%gear%')
        |SELECT n.n_name AS nation,
        |  CAST(extract(year FROM o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(l.price_c * (100 - l.disc_pct) - p.cost_c * 100 * l.qty)
        |    AS BIGINT) / 10000.0 AS profit
        |FROM l JOIN p ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      asc("nation", "o_year")),
    QuerySpec("q11_important_parts", AnalyticsOps.importantPartValues,
      """WITH rs AS (SELECT s_suppkey FROM supplier s
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |    WHERE r.r_name = 'ASIA'),
        |pp AS (SELECT l.l_partkey,
        |    CAST(sum(CAST(l.l_quantity AS BIGINT) *
        |      CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_c
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE EXISTS (SELECT 1 FROM rs WHERE rs.s_suppkey = l.l_suppkey)
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c,
        |    count(*) AS n_parts FROM pp)
        |SELECT pp.l_partkey AS partkey, value_c / 100.0 AS value
        |FROM pp, t WHERE value_c * n_parts > total_c
        |ORDER BY partkey""".stripMargin,
      asc("partkey")),
    QuerySpec("q20_dominant_suppliers", AnalyticsOps.dominantPartSuppliers,
      """WITH pp AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND EXISTS (SELECT 1 FROM part p
        |      WHERE p.p_partkey = lineitem.l_partkey AND p.p_name LIKE '%bolt')
        |  GROUP BY 1, 2),
        |pt AS (SELECT l_partkey AS pk, CAST(sum(pair_qty) AS BIGINT) AS part_qty
        |  FROM pp GROUP BY 1)
        |SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name
        |FROM supplier s WHERE EXISTS (
        |  SELECT 1 FROM pp JOIN pt ON pp.l_partkey = pt.pk
        |  WHERE pp.pair_qty * 2 > pt.part_qty AND pp.l_suppkey = s.s_suppkey)
        |ORDER BY suppkey""".stripMargin,
      asc("suppkey")),
    QuerySpec("window_ntile", AnalyticsOps.ntileBuckets,
      """SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
        |  CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |    ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS BIGINT) AS tile
        |FROM orders ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    // unique composite order key -> single-row peer groups, so both
    // ratios are exact and engine-identical
    QuerySpec("window_percent_rank", AnalyticsOps.percentRanks,
      """SELECT o_orderkey AS orderkey, o_orderpriority AS priority,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey)
        |ORDER BY orderkey""".stripMargin,
      asc("orderkey")),
    // moment sums stay exact integers (DuckDB: BIGINT sums promote to
    // HUGEINT; Spark side: DECIMAL(38,0)) so the single double division
    // at the end is bit-identical regardless of partition order
    QuerySpec("agg_corr_exact", AnalyticsOps.corrExact,
      """WITH l AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (SELECT l_returnflag AS returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM l GROUP BY 1)
        |SELECT returnflag, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_xy,
        |  CAST(n * sxy - sx * sy AS DOUBLE) /
        |    CAST(n * n AS DOUBLE) / 100.0 AS covar_pop
        |FROM a ORDER BY returnflag""".stripMargin,
      asc("returnflag")),
    // the struct-max (count, reversed type rank) replayed as a ranking
    // window: highest count, then lexicographically smallest type
    QuerySpec("agg_mode_exact", AnalyticsOps.modeExact,
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY n DESC, event_type) AS rn,
        |    CAST(sum(n) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
        |  FROM c)
        |SELECT user_id, event_type AS mode_type, n AS mode_n, n_events,
        |  CAST(n AS DOUBLE) / CAST(n_events AS DOUBLE) AS mode_share
        |FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
      asc("user_id")),
    QuerySpec("basket_lift_pairs", AnalyticsOps.basketLiftPairs,
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |    count(*) AS n_ab
        |  FROM lp x JOIN lp y ON x.l_orderkey = y.l_orderkey
        |    AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2),
        |pc AS (SELECT l_partkey, count(*) AS n_part FROM lp GROUP BY 1),
        |t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lp)
        |SELECT p.part_a, p.part_b, p.n_ab,
        |  CAST(p.n_ab * t.n_orders AS DOUBLE) /
        |    CAST(a.n_part * b.n_part AS DOUBLE) AS lift
        |FROM pairs p
        |JOIN pc a ON p.part_a = a.l_partkey
        |JOIN pc b ON p.part_b = b.l_partkey, t
        |ORDER BY n_ab DESC, part_a, part_b LIMIT 100""".stripMargin,
      Semantic),
    // power-of-two half-life decay: the weight of a d-half-life-old row
    // is the INTEGER 2^(30-d), so the decayed mass is an exact integer
    // sum (partition-order-free) and the one double division at the end
    // is engine-identical — a float pow(0.5, age) sum is neither
    QuerySpec("user_recency_score", TimeSeriesOps.userRecencyScore,
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |a AS (SELECT max(day) AS anchor_day FROM e),
        |w AS (SELECT user_id, cents,
        |    datediff('day', day, anchor_day) AS dd,
        |    CAST(1 AS BIGINT) <<
        |      (30 - least(30, CAST(datediff('day', day, anchor_day) // 30 AS INT))) AS w
        |  FROM e, a)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(min(dd) AS BIGINT) AS recency_days,
        |  CAST(sum(cents * w) AS DOUBLE) / 1073741824.0 / 100.0 AS decayed_value
        |FROM w GROUP BY 1 ORDER BY user_id""".stripMargin,
      asc("user_id")),
    // shift-and-count decomposition: each distinct (user, day) feeds the
    // ≤7 anchor days it is visible from, then one exact distinct count
    QuerySpec("ts_rolling_uv_7d", TimeSeriesOps.rollingUv,
      s"""WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |mx AS (SELECT max(d) AS dmax FROM byday),
        |fan AS (SELECT DISTINCT user_id,
        |    unnest(generate_series(d, least(d + INTERVAL ${TimeSeriesOps.RollingDays - 1} DAY,
        |      (SELECT dmax FROM mx)), INTERVAL 1 DAY)) AS wday
        |  FROM byday)
        |SELECT strftime(wday, '%Y-%m-%d') AS day, count(*) AS uv_7d
        |FROM fan GROUP BY 1 ORDER BY day""".stripMargin,
      asc("day")),
    // anchors are event-bearing days only (the serving-store rows) —
    // see the rollingUvBitmap scaladoc for the contrast with _7d
    QuerySpec("ts_rolling_uv_bitmap", TimeSeriesOps.rollingUvBitmap,
      s"""WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM byday)
        |SELECT strftime(a.d, '%Y-%m-%d') AS day,
        |  count(DISTINCT b.user_id) AS uv_7d
        |FROM days a JOIN byday b
        |  ON b.d BETWEEN a.d - ${TimeSeriesOps.RollingDays - 1} AND a.d
        |GROUP BY 1 ORDER BY day""".stripMargin,
      asc("day")),
    // the clamped recursion replayed as a recursive CTE over the
    // row_number-ordered day rows (bounded domain on both engines)
    QuerySpec("ts_cusum_daily", TimeSeriesOps.cusumDaily,
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(ts AS DATE) AS d, count(*) AS n
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(sum(n) AS BIGINT) // count(*) AS mean_n FROM daily),
        |dd AS (SELECT d, CAST(n AS BIGINT) AS n,
        |    CAST(n - mean_n AS BIGINT) AS dev,
        |    row_number() OVER (ORDER BY d) AS rn
        |  FROM daily, m),
        |c AS (
        |  SELECT rn, d, n, dev,
        |    greatest(CAST(0 AS BIGINT), dev) AS sp,
        |    least(CAST(0 AS BIGINT), dev) AS sn
        |  FROM dd WHERE rn = 1
        |  UNION ALL
        |  SELECT dd.rn, dd.d, dd.n, dd.dev,
        |    greatest(CAST(0 AS BIGINT), c.sp + dd.dev),
        |    least(CAST(0 AS BIGINT), c.sn + dd.dev)
        |  FROM dd JOIN c ON dd.rn = c.rn + 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day, n AS n_events, dev,
        |  sp AS cusum_pos, sn AS cusum_neg
        |FROM c ORDER BY day""".stripMargin,
      asc("day")),
    // exact-count KS: cumulative histogram gap maximized in longs, one
    // double division for the ppm scaling (same order of ops as Spark)
    // a single-row fold: no order is needed, but the entry keeps the
    // one-protocol-path invariant
    QuerySpec("stats_ks_drift", StatsOps.ksDrift,
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |h AS (SELECT v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |  FROM e GROUP BY 1),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM h),
        |c AS (SELECT v,
        |    CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
        |  FROM h),
        |g AS (SELECT c.v,
        |    abs(cuma * CAST(nb AS BIGINT) - cumb * CAST(na AS BIGINT)) AS gap_num,
        |    CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb
        |  FROM c, t),
        |m AS (SELECT * FROM g ORDER BY gap_num DESC, v LIMIT 1)
        |SELECT CAST(gap_num AS DOUBLE) /
        |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000.0 AS ks_ppm,
        |  CAST(v AS DOUBLE) / 100.0 AS at_value,
        |  na AS n_purchase, nb AS n_click
        |FROM m""".stripMargin,
      asc("ks_ppm")),
    // per-key count histograms joined key-on-key; the estimate never
    // materializes a joined fact row
    // a single-row fold: no order is needed, but the entry keeps the
    // one-protocol-path invariant
    QuerySpec("stats_join_cardinality", StatsOps.joinCardinality,
      """WITH co AS (SELECT o_orderkey AS k, count(*) AS n_o FROM orders GROUP BY 1),
        |cl AS (SELECT l_orderkey AS k, count(*) AS n_l FROM lineitem GROUP BY 1),
        |j AS (SELECT co.k, CAST(n_o * n_l AS BIGINT) AS contrib
        |  FROM co JOIN cl ON co.k = cl.k),
        |a AS (SELECT CAST(sum(contrib) AS BIGINT) AS join_rows,
        |    count(*) AS matched_keys FROM j),
        |m AS (SELECT * FROM j ORDER BY contrib DESC, k LIMIT 1)
        |SELECT join_rows, matched_keys, m.k AS heaviest_key,
        |  m.contrib AS heaviest_rows,
        |  CAST(m.contrib AS DOUBLE) * CAST(matched_keys AS DOUBLE) /
        |    CAST(join_rows AS DOUBLE) * 1000000.0 AS skew_ppm
        |FROM a, m""".stripMargin,
      asc("join_rows")),
    QuerySpec("stats_value_histogram", StatsOps.valueHistogram,
      s"""WITH e AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |t AS (SELECT count(*) AS n_total FROM e),
        |h AS (SELECT v // ${StatsOps.HistBinCents} AS bin, count(*) AS n,
        |    CAST(sum(v) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1)
        |SELECT CAST(bin * ${StatsOps.HistBinCents} AS BIGINT) AS bin_lo_cents,
        |  CAST((bin + 1) * ${StatsOps.HistBinCents} AS BIGINT) AS bin_hi_cents,
        |  n, sum_cents,
        |  CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) * 1000000.0 AS share_ppm
        |FROM h, t ORDER BY bin_lo_cents""".stripMargin,
      asc("bin_lo_cents")),
    // doubled midranks keep the tie-corrected rank sum integral; AUC is
    // the one double division (same parenthesization as the operator)
    QuerySpec("stats_auc_exact", StatsOps.rankSumDrift,
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |h AS (SELECT v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |  FROM e GROUP BY 1),
        |c AS (SELECT v, ca, cb,
        |    CAST(sum(ca + cb) OVER (ORDER BY v) AS BIGINT) AS cumall
        |  FROM h),
        |r AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(sum(ca * ((cumall - (ca + cb)) * 2 + (ca + cb) + 1)) AS BIGINT) AS sr2a
        |  FROM c)
        |SELECT na AS n_purchase, nb AS n_click,
        |  CAST(sr2a - na * (na + 1) AS BIGINT) AS u2_purchase,
        |  CAST(sr2a - na * (na + 1) AS DOUBLE) /
        |    (2.0 * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS auc
        |FROM r""".stripMargin,
      asc("n_purchase")),
    QuerySpec("eval_pr_curve", StatsOps.prCurve,
      s"""WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |b AS (SELECT v // ${StatsOps.HistBinCents} AS bin,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pa,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS pb
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(pa) AS BIGINT) AS na FROM b),
        |c AS (SELECT bin,
        |    CAST(sum(pa) OVER (ORDER BY bin DESC) AS BIGINT) AS tp,
        |    CAST(sum(pb) OVER (ORDER BY bin DESC) AS BIGINT) AS fp
        |  FROM b)
        |SELECT CAST(bin * ${StatsOps.HistBinCents} AS BIGINT) AS threshold_cents,
        |  tp, fp,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precision,
        |  CAST(tp AS DOUBLE) / CAST(na AS DOUBLE) AS recall
        |FROM c, t ORDER BY threshold_cents""".stripMargin,
      asc("threshold_cents")),
    // exact rank-run overlap with the kept band — ties at the cut are
    // deterministic on both engines
    QuerySpec("stats_trimmed_mean", StatsOps.trimmedMean,
      s"""WITH h AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
        |    count(*) AS t
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, v, t,
        |    CAST(sum(t) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum
        |  FROM h),
        |n AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n FROM h GROUP BY 1),
        |k AS (SELECT c.event_type, c.v,
        |    greatest(CAST(0 AS BIGINT),
        |      least(c.cum, n.n * ${100 - StatsOps.TrimPct} // 100) -
        |      greatest(c.cum - c.t + 1, n.n * ${StatsOps.TrimPct} // 100 + 1) + 1)
        |      AS kept,
        |    n.n AS n
        |  FROM c JOIN n ON c.event_type = n.event_type)
        |SELECT event_type, max(n) AS n, CAST(sum(kept) AS BIGINT) AS n_kept,
        |  CAST(CAST(sum(kept * v) AS BIGINT) AS DOUBLE) /
        |    CAST(CAST(sum(kept) AS BIGINT) AS DOUBLE) / 100.0 AS trimmed_mean
        |FROM k GROUP BY 1 ORDER BY event_type""".stripMargin,
      asc("event_type")),
    QuerySpec("stats_stickiness", StatsOps.stickiness,
      s"""WITH byday AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |daily AS (SELECT strftime(d, '%Y-%m-%d') AS day, count(*) AS dau
        |  FROM byday GROUP BY 1),
        |mx AS (SELECT max(d) AS dmax FROM byday),
        |fan AS (SELECT DISTINCT user_id,
        |    unnest(generate_series(d, least(d + INTERVAL ${TimeSeriesOps.RollingDays - 1} DAY,
        |      (SELECT dmax FROM mx)), INTERVAL 1 DAY)) AS wday
        |  FROM byday),
        |roll AS (SELECT strftime(wday, '%Y-%m-%d') AS day, count(*) AS wau
        |  FROM fan GROUP BY 1)
        |SELECT r.day, d.dau, r.wau,
        |  CAST(d.dau AS DOUBLE) / CAST(r.wau AS DOUBLE) AS stickiness
        |FROM roll r JOIN daily d ON r.day = d.day
        |ORDER BY r.day""".stripMargin,
      asc("day")),
    // ascending (cents, custkey) rank replayed as a window; the engine
    // derives it from a range exchange + zipWithIndex instead
    QuerySpec("stats_gini", StatsOps.giniRevenue,
      """WITH c AS (SELECT o_custkey,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents, o_custkey) AS rk
        |  FROM c)
        |SELECT count(*) AS n,
        |  CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE) / 100.0 AS total_revenue,
        |  2.0 * CAST(CAST(sum(rk * cents) AS HUGEINT) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * CAST(CAST(sum(cents) AS HUGEINT) AS DOUBLE)) -
        |  CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gini
        |FROM r""".stripMargin,
      asc("n")),
    QuerySpec("dq_recon_full_outer", StatsOps.reconFullOuter,
      """WITH o AS (SELECT o_orderdate AS d,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS cents_orders
        |  FROM orders GROUP BY 1),
        |l AS (SELECT o.o_orderdate AS d,
        |    CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS cents_lines
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1)
        |SELECT strftime(coalesce(o.d, l.d), '%Y-%m-%d') AS day,
        |  coalesce(cents_orders, 0) AS cents_orders,
        |  coalesce(cents_lines, 0) AS cents_lines,
        |  CAST(coalesce(cents_lines, 0) - coalesce(cents_orders, 0) AS BIGINT)
        |    AS diff_cents
        |FROM o FULL OUTER JOIN l ON o.d = l.d
        |ORDER BY day""".stripMargin,
      asc("day")),
    QuerySpec("agg_multi_distinct", StatsOps.multiDistinctDaily,
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_events,
        |  count(DISTINCT user_id) AS uv,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
      asc("day")),
    QuerySpec("dq_functional_deps", QualityOps.functionalDeps, {
      def dep(tbl: String, a: String, b: String) =
        s"""SELECT '$tbl' AS tbl, '$a' AS lhs, '$b' AS rhs,
           |  count(*) AS n_lhs,
           |  CAST(sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |  sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $a, count(DISTINCT $b) AS nb FROM $tbl GROUP BY 1)""".stripMargin
      Seq(dep("part", "p_partkey", "p_brand"),
        dep("part", "p_brand", "p_type"),
        dep("customer", "c_nationkey", "c_mktsegment"),
        dep("orders", "o_orderkey", "o_orderdate"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY tbl, lhs, rhs")
    },
      asc("tbl", "lhs", "rhs")),
    // scalar-subquery replay: NOT EXISTS (not LEFT JOIN) so a duplicated
    // dimension key can never multiply the checked side
    QuerySpec("dq_constraints", QualityOps.constraints,
      """SELECT 'events_user_id_null' AS check_name,
        |  CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT) AS violations,
        |  (SELECT count(*) FROM events) AS checked
        |UNION ALL SELECT 'events_value_negative',
        |  (SELECT count(*) FROM events WHERE value < 0),
        |  (SELECT count(*) FROM events)
        |UNION ALL SELECT 'lineitem_discount_domain',
        |  (SELECT count(*) FROM lineitem WHERE l_discount NOT BETWEEN 0 AND 1),
        |  (SELECT count(*) FROM lineitem)
        |UNION ALL SELECT 'lineitem_quantity_positive',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity <= 0),
        |  (SELECT count(*) FROM lineitem)
        |UNION ALL SELECT 'customer_custkey_unique',
        |  (SELECT CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT) FROM customer),
        |  (SELECT count(*) FROM customer)
        |UNION ALL SELECT 'orders_custkey_fk',
        |  (SELECT count(*) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |  (SELECT count(*) FROM orders)
        |UNION ALL SELECT 'lineitem_orderkey_fk',
        |  (SELECT count(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |  (SELECT count(*) FROM lineitem)""".stripMargin,
      asc("check_name")),
    // QI cohort census; floor (not trunc) bands negative balances
    QuerySpec("dq_k_anonymity", QualityOps.kAnonymity,
      s"""SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) / 1000.0) AS BIGINT)
        |    AS bal_band,
        |  count(*) AS n, count(*) < ${QualityOps.KAnon} AS at_risk
        |FROM customer GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,
      asc("c_nationkey", "c_mktsegment", "bal_band")),
    // l-diversity: same QI banding, sensitive attribute = mktsegment
    QuerySpec("dq_l_diversity", QualityOps.lDiversity,
      s"""SELECT c_nationkey,
        |  CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) / 1000.0) AS BIGINT)
        |    AS bal_band,
        |  count(*) AS n,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
        |  count(DISTINCT c_mktsegment) < ${QualityOps.LDiv} AS at_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, bal_band""".stripMargin,
      asc("c_nationkey", "bal_band")),
    // the oracle RECOMPUTES the view from scratch — equality with the
    // engine's snapshot ⊎ delta merge is the self-maintainability proof
    QuerySpec("mv_incremental_refresh", AnalyticsOps.mvIncrementalRefresh,
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
        |  count(*) AS pv
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
      asc("day", "event_type")),
    // integer numerators/denominators until one final division each;
    // dow = (d − 1970-01-05) mod 7 sidesteps dayofweek-origin drift
    QuerySpec("ts_seasonal_decompose", TimeSeriesOps.seasonalDecompose,
      """WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
        |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7) + 7) % 7 AS dow
        |  FROM events GROUP BY 1, 3),
        |tr AS (SELECT *,
        |    CASE WHEN count(*) OVER w = 7
        |        AND CAST(max(d) OVER w - min(d) OVER w AS BIGINT) = 6
        |      THEN CAST(sum(cents) OVER w AS BIGINT) END AS t7
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |se AS (SELECT dow, CAST(sum(cents * 7 - t7) AS BIGINT) AS s_num,
        |    count(*) AS s_den
        |  FROM tr WHERE t7 IS NOT NULL GROUP BY 1)
        |SELECT strftime(tr.d, '%Y-%m-%d') AS day,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  CAST(t7 AS DOUBLE) / 700.0 AS trend,
        |  CAST(s_num AS DOUBLE) / CAST(s_den AS DOUBLE) / 700.0 AS seasonal,
        |  CASE WHEN t7 IS NOT NULL THEN
        |    CAST(cents * 7 - t7 AS DOUBLE) / 700.0 -
        |    CAST(s_num AS DOUBLE) / CAST(s_den AS DOUBLE) / 700.0 END AS residual
        |FROM tr LEFT JOIN se ON tr.dow = se.dow
        |ORDER BY day""".stripMargin,
      asc("day")),
    // linear packing: bin = cum-before-this-file // target, per partition
    QuerySpec("layout_compaction_plan", Bucketing.compactionPlan,
      s"""WITH files AS (SELECT strftime(o_orderdate, '%Y-%m') AS part,
        |    CAST(o_orderkey % ${Bucketing.CompactWriters} AS BIGINT) AS file_id,
        |    count(*) AS bytes
        |  FROM orders GROUP BY 1, 2)
        |SELECT part, file_id, bytes,
        |  CAST(coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    // ${Bucketing.CompactTarget} AS BIGINT) AS bin
        |FROM files ORDER BY part, file_id""".stripMargin,
      asc("part", "file_id")),
    // exact integer sufficient statistic only — the scalar PSI needs
    // ln(), whose last ulp differs between JVM and libm, so it lives
    // engine-side in StatsOps.psiValue (ScalaTest-verified), never in
    // the hash-exact gate
    QuerySpec("stats_psi_drift", StatsOps.psiDrift,
      s"""WITH e AS (SELECT strftime(ts, '%Y-%m-%d') < '${StatsOps.PsiCutoff}' AS base,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |w AS (SELECT v // ${StatsOps.HistBinCents} AS bin,
        |    CAST(sum(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS cb,
        |    CAST(sum(CASE WHEN base THEN 0 ELSE 1 END) AS BIGINT) AS cc
        |  FROM e GROUP BY 1),
        |a AS (SELECT CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(sum(cc) AS BIGINT) AS nc, count(*) AS n_bins FROM w)
        |SELECT CAST(bin AS BIGINT) AS bin, cb, cc, nb, nc, n_bins
        |FROM w, a ORDER BY bin""".stripMargin,
      asc("bin")),
    // skyline via running max over the distinct-price domain, never a
    // pairwise dominance join
    QuerySpec("stats_pareto_frontier", StatsOps.paretoFrontier,
      """WITH g AS (SELECT CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |    CAST(p_size AS BIGINT) AS size, count(*) AS n
        |  FROM part GROUP BY 1, 2),
        |m AS (SELECT price_c, max(size) AS mx FROM g GROUP BY 1),
        |pts AS (SELECT g.price_c, g.size, g.n FROM g
        |  JOIN m ON g.price_c = m.price_c AND g.size = m.mx),
        |r AS (SELECT *, max(size) OVER (ORDER BY price_c
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_mx
        |  FROM pts)
        |SELECT price_c, size, n AS n_parts FROM r
        |WHERE prev_mx IS NULL OR size > prev_mx
        |ORDER BY price_c""".stripMargin,
      asc("price_c")),
    // binary-exact smoothing constants (0.5/0.25/0.75), identical op
    // order to the engine's fold -> bit-equal doubles (cusum contract)
    QuerySpec("ts_holt_smooth", TimeSeriesOps.holtSmooth,
      """WITH RECURSIVE daily AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |dd AS (SELECT d, c, row_number() OVER (ORDER BY d) AS rn FROM daily),
        |h AS (
        |  SELECT rn, d, c, CAST(c AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
        |    CAST(c AS DOUBLE) AS f
        |  FROM dd WHERE rn = 1
        |  UNION ALL
        |  SELECT dd.rn, dd.d, dd.c,
        |    CAST(0.5 AS DOUBLE) * CAST(dd.c AS DOUBLE) +
        |      CAST(0.5 AS DOUBLE) * (h.l + h.b),
        |    CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * CAST(dd.c AS DOUBLE) +
        |        CAST(0.5 AS DOUBLE) * (h.l + h.b)) - h.l) +
        |      CAST(0.75 AS DOUBLE) * h.b,
        |    h.l + h.b
        |  FROM dd JOIN h ON dd.rn = h.rn + 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  CAST(c AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue,
        |  l / CAST(100 AS DOUBLE) AS level,
        |  b / CAST(100 AS DOUBLE) AS trend,
        |  f / CAST(100 AS DOUBLE) AS fitted,
        |  (CAST(c AS DOUBLE) - f) / CAST(100 AS DOUBLE) AS residual
        |FROM h ORDER BY day""".stripMargin,
      asc("day")),
    // digit from the exact cent string (no float log10 on the value);
    // expected shares are the shared Benford literals
    QuerySpec("stats_benford", StatsOps.benfordDigits, {
      val eppb = StatsOps.BenfordExpectedPpb.zipWithIndex
        .map { case (e, i) => s"WHEN ${i + 1} THEN CAST($e AS HUGEINT)" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH d AS (SELECT CAST(substr(CAST(
        |      CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |h AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS nt FROM d),
        |e AS (SELECT digit, n, nt, $eppb AS eppb,
        |    CAST(n AS HUGEINT) * 1000000000 - CAST(nt AS HUGEINT) * ($eppb)
        |      AS dev
        |  FROM h, t)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS share,
        |  CAST(eppb AS DOUBLE) / 1000000000.0 AS expected,
        |  CAST(dev * dev AS DOUBLE) /
        |    CAST(CAST(nt AS HUGEINT) * eppb * 1000000000 AS DOUBLE) AS chi2_term
        |FROM e ORDER BY digit""".stripMargin
    },
      asc("digit")),
    // exact scaled deviations (n*y - S); lag pairing joins the day
    // table against itself, one double division per lag
    QuerySpec("ts_autocorrelation", TimeSeriesOps.autocorrelation,
      s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s FROM daily),
        |dev AS (SELECT d, CAST(y * n - s AS BIGINT) AS dev FROM daily, t),
        |den AS (SELECT CAST(sum(CAST(dev AS HUGEINT) * dev) AS HUGEINT) AS den
        |  FROM dev),
        |lag AS (SELECT CAST(k.range AS BIGINT) AS k, a.dev AS dev_a, b.dev AS dev_b
        |  FROM dev a CROSS JOIN range(1, ${TimeSeriesOps.AcfMaxLag + 1}) k
        |  JOIN dev b ON b.d = a.d + CAST(k.range AS INT))
        |SELECT k, count(*) AS n_pairs,
        |  CAST(CAST(sum(CAST(dev_a AS HUGEINT) * dev_b) AS HUGEINT) AS DOUBLE) /
        |    CAST(den AS DOUBLE) AS acf
        |FROM lag, den GROUP BY k, den ORDER BY k""".stripMargin,
      asc("k")),
    // chi2 folded in (type, dow) cell order; sqrt is correctly rounded
    // IEEE (engine-safe, unlike log)
    QuerySpec("stats_cramers_v", StatsOps.cramersV,
      """WITH cells AS (SELECT event_type,
        |    ((CAST(CAST(ts AS DATE) - DATE '1970-01-05' AS BIGINT) % 7) + 7) % 7 AS dow,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |    count(DISTINCT event_type) AS nr, count(DISTINCT dow) AS nc
        |  FROM cells),
        |cl AS (SELECT list(struct_pack(event_type := cells.event_type,
        |      dow := cells.dow,
        |      num2 := CAST(CAST(o * nn - r.r * c.c AS HUGEINT) *
        |        (o * nn - r.r * c.c) AS HUGEINT),
        |      den := CAST(CAST(nn AS HUGEINT) * r.r * c.c AS HUGEINT))
        |      ORDER BY cells.event_type, cells.dow) AS cs, nn, nr, nc
        |  FROM cells JOIN r USING (event_type) JOIN c USING (dow), t
        |  GROUP BY nn, nr, nc),
        |chi AS (SELECT nn AS n,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(cs, x ->
        |      CAST(x.num2 AS DOUBLE) / CAST(x.den AS DOUBLE))),
        |      (a, b) -> a + b) AS chi2, nr, nc
        |  FROM cl)
        |SELECT n, chi2,
        |  sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(nr - 1, nc - 1) AS DOUBLE)))
        |    AS cramers_v
        |FROM chi""".stripMargin,
      asc("n")),
    // cumulative window over the (cohort x offset) matrix, never events
    QuerySpec("retention_ltv", FunnelOps.retentionLtv,
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS day_cents
        |  FROM events GROUP BY 1, 2),
        |cohort AS (SELECT user_id, min(d) AS c0 FROM daily GROUP BY 1),
        |sizes AS (SELECT c0, count(*) AS cohort_users FROM cohort GROUP BY 1),
        |cells AS (SELECT c0, CAST(d - c0 AS BIGINT) AS day_offset,
        |    CAST(sum(day_cents) AS BIGINT) AS cents
        |  FROM daily JOIN cohort USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY c0
        |    ORDER BY day_offset) AS BIGINT) AS cum_cents FROM cells)
        |SELECT strftime(c0, '%Y-%m-%d') AS cohort, day_offset, cents,
        |  cum_cents, cohort_users,
        |  CAST(cum_cents AS DOUBLE) / CAST(cohort_users AS DOUBLE) /
        |    CAST(100 AS DOUBLE) AS ltv_per_user
        |FROM cum JOIN sizes USING (c0)
        |ORDER BY cohort, day_offset""".stripMargin,
      asc("cohort", "day_offset")),
    // gaps-and-islands: consecutive days share d - row_number
    QuerySpec("events_activity_streaks", FunnelOps.activityStreaks,
      """WITH bd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |a AS (SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)
        |      AS anchor
        |  FROM bd)
        |SELECT user_id, strftime(min(d), '%Y-%m-%d') AS streak_start,
        |  strftime(max(d), '%Y-%m-%d') AS streak_end,
        |  count(*) AS streak_days
        |FROM a GROUP BY user_id, anchor
        |ORDER BY user_id, streak_start""".stripMargin,
      asc("user_id", "streak_start")),
    // bitmap UV = exact distinct; heap argmax = row_number(ORDER BY
    // score DESC, id) = 1 — the SQL-surface op replayed exactly
    QuerySpec("dws_sql_surface", WindowOps.sqlSurface,
      """WITH pu AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |agg AS (SELECT day, count(*) AS uv, CAST(sum(c) AS BIGINT) AS cents
        |  FROM pu GROUP BY 1),
        |top AS (SELECT day, user_id AS top_user FROM (
        |    SELECT day, user_id, row_number() OVER (PARTITION BY day
        |      ORDER BY CAST(c AS DOUBLE) DESC, user_id) AS rn FROM pu)
        |  WHERE rn = 1)
        |SELECT a.day, a.uv, a.cents, t.top_user
        |FROM agg a JOIN top t USING (day)
        |ORDER BY a.day""".stripMargin,
      asc("day")),
    // two-level (user x minute) -> user rollup, never a raw-event window
    QuerySpec("dq_bot_users", QualityOps.botUsers,
      s"""WITH pm AS (SELECT user_id,
        |    strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS m,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS max_per_minute,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  count(*) AS active_minutes,
        |  max(n) >= ${QualityOps.BotBurst} AS is_bot
        |FROM pm GROUP BY 1 ORDER BY user_id""".stripMargin,
      asc("user_id")))
}
