package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.Tables._

/** DWS-layer windowed aggregations — the layer the reference intended but
  * never built (SURVEY.md §2.8: ClickHouse sink config, blink planner +
  * ikanalyzer deps, keyword constants at
  * gmall-realtime/.../common/GmallConstant.java:64-67).
  *
  * Batch twins here; streaming twins with watermarks in
  * [[graft.streaming.StreamingPipelines]]. Window starts are emitted as
  * formatted strings for cross-engine comparability. Group-by keys are
  * (window × low-cardinality dims) so partial aggregation collapses
  * almost everything map-side; the final shuffle moves only
  * windows × dims rows regardless of input scale.
  */
object WindowOps {

  /** Tumbling window: per-hour per-type counts and exact decimal sums. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n", $"sum_value")

  /** Sliding window (1 h size, 30 min slide): each event contributes to 2
    * windows. Spark's `window()` generator expands windows before
    * aggregation — the same expansion the DuckDB oracle does with
    * unnest over the two candidate starts.
    */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"), $"n")

  /** Exact unique visitors per hour — the DWS consumer of ST2's dedup.
    * `countDistinct` is a two-phase distinct aggregate (partial distinct
    * map-side); for extreme-cardinality keys swap in
    * `approx_count_distinct` (HLL, constant memory).
    */
  def uvPerHour(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(countDistinct($"user_id").as("uv"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"), $"uv")

  /** Raw per-hour HLL estimates — the serving-layer shape of
    * [[uvPerHourApprox]], kept separate so WindowOpsSpec can bound the
    * estimates themselves against [[uvPerHour]].
    *
    * Uses the engine's own [[org.apache.spark.sql.graftexpr.GraftHll]]
    * kernel at p=14 (rse ≈ 0.8%, same accuracy tier as
    * `approx_count_distinct(rsd=0.01)`): one register-array update per
    * row against splitmix64-hashed keys. The built-in at that precision
    * benchmarked 8.9 s vs 1.3 s for the kernel on identical input
    * (sf0.1, 720 windows) — and unlike the built-in, the sketch column
    * is exposable for [[uvSketchRollup]]-style re-aggregation.
    */
  def uvPerHourEstimates(spark: SparkSession, dir: String,
      p: Int = 14): DataFrame = {
    import org.apache.spark.sql.graftexpr.GraftHll
    events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(GraftHll.cardinality(GraftHll.build($"user_id", p)).as("uv_approx"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"), $"uv_approx")
  }

  /** HLL variant of [[uvPerHour]] for extreme cardinalities — constant
    * memory per window, mergeable partials, no exact-distinct shuffle.
    *
    * Sketch estimates are engine-specific, so (same sketch-oracle
    * pattern as [[uvSketchRollup]], closing the one `no_oracle` row the
    * round-6 gate carried) the CHECKED output is the guarantee: exact
    * per-hour UV plus `within_bounds` = |est − exact| ≤ tol·exact,
    * tol = 4% ≈ 5σ at p=14. The driver now verifies rows, hours, exact
    * values AND the bound; WindowOpsSpec keeps the tighter independent
    * 5%-per-window check over [[uvPerHourEstimates]].
    */
  def uvPerHourApprox(spark: SparkSession, dir: String,
      p: Int = 14, tol: Double = 0.04): DataFrame = {
    import org.apache.spark.sql.graftexpr.GraftHll
    // DEDUP-FIRST two-level aggregation, not `agg(hll, countDistinct)`:
    // a distinct aggregate mixed with the imperative HLL in one groupBy
    // plans the distinct-rewrite Expand (every row duplicated per agg
    // path, no partial aggregation on the distinct leg — measured 6.7 s
    // vs 0.9 s at sf0.1). HLL registers are max-of-hashes, insensitive
    // to duplicates, so building over the deduped (window, user) pairs
    // is bit-identical to building over raw events; both shuffles here
    // map-side combine.
    events(spark, dir)
      .select(window($"ts", "1 hour").as("w"), $"user_id").distinct()
      .groupBy($"w")
      .agg(GraftHll.cardinality(GraftHll.build($"user_id", p)).as("uv_est"),
        count(lit(1)).as("uv_exact"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"uv_exact",
        (abs($"uv_est" - $"uv_exact").cast("double") <=
          lit(tol) * $"uv_exact".cast("double")).as("within_bounds"))
  }

  /** Sketch ROLL-UP: hourly HLL sketches unioned to daily cardinality
    * WITHOUT rescanning events — the serving-layer contract
    * `approx_count_distinct` can't provide (it never exposes its
    * sketch). Hourly blobs are kilobytes (2^p registers); a day is the
    * register-wise max of its hours ([[org.apache.spark.sql.graftexpr.GraftHll]]),
    * so re-aggregation cost is independent of event volume — the same
    * mergeable-sketch pattern as the t-digest quantiles, and the
    * engine's stand-in for the reference's intended ClickHouse
    * `uniqCombinedState` DWS columns (SURVEY.md §2.8).
    *
    * Sketch estimates are engine-specific, so per the sketch-oracle
    * pattern the CHECKED output is the guarantee, not the estimate:
    * exact daily UV (computable in DuckDB) plus `within_bounds` —
    * |est − exact| ≤ tol·exact, tol = 4% ≈ 5σ at p=14 (rse ≈ 0.8%).
    * HllSpec additionally proves union-of-hours ≡ sketch-of-day
    * byte-for-byte and partitioning invariance.
    */
  def uvSketchRollup(spark: SparkSession, dir: String,
      p: Int = 14, tol: Double = 0.04): DataFrame = {
    import org.apache.spark.sql.graftexpr.GraftHll
    val e = events(spark, dir).select(
      date_format($"ts", "yyyy-MM-dd").as("day"),
      date_format($"ts", "yyyy-MM-dd HH").as("hour"),
      $"user_id")
    val daily = e
      .groupBy($"day", $"hour")
      .agg(GraftHll.build($"user_id", p).as("sketch"))
      .groupBy($"day")
      .agg(GraftHll.cardinality(GraftHll.union($"sketch")).as("uv_est"))
    val exact = e.groupBy($"day").agg(countDistinct($"user_id").as("uv_exact"))
    daily.join(exact, "day")
      .select($"day", $"uv_exact",
        (abs($"uv_est" - $"uv_exact").cast("double") <=
          lit(tol) * $"uv_exact".cast("double")).as("within_bounds"))
  }

  /** `dws_uv_bitmap_rollup`: EXACT daily UV rolled up from per-hour
    * bitmap columns — the audit-grade sibling of [[uvSketchRollup]]
    * (same hour→day re-aggregation contract, zero error instead of
    * HLL's ~1%, because user_id is a dense surrogate domain where the
    * chunked bitset costs ~1 bit/user — see
    * [[org.apache.spark.sql.graftexpr.GraftBitmap]]). Unlike the
    * sketch twin, the result is fully oracle-checkable: the rolled-up
    * count IS `count(DISTINCT user_id)`.
    *
    * Scale shape: partial aggregation merges hour bitmaps word-wise,
    * so the shuffle carries one blob per (hour, partition); the day
    * rollup unions 24 blobs per key and never revisits events.
    */
  def uvBitmapRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftexpr.GraftBitmap
    events(spark, dir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"),
        date_format($"ts", "yyyy-MM-dd HH").as("hour"),
        $"user_id")
      .groupBy($"day", $"hour")
      .agg(GraftBitmap.build($"user_id").as("bm"))
      .groupBy($"day")
      .agg(GraftBitmap.card(GraftBitmap.union($"bm")).as("uv"),
        count(lit(1)).as("n_hours"))
  }

  /** Keyword tokenize → explode → count (the planned ikanalyzer keyword
    * job, reference pom.xml:179-183 + GmallConstant SEARCH/CLICK/CART/
    * ORDER). Tokenization = lowercase, split on non-alphanumerics —
    * shared with [[graft.functions.TextAnalysis.tokens]].
    */
  def keywordCount(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(split(lower($"text"), "[^a-z0-9]+")).as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))

  /** Same keyword job through the SQL-registered custom Generator
    * ([[org.apache.spark.sql.graftexpr.TokenizeExplode]]) — the
    * pluggable-tokenizer path; identical results by construction.
    */
  def keywordCountUdtf(spark: SparkSession, dir: String): DataFrame = {
    org.apache.spark.sql.graftexpr.TokenizeExplode.register(spark)
    documents(spark, dir)
      .selectExpr("tokenize_explode(text) AS word")
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
  }

  /** The implied DWS visitor-stats table, batch twin: per hour —
    * page views, total events, unique visitors, sessions STARTED and
    * their total duration. This is the composite the reference's DWM
    * apps feed (UV stream: reference
    * gmall-realtime/.../app/dwm/UniqueVisitApp.java:30; visit/jump
    * session semantics: UserJumpDetailApp.java:34) and the ClickHouse
    * DWS config implies as its serving table.
    *
    * Scale shape, two hourly frames joined at the end (hours × 1 row
    * each), from TWO scans of the events table (was three):
    *  - pv/event counts AND uv from one (window, user)-keyed partial
    *    rollup — dedup FIRST (map-side combinable), then the hour
    *    rollup sums the partials and its row count IS the
    *    distinct-user count; never a countDistinct mixed into the
    *    wide aggregate (the Expand trap, measured on the approx-UV
    *    query in round 7);
    *  - sessions: the [[graft.operators.AnalyticsOps.sessionize]] gap
    *    rule (30 min), sessions attributed to the hour of their FIRST
    *    event, duration exact seconds. The hour string is formatted
    *    from the raw min(ts) timestamp, so both engines format the
    *    same NTZ value.
    */
  def visitorStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fmt = "yyyy-MM-dd HH:mm:ss"
    val e = events(spark, dir)
    // pv/event counts and uv from ONE scan: a (window, user)-keyed
    // partial rollup (map-side combinable — the same dedup-first shape
    // the uv branch already had), then the hour rollup sums the per-user
    // partials and counts the rows, which IS the distinct-user count.
    // Replaces two separate full scans of the events table.
    val perUser = e
      .groupBy(date_format(date_trunc("hour", $"ts"), fmt).as("window_start"),
        $"user_id")
      .agg(sum(when($"event_type" === "view", 1L).otherwise(0L)).as("pv_u"),
        count(lit(1)).as("n_u"))
    val hourly = perUser
      .groupBy($"window_start")
      .agg(sum($"pv_u").as("pv"), sum($"n_u").as("n_events"),
        count(lit(1)).as("uv"))
    val byUser = Window.partitionBy($"user_id").orderBy($"sec", $"event_id")
    val sess = e
      .select($"user_id", $"event_id", $"ts", unix_timestamp($"ts").as("sec"))
      .withColumn("prev_sec", lag($"sec", 1).over(byUser))
      .withColumn("is_start", when($"prev_sec".isNull ||
        $"sec" - $"prev_sec" > AnalyticsOps.SessionGapSec, 1L).otherwise(0L))
      .withColumn("session_no", sum($"is_start").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_no")
      .agg(min($"ts").as("t0"), (max($"sec") - min($"sec")).as("dur"))
      .groupBy(date_format(date_trunc("hour", $"t0"), fmt).as("window_start"))
      .agg(count(lit(1)).as("sv"), sum($"dur").as("dur_sec"))
    hourly
      .join(sess, Seq("window_start"), "left")
      .select($"window_start", $"pv", $"n_events", $"uv",
        coalesce($"sv", lit(0L)).as("sv"),
        coalesce($"dur_sec", lit(0L)).as("dur_sec"))
  }

  /** `dws_sql_surface`: the daily visitor/revenue rollup driven by SQL
    * TEXT ALONE — one `spark.sql` string over a temp view, computing
    * exact UV through the registered `bitmap_build`/`bitmap_card`
    * extension aggregates and the day's top-revenue user through the
    * bounded-heap `top_k_ids` — the proof a SQL-first consumer (BI
    * tool, notebook, `spark-sql` shell) can reach the engine's custom
    * Catalyst surface with no Scala imports ([[graft.Session]]
    * registers the functions through `GraftFunctions.registerAll`).
    *
    * Scale shape is what the SQL planner derives: per-(day, user)
    * partial aggregate, then a day-keyed aggregate whose UV is a
    * mergeable bitmap union and whose argmax is a k=1 heap — no
    * ranking window, no distinct-expand.
    */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(spark, dir).createOrReplaceTempView("graft_events_v")
    spark.sql(
      """WITH pu AS (SELECT date_format(ts, 'yyyy-MM-dd') AS day, user_id,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c
        |  FROM graft_events_v GROUP BY 1, 2)
        |SELECT day,
        |  bitmap_card(bitmap_build(user_id)) AS uv,
        |  CAST(sum(c) AS BIGINT) AS cents,
        |  element_at(top_k_ids(user_id, CAST(c AS DOUBLE), 1), 1).id AS top_user
        |FROM pu GROUP BY day""".stripMargin)
  }
}
