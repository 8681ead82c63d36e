package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read the
  * parquet tables from there. At cluster scale these would be catalog
  * tables; the single-file parquet layout is the test stand-in. Filters
  * and projections are left to Catalyst so parquet pushdown happens
  * naturally (verify via `.explain`: PushedFilters / ReadSchema).
  */
object Tables {
  /** Resolved-relation cache, keyed per live session and path — the
    * catalog stand-in made explicit (r17, guide §1.2 driver work).
    *
    * Every `spark.read.parquet(path)` call resolves the relation from
    * scratch: a driver-side directory listing plus a one-task Spark JOB
    * that reads a parquet footer for schema inference — measured at
    * 40-90 ms per table per call on this machine (Bench `construct.ms`), paid
    * by EVERY query construction, every bench rep (multi-table TPC-H
    * shapes paid 300-400 ms per rep before any data moved). Spark's own
    * catalog does exactly this caching for metastore tables (the
    * resolved `LogicalRelation` — schema and file index — lives in the
    * session catalog's relation cache); path-based reads just never get
    * it. The cache holds METADATA ONLY (logical plan + file listing +
    * schema): every execution still scans the parquet data itself, so
    * bench/oracle runs compute from the inputs exactly as before —
    * nothing here persists results. Staleness semantics match catalog
    * tables (files swapped mid-session would need a refresh); the
    * testdata dirs are immutable while a session runs. Keyed weakly on
    * the session so stopped sessions (test suites build many) don't pin
    * their plans.
    */
  private val relationCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = relationCache.synchronized {
      var m = relationCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relationCache.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$sfDir/$name.parquet",
      p => spark.read.parquet(p))
  }

  /** Spread an under-split source across the cluster's cores — for
    * stages whose PER-ROW cost dwarfs a row's shuffle cost (image
    * encode/decode, model scoring), not for ordinary column kernels.
    *
    * The testdata parquet is one row group per file, so every scan is a
    * single task. Round 5 applied this to `events`/`documents`
    * wholesale; round-6 A/B benchmarks showed that is a NET LOSS now
    * that the text kernels are single-pass codegen (keyed queries pay a
    * full extra exchange before their own: st1 0.70→0.27 s, dws_tumbling
    * 0.81→0.33 s without it; text_langid 1.12→0.70 s — the r5 text-family
    * speedups came from the kernel rewrites, not the repartition). So it
    * is now opt-in at the few call sites where per-row work is genuinely
    * heavy (the javax.imageio fixture codec), and deliberately
    * CONDITIONAL: at production scale a 100 TB table scans as tens of
    * thousands of splits, `getNumPartitions >= defaultParallelism`
    * already, and this is a no-op (never a 100 TB shuffle down to
    * core-count partitions, which an unconditional `repartition(n)`
    * would be). Round-robin is skew-proof and keyless; Catalyst still
    * pushes filters and column pruning below a Repartition node, so
    * scan pushdown is unaffected.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark reads only as a
    * long (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    * [[Session]]). Normalize to microsecond TimestampType by floor
    * division — the same ns→µs truncation DuckDB applies, so oracle
    * comparisons agree.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      // parquet written with isAdjustedToUTC=false (DuckDB, Hive NTZ
      // flavors) reads as TIMESTAMP_NTZ, on which unix_micros & co.
      // don't resolve — normalize to TimestampType so operators see one
      // type regardless of writer (session TZ is UTC, so no wall-clock
      // shift)
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", raw.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
