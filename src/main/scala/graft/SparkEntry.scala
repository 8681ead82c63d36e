package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (one entry per SURVEY.md §2
  * operator plus the LLM-data-pipeline extensions); `oracleSql` gives the
  * DuckDB-equivalent SQL for every query that is SQL-expressible.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The completed order-wide table (facts ⋈ all dims) — the query the
    * reference's OrderWideApp was building toward.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalOps.orderWide(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    QuerySpec.all.map(q => q.name -> q.oracle).toMap
}
