package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One registered query: its name, the operator that builds it, the
  * DuckDB oracle SQL its result is checked against, and the order
  * [[Verify]] dumps it in.
  *
  * Oracle parity conventions (Spark vs DuckDB determinism):
  *  - numeric outputs are BIGINT or DOUBLE (doubles derived from exact
  *    DECIMAL or integer arithmetic, so partition order cannot perturb
  *    them);
  *  - time outputs are formatted strings or BIGINT epoch seconds;
  *  - every oracle ends in a total ORDER BY with deterministic tiebreaks.
  *
  * The operators themselves do NOT impose a global order: a total sort is
  * test-protocol overhead, not operator semantics, and at warehouse scale
  * a final ORDER BY is a RangePartitioning whose sampling pass executes
  * the child plan twice (≈2 s of j4_order_wide's 3 s at sf0.1 was exactly
  * this). `order` mirrors the oracle's ORDER BY and is applied only at
  * Verify's dump edge; [[Bench]] measures the operator unsorted.
  * [[QuerySpec.Semantic]] marks a sort+limit (TopK / TakeOrdered) output
  * that is already totally ordered by construction.
  */
final case class QuerySpec(name: String, run: QuerySpec.Run, oracle: String,
    order: QuerySpec.Order)

object QuerySpec {
  type Run = (SparkSession, String) => DataFrame

  sealed trait Order
  /** Verify sorts the dump by these columns. */
  final case class By(cols: Column*) extends Order
  /** The operator's own sort+limit already fixes the order. */
  case object Semantic extends Order

  def asc(names: String*): Order = By(names.map(col): _*)

  /** Every registered query: the gmall surface, then the LLM pipeline. */
  lazy val all: Seq[QuerySpec] =
    requireUnique(GmallRegistry.specs ++ LlmRegistry.specs)

  /** `specs`, after checking that no name is registered twice. */
  def requireUnique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, s) if s.size > 1 => n }
    require(dups.isEmpty,
      s"query names registered more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
