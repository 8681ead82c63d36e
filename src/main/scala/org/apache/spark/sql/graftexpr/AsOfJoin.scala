package org.apache.spark.sql.graftexpr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: for each left row, attach the LAST right row with
  * the same key whose ordering tuple is < (strict) or <= (inclusive) the
  * left row's — last-touch attribution, price-as-of-trade, etc. Left
  * outer flavor by default: unmatched left rows keep nulls on the
  * right; `dropUnmatched` gives the INNER flavor (unmatched left rows
  * are dropped — DuckDB's ASOF JOIN default, pandas merge_asof +
  * dropna). The inner flavor is also what the optimizer's
  * EliminateOuterJoin legitimately produces from a LEFT marker join
  * under a null-rejecting filter, so the SQL surface must plan it
  * rather than reject its own documented workaround.
  *
  * This is the custom-operator tier of the engine (logical node →
  * strategy → physical exec, injected by
  * [[GraftFunctions.registerAll]]): Spark has no as-of relational
  * operator, and the composable alternatives either blow up (theta join:
  * every right row with ord <= left.ord, then argmax — quadratic within
  * key groups) or require unioning both inputs into one stream for a
  * window pass ([[graft.operators.RelationalOps.asofAttribution]]).
  *
  * Scale shape: both sides hash-cluster on the key (one shuffle each,
  * same as any equi-join) and sort within partitions by (key, order) —
  * then a single forward merge pass per partition: O(n log n) in the
  * partition, O(1) state (one candidate row), no per-key buffering. At
  * 100 TB this behaves like a sort-merge join, with one caveat: AQE's
  * OptimizeSkewedJoin matches only the built-in join execs, so a
  * pathologically hot key lands on one task — pre-salt the key (and
  * merge the salted results) if the key distribution demands it.
  *
  * Ordering tuples compare lexicographically (natural ascending, nulls
  * first per Spark sort semantics); rows with null keys compare equal to
  * null keys, matching sort-merge grouping rather than SQL equi-join
  * null semantics — callers filter null keys if they need the latter.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression],
    strict: Boolean,
    tolerance: Option[Long],
    dropUnmatched: Boolean = false) extends BinaryNode {

  // inner flavor keeps the right side's original nullability (exactly
  // Join(Inner)'s output contract, which the marker rewrite must
  // preserve); outer flavor null-extends it
  override def output: Seq[Attribute] =
    if (dropUnmatched) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override lazy val resolved: Boolean =
    childrenResolved &&
      (leftKeys ++ rightKeys ++ leftOrder ++ rightOrder).forall(_.resolved) &&
      leftKeys.map(_.dataType) == rightKeys.map(_.dataType) &&
      leftOrder.map(_.dataType) == rightOrder.map(_.dataType)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lo, ro, strict, tol, drop) =>
      AsOfJoinExec(lk, rk, lo, ro, strict, tol, drop,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join exec: requires both children clustered on the
  * join key and sorted by (key, order); emits one output row per left
  * row in a single merge pass.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression],
    strict: Boolean,
    tolerance: Option[Long],
    dropUnmatched: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (dropUnmatched) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ leftOrder).map(SortOrder(_, Ascending)),
    (rightKeys ++ rightOrder).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys ++ leftOrder).map(SortOrder(_, Ascending))

  // tolerance bounds the lookback on the PRIMARY order column, which
  // must therefore be integral (epoch millis/seconds, a sequence number)
  tolerance.foreach { t =>
    require(t >= 0, s"as-of tolerance must be >= 0, got $t")
    require(leftOrder.headOption.exists(_.dataType == org.apache.spark.sql.types.LongType),
      s"as-of tolerance needs a LongType primary order column, got " +
        leftOrder.headOption.map(_.dataType).orNull)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val strictCmp = strict
    val tol = tolerance
    val dropUnm = dropUnmatched
    val lk = leftKeys
    val rk = rightKeys
    val lo = leftOrder
    val ro = rightOrder
    val keyTypes = leftKeys.map(_.dataType)
    val ordTypes = leftOrder.map(_.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lOrdProj = UnsafeProjection.create(lo, lOut)
      val rOrdProj = UnsafeProjection.create(ro, rOut)
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val ordOrdering = RowOrdering.createNaturalAscendingOrdering(ordTypes)
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)

      new Iterator[InternalRow] {
        // candidate: last right row seen whose (key, ord) passed the
        // bound for the PREVIOUS left rows; re-validated per left row
        // (key equality AND, under a tolerance, recency — the candidate
        // can EXPIRE as the left ordering column advances)
        private var candidate: InternalRow = _
        private var candidateKey: InternalRow = _
        private var candidateOrd: InternalRow = _
        private var rHead: InternalRow = _
        private var rHeadKey: InternalRow = _
        private var rHeadOrd: InternalRow = _
        // one-row lookahead: under dropUnmatched the next OUTPUT row may
        // be several left rows ahead, so hasNext must advance eagerly
        private var pending: InternalRow = _
        private def advanceRight(): Unit = {
          if (rIter.hasNext) {
            rHead = rIter.next()
            rHeadKey = rKeyProj(rHead).copy()
            rHeadOrd = rOrdProj(rHead).copy()
          } else { rHead = null; rHeadKey = null; rHeadOrd = null }
        }
        advanceRight()

        private def advance(): Unit = {
          while (pending == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lKey = lKeyProj(lRow)
            val lOrd = lOrdProj(lRow)
            // consume right rows whose (key, ord) is within this left
            // row's bound; the last one becomes the candidate
            var continue = rHead != null
            while (continue) {
              val kc = keyOrdering.compare(rHeadKey, lKey)
              val within = kc < 0 || (kc == 0 && {
                val oc = ordOrdering.compare(rHeadOrd, lOrd)
                if (strictCmp) oc < 0 else oc <= 0
              })
              if (within) {
                candidate = rHead.copy()
                candidateKey = rHeadKey
                candidateOrd = rHeadOrd
                advanceRight()
                continue = rHead != null
              } else continue = false
            }
            val matched = candidate != null &&
              keyOrdering.compare(candidateKey, lKey) == 0 &&
              tol.forall { t =>
                // candidate ord <= left ord by the merge invariant, so the
                // true gap is >= 0; a wrapped (negative) difference means
                // it exceeded Long range — farther than any tolerance
                !lOrd.isNullAt(0) && !candidateOrd.isNullAt(0) && {
                  val gap = lOrd.getLong(0) - candidateOrd.getLong(0)
                  gap >= 0 && gap <= t
                }
              }
            if (matched) pending = outProj(joined(lRow, candidate))
            else if (!dropUnm) pending = outProj(joined(lRow, nullRight))
          }
        }

        override def hasNext: Boolean = { advance(); pending != null }
        override def next(): InternalRow = {
          advance()
          if (pending == null) throw new NoSuchElementException(
            "next on exhausted as-of join iterator")
          val out = pending
          pending = null
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-facing API for the native as-of join. */
object AsOf {
  /** Left as-of join `left` with `right`: equal keys, last right row
    * whose order tuple is below the left row's (strictly if `strict`).
    * Key/order columns are named per side; use distinct output column
    * names across the two sides. The right side is re-aliased internally
    * so self-joins (both sides derived from the same table) are safe.
    *
    * pandas `merge_asof(direction="backward")` mapping:
    * `allowExactMatches=false` ⇔ `strict=true`; `tolerance` is the max
    * lookback on the PRIMARY order column (`left.ord0 − right.ord0 ≤
    * tolerance`, so the column must be integral — epoch millis, a
    * sequence number): a candidate older than the tolerance yields the
    * unmatched (null right) row, exactly pandas' behavior.
    */
  def join(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftOrder: Seq[String], rightOrder: Seq[String],
      strict: Boolean, tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    // fresh exprIds on the right side (Alias always mints new ids) so a
    // self-join can't produce ambiguous attribute references
    val r = right.select(right.columns.map(c => right(c).as(c)).toIndexedSeq: _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attrs(plan: LogicalPlan, names: Seq[String]): Seq[Expression] =
      names.map(n => plan.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: column $n not in [${plan.output.map(_.name).mkString(", ")}]")))
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AsOfJoin(lPlan, rPlan,
        attrs(lPlan, leftKeys), attrs(rPlan, rightKeys),
        attrs(lPlan, leftOrder), attrs(rPlan, rightOrder), strict, tolerance))
  }

  /** Same-name convenience overload. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String],
      order: Seq[String], strict: Boolean): DataFrame =
    join(left, right, keys, keys, order, order, strict, None)
}
