package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.functions.{col, explode, floor, sequence, unix_timestamp}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}

/** SQL surface for the engine's two non-equi join operators. A SQL-first
  * consumer (BI tool, `spark-sql` shell) writes the join condition with
  * a MARKER function, and [[RewriteMarkerJoins]] — the `Rule[LogicalPlan]`
  * tier, installed by [[GraftFunctions.registerAll]] — rewrites the
  * marked join into the scale-out plan before physical planning:
  *
  *   - `... FROM l [LEFT] JOIN r ON asof_match(lkeys, rkeys, lorder,
  *     rorder[, strict[, tolerance]])` → the native [[AsOfJoin]]
  *     (sort-merge as-of, [[AsOfJoinExec]]) — the operator a plain-SQL
  *     theta-join formulation would plan as a quadratic nested loop.
  *     LEFT JOIN null-extends unmatched left rows; plain (INNER) JOIN
  *     drops them (DuckDB's ASOF JOIN default).
  *     Multi-column keys/orders are passed as `struct(...)`; `strict`
  *     (default true) excludes equal order tuples; `tolerance` bounds
  *     the lookback on an integral primary order column.
  *   - `... FROM iv JOIN pts ON range_bin_match(pt, lo, hi,
  *     bin_seconds)` → the binned equi join of
  *     `RelationalOps.rangeBinJoin` (intervals exploded into fixed
  *     time bins, points mapped to their bin, hash join on the bin
  *     key, exact range re-check) — Catalyst alone can only plan the
  *     pure range predicate as a nested-loop/cartesian join, the
  *     canonical 100 TB cliff. Extra equi/filter conjuncts may ride
  *     along in the ON clause; they re-apply above the binned join.
  *
  * The markers are ordinary registered functions so analysis succeeds
  * with no parser changes; they are not themselves evaluable — if the
  * rewrite rule is not installed the query fails loudly at runtime
  * with installation guidance rather than silently planning a
  * cartesian product.
  */
abstract class JoinMarker extends Expression with CodegenFallback {
  def markerName: String
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException(
      s"$markerName is a join-condition marker rewritten by RewriteMarkerJoins; " +
        "it cannot be evaluated directly. Install the engine extensions " +
        "(GraftFunctions.registerAll) and use it only in a JOIN ... ON " +
        "condition.")
}

/** `asof_match(lkeys, rkeys, lorder, rorder[, strict[, tolerance]])` —
  * see [[JoinMarker]]. Key/order groups are single columns or
  * `struct(...)` tuples; each must reference only its own join side.
  *
  * Extra ON conjuncts — DELIBERATELY NON-STANDARD semantics: a
  * cross-side equality conjunct (`... AND to_date(l.ts) = to_date(r.ts)`)
  * becomes an extra AS-OF KEY, i.e. it restricts WHICH right rows are
  * candidates before the latest-not-after pick — it is NOT a standard
  * ON-clause post-match filter. The difference is observable: with the
  * key composition, a left row whose latest-overall match is on a
  * different day still matches an EARLIER same-day right row; standard
  * LEFT JOIN ON-filter semantics would instead null out the row. The
  * key reading is the useful one for as-of (per-day attribution "within
  * the partition defined by the equality"), matches the Scala
  * `AsOf.join(keys...)` API exactly, and is what the DuckDB
  * `ASOF JOIN ... ON a = b AND l.o >= r.o` oracle does; it is pinned by
  * MarkerJoinsSpec ("cross-side equality composes as a KEY:
  * earlier-same-day candidate wins"). Right-side-only conjuncts
  * pre-filter the candidate set (same composition question does not
  * arise). Anything else — left-side-only or non-equi cross-side — is
  * rejected with guidance rather than silently reinterpreted.
  */
case class AsOfMark(children: Seq[Expression]) extends JoinMarker {
  override def markerName: String = "asof_match"
  require(children.length >= 4 && children.length <= 6,
    s"asof_match expects 4-6 arguments " +
      "(lkeys, rkeys, lorder, rorder[, strict[, tolerance]]), got " +
      children.length)

  private def fields(e: Expression): Seq[Expression] = e match {
    case s: CreateNamedStruct => s.valExprs
    case other => Seq(other)
  }
  def leftKeys: Seq[Expression] = fields(children(0))
  def rightKeys: Seq[Expression] = fields(children(1))
  def leftOrder: Seq[Expression] = fields(children(2))
  def rightOrder: Seq[Expression] = fields(children(3))
  def strict: Boolean = children.lift(4) match {
    case None => true
    case Some(Literal(b: Boolean, BooleanType)) => b
    case Some(e) => throw new IllegalArgumentException(
      s"asof_match: strict must be a boolean literal, got ${e.sql}")
  }
  def toleranceOpt: Option[Long] = children.lift(5).map {
    case Literal(t: Long, LongType) => t
    case Literal(t: Int, IntegerType) => t.toLong
    case e => throw new IllegalArgumentException(
      s"asof_match: tolerance must be an integral literal, got ${e.sql}")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AsOfMark = copy(children = newChildren)
}

/** `range_bin_match(point, lo, hi, bin_seconds)` — see [[JoinMarker]].
  * `point` references one join side, `lo`/`hi` the other;
  * `bin_seconds` is a positive integral literal (~the typical interval
  * span: ≤ 2 bins per interval).
  */
case class RangeBinMark(point: Expression, lo: Expression, hi: Expression,
    binSeconds: Expression) extends JoinMarker {
  override def markerName: String = "range_bin_match"
  override def children: Seq[Expression] = Seq(point, lo, hi, binSeconds)
  def width: Long = binSeconds match {
    case Literal(w: Long, LongType) => w
    case Literal(w: Int, IntegerType) => w.toLong
    case e => throw new IllegalArgumentException(
      s"range_bin_match: bin_seconds must be an integral literal, got ${e.sql}")
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RangeBinMark =
    copy(point = newChildren(0), lo = newChildren(1), hi = newChildren(2),
      binSeconds = newChildren(3))
}

/** Rewrites marker-join conditions ([[AsOfMark]], [[RangeBinMark]]) into
  * the engine's scale-out join plans. Runs in the user-optimizer batch
  * (after the main optimization batches), so both rewrites preserve the
  * join's output attributes exactly — attribute ids, order, and
  * nullability (`LEFT` or `INNER JOIN` for as-of, `INNER` for
  * range-bin) — and downstream operators resolve unchanged.
  */
object RewriteMarkerJoins extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // transformWithSubqueries, not transform: this rule runs in the
    // operator-optimization batches, BEFORE the optimizer's
    // RewriteSubquery batch unnests EXISTS/IN/scalar subqueries — a
    // marker join written inside one still lives in the subquery's own
    // plan here, and a plain transform would neither rewrite it nor let
    // the placement check below reject it (it would fall through to the
    // misleading runtime "extensions not installed" error).
    val rewritten = plan.transformWithSubqueries {
      case j @ Join(l, r, joinType, Some(cond), _)
          if splitConjunctivePredicates(cond).exists(_.isInstanceOf[AsOfMark]) =>
        // LEFT OUTER (unmatched left rows null-extend) and INNER
        // (unmatched left rows drop — DuckDB's ASOF JOIN default) both
        // plan. INNER must plan rather than error: the optimizer's
        // EliminateOuterJoin converts a LEFT marker join under a
        // null-rejecting filter into exactly this shape.
        if (joinType != LeftOuter && joinType != Inner)
          throw new IllegalArgumentException(
            s"asof_match joins must be LEFT OUTER (left rows kept, unmatched " +
              s"get nulls) or INNER (unmatched left rows dropped) — got $joinType.")
        val conjuncts = splitConjunctivePredicates(cond)
        val (markers, rest) = conjuncts.partition(_.isInstanceOf[AsOfMark])
        require(markers.length == 1,
          s"asof_match: exactly one marker per join, got ${markers.length}")
        val m = markers.head.asInstanceOf[AsOfMark]
        sideCheck("asof_match", "lkeys/lorder", m.leftKeys ++ m.leftOrder, l)
        sideCheck("asof_match", "rkeys/rorder", m.rightKeys ++ m.rightOrder, r)
        require(m.leftKeys.map(_.dataType) == m.rightKeys.map(_.dataType),
          "asof_match: key types must match pairwise")
        require(m.leftOrder.map(_.dataType) == m.rightOrder.map(_.dataType),
          "asof_match: order types must match pairwise")
        // extra ON conjuncts compose under as-of semantics:
        //  - a cross-side equality narrows which right rows can match a
        //    left row → it IS an extra as-of key pair (candidate
        //    restriction BEFORE the latest-not-after pick, deliberately
        //    non-standard — see AsOfMark scaladoc);
        //  - a right-side-only predicate restricts the candidate set →
        //    a pre-join filter on the right child;
        //  - a left-side-only predicate: under INNER it pre-filters the
        //    left child (identical semantics); under LEFT OUTER it
        //    cannot ride — it decides match-vs-null per left row AFTER
        //    candidate selection, which the single-candidate merge pass
        //    cannot express — fail with the actual limitation (the
        //    runtime marker error would misleadingly blame missing
        //    extensions). Non-equi cross-side conjuncts never ride.
        import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
        val extraKeys = scala.collection.mutable.ArrayBuffer.empty[(Expression, Expression)]
        val leftFilters = scala.collection.mutable.ArrayBuffer.empty[Expression]
        val rightFilters = scala.collection.mutable.ArrayBuffer.empty[Expression]
        rest.foreach {
          case EqualTo(a, b) if a.references.subsetOf(l.outputSet) &&
              b.references.subsetOf(r.outputSet) => extraKeys += ((a, b))
          case EqualTo(a, b) if b.references.subsetOf(l.outputSet) &&
              a.references.subsetOf(r.outputSet) => extraKeys += ((b, a))
          case p if p.references.subsetOf(r.outputSet) => rightFilters += p
          case p if joinType == Inner &&
              p.references.subsetOf(l.outputSet) => leftFilters += p
          case p => throw new IllegalArgumentException(
            s"asof_match: ON conjunct ${p.sql} cannot compose with the as-of " +
              "join — only cross-side equalities (become extra as-of KEYS: they " +
              "restrict the candidate set BEFORE the latest-not-after pick, not " +
              "a standard post-match ON filter — an earlier in-partition match " +
              "wins where ON-filter semantics would yield NULL) and " +
              "right-side-only predicates (pre-filter the candidate set) are " +
              "expressible; under LEFT OUTER a left-side-only or non-equi " +
              "cross-side predicate would change match-vs-null per left row. " +
              "Apply it above the join (left-side predicates keep LEFT OUTER " +
              "semantics there) or use the Scala AsOf.join API with a " +
              "pre-filtered input.")
        }
        val newLeft =
          if (leftFilters.isEmpty) l else Filter(leftFilters.reduce(And), l)
        val newRight =
          if (rightFilters.isEmpty) r else Filter(rightFilters.reduce(And), r)
        AsOfJoin(newLeft, newRight,
          m.leftKeys ++ extraKeys.map(_._1), m.rightKeys ++ extraKeys.map(_._2),
          m.leftOrder, m.rightOrder, m.strict, m.toleranceOpt,
          dropUnmatched = joinType == Inner)

      case j @ Join(l, r, Inner, Some(cond), _)
          if splitConjunctivePredicates(cond).exists(_.isInstanceOf[RangeBinMark]) =>
        val conjuncts = splitConjunctivePredicates(cond)
        val (markers, rest) = conjuncts.partition(_.isInstanceOf[RangeBinMark])
        require(markers.length == 1,
          s"range_bin_match: exactly one marker per join, got ${markers.length}")
        val m = markers.head.asInstanceOf[RangeBinMark]
        rewriteRangeBin(j, l, r, m, rest)
    }
    // any marker that survived the transform is misplaced (WHERE clause,
    // under an OR, wrong join type for range_bin_match, ...) — fail HERE
    // with the placement contract instead of letting the unevaluable
    // marker reach runtime, whose error misleadingly suggests the
    // extensions aren't installed
    rewritten.foreachWithSubqueries { node =>
      node.expressions.foreach(_.foreach {
        case mk: JoinMarker => throw new IllegalArgumentException(
          s"${mk.markerName} must appear exactly once as a top-level AND " +
            "conjunct of a JOIN ... ON condition (asof_match: LEFT or INNER " +
            s"JOIN; range_bin_match: INNER JOIN) — found it inside a " +
            s"${node.nodeName} node, where it cannot be rewritten " +
            "(markers under OR/NOT, in WHERE/SELECT, or on an unsupported " +
            "join type are not rewritable).")
        case _ => ()
      })
    }
    rewritten
  }

  private def sideCheck(fn: String, label: String, exprs: Seq[Expression],
      side: LogicalPlan): Unit =
    exprs.foreach { e =>
      require(e.references.subsetOf(side.outputSet),
        s"$fn: $label expression ${e.sql} must reference only columns of its " +
          s"own join side [${side.output.map(_.name).mkString(", ")}]")
    }

  /** Replays `RelationalOps.rangeBinJoin`'s construction on the logical
    * children: explode the interval side into its overlapping bins, map
    * each point to its single bin, join on the bin key, re-check the
    * exact range. Output is projected back to the original join's
    * column order; non-marker conjuncts re-apply as a filter above.
    */
  private def rewriteRangeBin(j: Join, l: LogicalPlan, r: LogicalPlan,
      m: RangeBinMark, rest: Seq[Expression]): LogicalPlan = {
    val width = m.width
    require(width > 0, s"range_bin_match: bin_seconds must be positive, got $width")
    val ivRefs = m.lo.references ++ m.hi.references
    val (ivPlan, ptPlan) =
      if (ivRefs.subsetOf(l.outputSet) && m.point.references.subsetOf(r.outputSet))
        (l, r)
      else if (ivRefs.subsetOf(r.outputSet) && m.point.references.subsetOf(l.outputSet))
        (r, l)
      else throw new IllegalArgumentException(
        "range_bin_match: lo/hi must come from one join side and point from " +
          "the other")
    val spark = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def c(e: Expression) = ExpressionUtils.column(e)
    // typed binning: unix_timestamp() string-parses integral inputs to
    // NULL, so epoch-seconds columns (bigint/int) would silently match
    // zero rows through the inner bin equi-join — bin those numerically;
    // reject types that can't mean seconds rather than returning an
    // empty result
    import org.apache.spark.sql.types.{DateType, IntegerType => IntT, LongType => LongT, StringType, TimestampNTZType, TimestampType}
    def bin(e: Expression) = e.dataType match {
      case LongT | IntT => floor(c(e).cast("long") / width).cast("long")
      case TimestampType | TimestampNTZType | DateType | StringType =>
        floor(unix_timestamp(c(e)) / width).cast("long")
      case dt => throw new IllegalArgumentException(
        s"range_bin_match: point/lo/hi must be timestamp/date/string " +
          s"(parsed to epoch seconds) or integral epoch seconds — " +
          s"${e.sql} has type ${dt.simpleString}")
    }
    Seq(m.point, m.lo, m.hi).foreach(e => bin(e)) // validate all three up front
    // mixed integral/temporal operands would bin on different scales and
    // silently miss — require one category across all three
    val integralKinds = Seq(m.point, m.lo, m.hi)
      .map(e => e.dataType == LongT || e.dataType == IntT).distinct
    require(integralKinds.size == 1,
      "range_bin_match: point/lo/hi must be all temporal/string or all " +
        "integral epoch seconds, not a mix — " +
        Seq(m.point, m.lo, m.hi).map(e => s"${e.sql}:${e.dataType.simpleString}")
          .mkString(", "))
    val iv = Dataset.ofRows(spark, ivPlan)
      .withColumn("__graft_bin_iv", explode(sequence(bin(m.lo), bin(m.hi))))
      .queryExecution.analyzed
    val pts = Dataset.ofRows(spark, ptPlan)
      .withColumn("__graft_bin_pt", bin(m.point))
      .queryExecution.analyzed
    val binL = iv.output.find(_.name == "__graft_bin_iv").get
    val binR = pts.output.find(_.name == "__graft_bin_pt").get
    // the user's SQL join hints survive the rewrite — `/*+ BROADCAST(pts) */`
    // on a day-domain-bounded points side skips shuffling the exploded
    // interval side entirely (measured 11.4 s → 2.3 s at sf1), the same
    // knob the Scala form exposes. The hint is attached to the rebuilt
    // Join node directly: a Dataset-level .hint() here would leave a
    // ResolvedHint the already-passed EliminateResolvedHint can't clear.
    val (ivHint, ptHint) =
      if (ivPlan eq l) (j.hint.leftHint, j.hint.rightHint)
      else (j.hint.rightHint, j.hint.leftHint)
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, GreaterThanOrEqual, LessThanOrEqual}
    val joined = Filter(
      And(GreaterThanOrEqual(m.point, m.lo), LessThanOrEqual(m.point, m.hi)),
      Join(iv, pts, Inner, Some(EqualTo(binL, binR)),
        org.apache.spark.sql.catalyst.plans.logical.JoinHint(ivHint, ptHint)))
    // original column order (and, for a flipped orientation, sides)
    val reordered = Project(j.output, joined)
    if (rest.isEmpty) reordered
    else Filter(rest.reduce(And), reordered)
  }
}
