// Hosted under org.apache.spark.sql: the operator is a genuine Catalyst
// citizen — a logical node, a planner Strategy and a physical SparkPlan —
// and the Dataset constructor it needs (`classic.Dataset.ofRows`) is
// private[sql]. This is the "whole-operator" extension rung: where the
// binned rewrite (graft.plans.BinnedJoinRewrite) re-expresses a range
// join through EXISTING operators (explode + equi-join), this node owns
// its physical execution outright — one shuffle and one sort per side,
// then a partition-local interval sweep with no candidate blowup at all.
package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, ExternalAppendOnlyUnsafeRowArray, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Logical interval-overlap join: rows of `left` carrying interval
  * `[lStart, lEnd]` paired with rows of `right` carrying `[rStart, rEnd]`
  * when their equality keys match and the intervals overlap under the
  * given endpoint closedness. Points are degenerate intervals
  * (`lStart == lEnd`). Inner join; `output = left.output ++ right.output`.
  *
  * `keep` ∈ all/first/last/both (reference semantics `merging.py:92-98`):
  * per LEFT row, emit all matching right rows, or only the first / last /
  * both extremes by `rightOrder` (an expression over `right.output`,
  * required for non-`all`; typically the right row-id column). Fusing
  * keep into the sweep shrinks the operator's output from |pairs| to
  * ≤ 2·|left| — at scale that removes the post-join `min_by`/`max_by`
  * shuffle over the full pair set that a compose-then-aggregate plan
  * pays.
  */
case class IntervalSweepJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    lClosedStart: Boolean, lClosedEnd: Boolean,
    rClosedStart: Boolean, rClosedEnd: Boolean,
    matchNullKeys: Boolean = false,
    keep: String = "all",
    rightOrder: Option[Expression] = None) extends BinaryNode {
  require(Seq("all", "first", "last", "both").contains(keep), s"keep=$keep")
  require(keep == "all" || rightOrder.isDefined,
    "keep=first/last/both requires a rightOrder expression")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalSweepJoin =
    copy(left = newLeft, right = newRight)
}

/** `Dataset.ofRows` is private[sql]; this shim lets the public
  * `graft.joins.SweepJoin` wrapper materialize a DataFrame over the
  * custom logical node.
  */
object SweepPlanBuilder {
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
}

/** Plans [[IntervalSweepJoin]] as [[IntervalSweepJoinExec]]. Install on
  * a live session with [[setup]] (the public API wrapper does), or at
  * session build time with `GraftExtensions`.
  */
object IntervalSweepStrategy extends SparkStrategy {
  /** Adds this strategy to the session's extra strategies unless it is
    * already there; safe to call on every use. */
  def setup(session: org.apache.spark.sql.SparkSession): Unit = {
    val experimental = session
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!experimental.extraStrategies.contains(this))
      experimental.extraStrategies = experimental.extraStrategies :+ this
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: IntervalSweepJoin =>
      IntervalSweepJoinExec(planLater(j.left), planLater(j.right),
        j.leftKeys, j.rightKeys, j.lStart, j.lEnd, j.rStart, j.rEnd,
        j.lClosedStart, j.lClosedEnd, j.rClosedStart, j.rClosedEnd,
        j.matchNullKeys, j.keep, j.rightOrder) :: Nil
    case j: AutoSaltedSweepJoin =>
      AutoSaltedSweepDispatchExec(j) :: Nil
    case _ => Nil
  }
}

/** Partition-local sorted interval sweep.
  *
  * Physical contract (enforced through `requiredChildDistribution` /
  * `requiredChildOrdering`, so EnsureRequirements inserts exactly the
  * exchanges and sorts needed and AQE sizes them):
  *   - both sides hash-clustered on their equality keys (keyless form
  *     degenerates to a single partition — use keys at scale);
  *   - both sides sorted by (keys…, interval start) within partitions.
  *
  * The sweep walks the two sorted streams once: right rows enter an
  * active buffer while their start can still precede the current left
  * end, and are evicted once their end falls before the current left
  * start — which is monotone, because left starts ascend. Per-key cost
  * is O(|L| + |R| + output + |L|·active), where `active` is bounded by
  * the interval-overlap density, NOT by bin width or candidate-pair
  * counts: dense same-key ranges that make the binned equi-join explode
  * (every interval × every touched bin) cost this operator nothing
  * extra. No broadcast, no bin tuning, no candidate materialization.
  *
  * '''Memory bound.''' The active set is bounded by overlap density —
  * exactly the quantity a hostile key violates (one key whose right
  * intervals all span the key's whole range would otherwise buffer that
  * key's entire right side on one task). Past
  * `spark.graft.sweep.maxActive` in-memory entries (default 2^17) the
  * key DEGRADES to a spill-backed scan: all its surviving + subsequent
  * right rows move into an [[ExternalAppendOnlyUnsafeRowArray]] — the
  * same UnsafeExternalSorter-backed structure SortMergeJoinExec buffers
  * same-key matches in, spilling to disk under memory pressure — and
  * each left row of that key scans the full buffer with the overlap
  * predicate applied row-by-row. That is SMJ's exact cost model for the
  * same degenerate shape (per-key quadratic, memory-safe), so the sweep
  * is never worse than the operator Catalyst would otherwise pick, and
  * on non-hostile keys never pays the fallback. Degradations are
  * surfaced in the `degradedKeys` metric; eviction resumes at the next
  * key.
  *
  * `keep=first/last/both` is evaluated sweep-side (per left row, extremes
  * by `rightOrder` over the matching right rows): output shrinks from
  * the full pair set to ≤ 2·|left| with no downstream aggregation.
  *
  * Rows with null endpoints never match and are dropped on entry. Null
  * keys follow `matchNullKeys`: false = SQL `===` inner-join semantics
  * (null-keyed rows dropped); true = null-safe `<=>` semantics (null
  * keys match each other — hash partitioning routes all null keys to
  * one partition and the sort groups them, so the sweep handles them
  * like any other key value).
  */
case class IntervalSweepJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    lStart: Expression, lEnd: Expression,
    rStart: Expression, rEnd: Expression,
    lClosedStart: Boolean, lClosedEnd: Boolean,
    rClosedStart: Boolean, rClosedEnd: Boolean,
    matchNullKeys: Boolean = false,
    keep: String = "all",
    rightOrder: Option[Expression] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "degradedKeys" -> SQLMetrics.createMetric(sparkContext,
      "keys degraded to spillable scan"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) ::
      ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(lStart, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rStart, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalSweepJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val degradedKeys = longMetric("degradedKeys")
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val (lsE, leE, rsE, reE) = (lStart, lEnd, rStart, rEnd)
    val (lcS, lcE, rcS, rcE) = (lClosedStart, lClosedEnd, rClosedStart, rClosedEnd)
    val nullSafe = matchNullKeys
    val outAttrs = output
    val keepMode = keep
    val rOrderExpr = rightOrder
    // driver-side conf capture; the closure below runs on executors
    val maxActive = conf.getConfString("spark.graft.sweep.maxActive",
      (1 << 17).toString).toInt
    require(maxActive > 0, "spark.graft.sweep.maxActive must be positive")
    val spillRowsThreshold = conf.sortMergeJoinExecBufferSpillThreshold
    val spillSizeThreshold = conf.sortMergeJoinExecBufferSpillSizeThreshold

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
      val tOrd = TypeUtils.getInterpretedOrdering(lsE.dataType)
        .asInstanceOf[Ordering[Any]]
      // ── primitive endpoint fast path ──
      // The generic kernel pays an interpreted Ordering[Any] dispatch +
      // boxed compare per endpoint comparison — the single hottest call
      // site of the operator (2 compares per candidate pair, plus the
      // eviction and ingestion scans). Every fixed-width endpoint type
      // maps ORDER-ISOMORPHICALLY onto Long (integral/date/timestamp
      // directly; float/double via the IEEE-754 total-order bit trick,
      // which reproduces Spark's sort semantics exactly: -0.0 < 0.0,
      // every NaN canonicalized above +Inf), so the sweep compares plain
      // longs and the JIT inlines the whole predicate. Non-primitive
      // endpoint types (decimal, string…) keep the interpreted path.
      val toKey: Any => Long = lsE.dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          v => v.asInstanceOf[java.lang.Long].longValue()
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType =>
          v => v.asInstanceOf[java.lang.Integer].longValue()
        case org.apache.spark.sql.types.ShortType =>
          v => v.asInstanceOf[java.lang.Short].longValue()
        case org.apache.spark.sql.types.ByteType =>
          v => v.asInstanceOf[java.lang.Byte].longValue()
        case org.apache.spark.sql.types.DoubleType => v => {
          val b = java.lang.Double.doubleToLongBits(
            v.asInstanceOf[java.lang.Double].doubleValue())
          b ^ ((b >> 63) & 0x7fffffffffffffffL)
        }
        case org.apache.spark.sql.types.FloatType => v => {
          val b = java.lang.Float.floatToIntBits(
            v.asInstanceOf[java.lang.Float].floatValue())
          (b ^ ((b >> 31) & 0x7fffffff)).toLong
        }
        case _ => null
      }
      val prim = toKey != null
      val lsB = BindReferences.bindReference(lsE, lOut)
      val leB = BindReferences.bindReference(leE, lOut)
      val rsB = BindReferences.bindReference(rsE, rOut)
      val reB = BindReferences.bindReference(reE, rOut)
      val rOrdB = rOrderExpr.map(BindReferences.bindReference(_, rOut)).orNull
      val ordOrd = rOrderExpr.map(e => TypeUtils
        .getInterpretedOrdering(e.dataType).asInstanceOf[Ordering[Any]]).orNull
      val rUnsafeProj = UnsafeProjection.create(rOut, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      // endpoint compare: primitive long keys when available, else the
      // interpreted ordering on the boxed values
      @inline def cmp(aK: Long, a: Any, bK: Long, b: Any): Int =
        if (prim) java.lang.Long.compare(aK, bK) else tOrd.compare(a, b)

      // right lookahead: (key copy, rs, re [+ long sort keys], row copy);
      // rows are copied once on entry because the child iterator reuses
      // its UnsafeRow
      final class REntry(val key: UnsafeRow, val rs: Any, val re: Any,
                         val rsK: Long, val reK: Long, val row: InternalRow)
      var rLook: REntry = null
      def advanceRight(): Unit = {
        rLook = null
        while (rLook == null && rIter.hasNext) {
          val r = rIter.next()
          val rs = rsB.eval(r)
          val re = reB.eval(r)
          val k = rKeyProj(r)
          if (rs != null && re != null && (nullSafe || !k.anyNull)) {
            rLook = new REntry(k.copy(), rs, re,
              if (prim) toKey(rs) else 0L, if (prim) toKey(re) else 0L,
              r.copy())
          }
        }
      }
      advanceRight()

      val active = new ArrayBuffer[REntry]
      // reusable per-left-row match list (consumed fully by flatMap
      // before the next left row is processed — Iterator.flatMap
      // contract), so the hot loop allocates nothing per row
      val matchBuf = new ArrayBuffer[InternalRow]
      var curKey: UnsafeRow = null
      // degraded mode: the current key's right rows live in a spillable
      // array instead of the evicting in-memory buffer (see scaladoc)
      var degraded = false
      var spillBuf: ExternalAppendOnlyUnsafeRowArray = null

      def toUnsafe(r: InternalRow): UnsafeRow = r match {
        case u: UnsafeRow => u
        case other => rUnsafeProj(other)
      }
      def ingest(e: REntry): Unit = {
        if (degraded) {
          spillBuf.add(toUnsafe(e.row)) // add() copies
        } else {
          active += e
          if (active.length > maxActive) {
            degradedKeys += 1
            if (spillBuf == null) {
              spillBuf = new ExternalAppendOnlyUnsafeRowArray(
                maxActive, 64L * 1024 * 1024,
                spillRowsThreshold, spillSizeThreshold)
            }
            active.foreach(a => spillBuf.add(toUnsafe(a.row)))
            active.clear()
            degraded = true
          }
        }
      }

      def overlapsRaw(ls: Any, le: Any, rs: Any, re: Any): Boolean = {
        val c1 = tOrd.compare(rs, le)
        val startOk = c1 < 0 || (c1 == 0 && lcE && rcS)
        if (!startOk) return false
        val c2 = tOrd.compare(ls, re)
        c2 < 0 || (c2 == 0 && lcS && rcE)
      }

      lIter.flatMap { l =>
        val ls = lsB.eval(l)
        val le = leB.eval(l)
        val lk = lKeyProj(l)
        if (ls == null || le == null || (!nullSafe && lk.anyNull)) Iterator.empty
        else {
          val lsK = if (prim) toKey(ls) else 0L
          val leK = if (prim) toKey(le) else 0L
          // key-change check: UnsafeRow byte equality short-circuits the
          // common same-key case; only a byte mismatch (new key, or a
          // logically-equal value with different bits, e.g. 0.0 / -0.0)
          // pays the full interpreted compare
          if (curKey == null ||
              (!curKey.equals(lk) && keyOrd.compare(curKey, lk) != 0)) {
            active.clear()
            if (degraded) { spillBuf.clear(); degraded = false }
            curKey = lk.copy()
          }
          while (rLook != null && keyOrd.compare(rLook.key, curKey) < 0) {
            advanceRight()
          }
          while (rLook != null && keyOrd.compare(rLook.key, curKey) == 0 &&
              cmp(rLook.rsK, rLook.rs, leK, le) <= 0) {
            ingest(rLook)
            advanceRight()
          }
          // matching right rows for this left row (rows may be reused
          // buffers in degraded mode — keep-extremes copy on update)
          def matches: Iterator[InternalRow] =
            if (degraded) {
              spillBuf.generateIterator().filter { r =>
                overlapsRaw(ls, le, rsB.eval(r), reB.eval(r))
              }
            } else {
              // fused evict + match: ONE compacting walk over the active
              // buffer per left row (the previous form paid a full
              // eviction scan plus a full match scan). Eviction is the
              // monotone rule unchanged: left starts ascend within the
              // key, so an entry whose end precedes this start can never
              // match again. Matches land in the reusable buffer — the
              // walk must complete before emission because it also
              // compacts.
              matchBuf.clear()
              val n = active.length
              var i = 0
              var w = 0
              while (i < n) {
                val e = active(i)
                if (cmp(e.reK, e.re, lsK, ls) >= 0) { // survives eviction
                  if (w != i) active(w) = e
                  w += 1
                  val c1 = cmp(e.rsK, e.rs, leK, le)
                  if (c1 < 0 || (c1 == 0 && lcE && rcS)) {
                    val c2 = cmp(lsK, ls, e.reK, e.re)
                    if (c2 < 0 || (c2 == 0 && lcS && rcE)) matchBuf += e.row
                  }
                }
                i += 1
              }
              if (w < n) active.dropRightInPlace(n - w)
              matchBuf.iterator
            }
          if (keepMode == "all") {
            matches.map { r =>
              numOutputRows += 1
              resultProj(joined(l, r))
            }
          } else {
            // first/last by rightOrder, evaluated sweep-side: one pass
            // over the matches, ≤ 2 output rows per left row
            var firstRow: InternalRow = null; var firstOrd: Any = null
            var lastRow: InternalRow = null; var lastOrd: Any = null
            val needFirst = keepMode != "last"
            val needLast = keepMode != "first"
            matches.foreach { r0 =>
              var r = r0
              var ov = rOrdB.eval(r)
              if (needFirst && (firstRow == null || ordOrd.compare(ov, firstOrd) < 0)) {
                if (degraded) { r = r0.copy(); ov = rOrdB.eval(r) }
                firstRow = r; firstOrd = ov
              }
              if (needLast && (lastRow == null || ordOrd.compare(ov, lastOrd) > 0)) {
                if (degraded && (r eq r0)) { r = r0.copy(); ov = rOrdB.eval(r) }
                lastRow = r; lastOrd = ov
              }
            }
            val out = keepMode match {
              case "first" =>
                if (firstRow == null) Iterator.empty else Iterator(firstRow)
              case "last" =>
                if (lastRow == null) Iterator.empty else Iterator(lastRow)
              case _ => // both: dedup when first == last (merging.py:736-739)
                if (firstRow == null) Iterator.empty
                else if (ordOrd.compare(firstOrd, lastOrd) == 0) Iterator(firstRow)
                else Iterator(firstRow, lastRow)
            }
            out.map { r =>
              numOutputRows += 1
              resultProj(joined(l, r))
            }
          }
        }
      }
    }
  }
}
