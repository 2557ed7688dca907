package graft.joins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.{IntervalSweepJoin, IntervalSweepStrategy}

import graft.core.IntervalSpec

/** Public API for the sweep interval join — the custom-SparkPlan
  * execution path for interval containment/overlap (see
  * [[org.apache.spark.sql.graft.IntervalSweepJoinExec]] for the physical
  * contract).
  *
  * When to prefer which interval-join path:
  *   - [[IntervalJoin]]: the general surface — every how × keep
  *     combination, indexers, suffixes, outer joins. It picks this sweep
  *     itself for keyed inner joins whose sides are too large to
  *     broadcast (or whenever `spark.sql.autoBroadcastJoinThreshold` is
  *     below 0), and bins keyless or coarse-keyed joins when given
  *     `binWidth` / `autoBinWidth`.
  *   - [[SaltedSweepJoin.auto]]: this sweep with hot equality keys
  *     time-sliced across tasks (`IntervalJoin(skewGuard = true)` routes
  *     its sweep there).
  *   - [[graft.plans.BinnedJoinRewrite]] / [[graft.plans.SweepJoinRewrite]]:
  *     users writing plain declarative range joins, rewritten in the
  *     optimizer.
  *   - this sweep: inner overlap/containment at maximum throughput — one
  *     shuffle + one sort per side, no bin-width knob, no candidate
  *     explosion on dense same-key ranges. Output multiplicity is the
  *     full pair set (`how = inner, keep = both`).
  *
  * The planner strategy is installed on the session on first use
  * ([[org.apache.spark.sql.graft.IntervalSweepStrategy.setup]]).
  */
object SweepJoin {

  /** Inner interval-overlap join of `left` and `right` on equality
    * `keys` plus interval overlap, with endpoint closedness taken from
    * the [[IntervalSpec]]s (degenerate/point specs supported on either
    * side). Output columns: all of `left`'s, then all of `right`'s —
    * disambiguate shared names before calling.
    *
    * Keys empty = keyless sweep: every row pair considered — the
    * physical plan collapses both sides to ONE partition, which is the
    * correct semantics but not a scale path; use keys (or the binned
    * join) for large keyless workloads.
    */
  /** @param nullSafeKeys true = `<=>` key semantics (null keys match
    *                     each other); false = `===` (null-keyed rows
    *                     never match)
    * @param keep         all | first | last | both: per LEFT row keep all
    *                     matches or only the extremes by `rightOrderCol`,
    *                     decided sweep-side (output ≤ 2·|left| — no
    *                     post-join aggregation shuffle)
    * @param rightOrderCol right column defining "first"/"last" (required
    *                     for non-`all` keep; typically a unique row id)
    */
  def apply(left: DataFrame, right: DataFrame,
            leftOn: Seq[String], rightOn: Seq[String],
            leftSpec: IntervalSpec, rightSpec: IntervalSpec,
            nullSafeKeys: Boolean = false,
            keep: String = "all",
            rightOrderCol: Option[String] = None): DataFrame = {
    require(leftOn.length == rightOn.length,
      s"key lists must align: $leftOn vs $rightOn")
    require(keep == "all" || rightOrderCol.isDefined,
      "keep=first/last/both requires rightOrderCol")
    require(leftSpec.start.isDefined && leftSpec.stop.isDefined &&
      rightSpec.start.isDefined && rightSpec.stop.isDefined,
      "SweepJoin needs bounded intervals on both sides (use IntervalJoin " +
        "for one-sided/±∞ specs)")
    // same ingress convention as IntervalJoin: empty intervals (start >
    // stop under the closedness, NaN/null endpoints) never match
    val lValid = left.filter(graft.core.Intervals.nonEmpty(left, leftSpec))
    val rValid = right.filter(graft.core.Intervals.nonEmpty(right, rightSpec))
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    IntervalSweepStrategy.setup(spark)
    val lPlan = lValid.queryExecution.analyzed
    val rPlan = rValid.queryExecution.analyzed
    val resolver = spark.sessionState.analyzer.resolver
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(a => resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name)}"))
    val node = IntervalSweepJoin(
      lPlan, rPlan,
      leftOn.map(attr(lPlan, _)), rightOn.map(attr(rPlan, _)),
      attr(lPlan, leftSpec.start.get), attr(lPlan, leftSpec.stop.get),
      attr(rPlan, rightSpec.start.get), attr(rPlan, rightSpec.stop.get),
      leftSpec.includeStart, leftSpec.includeStop,
      rightSpec.includeStart, rightSpec.includeStop,
      matchNullKeys = nullSafeKeys,
      keep = keep,
      rightOrder = rightOrderCol.map(attr(rPlan, _)))
    org.apache.spark.sql.graft.SweepPlanBuilder.ofRows(spark, node)
  }
}
