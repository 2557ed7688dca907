package graft

import org.apache.spark.sql.{Column, DataFrame}

import graft.agg.{Factorize, GroupedMode}
import graft.core.{IntervalSpec, PartitionSeries}
import graft.intervals.{CombineIntervals, GroupIntervals}
import graft.joins.{AsOfJoin, FindContainingInterval, InnerOrCrossJoin, IntervalJoin}
import graft.resample.{CustomAgg, MakeWindows, ResampleEav, ResampleInterval}
import graft.windows.{Impute, PrevNextSpec, PrevNextValues}

/** One-stop facade: every public function of the reference
  * (`/root/reference/catabra_pandas/__init__.py:20-37`) under its
  * reference name, delegating to the operator objects. A catabra-pandas
  * user ports call-by-call:
  *
  * | reference                 | here                          |
  * |---------------------------|-------------------------------|
  * | `merge_intervals`         | [[Ops.mergeIntervals]]        |
  * | `find_containing_interval`| [[Ops.findContainingInterval]]|
  * | `inner_or_cross_join`     | [[Ops.innerOrCrossJoin]]      |
  * | `combine_intervals`       | [[Ops.combineIntervals]]      |
  * | `group_intervals`         | [[Ops.groupIntervals]]        |
  * | `prev_next_values`        | [[Ops.prevNextValues]]        |
  * | `impute`                  | [[Ops.impute]]                |
  * | `grouped_mode`            | [[Ops.groupedMode]]           |
  * | `factorize`               | [[Ops.factorize]]             |
  * | `resample_eav`            | [[Ops.resampleEav]]           |
  * | `resample_interval`       | [[Ops.resampleInterval]]      |
  * | `make_windows`            | [[Ops.makeWindows]]           |
  * | `partition_series`        | [[Ops.partitionSeries]]       |
  * | `get_loc`/`iloc_loc`/`iloc_loc_assign` | N/A — pandas positional indexing; use `filter`/`withColumn` |
  *
  * Extensions beyond the reference live in their packages (`graft.dedup`,
  * `graft.similarity`, `graft.text`, `graft.multimodal`,
  * `graft.streaming`) plus [[Ops.asofJoin]] / [[Ops.binnedIntervalJoin]].
  */
object Ops {

  def mergeIntervals(
      left: DataFrame, right: DataFrame,
      leftSpec: IntervalSpec, rightSpec: IntervalSpec,
      on: Seq[String] = Nil,
      leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      how: String = "inner", keep: String = "all",
      keepOrder: Boolean = true,
      suffixes: (Option[String], Option[String]) = (Some("_x"), Some("_y")),
      returnIndexers: Boolean = false,
      nullSafeKeys: Boolean = true,
      binWidth: Option[Double] = None): DataFrame =
    IntervalJoin(left, right, leftSpec, rightSpec, on, leftOn, rightOn,
      how, keep, keepOrder, suffixes, None, None, returnIndexers,
      nullSafeKeys, binWidth)

  def findContainingInterval(
      intervals: DataFrame, points: DataFrame, pointCols: Seq[String],
      on: Seq[String] = Nil,
      startCol: Option[String] = None, stopCol: Option[String] = None,
      includeStart: Boolean = true, includeStop: Boolean = true,
      which: String = "both",
      intervalIdCol: Option[String] = None,
      lengthCol: Option[String] = None): DataFrame =
    FindContainingInterval(intervals, points, pointCols, on, startCol,
      stopCol, includeStart, includeStop, which, intervalIdCol, lengthCol)

  def innerOrCrossJoin(left: DataFrame, right: DataFrame,
      on: Seq[String] = Nil): DataFrame =
    InnerOrCrossJoin(left, right, on)

  def combineIntervals(
      df: DataFrame, startCol: String, stopCol: Option[String],
      groupBy: Seq[String] = Nil, nMin: Int = 1, nMax: Option[Int] = None,
      attrCols: Seq[String] = Nil, lengthCol: Option[String] = None): DataFrame =
    CombineIntervals(df, startCol, stopCol, lengthCol, attrCols, groupBy, nMin, nMax)

  def groupIntervals(
      df: DataFrame, startCol: String, stopCol: Option[String],
      groupBy: Seq[String], distance: Column,
      inclusive: Boolean = true, tieBreakCols: Seq[String] = Nil): DataFrame =
    GroupIntervals(df, startCol, stopCol, groupBy, distance, inclusive,
      tieBreakCols = tieBreakCols)

  def prevNextValues(
      df: DataFrame, sortBy: Seq[String], groupBy: Seq[String],
      columns: Map[String, PrevNextSpec],
      firstIndicatorName: Option[String] = None,
      lastIndicatorName: Option[String] = None): DataFrame =
    PrevNextValues(df, sortBy, groupBy, columns, firstIndicatorName, lastIndicatorName)

  def impute(
      df: DataFrame, cols: Seq[String], method: String = "ffill",
      groupBy: Seq[String] = Nil, orderBy: Seq[Column],
      limit: Option[Int] = None): DataFrame =
    Impute(df, cols, method, groupBy, orderBy, limit)

  def groupedMode(df: DataFrame, groupBy: Seq[String], valueCol: String,
      dropNa: Boolean = true): DataFrame =
    GroupedMode(df, groupBy, valueCol, dropNa)

  def factorize(df: DataFrame, cols: Seq[String], sort: Boolean = true,
      codeCol: String = "code"): DataFrame =
    Factorize(df, cols, sort, codeCol)

  /** `factorize(..., return_count=True)` (misc.py:1140-1143). */
  def factorizeWithCount(df: DataFrame, cols: Seq[String],
      sort: Boolean = true, codeCol: String = "code"): (DataFrame, Long) =
    Factorize.withCount(df, cols, sort, codeCol)

  def resampleEav(
      obs: DataFrame, windows: DataFrame, agg: Map[String, Seq[String]],
      timeCol: String, valueCol: String,
      entityCol: Option[String] = None, attrCol: Option[String] = None,
      wStartCol: Option[String] = None, wStopCol: Option[String] = None,
      includeStart: Boolean = true, includeStop: Boolean = false,
      customAgg: Map[String, Seq[CustomAgg.Spec]] = Map.empty): DataFrame =
    ResampleEav(obs, windows, agg, timeCol, valueCol, entityCol, attrCol,
      wStartCol, wStopCol, includeStart, includeStop, customAgg)

  def resampleInterval(
      df: DataFrame, windows: DataFrame, valueCol: String,
      entityCol: Option[String] = None,
      startCol: Option[String] = None, stopCol: Option[String] = None,
      attrCol: Option[String] = None, attributes: Option[Seq[String]] = None,
      wStartCol: Option[String] = None, wStopCol: Option[String] = None,
      epsilon: Double = 1e-7): DataFrame =
    ResampleInterval(df, windows, valueCol, entityCol, startCol, stopCol,
      attrCol, attributes, wStartCol, wStopCol, epsilon)

  def makeWindows(
      entity: Option[Column] = None,
      start: Option[Column] = None, stop: Option[Column] = None,
      startRel: Option[Column] = None, stopRel: Option[Column] = None,
      anchor: Option[Column] = None,
      duration: Option[Column] = None): MakeWindows =
    MakeWindows(entity, start, stop, startRel, stopRel, anchor, duration)

  def partitionSeries(df: DataFrame, groupBy: Seq[String], budget: Long): DataFrame =
    PartitionSeries(df, groupBy, budget)

  // ── extensions ──────────────────────────────────────────────────────

  def asofJoin(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      on: Seq[String] = Nil, direction: String = "backward",
      tolerance: Option[Column] = None): DataFrame =
    AsOfJoin(left, right, leftTime, rightTime, on, direction, tolerance)

  /** Merge-path as-of join (keyed): one sorted window pass, no pair
    * explosion — the scale path for dense right sides. */
  def asofJoinMerge(
      left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      on: Seq[String], direction: String = "backward",
      tolerance: Option[Column] = None): DataFrame =
    AsOfJoin.merge(left, right, leftTime, rightTime, on, direction, tolerance)

  /** Bloom-pruned exact joins of a big side against a small side's keys. */
  def bloomSemiJoin(
      big: DataFrame, small: DataFrame, bigKey: String, smallKey: String,
      fpp: Double = 0.03): DataFrame =
    graft.joins.BloomPrune.semiJoin(big, small, bigKey, smallKey, fpp)

  def binnedIntervalJoin(
      left: DataFrame, right: DataFrame,
      lStart: String, lStop: String, rStart: String, rStop: String,
      binWidth: Double): DataFrame =
    IntervalJoin(left, right, IntervalSpec.closed(lStart, lStop),
      IntervalSpec.closed(rStart, rStop), binWidth = Some(binWidth),
      suffixes = (None, Some("_r")), keepOrder = false)

  def saltedJoin(
      big: DataFrame, small: DataFrame, on: Seq[String],
      salts: Int, how: String = "inner"): DataFrame =
    graft.joins.SaltedJoin(big, small, on, salts, how)

  def intervalAntiJoin(
      left: DataFrame, right: DataFrame,
      leftSpec: IntervalSpec, rightSpec: IntervalSpec,
      on: Seq[String] = Nil,
      binWidth: Option[Double] = None): DataFrame =
    graft.joins.IntervalAntiJoin(left, right, leftSpec, rightSpec,
      on = on, binWidth = binWidth)
}
