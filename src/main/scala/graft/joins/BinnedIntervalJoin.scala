package graft.joins

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Bin helpers of [[IntervalJoin]]'s binned path (`binWidth` /
  * `autoBinWidth`) — the scale path for interval joins WITHOUT equality
  * keys, or with coarse ones (SURVEY.md §4: the reference decomposes
  * keyless overlap into two sorted containment sweeps,
  * `merging.py:437-496`; the Spark-native equivalent of that rewrite is
  * bin bucketing, the same idea as Databricks' range-join binning).
  *
  * A keyless interval join in plain Spark degenerates to a broadcast
  * nested-loop / cartesian product — O(|L|·|R|). Binning rewrites it as an
  * equi-join: every interval is exploded to the integer bins it touches,
  * the join runs on the bin id (hash-partitionable, AQE-skew-splittable),
  * and each overlapping pair is counted exactly once by keeping only the
  * bin that contains the overlap's start point (`greatest(l.start,
  * r.start)`).
  *
  * Cost: |rows| × (interval length / binWidth) exploded rows; pick
  * `binWidth` near the typical interval length so most intervals touch
  * 1-2 bins ([[autoWidth]] derives it). Both sides must be bounded
  * (finite endpoints).
  */
object BinnedIntervalJoin {

  /** Bin index expression for numeric/timestamp/date endpoints. */
  private[joins] def binOf(c: Column, dt: org.apache.spark.sql.types.DataType,
      width: Double): Column = {
    val m = dt match {
      case TimestampType    => unix_micros(c).cast("double")
      case TimestampNTZType => unix_micros(c.cast(TimestampType)).cast("double")
      case DateType         => unix_date(c).cast("double") * 86400e6
      case _                => c.cast("double")
    }
    floor(m / width).cast("long")
  }

  /** `binWidth` scale factor: timestamp/date bins count in seconds. */
  private[joins] def widthFor(dt: org.apache.spark.sql.types.DataType,
      binWidth: Double): Double = dt match {
    case TimestampType | TimestampNTZType | DateType => binWidth * 1e6
    case _ => binWidth
  }

  /** Derive a bin width from the data instead of a hand-tuned constant —
    * the knob a 100×-scale user would otherwise mis-set. Width = the
    * approximate MEDIAN interval length across both sides (sampled), so
    * a typical interval explodes to 1–2 bins; all widths produce
    * identical RESULTS (the anchor-bin dedup is width-independent), the
    * choice only balances explosion factor against per-bin candidate
    * density, and the probe workloads measure flat within ±20% across a
    * 10× width range — the median is safely inside that plateau.
    *
    * Cost: one aggregate job over a `sampleFraction` sample of each side
    * at plan-build time (falls back to a full-frame aggregate when the
    * sample comes back empty, so tiny frames still work). Point-heavy
    * data (median length 0) falls back to span/4096 — bins then exist
    * only to split the keyless join into parallelizable buckets.
    *
    * @return width in the endpoint's natural units (seconds for
    *         timestamp/date endpoints, raw value for numerics)
    */
  def autoWidth(
      left: DataFrame, lStart: String, lStop: String,
      right: DataFrame, rStart: String, rStop: String,
      sampleFraction: Double = 0.05, seed: Long = 42L): Double = {
    def natural(df: DataFrame, c: String): Column = df.schema(c).dataType match {
      case DateType                         => unix_date(col(c)).cast("double") * 86400.0
      case TimestampType | TimestampNTZType => col(c).cast(TimestampType).cast("double")
      case _                                => col(c).cast("double")
    }
    def stats(df: DataFrame, a: String, b: String): (Double, Double) = {
      val lens = df
        .select((natural(df, b) - natural(df, a)).as("__graft_len"),
          natural(df, a).as("__graft_lo"), natural(df, b).as("__graft_hi"))
        .filter(col("__graft_len").isNotNull && !isnan(col("__graft_len")) &&
          col("__graft_len") >= 0)
      def agg(d: DataFrame) = d.agg(
        percentile_approx(col("__graft_len"), lit(0.5), lit(1000)),
        min(col("__graft_lo")), max(col("__graft_hi"))).head()
      val sampled = agg(lens.sample(withReplacement = false, sampleFraction, seed))
      val row = if (sampled.isNullAt(0)) agg(lens) else sampled
      if (row.isNullAt(0)) (0.0, 0.0)
      else (row.getDouble(0), row.getDouble(2) - row.getDouble(1))
    }
    val (lMed, lSpan) = stats(left, lStart, lStop)
    val (rMed, rSpan) = stats(right, rStart, rStop)
    val med = math.max(lMed, rMed)
    if (med > 0) med
    else {
      val span = math.max(lSpan, rSpan)
      if (span > 0) span / 4096.0 else 1.0
    }
  }
}

/** As-of join — the pandas `merge_asof` analog the reference cross-
  * references (`merging.py:117-120`): for every left row, the single
  * nearest right row at-or-before (`backward`) / at-or-after (`forward`)
  * the left timestamp, optionally within `tolerance` and per equality
  * keys. Built on the interval-join + window-dedup mechanism
  * ([[IntervalJoin]] `keep=first/last`, SURVEY.md §2.3).
  */
object AsOfJoin {

  /** @param direction "backward" (right.time <= left.time, take latest) or
    *                  "forward" (right.time >= left.time, take earliest)
    * @param tolerance  max |left.time − right.time| as a Column interval /
    *                  numeric delta; None = unbounded
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      on: Seq[String] = Nil,
      direction: String = "backward",
      tolerance: Option[Column] = None): DataFrame = {
    require(Seq("backward", "forward").contains(direction), s"direction=$direction")

    // as-of = interval join where the left "interval" extends from the
    // time minus/plus tolerance to the time, right side is a point, and
    // keep takes the right row nearest the boundary (by right time order)
    val lo = "__graft_asof_lo"
    val hi = "__graft_asof_hi"
    val prepared = direction match {
      case "backward" =>
        left
          .withColumn(hi, col(leftTime))
          .withColumn(lo, tolerance.map(t => col(leftTime) - t)
            .getOrElse(lit(null)))
      case "forward" =>
        left
          .withColumn(lo, col(leftTime))
          .withColumn(hi, tolerance.map(t => col(leftTime) + t)
            .getOrElse(lit(null)))
    }
    val spec = graft.core.IntervalSpec(
      if (tolerance.isDefined || direction == "forward") Some(lo) else None,
      if (tolerance.isDefined || direction == "backward") Some(hi) else None)
    // nearest by right's time: order the window dedup by a time-ordered id
    val ordered = right.orderBy(col(rightTime).asc)
    IntervalJoin(
      prepared, ordered,
      leftSpec = spec,
      rightSpec = graft.core.IntervalSpec.point(rightTime),
      on = on,
      how = "left",
      keep = if (direction == "backward") "last" else "first",
      keepOrder = false)
      .drop(lo, hi)
  }

  /** Merge-path as-of join — same contract as [[apply]] (how=left
    * semantics: every left row exactly once, nearest right at-or-before /
    * at-or-after within `tolerance`, right columns null when nothing
    * matches, overlapping names suffixed), executed as the classic
    * sorted-merge instead of join + dedup.
    *
    * Scale rationale: [[apply]] materializes one row per (left row,
    * candidate right row) pair before its keep-window collapses them —
    * with T days of tolerance and R right rows/day per key that is a
    * T·R× blowup of the left side. This plan unions the two inputs,
    * sorts ONCE per key by time inside a single window pass, and carries
    * the latest (or, mirrored, the earliest) right-row payload to each
    * left row with `last(_, ignoreNulls)` — one shuffle per side, one
    * sort, zero pair explosion, the plan that survives dense right
    * sides. Ties among right rows with equal (key, time) resolve to the
    * right frame's latest (backward) / earliest (forward) original row.
    *
    * Equality keys are REQUIRED: they are the window partitioning. (A
    * keyless merge would be a single global sorted partition — for
    * keyless as-of use [[apply]], whose binned/broadcast paths
    * parallelize it.)
    */
  def merge(
      left: DataFrame,
      right: DataFrame,
      leftTime: String,
      rightTime: String,
      on: Seq[String],
      direction: String = "backward",
      tolerance: Option[Column] = None,
      suffixes: (Option[String], Option[String]) = (Some("_x"), Some("_y"))): DataFrame = {
    require(Seq("backward", "forward").contains(direction), s"direction=$direction")
    require(on.nonEmpty,
      "AsOfJoin.merge needs equality keys (the window partitioning); " +
        "use AsOfJoin.apply for keyless as-of")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StructType

    val lType = StructType(left.schema.fields)
    val rType = StructType(right.schema.fields)
    val gt = "__graft_mt"; val src = "__graft_src"; val rid = "__graft_rid"
    val lpay = "__graft_lpay"; val rpay = "__graft_rpay"; val m = "__graft_m"

    // right rows with null time can never match; left rows with null time
    // surface with null right columns (guarded below — the sort would
    // otherwise place them before every timed row)
    val rPart = right.filter(col(rightTime).isNotNull)
      .withColumn(rid, monotonically_increasing_id())
      .select(on.map(col) ++ Seq(
        col(rightTime).as(gt), lit(0).as(src), col(rid),
        lit(null).cast(lType).as(lpay),
        struct(right.columns.map(col): _*).as(rpay)): _*)
    val lPart = left.select(on.map(col) ++ Seq(
      col(leftTime).as(gt), lit(1).as(src), lit(null).cast("long").as(rid),
      struct(left.columns.map(col): _*).as(lpay),
      lit(null).cast(rType).as(rpay)): _*)
    val unioned = lPart.unionByName(rPart)

    val pb = Window.partitionBy(on.map(col): _*)
    val picked = direction match {
      case "backward" =>
        // rights sort before lefts at equal time (inclusive match); the
        // running `last` carries the latest right payload at-or-before
        val w = pb.orderBy(col(gt).asc, col(src).asc, col(rid).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        unioned.withColumn(m, last(col(rpay), ignoreNulls = true).over(w))
      case "forward" =>
        // lefts sort before rights at equal time; mirror with `first`
        val w = pb.orderBy(col(gt).asc, col(src).desc, col(rid).asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        unioned.withColumn(m, first(col(rpay), ignoreNulls = true).over(w))
    }

    val tolOk: Column = tolerance match {
      case None => lit(true)
      case Some(tol) => direction match {
        case "backward" => col(m)(rightTime) >= col(gt) - tol
        case "forward"  => col(m)(rightTime) <= col(gt) + tol
      }
    }
    val guarded = picked.withColumn(m,
      when(col(gt).isNotNull && tolOk, col(m)))

    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty || suffixes._1.isDefined || suffixes._2.isDefined,
      s"overlapping columns ${overlap.toSeq.sorted.mkString(", ")} " +
        "require at least one non-None suffix")
    def outName(c: String, sfx: Option[String], ov: Boolean): String =
      if (ov) sfx.map(c + _).getOrElse(c) else c
    guarded.filter(col(src) === 1).select(
      left.columns.toSeq.map(c =>
        col(s"$lpay.$c").as(outName(c, suffixes._1, overlap(c)))) ++
      right.columns.toSeq.map(c =>
        col(s"$m.$c").as(outName(c, suffixes._2, overlap(c)))): _*)
  }
}
