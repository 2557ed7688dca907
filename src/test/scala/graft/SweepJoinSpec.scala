package graft

import graft.core.IntervalSpec
import graft.joins.SweepJoin
import org.apache.spark.sql.functions._

/** Specs for the custom-SparkPlan interval sweep join:
  * [[org.apache.spark.sql.graft.IntervalSweepJoinExec]] via the
  * [[graft.joins.SweepJoin]] wrapper.
  */
class SweepJoinSpec extends SparkSuite {
  import spark.implicits._

  /** Runs `body` with the session's broadcast threshold at `v`: "-1"
    * sends IntervalJoin's eligible shapes through the sweep, "1g" keeps
    * these small test sides on the plain join. */
  private def withBroadcastThreshold[A](v: String)(body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
    try body finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  private def ivals = Seq(
    // (grp, id, s, e)
    (1L, 10L, 0.0, 5.0),
    (1L, 11L, 3.0, 4.0),
    (1L, 12L, 6.0, 6.0),   // point interval
    (2L, 20L, 0.0, 100.0),
    (3L, 30L, 1.0, 2.0)
  ).toDF("grp", "iid", "s", "e")

  private def points = Seq(
    // (grp, id, p)
    (1L, 100L, 3.0),  // in 10 and 11
    (1L, 101L, 5.0),  // in 10 only (end-inclusive)
    (1L, 102L, 6.0),  // point-interval hit
    (1L, 103L, 9.0),  // no hit
    (2L, 200L, 50.0), // in 20
    (4L, 400L, 1.0)   // group absent on interval side
  ).toDF("grp", "pid", "p")

  test("sweep: hand fixture, closed endpoints, point intervals, key isolation") {
    val out = SweepJoin(ivals,
      points.select(col("grp").as("g2"), col("pid"), col("p")),
      Seq("grp"), Seq("g2"),
      IntervalSpec.closed("s", "e"), IntervalSpec.point("p"))
      .select("iid", "pid").as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 100L), (11L, 100L), (10L, 101L),
      (12L, 102L), (20L, 200L)))
  }

  test("sweep: open endpoints drop boundary matches") {
    val l = Seq((1L, 1L, 0.0, 5.0)).toDF("grp", "iid", "s", "e")
    val r = Seq((1L, 1L, 5.0), (1L, 2L, 0.0), (1L, 3L, 2.0))
      .toDF("g2", "pid", "p")
    def run(incS: Boolean, incE: Boolean) =
      SweepJoin(l, r, Seq("grp"), Seq("g2"),
        IntervalSpec(Some("s"), Some("e"), incS, incE),
        IntervalSpec.point("p"))
        .select("pid").as[Long].collect().toSet
    assert(run(true, true) == Set(1L, 2L, 3L))
    assert(run(true, false) == Set(2L, 3L))
    assert(run(false, true) == Set(1L, 3L))
    assert(run(false, false) == Set(3L))
  }

  test("sweep ≡ naive range join (randomized, overlap + containment)") {
    for (seed <- Seq(1, 2)) {
      val rnd = new scala.util.Random(seed)
      val li = (0 until 300).map { i =>
        val s = rnd.nextInt(100).toDouble
        (rnd.nextInt(5).toLong, i.toLong, s, s + rnd.nextInt(20))
      }
      val ri = (0 until 300).map { i =>
        val s = rnd.nextInt(100).toDouble
        (rnd.nextInt(5).toLong, i.toLong, s, s + rnd.nextInt(10))
      }
      val l = li.toDF("grp", "lid", "ls", "le")
      val r = ri.toDF("g2", "rid", "rs", "re")
      val got = SweepJoin(l, r, Seq("grp"), Seq("g2"),
        IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      val want = (for {
        (lg, lid, ls, le) <- li
        (rg, rid, rs, re) <- ri
        if lg == rg && rs <= le && re >= ls
      } yield (lid, rid)).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("sweep: partitioning-independent and keyless form") {
    val l = (0 until 200).map { i =>
      (i % 7L, i.toLong, (i % 13).toDouble, (i % 13 + 3).toDouble)
    }.toDF("grp", "lid", "ls", "le")
    val r = (0 until 150).map { i =>
      (i % 7L, i.toLong, (i % 11).toDouble)
    }.toDF("g2", "rid", "p")
    val base = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val shuffled = SweepJoin(
      l.repartition(13, col("lid")), r.repartition(3),
      Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(shuffled == base)
    // keyless: single-partition sweep, same pairs as an explicit
    // constant-key run
    val keyless = SweepJoin(l, r, Nil, Nil,
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val constKey = (for {
      (_, lid, ls, le) <- l.select("grp", "lid", "ls", "le")
        .as[(Long, Long, Double, Double)].collect()
      (_, rid, p) <- r.select("g2", "rid", "p")
        .as[(Long, Long, Double)].collect()
      if ls <= p && p <= le
    } yield (lid, rid)).toSet
    assert(keyless == constKey)
  }

  test("sweep: null keys and null/NaN endpoints never match; empty intervals dropped") {
    val l = Seq(
      (Some(1L), 1L, Some(0.0), Some(5.0)),
      (None,     2L, Some(0.0), Some(5.0)),   // null key
      (Some(1L), 3L, None,      Some(5.0)),   // null start
      (Some(1L), 4L, Some(Double.NaN), Some(5.0)), // NaN start
      (Some(1L), 5L, Some(9.0), Some(1.0))    // empty (s > e)
    ).toDF("grp", "lid", "ls", "le")
    val r = Seq((Some(1L), 1L, Some(3.0)), (None, 2L, Some(3.0)))
      .toDF("g2", "rid", "p")
    val got = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L)))
  }

  test("sweep plan: custom exec node, one exchange + one sort per side") {
    val l = ivals
    val r = points.select(col("grp").as("g2"), col("pid"), col("p"))
    val df = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("s", "e"), IntervalSpec.point("p"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("IntervalSweepJoin"), plan)
    val nExchange = "Exchange hashpartitioning".r.findAllIn(plan).length
    val nSort = "Sort \\[".r.findAllIn(plan).length
    assert(nExchange == 2, s"expected 2 exchanges:\n$plan")
    assert(nSort == 2, s"expected 2 sorts:\n$plan")
  }

  test("IntervalJoin sweep routing ≡ plain path (keep × nullSafe × closedness)") {
    import graft.joins.IntervalJoin
    val rnd = new scala.util.Random(5)
    val li = (0 until 200).map { i =>
      val s = rnd.nextInt(50).toDouble
      (if (i % 17 == 0) null else (i % 4).toLong.asInstanceOf[Any],
        s, s + rnd.nextInt(10))
    }
    val ri = (0 until 200).map { i =>
      val s = rnd.nextInt(50).toDouble
      (if (i % 13 == 0) null else (i % 4).toLong.asInstanceOf[Any],
        s, s + rnd.nextInt(6))
    }
    val l = li.map { case (g, s, e) => (g.asInstanceOf[java.lang.Long], s, e) }
      .toDF("g", "s", "e")
    val r = ri.map { case (g, s, e) => (g.asInstanceOf[java.lang.Long], s, e) }
      .toDF("g", "rs", "re")
    for {
      keep <- Seq("all", "first", "last", "both")
      nullSafe <- Seq(true, false)
      (incS, incE) <- Seq((true, true), (true, false), (false, true))
    } {
      def run(sw: Boolean) = withBroadcastThreshold(if (sw) "-1" else "1g") {
        val df = IntervalJoin(l, r,
          IntervalSpec(Some("s"), Some("e"), incS, incE),
          IntervalSpec.closed("rs", "re"),
          leftOn = Seq("g"), rightOn = Seq("g"),
          keep = keep, keepOrder = false, nullSafeKeys = nullSafe)
        assert(df.queryExecution.executedPlan.toString
          .contains("IntervalSweepJoin") == sw, s"sweep=$sw")
        df.collect().map(_.toSeq.map(Option(_))).toSet
      }
      assert(run(true) == run(false),
        s"keep=$keep nullSafe=$nullSafe inc=($incS,$incE)")
    }
  }

  test("sweep routing: small sides skip it, threshold -1 forces it") {
    import graft.joins.IntervalJoin
    val l = Seq((1L, 0.0, 5.0)).toDF("g", "s", "e")
    val r = Seq((1L, 1.0, 2.0)).toDF("g", "rs", "re")
    // broadcast-small sides under the default threshold: plain join plan
    val auto = IntervalJoin(l, r, IntervalSpec.closed("s", "e"),
      IntervalSpec.closed("rs", "re"), leftOn = Seq("g"), rightOn = Seq("g"),
      keepOrder = false)
    assert(!auto.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"))
    // broadcasting off: the sweep node appears and the result is identical
    withBroadcastThreshold("-1") {
      val forced = IntervalJoin(l, r, IntervalSpec.closed("s", "e"),
        IntervalSpec.closed("rs", "re"), leftOn = Seq("g"), rightOn = Seq("g"),
        keepOrder = false)
      assert(forced.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"))
      assert(forced.collect().toSeq.map(_.toSeq) == auto.collect().toSeq.map(_.toSeq))
      // ineligible shapes keep the plain join whatever the threshold
      val left = IntervalJoin(l, r, IntervalSpec.closed("s", "e"),
        IntervalSpec.closed("rs", "re"), leftOn = Seq("g"), rightOn = Seq("g"),
        how = "left", keepOrder = false)
      assert(!left.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"))
    }
  }

  test("auto routing: BHJ when a side is broadcast-small, sweep when neither is") {
    import graft.joins.IntervalJoin
    val l = (0 until 2000).map(i => (i % 5L, i.toDouble % 40, i % 40 + 5.0))
      .toDF("g", "s", "e")
    val r = (0 until 2000).map(i => (i % 5L, i.toDouble % 40, i % 40 + 3.0))
      .toDF("g", "rs", "re")
    def plan() = IntervalJoin(l, r, IntervalSpec.closed("s", "e"),
      IntervalSpec.closed("rs", "re"), leftOn = Seq("g"), rightOn = Seq("g"),
      keepOrder = false).queryExecution.executedPlan.toString
    // default 10m threshold: both sides are tiny -> Catalyst's broadcast
    // hash join (no shuffle of the big side) must win over the sweep
    val small = plan()
    assert(!small.contains("IntervalSweepJoin") &&
      small.contains("BroadcastHashJoin"), small)
    // 1kb threshold: neither side is broadcast-small -> shuffled plans
    // only, and the sweep is the shuffled plan of choice for this shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try assert(plan().contains("IntervalSweepJoin"), plan())
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("sweep: adversarial key degrades to spillable scan, results exact") {
    // one hostile key: every right interval spans the key's whole range,
    // so nothing is ever evicted — the unbounded buffer this guards
    // against. maxActive=4 forces the degraded (ExternalAppendOnlyUnsafe-
    // RowArray-backed) path for the key; a benign second key stays on the
    // in-memory sweep in the same run, proving per-key reset.
    val li = (0 until 40).map(i => (1L, i.toLong, i.toDouble, i + 0.5)) ++
      (0 until 10).map(i => (2L, 100L + i, i.toDouble, i + 2.0))
    val ri = (0 until 60).map(i => (1L, i.toLong, 0.0, 100.0)) ++ // hostile
      (0 until 10).map(i => (2L, 100L + i, i.toDouble, i + 1.0))
    val l = li.toDF("grp", "lid", "ls", "le")
    val r = ri.toDF("g2", "rid", "rs", "re")
    val want = (for {
      (lg, lid, ls, le) <- li
      (rg, rid, rs, re) <- ri
      if lg == rg && rs <= le && re >= ls
    } yield (lid, rid)).toSet
    spark.conf.set("spark.graft.sweep.maxActive", "4")
    try {
      for (keep <- Seq("all", "first", "last", "both")) {
        val got = SweepJoin(l, r, Seq("grp"), Seq("g2"),
          IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
          keep = keep, rightOrderCol = if (keep == "all") None else Some("rid"))
          .select("lid", "rid").as[(Long, Long)].collect().toSet
        val wantK = keep match {
          case "all" => want
          case "first" => want.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).min) }.toSet
          case "last" => want.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).max) }.toSet
          case "both" => want.groupBy(_._1).toSeq.flatMap { case (k, v) =>
            Seq((k, v.map(_._2).min), (k, v.map(_._2).max)) }.toSet
        }
        assert(got == wantK, s"keep=$keep")
      }
    } finally spark.conf.unset("spark.graft.sweep.maxActive")
  }

  test("sweep keep fusion: no post-join aggregation in the plan") {
    import graft.joins.IntervalJoin
    val l = (0 until 500).map(i => (i % 5L, i.toDouble % 40, i % 40 + 5.0))
      .toDF("g", "s", "e")
    val r = (0 until 500).map(i => (i % 5L, i.toDouble % 40, i % 40 + 3.0))
      .toDF("g", "rs", "re")
    def run() = IntervalJoin(l, r, IntervalSpec.closed("s", "e"),
      IntervalSpec.closed("rs", "re"), leftOn = Seq("g"), rightOn = Seq("g"),
      keep = "first", keepOrder = false)
    val fused = withBroadcastThreshold("-1") {
      val df = run()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("IntervalSweepJoin"), plan)
      assert(!plan.contains("HashAggregate"),
        s"keep should be fused into the sweep, not aggregated after:\n$plan")
      df.collect().map(_.toSeq).toSet
    }
    // and the fused result still matches the aggregation path
    val agg = withBroadcastThreshold("1g") {
      val df = run()
      assert(!df.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"))
      df.collect().map(_.toSeq).toSet
    }
    assert(fused == agg)
  }

  test("salted sweep: hot key sliced across >1 slice, results ≡ plain sweep") {
    import graft.joins.SaltedSweepJoin
    // one key (0) holds 50% of the left rows — the mega-entity shape;
    // the rest spread over 50 keys
    val rnd = new scala.util.Random(42)
    val li = (0 until 2000).map { i =>
      val g = if (i % 2 == 0) 0L else 1L + rnd.nextInt(50)
      val s = rnd.nextInt(1000).toDouble
      (g, i.toLong, s, s + rnd.nextInt(30))
    }
    val ri = (0 until 2000).map { i =>
      val g = if (i % 2 == 0) 0L else 1L + rnd.nextInt(50)
      val s = rnd.nextInt(1000).toDouble
      (g, i.toLong, s, s + rnd.nextInt(15))
    }
    val l = li.toDF("grp", "lid", "ls", "le")
    val r = ri.toDF("g2", "rid", "rs", "re")
    val plain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // key 0 holds 1000 rows a side: at 100 rows per task it wants 10
    // slices, so the cap sets the slice count
    for (slices <- Seq(2, 8)) {
      val salted = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
        IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
        targetRowsPerTask = 100, slicesCap = slices)
      assert(salted.queryExecution.executedPlan.toString.contains("__ss_salt"), s"slices=$slices")
      assert(salted.select("lid", "rid").as[(Long, Long)].collect().toSet == plain,
        s"slices=$slices")
    }
    // keep=first survives slicing (a left row's matches all meet it in
    // its one slice)
    val keepPlain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      keep = "first", rightOrderCol = Some("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val keepSalted = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      targetRowsPerTask = 100, slicesCap = 8,
      keep = "first", rightOrderCol = Some("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(keepSalted == keepPlain)
    // the hot key genuinely fans out: the sweep's shuffle key is
    // (grp, salt), so key 0 must occupy >1 (grp,salt) group — count
    // distinct salts the left assignment produces. Replicate the
    // assignment: boundaries are uniform over the hot key's start span.
    val hotStarts = li.filter(_._1 == 0L).map(_._3)
    val (mn, mx) = (hotStarts.min, hotStarts.max)
    val w = (mx - mn) / 8
    val saltsUsed = hotStarts.map(s =>
      math.min(7, math.max(0, math.floor((s - mn) / w).toInt))).distinct
    assert(saltsUsed.size > 1, "hot key should split across slices")
    // no hot keys → the wrapper returns the plain sweep unchanged
    val none = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      targetRowsPerTask = 100000, slicesCap = 8)
    assert(!none.queryExecution.executedPlan.toString.contains("__ss_salt"))
    assert(none.select("lid", "rid").as[(Long, Long)].collect().toSet == plain)
  }

  test("salted sweep: timestamp endpoints and zero-span hot key") {
    import graft.joins.SaltedSweepJoin
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val l = ((0 until 300).map(i => (1L, i.toLong, ts(i % 50), ts(i % 50 + 5))) ++
      Seq((2L, 900L, ts(10), ts(20)))).toDF("grp", "lid", "ls", "le")
    val r = ((0 until 100).map(i => (1L, i.toLong, ts(i % 55))) ++
      Seq((2L, 901L, ts(15)))).toDF("g2", "rid", "p")
    val plain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // key 1: 300 left rows at 75 per task -> 4 slices
    val salted = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"),
      targetRowsPerTask = 75, slicesCap = 4)
    assert(salted.queryExecution.executedPlan.toString.contains("__ss_salt"))
    assert(salted.select("lid", "rid").as[(Long, Long)].collect().toSet == plain)
    // zero-span hot key (every left start identical) degenerates cleanly
    val l0 = (0 until 500).map(i => (7L, i.toLong, 100.0, 100.0 + i % 10))
      .toDF("grp", "lid", "ls", "le")
    val r0 = (0 until 50).map(i => (7L, i.toLong, i.toDouble * 3))
      .toDF("g2", "rid", "p")
    val p0 = SweepJoin(l0, r0, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val s0 = SaltedSweepJoin.auto(l0, r0, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"),
      targetRowsPerTask = 100, slicesCap = 4)
    assert(s0.queryExecution.executedPlan.toString.contains("__ss_salt"))
    assert(s0.select("lid", "rid").as[(Long, Long)].collect().toSet == p0)
  }

  test("sweep: timestamp endpoints") {
    val l = Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("grp", "lid", "ls", "le")
    val r = Seq(
      (1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")),
      (1L, 2L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00")))
      .toDF("g2", "rid", "p")
    val got = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("rid").as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("salted sweep: non-finite endpoint stats leave the key unsliced, rows kept") {
    import graft.joins.SaltedSweepJoin
    // hot key 0 has one -inf start — its stats are non-finite, so the
    // key must stay on slice 0 (pre-fix: w became ∞, every right row of
    // the key was silently dropped)
    val li = ((0 until 600).map(i => (0L, i.toLong, (i % 50).toDouble, i % 50 + 5.0)) :+
      ((0L, 999L, Double.NegativeInfinity, 3.0))) ++
      (0 until 100).map(i => (1L + i % 5, 1000L + i, (i % 20).toDouble, i % 20 + 4.0))
    val l = li.toDF("grp", "lid", "ls", "le")
    val r = ((0 until 200).map(i => (0L, i.toLong, (i % 60).toDouble)) ++
      (0 until 50).map(i => (1L + i % 5, 500L + i, (i % 25).toDouble)))
      .toDF("g2", "rid", "p")
    val plain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // key 0 is hot on the left (601 rows vs 200 right), so the left's
    // non-finite stats are the ones the slicing must refuse
    val salted = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"),
      targetRowsPerTask = 200, slicesCap = 4)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(salted == plain)
    assert(plain.exists(_._1 == 999L), "the -inf-start row itself matches")
  }

  test("salted sweep: infinite RIGHT endpoints on a hot key replicate correctly") {
    import graft.joins.SaltedSweepJoin
    // key 0 is hot with finite left stats; right rows include [-inf, x],
    // [x, +inf] and [-inf, +inf] intervals — floor(±∞) saturation must
    // not wrap the slice range empty
    val l = (0 until 600).map(i => (0L, i.toLong, (i % 50).toDouble, i % 50 + 5.0))
      .toDF("grp", "lid", "ls", "le")
    val r = ((0 until 100).map(i => (0L, i.toLong, (i % 60).toDouble, i % 60 + 3.0)) ++
      Seq((0L, 900L, Double.NegativeInfinity, 10.0),
          (0L, 901L, 40.0, Double.PositiveInfinity),
          (0L, 902L, Double.NegativeInfinity, Double.PositiveInfinity),
          (0L, 903L, Double.PositiveInfinity, Double.PositiveInfinity),
          (0L, 904L, Double.NegativeInfinity, Double.NegativeInfinity)))
      .toDF("g2", "rid", "rs", "re")
    val plain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    // key 0: 600 left rows at 150 per task -> 4 left slices (the right
    // side's 105 rows stay under the threshold, so the left is sliced)
    val salted = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      targetRowsPerTask = 150, slicesCap = 4)
    assert(salted.queryExecution.executedPlan.toString.contains("__ss_salt"))
    assert(salted.select("lid", "rid").as[(Long, Long)].collect().toSet == plain)
    assert(plain.exists(_._2 == 900L) && plain.exists(_._2 == 901L) &&
      plain.exists(_._2 == 902L))
  }

  test("salted sweep: crossed key order with colliding names, and half-open refusal") {
    import graft.joins.SaltedSweepJoin
    // leftOn=[a,b] vs rightOn=[b,a]: the RIGHT's column literally named
    // "b" pairs with the left "a" — sequential renames would collide
    val l = (0 until 500).map(i => (0L, 7L, i.toLong, (i % 40).toDouble, i % 40 + 6.0))
      .toDF("a", "b", "lid", "ls", "le")
    val r = (0 until 300).map(i => (7L, 0L, 1000L + i, (i % 55).toDouble))
      .toDF("b2", "a2", "rid", "p")
    val plain = SweepJoin(l, r, Seq("a", "b"), Seq("a2", "b2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val salted = SaltedSweepJoin.auto(l, r, Seq("a", "b"), Seq("a2", "b2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"),
      targetRowsPerTask = 100, slicesCap = 4)
    assert(salted.queryExecution.executedPlan.toString.contains("__ss_salt"))
    assert(salted.select("lid", "rid").as[(Long, Long)].collect().toSet == plain)
    val ex = intercept[IllegalArgumentException] {
      SaltedSweepJoin.auto(l, r, Seq("a", "b"), Seq("a2", "b2"),
        IntervalSpec.unboundedAbove("ls"), IntervalSpec.point("p"))
    }
    assert(ex.getMessage.contains("bounded intervals"), ex.getMessage)
    // a cap under 2 slices is refused (0 would drop the hot key's rows)
    intercept[IllegalArgumentException] {
      SaltedSweepJoin.auto(l, r, Seq("a", "b"), Seq("a2", "b2"),
        IntervalSpec.closed("ls", "le"), IntervalSpec.point("p"), slicesCap = 0)
    }
  }

  test("auto salted sweep: detects skew with no knobs, picks the heavy side") {
    import graft.joins.SaltedSweepJoin
    val rnd = new scala.util.Random(7)
    // RIGHT-heavy skew: key 0 holds 60% of the right rows, left is flat
    val l = (0 until 800).map { i =>
      (1L + i % 40, i.toLong, rnd.nextInt(500).toDouble,
        rnd.nextInt(500) + 20.0)
    }.union((0 until 200).map(i =>
      (0L, 10000L + i, rnd.nextInt(500).toDouble, rnd.nextInt(500) + 20.0)))
      .toDF("grp", "lid", "ls", "le")
    val r = (0 until 3000).map { i =>
      val g = if (i % 10 < 6) 0L else 1L + rnd.nextInt(40)
      val s = rnd.nextInt(500).toDouble
      (g, i.toLong, s, s + rnd.nextInt(25))
    }.toDF("g2", "rid", "rs", "re")
    val plain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val auto = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      targetRowsPerTask = 300)
    assert(auto.columns.toSeq ==
      Seq("grp", "lid", "ls", "le", "g2", "rid", "rs", "re"),
      "right-side slicing must re-project to left ++ right column order")
    assert(auto.queryExecution.executedPlan.toString.contains("__ss_salt"),
      "skew detected -> salted plan")
    assert(auto.select("lid", "rid").as[(Long, Long)].collect().toSet == plain)
    // keep != all forces LEFT slicing (per-left-row semantics) and still
    // matches the plain sweep
    val keepPlain = SweepJoin(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      keep = "first", rightOrderCol = Some("rid"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val keepAuto = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"),
      keep = "first", rightOrderCol = Some("rid"), targetRowsPerTask = 140)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(keepAuto == keepPlain)
    // balanced data: derived threshold finds nothing hot -> plain plan
    val flat = SaltedSweepJoin.auto(l.filter(col("grp") =!= 0L), r.filter(col("g2") =!= 0L),
      Seq("grp"), Seq("g2"),
      IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
    assert(!flat.queryExecution.executedPlan.toString.contains("__ss_salt"),
      "no skew -> the plain sweep plan, zero salting overhead")
  }

  test("autoProbed: folded danger probe returns None on danger, " +
      "else exactly auto's rows") {
    import graft.joins.SaltedSweepJoin
    val l = (0 until 600).map(i =>
      (i % 5L, i.toLong, (i % 50).toDouble, (i % 50) + 10.0))
      .toDF("grp", "lid", "ls", "le")
    val r = (0 until 600).map(i =>
      (i % 5L, 1000L + i, (i % 60).toDouble, (i % 60) + 5.0))
      .toDF("g2", "rid", "rs", "re")
    val lSpec = IntervalSpec.closed("ls", "le")
    val rSpec = IntervalSpec.closed("rs", "re")
    def probed(lf: org.apache.spark.sql.DataFrame) =
      SaltedSweepJoin.autoProbed(lf, r, Seq("grp"), Seq("g2"),
        lSpec, rSpec,
        dangerL = Some(!graft.core.Intervals.nonEmpty(lf, lSpec) &&
          col("ls").isNotNull && col("le").isNotNull),
        dangerR = None)
    // no danger: the probed call is Some and row-identical to auto
    val want = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
      lSpec, rSpec).select("lid", "rid").as[(Long, Long)].collect().toSet
    val got = probed(l).getOrElse(fail("no danger yet autoProbed = None"))
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    // ONE inverted (non-null-endpoint empty) interval → None: the
    // caller must fall back to the conjunct-exact raw plan
    val poisoned = l.unionByName(
      Seq((0L, 9999L, 50.0, 3.0)).toDF("grp", "lid", "ls", "le"))
    assert(probed(poisoned).isEmpty,
      "danger row present but autoProbed returned a result")
  }

  test("auto salted sweep ≡ plain sweep (randomized: skew side × keep × closedness)") {
    import graft.joins.SaltedSweepJoin
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // plant a hot key on a pseudo-random side; everything else varies
      val hotOnLeft = seed % 2 == 0
      val nKeys = 1 + rnd.nextInt(30)
      def rows(n: Int, hot: Boolean, idBase: Long, maxLen: Int) =
        (0 until n).map { i =>
          val g = if (hot && i % 5 < 3) 0L else rnd.nextInt(nKeys).toLong
          val s = rnd.nextInt(200).toDouble
          (g, idBase + i, s, s + rnd.nextInt(maxLen))
        }
      val l = rows(600, hotOnLeft, 0L, 30).toDF("grp", "lid", "ls", "le")
      val r = rows(900, !hotOnLeft, 10000L, 12).toDF("g2", "rid", "rs", "re")
      val spec = if (seed % 3 == 0)
        (IntervalSpec(Some("ls"), Some("le"),
          includeStart = false, includeStop = false),
          IntervalSpec.closed("rs", "re"))
      else (IntervalSpec.closed("ls", "le"), IntervalSpec.closed("rs", "re"))
      val keep = Seq("all", "first", "last")(seed % 3)
      val ord = if (keep == "all") None else Some("rid")
      def pairs(d: org.apache.spark.sql.DataFrame) =
        d.select("lid", "rid").as[(Long, Long)].collect().toSet
      val plain = pairs(SweepJoin(l, r, Seq("grp"), Seq("g2"),
        spec._1, spec._2, keep = keep, rightOrderCol = ord))
      val auto = SaltedSweepJoin.auto(l, r, Seq("grp"), Seq("g2"),
        spec._1, spec._2, keep = keep, rightOrderCol = ord,
        targetRowsPerTask = 100)
      assert(auto.queryExecution.executedPlan.toString.contains("__ss_salt"),
        s"seed=$seed: the planted hot key must trip the derived threshold")
      assert(pairs(auto) == plain, s"seed=$seed keep=$keep hotLeft=$hotOnLeft")
    }
  }

  test("IntervalJoin skewGuard: auto-salted sweep behind the high-level API") {
    import graft.joins.IntervalJoin
    val rnd = new scala.util.Random(11)
    val l = (0 until 2000).map { i =>
      val g = if (i % 2 == 0) 0L else 1L + rnd.nextInt(50)
      val st = rnd.nextInt(1000).toDouble
      (g, i.toLong, st, st + rnd.nextInt(30))
    }.toDF("grp", "lid", "ls", "le")
    val r = (0 until 2000).map { i =>
      val g = if (i % 2 == 0) 0L else 1L + rnd.nextInt(50)
      val st = rnd.nextInt(1000).toDouble
      (g, 5000L + i, st, st + rnd.nextInt(15))
    }.toDF("grp", "rid", "rs", "re")
    spark.conf.set("spark.graft.skew.targetRowsPerTask", "300")
    // broadcasting off: both calls take IntervalJoin's sweep route
    try withBroadcastThreshold("-1") {
      val guarded = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
        IntervalSpec.closed("rs", "re"), on = Seq("grp"), skewGuard = true)
      assert(guarded.queryExecution.executedPlan.toString.contains("__ss_salt"),
        "hot key must be sliced under the guard")
      val plain = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
        IntervalSpec.closed("rs", "re"), on = Seq("grp"))
      assert(plain.queryExecution.executedPlan.toString.contains("IntervalSweepJoin"))
      def key(d: org.apache.spark.sql.DataFrame) =
        d.select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(key(guarded) == key(plain))
      // keep=first through the guard: fused keep + left slicing
      val gKeep = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
        IntervalSpec.closed("rs", "re"), on = Seq("grp"),
        keep = "first", keepOrder = false, skewGuard = true)
      val pKeep = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
        IntervalSpec.closed("rs", "re"), on = Seq("grp"),
        keep = "first", keepOrder = false)
      assert(key(gKeep) == key(pKeep))
    } finally spark.conf.unset("spark.graft.skew.targetRowsPerTask")
  }
}
