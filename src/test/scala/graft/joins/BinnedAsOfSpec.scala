package graft.joins

import graft.SparkSuite
import graft.core.IntervalSpec
import org.apache.spark.sql.functions._

/** Specs for the binned interval join (`IntervalJoin(binWidth = ...)`
  * and its `Ops.binnedIntervalJoin` facade) and the as-of join. */
class BinnedAsOfSpec extends SparkSuite {
  import spark.implicits._

  test("binned interval join ≡ keyless IntervalJoin on random intervals") {
    val rnd = new scala.util.Random(7)
    val mk = (n: Int, maxLen: Double) => (0 until n).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, s, s + rnd.nextDouble() * maxLen)
    }
    val l = mk(80, 5.0).toDF("lid", "ls", "le")
    val r = mk(60, 9.0).toDF("rid", "rs", "re")

    val got = graft.Ops.binnedIntervalJoin(l, r, "ls", "le", "rs", "re", binWidth = 4.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = IntervalJoin(
      l, r,
      leftSpec = IntervalSpec.closed("ls", "le"),
      rightSpec = IntervalSpec.closed("rs", "re"),
      keepOrder = false)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("binned interval join with equality keys ≡ keyed IntervalJoin") {
    val rnd = new scala.util.Random(11)
    val mk = (n: Int, maxLen: Double) => (0 until n).map { i =>
      val s = rnd.nextDouble() * 100
      (i.toLong, rnd.nextInt(4), s, s + rnd.nextDouble() * maxLen)
    }
    val l = mk(80, 5.0).toDF("lid", "g", "ls", "le")
    val r = mk(60, 9.0).toDF("rid", "g", "rs", "re")

    val got = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
      IntervalSpec.closed("rs", "re"), on = Seq("g"), binWidth = Some(4.0),
      suffixes = (None, Some("_r")), keepOrder = false)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = IntervalJoin(
      l, r,
      leftSpec = IntervalSpec.closed("ls", "le"),
      rightSpec = IntervalSpec.closed("rs", "re"),
      on = Seq("g"),
      keepOrder = false)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("IntervalJoin binWidth path ≡ plain plan across how × keep") {
    val rnd = new scala.util.Random(23)
    val mk = (n: Int, maxLen: Double) => (0 until n).map { i =>
      val s = rnd.nextDouble() * 50
      (i.toLong, rnd.nextInt(3), s, s + rnd.nextDouble() * maxLen)
    }
    val l = mk(60, 6.0).toDF("lid", "g", "ls", "le")
    val r = mk(45, 10.0).toDF("rid", "g", "rs", "re")

    for (how <- Seq("inner", "left", "right", "outer");
         keep <- Seq("all", "first", "last", "both")) {
      def run(bw: Option[Double]) = IntervalJoin(
        l, r,
        leftSpec = IntervalSpec.closed("ls", "le"),
        rightSpec = IntervalSpec.closed("rs", "re"),
        on = Seq("g"), how = how, keep = keep, keepOrder = false,
        leftIdCol = Some("lid"), rightIdCol = Some("rid"),
        binWidth = bw)
        .select(col("lid"), col("rid"))
        .collect()
        .map(row => (Option(row.get(0)), Option(row.get(1))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(run(Some(4.0)) == run(None), s"how=$how keep=$keep")
    }
  }

  test("IntervalJoin binWidth path ≡ plain plan with open endpoints") {
    // integer-valued endpoints force frequent boundary touches, where
    // open/closed semantics actually differ
    val rnd = new scala.util.Random(31)
    val mk = (n: Int) => (0 until n).map { i =>
      val s = rnd.nextInt(20).toDouble
      (i.toLong, s, s + rnd.nextInt(5).toDouble)
    }
    val l = mk(50).toDF("lid", "ls", "le")
    val r = mk(40).toDF("rid", "rs", "re")
    for (incS <- Seq(true, false); incE <- Seq(true, false)) {
      def run(bw: Option[Double]) = IntervalJoin(
        l, r,
        leftSpec = IntervalSpec(Some("ls"), Some("le"), incS, incE),
        rightSpec = IntervalSpec(Some("rs"), Some("re"), incE, incS),
        keepOrder = false,
        leftIdCol = Some("lid"), rightIdCol = Some("rid"),
        binWidth = bw)
        .select("lid", "rid").as[(Long, Long)].collect().toSet
      assert(run(Some(3.0)) == run(None), s"incS=$incS incE=$incE")
    }
  }

  test("binned join emits each overlapping pair exactly once") {
    // long intervals spanning many bins must not duplicate matches
    val l = Seq((1L, 0.0, 100.0)).toDF("lid", "ls", "le")
    val r = Seq((2L, 50.0, 60.0), (3L, -5.0, 0.0), (4L, 100.0, 110.0),
      (5L, 200.0, 201.0)).toDF("rid", "rs", "re")
    val got = graft.Ops.binnedIntervalJoin(l, r, "ls", "le", "rs", "re", binWidth = 3.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((1L, 2L), (1L, 3L), (1L, 4L)))
  }

  test("as-of join backward/forward with and without tolerance") {
    val left = Seq((1L, "a", 10.0), (2L, "a", 4.9), (3L, "b", 7.0), (4L, "a", 0.5))
      .toDF("lid", "k", "t")
    val right = Seq(("a", 1.0, 100.0), ("a", 5.0, 200.0), ("a", 9.0, 300.0),
      ("b", 8.0, 400.0)).toDF("k", "rt", "v")

    def run(dir: String, tol: Option[Double]) =
      AsOfJoin(left, right, "t", "rt", on = Seq("k"), direction = dir,
        tolerance = tol.map(lit))
        .select(col("lid"), col("v"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap

    val back = run("backward", None)
    assert(back(1L).contains(300.0)) // latest rt <= 10
    assert(back(2L).contains(100.0)) // rt=1 (5.0 > 4.9)
    assert(back(3L).isEmpty)         // b has only rt=8 > 7
    assert(back(4L).isEmpty)         // nothing <= 0.5

    val backTol = run("backward", Some(2.0))
    assert(backTol(1L).contains(300.0)) // 9 within [8,10]
    assert(backTol(2L).isEmpty)         // 1 not within [2.9,4.9]

    val fwd = run("forward", None)
    assert(fwd(1L).isEmpty)          // nothing >= 10 for a
    assert(fwd(2L).contains(200.0))  // earliest rt >= 4.9
    assert(fwd(3L).contains(400.0))
    assert(fwd(4L).contains(100.0))

    val fwdTol = run("forward", Some(1.0))
    assert(fwdTol(2L).contains(200.0)) // 5.0 within [4.9, 5.9]
    assert(fwdTol(4L).contains(100.0)) // 1.0 within [0.5, 1.5]
    assert(fwdTol(1L).isEmpty)         // nothing in [10, 11]
  }

  test("as-of merge path ≡ join path (directions × tolerance, random keyed data)") {
    val rnd = new scala.util.Random(23)
    // distinct (key, time) pairs on the right: equal-time tie order is
    // the one contract point where the two paths may legitimately differ
    val right = rnd.shuffle((0 until 6).flatMap { k =>
      (0 until 40).map(t => (s"k$k", t * 2.5 + k * 0.1, rnd.nextInt(1000)))
    }).zipWithIndex.map { case ((k, t, v), i) => (k, t, v, i.toLong) }
      .toDF("k", "rt", "v", "rrow")
    val left = (0 until 300).map { i =>
      val k = if (i % 11 == 10) "k_unmatched" else s"k${rnd.nextInt(6)}"
      (i.toLong, k, rnd.nextDouble() * 110 - 5)
    }.toDF("lid", "k", "t")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rt", "v").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
        .sortBy(_._1).toSeq
    for (dir <- Seq("backward", "forward"); tol <- Seq(None, Some(3.0))) {
      val viaJoin = canon(AsOfJoin(left, right, "t", "rt", on = Seq("k"),
        direction = dir, tolerance = tol.map(lit)))
      val viaMerge = canon(AsOfJoin.merge(left, right, "t", "rt",
        on = Seq("k"), direction = dir, tolerance = tol.map(lit)))
      assert(viaJoin.size == 300 && viaMerge.size == 300,
        s"how=left row accounting, dir=$dir tol=$tol")
      assert(viaMerge == viaJoin, s"dir=$dir tol=$tol")
    }

    // merge requires keys (keyless would be a single sorted partition)
    intercept[IllegalArgumentException] {
      AsOfJoin.merge(left, right, "t", "rt", on = Nil)
    }
  }

  test("binned completion is exact with generated ids off repartitioned inputs") {
    // ADVICE r2 regression: with leftIdCol/rightIdCol = None the non-inner
    // completion used to re-evaluate monotonically_increasing_id() in two
    // subtrees (matched + anti-join); off a non-stable child the ids can
    // disagree and drop/duplicate unmatched rows. The localCheckpoint pin
    // must keep the binned plan ≡ the plain plan.
    val rnd = new scala.util.Random(31)
    val mk = (n: Int, maxLen: Double) => (0 until n).map { i =>
      val s = rnd.nextDouble() * 50
      (i.toLong, rnd.nextInt(3), s, s + rnd.nextDouble() * maxLen)
    }
    val l = mk(60, 4.0).toDF("lid", "g", "ls", "le").repartition(7)
    val r = mk(45, 8.0).toDF("rid", "g", "rs", "re").repartition(5)
    for (how <- Seq("left", "right", "outer")) {
      def run(bw: Option[Double]) = IntervalJoin(
        l, r,
        leftSpec = IntervalSpec.closed("ls", "le"),
        rightSpec = IntervalSpec.closed("rs", "re"),
        on = Seq("g"), how = how, keepOrder = false,
        binWidth = bw)
        .select(col("lid"), col("rid"))
        .collect()
        .map(row => (Option(row.get(0)), Option(row.get(1))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(run(Some(4.0)) == run(None), s"how=$how")
    }
  }

  test("binned join with null equality keys matches keyed IntervalJoin (<=>)") {
    // regression: the binned join once used ===, so null keys never
    // matched; keyed IntervalJoin joins with <=> where they match each other.
    val l = Seq((1L, Integer.valueOf(1), 0.0, 5.0),
      (2L, null.asInstanceOf[Integer], 0.0, 5.0))
      .toDF("lid", "g", "ls", "le")
    val r = Seq((10L, Integer.valueOf(1), 1.0, 2.0),
      (11L, null.asInstanceOf[Integer], 1.0, 2.0))
      .toDF("rid", "g", "rs", "re")
    val got = IntervalJoin(l, r, IntervalSpec.closed("ls", "le"),
      IntervalSpec.closed("rs", "re"), on = Seq("g"), binWidth = Some(2.0),
      suffixes = (None, Some("_r")), keepOrder = false)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    val want = IntervalJoin(
      l, r,
      leftSpec = IntervalSpec.closed("ls", "le"),
      rightSpec = IntervalSpec.closed("rs", "re"),
      on = Seq("g"), keepOrder = false)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(got == Set((1L, 10L), (2L, 11L)))
  }

  test("nullSafeKeys=false ≡ default on non-null keys (how=inner/left/outer)") {
    val rnd = new scala.util.Random(43)
    val mk = (n: Int, maxLen: Double) => (0 until n).map { i =>
      val s = rnd.nextDouble() * 50
      (i.toLong, rnd.nextInt(3), s, s + rnd.nextDouble() * maxLen)
    }
    val l = mk(50, 5.0).toDF("lid", "g", "ls", "le")
    val r = mk(40, 9.0).toDF("rid", "g", "rs", "re")
    for (how <- Seq("inner", "left", "outer")) {
      def run(nsk: Boolean) = IntervalJoin(
        l, r,
        leftSpec = IntervalSpec.closed("ls", "le"),
        rightSpec = IntervalSpec.closed("rs", "re"),
        on = Seq("g"), how = how, keepOrder = false, nullSafeKeys = nsk)
        .select(col("lid"), col("rid"))
        .collect()
        .map(row => (Option(row.get(0)), Option(row.get(1))))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(run(false) == run(true), s"how=$how")
    }
  }

  test("as-of join: exact time match included, ties take last occurrence") {
    val left = Seq((1L, 5.0)).toDF("lid", "t")
    val right = Seq((10L, 5.0, 1.0), (11L, 5.0, 2.0)).toDF("rid", "rt", "v")
    val got = AsOfJoin(left, right, "t", "rt")
      .select("lid", "v").collect()
    assert(got.length == 1)
    assert(got(0).getDouble(1) == 2.0) // later original occurrence wins
  }
}
