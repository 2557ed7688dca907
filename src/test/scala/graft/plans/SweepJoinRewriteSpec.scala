package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[SweepJoinRewrite]] must be invisible semantically: a plain keyed
  * DataFrame range join planned through the custom sweep exec returns
  * exactly the rows of the un-rewritten join — strict and non-strict
  * inequalities, null keys/endpoints, residual conjuncts included.
  */
class SweepJoinRewriteSpec extends SparkSuite {
  import spark.implicits._

  private def withRule[A](autoSalt: Boolean = false)(body: => A): A = {
    val prev = spark.experimental.extraOptimizations
    val cl = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val prevStrat = cl.experimental.extraStrategies
    spark.experimental.extraOptimizations = prev :+ SweepJoinRewrite
    cl.experimental.extraStrategies =
      prevStrat :+ org.apache.spark.sql.graft.IntervalSweepStrategy
    spark.conf.set(SweepJoinRewrite.enabledKey, "true")
    spark.conf.set(SweepJoinRewrite.autoSaltKey, autoSalt.toString)
    try body
    finally {
      spark.experimental.extraOptimizations = prev
      cl.experimental.extraStrategies = prevStrat
      spark.conf.unset(SweepJoinRewrite.enabledKey)
      spark.conf.unset(SweepJoinRewrite.autoSaltKey)
    }
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def frames = {
    val rnd = new scala.util.Random(3)
    val l = (0 until 300).map { i =>
      val s = rnd.nextInt(200).toLong
      (if (i % 19 == 0) null else java.lang.Long.valueOf(i % 6),
        i.toLong, java.lang.Long.valueOf(s),
        if (i % 23 == 0) null else java.lang.Long.valueOf(s + rnd.nextInt(30)))
    }.toDF("g", "lid", "s", "e")
    val r = (0 until 250).map { i =>
      val s = rnd.nextInt(200).toLong
      (if (i % 13 == 0) null else java.lang.Long.valueOf(i % 6),
        i.toLong, java.lang.Long.valueOf(s),
        java.lang.Long.valueOf(s + rnd.nextInt(20)))
    }.toDF("g2", "rid", "rs", "re")
    (l, r)
  }

  test("keyed range join plans as the sweep exec, rows identical") {
    val (l, r) = frames
    for ((c1, c2) <- Seq(
        (col("s") <= col("re"), col("rs") <= col("e")),   // closed
        (col("s") < col("re"), col("rs") < col("e")),     // open
        (col("s") <= col("re"), col("rs") < col("e")))) { // mixed
      def q: DataFrame = l.join(r, col("g") === col("g2") && c1 && c2)
      val expected = rows(q) // rule inert without the conf
      withRule() {
        val planned = q
        val phys = planned.queryExecution.executedPlan.toString
        assert(phys.contains("IntervalSweepJoin"), s"rule did not fire:\n$phys")
        assert(rows(planned) == expected)
      }
    }
  }

  test("null-safe keys and residual conjuncts survive the rewrite") {
    val (l, r) = frames
    // <=> keys: null groups match each other; plus a residual cross-side
    // predicate that must become a post-filter on the sweep output
    def q: DataFrame = l.join(r, col("g") <=> col("g2") &&
      col("s") <= col("re") && col("rs") <= col("e") &&
      (col("lid") + col("rid")) % 3 =!= 0)
    val expected = rows(q)
    withRule() {
      val planned = q
      val phys = planned.queryExecution.executedPlan.toString
      assert(phys.contains("IntervalSweepJoin"), phys)
      assert(rows(planned) == expected)
    }
  }

  test("out-of-scope shapes are left alone") {
    val (l, r) = frames
    withRule() {
      // keyless: BinnedJoinRewrite's territory
      val keyless = l.join(r, col("s") <= col("re") && col("rs") <= col("e"))
      assert(!keyless.queryExecution.optimizedPlan.toString
        .contains("IntervalSweepJoin"))
      // mixed =/<=> key semantics
      val mixed = l.join(r, col("g") === col("g2") && col("lid") <=> col("rid") &&
        col("s") <= col("re") && col("rs") <= col("e"))
      assert(!mixed.queryExecution.optimizedPlan.toString
        .contains("IntervalSweepJoin"))
      // only one range direction (no opposing pair)
      val oneSided = l.join(r, col("g") === col("g2") && col("s") <= col("re"))
      assert(!oneSided.queryExecution.optimizedPlan.toString
        .contains("IntervalSweepJoin"))
    }
  }

  test("GraftExtensions wiring installs rule + strategy in a fresh session") {
    import org.apache.spark.sql.SparkSession
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions()(_))
        .config(SweepJoinRewrite.enabledKey, "true")
        .getOrCreate()
      import s2.implicits._
      val l = Seq((1L, 0L, 10L), (1L, 50L, 60L), (2L, 0L, 10L))
        .toDF("g", "s", "e")
      val r = Seq((1L, 5L, 55L), (2L, 90L, 99L)).toDF("g2", "rs", "re")
      val q = l.join(r, col("g") === col("g2") &&
        col("s") <= col("re") && col("rs") <= col("e"))
      // default routing is the deferred auto-salt dispatch
      assert(q.queryExecution.executedPlan.toString
        .contains("AutoSaltedSweepDispatch"))
      assert(q.count() == 2)
    } finally {
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  test("skewed declarative join routes through the deferred auto-salt " +
      "dispatch: rows = plain join = operator API") {
    import graft.core.IntervalSpec
    // one mega-key (g=0 holds ~2/3 of both sides) — the mega-entity shape
    val rnd = new scala.util.Random(17)
    val l = (0 until 3000).map { i =>
      val s = rnd.nextInt(5000).toLong
      (if (i % 3 != 0) 0L else (i % 97).toLong, i.toLong, s,
        s + rnd.nextInt(40))
    }.toDF("g", "lid", "s", "e")
    val r = (0 until 3000).map { i =>
      val s = rnd.nextInt(5000).toLong
      (if (i % 3 != 0) 0L else (i % 97).toLong, i.toLong, s,
        s + rnd.nextInt(25))
    }.toDF("g2", "rid", "rs", "re")
    def q: DataFrame = l.join(r, col("g") === col("g2") &&
      col("s") <= col("re") && col("rs") <= col("e"))
    val expected = rows(q)
    // force the derived threshold low enough that test-scale counts are
    // "hot" (production floor is 64Ki rows/key)
    spark.conf.set("spark.graft.skew.targetRowsPerTask", "200")
    try withRule(autoSalt = true) {
      val planned = q
      val phys = planned.queryExecution.executedPlan.toString
      assert(phys.contains("AutoSaltedSweepDispatch"),
        s"dispatch did not plan:\n$phys")
      assert(rows(planned) == expected)
      // and the rule-planned result IS the operator API's salted result
      val viaOperator = graft.joins.SaltedSweepJoin.auto(
        l, r, Seq("g"), Seq("g2"),
        IntervalSpec.closed("s", "e"), IntervalSpec.closed("rs", "re"),
        targetRowsPerTask = 200)
      assert(rows(planned) == rows(viaOperator))
    } finally spark.conf.unset("spark.graft.skew.targetRowsPerTask")
  }

  test("dispatch falls back to the raw sweep on data the operator " +
      "ingress filter would drop (inverted intervals keep their matches)") {
    // left row [5, 3] is EMPTY by the interval convention but the raw
    // conjuncts s <= re && rs <= e match it against [2, 10]; the
    // operator chain would silently drop the pair, so the dispatch must
    // detect it and take the conjunct-exact path
    val l = Seq((1L, 10L, 5L, 3L), (1L, 11L, 1L, 2L))
      .toDF("g", "lid", "s", "e")
    val r = Seq((1L, 20L, 2L, 10L), (1L, 21L, 7L, 8L))
      .toDF("g2", "rid", "rs", "re")
    def q: DataFrame = l.join(r, col("g") === col("g2") &&
      col("s") <= col("re") && col("rs") <= col("e"))
    val expected = rows(q)
    assert(expected.exists(_.startsWith("1|10|5|3")),
      "fixture must contain an inverted-interval match")
    withRule(autoSalt = true) {
      val planned = q
      assert(planned.queryExecution.executedPlan.toString
        .contains("AutoSaltedSweepDispatch"))
      assert(rows(planned) == expected)
    }
  }

  test("dispatch executes under a codegen'd aggregate over PARQUET " +
      "scans (regression: logical children must not enter the task)") {
    // toDF children are serializable LocalRelations, so only a
    // file-backed plan exercises the failure mode: HashAggregateExec
    // serializes ITSELF — and with it the child subtree — into the
    // generated code's `references` array, and the dispatch's logical
    // children carry a non-serializable InMemoryFileIndex. The
    // @transient field on AutoSaltedSweepDispatchExec is what this
    // spec pins down.
    val dir = java.nio.file.Files.createTempDirectory("graft_sweep_ser")
    val lp = dir.resolve("l").toString
    val rp = dir.resolve("r").toString
    (0L until 200L).map(i => (i % 5, i, (i * 7) % 100, (i * 7) % 100 + 10))
      .toDF("g", "lid", "s", "e").write.parquet(lp)
    (0L until 200L).map(i => (i % 5, i, (i * 11) % 100))
      .toDF("g2", "rid", "p").write.parquet(rp)
    def q: DataFrame = {
      val l = spark.read.parquet(lp)
      val r = spark.read.parquet(rp)
      l.join(r, col("g") === col("g2") &&
          col("p") >= col("s") && col("p") <= col("e"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
    }
    val expected = rows(q) // rule inert without the conf
    try withRule(autoSalt = true) {
      val planned = q
      assert(planned.queryExecution.executedPlan.toString
        .contains("AutoSaltedSweepDispatch"))
      assert(rows(planned) == expected)
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(dir)
    }
  }

  test("auto-salt dispatch preserves null keys, closedness, residual " +
      "conjuncts on the clean fixture (all four strictness combos)") {
    val (l, r) = frames
    for ((c1, c2) <- Seq(
        (col("s") <= col("re"), col("rs") <= col("e")),
        (col("s") < col("re"), col("rs") < col("e")),
        (col("s") <= col("re"), col("rs") < col("e")), // mixed
        (col("s") < col("re"), col("rs") <= col("e")))) { // mixed
      def q: DataFrame = l.join(r, col("g") === col("g2") && c1 && c2 &&
        (col("lid") + col("rid")) % 3 =!= 0)
      val expected = rows(q)
      withRule(autoSalt = true) {
        val planned = q
        assert(planned.queryExecution.executedPlan.toString
          .contains("AutoSaltedSweepDispatch"))
        assert(rows(planned) == expected)
      }
    }
  }

  test("double-typed point probe with NaN left endpoints: dispatch " +
      "detects the NaN and stays row-identical to the raw join") {
    // Under Spark's ordering NaN sorts above +Inf, so the raw conjunct
    // p <= e with e = NaN is TRUE for every p — but the operator
    // ingress filter drops NaN-endpoint rows as empty intervals. The
    // closed-point-probe skip must therefore NOT apply to floating
    // endpoints with NaN present: the dispatch runs the left-side NaN
    // probe and falls back to the conjunct-exact raw sweep.
    val l = Seq(
      (1L, 10L, 5.0, Double.NaN),          // matches every p >= 5 raw
      (1L, 11L, Double.NaN, 9.0),          // matches only p = NaN raw
      (1L, 12L, 1.0, 4.0)                  // clean row
    ).toDF("g", "lid", "s", "e")
    val r = Seq((1L, 20L, 6.0), (1L, 21L, 2.0), (1L, 22L, Double.NaN))
      .toDF("g2", "rid", "p")
    def q: DataFrame = l.join(r, col("g") === col("g2") &&
      col("p") >= col("s") && col("p") <= col("e"))
    val expected = rows(q)
    assert(expected.exists(_.startsWith("1|10|5.0|NaN")),
      "fixture must contain a NaN-endpoint match the ingress filter would drop")
    withRule(autoSalt = true) {
      val planned = q
      assert(planned.queryExecution.executedPlan.toString
        .contains("AutoSaltedSweepDispatch"))
      assert(rows(planned) == expected)
    }
    // and a NaN-free double-typed probe still takes the salted path
    // (the NaN probe finds nothing; no fallback, rows identical)
    val lClean = Seq((1L, 10L, 5.0, 8.0), (1L, 11L, 1.0, 4.0))
      .toDF("g", "lid", "s", "e")
    val rClean = Seq((1L, 20L, 6.0), (1L, 21L, 2.0)).toDF("g2", "rid", "p")
    def q2: DataFrame = lClean.join(rClean, col("g") === col("g2") &&
      col("p") >= col("s") && col("p") <= col("e"))
    val expected2 = rows(q2)
    withRule(autoSalt = true) {
      assert(rows(q2) == expected2)
    }
  }

  test("parent Project/Aggregate required set is folded into the " +
      "dispatch node: rows cross the boundary pruned, results identical") {
    import org.apache.spark.sql.graft.AutoSaltedSweepJoin
    val (l, r) = frames // 4 + 4 columns
    // aggregate consumes 2 of the 8 columns
    def q: DataFrame = l.join(r, col("g") === col("g2") &&
        col("s") <= col("re") && col("rs") <= col("e"))
      .groupBy(col("g")).agg(sum(col("rid")).as("srid"))
    val expected = rows(q)
    withRule(autoSalt = true) {
      val planned = q
      val nodes = planned.queryExecution.optimizedPlan.collect {
        case n: AutoSaltedSweepJoin => n
      }
      assert(nodes.length == 1)
      // boundary schema = what the aggregate needs (g, rid), not 8 wide
      assert(nodes.head.output.map(_.name).toSet == Set("g", "rid"),
        s"boundary not pruned: ${nodes.head.output.map(_.name)}")
      assert(rows(planned) == expected)
    }
    // narrow Project parent, residual Filter in between
    def q2: DataFrame = l.join(r, col("g") === col("g2") &&
        col("s") <= col("re") && col("rs") <= col("e") &&
        (col("lid") + col("rid")) % 3 =!= 0)
      .select(col("lid"), col("rid"))
    val expected2 = rows(q2)
    withRule(autoSalt = true) {
      val planned = q2
      val nodes = planned.queryExecution.optimizedPlan.collect {
        case n: AutoSaltedSweepJoin => n
      }
      assert(nodes.length == 1)
      assert(nodes.head.output.map(_.name).toSet == Set("lid", "rid"),
        s"boundary not pruned: ${nodes.head.output.map(_.name)}")
      assert(rows(planned) == expected2)
    }
  }

  test("nondeterministic child plans bypass the dispatch (children " +
      "would re-execute across its probe passes) and take the direct sweep") {
    // needs file-backed children: over LocalRelations the optimizer's
    // ConvertToLocalRelation folds rand() into materialized data, which
    // IS safe to re-execute — only a live nondeterministic projection
    // (here: over a parquet scan) must bypass the dispatch
    val dir = java.nio.file.Files.createTempDirectory("graft_sweep_nd")
    val lp = dir.resolve("l").toString
    val rp = dir.resolve("r").toString
    (0L until 100L).map(i => (i % 5, i, (i * 7) % 50, (i * 7) % 50 + 10))
      .toDF("g", "lid", "s", "e").write.parquet(lp)
    (0L until 100L).map(i => (i % 5, i, (i * 11) % 50, (i * 11) % 50 + 5))
      .toDF("g2", "rid", "rs", "re").write.parquet(rp)
    try withRule(autoSalt = true) {
      val lNd = spark.read.parquet(lp).withColumn("tag", rand(7))
      val r = spark.read.parquet(rp)
      val q = lNd.join(r, col("g") === col("g2") &&
        col("s") <= col("re") && col("rs") <= col("e"))
      val phys = q.queryExecution.executedPlan.toString
      assert(!phys.contains("AutoSaltedSweepDispatch"),
        s"nondeterministic child must not enter the dispatch:\n$phys")
      assert(phys.contains("IntervalSweepJoin"),
        s"direct sweep expected:\n$phys")
      // deterministic children over the same files still dispatch
      val lDet = spark.read.parquet(lp)
      val q2 = lDet.join(r, col("g") === col("g2") &&
        col("s") <= col("re") && col("rs") <= col("e"))
      assert(q2.queryExecution.executedPlan.toString
        .contains("AutoSaltedSweepDispatch"))
    } finally {
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      rm(dir)
    }
  }

  test("POINT probes keep the right interval closed (strictness moves " +
      "to the left flags) so strict/half-open probes still auto-salt") {
    import org.apache.spark.sql.graft.AutoSaltedSweepJoin
    val l = Seq((1L, 10L, 2L, 8L), (1L, 11L, 5L, 5L), (1L, 12L, 9L, 4L))
      .toDF("g", "lid", "s", "e")
    val r = Seq((1L, 20L, 5L), (1L, 21L, 2L), (1L, 22L, 8L))
      .toDF("g2", "rid", "p")
    // all four strictness combos: rows must match the plain join, the
    // rewritten node must be a closed point probe (no validity-probe
    // fallback possible), and the fixture exercises the dangerous rows:
    // a degenerate [5,5] left interval and an inverted [9,4] one
    for ((c1, c2) <- Seq(
        (col("p") >= col("s"), col("p") <= col("e")),
        (col("p") > col("s"), col("p") < col("e")),
        (col("p") >= col("s"), col("p") < col("e")),
        (col("p") > col("s"), col("p") <= col("e")))) {
      def q: DataFrame = l.join(r, col("g") === col("g2") && c1 && c2)
      val expected = rows(q)
      withRule(autoSalt = true) {
        val planned = q
        val nodes = planned.queryExecution.optimizedPlan.collect {
          case jn: AutoSaltedSweepJoin => jn
        }
        assert(nodes.length == 1, "rule did not produce the dispatch node")
        assert(nodes.head.closedPointProbe,
          s"point probe not closed: ${nodes.head}")
        assert(rows(planned) == expected)
      }
    }
  }
}
