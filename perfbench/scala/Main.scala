package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Closed-loop benchmark loop: one client, one call at a time, `local[nproc]`.
  *
  * Usage: `perfbench.Main --workload W --seconds S --trace 0|1 --inputs DIR
  * --results DIR --out FILE`. Runs one warm-up iteration that writes every
  * call's result under `--results` (for the correctness checker), then
  * iterations for at least `--seconds`, and writes one JSON document with
  * the metrics to FILE. */
object Main {
  final case class CallRun(name: String, layer: String, buildS: Double, execS: Double,
      rows: Long, ok: Boolean, error: String, phases: Array[Double],
      planMetrics: Map[String, Double])
  final case class IterRun(index: Int, traced: Boolean, wallS: Double,
      startMs: Long, endMs: Long, calls: Seq[CallRun])

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Linear-interpolated percentile, q in [0, 1]. */
  private def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1); val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Sums of SQLMetrics of interest over an executed plan, AQE stages and
    * subqueries included: sort and aggregation time, and the sweep exec's
    * output rows and degraded keys. */
  private def planMetrics(plan: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map("plan.sort_s" -> 0.0, "plan.agg_s" -> 0.0,
      "kernels.sweep_rows_out" -> 0.0, "kernels.sweep_degraded_keys" -> 0.0)
    def walk(p: SparkPlan): Unit = {
      val m = p.metrics
      m.get("sortTime").foreach(x => acc("plan.sort_s") += x.value / 1e3)
      m.get("aggTime").foreach(x => acc("plan.agg_s") += x.value / 1e3)
      if (m.contains("degradedKeys")) {
        acc("kernels.sweep_degraded_keys") += m("degradedKeys").value.toDouble
        m.get("numOutputRows").foreach(x => acc("kernels.sweep_rows_out") += x.value.toDouble)
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    acc.toMap
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(args("workload"))
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dir = args("inputs")
    val outFile = args("out")
    val nproc = Runtime.getRuntime.availableProcessors
    val loadStart = load1()

    val tSession = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${w.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val sc = spark.sparkContext

    val rec = new Recorder
    sc.addSparkListener(rec)
    val spanLog = new SpanLog(tSession)

    /** Untimed, between iterations: drop cached frames and the RDD-level
      * `localCheckpoint` pins, which otherwise pile up and squeeze later
      * iterations' execution memory, and collect. */
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    /** Waits until the listener bus has delivered every queued event;
      * false, and the counts marked incomplete, if it does not in time. */
    var complete = true
    def drain(): Boolean =
      try { org.apache.spark.sql.graft.ListenerDrain.waitUntilEmpty(sc, 20000); true }
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println("[perfbench] listener bus did not drain: counts incomplete")
          complete = false
          false
      }

    def iteration(index: Int, dir: String, traced: Boolean,
        writeTo: Option[String]): IterRun = {
      rec.traced = traced
      val kept = mutable.Map.empty[String, DataFrame]
      val itSpan = spanLog.open(s"$index", "iteration", "", index)
      val startMs = System.currentTimeMillis()
      val runs = w.calls(spark, dir, kept).map { c =>
        val id = s"$index/${c.name}"
        val callSpan = spanLog.open(id, c.name, itSpan.id, index)
        var phases = Array(0.0, 0.0, 0.0)
        var pm = Map.empty[String, Double]
        var buildS = 0.0
        var execS = 0.0
        var rows = -1L
        var error = ""
        val saved = c.conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
        c.conf.foreach { case (k, v) => spark.conf.set(k, v) }
        var phase: Span = null
        def enter(p: String): Unit = {
          sc.setLocalProperty(rec.Prop, s"$id/$p")
          phase = spanLog.open(s"$id/$p", s"${c.layer}.$p", id, index)
        }
        try {
          enter("build")
          val df = c.build()
          buildS = spanLog.close(phase)
          enter("exec")
          writeTo match {
            case Some(root) =>
              val path = s"$root/${c.name}"
              val res = if (c.keep) df.localCheckpoint(true) else df
              res.write.mode("overwrite").parquet(path)
              if (c.keep) kept(c.name) = res
              rows = spark.read.parquet(path).count()
            case None if c.keep =>
              val k = df.localCheckpoint(true)
              kept(c.name) = k
              rows = k.queryExecution.toRdd.count()
            case None =>
              rows = df.queryExecution.toRdd.count()
          }
          execS = spanLog.close(phase)
          if (traced) {
            phases = Recorder.phaseSeconds(df.queryExecution)
            pm = planMetrics(df.queryExecution.executedPlan)
          }
        } catch {
          case t: Throwable =>
            error = s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}"
            System.err.println(s"[perfbench] ${c.name} FAILED: $error")
        } finally {
          if (phase.endNs == 0L) spanLog.close(phase)
          sc.setLocalProperty(rec.Prop, null)
          saved.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
        }
        spanLog.close(callSpan)
        System.err.println(f"[perfbench] iteration $index ${c.name}%-24s $buildS%.3f + $execS%.3f s, $rows rows")
        CallRun(c.name, c.layer, buildS, execS, rows, error.isEmpty, error, phases, pm)
      }
      val wall = spanLog.close(itSpan)
      val endMs = System.currentTimeMillis()
      // task events are folded in only while `traced` is set, and those of
      // the iteration's last jobs may still be queued: deliver them first
      if (traced) drain()
      rec.traced = false
      cleanup()
      IterRun(index, traced, wall, startMs, endMs, runs)
    }

    // ── set-up: one warm-up iteration, which also writes the results that
    //    the correctness check compares ─────────────────────────────────
    val warm = iteration(0, dir, traced = false, Some(args("results")))

    // ── timed closed loop ───────────────────────────────────────────────
    val iters = mutable.ArrayBuffer.empty[IterRun]
    val loopStart = System.nanoTime()
    var i = 1
    // a traced run alternates untraced and traced iterations so both
    // halves see the same host state
    val minIters = if (trace) 2 else 1
    while ((System.nanoTime() - loopStart) / 1e9 < seconds || iters.size < minIters) {
      iters += iteration(i, dir, traced = trace && i % 2 == 1, None)
      i += 1
    }
    drain()

    // ── metrics ─────────────────────────────────────────────────────────
    val spans = rec.spans
    def iterCounters(it: IterRun): Seq[(String, Counters)] =
      spans.toSeq.filter(_._1.startsWith(s"${it.index}/"))
    def peakMib(it: IterRun): Double =
      iterCounters(it).map(_._2.peakStage).foldLeft(0L)(math.max) / 1048576.0
    val timed = iters.filterNot(_.traced).toSeq
    val callMs = timed.flatMap(_.calls.map(c => (c.buildS + c.execS) * 1e3))
    val e2e = Seq(
      "iter_s" -> (median(timed.map(_.wallS)), "s"),
      "peak_exec_mib" -> (median(timed.map(peakMib)), "MiB"))

    val layers = Seq("joins", "intervals", "resample", "windows", "agg",
      "dedup", "similarity", "text")
    /** Per-layer metrics of one traced iteration. */
    def layerMetrics(it: IterRun): Seq[(String, Double)] = {
      val cs = iterCounters(it).map(_._2)
      def sum(f: Counters => Long) = cs.map(f).sum.toDouble
      val jobs = rec.jobIntervals.toArray(Array.empty[(String, Long, Long)])
        .filter(_._1.startsWith(s"${it.index}/"))
        .map { case (_, a, b) => (math.max(a, it.startMs), math.min(b, it.endMs)) }
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      jobs.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      val taskS = sum(_.taskMs) / 1e3
      val perLayer = layers.flatMap { l =>
        val lc = it.calls.filter(_.layer == l)
        val ljobs = spans.toSeq.filter { case (k, _) =>
          lc.exists(c => k.startsWith(s"${it.index}/${c.name}/"))
        }.map(_._2.jobs).sum
        Seq(s"$l.calls" -> lc.size.toDouble,
          s"$l.rows_out" -> lc.map(_.rows.max(0L)).sum.toDouble,
          s"$l.build_s" -> lc.map(_.buildS).sum,
          s"$l.exec_s" -> lc.map(_.execS).sum,
          s"$l.jobs" -> ljobs.toDouble)
      }
      val phase = (0 until 3).map(k => it.calls.map(_.phases(k)).sum)
      val plan = Seq("plan.sort_s", "plan.agg_s", "kernels.sweep_rows_out",
        "kernels.sweep_degraded_keys").map(k => k -> it.calls.map(_.planMetrics.getOrElse(k, 0.0)).sum)
      perLayer ++ Seq(
        "catalyst.analysis_s" -> phase(0), "catalyst.optimization_s" -> phase(1),
        "catalyst.planning_s" -> phase(2),
        "driver.gap_s" -> (it.wallS - covered / 1e3).max(0.0),
        "driver.jobs" -> sum(_.jobs), "driver.stages" -> sum(_.stages),
        "driver.tasks" -> sum(_.tasks),
        "exec.task_s" -> taskS, "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
        "exec.gc_s" -> sum(_.gcMs) / 1e3,
        "exec.shuffle_write_mib" -> sum(_.shuffleWrite) / 1048576.0,
        "exec.shuffle_read_mib" -> sum(_.shuffleRead) / 1048576.0,
        "exec.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
        "exec.spill_mib" -> sum(_.spill) / 1048576.0,
        "exec.peak_task_mib" -> cs.map(_.peakTask).foldLeft(0L)(math.max) / 1048576.0,
        "exec.failed_tasks" -> sum(_.failedTasks),
        "exec.slot_util" -> taskS / (it.wallS * nproc)) ++ plan ++ Seq(
        "trace.iter_s" -> it.wallS,
        "trace.remainder_s" -> (it.wallS - it.calls.map(c => c.buildS + c.execS).sum))
    }
    val tracedIters = iters.filter(_.traced).toSeq
    val perLayer: Seq[(String, Double)] =
      if (!trace) Nil
      else {
        val rows = tracedIters.map(layerMetrics)
        rows.head.map(_._1).map(k => k -> median(rows.map(_.toMap.apply(k)))) ++ Seq(
          "trace.untraced_iter_s" -> median(timed.map(_.wallS)),
          "trace.overhead_s" -> (median(tracedIters.map(_.wallS)) - median(timed.map(_.wallS))))
      }

    // ── correctness bookkeeping ───────────────────────────────────────────
    val mainRows = warm.calls.map(c => c.name -> c.rows).toMap
    val rowMismatch = iters.flatMap(_.calls).filter(c => c.ok && mainRows.get(c.name).exists(_ != c.rows))
      .map(c => s"${c.name}: ${c.rows} rows timed vs ${mainRows(c.name)} checked").distinct
    val allCalls = (Seq(warm) ++ iters).flatMap(_.calls)
    val failed = allCalls.filterNot(_.ok)

    val execMem = (Runtime.getRuntime.maxMemory - 300L * 1048576) *
      sc.getConf.getDouble("spark.memory.fraction", 0.6)

    val j = Json
    val doc = j.obj(
      "attempted" -> allCalls.size.toString, "failed" -> failed.size.toString,
      "failures" -> j.arr(failed.map(c => j.str(s"${c.name}: ${c.error}")).distinct),
      "row_mismatch" -> j.arr(rowMismatch.toSeq.map(j.str)),
      "listener_complete" -> complete.toString,
      "e2e" -> j.obj(e2e.map { case (k, (v, u)) => k -> j.metric(v, u) }: _*),
      "call_ms" -> j.obj("p50" -> j.num(pct(callMs, 0.5)), "p90" -> j.num(pct(callMs, 0.9)),
        "samples" -> callMs.size.toString),
      "layer" -> j.obj(perLayer.map { case (k, v) => k -> j.metric(v, Units(k)) }: _*),
      "setup" -> j.obj("session_s" -> j.num(sessionS), "warmup_s" -> j.num(warm.wallS)),
      "results_rows" -> j.obj(warm.calls.map(c => c.name -> c.rows.toString): _*),
      "spark_execution_memory_bytes" -> j.num(execMem),
      "iterations" -> j.arr(iters.toSeq.map { it =>
        j.obj("index" -> it.index.toString, "traced" -> it.traced.toString,
          "wall_s" -> j.num(it.wallS), "peak_exec_mib" -> j.num(peakMib(it)),
          "calls" -> j.arr(it.calls.map(c => j.obj("name" -> j.str(c.name),
            "layer" -> j.str(c.layer), "build_s" -> j.num(c.buildS),
            "exec_s" -> j.num(c.execS), "rows" -> c.rows.toString))))
      }),
      "host" -> j.obj("nproc" -> nproc.toString, "load1_start" -> j.num(loadStart),
        "load1_end" -> j.num(load1()), "heap_max_bytes" -> Runtime.getRuntime.maxMemory.toString,
        "spark_version" -> j.str(spark.version),
        "java_version" -> j.str(System.getProperty("java.version")),
        "conf" -> j.obj(sc.getConf.getAll.toSeq.sorted
          .filterNot(kv => kv._1.startsWith("spark.app.") || kv._1.startsWith("spark.driver.host") ||
            kv._1.startsWith("spark.driver.port") || kv._1 == "spark.executor.id")
          .map { case (k, v) => k -> j.str(v) }: _*)))
    Files.write(Paths.get(outFile), doc.getBytes("UTF-8"))
    if (trace) Files.write(Paths.get(outFile.stripSuffix(".json") + ".spans.json"),
      spanLog.json.getBytes("UTF-8"))
    spark.stop()
  }

  /** Unit of each per-layer metric, from its name. */
  object Units {
    def apply(k: String): String =
      if (k.endsWith("_s")) "s" else if (k.endsWith("_mib")) "MiB"
      else if (k == "exec.slot_util") "fraction"
      else if (k.endsWith("rows_out")) "rows"
      else "count"
  }
}

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def metric(v: Double, unit: String): String = obj("value" -> num(v), "unit" -> str(unit))
}
