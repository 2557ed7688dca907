package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev tool: run one registered query and print a per-job / per-stage
  * cost breakdown (wall time, task time, shuffle read/write bytes, spill)
  * from a [[SparkListener]] — the headless stand-in for the Spark UI's
  * Jobs/Stages tabs (guide §1.1/§7.1; the bench host runs with the UI
  * disabled). Usage: runMain graft.Profile <queryName> [sfDir] [passes]
  */
object Profile {
  private final class Rec extends SparkListener {
    case class StageRow(id: Int, name: String, tasks: Int,
        var wallMs: Long = 0, var taskMs: Long = 0, var gcMs: Long = 0,
        var shufReadMB: Double = 0, var shufWriteMB: Double = 0,
        var spillMB: Double = 0, var inputMB: Double = 0)
    val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Seq[Int])]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs(j.jobId) = (j.time, -1L, j.stageIds)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobs.get(j.jobId).foreach { case (s, _, ids) =>
        jobs(j.jobId) = (s, j.time, ids)
      }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val row = StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
        si.numTasks)
      row.wallMs = si.completionTime.getOrElse(0L) -
        si.submissionTime.getOrElse(0L)
      val m = si.taskMetrics
      row.taskMs = m.executorRunTime
      row.gcMs = m.jvmGCTime
      row.shufReadMB = m.shuffleReadMetrics.totalBytesRead / 1e6
      row.shufWriteMB = m.shuffleWriteMetrics.bytesWritten / 1e6
      row.spillMB = (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
      row.inputMB = m.inputMetrics.bytesRead / 1e6
      stages(si.stageId) = row
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    // same default as Bench: an env-less Profile run must measure the
    // same parallelism/shuffle-partition configuration as an env-less
    // Bench run, or job costs get misattributed when comparing
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.autoBroadcastJoinThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BROADCAST", "10m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try { // same warmup as Bench
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }
    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { pass =>
      System.gc()
      val rec = new Rec
      spark.sparkContext.addSparkListener(rec)
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // deterministic listener drain (a fixed sleep raced late events
      // off a loaded host and silently under-counted jobs/stages); a bus
      // still busy after the timeout costs this pass its completeness,
      // not the run
      try org.apache.spark.sql.graft.ListenerDrain
        .waitUntilEmpty(spark.sparkContext, 30000)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          println(s"   listener bus not drained after 30 s: pass $pass " +
            "counts may be incomplete")
      }
      spark.sparkContext.removeSparkListener(rec)
      println(f"== $name pass $pass: $dt%.2f s, ${rec.jobs.size} jobs, " +
        s"${rec.stages.size} stages ==")
      val gap = {
        // wall time not covered by any job = driver-side work
        val spans = rec.jobs.values.collect {
          case (s, e, _) if e > 0 => (s, e)
        }.toSeq.sortBy(_._1)
        val merged = spans.foldLeft(List.empty[(Long, Long)]) {
          case ((a, b) :: t, (s, e)) if s <= b =>
            (a, math.max(b, e)) :: t
          case (acc, se) => se :: acc
        }
        dt - merged.map { case (s, e) => e - s }.sum / 1e3
      }
      println(f"   driver/planning gap (wall - job spans): $gap%.2f s")
      rec.jobs.foreach { case (id, (s, e, stageIds)) =>
        val w = if (e > 0) (e - s) / 1e3 else -1.0
        if (w >= 0.05)
          println(f"  job $id%3d $w%7.2f s  stages=${stageIds.mkString(",")}")
      }
      println("  -- stages over 100 ms task time --")
      rec.stages.values.toSeq.sortBy(-_.taskMs).takeWhile(_.taskMs > 100)
        .take(25).foreach { r =>
          println(f"  stage ${r.id}%3d wall=${r.wallMs / 1e3}%6.2f s " +
            f"task=${r.taskMs / 1e3}%7.2f s gc=${r.gcMs / 1e3}%5.2f " +
            f"tasks=${r.tasks}%4d in=${r.inputMB}%8.1fMB " +
            f"sr=${r.shufReadMB}%8.1fMB sw=${r.shufWriteMB}%8.1fMB " +
            f"spill=${r.spillMB}%7.1fMB  ${r.name.take(60)}")
        }
    }
    spark.stop()
  }
}
