package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Ops
import graft.core.IntervalSpec
import graft.dedup.{DuplicateClusters, ExactDedup, MinHashDedup}
import graft.similarity.IvfAnn
import graft.text.QualityFilter
import graft.windows.PrevNextSpec

/** One public-function call of an iteration. `build` runs the library
  * function and returns its (lazy) frame; the loop then materializes it.
  * A `keep` call's result is pinned with an eager `localCheckpoint` and
  * handed to later calls of the same iteration through `kept`. `conf` is
  * set for the call's build and exec and restored afterwards. */
final case class Call(name: String, layer: String, build: () => DataFrame,
    keep: Boolean = false, conf: Map[String, String] = Map.empty)

/** The calls of one iteration over the generated tables in `dir` (written
  * by perfbench/gen.py). */
trait Workload {
  def name: String
  def calls(spark: SparkSession, dir: String, kept: mutable.Map[String, DataFrame]): Seq[Call]

  protected def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table")
}

/** Large inputs: the reference's interval-join shape and the curation
  * pipeline. Time goes to shuffles, sorts and the sweep / `Vec*` / MinHash
  * kernels inside tasks, with one planning pass per call. */
object BulkW extends Workload {
  val name = "bulk"
  val NList = 64
  val NProbe = 8
  val K = 10
  // At the reference's shape neither join side is broadcast-small, so the
  // library routes the join through its shuffle + sort + sweep exec. The
  // scaled copy would fall under the 10 MB broadcast threshold and take a
  // different plan; disabling broadcast for these calls keeps the
  // reference's plan.
  private val NoBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def calls(spark: SparkSession, dir: String, kept: mutable.Map[String, DataFrame]) = {
    val closed = IntervalSpec.closed("ls", "le")
    def right = read(spark, dir, "right")
    def join(name: String, left: String, rightSpec: IntervalSpec, r: => DataFrame) =
      Call(name, "joins", () => Ops.mergeIntervals(read(spark, dir, left), r, closed,
        rightSpec, on = Seq("grp"), keepOrder = false), conf = NoBroadcast)
    var model: IvfAnn.Model = null
    Seq(
      join("contain", "left", IntervalSpec.point("rp"), right.select("grp", "rp")),
      join("overlap", "left", IntervalSpec.closed("rp", "re"), right),
      join("overlap_skew", "left_skew", IntervalSpec.closed("rp", "re"), right),
      Call("quality", "text", () =>
        QualityFilter.keep(read(spark, dir, "docs"), "text"), keep = true),
      Call("exact_dedup", "dedup", () => ExactDedup(kept("quality"), Seq("text"), "id")),
      Call("minhash", "dedup", () => MinHashDedup(kept("quality"), "text", "id"),
        keep = true),
      Call("clusters", "dedup", () => DuplicateClusters(kept("quality"), "id",
        kept("minhash"), "id_l", "id_r")),
      Call("ivf_fit", "similarity", () => {
        model = IvfAnn.fit(read(spark, dir, "corpus"), "id", "vec", NList)
        import spark.implicits._
        model.centroids.indices.toDF("cell")
      }),
      Call("ivf_search", "similarity", () =>
        IvfAnn.search(read(spark, dir, "corpus"), read(spark, dir, "queries"), "id", "vec",
          K, model, NProbe, excludeSelf = false)))
  }
}

/** The 13 reference functions of `graft.Ops`, one call each, on 20k-row
  * inputs: a call's time here is planning, job launch and eager
  * pre-passes, not kernels. */
object ApiMixW extends Workload {
  val name = "api_mix"

  val Agg: Map[String, Seq[String]] = Map(
    "a0" -> Seq("mean", "count", "std"), "a1" -> Seq("min", "max"))

  def calls(spark: SparkSession, dir: String, kept: mutable.Map[String, DataFrame]) = {
    def t(name: String) = read(spark, dir, name)
    val iSpec = IntervalSpec.closed("st", "sp")
    def points = t("events").select("eid", "ent", "ts")
    Seq(
      Call("make_windows", "resample", () =>
        Ops.makeWindows(entity = Some(col("ent")), anchor = Some(col("anchor")),
          startRel = Some(expr("INTERVAL -3 DAYS")),
          stopRel = Some(expr("INTERVAL 1 DAYS")))(t("anchors"))
          .withColumnRenamed("entity", "ent"), keep = true),
      Call("merge_left_first", "joins", () =>
        Ops.mergeIntervals(t("ivals"), t("jvals"), iSpec, IntervalSpec.closed("js", "jp"),
          on = Seq("ent"), how = "left", keep = "first")),
      Call("find_containing", "joins", () =>
        Ops.findContainingInterval(t("ivals"), points, Seq("ts"), on = Seq("ent"),
          startCol = Some("st"), stopCol = Some("sp"), intervalIdCol = Some("iid"))),
      Call("cross_join", "joins", () => Ops.innerOrCrossJoin(t("small_a"), t("small_b"))),
      Call("combine_union", "intervals", () =>
        Ops.combineIntervals(t("ivals").select("ent", "st", "sp"), "st", Some("sp"),
          groupBy = Seq("ent"))),
      Call("group_intervals", "intervals", () =>
        Ops.groupIntervals(t("ivals"), "st", Some("sp"), Seq("ent"),
          expr("INTERVAL 1 HOURS"), tieBreakCols = Seq("iid"))),
      Call("prev_next", "windows", () =>
        Ops.prevNextValues(t("events").select("eid", "ent", "ts", "v"), Seq("ts", "eid"),
          Seq("ent"), Map("v" -> PrevNextSpec(Some("prev_v"), Some("next_v"))),
          Some("is_first"), Some("is_last"))),
      Call("impute_ffill", "windows", () =>
        Ops.impute(t("events").select("eid", "ent", "ts", "vn"), Seq("vn"), "ffill",
          Seq("ent"), Seq(col("ts"), col("eid")), limit = Some(2))),
      Call("grouped_mode", "agg", () => Ops.groupedMode(t("events"), Seq("ent"), "cat")),
      Call("factorize", "agg", () => Ops.factorize(t("events"), Seq("cat", "attr"))),
      Call("resample_eav", "resample", () =>
        Ops.resampleEav(t("events"), kept("make_windows"), Agg, "ts", "v",
          entityCol = Some("ent"), attrCol = Some("attr"),
          wStartCol = Some("win_start"), wStopCol = Some("win_stop"))),
      Call("resample_interval", "resample", () =>
        Ops.resampleInterval(t("ivals"), kept("make_windows"), "val",
          entityCol = Some("ent"), startCol = Some("st"), stopCol = Some("sp"),
          attrCol = Some("lvl"), attributes = Some(Seq("lo", "mid", "hi")),
          wStartCol = Some("win_start"), wStopCol = Some("win_stop"))),
      Call("partition_series", "resample", () =>
        Ops.partitionSeries(t("events"), Seq("ent"), 1000L)))
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(BulkW, ApiMixW)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}
