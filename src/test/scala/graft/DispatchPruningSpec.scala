package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
class DispatchPruningSpec extends SparkSuite {
  test("real q_rule_auto_sweep shape: dispatch node output is pruned") {
    import org.apache.spark.sql.graft.AutoSaltedSweepJoin
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(graft.plans.SweepJoinRewrite)
    org.apache.spark.sql.graft.IntervalSweepStrategy.setup(s)
    s.conf.set(graft.plans.SweepJoinRewrite.enabledKey, "true")
    s.conf.set("spark.graft.skew.targetRowsPerTask", "300")
    val dir = "/root/testdata/sf0.01"
    val skew = (k: Column) => when(k % 2 === 0, 0L).otherwise(k % 997)
    val l = s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderkey").as("okey"), skew(col("o_orderkey")).as("grp"),
      ((col("o_orderkey") * 13 % 100000).cast("double") / 10.0).as("s"),
      ((col("o_orderkey") * 13 % 100000).cast("double") / 10.0 +
        (col("o_custkey") % 40).cast("double") / 10.0).as("e"))
    val r = s.read.parquet(s"$dir/lineitem.parquet").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
      skew(col("l_orderkey")).as("grp_r"),
      ((col("l_orderkey") * 31 % 100000).cast("double") / 10.0 +
        col("l_linenumber").cast("double")).as("p"))
    val q = l.join(r, col("grp") === col("grp_r") &&
        col("p") >= col("s") && col("p") <= col("e"))
      .groupBy(col("okey"))
      .agg(count(lit(1)).as("n_matches"), min(col("rid")).as("min_rid"))
    val nodes = q.queryExecution.optimizedPlan.collect {
      case n: AutoSaltedSweepJoin => n }
    assert(nodes.length == 1, q.queryExecution.optimizedPlan.toString)
    println("NODE OUTPUT: " + nodes.head.output.map(_.name).mkString(","))
    assert(nodes.head.output.map(_.name).toSet == Set("okey", "rid"),
      nodes.head.output.map(_.name).mkString(","))
  }
}
