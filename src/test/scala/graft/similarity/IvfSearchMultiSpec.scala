package graft.similarity

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `IvfAnn.searchMulti` serves a whole nprobe grid from one corpus pass
  * by relying on the probes being prefix-stable; the ANN advisor and
  * recall queries read each leg as if it were its own `search` call. Each
  * leg must therefore equal `IvfAnn.search` at that nprobe, row for row.
  */
class IvfSearchMultiSpec extends SparkSuite {
  import spark.implicits._

  private def corpus = {
    val rnd = new scala.util.Random(17)
    (0 until 400).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian() + (i % 5) * 0.3))
    }.toDF("vec_id", "embedding")
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("neighbor_id"),
        col("cosine").cast("double"), col("rank").cast("int"))
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted

  test("searchMulti legs equal search at each nprobe, row for row") {
    val c = corpus
    val q = c.filter(col("vec_id") % 23 === 0)
    val model = IvfAnn.fit(c, "vec_id", "embedding", nlist = 8)
    val nps = Seq(1, 2, 4)
    for (excludeSelf <- Seq(true, false)) {
      val multi = IvfAnn.searchMulti(c, q, "vec_id", "embedding", k = 5,
        model, nps, excludeSelf = excludeSelf)
      val legs = nps.map { np =>
        val got = rows(multi.filter(col("nprobe") === np))
        val want = rows(IvfAnn.search(c, q, "vec_id", "embedding", k = 5,
          model, nprobe = np, excludeSelf = excludeSelf))
        assert(want.nonEmpty, s"np=$np excludeSelf=$excludeSelf")
        assert(got == want, s"np=$np excludeSelf=$excludeSelf")
        got
      }
      // the grid is not degenerate: probing more cells changes neighbors
      assert(legs.head != legs.last, s"excludeSelf=$excludeSelf")
      assert(multi.select("nprobe").distinct().as[Int].collect().sorted.toSeq == nps)
    }
  }
}
