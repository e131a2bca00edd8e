package graft
import graft.core.GraftSession

/** Plan inspector: `runMain graft.Explain [queryNames] [sfDir]` prints the
  * formatted physical plan for each named SparkEntry query (a comma list;
  * all when none is given) — the ".explain and iterate" loop for scale
  * review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)
    SparkEntry.select(args.headOption, "explain").foreach { q =>
      println(s"===== ${q.name} =====")
      q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
