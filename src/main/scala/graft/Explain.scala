package graft
import graft.core.GraftSession

/** Plan inspector: `runMain graft.Explain <queryName> [sfDir]` prints the
  * formatted physical plan for one SparkEntry query (or all when no name is
  * given) — the ".explain and iterate" loop for scale review.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)
    val names = if (args.nonEmpty) Seq(args(0)) else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
