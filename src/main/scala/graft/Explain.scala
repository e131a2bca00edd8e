package graft
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.core.GraftSession

/** Plan inspector: `runMain graft.Explain [queryNames] [sfDir]` prints, for
  * each named SparkEntry query (a comma list; all when none is given), one
  * header line with the analyzed and optimized plans' expression-node counts
  * and then the formatted physical plan — the ".explain and iterate" loop
  * for scale review.
  */
object Explain {

  /** Expression nodes of a plan: every node of every expression of every
    * operator. A column DSL that inlines shared subexpressions shows up
    * here long before it shows up in wall time.
    */
  def exprNodes(plan: LogicalPlan): Int =
    plan.collect { case p => p.expressions.map(_.collect { case x => x }.size).sum }.sum

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(4)
    SparkEntry.select(args.headOption, "explain").foreach { q =>
      val df = q.run(spark, sfDir)
      val qe = df.queryExecution
      println(s"===== ${q.name} ===== expr nodes: analyzed ${exprNodes(qe.analyzed)}, " +
        s"optimized ${exprNodes(qe.optimizedPlan)}")
      df.explain("formatted")
    }
    spark.stop()
  }
}
