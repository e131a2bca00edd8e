package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query, declared once: its name, the plan it builds over an sf
  * dir, and the DuckDB SQL whose result that plan must equal (the t2 hash
  * check). The oracle is evaluated on first use, so it may interpolate vals
  * declared anywhere in its family object.
  *
  * Conventions for oracle parity:
  *  - every computed float column is rounded identically on both sides
  *    (rounding width ≫ worst-case summation-order error; see
  *    [[QuerySupport.rnd]]);
  *  - counts/sums of integers are CAST to BIGINT in SQL (DuckDB sums to
  *    HUGEINT otherwise);
  *  - both sides ORDER BY the key columns;
  *  - aggregate aliases match exactly (driver sorts columns by name).
  */
final class Q(val name: String, val family: String,
    val run: (SparkSession, String) => DataFrame, oracleSql: => String) {
  lazy val oracle: String = oracleSql
}

object Q {
  /** Indexes `qs` by name. A name declared twice fails here, loudly, instead
    * of one declaration silently replacing the other in the map.
    */
  def index(qs: Seq[Q]): Map[String, Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}

/** The queries of one family, declared in one file. `q(name, oracle)(run)`
  * both declares a query and registers it here, so no second list repeats
  * the names.
  */
abstract class Family(val name: String) {
  private val declared = scala.collection.mutable.ListBuffer.empty[Q]

  protected def q(name: String, oracle: => String)(
      run: (SparkSession, String) => DataFrame): Unit =
    declared += new Q(name, this.name, run, oracle)

  def queries: Seq[Q] = declared.toList
}
