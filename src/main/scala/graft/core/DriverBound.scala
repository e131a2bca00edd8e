package graft.core

import org.apache.spark.sql.SparkSession

/** The one bound on a table the driver may hold in memory in place of a
  * distributed plan (connected components' union-find over a small edge
  * set; any driver-resident read of a small table).
  *
  * It is Spark's own `spark.sql.autoBroadcastJoinThreshold`, read through
  * the session so a size string ("10MB") parses as Spark parses it: that
  * setting already caps a relation Spark will collect to the driver and
  * broadcast, so a table within it is one the session has agreed to hold
  * there. A negative value (-1) turns every driver tier off; 0 admits only
  * empty tables, as it does for broadcast joins. No conf key of its own.
  */
object DriverBound {

  /** True when a table of `tableBytes` fits the driver bound; never when
    * the bound is negative.
    */
  def fits(s: SparkSession, tableBytes: Long): Boolean = {
    val cap = s.sessionState.conf.autoBroadcastJoinThreshold
    cap >= 0 && tableBytes <= cap
  }
}
