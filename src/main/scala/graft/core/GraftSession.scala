package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft main or spec builds its SparkSession, so the
  * session policy is decided once:
  *  - master `local[cpus]` and `spark.sql.shuffle.partitions = cpus`, so
  *    shuffle width matches the cores that run it;
  *  - `spark.sql.session.timeZone = UTC`, so timestamp results never depend
  *    on the host zone (the oracle compares in UTC);
  *  - `spark.ui.enabled = false`: no UI server in a batch or test JVM;
  *  - log level WARN.
  *
  * `conf` pairs are applied after the policy, so a caller can still
  * override any of it (e.g. `spark.sql.shuffle.partitions`). The session
  * installs no optimizer extensions: every plan stays the stock planner's.
  */
object GraftSession {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    require(cpus > 0, s"cpus must be positive, got $cpus")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
