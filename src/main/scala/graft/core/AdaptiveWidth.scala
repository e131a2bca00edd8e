package graft.core

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle width for ITERATIVE loops (connected components,
  * pagerank-style propagation): each round re-pays the session's full
  * shuffle width in scheduling and exchange constants, and AQE's runtime
  * coalescing does not remove the per-round fixed cost of planning and
  * launching a session-width stage over a loop state that may be tiny.
  * Guide §2's rule applied to loops: derive the width from the loop
  * state's size, floored at min(4, session parallelism) and capped by the
  * session's configured `spark.sql.shuffle.partitions` — at production
  * scale the cap governs (loop runs at cluster width, unchanged); on a
  * small problem the floor governs. Rows-per-partition is a conf
  * (`spark.graft.loop.rowsPerPartition`, default 2M label-sized rows) so
  * deployments retune without a code change.
  */
object AdaptiveWidth {
  val RowsPerPartitionKey = "spark.graft.loop.rowsPerPartition"

  /** The shared width rule (also [[graft.streaming.StatePartitions]]'s):
    * ceil(amount / per-partition amount), the per-partition amount read
    * from conf `perPartKey` (else `perPartDefault`), floored at min(4,
    * session width) and capped by the session's
    * `spark.sql.shuffle.partitions`.
    */
  def width(s: SparkSession, amount: Long, perPartKey: String,
            perPartDefault: Long): Int = {
    val perPart = s.conf.getOption(perPartKey).map(_.toLong)
      .getOrElse(perPartDefault)
    val cur = math.max(1, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val bySize = math.ceil(amount.toDouble / perPart.toDouble).toInt
    math.min(cur, math.max(math.min(4, cur), bySize))
  }

  /** Run `f` with `spark.sql.shuffle.partitions` set to `n`, restoring the
    * session value after — batch stages planned outside the scope keep
    * the session's parallelism.
    *
    * NOT thread-safe: the override mutates the SESSION-scoped conf
    * (set/restore), so two scopes racing on one SparkSession can clobber
    * or leak each other's width. Every in-repo caller runs its scopes
    * single-threaded on the session (the bench and Verify drivers are
    * sequential; the only in-repo multi-threaded job submission — the
    * AhmedML fixture writes — never enters a scope). A caller that needs
    * concurrent scopes must give each thread its own
    * `SparkSession.newSession` (session confs are per-session there).
    */
  def withWidth[A](s: SparkSession, n: Int)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  def forRows(s: SparkSession, rows: Long): Int =
    width(s, rows, RowsPerPartitionKey, 2000000L)

  /** Run `f` with the shuffle width scaled to the loop state's row count
    * (see [[withWidth]] for the session-conf contract).
    */
  def scaled[A](s: SparkSession, rows: Long)(f: => A): A =
    withWidth(s, forRows(s, rows))(f)
}
