package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scale-adaptive state partitioning for streaming queries.
  *
  * A stateful streaming operator pins its state-store count to
  * `spark.sql.shuffle.partitions` at first checkpoint; every micro-batch
  * then pays one store open → update → snapshot/commit cycle PER PARTITION
  * (a stream-stream join keeps four stores per partition), regardless of
  * how little data flows. With the session default sized for the machine's
  * cores, a modest stream pays tens of store commits per batch for rows a
  * handful of partitions would hold — measured on q_streaming_join at 32
  * cores: warm wall 8.2 s at 32 partitions vs 3.8 s at 4, same results.
  *
  * The guide's rule (§2): derive partitioning from input volume, not from
  * a constant tuned for either local mode or the cluster. Here the state
  * partition count follows the staged input's bytes —
  * ceil(bytes / spark.graft.streaming.statePartitionBytes), default 64 MB
  * per partition, floored at min(4, session parallelism) to keep pipeline
  * parallelism, and capped by the session's configured
  * `spark.sql.shuffle.partitions` so a cluster-sized session is never
  * exceeded. At 100 TB the cap governs (state partitioning = cluster
  * parallelism, unchanged); at bench scale the floor governs. The knob is
  * a Spark conf, so production redeploys tune bytes-per-partition without
  * a code change.
  *
  * Results are partition-count-independent by construction (the driver
  * already benches at different core counts, which moves the same
  * setting); only the state-store fan-out changes.
  */
object StatePartitions {
  val BytesPerPartitionKey = "spark.graft.streaming.statePartitionBytes"

  /** Total bytes under a path (file or directory tree) on whatever
    * filesystem its URI names — a plain local path, `file:`, `s3a://`,
    * `hdfs://` — measured through the session's Hadoop conf. A path that
    * does not exist measures 0.
    */
  def dirBytes(s: SparkSession, path: String): Long = {
    val p = new Path(path)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  def forBytes(s: SparkSession, inputBytes: Long): Int = {
    val perPart = s.conf.getOption(BytesPerPartitionKey)
      .map(_.toLong).getOrElse(64L << 20)
    val cur = math.max(1, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val bySize = math.ceil(inputBytes.toDouble / perPart.toDouble).toInt
    math.min(cur, math.max(math.min(4, cur), bySize))
  }

  /** Run `f` (which starts and drains streaming queries) with
    * `spark.sql.shuffle.partitions` scaled to the input volume, restoring
    * the session value after — batch stages planned outside this scope
    * keep the session's parallelism.
    *
    * NOT thread-safe across queries: the override mutates the
    * SESSION-scoped conf (set/restore), so two scopes racing on one
    * SparkSession can clobber or leak each other's width. Every declared
    * query runs its scopes single-threaded on the session (the bench and
    * Verify drivers are sequential; the only in-repo multi-threaded job
    * submission — the AhmedML fixture writes — never enters a scope). A
    * caller that needs concurrent scopes must give each thread its own
    * `SparkSession.newSession` (session confs are per-session there).
    */
  def scaled[A](s: SparkSession, inputBytes: Long)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, forBytes(s, inputBytes).toString)
    try f finally s.conf.set(key, old)
  }

  /** [[scaled]] with the volume read from a staged input path. */
  def scaledFor[A](s: SparkSession, path: String)(f: => A): A =
    scaled(s, dirBytes(s, path))(f)
}
