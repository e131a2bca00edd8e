package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.AdaptiveWidth

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

  def forBytes(s: SparkSession, inputBytes: Long): Int =
    AdaptiveWidth.width(s, inputBytes, BytesPerPartitionKey, 64L << 20)

  /** Run `f` (which starts and drains streaming queries) with the shuffle
    * width scaled to the input volume (see [[AdaptiveWidth.withWidth]] for
    * the session-conf contract).
    */
  def scaled[A](s: SparkSession, inputBytes: Long)(f: => A): A =
    AdaptiveWidth.withWidth(s, forBytes(s, inputBytes))(f)

  /** [[scaled]] with the volume read from a staged input path. */
  def scaledFor[A](s: SparkSession, path: String)(f: => A): A =
    scaled(s, dirBytes(s, path))(f)
}
