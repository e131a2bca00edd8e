package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Scale-factor multiplier for bench data: replicates an sf directory K
  * times with FOREIGN-KEY-CONSISTENT key offsets (copy k shifts every key
  * column by k·stride, so join fan-outs, group cardinalities per key, and
  * skew shape are preserved — the row count grows K× without changing any
  * per-key distribution). region/nation are dimension tables referenced by
  * bounded FKs and stay single-copy.
  *
  * Usage: `runMain graft.tools.ScaleUp <srcSfDir> <destDir> <K>`
  * e.g. sf0.1 × 10 → an sf1-equivalent set for the scale self-bench
  * recorded in BASELINE.md.
  */
object ScaleUp {

  // key columns to shift per table; every other column is copied verbatim
  private val KeyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val SingleCopy = Seq("region", "nation")

  def scaleTable(spark: SparkSession, src: String, name: String, k: Int): DataFrame = {
    val df = spark.read.parquet(s"$src/$name.parquet")
    val keys = KeyCols(name)
    // one stride per KEY SPACE (custkey/orderkey/...), shared across the
    // tables that reference it so FK pairs shift together
    val strides = keys.map { c =>
      val space = keySpace(c)
      c -> (spark.read.parquet(s"$src/${spaceTable(space)}.parquet")
        .agg(max(col(space)).cast("long")).head().getLong(0) + 1L)
    }.toMap
    // Fan out with a generator rather than a K-way union: one scan, one
    // plan node, so K=1000 stays analyzable and fully distributed.
    val fanned = df.withColumn("__copy",
      explode(sequence(lit(0L), lit((k - 1).toLong))))
    val shifted = keys.foldLeft(fanned) { (d, c) =>
      d.withColumn(c, col(c) + col("__copy") * lit(strides(c)))
    }
    // The source sf tables are single small files, so without an explicit
    // repartition the K-fold output lands in ONE part file with one giant
    // row group — unreadable in parallel no matter the split size
    // (replicated text dictionary-compresses to a few MB). Spread copies
    // round-robin so the written files give the scan its parallelism.
    shifted.repartition(math.max(32, k / 16), col("__copy")).drop("__copy")
  }

  /** The key space a column references (owner's primary key column). */
  private def keySpace(c: String): String = c match {
    case "o_custkey" => "c_custkey"
    case "l_orderkey" => "o_orderkey"
    case "l_partkey" => "p_partkey"
    case "l_suppkey" => "s_suppkey"
    case other => other
  }

  private def spaceTable(space: String): String = space match {
    case "c_custkey" => "customer"
    case "o_orderkey" => "orders"
    case "p_partkey" => "part"
    case "s_suppkey" => "supplier"
    case "event_id" | "user_id" => "events"
    case "doc_id" => "documents"
    case "vec_id" => "embeddings"
    case other => throw new IllegalArgumentException(s"unknown key space $other")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcSfDir> <destDir> <K> [table,table,...]")
    val src = args(0); val dest = args(1)
    val k = args(2).toInt
    require(k >= 1, s"K must be >= 1, got $k")
    // Optional table subset: scale only what the target bench reads
    // (dimension tables in SingleCopy are always copied).
    val wanted: String => Boolean =
      if (args.length == 4) args(3).split(",").map(_.trim).toSet else _ => true
    val spark = GraftSession.local(32, "spark.sql.legacy.parquet.nanosAsLong" -> "true")
    try {
      SingleCopy.foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dest/$t.parquet")
      }
      KeyCols.keys.toSeq.sorted.filter(wanted).foreach { t =>
        scaleTable(spark, src, t, k)
          .write.mode("overwrite").parquet(s"$dest/$t.parquet")
        println(s"scaled $t x$k")
      }
    } finally spark.stop()
  }
}
