package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The one driver-side parquet writer: rows the driver already holds are
  * written straight through parquet-mr, with no Spark job (a
  * `Seq.toDF.coalesce(1).write` pays plan + codegen + a scheduling
  * round-trip, ~0.2-0.4 s, to move driver memory into one file). Two kinds
  * of caller use it: the [[Ledger]]'s per-commit appends and compaction
  * merges, and the bounded materialization dumps the oracle reads
  * (centroids, codebooks, planes, twiddles, BPE merges).
  *
  * The parquet schema comes from Spark's own converter, so a file written
  * here carries the same physical types Spark writes for the same
  * `StructType` (`spark_schema` root, `(STRING)` binaries, the standard
  * 3-level `list`/`element` LIST for arrays). Supported cell types: Int,
  * Long, Double, Float, String and a `Seq` of any of them for an
  * `ArrayType`; `None` or `null` leaves an optional field absent.
  */
object DriverParquet {

  /** A SNAPPY parquet-mr writer of `schema` to one file. */
  private[core] def open(conf: Configuration, file: Path,
                         schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** Write `rows` (cells in `schema`'s column order) to the single file
    * `file`.
    */
  private[core] def writeFile(conf: Configuration, file: Path,
                              schema: StructType,
                              rows: Seq[Seq[Any]]): Unit = {
    val msg = new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter().convert(schema)
    val writer = open(conf, file, msg)
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      schema.fields.zip(r).foreach { case (f, v) =>
        put(g, f.name, f.dataType, v)
      }
      writer.write(g)
    } finally writer.close()
  }

  private def put(g: Group, n: String, dt: DataType, v: Any): Unit = v match {
    case None | null =>
    case Some(x) => put(g, n, dt, x)
    case _ => dt match {
      case LongType => g.add(n, v.asInstanceOf[Long])
      case IntegerType => g.add(n, v.asInstanceOf[Int])
      case DoubleType => g.add(n, v.asInstanceOf[Double])
      case FloatType => g.add(n, v.asInstanceOf[Float])
      case StringType => g.add(n, v.asInstanceOf[String])
      case ArrayType(et, _) =>
        val lg = g.addGroup(n)
        v.asInstanceOf[Seq[Any]].foreach(put(lg.addGroup("list"), "element", et, _))
      case other => throw new IllegalArgumentException(
        s"driver parquet: unsupported type $other for column $n")
    }
  }

  /** Replace the directory `dir` with one file of `rows`, as
    * `mode("overwrite")` would: the file is staged beside the target, then
    * swapped in, so a reader never sees a half directory.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
            rows: Seq[Seq[Any]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(dir)
    val fs = target.getFileSystem(conf)
    val staging = new Path(dir + "_staging_" + java.util.UUID.randomUUID())
    fs.mkdirs(staging)
    writeFile(conf, new Path(staging, "part-00000.parquet"), schema, rows)
    fs.delete(target, true)
    require(fs.rename(staging, target),
      s"driver parquet install into $dir failed")
  }
}
