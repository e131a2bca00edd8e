package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The one driver-side parquet reader and writer: rows the driver already
  * holds are written straight through parquet-mr, and small files are read
  * back the same way, with no Spark job (a `Seq.toDF.coalesce(1).write` or
  * a parquet scan pays plan + codegen + a scheduling round-trip,
  * ~0.1-0.4 s, to move a few KB between driver memory and one file). The
  * writer serves the [[Ledger]]'s per-commit appends and compaction merges,
  * and the bounded materialization dumps the oracle reads (centroids,
  * codebooks, planes, twiddles, BPE merges); the reader serves compaction
  * and the ledger's driver-tier table reads.
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

  /** Every row of each of `files`, in `files` order, read on a bounded
    * pool (a small file's read is mostly its open and footer parse). A
    * missing file throws `FileNotFoundException`.
    */
  private[core] def readFiles(conf: Configuration,
                              files: Seq[Path]): Seq[Vector[Group]] =
    graft.sources.Dsv2.parMap(files) { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf).build()
      try {
        val b = Vector.newBuilder[Group]
        var g = reader.read()
        while (g != null) { b += g; g = reader.read() }
        b.result()
      } finally reader.close()
    }

  /** The rows of `files` under `schema`, columns matched by name: a column
    * a file lacks reads as null (a file written before the column existed),
    * and a file column `schema` does not name is ignored. Cells: Long (an
    * int32 column widens), Int and String.
    */
  private[core] def readRows(conf: Configuration, files: Seq[Path],
                             schema: StructType): Seq[Row] =
    readFiles(conf, files).flatMap { groups =>
      groups.headOption.fold(Seq.empty[Row]) { first =>
        val t = first.getType
        val at = schema.fields.map(f =>
          if (t.containsField(f.name)) t.getFieldIndex(f.name) else -1)
        groups.map { g =>
          Row.fromSeq(schema.fields.indices.map { i =>
            val j = at(i)
            if (j < 0 || g.getFieldRepetitionCount(j) == 0) null
            else cell(g, j, schema.fields(i))
          })
        }
      }
    }

  private def cell(g: Group, j: Int, f: StructField): Any = {
    val pt = g.getType.getType(j)
    val prim = if (pt.isPrimitive) pt.asPrimitiveType.getPrimitiveTypeName else null
    (f.dataType, prim) match {
      case (LongType, PrimitiveTypeName.INT64) => g.getLong(j, 0)
      case (LongType, PrimitiveTypeName.INT32) => g.getInteger(j, 0).toLong
      case (IntegerType, PrimitiveTypeName.INT32) => g.getInteger(j, 0)
      case (StringType, PrimitiveTypeName.BINARY) => g.getString(j, 0)
      case _ => throw new IllegalArgumentException(
        s"driver parquet: column ${f.name} ($pt) does not read as ${f.dataType}")
    }
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
