package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull, Not}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 relations over the exotic byte-format readers, so CATALYST
  * derives reader-level pruning from the query instead of the caller
  * passing include/exclude lists — the reference prunes at its readers the
  * same way (`vtk.py:120-123` key_filters, `era5.py`'s `variables` list,
  * `_key_filter.py:45-110`).
  *
  * Every relation is one [[UnitSource]] binding over one scan skeleton:
  * a format supplies its schema, its units (one per file, one per d3plot
  * family, one per RandomMesh index), its key column, its payload fraction
  * and a reader of one unit's rows. The skeleton supplies the Table,
  * ScanBuilder, Scan and reader factory once, with:
  *
  *  - one [[InputPartition]] per unit (the curator per-index unit —
  *    independently executable and retryable);
  *  - column pruning handed to the reader, so unselected arrays are never
  *    decoded (and for the ranged readers never read);
  *  - key-column unit pruning: `EqualTo`/`In` on the key column keeps only
  *    the matching units, so a per-index slice reads only its own index
  *    (the reference's `Source.__getitem__(i)`, `core/base.py:77-131`). Every
  *    row of a unit carries that unit's key, so the pruning is exact and the
  *    filter leaves the plan;
  *  - `SupportsReportStatistics` sized from the kept units only.
  *
  * File listing happens once on the driver; bytes are read ON THE EXECUTOR
  * via Hadoop FileSystem with the driver's Hadoop conf shipped as a string
  * map, so the relations scan distributed on any FileSystem scheme.
  */
object Dsv2 {

  /** Driver-side listing with file sizes: directory → recursive files
    * matching `globFilter`; globbed path → expansion (filtered by
    * `globFilter`). The sizes feed the scan statistics.
    */
  def listFilesWithSize(spark: SparkSession, path: String,
                        globFilter: String): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val nameFilter = new GlobFilter(globFilter)
    path.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(conf)
      val roots =
        if (one.exists(c => c == '*' || c == '[' || c == '{' || c == '?'))
          Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
        else Seq(fs.getFileStatus(p))
      roots.flatMap { st =>
        if (st.isDirectory) {
          val it = fs.listFiles(st.getPath, true)
          val out = ArrayBuffer.empty[(String, Long)]
          while (it.hasNext) {
            val f = it.next()
            if (nameFilter.accept(f.getPath)) out += (f.getPath.toString -> f.getLen)
          }
          out.toSeq
        } else if (nameFilter.accept(st.getPath)) Seq(st.getPath.toString -> st.getLen)
        else Nil
      }
    }.sortBy(_._1)
  }

  /** Hadoop conf as a plain serializable map (Configuration itself is not
    * java-serializable; executors rebuild it to open the FileSystem).
    */
  def confMap(spark: SparkSession): Map[String, String] =
    spark.sparkContext.hadoopConfiguration.iterator().asScala
      .map(e => e.getKey -> e.getValue).toMap

  /** Executor-side whole-file read through the rebuilt Hadoop conf. */
  def readBytes(path: String, conf: Map[String, String]): Array[Byte] = {
    val c = new Configuration(false)
    conf.foreach { case (k, v) => c.set(k, v) }
    val p = new Path(path)
    val fs = p.getFileSystem(c)
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue - 8, s"$path too large for a single-array read")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  private[sources] def opt(o: CaseInsensitiveStringMap, k: String, dflt: String): String =
    Option(o.get(k)).getOrElse(dflt)

  /** Fraction of a file's payload a pruned schema still reads: selected
    * non-metadata columns over all non-metadata columns (metadata columns
    * are computed, zero payload). Zero data columns → headers only (2%).
    */
  private[sources] def payloadFraction(full: StructType, required: StructType,
                                       meta: Set[String]): Double = {
    val totalData = math.max(full.fieldNames.count(c => !meta.contains(c)), 1)
    val selData = required.fieldNames.count(c => !meta.contains(c))
    if (selData == 0) 0.02 else selData.toDouble / totalData
  }

  /** Bounded-parallel driver-side map for small per-file reads (planning-
    * time header reads, [[graft.core.DriverParquet.readFiles]]): schema
    * inference touches only O(header) bytes per file, but at 10⁵
    * files the serial open/read/close latency dominates planning — a
    * fixed pool keeps inference latency ∝ files/16 without unbounded
    * thread growth. Fails fast on the first error (propagated unwrapped).
    */
  private[graft] def parMap[A, B](items: Seq[A], parallelism: Int = 16)(f: A => B): Seq[B] = {
    if (items.length <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, items.length))
    var failed = false
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = f(a)
      }))
      futures.map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            failed = true; throw e.getCause
          case e: Throwable => failed = true; throw e
        }
      }
    } finally {
      // On failure, cancel the queued header reads instead of letting them
      // run to completion behind the already-propagated error — at 10⁵-file
      // scale that is real wasted I/O plus lingering non-daemon threads.
      if (failed) pool.shutdownNow() else pool.shutdown()
    }
  }

  /** Ranged random-access over a Hadoop path: each `slice` is one
    * positioned `readFully` (pread), so a reader that keeps k of n arrays
    * reads k payloads' bytes, not the file — and per-file size is
    * unbounded (only each individual slice must fit in one array). The
    * size comes from the file's status; its stream opens on the first
    * read, so a handle nobody reads (a shard a header never reaches) holds
    * none. Callers close after parsing.
    */
  private[graft] final class HadoopRawData(path: String, conf: Map[String, String])
      extends VtkXmlSource.RawData with AutoCloseable {
    private val c = new Configuration(false)
    conf.foreach { case (k, v) => c.set(k, v) }
    private val p = new Path(path)
    private val fs = p.getFileSystem(c)
    val size: Long = fs.getFileStatus(p).getLen
    private var in: org.apache.hadoop.fs.FSDataInputStream = null
    def slice(off: Long, len: Long): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= size,
        s"$path: slice [$off,+$len) outside $size bytes")
      require(len <= Int.MaxValue - 8,
        s"$path: payload of $len bytes exceeds the 2 GiB per-array limit")
      val out = new Array[Byte](len.toInt)
      readInto(off, out, 0, len.toInt)
      out
    }
    /** `len` bytes at `off` into `buf` from `at`. */
    def readInto(off: Long, buf: Array[Byte], at: Int, len: Int): Unit =
      stream.readFully(off, buf, at, len)
    private def stream = synchronized {
      if (in == null) in = fs.open(p)
      in
    }
    def close(): Unit = synchronized { if (in != null) in.close() }
  }

  /** Ranged random-access over Hadoop paths read back to back as one file
    * (a file's byte shards): a slice is the preads of the shards it spans,
    * so the whole is never copied or held, and only each slice must fit in
    * one array.
    */
  private[graft] final class ConcatRawData(paths: Seq[String], conf: Map[String, String])
      extends VtkXmlSource.RawData with AutoCloseable {
    private val parts = paths.map(new HadoopRawData(_, conf)).toArray
    // starts(i) is the offset of shard i; starts.last the total size
    private val starts = parts.scanLeft(0L)(_ + _.size)
    val size: Long = starts.last
    def slice(off: Long, len: Long): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= size,
        s"${paths.head}…: slice [$off,+$len) outside $size bytes")
      require(len <= Int.MaxValue - 8,
        s"${paths.head}…: payload of $len bytes exceeds the 2 GiB per-array limit")
      val out = new Array[Byte](len.toInt)
      var done = 0
      while (done < len) {
        val at = off + done
        val i = starts.lastIndexWhere(_ <= at, parts.length - 1)
        val n = math.min(len - done, starts(i + 1) - at).toInt
        parts(i).readInto(at - starts(i), out, done, n)
        done += n
      }
      out
    }
    def close(): Unit = parts.foreach(_.close())
  }
}

// ------------------------------------------------------------- skeleton

/** One scan unit: its key-column value (a `String` path or a `Long`
  * index), the files it reads, its size in bytes and, when known, its row
  * count. One unit is one input partition.
  */
private[sources] case class ScanUnit(key: Any, files: Seq[String], bytes: Long,
                                     rows: Long = -1L) extends InputPartition {
  /** The key as Catalyst stores it in every row of the unit. */
  def datum: Any = key match {
    case s: String => UTF8String.fromString(s)
    case k => k
  }
}

/** A format bound to the unit-scan skeleton (see [[Dsv2]]). Options are
  * checked on the driver when the relation is created, so a missing
  * `path` or an unknown `table` fails at `load()`, not in a task.
  */
abstract class UnitSource extends TableProvider with Serializable {
  /** `graft_<label>` names the table and prefixes the scan description. */
  protected def label: String
  /** The column every row of a unit carries its unit's key in. */
  protected def keyColumn: String
  /** Valid `table` option values, the default first; empty = no tables. */
  protected def tables: Seq[String] = Nil
  /** Format-specific option checks; file formats require `path`. */
  protected def check(o: CaseInsensitiveStringMap): Unit
  protected def schemaOf(o: CaseInsensitiveStringMap): StructType
  protected def units(o: CaseInsensitiveStringMap): Seq[ScanUnit]
  /** Share of a unit's bytes a scan of `required` reads, for statistics. */
  protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                required: StructType): Double = 1.0
  /** Built on the driver; the returned function runs on the executor and
    * yields one unit's rows carrying `required`'s columns in order.
    */
  protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                       pushed: Array[Filter]): ScanUnit => Iterator[InternalRow]
  /** A non-key filter the format applies exactly itself (NetCDF's variable). */
  protected def pushes(f: Filter): Boolean = false
  protected def describe(o: CaseInsensitiveStringMap, required: StructType,
                         pushed: Array[Filter]): String =
    s"graft_$label ReadSchema: ${required.fieldNames.mkString(",")}"

  protected final def sourceName: String = getClass.getSimpleName
  protected final def table(o: CaseInsensitiveStringMap): String =
    Dsv2.opt(o, "table", tables.headOption.getOrElse(""))

  private def validate(o: CaseInsensitiveStringMap): Unit = {
    check(o)
    if (tables.nonEmpty && !tables.contains(table(o)))
      throw new IllegalArgumentException(
        s"$sourceName: unknown table '${table(o)}' (${tables.mkString("|")})")
  }

  final override def inferSchema(o: CaseInsensitiveStringMap): StructType = {
    validate(o)
    schemaOf(o)
  }

  final override def getTable(schema: StructType, partitioning: Array[Transform],
                              properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    validate(o)
    val tableName = Option(o.get("path")).fold(s"graft_$label")(p => s"graft_$label($p)")
    val full = schema
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = full
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new UnitScanBuilder(full, options)
    }
  }

  /** `n` indexed rows of unit `u`: the key column holds the unit's key,
    * any other column `c` holds `value(c)(i)` in row `i`.
    */
  protected final def indexedRows(u: ScanUnit, cols: Array[String], n: Long)(
      value: String => Long => Any): Iterator[InternalRow] = {
    val key = u.datum
    val getters = cols.map(c => if (c == keyColumn) (_: Long) => key else value(c))
    Iterator.range(0L, n).map(i => new GenericInternalRow(getters.map(_(i))))
  }

  private class UnitScanBuilder(full: StructType, o: CaseInsensitiveStringMap)
      extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
    private var required: StructType = full
    private var pushed: Array[Filter] = Array.empty
    private val key = keyColumn

    override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val (exact, residual) = filters.partition {
        case EqualTo(`key`, _) | In(`key`, _) | IsNotNull(`key`) => true
        case f => pushes(f)
      }
      pushed = exact
      residual
    }
    override def pushedFilters(): Array[Filter] = pushed

    override def build(): Scan = {
      val kept = units(o).filter(u => pushed.forall {
        case EqualTo(`key`, v) => u.key == v
        case In(`key`, vs) => vs.contains(u.key)
        case _ => true
      })
      val bytes = math.round(kept.map(_.bytes).sum * payloadFraction(o, full, required))
      val rows = if (kept.forall(_.rows >= 0)) Some(kept.map(_.rows).sum) else None
      new UnitScan(required, kept, bytes, rows, reader(o, required, pushed),
        describe(o, required, pushed))
    }
  }
}

private class UnitScan(required: StructType, kept: Seq[ScanUnit], bytes: Long,
                       rows: Option[Long], read: ScanUnit => Iterator[InternalRow],
                       desc: String)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  // without statistics a DSv2 relation sizes at spark.sql.defaultSizeInBytes
  // (maxed), so a small pruned mesh side could never broadcast
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes: util.OptionalLong = util.OptionalLong.of(math.max(bytes, 1L))
    override def numRows: util.OptionalLong =
      rows.fold(util.OptionalLong.empty())(n => util.OptionalLong.of(n))
  }
  override def planInputPartitions(): Array[InputPartition] = kept.toArray
  override def createReaderFactory(): PartitionReaderFactory = new UnitReaderFactory(read)
  override def description(): String = desc
}

private class UnitReaderFactory(read: ScanUnit => Iterator[InternalRow])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = read(p.asInstanceOf[ScanUnit])
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = rows.hasNext && { cur = rows.next(); true }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** A [[UnitSource]] over files under `option("path", …)`: one unit per
  * file matching `globFilter` (default `glob`), keyed by its path.
  */
abstract class FileUnitSource(glob: String) extends UnitSource {
  override protected def check(o: CaseInsensitiveStringMap): Unit =
    if (o.get("path") == null)
      throw new IllegalArgumentException(s"$sourceName requires option 'path'")

  protected final def listed(o: CaseInsensitiveStringMap): Seq[(String, Long)] =
    Dsv2.listFilesWithSize(SparkSession.active, o.get("path"),
      Dsv2.opt(o, "globFilter", glob))

  override protected def units(o: CaseInsensitiveStringMap): Seq[ScanUnit] =
    listed(o).map { case (f, n) => ScanUnit(f, Seq(f), n) }

  protected final def conf: Map[String, String] = Dsv2.confMap(SparkSession.active)

  /** The unit hook: one ranged handle over a unit's bytes — its file, or
    * its files back to back when it has several (a file's byte shards).
    * Runs on the executor; callers close it after parsing.
    */
  protected final def open(u: ScanUnit, c: Map[String, String]): VtkXmlSource.RawData with AutoCloseable =
    if (u.files.length == 1) new Dsv2.HadoopRawData(u.files.head, c)
    else new Dsv2.ConcatRawData(u.files, c)

  /** `parse` of each unit's header, in unit order — for schema inference
    * over the union of the arrays the headers list (heterogeneous runs
    * still get one schema; files lacking an array emit null for it). Each
    * unit costs only its XML HEADER bytes, so planning stays O(header) per
    * file even against multi-GB meshes. `inferLimit` (default 0 = all)
    * samples the first N units when the corpus is homogeneous;
    * `.schema(...)` skips inference entirely.
    */
  protected final def headers[A](o: CaseInsensitiveStringMap)(
      parse: VtkXmlSource.RawData => A): Seq[(ScanUnit, A)] = {
    val us = units(o)
    require(us.nonEmpty, s"$sourceName: no files under ${o.get("path")}")
    val limit = Dsv2.opt(o, "inferLimit", "0").toInt
    val c = conf
    Dsv2.parMap(if (limit > 0) us.take(limit) else us) { u =>
      val raw = open(u, c)
      try u -> parse(raw) finally raw.close()
    }
  }
}

private object UnitSource {
  def str(n: String) = StructField(n, StringType, nullable = false)
  def lng(n: String) = StructField(n, LongType, nullable = false)
  def int(n: String) = StructField(n, IntegerType, nullable = false)
  def dbl(n: String) = StructField(n, DoubleType, nullable = false)
  def vertices: StructField = StructField("vertices", ArrayType(LongType), nullable = false)

  /** The columns of a k-component array: its name when k is 1, else
    * `<name>_0 … <name>_{k-1}`.
    */
  def components(name: String, k: Int): Seq[String] =
    if (k <= 1) Seq(name) else Seq.tabulate(k)(c => s"${name}_$c")

  /** One nullable DOUBLE column per component of each distinct array
    * (`(name, NumberOfComponents)`), by array name; a component column
    * names its array in its metadata.
    */
  def arrays(lists: Seq[(String, Int)]): Seq[StructField] =
    lists.distinct.sorted.flatMap { case (a, k) =>
      val meta = if (k <= 1) Metadata.empty else new MetadataBuilder().putString("array", a).build()
      components(a, k).map(StructField(_, DoubleType, nullable = true, meta))
    }.distinctBy(_.name)

  /** The array a column of [[arrays]] belongs to. */
  def arrayOf(f: StructField): String =
    if (f.metadata.contains("array")) f.metadata.getString("array") else f.name

  /** Row `i` of every column of the `decoded` arrays, given every array's
    * component count k (`lists`): component c of row i is value `i·k + c`,
    * null past the array's end.
    */
  def columnValues(decoded: Map[String, Array[Double]],
                   lists: Seq[(String, Int)]): Map[String, Long => Any] =
    lists.flatMap { case (a, k) =>
      decoded.get(a).toSeq.flatMap { vs =>
        components(a, k).zipWithIndex.map { case (column, c) =>
          column -> { (i: Long) =>
            val at = i * k + c
            if (at < vs.length) vs(at.toInt) else null
          }
        }
      }
    }.toMap

  /** Whether the `required` columns need array `(name, k)` decoded. */
  def wanted(required: Set[String])(name: String, k: Int): Boolean =
    components(name, k).exists(required)
}

import UnitSource.{arrays, columnValues, dbl, int, lng, str, vertices, wanted}

// ------------------------------------------------------------------ VTU

/** `spark.read.format("graft.sources.VtuDataSource").option("path", dir)`
  * over VTK XML meshes: `.vtu`, `.vtp` and, with a `globFilter` that
  * matches them, `.vts`.
  *
  * Default table (`table=points`): `mesh_id STRING, point_id LONG,
  * x/y/z DOUBLE` + the nullable DOUBLE columns of every PointData array
  * found across the globbed files (union, sorted): one column named as the
  * array, or for an array of NumberOfComponents k > 1 the k columns
  * `<name>_0 … <name>_{k-1}` (point i's component c is the array's value
  * i·k + c). The component count comes from the header, so schema
  * inference reads headers only. `.select` prunes straight to the parser:
  * unselected arrays are never decoded, Points decodes only when x/y/z are
  * referenced, and a count over `mesh_id` alone touches no payload at all
  * (row count from the Piece's NumberOfPoints attribute).
  *
  * `option("table", "cells")`: `mesh_id STRING, cell_id LONG,
  * vertices ARRAY<LONG>` + the CellData array columns (the
  * AhmedML/DrivAerML volume flow fields, `ahmedml.py:774-883`) —
  * connectivity decodes only when `vertices` is selected, cell arrays only
  * when their columns are. A StructuredGrid (`.vts`) piece's cells are the
  * implicit hexahedra of its Extent ([[VtkXmlSource.structuredCells]]),
  * and its row counts come from the Extent; every scan of such a piece
  * checks the Extent's point count against its Points array (decoded, or
  * sized from its size words) and fails naming the file on a mismatch.
  *
  * Each unit is read through the unit hook ([[FileUnitSource.open]]): one
  * ranged handle over the unit's file, or over its files back to back —
  * [[DrivAerMlDataSource]] binds a run's byte shards that way. Schema
  * inference reads the headers through the same hook.
  */
class VtuDataSource extends FileUnitSource("*.vt[up]") {
  override protected def label = "vtu"
  override protected def keyColumn = "mesh_id"
  override protected def tables = Seq("points", "cells")
  override def supportsExternalMetadata(): Boolean = true

  /** (row-id column, geometry columns) of the points or cells table. */
  private def layout(cells: Boolean): (String, Seq[StructField]) =
    if (cells) ("cell_id", Seq(vertices)) else ("point_id", Seq(dbl("x"), dbl("y"), dbl("z")))

  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType = {
    val (points, cells) = schemas(headerPass(o).map(_._2))
    if (table(o) == "cells") cells else points
  }

  /** Each unit with its header, from one pass over the unit heads. */
  private[sources] def headerPass(o: CaseInsensitiveStringMap): Seq[(ScanUnit, VtkXmlSource.VtuHeader)] =
    headers(o)(new VtkXmlSource.VtuFile(_).header)

  /** The `points` and `cells` schemas of the units' headers; a caller
    * loading both tables hands them over with `.schema(...)`.
    */
  private[sources] def schemas(hs: Seq[VtkXmlSource.VtuHeader]): (StructType, StructType) = {
    def schema(cells: Boolean, lists: Seq[(String, Int)]) = {
      val (id, geom) = layout(cells)
      StructType(Seq(str("mesh_id"), lng(id)) ++ geom ++ arrays(lists))
    }
    (schema(cells = false, hs.flatMap(_.pointArrays)), schema(cells = true, hs.flatMap(_.cellArrays)))
  }

  override protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                         required: StructType): Double =
    if (table(o) == "cells") 0.2 // connectivity is a small slice of a typical mesh file
    else Dsv2.payloadFraction(full, required, Set("mesh_id", "point_id"))

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val c = conf
    val cells = table(o) == "cells"
    val (id, geomFields) = layout(cells)
    val geom = geomFields.map(_.name).toSet
    val cols = required.fieldNames
    val needGeom = cols.exists(geom)
    val keep = wanted(cols.toSet) _
    u => {
      // ranged handle: the XML header reads in a bounded window and each
      // kept DataArray's appended payload is one pread at its offset --
      // pruning saves I/O BYTES, not just decode CPU, and files past 2 GiB
      // scan fine
      val raw = open(u, c)
      val (header, piece) =
        try {
          val f = new VtkXmlSource.VtuFile(raw)
          // one row per point (cell): the header's count, or the decoded
          // geometry's when that is selected or the header has none; an
          // array shorter than the count is null past its end
          val decodeGeom = needGeom || (if (cells) f.header.cells else f.header.points) < 0
          (f.header, f.parse(keep, decodePoints = decodeGeom && !cells,
            decodeCells = decodeGeom && cells))
        } catch {
          case e: Exception if !String.valueOf(e.getMessage).contains(u.key.toString) =>
            throw new IllegalArgumentException(s"${u.key}: ${e.getMessage}", e)
        } finally raw.close()
      val n =
        if (cells) (if (needGeom || header.cells < 0) piece.cells.length.toLong else header.cells)
        else if (needGeom || header.points < 0) piece.points.length.toLong else header.points
      val values =
        if (cells) columnValues(piece.cellData, header.cellArrays)
        else columnValues(piece.pointData, header.pointArrays)
      indexedRows(u, cols, n) {
        case `id` => i => i
        case "vertices" if cells => i => new GenericArrayData(piece.cells(i.toInt))
        case a if geom(a) => val k = a(0) - 'x'; i => piece.points(i.toInt)(k)
        case a => values.getOrElse(a, _ => null)
      }
    }
  }
}

/** `spark.read.format("graft.sources.DrivAerMlDataSource").option("path",
  * root)`: [[VtuDataSource]]'s tables over the DrivAerML run layout
  * (`drivaerml.py:275-301,624-733`), one unit per run keyed `run_<i>`. A
  * run's unit is its direct `volume_<i>.vtu` when present, else its
  * `volume_<i>.vtu.NN.part` byte shards in part order, which the unit hook
  * reads back to back as one file; shards not contiguous from 00 fail at
  * `load()`. Only each DataArray must fit in memory, so assemblies past
  * 2 GiB read.
  */
class DrivAerMlDataSource extends VtuDataSource {
  override protected def units(o: CaseInsensitiveStringMap): Seq[ScanUnit] =
    DrivAerMlSource.runUnits(Dsv2.listFilesWithSize(SparkSession.active,
      s"${o.get("path")}/run_*", "volume_*.vtu*"))
}

// --------------------------------------------------------------- NetCDF

/** `spark.read.format("graft.sources.NetCdfDataSource").option("path", dir)`
  * over gridded files of three formats, told apart per file by their first
  * bytes: NetCDF classic (`CDF`, CDF-1/2/5, [[NetCdfSource]]), netCDF-4
  * (`\x89HDF`, the HDF5 container, [[graft.sinks.Hdf5Store]]) and GRIB2
  * (`GRIB`, [[GribSource]]); any other file fails the scan, naming it.
  * Only the classic decoder is ranged (header window, then per-variable
  * slices); an HDF5 or GRIB2 file is read whole into memory, so it must
  * stay under 2 GiB. A GRIB2 message becomes the variable
  * `grib_d<discipline>_c<category>_n<number>_f<forecast hours>` on the
  * dims `(lat, lon)`, its bitmap holes NaN.
  *
  * `table=data` (the default): `file STRING, variable STRING, pos LONG,
  * value DOUBLE`, `pos` row-major with the record dimension outermost.
  * `option("table", "vars")` lists the variables: `file, variable,
  * dims ARRAY<STRING>, shape ARRAY<LONG>, is_record, is_coord, format,
  * scale_name, dim_id, dtype`. `shape` counts the records of a record
  * variable; `format` is `classic`, `hdf5` or `grib2`; `is_coord` marks a
  * classic coordinate variable (its only dimension is its name) and an HDF5
  * dimension scale. A column a format does not carry is null:
  *
  *  - classic: `scale_name`, `dim_id` and `dtype`;
  *  - hdf5: `is_record`; `scale_name` is "" and `dim_id` -1 on a variable
  *    that is not a dimension scale;
  *  - grib2: `is_record`, `scale_name`, `dim_id` and `dtype`.
  *
  * The classic `vars` table reads only the header; the HDF5 and GRIB2
  * `vars` tables decode the whole file.
  *
  * `variable = 'x'`, `variable IN (...)` and their negations push down into
  * the decoder's `wanted` set, so a classic file never reads an unwanted
  * variable's bytes — the Catalyst-native form of the reference's
  * `variables` selection (`era5.py:103-382`). Options: `globFilter`
  * (default `*.nc`), and `decodeCf`/`decodeTimes`, the CF unpacking and
  * time conversion of the classic branch ([[NetCdfSource.CfCodec]],
  * [[NetCdfSource.CfTime]]; HDF5 and GRIB2 values stay raw).
  */
class NetCdfDataSource extends FileUnitSource("*.nc") {
  override protected def label = "netcdf"
  override protected def keyColumn = "file"
  override protected def tables = NetCdfDataSource.Schemas.map(_._1)
  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType =
    NetCdfDataSource.Schemas.toMap.apply(table(o))
  // a classic variable list is header bytes only
  override protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                         required: StructType): Double =
    if (table(o) == "vars") 0.02 else 1.0

  /** The variable names an `EqualTo`/`In` on `variable` lists. */
  private def names(f: Filter): Option[Set[String]] = f match {
    case EqualTo("variable", v: String) => Some(Set(v))
    case In("variable", vs) if vs.forall(_.isInstanceOf[String]) =>
      Some(vs.map(_.asInstanceOf[String]).toSet)
    case _ => None
  }

  override protected def pushes(f: Filter): Boolean = f match {
    case IsNotNull("variable") => true
    case Not(g) => names(g).isDefined
    case g => names(g).isDefined
  }

  /** The EXACT variable-name set the pushed predicates allow (None = all),
    * and the set they exclude.
    */
  private def selection(pushed: Array[Filter]): (Option[Set[String]], Set[String]) = {
    val in = pushed.flatMap(names)
    (if (in.isEmpty) None else Some(in.reduce(_ intersect _)),
      pushed.collect { case Not(g) => names(g) }.flatten.flatten.toSet)
  }

  override protected def describe(o: CaseInsensitiveStringMap, required: StructType,
                                  pushed: Array[Filter]): String = {
    def list(vs: Set[String]) = vs.toSeq.sorted.mkString("[", ",", "]")
    val (in, out) = selection(pushed)
    s"graft_netcdf table=${table(o)} vars=${in.map(list).getOrElse("*")}" +
      (if (out.isEmpty) "" else s" not=${list(out)}")
  }

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val c = conf
    val (in, out) = selection(pushed)
    val wanted: String => Boolean = name => in.forall(_.contains(name)) && !out(name)
    val header = table(o) == "vars"
    val decodeCf = Dsv2.opt(o, "decodeCf", "false").toBoolean
    val decodeTimes = Dsv2.opt(o, "decodeTimes", "false").toBoolean
    val cols = required.fieldNames
    u => {
      val path = u.files.head
      val raw = new Dsv2.HadoopRawData(path, c)
      val (vs, rows) =
        try NetCdfDataSource.decode(raw, path, wanted, header, decodeCf, decodeTimes)
        finally raw.close()
      if (header) {
        indexedRows(u, cols, vs.length) {
          case "variable" => i => UTF8String.fromString(vs(i.toInt).name)
          case "dims" => i => new GenericArrayData(
            vs(i.toInt).dims.map(UTF8String.fromString).toArray[Any])
          case "shape" => i => new GenericArrayData(vs(i.toInt).shape.toArray[Any])
          case "is_record" => i => vs(i.toInt).isRecord
          case "is_coord" => i => vs(i.toInt).isCoord
          case "format" => i => UTF8String.fromString(vs(i.toInt).format)
          case "scale_name" => i => UTF8String.fromString(vs(i.toInt).scaleName)
          case "dim_id" => i => vs(i.toInt).dimId
          case "dtype" => i => UTF8String.fromString(vs(i.toInt).dtype)
        }
      } else {
        indexedRows(u, cols, rows.length) {
          case "variable" => i => UTF8String.fromString(rows(i.toInt)._1)
          case "pos" => i => rows(i.toInt)._2
          case "value" => i => rows(i.toInt)._3
        }
      }
    }
  }
}

object NetCdfDataSource {
  /** The `table` option's values with their schemas, the default first. */
  val Schemas: Seq[(String, StructType)] = Seq(
    "data" -> StructType(Seq(str("file"), str("variable"), lng("pos"), dbl("value"))),
    "vars" -> StructType(Seq(str("file"), str("variable"),
      StructField("dims", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("shape", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("is_record", BooleanType, nullable = true),
      StructField("is_coord", BooleanType, nullable = false),
      str("format"),
      StructField("scale_name", StringType, nullable = true),
      StructField("dim_id", IntegerType, nullable = true),
      StructField("dtype", StringType, nullable = true))))

  /** The `vars` and `data` tables over `pathGlob` (resolved through
    * [[Fetchers]]); a non-empty `include` or `exclude` becomes a pushed
    * `variable` filter on both. The grid readers project these.
    */
  private[sources] def load(spark: SparkSession, pathGlob: String, globFilter: String,
                            decodeCf: Boolean = false, decodeTimes: Boolean = false,
                            include: Set[String] = Set.empty,
                            exclude: Set[String] = Set.empty): (DataFrame, DataFrame) = {
    val path = Fetchers.resolve(spark, pathGlob)
    val variable = col("variable")
    def table(name: String) = {
      val t = spark.read.format("graft.sources.NetCdfDataSource")
        .option("path", path).option("globFilter", globFilter)
        .option("decodeCf", decodeCf).option("decodeTimes", decodeTimes)
        .option("table", name).load()
      val kept = if (include.isEmpty) t else t.where(variable.isin(include.toSeq: _*))
      if (exclude.isEmpty) kept else kept.where(!variable.isin(exclude.toSeq: _*))
    }
    (table("vars"), table("data"))
  }

  /** One `vars` row; null is a column the file's format does not carry. */
  private final case class GridVar(name: String, dims: Seq[String], shape: Seq[Long],
                                   isRecord: java.lang.Boolean, isCoord: Boolean,
                                   format: String, scaleName: String = null,
                                   dimId: Integer = null, dtype: String = null)

  /** The format a file's first bytes name. */
  private def format(raw: VtkXmlSource.RawData, path: String): String = {
    val b = raw.slice(0L, math.min(raw.size, 8L))
    def starts(magic: Int*): Boolean =
      b.length >= magic.length && magic.indices.forall(i => (b(i) & 0xff) == magic(i))
    if (b.length >= 4 && starts('C', 'D', 'F')) "classic"
    else if (b.length >= 8 && starts(0x89, 'H', 'D', 'F')) "hdf5"
    else if (starts('G', 'R', 'I', 'B')) "grib2"
    else throw new IllegalArgumentException(
      s"$path: no classic NetCDF (CDF), HDF5, or GRIB signature")
  }

  /** One file's wanted variables: their `vars` rows when `header`, else
    * their `(variable, pos, value)` rows. A decode error names the file.
    */
  private def decode(raw: VtkXmlSource.RawData, path: String, wanted: String => Boolean,
                     header: Boolean, decodeCf: Boolean,
                     decodeTimes: Boolean): (Array[GridVar], Array[(String, Long, Double)]) =
    try format(raw, path) match {
      case "classic" if header =>
        val f = NetCdfSource.parseHeaderRaw(raw)
        (f.vars.filter(v => wanted(v.name)).map { v =>
          val dims = v.dimIds.map(f.dims(_).name)
          GridVar(v.name, dims,
            v.dimIds.map(d => if (f.dims(d).length == 0L) f.numRecs else f.dims(d).length),
            v.dimIds.headOption.exists(f.dims(_).length == 0L),
            isCoord = dims == Seq(v.name), "classic")
        }.toArray, Array.empty)
      case "classic" =>
        // toArray: the decoder returns a List, and positional List access in
        // the row loop is O(n²) — quadratic at real grid sizes
        (Array.empty, NetCdfSource.valuesRanged(raw, wanted, decodeCf, decodeTimes).toArray)
      case fmt =>
        val bytes = raw.slice(0L, raw.size)
        val decoded =
          if (fmt == "hdf5") graft.sinks.Hdf5Store.parseVars(bytes).map { v =>
            GridVar(v.name, v.dimNames, v.dims, null, v.isScale, fmt,
              v.scaleName, v.dimId, v.dtype) -> v.values
          } else GribSource.parse(bytes).map { m =>
            GridVar(s"grib_d${m.discipline}_c${m.category}_n${m.number}_f${m.forecastHours}",
              Seq("lat", "lon"), Seq(m.nj, m.ni), null, isCoord = false, fmt) -> m.values
          }
        val kept = decoded.filter(d => wanted(d._1.name)).toArray
        (kept.map(_._1),
          if (header) Array.empty
          else kept.flatMap { case (v, vals) => vals.indices.map(i => (v.name, i.toLong, vals(i))) })
    } catch {
      case e: Exception if !String.valueOf(e.getMessage).contains(path) =>
        throw new IllegalArgumentException(s"$path: $e", e)
    }
}

// ------------------------------------------------------------------ LMDB

/** `spark.read.format("graft.sources.AseLmdbDataSource").option("path", d)`
  * → `db_id STRING, row_id LONG, json STRING`. Pruning `json` away (id
  * lists, counts, resume anti-joins) skips the zlib inflate + UTF-8
  * decode of every value — the scan walks only the key B-tree, the LMDB
  * analogue of not reading data arrays (`_key_filter.py:45`).
  */
class AseLmdbDataSource extends FileUnitSource("*.aselmdb") {
  override protected def label = "aselmdb"
  override protected def keyColumn = "db_id"
  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType =
    AseLmdbDataSource.Schema
  // json pruned away → only the key B-tree is walked (a small slice)
  override protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                         required: StructType): Double =
    if (required.fieldNames.contains("json")) 1.0 else 0.1

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val c = conf
    val cols = required.fieldNames
    val needJson = cols.contains("json")
    u => {
      // ranged page walk: with `json` pruned away the B-tree skeleton is
      // all that's read — F_BIGDATA overflow pages (where ASE's large
      // compressed rows live) never move off disk
      val raw = new Dsv2.HadoopRawData(u.files.head, c)
      val entries =
        try AseLmdbSource.parseAllRanged(raw, needValues = needJson).iterator
          .collect { case AseLmdbSource.LmdbEntry("", k, v) => (k, v) }
          .filter { case (k, _) => !AseLmdbSource.ReservedKeys.contains(k) }
          .flatMap { case (k, v) => k.toLongOption.map(id => (id, v)) }
          .toArray
        finally raw.close()
      indexedRows(u, cols, entries.length) {
        case "row_id" => i => entries(i.toInt)._1
        case "json" => i =>
          // the expensive part — only paid when the query keeps `json`
          val v = entries(i.toInt)._2
          val payload =
            if (v.length >= 2 && (v(0) & 0xff) == 0x78) AseLmdbSource.inflate(v) else v
          UTF8String.fromString(new String(payload, "UTF-8"))
      }
    }
  }
}

object AseLmdbDataSource {
  val Schema: StructType = StructType(Seq(str("db_id"), lng("row_id"), str("json")))
}

// ------------------------------------------------------------------ VTI

/** `spark.read.format("graft.sources.VtiDataSource").option("path", dir)`.
  *
  * Default table (`table=points`): `grid_id STRING, i/j/k INT,
  * x/y/z DOUBLE` + the nullable DOUBLE columns of every PointData array
  * found across the globbed `.vti` files — the dense x-fastest point
  * lattice (reference `sources/vti.py:100-143`). `option("table", "cells")`
  * is the cell lattice (`(nx-1)(ny-1)(nz-1)` cells, coordinates at cell
  * centers) carrying the CellData arrays.
  *
  * Array columns and pruning mirror [[VtuDataSource]]: a k-component array
  * is the k columns `<name>_0 … <name>_{k-1}`, unselected arrays are never
  * payload-read (ranged reads into the appended block), lattice indices and
  * coordinates are COMPUTED from the header's extent/origin/spacing (zero
  * payload), and schema inference reads only XML headers.
  */
class VtiDataSource extends FileUnitSource("*.vti") {
  override protected def label = "vti"
  override protected def keyColumn = "grid_id"
  override protected def tables = Seq("points", "cells")
  override def supportsExternalMetadata(): Boolean = true

  private val lattice = Seq("grid_id", "i", "j", "k", "x", "y", "z")

  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType = {
    val cells = table(o) == "cells"
    StructType(Seq(str("grid_id"), int("i"), int("j"), int("k"), dbl("x"), dbl("y"), dbl("z")) ++
      arrays(headers(o) { raw =>
        val h = new VtkXmlSource.VtiFile(raw).parse((_, _) => false)._1
        if (cells) h.cellArrays else h.pointArrays
      }.flatMap(_._2)))
  }

  // i/j/k/x/y/z are COMPUTED from the header (zero payload)
  override protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                         required: StructType): Double =
    Dsv2.payloadFraction(full, required, lattice.toSet)

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val c = conf
    val cells = table(o) == "cells"
    val cols = required.fieldNames
    val keep = wanted(cols.toSet) _
    u => {
      val raw = open(u, c)
      val (extent, origin, spacing, values) =
        try {
          val (h, g) = new VtkXmlSource.VtiFile(raw).parse(keep)
          val (lists, data) =
            if (cells) (h.cellArrays, g.cellData) else (h.pointArrays, g.pointData)
          (g.extent, g.origin, g.spacing, columnValues(data, lists))
        } finally raw.close()
      // cell lattice dims (a flat axis keeps one layer, as in readVti)
      val off = if (cells) 1 else 0
      val dims = Array.tabulate(3)(a => math.max(extent(2 * a + 1) - extent(2 * a) + 1 - off, 1))
      val shift = if (cells) 0.5 else 0.0
      // lattice index of row idx along axis a (x fastest)
      def at(idx: Long, a: Int): Int = a match {
        case 0 => (idx % dims(0)).toInt
        case 1 => ((idx / dims(0)) % dims(1)).toInt
        case _ => (idx / (dims(0).toLong * dims(1))).toInt
      }
      indexedRows(u, cols, dims(0).toLong * dims(1) * dims(2)) {
        case a @ ("i" | "j" | "k") => val ax = a(0) - 'i'; idx => extent(2 * ax) + at(idx, ax)
        case a @ ("x" | "y" | "z") => val ax = a(0) - 'x'
          idx => origin(ax) + (extent(2 * ax) + at(idx, ax) + shift) * spacing(ax)
        case a => values.getOrElse(a, _ => null)
      }
    }
  }
}

// --------------------------------------------------------------- d3plot

/** `spark.read.format("graft.sources.D3PlotDataSource").option("path", g)`
  * over LS-DYNA d3plot families (root + `d3plot01…` continuations grouped
  * per directory, numerically ordered — see [[D3PlotDataSource.families]]);
  * one unit per family, keyed by its root path. `option("table", ...)`
  * picks the long model:
  *
  *  - `points` (default): `mesh_id, point_id, x, y, z`
  *  - `cells`:  `mesh_id, cell_id, vertices, part_id, cell_type`
  *  - `states`: `mesh_id, t, time, point_id, dx, dy, dz`
  *  - `shell`:  `mesh_id, t, cell_id, layer, sx..tzx, epsp`
  *  - `sph_particles`: `mesh_id, particle_id, node_id, material`
  *  - `sph_states`: `mesh_id, t, time, particle_id, field, value`
  *
  * The table choice maps onto [[D3PlotSource.D3Select]] block pruning: a
  * `states` scan never materializes geometry or shell stress, a `shell`
  * scan never materializes node vectors — the state walker advances at the
  * documented per-block strides (`d3plot.py:334` analogue). `points`,
  * `cells` and `sph_particles` read only the root's geometry prefix.
  * Schemas are static, so planning reads zero file bytes.
  */
class D3PlotDataSource extends FileUnitSource("*d3plot*") {
  override protected def label = "d3plot"
  override protected def keyColumn = "mesh_id"
  override protected def tables = D3PlotDataSource.Schemas.map(_._1)
  override def supportsExternalMetadata(): Boolean = true
  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType =
    D3PlotDataSource.Schemas.toMap.apply(table(o))

  override protected def units(o: CaseInsensitiveStringMap): Seq[ScanUnit] = {
    val sizes = listed(o).toMap
    D3PlotDataSource.families(sizes.keys.toSeq).map { case (root, conts) =>
      val files = root +: conts
      ScanUnit(root, files, files.map(sizes).sum)
    }
  }
  override protected def describe(o: CaseInsensitiveStringMap, required: StructType,
                                  pushed: Array[Filter]): String =
    s"graft_d3plot table=${table(o)} ReadSchema: ${required.map(_.name).mkString(",")}"

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val c = conf
    val t = table(o)
    val cols = required.fieldNames
    u => D3PlotDataSource.rows(u, t, cols, c).map(new GenericInternalRow(_))
  }
}

object D3PlotDataSource {
  /** The `table` option's values with their schemas, the default first. */
  val Schemas: Seq[(String, StructType)] = Seq(
    "points" -> StructType(Seq(str("mesh_id"), lng("point_id"), dbl("x"), dbl("y"), dbl("z"))),
    "cells" -> StructType(Seq(str("mesh_id"), lng("cell_id"), vertices,
      lng("part_id"), int("cell_type"))),
    "states" -> StructType(Seq(str("mesh_id"), int("t"), dbl("time"),
      lng("point_id"), dbl("dx"), dbl("dy"), dbl("dz"))),
    "shell" -> StructType(Seq(str("mesh_id"), int("t"), lng("cell_id"), int("layer"),
      dbl("sx"), dbl("sy"), dbl("sz"), dbl("txy"), dbl("tyz"), dbl("tzx"), dbl("epsp"))),
    "sph_particles" -> StructType(Seq(str("mesh_id"), lng("particle_id"), lng("node_id"),
      lng("material"))),
    "sph_states" -> StructType(Seq(str("mesh_id"), int("t"), dbl("time"),
      lng("particle_id"), str("field"), dbl("value"))))

  /** Driver-side family grouping: per directory, `d3plotNN` continuations
    * (numeric order, d3plot2 before d3plot10) belong to the bare `d3plot`
    * root; any other matching file is an independent root, and
    * continuations without a root fail loudly.
    */
  private[sources] def families(files: Seq[String]): Seq[(String, Seq[String])] = {
    def base(p: String) = p.split("/").last
    files.groupBy(_.replaceAll("/[^/]*$", "")).toSeq.sortBy(_._1).flatMap {
      case (dir, fs) =>
        val (conts, roots) = fs.partition(f => base(f).matches("d3plot\\d+"))
        val sortedConts = conts.sortBy(f => base(f).drop("d3plot".length).toInt)
        val (familyRoot, soloRoots) = roots.partition(f => base(f) == "d3plot")
        require(sortedConts.isEmpty || familyRoot.nonEmpty,
          s"$dir has continuation files ${sortedConts.map(base)} but no d3plot root")
        familyRoot.map(r => (r, sortedConts)) ++ soloRoots.sorted.map(r => (r, Nil))
    }
  }

  /** One family's rows of `table`, as values of `cols` in order. */
  private def rows(fam: ScanUnit, table: String, cols: Array[String],
                   conf: Map[String, String]): Iterator[Array[Any]] = {
    val root = fam.files.head
    val sel = table match {
      case "points" | "cells" =>
        D3PlotSource.D3Select(geometry = true, nodeVec = false, shell = false, sph = false)
      case "states" =>
        D3PlotSource.D3Select(geometry = false, nodeVec = true, shell = false, sph = false)
      case "shell" =>
        D3PlotSource.D3Select(geometry = false, nodeVec = false, shell = true, sph = false)
      case "sph_particles" | "sph_states" =>
        D3PlotSource.D3Select(geometry = false, nodeVec = false, shell = false, sph = true)
    }
    val f =
      if (table == "points" || table == "cells" || table == "sph_particles") {
        // the geometry and the SPH node & material list sit entirely
        // before the first state: pread just that prefix of the root and
        // skip every continuation file (continuations are state payload only)
        val raw = new Dsv2.HadoopRawData(root, conf)
        val rootBytes =
          try {
            val head = raw.slice(0L, math.min(raw.size, 64L << 10))
            raw.slice(0L, math.min(raw.size,
              D3PlotSource.geometryByteLength(head)))
          } finally raw.close()
        D3PlotSource.parseFamily(rootBytes, Nil, sel)
      } else
        D3PlotSource.parseFamily(Dsv2.readBytes(root, conf),
          fam.files.tail.map(Dsv2.readBytes(_, conf)), sel)
    val meshId = fam.datum
    table match {
      case "points" =>
        f.coords.iterator.zipWithIndex.map { case (c, n) =>
          cols.map[Any] {
            case "mesh_id" => meshId
            case "point_id" => n.toLong
            case "x" => c(0).toDouble
            case "y" => c(1).toDouble
            case "z" => c(2).toDouble
          }
        }
      case "cells" =>
        val solids = f.solids.iterator.zipWithIndex.map { case ((vs, part), e) =>
          (e.toLong, vs, part, 12)
        }
        val shells = f.shells.iterator.zipWithIndex.map { case ((vs, part), e) =>
          ((f.solids.length + e).toLong, vs, part, 9)
        }
        (solids ++ shells).map { case (cellId, vs, part, tpe) =>
          cols.map[Any] {
            case "mesh_id" => meshId
            case "cell_id" => cellId
            case "vertices" => new GenericArrayData(vs)
            case "part_id" => part
            case "cell_type" => tpe
          }
        }
      case "states" =>
        f.states.iterator.zipWithIndex.flatMap { case (st, t) =>
          st.nodeVec.iterator.zipWithIndex.map { case (v, n) =>
            cols.map[Any] {
              case "mesh_id" => meshId
              case "t" => t
              case "time" => st.time.toDouble
              case "point_id" => n.toLong
              case "dx" => v(0).toDouble
              case "dy" => v(1).toDouble
              case "dz" => v(2).toDouble
            }
          }
        }
      case "shell" =>
        val nSolids = f.numSolids
        f.states.iterator.zipWithIndex.flatMap { case (st, t) =>
          st.shellStress.iterator.zipWithIndex.flatMap { case (layers, e) =>
            layers.iterator.zipWithIndex.map { case (sv, l) =>
              cols.map[Any] {
                case "mesh_id" => meshId
                case "t" => t
                case "cell_id" => (nSolids + e).toLong
                case "layer" => l
                case "sx" => sv(0).toDouble
                case "sy" => sv(1).toDouble
                case "sz" => sv(2).toDouble
                case "txy" => sv(3).toDouble
                case "tyz" => sv(4).toDouble
                case "tzx" => sv(5).toDouble
                case "epsp" => st.shellEpsp(e)(l).toDouble
              }
            }
          }
        }
      case "sph_particles" =>
        f.sphParticles.iterator.zipWithIndex.map { case ((node, mat), i) =>
          cols.map[Any] {
            case "mesh_id" => meshId
            case "particle_id" => i.toLong
            case "node_id" => node
            case "material" => mat
          }
        }
      case "sph_states" =>
        val labels = f.sphLabels.map(UTF8String.fromString).toArray
        f.states.iterator.zipWithIndex.flatMap { case (st, t) =>
          st.sph.iterator.zipWithIndex.flatMap { case (vals, i) =>
            vals.iterator.zipWithIndex.map { case (v, k) =>
              cols.map[Any] {
                case "mesh_id" => meshId
                case "t" => t
                case "time" => st.time.toDouble
                case "particle_id" => i.toLong
                case "field" => labels(k)
                case "value" => v.toDouble
              }
            }
          }
        }
    }
  }
}
