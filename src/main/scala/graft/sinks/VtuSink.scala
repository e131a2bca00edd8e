package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Zlib

/** VTU writer (reference `domains/mesh/sinks/mesh_vtu.py:49`): one `.vtu`
  * file per mesh, assembled per-mesh ON EXECUTORS (collect_list per mesh —
  * one index fits in memory, the reference's own working assumption) and
  * written through the Hadoop FS API so any scheme (file/hdfs/s3a) works;
  * each file's bytes count into the writing task's output metrics.
  * Round-trips with `VtkXmlSource.read` in every format.
  *
  * `format`:
  *  - `"ascii"` — human-readable, lossy for doubles printed via toString
  *    only in the sense of shortest-roundtrip (Java prints doubles
  *    round-trippably, so values survive);
  *  - `"appended"` — raw appended binary, UInt64 headers (bit-exact,
  *    compact);
  *  - `"appended-zlib"` — raw appended + vtkZLibDataCompressor block layout
  *    (bit-exact, smallest — the layout nearly all real-world VTU uses).
  */
object VtuSink {

  private val BlockSize = 32768 // VTK's default compression block size

  /** Write `<out>/mesh_<id>.vtu` for each mesh. Returns written paths.
    *
    * Connectivity in a VTU file is POSITIONAL (an index into the Points array
    * as written), so `vertices` point ids are remapped to the position of each
    * point in the point_id-sorted Points array — non-contiguous ids (after
    * `dropUnusedPoints` / `mergeDuplicatePoints`+remap) stay correct. A vertex
    * referencing a point absent from `points` fails loudly.
    *
    * Cell type comes from an optional `cell_type` column in `cells` (any VTK
    * type code); without it only 3-vertex (triangle, 5) and 4-vertex
    * (tetrahedron, 10) cells are inferable — anything else throws rather than
    * silently writing a wrong type.
    */
  def write(points: DataFrame, cells: DataFrame, pointData: DataFrame,
            out: String, format: String = "ascii",
            cellData: Option[DataFrame] = None,
            nameTemplate: String = "mesh_{id}.vtu",
            polyData: Boolean = false): Seq[String] = {
    require(Set("ascii", "appended", "appended-zlib")(format),
      s"unknown VTU format '$format'")
    require(nameTemplate.contains("{id}"), "nameTemplate must contain {id}")
    val spark = points.sparkSession
    val pts = points.groupBy(col("mesh_id")).agg(
      sort_array(collect_list(struct(col("point_id"), col("x"), col("y"), col("z"))))
        .as("pts"))
    // coalesce: a null cell_type falls through to vertex-count inference (or
    // its descriptive error) instead of an opaque executor-side NPE
    val typeCol =
      if (cells.columns.contains("cell_type"))
        coalesce(col("cell_type").cast("int"), lit(-1))
      else lit(-1)
    val cls = cells.groupBy(col("mesh_id")).agg(
      sort_array(collect_list(struct(col("cell_id"), col("vertices"), typeCol.as("cell_type"))))
        .as("cls"))
    val pd = pointData
      .groupBy(col("mesh_id"), col("field"))
      .agg(sort_array(collect_list(struct(col("point_id"), col("value")))).as("vals"))
      .groupBy(col("mesh_id"))
      .agg(sort_array(collect_list(struct(col("field"), col("vals")))).as("fields"))
    // cell data (one value per cell) renders as a CellData section; absent →
    // the join below leaves the column null and extract emits no section
    val cd = cellData.getOrElse {
      import spark.implicits._
      Seq.empty[(String, Long, String, Double)]
        .toDF("mesh_id", "cell_id", "field", "value")
    }
      .groupBy(col("mesh_id"), col("field"))
      .agg(sort_array(collect_list(struct(col("cell_id"), col("value")))).as("vals"))
      .groupBy(col("mesh_id"))
      .agg(sort_array(collect_list(struct(col("field"), col("vals")))).as("cell_fields"))
    val assembled = pts.join(cls, Seq("mesh_id"))
      .join(pd, Seq("mesh_id"), "left")
      .join(cd, Seq("mesh_id"), "left")

    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val template = nameTemplate
    val poly = polyData
    assembled.map { row =>
      val meshId = row.get(row.fieldIndex("mesh_id"))
      val bytes = render(row, format, poly)
      val path = new org.apache.hadoop.fs.Path(
        s"$out/${template.replace("{id}", String.valueOf(meshId))}")
      val fs = path.getFileSystem(hadoopConf.value)
      val os = fs.create(path, true)
      try os.write(bytes) finally os.close()
      org.apache.spark.sql.graft.Bridge.addWrittenFile(bytes.length)
      path.toString
    }(Encoders.STRING).collect().toSeq.sorted
  }

  private val Encoders = org.apache.spark.sql.Encoders

  /** The per-mesh arrays every format serializes. */
  private final case class MeshArrays(
      coords: Array[Double],      // 3n flat
      conn: Array[Long],          // positional indices
      offsets: Array[Long],
      types: Array[Int],
      fields: Seq[(String, Array[Double])],
      cellFields: Seq[(String, Array[Double])])

  private def extract(row: Row): MeshArrays = {
    val pts = row.getSeq[Row](row.fieldIndex("pts"))
    val cls = row.getSeq[Row](row.fieldIndex("cls"))
    val fields: Seq[Row] =
      if (row.isNullAt(row.fieldIndex("fields"))) Seq.empty
      else row.getSeq[Row](row.fieldIndex("fields"))
    val cellFields: Seq[Row] =
      if (row.isNullAt(row.fieldIndex("cell_fields"))) Seq.empty
      else row.getSeq[Row](row.fieldIndex("cell_fields"))

    val coords = pts.iterator.flatMap(p =>
      Iterator(p.getDouble(1), p.getDouble(2), p.getDouble(3))).toArray
    // point_id -> positional index in the Points array as written
    val posOf: Map[Long, Int] =
      pts.iterator.zipWithIndex.map { case (p, i) => p.getLong(0) -> i }.toMap
    val conn = cls.iterator.flatMap(_.getSeq[Long](1)).map { pid =>
      posOf.getOrElse(pid, throw new IllegalArgumentException(
        s"cell vertex references point_id $pid absent from points")).toLong
    }.toArray
    val offsets = cls.scanLeft(0L)((acc, c) => acc + c.getSeq[Long](1).length)
      .drop(1).toArray
    val types = cls.map { c =>
      val explicit = c.getInt(2)
      if (explicit >= 0) explicit
      else c.getSeq[Long](1).length match {
        case 3 => 5   // VTK_TRIANGLE
        case 4 => 10  // VTK_TETRA
        case n => throw new IllegalArgumentException(
          s"cannot infer VTK cell type for $n-vertex cell ${c.get(0)}; pass a cell_type column")
      }
    }.toArray
    val fieldArrays = fields.map { f =>
      (f.getString(0), f.getSeq[Row](1).map(_.getDouble(1)).toArray)
    }
    val cellFieldArrays = cellFields.map { f =>
      (f.getString(0), f.getSeq[Row](1).map(_.getDouble(1)).toArray)
    }
    MeshArrays(coords, conn, offsets, types, fieldArrays, cellFieldArrays)
  }

  private def render(row: Row, format: String, poly: Boolean): Array[Byte] = {
    val m = extract(row)
    format match {
      case "ascii" => renderAscii(m, poly).getBytes("UTF-8")
      case "appended" => renderAppended(m, zlib = false, poly)
      case "appended-zlib" => renderAppended(m, zlib = true, poly)
    }
  }

  private def renderAscii(m: MeshArrays, poly: Boolean): String = {
    val nPts = m.coords.length / 3
    val pdArrays = m.fields.map { case (name, vals) =>
      s"""    <DataArray type="Float64" Name="$name" format="ascii">${vals.mkString(" ")}</DataArray>"""
    }.mkString("\n")
    val cdArrays = m.cellFields.map { case (name, vals) =>
      s"""    <DataArray type="Float64" Name="$name" format="ascii">${vals.mkString(" ")}</DataArray>"""
    }.mkString("\n")
    val (root, pieceAttrs, cellSec) =
      if (poly) ("PolyData",
        s"""NumberOfPoints="$nPts" NumberOfVerts="0" NumberOfLines="0" NumberOfStrips="0" NumberOfPolys="${m.types.length}"""",
        "Polys")
      else ("UnstructuredGrid",
        s"""NumberOfPoints="$nPts" NumberOfCells="${m.types.length}"""", "Cells")
    // PolyData has no types array — cell shape is implied by the offsets
    val typesArray =
      if (poly) ""
      else s"""
       |    <DataArray type="UInt8" Name="types" format="ascii">${m.types.mkString(" ")}</DataArray>""".stripMargin
    s"""<?xml version="1.0"?>
       |<VTKFile type="$root" version="0.1" byte_order="LittleEndian">
       | <$root>
       |  <Piece $pieceAttrs>
       |   <Points>
       |    <DataArray type="Float64" NumberOfComponents="3" format="ascii">${m.coords.mkString(" ")}</DataArray>
       |   </Points>
       |   <$cellSec>
       |    <DataArray type="Int64" Name="connectivity" format="ascii">${m.conn.mkString(" ")}</DataArray>
       |    <DataArray type="Int64" Name="offsets" format="ascii">${m.offsets.mkString(" ")}</DataArray>$typesArray
       |   </$cellSec>
       |   <PointData>
       |$pdArrays
       |   </PointData>
       |   <CellData>
       |$cdArrays
       |   </CellData>
       |  </Piece>
       | </$root>
       |</VTKFile>""".stripMargin
  }

  // ------------------------------------------------- appended binary layout

  private def le(n: Int): ByteBuffer =
    ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private[sinks] def doubleBytes(a: Array[Double]): Array[Byte] = {
    val b = le(a.length * 8); a.foreach(b.putDouble); b.array()
  }
  private def longBytes(a: Array[Long]): Array[Byte] = {
    val b = le(a.length * 8); a.foreach(b.putLong); b.array()
  }
  private def byteBytes(a: Array[Int]): Array[Byte] = a.map(_.toByte)

  /** One array's appended payload: `[UInt64 len][data]` raw, or the VTK
    * zlib block layout `[nb][blockSize][lastSize][c_i...][blocks]`.
    */
  private[sinks] def payload(data: Array[Byte], zlib: Boolean): Array[Byte] =
    if (!zlib) {
      val b = le(8 + data.length)
      b.putLong(data.length.toLong).put(data).array()
    } else if (data.isEmpty) {
      // zero blocks: header [0][blockSize][0], no compressed data
      le(24).putLong(0L).putLong(BlockSize.toLong).putLong(0L).array()
    } else {
      val blocks = data.grouped(BlockSize).toArray
      val comp = blocks.map(Zlib.deflate)
      val header = le(8 * (3 + comp.length))
      header.putLong(blocks.length.toLong)
      header.putLong(BlockSize.toLong)
      header.putLong(blocks.last.length.toLong)
      comp.foreach(c => header.putLong(c.length.toLong))
      val out = new java.io.ByteArrayOutputStream()
      out.write(header.array()); comp.foreach(out.write)
      out.toByteArray
    }

  private def renderAppended(m: MeshArrays, zlib: Boolean,
                             poly: Boolean = false): Array[Byte] = {
    val nPts = m.coords.length / 3
    val (root, pieceAttrs, cellSec) =
      if (poly) ("PolyData",
        s"""NumberOfPoints="$nPts" NumberOfVerts="0" NumberOfLines="0" NumberOfStrips="0" NumberOfPolys="${m.types.length}"""",
        "Polys")
      else ("UnstructuredGrid",
        s"""NumberOfPoints="$nPts" NumberOfCells="${m.types.length}"""", "Cells")
    val arrays: Seq[(String, String, String, Array[Byte])] =
      (Seq(("Points", "", "Float64", doubleBytes(m.coords)),
          (cellSec, "connectivity", "Int64", longBytes(m.conn)),
          (cellSec, "offsets", "Int64", longBytes(m.offsets))) ++
        (if (poly) Nil // PolyData has no types array
         else Seq((cellSec, "types", "UInt8", byteBytes(m.types))))) ++
        m.fields.map { case (name, vals) =>
          ("PointData", name, "Float64", doubleBytes(vals))
        } ++
        m.cellFields.map { case (name, vals) =>
          ("CellData", name, "Float64", doubleBytes(vals))
        }
    val payloads = arrays.map { case (_, _, _, d) => payload(d, zlib) }
    val offsets = payloads.scanLeft(0L)(_ + _.length)

    def tag(section: String, name: String, tpe: String, off: Long): String = {
      val nameAttr = if (name.nonEmpty) s""" Name="$name"""" else ""
      val comps = if (section == "Points") """ NumberOfComponents="3"""" else ""
      s"""<DataArray type="$tpe"$nameAttr$comps format="appended" offset="$off"/>"""
    }
    val tags = arrays.zip(offsets).map { case ((sec, name, tpe, _), off) =>
      (sec, tag(sec, name, tpe, off))
    }
    def inSection(s: String) =
      tags.filter(_._1 == s).map("    " + _._2).mkString("\n")

    val compAttr = if (zlib) """ compressor="vtkZLibDataCompressor"""" else ""
    val head =
      s"""<?xml version="1.0"?>
         |<VTKFile type="$root" version="1.0" byte_order="LittleEndian" header_type="UInt64"$compAttr>
         | <$root>
         |  <Piece $pieceAttrs>
         |   <Points>
         |${inSection("Points")}
         |   </Points>
         |   <$cellSec>
         |${inSection(cellSec)}
         |   </$cellSec>
         |   <PointData>
         |${inSection("PointData")}
         |   </PointData>
         |   <CellData>
         |${inSection("CellData")}
         |   </CellData>
         |  </Piece>
         | </$root>
         | <AppendedData encoding="raw">
         |  _""".stripMargin
    val tail = "\n </AppendedData>\n</VTKFile>\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(head.getBytes("UTF-8"))
    payloads.foreach(out.write)
    out.write(tail.getBytes("UTF-8"))
    out.toByteArray
  }
}
