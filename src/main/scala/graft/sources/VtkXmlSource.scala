package graft.sources

import java.io.ByteArrayInputStream
import java.nio.{ByteBuffer, ByteOrder}

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.Zlib

/** VTK XML mesh reader (reference `domains/mesh/sources/vtk.py:74` + Rust
  * `vtk/parser.rs:303`, `vtk/reader.rs:38,60`), Spark-first:
  *
  *  - the parsers here decode one file (StAX streaming, no DOM); the
  *    [[VtuDataSource]] and [[VtiDataSource]] tables run them one file per
  *    task, with ranged reads;
  *  - reader-level array include/exclude (`_key_filter.py:45-110`): excluded
  *    DataArrays are skipped DURING parsing, never materialized — column
  *    pruning at the reader, like the reference's key_filters;
  *  - `read`/`readAll`/`readVti` give the long mesh model (`mesh/MeshOps`):
  *    points / cells / point_data tables keyed by file path, projected from
  *    those tables, ready for the mesh filter family.
  *
  * DataArray layouts covered (the full VTK XML matrix):
  *  - `format="ascii"`;
  *  - `format="binary"` (inline base64), uncompressed single-stream
  *    `b64(header ++ data)` and zlib-compressed two-stream
  *    `b64(block header) ++ b64(compressed blocks)`;
  *  - `format="appended"` with `encoding="raw"` and `encoding="base64"`,
  *    offsets into the post-`_` AppendedData block, both uncompressed and
  *    zlib block-compressed (`compressor="vtkZLibDataCompressor"`);
  *  - `header_type` UInt32 (default) and UInt64, little-endian.
  *
  * Grid types: UnstructuredGrid (`.vtu`, Cells), PolyData (`.vtp`, Polys
  * as cells; Verts/Lines/Strips are ignored) and StructuredGrid (`.vts`,
  * whose cells are the implicit hexahedra of its Extent). LZMA/LZ4
  * compressors and big-endian files throw.
  */
object VtkXmlSource {

  final case class VtuPiece(
      points: Array[Array[Double]],              // (n, 3)
      cells: Array[Array[Long]],                 // ragged connectivity
      pointData: Map[String, Array[Double]],
      cellData: Map[String, Array[Double]] = Map.empty)

  // ---------------------------------------------------------------- decoding

  private def wordSize(ht: String): Int = if (ht == "UInt64") 8 else 4

  private def readWord(b: Array[Byte], off: Int, ht: String): Long = {
    val buf = ByteBuffer.wrap(b, off, wordSize(ht)).order(ByteOrder.LITTLE_ENDIAN)
    if (ht == "UInt64") buf.getLong else buf.getInt.toLong & 0xffffffffL
  }

  /** Inflate the VTK block-compressed layout given its already-decoded
    * header words `[nBlocks, blockSize, lastSize, c_1..c_N]` and a reader
    * for the concatenated compressed blocks.
    */
  private def inflateBlocks(header: Array[Byte], ht: String,
                            compressedAt: (Int, Int) => Array[Byte]): Array[Byte] = {
    val ws = wordSize(ht)
    val nb = readWord(header, 0, ht).toInt
    val blockSize = readWord(header, ws, ht).toInt
    val last0 = readWord(header, 2 * ws, ht).toInt
    val lastSize = if (last0 == 0) blockSize else last0
    val sizes = Array.tabulate(nb)(i => readWord(header, (3 + i) * ws, ht).toInt)
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    var i = 0
    while (i < nb) {
      val rawLen = if (i == nb - 1) lastSize else blockSize
      out.write(Zlib.inflate(compressedAt(off, sizes(i)), 0, sizes(i), rawLen))
      off += sizes(i)
      i += 1
    }
    out.toByteArray
  }

  /** Random-access view of a file or of its AppendedData block: array-backed
    * when the bytes are in memory, ranged ([[Dsv2.HadoopRawData]],
    * [[Dsv2.ConcatRawData]]) for files whose OFFSETS are unbounded and where
    * only each individual DataArray payload must fit in one array.
    */
  private[graft] trait RawData {
    def size: Long
    def slice(off: Long, len: Long): Array[Byte]
  }

  private[sources] final class ArrayRawData(a: Array[Byte]) extends RawData {
    def size: Long = a.length.toLong
    def slice(off: Long, len: Long): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= a.length,
        s"appended slice [$off,+$len) outside ${a.length} bytes")
      java.util.Arrays.copyOfRange(a, off.toInt, (off + len).toInt)
    }
  }

  /** Window onto a sub-range of another RawData (the AppendedData block of
    * a file-backed handle) — offsets stay Long end-to-end, only individual
    * slices must fit in one array. `size` is evaluated on first use.
    */
  private[sources] final class SubRawData(under: RawData, start: Long,
                                          sizeOf: => Long) extends RawData {
    lazy val size: Long = sizeOf
    def slice(off: Long, len: Long): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= size,
        s"appended slice [$off,+$len) outside $size bytes")
      under.slice(start + off, len)
    }
  }

  /** Raw (appended `encoding="raw"`) payload at byte offset `off`. */
  private def decodeRawPayload(app: RawData, off: Long, ht: String,
                               compressed: Boolean): Array[Byte] = {
    val ws = wordSize(ht)
    if (!compressed) {
      val n = readWord(app.slice(off, ws.toLong), 0, ht)
      app.slice(off + ws, n)
    } else {
      val nb = readWord(app.slice(off, ws.toLong), 0, ht).toInt
      val header = app.slice(off, (3 + nb).toLong * ws)
      val dataStart = off + (3 + nb).toLong * ws
      inflateBlocks(header, ht, (o, len) => app.slice(dataStart + o, len.toLong))
    }
  }

  /** base64 chars needed to encode n bytes (including padding). */
  private def b64Chars(n: Int): Int = 4 * ((n + 2) / 3)

  /** Decode `nChars` of base64 starting at char `off` (whitespace must
    * already be stripped; `off` must be a stream-aligned 4-char boundary).
    */
  private def b64Slice(s: String, off: Int, nChars: Int): Array[Byte] =
    java.util.Base64.getMimeDecoder.decode(
      s.substring(off, math.min(off + nChars, s.length)))

  /** Base64 payload (inline `format="binary"` text, or appended
    * `encoding="base64"` at char offset `off`). Uncompressed data is ONE
    * stream b64(header ++ data); compressed is TWO concatenated streams
    * b64(block header) ++ b64(compressed blocks) — each padded separately.
    * Decodes only the chars this array owns, so it is safe inside a shared
    * appended block where other arrays follow.
    */
  private def decodeB64Payload(s: String, off: Int, ht: String,
                               compressed: Boolean): Array[Byte] = {
    val ws = wordSize(ht)
    if (!compressed) {
      val head = b64Slice(s, off, b64Chars(ws))      // ≥ ws bytes decoded
      val n = readWord(head, 0, ht).toInt
      val all = b64Slice(s, off, b64Chars(ws + n))
      java.util.Arrays.copyOfRange(all, ws, ws + n)
    } else {
      val first = b64Slice(s, off, b64Chars(ws))
      val nb = readWord(first, 0, ht).toInt
      val headerBytes = (3 + nb) * ws
      val header = b64Slice(s, off, b64Chars(headerBytes))
      val dataOff = off + b64Chars(headerBytes)       // second stream start
      val ws3 = wordSize(ht)
      val totalComp = (0 until nb)
        .map(i => readWord(header, (3 + i) * ws3, ht).toInt).sum
      val comp = b64Slice(s, dataOff, b64Chars(totalComp))
      inflateBlocks(header, ht,
        (o, len) => java.util.Arrays.copyOfRange(comp, o, o + len))
    }
  }

  /** Byte size of one value of a VTK binary type. */
  private def typeSize(vtkType: String): Int = vtkType match {
    case "Float64" | "Int64" | "UInt64" => 8
    case "Float32" | "Int32" | "UInt32" => 4
    case "Int16" | "UInt16" => 2
    case "Int8" | "UInt8" => 1
    case other => throw new IllegalArgumentException(s"unsupported binary type $other")
  }

  /** Decoded byte length of a raw (appended `encoding="raw"`) payload at
    * byte offset `off`, from its size words alone.
    */
  private def rawPayloadSize(app: RawData, off: Long, ht: String,
                             compressed: Boolean): Long = {
    val ws = wordSize(ht)
    if (!compressed) readWord(app.slice(off, ws.toLong), 0, ht)
    else {
      val h = app.slice(off, 3L * ws)
      val (nb, block, last) = (readWord(h, 0, ht), readWord(h, ws, ht), readWord(h, 2 * ws, ht))
      if (nb == 0) 0L else (nb - 1) * block + (if (last == 0) block else last)
    }
  }

  /** Reinterpret a raw little-endian payload as doubles per the VTK type. */
  private def typedDoubles(bytes: Array[Byte], vtkType: String): Array[Double] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    vtkType match {
      case "Float64" => Array.fill(bytes.length / 8)(buf.getDouble)
      case "Float32" => Array.fill(bytes.length / 4)(buf.getFloat.toDouble)
      case "Int64"   => Array.fill(bytes.length / 8)(buf.getLong.toDouble)
      case "UInt64"  => Array.fill(bytes.length / 8)(buf.getLong.toDouble)
      case "Int32"   => Array.fill(bytes.length / 4)(buf.getInt.toDouble)
      case "UInt32"  => Array.fill(bytes.length / 4)(buf.getInt.toLong.&(0xffffffffL).toDouble)
      case "Int16"   => Array.fill(bytes.length / 2)(buf.getShort.toDouble)
      case "UInt16"  => Array.fill(bytes.length / 2)((buf.getShort & 0xffff).toDouble)
      case "Int8"    => Array.fill(bytes.length)(buf.get().toDouble)
      case "UInt8"   => Array.fill(bytes.length)((buf.get() & 0xff).toDouble)
      case other => throw new IllegalArgumentException(s"unsupported binary type $other")
    }
  }

  // ------------------------------------------------------- appended section

  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Split a VTK XML file into a well-formed XML head and the AppendedData
    * block (bytes after the `_` marker, trimmed of the closing tag). With
    * `encoding="raw"` the file is NOT well-formed XML past `<AppendedData>`
    * (raw bytes are embedded), so the head is cut at the tag and re-closed —
    * the same byte-scan strategy the reference's Rust reader uses. Reads
    * only a BOUNDED head window (grown geometrically until the
    * `<AppendedData` marker or EOF is inside it) plus, when a payload is
    * first sliced, a 4 KiB tail window for the closing tag — never the
    * appended payload. This is both the planning-time schema read of
    * the DSv2 relation (driver cost per file = XML header bytes, not file
    * bytes) and the scan-time entry for ranged per-array reads. Only a file
    * with NO appended section is materialized whole (it is pure XML and
    * must fit in one array).
    */
  private[sources] def splitAppendedRaw(raw: RawData): (Array[Byte], Option[(String, RawData)]) = {
    val marker = "<AppendedData".getBytes("US-ASCII")
    var window = math.min(raw.size, 16L << 10)
    var head = raw.slice(0L, window)
    var openIdx = indexOfBytes(head, marker, 0)
    // keep a marker-length overlap margin: grow while the marker could
    // still straddle the window edge
    while (openIdx < 0 && window < raw.size) {
      window = math.min(raw.size, window * 4)
      require(window <= Int.MaxValue - 8,
        s"no <AppendedData marker within 2 GiB of XML head (${raw.size} bytes)")
      head = raw.slice(0L, window)
      openIdx = indexOfBytes(head, marker, 0)
    }
    if (openIdx < 0) {
      // whole file is XML (ascii / inline-base64 layouts)
      require(raw.size <= Int.MaxValue - 8,
        s"VTU XML of ${raw.size} bytes with no AppendedData exceeds 2 GiB")
      return (if (window == raw.size) head else raw.slice(0L, raw.size), None)
    }
    // the tag itself plus the '_' marker sit directly after `<AppendedData`;
    // make sure both are inside the window
    var tagEnd = indexOfBytes(head, ">".getBytes("US-ASCII"), openIdx)
    var underscore = if (tagEnd < 0) -1 else indexOfBytes(head, "_".getBytes("US-ASCII"), tagEnd)
    while (underscore < 0 && window < raw.size) {
      window = math.min(raw.size, window * 4)
      head = raw.slice(0L, window)
      tagEnd = indexOfBytes(head, ">".getBytes("US-ASCII"), openIdx)
      underscore = if (tagEnd < 0) -1 else indexOfBytes(head, "_".getBytes("US-ASCII"), tagEnd)
    }
    require(underscore >= 0, "AppendedData section has no '_' data marker")
    val tagHead = new String(head, openIdx,
      math.min(512, head.length - openIdx), "US-ASCII")
    val enc = "encoding\\s*=\\s*\"([^\"]+)\"".r.findFirstMatchIn(tagHead)
      .map(_.group(1)).getOrElse("base64")
    // closing tag at the end of the file; raw binary may contain the byte
    // pattern by chance, so take the LAST match in the tail window. Read
    // when a payload is first sliced, so a header-only read (schema
    // inference) touches the head window alone.
    lazy val closeAbs = {
      val tailWindow = math.min(raw.size - underscore - 1, 4096L)
      val tail = raw.slice(raw.size - tailWindow, tailWindow)
      val needle = "</AppendedData".getBytes("US-ASCII")
      var last = -1
      var at = indexOfBytes(tail, needle, 0)
      while (at >= 0) { last = at; at = indexOfBytes(tail, needle, at + 1) }
      if (last < 0) raw.size else raw.size - tailWindow + last
    }
    val xmlHead = (new String(head, 0, openIdx, "UTF-8") + "</VTKFile>")
      .getBytes("UTF-8")
    (xmlHead, Some((enc, new SubRawData(raw, underscore + 1L, closeAbs - underscore - 1L))))
  }

  // ---------------------------------------------------------------- parsing

  /** What a piece's XML header states, read without any payload: its point
    * and cell counts (-1 when the Piece carries no NumberOf* attribute; a
    * StructuredGrid piece's come from its point Extent, the Piece's, else
    * the WholeExtent) and its PointData and CellData arrays with their
    * NumberOfComponents.
    */
  private[sources] final case class VtuHeader(points: Long, cells: Long,
                                              pointArrays: Seq[(String, Int)],
                                              cellArrays: Seq[(String, Int)])

  /** Parse one .vtu/.vtp/.vts byte payload in any of the supported layouts.
    * `include`/`exclude` act on PointData array names (include wins if both;
    * empty include = all). A StructuredGrid piece's cells are the implicit
    * hexahedra of its Extent ([[structuredCells]]).
    */
  def parseVtu(bytes: Array[Byte], include: Set[String] = Set.empty,
               exclude: Set[String] = Set.empty,
               decodePoints: Boolean = true,
               decodeCells: Boolean = true,
               decodePointData: Boolean = true): VtuPiece = {
    new VtuFile(new ArrayRawData(bytes)).parse(
      (a, _) => decodePointData && keeps(include, exclude)(a), decodePoints, decodeCells)
  }

  /** One VTK XML file over a random-access handle, its XML head read once
    * in a bounded window: [[header]] decodes no payload (the planning-time
    * face of the DSv2 relations, O(header bytes) per file even for the
    * reference's ~50 GB DrivAerML volume VTUs, `drivaerml.py:17-30`), and
    * [[parse]] reads each kept DataArray's appended-raw payload at its
    * offset — unselected arrays cost zero bytes of I/O, and the file size is
    * unbounded (only each individual payload must fit in one array). A
    * base64 appended block still materializes whole (its offsets address
    * chars of the whitespace-stripped text, ≤ 2 GiB).
    */
  private[graft] final class VtuFile(raw: RawData) {
    private val (xml, appended) = splitAppendedRaw(raw)

    lazy val header: VtuHeader =
      parseVtuCore(xml, None, (_, _) => false, decodePoints = false,
        decodeCells = false, checkExtent = false)._1

    /** The piece with the PointData / CellData arrays `wanted` names (by
      * name and component count) and the asked geometry decoded. A
      * StructuredGrid piece's Points are always sized against its Extent.
      */
    def parse(wanted: (String, Int) => Boolean = (_, _) => true,
              decodePoints: Boolean = true, decodeCells: Boolean = true): VtuPiece =
      parseVtuCore(xml, appended, wanted, decodePoints, decodeCells, checkExtent = true)._2
  }

  /** Points of a point Extent `x0 x1 y0 y1 z0 z1`, and its implicit cells
    * (an axis one point thick has none).
    */
  private def extentCounts(e: Array[Int]): (Long, Long) = {
    val n = Seq(0, 1, 2).map(a => e(2 * a + 1).toLong - e(2 * a) + 1)
    require(n.forall(_ >= 1), s"empty Extent ${e.mkString(" ")}")
    def product(xs: Seq[Long]): Long = xs.reduce((a, b) => math.multiplyExact(a, b))
    (product(n), product(n.map(_ - 1)))
  }

  private def parseVtuCore(xmlBytes: Array[Byte],
                           appended: Option[(String, RawData)],
                           wanted: (String, Int) => Boolean,
                           decodePoints: Boolean,
                           decodeCells: Boolean,
                           checkExtent: Boolean): (VtuHeader, VtuPiece) = {
    // base64-appended offsets address CHARS of the whitespace-stripped block
    lazy val appendedB64: String = {
      val rd = appended.get._2
      require(rd.size <= Int.MaxValue - 8,
        s"base64 AppendedData of ${rd.size} bytes exceeds 2 GiB (use raw encoding)")
      new String(rd.slice(0L, rd.size), "US-ASCII").replaceAll("\\s", "")
    }

    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xmlBytes))

    var section = ""                         // Points | Cells | Polys | PointData | CellData
    var arrayName = ""
    var arrayFormat = "ascii"
    var arrayType = "Float64"
    var arrayOffset = 0L
    var headerType = "UInt32"
    var compressed = false
    var keepArray = false
    var nPoints = -1L; var nCells = -1L
    var structured = false
    var wholeExtent: Option[Array[Int]] = None
    var pieceExtent: Option[Array[Int]] = None
    var pointValues = -1L                    // values in Points, when sized
    val pointArrays = Seq.newBuilder[(String, Int)]
    val cellArrays = Seq.newBuilder[(String, Int)]
    val text = new StringBuilder
    var pointsFlat: Array[Double] = Array.empty
    var connectivity: Array[Long] = Array.empty
    var offsets: Array[Long] = Array.empty
    val pointData = mutable.LinkedHashMap.empty[String, Array[Double]]
    val cellData = mutable.LinkedHashMap.empty[String, Array[Double]]

    def attr(n: String): Option[String] = Option(r.getAttributeValue(null, n)).map(_.trim)
    def ints(n: String): Option[Array[Int]] = attr(n).map { v =>
      val e = v.split("\\s+").map(_.toInt)
      require(e.length == 6, s"$n '$v' is not six integers")
      e
    }

    def decode(): Array[Double] = arrayFormat match {
      case "ascii" =>
        text.toString.trim.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
      case "binary" =>
        typedDoubles(
          decodeB64Payload(text.toString.replaceAll("\\s", ""), 0, headerType, compressed),
          arrayType)
      case "appended" =>
        val (enc, data) = appended.getOrElse(throw new IllegalArgumentException(
          s"DataArray '$arrayName' is format=appended but the file has no AppendedData"))
        val payload =
          if (enc == "raw") decodeRawPayload(data, arrayOffset, headerType, compressed)
          else {
            require(arrayOffset <= Int.MaxValue - 8,
              s"base64 appended offset $arrayOffset beyond 2 GiB (use raw encoding)")
            decodeB64Payload(appendedB64, arrayOffset.toInt, headerType, compressed)
          }
        typedDoubles(payload, arrayType)
      case other => throw new IllegalArgumentException(s"unsupported DataArray format $other")
    }

    // values of the current DataArray: a raw appended payload is sized by
    // its size words alone; an inline one is already in memory and decodes
    def valueCount(): Long = appended match {
      case Some(("raw", data)) if arrayFormat == "appended" =>
        rawPayloadSize(data, arrayOffset, headerType, compressed) / typeSize(arrayType)
      case _ => decode().length.toLong
    }

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "VTKFile" =>
                headerType = attr("header_type").getOrElse("UInt32")
                attr("byte_order").foreach { bo =>
                  require(bo == "LittleEndian", s"unsupported byte_order $bo")
                }
                attr("compressor").foreach { c =>
                  require(c == "vtkZLibDataCompressor", s"unsupported compressor $c")
                  compressed = true
                }
              case "StructuredGrid" =>
                structured = true
                wholeExtent = ints("WholeExtent")
              case "Piece" =>
                attr("NumberOfPoints").foreach(v => nPoints = v.toLong)
                attr("NumberOfCells").orElse(attr("NumberOfPolys")).foreach(v => nCells = v.toLong)
                if (structured) pieceExtent = ints("Extent")
              case "Points" | "Cells" | "Polys" | "PointData" | "CellData" =>
                section = r.getLocalName
              case "DataArray" =>
                arrayName = attr("Name").getOrElse("")
                arrayFormat = attr("format").getOrElse("ascii")
                arrayType = attr("type").getOrElse("Float64")
                arrayOffset = attr("offset").map(_.toLong).getOrElse(0L)
                val k = math.max(attr("NumberOfComponents").map(_.toInt).getOrElse(1), 1)
                if (section == "PointData") pointArrays += (arrayName -> k)
                if (section == "CellData") cellArrays += (arrayName -> k)
                keepArray = section match {
                  case "Points" => decodePoints || (structured && checkExtent)
                  case "Cells" | "Polys" =>
                    decodeCells && !structured &&
                      (arrayName == "connectivity" || arrayName == "offsets")
                  case "PointData" | "CellData" => wanted(arrayName, k)
                  case _ => false
                }
                text.clear()
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (keepArray) text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "DataArray" if keepArray =>
                section match {
                  case "Points" if decodePoints =>
                    pointsFlat = decode(); pointValues = pointsFlat.length
                  case "Points" => pointValues = valueCount()
                  case "Cells" | "Polys" if arrayName == "connectivity" =>
                    connectivity = decode().map(_.toLong)
                  case "Cells" | "Polys" if arrayName == "offsets" =>
                    offsets = decode().map(_.toLong)
                  case "PointData" => pointData(arrayName) = decode()
                  case "CellData" => cellData(arrayName) = decode()
                  case _ =>
                }
                keepArray = false
              case "Points" | "Cells" | "Polys" | "PointData" | "CellData" => section = ""
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()

    val extent = if (structured) pieceExtent.orElse(wholeExtent) else None
    if (structured) require(extent.isDefined, "no Extent in StructuredGrid")
    extent.foreach { e =>
      val (pts, cls) = extentCounts(e)
      nPoints = pts; nCells = cls
      // the Extent must describe the Points it comes with, or the implicit
      // cells would index points that are not there
      if (checkExtent) require(pointValues % 3 == 0 && pointValues / 3 == pts,
        s"StructuredGrid Extent ${e.mkString(" ")} lists $pts points, " +
          s"its Points array holds ${pointValues / 3}")
    }
    val header = VtuHeader(nPoints, nCells, pointArrays.result().distinct,
      cellArrays.result().distinct)
    val cells = extent match {
      case Some(e) if decodeCells => structuredCells(e)
      case _ =>
        val out = Array.newBuilder[Array[Long]]
        var start = 0L
        offsets.foreach { off =>
          out += connectivity.slice(start.toInt, off.toInt)
          start = off
        }
        out.result()
    }
    (header, VtuPiece(pointsFlat.grouped(3).toArray, cells, pointData.toMap, cellData.toMap))
  }

  // --------------------------------------------------------- StructuredGrid

  /** Implicit hexahedral connectivity of a structured point lattice, VTK
    * hexahedron vertex order, x fastest (point idx = i + nx·(j + ny·k)).
    */
  def structuredCells(extent: Array[Int]): Array[Array[Long]] = {
    val nx = extent(1) - extent(0) + 1
    val ny = extent(3) - extent(2) + 1
    val nz = extent(5) - extent(4) + 1
    def pid(i: Int, j: Int, k: Int): Long = (i + nx.toLong * (j + ny.toLong * k))
    val out = Array.newBuilder[Array[Long]]
    for (k <- 0 until math.max(nz - 1, 0); j <- 0 until math.max(ny - 1, 0);
         i <- 0 until math.max(nx - 1, 0))
      out += Array(pid(i, j, k), pid(i + 1, j, k), pid(i + 1, j + 1, k),
        pid(i, j + 1, k), pid(i, j, k + 1), pid(i + 1, j, k + 1),
        pid(i + 1, j + 1, k + 1), pid(i, j + 1, k + 1))
    out.result()
  }

  /** Long-model tables from a glob of `.vts` StructuredGrid files: [[read]]
    * with `globFilter = "*.vts"`, whose cells are the hexahedra of each
    * piece's Extent, plus their VTK_HEXAHEDRON `cell_type` (12).
    */
  def readVts(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame) = {
    val (points, cells, pointData) = read(spark, pathGlob, include, exclude, globFilter = "*.vts")
    (points, cells.withColumn("cell_type", lit(12)), pointData)
  }

  // ------------------------------------------------------------ MultiBlock

  /** Referenced datasets of a `.vtm` vtkMultiBlockDataSet file: (block
    * index, name, file) in document order. The .vtm itself is a small XML
    * manifest; its children are ordinary .vtu/.vtp/.vti files.
    */
  def parseVtm(bytes: Array[Byte]): Seq[(Int, String, String)] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(bytes))
    val out = Seq.newBuilder[(Int, String, String)]
    var i = 0
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT && r.getLocalName == "DataSet") {
          Option(r.getAttributeValue(null, "file")).foreach { file =>
            val idx = Option(r.getAttributeValue(null, "index"))
              .flatMap(_.toIntOption).getOrElse(i)
            val name = Option(r.getAttributeValue(null, "name")).getOrElse("")
            out += ((idx, name, file))
            i += 1
          }
        }
      }
    } finally r.close()
    out.result()
  }

  /** Long-model tables for every dataset referenced by `.vtm` manifests
    * under a glob: manifests are tiny (read + resolved driver-side, like
    * the reference's multiblock listing); the referenced mesh files
    * themselves are read distributed through `read`. Adds a `block` column
    * joining each mesh back to (manifest, block index, name).
    */
  def readVtm(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val conf = Dsv2.confMap(spark)
    val blocks = Dsv2.listFilesWithSize(spark, pathGlob, "*.vtm").flatMap { case (vtmPath, _) =>
      val base = vtmPath.replaceAll("/[^/]+$", "")
      parseVtm(Dsv2.readBytes(vtmPath, conf)).map { case (idx, name, file) =>
        val resolved = if (file.startsWith("/") || file.contains("://")) file
                       else s"$base/$file"
        (vtmPath, idx, name, resolved)
      }
    }
    val blockDf = blocks.toDF("vtm_path", "block", "block_name", "mesh_id")
    val paths = blocks.map(_._4).distinct
    require(paths.nonEmpty, s"no DataSet references under $pathGlob")
    val (points, cells, pointData) =
      read(spark, paths.mkString(","), include, exclude, globFilter = "*")
    (points, cells, pointData, blockDf)
  }

  // ------------------------------------------------------------- ImageData

  final case class VtiGrid(
      extent: Array[Int],                  // x0 x1 y0 y1 z0 z1 (point extent)
      origin: Array[Double],
      spacing: Array[Double],
      pointData: Map[String, Array[Double]],
      cellData: Map[String, Array[Double]])

  /** Parse a `.vti` ImageData payload (reference `sources/vti.py:100-143`):
    * WholeExtent/Origin/Spacing metadata, PointData arrays on the
    * (nx, ny, nz) point lattice and CellData arrays on the
    * (nx−1, ny−1, nz−1) cell lattice, x fastest-varying — every DataArray
    * layout the .vtu path supports (ascii / inline base64 / appended,
    * ± zlib) decodes here too.
    */
  def parseVti(bytes: Array[Byte], include: Set[String] = Set.empty,
               exclude: Set[String] = Set.empty): VtiGrid =
    new VtiFile(new ArrayRawData(bytes)).parse((a, _) => keeps(include, exclude)(a))._2

  /** One `.vti` file over a random-access handle, its XML head split once
    * (one bounded head read, one tail read, as [[VtuFile]]): [[parse]]
    * walks that head once for the lattice, the array lists (the planning-
    * time header, with `wanted` false) and the arrays `wanted` names (by
    * name and component count), reading only those arrays' payloads.
    */
  private[sources] final class VtiFile(raw: RawData) {
    private val (xml, appended) = splitAppendedRaw(raw)

    def parse(wanted: (String, Int) => Boolean): (VtuHeader, VtiGrid) = {
      val (extent, origin, spacing) = vtiLattice(xml)
      val (h, piece) = parseVtuCore(xml, appended, wanted,
        decodePoints = false, decodeCells = false, checkExtent = false)
      (h, VtiGrid(extent, origin, spacing, piece.pointData, piece.cellData))
    }
  }

  /** The ImageData WholeExtent, Origin and Spacing of a VTI XML head. */
  private def vtiLattice(xmlBytes: Array[Byte]): (Array[Int], Array[Double], Array[Double]) = {
    val head = new String(xmlBytes, "UTF-8")
    def nums(attr: String, dflt: Array[Double]): Array[Double] =
      (attr + "=\"([^\"]+)\"").r.findFirstMatchIn(head)
        .map(_.group(1).trim.split("\\s+").map(_.toDouble)).getOrElse(dflt)
    (nums("WholeExtent", Array(0, 0, 0, 0, 0, 0)).map(_.toInt),
      nums("Origin", Array(0.0, 0.0, 0.0)), nums("Spacing", Array(1.0, 1.0, 1.0)))
  }

  /** Long structured-grid tables from a glob of `.vti` files:
    * point_data (grid_id, field, i, j, k, x, y, z, value) on the point
    * lattice and cell_data (same shape, cell-center coords) on the cell
    * lattice — x fastest-varying, the VTK array order. Each is the unpivot
    * of [[VtiDataSource]]'s `points` / `cells` table: one row per lattice
    * site and kept array column, absent values dropped, NaN kept; a
    * k-component array gives the fields `<name>_0 … <name>_{k-1}`.
    * `include`/`exclude` name arrays and select their columns.
    */
  def readVti(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty): (DataFrame, DataFrame) = {
    val lattice = Seq("grid_id", "i", "j", "k", "x", "y", "z")
    def long(table: String): DataFrame = {
      val wide = spark.read.format("graft.sources.VtiDataSource")
        .option("path", pathGlob).option("table", table).load()
      unpivot(wide, lattice, arrayColumns(wide, lattice, include, exclude))
        .select("grid_id", "field", "i", "j", "k", "x", "y", "z", "value")
    }
    (long("points"), long("cells"))
  }

  /** Whether `include`/`exclude` keep array `a` (empty include = all). */
  private def keeps(include: Set[String], exclude: Set[String])(a: String): Boolean =
    (include.isEmpty || include.contains(a)) && !exclude.contains(a)

  /** The array columns of `wide` (those not in `ids`) that `include` /
    * `exclude` keep; a component column `<name>_<c>` goes by its array's
    * name, so `vel` keeps `vel_0..vel_2`.
    */
  private[sources] def arrayColumns(wide: DataFrame, ids: Seq[String],
                                    include: Set[String], exclude: Set[String]): Seq[String] =
    wide.schema.fields.toSeq.filterNot(f => ids.contains(f.name))
      .filter(f => keeps(include, exclude)(UnitSource.arrayOf(f))).map(_.name)

  /** The long `(ids…, field, value)` form of a wide table's nullable DOUBLE
    * `arrays` columns: one row per non-null value (NaN is a value), an
    * empty table when there are no arrays.
    */
  private[sources] def unpivot(wide: DataFrame, ids: Seq[String], arrays: Seq[String]): DataFrame =
    if (arrays.isEmpty)
      wide.select(ids.map(col) :+ lit("").as("field") :+ lit(0.0).as("value"): _*)
        .where(lit(false))
    else
      wide.unpivot(ids.map(col).toArray, arrays.map(col).toArray, "field", "value")
        .where(col("value").isNotNull)

  /** Long-model tables from a glob of VTK XML files (`.vtu`/`.vtp`/`.vts`
    * by default): (points, cells, point_data), mesh keyed by file path.
    * See [[readAll]].
    */
  def read(spark: SparkSession, pathGlob: String,
           include: Set[String] = Set.empty,
           exclude: Set[String] = Set.empty,
           globFilter: String = "*.vt[ups]",
           keyFilterRules: Seq[KeyFilters.KeyFilterRule] = Nil): (DataFrame, DataFrame, DataFrame) = {
    val (p, c, pd, _) = readAll(spark, pathGlob, include, exclude, globFilter,
      keyFilterRules)
    (p, c, pd)
  }

  /** Like [[read]] but also returns the CellData arrays as a fourth table
    * `(mesh_id, cell_id, field, value)` — the AhmedML/DrivAerML volume
    * files carry their flow fields as cell data (`ahmedml.py:774-883`,
    * interior point-cloud uses cell_data at the centroids).
    *
    * Every table is a projection of [[VtuDataSource]] (`pathGlob`, which
    * may list several comma-separated paths, and `globFilter` pass through
    * as its options): points and cells select its `points` / `cells`
    * tables, and point_data / cell_data are the unpivot of their wide
    * array columns — one row per point (cell) and array column with a
    * value there, NaN included; a k-component array gives the fields
    * `<name>_0 … <name>_{k-1}`, a file without the array has no rows for
    * it. `include`/`exclude` name arrays and select their columns, so
    * pruned arrays are never read. Per-path `keyFilterRules`
    * (longest-glob-wins, `_key_filter.py:45-110`) take precedence over the
    * global sets: each file's `(include, exclude)` is resolved on the
    * driver, and the long tables keep a row only when its file keeps its
    * field.
    */
  def readAll(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty,
              globFilter: String = "*.vt[ups]",
              keyFilterRules: Seq[KeyFilters.KeyFilterRule] = Nil): (DataFrame, DataFrame, DataFrame, DataFrame) =
    tables(spark, new VtuDataSource, pathGlob, globFilter, include, exclude, keyFilterRules)

  /** `source`'s `points` and `cells` tables over `path`, both planned from
    * one pass over the unit headers (returned too, in unit order), so
    * planning reads each header once.
    */
  private[sources] def wide(spark: SparkSession, source: VtuDataSource, path: String,
                            globFilter: String): (DataFrame, DataFrame, Seq[(ScanUnit, VtuHeader)]) = {
    val heads = source.headerPass(new CaseInsensitiveStringMap(
      java.util.Map.of("path", path, "globFilter", globFilter)))
    val (pointsSchema, cellsSchema) = source.schemas(heads.map(_._2))
    def table(name: String, schema: StructType) =
      spark.read.format(source.getClass.getName).schema(schema)
        .option("path", path).option("globFilter", globFilter)
        .option("table", name).load()
    (table("points", pointsSchema), table("cells", cellsSchema), heads)
  }

  /** [[readAll]] over any [[VtuDataSource]] binding. */
  private[sources] def tables(spark: SparkSession, source: VtuDataSource, path: String,
                              globFilter: String, include: Set[String], exclude: Set[String],
                              keyFilterRules: Seq[KeyFilters.KeyFilterRule] = Nil)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (points, cells, _) = wide(spark, source, path, globFilter)
    // per file, its rules' (include, exclude)
    val rules =
      if (keyFilterRules.isEmpty) None
      else Some(Dsv2.listFilesWithSize(spark, path, globFilter)
        .map { case (f, _) => f -> KeyFilters.resolveArrays(f, keyFilterRules) }.toMap)
    def long(wide: DataFrame, id: String, geometry: Seq[String]): DataFrame = {
      val ids = "mesh_id" +: id +: geometry
      rules match {
        case None => unpivot(wide, Seq("mesh_id", id), arrayColumns(wide, ids, include, exclude))
        case Some(r) =>
          val perFile = r.map { case (f, (inc, exc)) => f -> arrayColumns(wide, ids, inc, exc) }
          unpivot(wide, Seq("mesh_id", id), arrayColumns(wide, ids, Set.empty, Set.empty)
            .filter(a => perFile.values.exists(_.contains(a))))
            .where(array_contains(try_element_at(typedLit(perFile), col("mesh_id")),
              col("field")))
      }
    }
    (points.select("mesh_id", "point_id", "x", "y", "z"),
      cells.select("mesh_id", "cell_id", "vertices"),
      long(points, "point_id", Seq("x", "y", "z")),
      long(cells, "cell_id", Seq("vertices")))
  }
}
