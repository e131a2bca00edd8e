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
  * Grid types: UnstructuredGrid (`.vtu`, Cells) and PolyData (`.vtp`, Polys
  * as cells; Verts/Lines/Strips are ignored). StructuredGrid (`.vts`) points
  * and point data parse through the same path (its cells are implicit in the
  * extent and not emitted). LZMA/LZ4 compressors and big-endian files throw.
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

  /** Random-access view of an AppendedData block: array-backed when the
    * whole file is in memory, file-backed (RandomAccessFile) for spilled
    * multi-gigabyte assemblies where file OFFSETS are unbounded and only
    * each individual DataArray payload must fit in one array.
    */
  private[sources] trait RawData {
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

  private[sources] final class FileRawData(path: java.io.File, start: Long,
                                           val size: Long) extends RawData {
    def slice(off: Long, len: Long): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= size,
        s"appended slice [$off,+$len) outside $size bytes")
      require(len <= Int.MaxValue - 8,
        s"DataArray payload of $len bytes exceeds the 2 GiB per-array limit")
      val out = new Array[Byte](len.toInt)
      val raf = new java.io.RandomAccessFile(path, "r")
      try { raf.seek(start + off); raf.readFully(out) } finally raf.close()
      out
    }
  }

  /** Window onto a sub-range of another RawData (the AppendedData block of
    * a file-backed handle) — offsets stay Long end-to-end, only individual
    * slices must fit in one array.
    */
  private[sources] final class SubRawData(under: RawData, start: Long,
                                          val size: Long) extends RawData {
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
    * the same byte-scan strategy the reference's Rust reader uses.
    */
  private[sources] def splitAppended(bytes: Array[Byte]): (Array[Byte], Option[(String, Array[Byte])]) = {
    val openIdx = indexOfBytes(bytes, "<AppendedData".getBytes("US-ASCII"), 0)
    if (openIdx < 0) return (bytes, None)
    val head = new String(bytes, openIdx, math.min(512, bytes.length - openIdx), "US-ASCII")
    val enc = "encoding\\s*=\\s*\"([^\"]+)\"".r.findFirstMatchIn(head)
      .map(_.group(1)).getOrElse("base64")
    val tagEnd = indexOfBytes(bytes, ">".getBytes("US-ASCII"), openIdx)
    val underscore = indexOfBytes(bytes, "_".getBytes("US-ASCII"), tagEnd)
    require(underscore >= 0, "AppendedData section has no '_' data marker")
    val closeIdx = {
      // raw binary may contain the byte pattern by chance: take the LAST match
      val needle = "</AppendedData".getBytes("US-ASCII")
      var last = -1
      var at = indexOfBytes(bytes, needle, underscore)
      while (at >= 0) { last = at; at = indexOfBytes(bytes, needle, at + 1) }
      if (last < 0) bytes.length else last
    }
    val data = java.util.Arrays.copyOfRange(bytes, underscore + 1, closeIdx)
    val xmlHead = (new String(bytes, 0, openIdx, "UTF-8") + "</VTKFile>").getBytes("UTF-8")
    (xmlHead, Some((enc, data)))
  }

  /** [[splitAppended]] over a random-access handle, reading only a BOUNDED
    * head window (grown geometrically until the `<AppendedData` marker or
    * EOF is inside it) plus a 4 KiB tail window for the closing tag — never
    * the appended payload. This is both the planning-time schema read of
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
    // pattern by chance, so take the LAST match in the tail window
    val tailWindow = math.min(raw.size - underscore - 1, 4096L)
    val tail = raw.slice(raw.size - tailWindow, tailWindow)
    val closeAbs = {
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

  /** Parse one .vtu/.vtp/.vts byte payload in any of the supported layouts.
    * `include`/`exclude` act on PointData array names (include wins if both;
    * empty include = all).
    */
  def parseVtu(bytes: Array[Byte], include: Set[String] = Set.empty,
               exclude: Set[String] = Set.empty,
               decodePoints: Boolean = true,
               decodeCells: Boolean = true,
               decodePointData: Boolean = true): VtuPiece = {
    val (xmlBytes, appended) = splitAppended(bytes)
    parseVtuCore(xmlBytes,
      appended.map { case (enc, data) => (enc, new ArrayRawData(data): RawData) },
      include, exclude, decodePoints, decodeCells, decodePointData)
  }

  /** [[parseVtu]] over a random-access handle: the XML header is read in a
    * bounded window and each kept DataArray's appended-raw payload is a
    * RANGED read at its offset — unselected arrays cost zero bytes of I/O,
    * and per-file size is unbounded (only each individual payload must fit
    * in one array). `decodePointData = false` skips every PointData /
    * CellData array regardless of `include` (the DSv2 all-columns-pruned
    * path). A base64 appended block still materializes whole (its offsets
    * address chars of the whitespace-stripped text, ≤ 2 GiB).
    */
  private[sources] def parseVtuRaw(raw: RawData, include: Set[String] = Set.empty,
                  exclude: Set[String] = Set.empty,
                  decodePoints: Boolean = true,
                  decodeCells: Boolean = true,
                  decodePointData: Boolean = true): VtuPiece = {
    val (xmlBytes, appended) = splitAppendedRaw(raw)
    parseVtuCore(xmlBytes, appended, include, exclude,
      decodePoints, decodeCells, decodePointData)
  }

  /** Cheap header introspection — array NAMES and piece counts without any
    * payload decode (the planning-time face of the DSv2 relations:
    * Catalyst asks for the schema before it knows which columns survive
    * pruning). Returns (nPoints, nCells, pointData names, cellData names);
    * counts are -1 when the Piece element carries no NumberOf* attribute.
    * Reads ONLY the bounded XML head window, never the appended payload:
    * the schema-inference read of the DSv2 relation stays O(header bytes)
    * per file even for the reference's ~50 GB DrivAerML volume VTUs
    * (`drivaerml.py:17-30`).
    */
  private[sources] def listVtuArraysRaw(raw: RawData): (Long, Long, Seq[String], Seq[String]) =
    listVtuArraysXml(splitAppendedRaw(raw)._1)

  private def listVtuArraysXml(xmlBytes: Array[Byte]): (Long, Long, Seq[String], Seq[String]) = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(new ByteArrayInputStream(xmlBytes))
    var nPoints = -1L; var nCells = -1L; var section = ""
    val pd = Seq.newBuilder[String]; val cd = Seq.newBuilder[String]
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "Piece" =>
                def attr(n: String): Option[Long] =
                  Option(r.getAttributeValue(null, n)).map(_.trim.toLong)
                attr("NumberOfPoints").foreach(nPoints = _)
                attr("NumberOfCells").orElse(attr("NumberOfPolys"))
                  .foreach(nCells = _)
              case "PointData" | "CellData" => section = r.getLocalName
              case "DataArray" if section.nonEmpty =>
                Option(r.getAttributeValue(null, "Name")).foreach { n =>
                  if (section == "PointData") pd += n else cd += n
                }
              case _ =>
            }
          case XMLStreamConstants.END_ELEMENT =>
            if (r.getLocalName == "PointData" || r.getLocalName == "CellData")
              section = ""
          case _ =>
        }
      }
    } finally r.close()
    (nPoints, nCells, pd.result().distinct, cd.result().distinct)
  }

  /** File-backed variant for assemblies too large to hold in one array
    * (the reference's ~50 GB DrivAerML volume VTUs, `drivaerml.py:17-30`):
    * the XML head is read into memory (bounded window), the AppendedData
    * block stays on disk behind `FileRawData`, and each DataArray payload
    * is read at its (unbounded, Long) offset. Only `encoding="raw"` data
    * can stay on disk — a base64 block beyond 2 GiB fails loudly.
    */
  def parseVtuFile(file: java.io.File, include: Set[String] = Set.empty,
                   exclude: Set[String] = Set.empty): VtuPiece =
    parseVtuRaw(new FileRawData(file, 0L, file.length()), include, exclude)

  private def parseVtuCore(xmlBytes: Array[Byte],
                           appended: Option[(String, RawData)],
                           include: Set[String],
                           exclude: Set[String],
                           decodePoints: Boolean = true,
                           decodeCells: Boolean = true,
                           decodePointData: Boolean = true): VtuPiece = {
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
    val text = new StringBuilder
    var pointsFlat: Array[Double] = Array.empty
    var connectivity: Array[Long] = Array.empty
    var offsets: Array[Long] = Array.empty
    val pointData = mutable.LinkedHashMap.empty[String, Array[Double]]
    val cellData = mutable.LinkedHashMap.empty[String, Array[Double]]

    def wanted(name: String): Boolean =
      (include.isEmpty || include.contains(name)) && !exclude.contains(name)

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

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "VTKFile" =>
                headerType = Option(r.getAttributeValue(null, "header_type"))
                  .getOrElse("UInt32")
                Option(r.getAttributeValue(null, "byte_order")).foreach { bo =>
                  require(bo == "LittleEndian", s"unsupported byte_order $bo")
                }
                Option(r.getAttributeValue(null, "compressor")).foreach { c =>
                  require(c == "vtkZLibDataCompressor", s"unsupported compressor $c")
                  compressed = true
                }
              case "Points" | "Cells" | "Polys" | "PointData" | "CellData" =>
                section = r.getLocalName
              case "DataArray" =>
                arrayName = Option(r.getAttributeValue(null, "Name")).getOrElse("")
                arrayFormat = Option(r.getAttributeValue(null, "format")).getOrElse("ascii")
                arrayType = Option(r.getAttributeValue(null, "type")).getOrElse("Float64")
                arrayOffset = Option(r.getAttributeValue(null, "offset"))
                  .map(_.trim.toLong).getOrElse(0L)
                keepArray = section match {
                  case "Points" => decodePoints
                  case "Cells" | "Polys" =>
                    decodeCells &&
                      (arrayName == "connectivity" || arrayName == "offsets")
                  case "PointData" | "CellData" =>
                    decodePointData && wanted(arrayName)
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
                val nums = decode()
                section match {
                  case "Points" => pointsFlat = nums
                  case "Cells" | "Polys" if arrayName == "connectivity" =>
                    connectivity = nums.map(_.toLong)
                  case "Cells" | "Polys" if arrayName == "offsets" =>
                    offsets = nums.map(_.toLong)
                  case "PointData" => pointData(arrayName) = nums
                  case "CellData" => cellData(arrayName) = nums
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

    val pts = pointsFlat.grouped(3).toArray
    val cells = {
      val out = Array.newBuilder[Array[Long]]
      var start = 0L
      offsets.foreach { off =>
        out += connectivity.slice(start.toInt, off.toInt)
        start = off
      }
      out.result()
    }
    VtuPiece(pts, cells, pointData.toMap, cellData.toMap)
  }

  // --------------------------------------------------------- StructuredGrid

  /** Point extent of a StructuredGrid piece (its cells are implicit). */
  def parsePieceExtent(bytes: Array[Byte]): Array[Int] = {
    val (xmlBytes, _) = splitAppended(bytes)
    val head = new String(xmlBytes, "UTF-8")
    "<Piece[^>]*Extent=\"([^\"]+)\"".r.findFirstMatchIn(head)
      .orElse("WholeExtent=\"([^\"]+)\"".r.findFirstMatchIn(head))
      .map(_.group(1).trim.split("\\s+").map(_.toInt))
      .getOrElse(throw new IllegalArgumentException("no Extent in StructuredGrid"))
  }

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

  /** Long-model tables from a glob of `.vts` StructuredGrid files: explicit
    * points/point-data parse through the shared path; the hex cells are
    * generated from the piece extent (VTK_HEXAHEDRON, type 12).
    */
  def readVts(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val raw = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.vts").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
    val pieces = raw.map { case (path, bytes) =>
      val p = parseVtu(bytes, include, exclude)
      (path, p.points.map(a => (a(0), a(1), a(2))),
        structuredCells(parsePieceExtent(bytes)),
        p.pointData.toSeq.map { case (k, v) => (k, v) })
    }.persist()
    val points = pieces.flatMap { case (path, pts, _, _) =>
      pts.iterator.zipWithIndex.map { case ((x, y, z), i) =>
        (path, i.toLong, x, y, z)
      }.toSeq
    }.toDF("mesh_id", "point_id", "x", "y", "z")
    val cells = pieces.flatMap { case (path, _, cs, _) =>
      cs.iterator.zipWithIndex.map { case (vs, i) =>
        (path, i.toLong, vs.toSeq, 12)
      }.toSeq
    }.toDF("mesh_id", "cell_id", "vertices", "cell_type")
    val pointData = pieces.flatMap { case (path, _, _, pd) =>
      pd.iterator.flatMap { case (field, vals) =>
        vals.iterator.zipWithIndex.map { case (v, i) => (path, i.toLong, field, v) }
      }.toSeq
    }.toDF("mesh_id", "point_id", "field", "value")
    (points, cells, pointData)
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
    val manifests = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.vtm").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])].collect()
    val blocks = manifests.flatMap { case (vtmPath, bytes) =>
      val base = vtmPath.replaceAll("/[^/]+$", "")
      parseVtm(bytes).map { case (idx, name, file) =>
        val resolved = if (file.startsWith("/") || file.contains("://")) file
                       else s"$base/$file"
        (vtmPath, idx, name, resolved)
      }
    }.toSeq
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
               exclude: Set[String] = Set.empty): VtiGrid = {
    val (xmlBytes, app) = splitAppended(bytes)
    parseVtiCore(xmlBytes,
      app.map { case (enc, data) => (enc, new ArrayRawData(data): RawData) },
      include, exclude)
  }

  /** [[parseVti]] over a random-access handle — bounded header read plus
    * ranged per-array payload reads, like [[parseVtuRaw]]. */
  private[sources] def parseVtiRaw(raw: RawData, include: Set[String] = Set.empty,
                                   exclude: Set[String] = Set.empty): VtiGrid = {
    val (xmlBytes, app) = splitAppendedRaw(raw)
    parseVtiCore(xmlBytes, app, include, exclude)
  }

  /** Header-only VTI introspection for DSv2 planning: (extent, origin,
    * spacing, PointData names, CellData names) without any payload read.
    */
  private[sources] def listVtiMeta(raw: RawData): (Array[Int], Array[Double], Array[Double], Seq[String], Seq[String]) = {
    val (xmlBytes, _) = splitAppendedRaw(raw)
    val (_, _, pd, cd) = listVtuArraysXml(xmlBytes)
    val head = new String(xmlBytes, "UTF-8")
    def nums(attr: String, dflt: Array[Double]): Array[Double] =
      (attr + "=\"([^\"]+)\"").r.findFirstMatchIn(head)
        .map(_.group(1).trim.split("\\s+").map(_.toDouble)).getOrElse(dflt)
    val extent = nums("WholeExtent", Array(0, 0, 0, 0, 0, 0)).map(_.toInt)
    val origin = nums("Origin", Array(0.0, 0.0, 0.0))
    val spacing = nums("Spacing", Array(1.0, 1.0, 1.0))
    (extent, origin, spacing, pd, cd)
  }

  private def parseVtiCore(xmlBytes: Array[Byte],
                           appended: Option[(String, RawData)],
                           include: Set[String],
                           exclude: Set[String]): VtiGrid = {
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

    var extent = Array(0, 0, 0, 0, 0, 0)
    var origin = Array(0.0, 0.0, 0.0)
    var spacing = Array(1.0, 1.0, 1.0)
    var section = ""
    var arrayName = ""
    var arrayFormat = "ascii"
    var arrayType = "Float64"
    var arrayOffset = 0L
    var headerType = "UInt32"
    var compressed = false
    var keepArray = false
    val text = new StringBuilder
    val pointData = mutable.LinkedHashMap.empty[String, Array[Double]]
    val cellData = mutable.LinkedHashMap.empty[String, Array[Double]]

    def wanted(name: String): Boolean =
      (include.isEmpty || include.contains(name)) && !exclude.contains(name)

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

    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "VTKFile" =>
                headerType = Option(r.getAttributeValue(null, "header_type"))
                  .getOrElse("UInt32")
                Option(r.getAttributeValue(null, "byte_order")).foreach { bo =>
                  require(bo == "LittleEndian", s"unsupported byte_order $bo")
                }
                Option(r.getAttributeValue(null, "compressor")).foreach { c =>
                  require(c == "vtkZLibDataCompressor", s"unsupported compressor $c")
                  compressed = true
                }
              case "ImageData" =>
                def nums(a: String): Option[Array[Double]] =
                  Option(r.getAttributeValue(null, a))
                    .map(_.trim.split("\\s+").map(_.toDouble))
                nums("WholeExtent").foreach(e => extent = e.map(_.toInt))
                nums("Origin").foreach(origin = _)
                nums("Spacing").foreach(spacing = _)
              case "PointData" | "CellData" => section = r.getLocalName
              case "DataArray" =>
                arrayName = Option(r.getAttributeValue(null, "Name")).getOrElse("")
                arrayFormat = Option(r.getAttributeValue(null, "format")).getOrElse("ascii")
                arrayType = Option(r.getAttributeValue(null, "type")).getOrElse("Float64")
                arrayOffset = Option(r.getAttributeValue(null, "offset"))
                  .map(_.trim.toLong).getOrElse(0L)
                keepArray = (section == "PointData" || section == "CellData") &&
                  wanted(arrayName)
                text.clear()
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (keepArray) text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "DataArray" if keepArray =>
                if (section == "PointData") pointData(arrayName) = decode()
                else cellData(arrayName) = decode()
                keepArray = false
              case "PointData" | "CellData" => section = ""
              case _ =>
            }
          case _ =>
        }
      }
    } finally r.close()
    VtiGrid(extent, origin, spacing, pointData.toMap, cellData.toMap)
  }

  /** Long structured-grid tables from a glob of `.vti` files:
    * point_data (grid_id, field, i, j, k, x, y, z, value) on the point
    * lattice and cell_data (same shape, cell-center coords) on the cell
    * lattice — x fastest-varying, the VTK array order. Each is the unpivot
    * of [[VtiDataSource]]'s `points` / `cells` table: one row per lattice
    * site and kept array, absent values dropped, NaN kept; an array longer
    * than the lattice keeps its first values. `include`/`exclude` select
    * the array columns.
    */
  def readVti(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty): (DataFrame, DataFrame) = {
    val lattice = Seq("grid_id", "i", "j", "k", "x", "y", "z")
    def long(table: String): DataFrame = {
      val wide = spark.read.format("graft.sources.VtiDataSource")
        .option("path", pathGlob).option("table", table).load()
      unpivot(wide, lattice, wide.columns.toSeq.diff(lattice).filter(keeps(include, exclude)))
        .select("grid_id", "field", "i", "j", "k", "x", "y", "z", "value")
    }
    (long("points"), long("cells"))
  }

  /** Whether `include`/`exclude` keep array `a` (empty include = all). */
  private def keeps(include: Set[String], exclude: Set[String])(a: String): Boolean =
    (include.isEmpty || include.contains(a)) && !exclude.contains(a)

  /** The long `(ids…, field, value)` form of a wide table's nullable DOUBLE
    * `arrays` columns: one row per non-null value (NaN is a value), an
    * empty table when there are no arrays.
    */
  private def unpivot(wide: DataFrame, ids: Seq[String], arrays: Seq[String]): DataFrame =
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
    * array columns — one row per point (cell) and array with a value
    * there, NaN included; an array longer than the point (cell) count
    * keeps its first values, and a file without the array has no rows for
    * it. `include`/`exclude` select the array columns, so pruned arrays
    * are never read. Per-path `keyFilterRules` (longest-glob-wins,
    * `_key_filter.py:45-110`) take precedence over the global sets: each
    * file's `(include, exclude)` is resolved on the driver, and the long
    * tables keep a row only when its file keeps its field.
    */
  def readAll(spark: SparkSession, pathGlob: String,
              include: Set[String] = Set.empty,
              exclude: Set[String] = Set.empty,
              globFilter: String = "*.vt[ups]",
              keyFilterRules: Seq[KeyFilters.KeyFilterRule] = Nil): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // one header pass yields both schemas, so planning reads each header once
    val (pointsSchema, cellsSchema) = new VtuDataSource().schemas(new CaseInsensitiveStringMap(
      java.util.Map.of("path", pathGlob, "globFilter", globFilter)))
    def table(name: String, schema: StructType) =
      spark.read.format("graft.sources.VtuDataSource").schema(schema)
        .option("path", pathGlob).option("globFilter", globFilter)
        .option("table", name).load()
    val (points, cells) = (table("points", pointsSchema), table("cells", cellsSchema))
    // per file, its rules' (include, exclude)
    val rules =
      if (keyFilterRules.isEmpty) None
      else Some(Dsv2.listFilesWithSize(spark, pathGlob, globFilter)
        .map { case (f, _) => f -> KeyFilters.resolveArrays(f, keyFilterRules) }.toMap)
    def long(wide: DataFrame, id: String, geometry: Seq[String]): DataFrame = {
      val all = wide.columns.toSeq.diff("mesh_id" +: id +: geometry)
      rules match {
        case None => unpivot(wide, Seq("mesh_id", id), all.filter(keeps(include, exclude)))
        case Some(r) =>
          val perFile = r.map { case (f, (inc, exc)) => f -> all.filter(keeps(inc, exc)) }
          unpivot(wide, Seq("mesh_id", id), all.filter(a => perFile.values.exists(_.contains(a))))
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
