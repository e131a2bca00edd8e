package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** NetCDF classic reader (CDF-1, CDF-2, and CDF-5 — the public netCDF
  * "classic format spec"), Spark-first — the real ingestion path behind the
  * ERA5/GFS/HRRR long-grid pattern (the reference's da sources read NetCDF
  * via xarray; this is an independent JVM decoder of the classic
  * container):
  *
  *  - header: magic `CDF\x01|\x02|\x05`, numrecs, dim list, global
  *    attributes, variable list (name, dimids, attributes, type, vsize,
  *    begin offset — u32 in CDF-1, u64 in CDF-2/5); in CDF-5 every NON_NEG
  *    quantity (counts, name lengths, dim lengths, dimids, vsize, numrecs)
  *    widens to 64 bits while section tags stay 4-byte;
  *  - data: fixed-size variables at `begin`, row-major; record variables
  *    interleaved per record with the record stride = Σ aligned vsize of
  *    all record variables;
  *  - types: byte/char/short/int/float/double, plus the CDF-5 additions
  *    ubyte/ushort/uint/int64/uint64; values padded to 4-byte boundaries
  *    per the spec.
  *
  * `read` emits the long model: a `vars` table (variable, dims, shape,
  * record flag) and a `data` table (variable, linear row-major `pos`,
  * value as double) — the grid operators' input shape — as projections
  * of [[NetCdfDataSource]], which also dispatches netCDF-4 (HDF5
  * container) and GRIB2 files by their magic bytes.
  */
object NetCdfSource {

  final case class NcDim(name: String, length: Long) // 0 = record dim
  final case class NcAttr(name: String, value: String)
  final case class NcVar(name: String, dimIds: Seq[Int], ncType: Int,
                         vsize: Long, begin: Long, attrs: Seq[NcAttr])
  final case class NcFile(numRecs: Long, dims: Seq[NcDim], gattrs: Seq[NcAttr],
                          vars: Seq[NcVar])

  private val TagDim = 0x0A
  private val TagVar = 0x0B
  private val TagAttr = 0x0C

  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 7 => 1; case 3 | 8 => 2; case 4 | 5 | 9 => 4; case 6 | 10 | 11 => 8
    case other => throw new IllegalArgumentException(s"bad nc_type $other")
  }

  private final class Cursor(bytes: Array[Byte], wide: Boolean) {
    val buf: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    def u32(): Long = buf.getInt.toLong & 0xffffffffL
    def u64(): Long = buf.getLong
    /** NON_NEG per the spec grammar: INT in CDF-1/2, INT64 in CDF-5. */
    def nonNeg(): Long = if (wide) u64() else u32()
    def name(): String = {
      val n = nonNeg().toInt
      val b = new Array[Byte](n); buf.get(b)
      skipPad(n)
      new String(b, "UTF-8")
    }
    def skipPad(n: Int): Unit = { val r = n % 4; if (r != 0) buf.position(buf.position() + (4 - r)) }
    def attrs(): Seq[NcAttr] = {
      val tag = u32(); val count = nonNeg().toInt
      require(tag == TagAttr || (tag == 0 && count == 0), s"bad attr tag $tag")
      (0 until count).map { _ =>
        val nm = name(); val t = u32().toInt; val n = nonNeg().toInt
        val raw = new Array[Byte](typeSize(t) * n); buf.get(raw)
        skipPad(raw.length)
        val v =
          if (t == 2) new String(raw, "UTF-8")
          else {
            val vb = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
            (0 until n).map(_ => t match {
              case 1 => vb.get().toString
              case 3 => vb.getShort.toString
              case 4 => vb.getInt.toString
              case 5 => vb.getFloat.toString
              case 6 => vb.getDouble.toString
              case 7 => (vb.get() & 0xff).toString
              case 8 => (vb.getShort & 0xffff).toString
              case 9 => (vb.getInt.toLong & 0xffffffffL).toString
              case 10 | 11 => vb.getLong.toString
            }).mkString(",")
          }
        NcAttr(nm, v)
      }
    }
  }

  def parseHeader(bytes: Array[Byte]): NcFile = {
    require(bytes.length > 8 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      "not a NetCDF classic file (CDF magic missing; NetCDF-4/HDF5 unsupported)")
    val version = bytes(3).toInt
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version")
    val wide = version == 5
    val c = new Cursor(bytes, wide)
    c.buf.position(4)
    val numRecs = c.nonNeg()
    require(numRecs != (if (wide) -1L else 0xffffffffL),
      "STREAMING numrecs unsupported — record count unknown at write time")
    val dimTag = c.u32(); val dimCount = c.nonNeg().toInt
    require(dimTag == TagDim || (dimTag == 0 && dimCount == 0), s"bad dim tag $dimTag")
    val dims = (0 until dimCount).map(_ => NcDim(c.name(), c.nonNeg()))
    val gattrs = c.attrs()
    val varTag = c.u32(); val varCount = c.nonNeg().toInt
    require(varTag == TagVar || (varTag == 0 && varCount == 0), s"bad var tag $varTag")
    val vars = (0 until varCount).map { _ =>
      val nm = c.name()
      val nd = c.nonNeg().toInt
      val dimIds = (0 until nd).map(_ => c.nonNeg().toInt)
      val vattrs = c.attrs()
      val t = c.u32().toInt
      val vsize = c.nonNeg()
      val begin = if (version >= 2) c.u64() else c.u32()
      NcVar(nm, dimIds, t, vsize, begin, vattrs)
    }
    NcFile(numRecs, dims, gattrs, vars)
  }

  private def readValue(buf: ByteBuffer, off: Long, t: Int, i: Long): Double = {
    val p = (off + i * typeSize(t)).toInt
    t match {
      case 1 => buf.get(p).toDouble
      case 2 => (buf.get(p) & 0xff).toDouble
      case 3 => buf.getShort(p).toDouble
      case 4 => buf.getInt(p).toDouble
      case 5 => buf.getFloat(p).toDouble
      case 6 => buf.getDouble(p)
      case 7 => (buf.get(p) & 0xff).toDouble
      case 8 => (buf.getShort(p) & 0xffff).toDouble
      case 9 => (buf.getInt(p).toLong & 0xffffffffL).toDouble
      case 10 => buf.getLong(p).toDouble
      case 11 => buf.getLong(p).toDouble // uint64 beyond 2^63 loses to double anyway
    }
  }

  /** CF packed-data codec for one variable (xarray `decode_cf` semantics,
    * the reference's transparent read path — `domains/da/sources/era5.py`
    * reads via xarray, which applies these attributes on open): stored
    * values equal to `_FillValue` (or `missing_value`) become NaN, then
    * `unpacked = stored * scale_factor + add_offset`. Real ERA5/GFS
    * downloads are short-packed; without this they decode to raw int16s.
    */
  final case class CfCodec(scale: Double, offset: Double, fill: Option[Double]) {
    def identity: Boolean = scale == 1.0 && offset == 0.0 && fill.isEmpty
    def apply(raw: Double): Double =
      if (fill.contains(raw)) Double.NaN else raw * scale + offset
  }

  def cfCodecOf(v: NcVar): CfCodec = {
    // attrs decode to comma-joined strings; CF attributes are scalar, so
    // the first element is the value (xarray uses item() the same way)
    def num(n: String): Option[Double] = v.attrs.find(_.name == n)
      .flatMap(_.value.split(",").headOption)
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
    CfCodec(num("scale_factor").getOrElse(1.0), num("add_offset").getOrElse(0.0),
      num("_FillValue").orElse(num("missing_value")))
  }

  /** CF time-coordinate codec (xarray `decode_times` semantics — the
    * other half of reading a real ERA5/GFS download, whose time axis is
    * e.g. `hours since 1900-01-01 00:00:00.0`): a udunits-subset `units`
    * attribute converts raw offsets to epoch SECONDS. Seconds (not µs)
    * keep every integral calendar instant exact in a double (µs since
    * 1900 ≈ 4e18 overflows the 2^53 integer range).
    */
  final case class CfTime(unitSeconds: Long, epochSeconds: Long) {
    def toEpochSeconds(raw: Double): Double = epochSeconds + raw * unitSeconds
  }

  private val TimeUnitsRe =
    ("""(?i)\s*(second|sec|s|minute|min|hour|hr|h|day|d)s?\s+since\s+""" +
      """(\d{4})-(\d{1,2})-(\d{1,2})""" +
      """(?:[T ](\d{1,2}):(\d{1,2})(?::(\d{1,2})(?:\.\d+)?)?)?\s*(?:UTC|Z)?\s*""").r

  /** Parse a CF `units` attribute; None when the variable is not a
    * parseable time coordinate (callers then treat it as plain data).
    */
  def cfTimeOf(v: NcVar): Option[CfTime] =
    v.attrs.find(_.name == "units").map(_.value).flatMap {
      case TimeUnitsRe(unit, y, mo, d, h, mi, s) =>
        val unitSec = unit.toLowerCase match {
          case "second" | "sec" | "s" => 1L
          case "minute" | "min" => 60L
          case "hour" | "hr" | "h" => 3600L
          case "day" | "d" => 86400L
        }
        def i(x: String, dflt: Int = 0): Int = Option(x).map(_.toInt).getOrElse(dflt)
        val epoch = java.time.LocalDateTime
          .of(y.toInt, mo.toInt, d.toInt, i(h), i(mi), i(s))
          .toEpochSecond(java.time.ZoneOffset.UTC)
        Some(CfTime(unitSec, epoch))
      case _ => None
    }

  /** Decode every wanted variable of one file to (variable, pos, value)
    * triples, `pos` the row-major linear index with the record dimension
    * outermost. `wanted` prunes variables BEFORE value expansion (the
    * record stride still accounts for every record variable in the file).
    * `decodeCf = true` applies each variable's packed-data attributes
    * (see [[CfCodec]]); off by default, like `xr.open_dataset(decode_cf=)`.
    */
  def values(bytes: Array[Byte],
             wanted: String => Boolean = _ => true,
             decodeCf: Boolean = false,
             decodeTimes: Boolean = false): Seq[(String, Long, Double)] =
    valuesRanged(new VtkXmlSource.ArrayRawData(bytes), wanted, decodeCf, decodeTimes)

  /** Grow-window header parse over a random-access handle: CDF headers sit
    * at the file start but have no length field, so parse attempts grow
    * ×4 from 8 KiB until the header fits the window. The small start
    * matters at scale: a pushed variable predicate reduces a pruned file
    * to exactly this window, so it bounds the per-file floor of a
    * many-file scan (BASELINE.md "Round-10: ranged-scan byte footprints":
    * 800 pruned files cost ~8 KiB each, not their 780 KiB payloads).
    */
  private[sources] def parseHeaderRaw(raw: VtkXmlSource.RawData): NcFile = {
    var window = math.min(raw.size, 8L << 10)
    while (true) {
      try return parseHeader(raw.slice(0L, window))
      catch {
        case e: Exception if window < raw.size =>
          val _ = e // underflow/short-name: header larger than the window
          window = math.min(raw.size, window * 4)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[values]] over a random-access handle — the `wanted` set prunes I/O,
    * not just decode: the header reads in a bounded window, a file with no
    * wanted variable costs ONLY its header bytes, and each wanted
    * variable's data reads as ranged slices at its `begin` offset (whole
    * contiguous span when the variable owns ≥ 1/4 of the record stride,
    * per-record preads when it is a sliver of a wide interleave).
    */
  private[sources] def valuesRanged(raw: VtkXmlSource.RawData,
                                    wanted: String => Boolean = _ => true,
                                    decodeCf: Boolean = false,
                                    decodeTimes: Boolean = false): Seq[(String, Long, Double)] = {
    val f = parseHeaderRaw(raw)
    val recVars = f.vars.filter(v => v.dimIds.headOption.exists(f.dims(_).length == 0L))
    // spec: if exactly one record variable, it is NOT padded to 4 bytes
    val recStride =
      if (recVars.length == 1) recVars.head.vsize
      else recVars.map(v => (v.vsize + 3) / 4 * 4).sum
    val out = Seq.newBuilder[(String, Long, Double)]
    f.vars.filter(v => wanted(v.name)).foreach { v =>
      val cf = if (decodeCf) cfCodecOf(v) else CfCodec(1.0, 0.0, None)
      val cfT = if (decodeTimes) cfTimeOf(v) else None
      def unpack(raw0: Double): Double = {
        val x = if (cf.identity) raw0 else cf(raw0) // unpack BEFORE calendar math
        cfT.fold(x)(t => t.toEpochSeconds(x))
      }
      val isRec = v.dimIds.headOption.exists(f.dims(_).length == 0L)
      val fixedShape = v.dimIds.drop(if (isRec) 1 else 0).map(f.dims(_).length)
      val perRec = fixedShape.product.max(1L)
      val ts = typeSize(v.ncType)
      def decodeSlab(slab: Array[Byte], posBase: Long): Unit = {
        val buf = ByteBuffer.wrap(slab).order(ByteOrder.BIG_ENDIAN)
        (0L until perRec).foreach { i =>
          out += ((v.name, posBase + i, unpack(readValue(buf, 0L, v.ncType, i))))
        }
      }
      if (!isRec) {
        decodeSlab(raw.slice(v.begin, perRec * ts), 0L)
      } else if (f.numRecs > 0) {
        val varBytes = perRec * ts
        if (recStride <= varBytes * 4) {
          // the variable owns a fat share of the stride: one contiguous
          // read of the whole record span beats numRecs small preads
          val span = raw.slice(v.begin,
            math.min(raw.size - v.begin, (f.numRecs - 1) * recStride + varBytes))
          val buf = ByteBuffer.wrap(span).order(ByteOrder.BIG_ENDIAN)
          (0L until f.numRecs).foreach { r =>
            (0L until perRec).foreach { i =>
              out += ((v.name, r * perRec + i,
                unpack(readValue(buf, r * recStride, v.ncType, i))))
            }
          }
        } else {
          (0L until f.numRecs).foreach { r =>
            decodeSlab(raw.slice(v.begin + r * recStride, varBytes), r * perRec)
          }
        }
      }
    }
    out.result()
  }

  /** Long tables from a glob of `.nc` files: vars (file, variable, dims,
    * shape, is_record) and data (file, variable, pos, value) — projections
    * of the `vars` and `data` tables of [[NetCdfDataSource]], one file per
    * task. A netCDF-4 or GRIB2 file the glob matches decodes too (its
    * `is_record` is null). `decodeCf = true` unpacks CF packed variables at
    * decode ([[CfCodec]]); `decodeTimes = true` additionally converts
    * variables carrying a parseable `units = "<unit> since <epoch>"`
    * attribute to epoch seconds ([[CfTime]]).
    */
  def read(spark: SparkSession, pathGlob: String,
           globFilter: String = "*.nc",
           decodeCf: Boolean = false,
           decodeTimes: Boolean = false): (DataFrame, DataFrame) = {
    val (vars, data) = NetCdfDataSource.load(spark, pathGlob, globFilter, decodeCf, decodeTimes)
    (vars.select("file", "variable", "dims", "shape", "is_record"), data)
  }
}
