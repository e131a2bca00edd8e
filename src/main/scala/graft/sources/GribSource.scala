package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** GRIB2 codec (WMO FM 92 / ISO TS, public spec) — the actual wire format
  * behind GFS/HRRR downloads. The reference delegates the decode to
  * earth2studio (`gfs.py:46-77`), so this is beyond-parity depth: a
  * renderer for fixture synthesis and a decoder covering the curator-level
  * contract — the section 0–8 walk, identification (section 1), the
  * latitude/longitude grid (grid template 3.0, sign-magnitude
  * micro-degrees), product template 4.0 (parameter + forecast hour),
  * simple packing (data template 5.0: value = (R + X·2^E) / 10^D with
  * MSB-first `nbits`-wide fields), and the optional section-6 bitmap
  * (absent points decode NaN). Complex/JPEG packing templates reject
  * loudly.
  *
  * Pure JVM byte/bit twiddling; `read` decodes per file on executors, no
  * shuffle.
  */
object GribSource {

  // ------------------------------------------------------------ primitives

  private def u16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
  private def u32(v: Long): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def u64(v: Long): Array[Byte] = u32(v >>> 32) ++ u32(v & 0xffffffffL)

  /** GRIB signed fields are SIGN-MAGNITUDE: high bit = negative. */
  private def s16(v: Int): Array[Byte] = {
    require(math.abs(v) <= 0x7fff, s"s16 overflow $v")
    u16(if (v < 0) 0x8000 | -v else v)
  }
  private def s32(v: Long): Array[Byte] = {
    require(math.abs(v) <= 0x7fffffffL, s"s32 overflow $v")
    u32(if (v < 0) 0x80000000L | -v else v)
  }

  private final class Reader(b: Array[Byte]) {
    def len: Int = b.length
    def u8(o: Int): Int = b(o) & 0xff
    def u16At(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32At(o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    def u64At(o: Int): Long = (u32At(o) << 32) | u32At(o + 4)
    def s16At(o: Int): Int = {
      val x = u16At(o)
      if ((x & 0x8000) != 0) -(x & 0x7fff) else x
    }
    def s32At(o: Int): Long = {
      val x = u32At(o)
      if ((x & 0x80000000L) != 0) -(x & 0x7fffffffL) else x
    }
    def f32At(o: Int): Float = java.lang.Float.intBitsToFloat(u32At(o).toInt)
    def ascii(o: Int, n: Int): String = new String(b, o, n, "US-ASCII")
    def bit(bitOff: Long): Int =
      (b((bitOff / 8).toInt) >> (7 - (bitOff % 8)).toInt) & 1
    /** MSB-first `n`-bit unsigned field starting at bit offset `off`. */
    def bits(off: Long, n: Int): Long = {
      var v = 0L; var i = 0L
      while (i < n) { v = (v << 1) | bit(off + i); i += 1 }
      v
    }
  }

  // ------------------------------------------------------------ writer

  /** One message spec: `stored` holds the packed integers (0 ≤ X < 2^nbits)
    * in row-major (j outer, i inner) scan order; `None` marks a bitmap
    * hole (decodes NaN; a bitmap section is emitted iff any are None).
    */
  final case class Spec(
      discipline: Int, category: Int, number: Int,
      refYear: Int, refMonth: Int, refDay: Int, refHour: Int,
      forecastHours: Long,
      ni: Long, nj: Long,
      lat1Micro: Long, lon1Micro: Long, diMicro: Long, djMicro: Long,
      refValue: Float, binScale: Int, decScale: Int, nbits: Int,
      stored: Array[Option[Long]]) {
    require(ni * nj == stored.length, s"${stored.length} points for ${ni}x$nj")
    require(nbits >= 1 && nbits <= 32, s"nbits $nbits outside 1..32")
    stored.flatten.foreach(x =>
      require(x >= 0 && x < (1L << nbits), s"stored $x outside $nbits bits"))
  }

  private def section(num: Int, body: Array[Byte]): Array[Byte] =
    u32(body.length + 5L) ++ Array(num.toByte) ++ body

  private def renderMessage(m: Spec): Array[Byte] = {
    val sec1 = section(1, u16(7) ++ u16(0) ++ Array[Byte](2, 1, 1) ++
      u16(m.refYear) ++ Array(m.refMonth.toByte, m.refDay.toByte,
        m.refHour.toByte, 0.toByte, 0.toByte, 0.toByte, 1.toByte))
    val npts = m.ni * m.nj
    val sec3 = section(3, Array[Byte](0) ++ u32(npts) ++ Array[Byte](0, 0) ++
      u16(0) /* grid template 3.0: lat/lon */ ++
      Array[Byte](6) /* spherical earth r=6371229 */ ++
      Array.fill[Byte](15)(0) ++
      u32(m.ni) ++ u32(m.nj) ++ u32(0) ++ u32(0) ++
      s32(m.lat1Micro) ++ s32(m.lon1Micro) ++ Array[Byte](0x30) ++
      s32(m.lat1Micro - (m.nj - 1) * m.djMicro) ++
      s32(m.lon1Micro + (m.ni - 1) * m.diMicro) ++
      s32(m.diMicro) ++ s32(m.djMicro) ++ Array[Byte](0) /* scan +i, -j */)
    val sec4 = section(4, u16(0) ++ u16(0) /* product template 4.0 */ ++
      Array(m.category.toByte, m.number.toByte, 2.toByte, 0.toByte, 0.toByte) ++
      u16(0) ++ Array[Byte](0, 1 /* unit: hour */) ++ u32(m.forecastHours) ++
      Array[Byte](1, 0) ++ u32(0) ++ Array[Byte](255.toByte, 0) ++ u32(0))
    val present = m.stored.count(_.isDefined)
    val sec5 = section(5, u32(present.toLong) ++ u16(0) /* simple packing */ ++
      u32(java.lang.Float.floatToIntBits(m.refValue).toLong & 0xffffffffL) ++
      s16(m.binScale) ++ s16(m.decScale) ++
      Array(m.nbits.toByte, 0.toByte /* float field */))
    val hasHoles = present < m.stored.length
    val sec6 =
      if (!hasHoles) section(6, Array[Byte](255.toByte))
      else {
        val bm = new Array[Byte](((m.stored.length + 7) / 8))
        m.stored.zipWithIndex.foreach { case (x, i) =>
          if (x.isDefined) bm(i / 8) = (bm(i / 8) | (1 << (7 - i % 8))).toByte
        }
        section(6, Array[Byte](0) ++ bm)
      }
    val packed = {
      val out = new ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      m.stored.flatten.foreach { x =>
        acc = (acc << m.nbits) | x; nb += m.nbits
        while (nb >= 8) { out.write(((acc >>> (nb - 8)) & 0xff).toInt); nb -= 8 }
      }
      if (nb > 0) out.write(((acc << (8 - nb)) & 0xff).toInt)
      out.toByteArray
    }
    val sec7 = section(7, packed)
    val body = sec1 ++ sec3 ++ sec4 ++ sec5 ++ sec6 ++ sec7
    val total = 16L + body.length + 4L
    "GRIB".getBytes("US-ASCII") ++ u16(0) ++
      Array(m.discipline.toByte, 2.toByte) ++ u64(total) ++
      body ++ "7777".getBytes("US-ASCII")
  }

  /** Render messages back-to-back into one file (the multi-message layout
    * real GFS files use).
    */
  def render(msgs: Seq[Spec]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    msgs.foreach(m => out.write(renderMessage(m)))
    out.toByteArray
  }

  // ------------------------------------------------------------ parser

  /** One decoded message: grid geometry in degrees, values in scan order
    * (NaN at bitmap holes).
    */
  final case class Message(
      discipline: Int, category: Int, number: Int,
      refYear: Int, refMonth: Int, refDay: Int, refHour: Int,
      forecastHours: Long,
      ni: Long, nj: Long,
      lat1: Double, lon1: Double, di: Double, dj: Double,
      values: Array[Double])

  def parse(bytes: Array[Byte]): Seq[Message] = {
    val r = new Reader(bytes)
    val msgs = Seq.newBuilder[Message]
    var off = 0
    while (off < r.len) {
      require(off + 16 <= r.len, s"truncated GRIB message at offset $off")
      require(r.ascii(off, 4) == "GRIB", s"no GRIB magic at offset $off")
      require(r.u8(off + 7) == 2, s"GRIB edition ${r.u8(off + 7)} unsupported (2 only)")
      val discipline = r.u8(off + 6)
      val total = r.u64At(off + 8)
      require(total >= 20 && total <= r.len - off,
        s"GRIB message at offset $off claims $total bytes, ${r.len - off} remain")
      val end = off + total.toInt
      require(r.ascii(end - 4, 4) == "7777", "message does not end in 7777")
      var p = off + 16
      var cat = -1; var num = -1
      var refYear = 0; var refMonth = 0; var refDay = 0; var refHour = 0
      var fcHours = 0L
      var ni = 0L; var nj = 0L
      var lat1 = 0.0; var lon1 = 0.0; var di = 0.0; var dj = 0.0
      var refV = 0.0f; var binE = 0; var decD = 0; var nbits = 0
      var bitmap: Array[Boolean] = null
      var npts = 0L
      var values: Array[Double] = null
      while (p < end - 4) {
        val slen = r.u32At(p)
        // every section holds its 5-byte length and number, and ends
        // before the message's 7777 end section
        require(slen >= 5 && slen <= end - 4 - p,
          s"GRIB2 section at offset $p claims $slen bytes, ${end - 4 - p} remain in its message")
        val snum = r.u8(p + 4)
        snum match {
          case 1 =>
            refYear = r.u16At(p + 12); refMonth = r.u8(p + 14)
            refDay = r.u8(p + 15); refHour = r.u8(p + 16)
          case 2 => // local use — skip
          case 3 =>
            val tmpl = r.u16At(p + 12)
            require(tmpl == 0, s"grid template 3.$tmpl unsupported (3.0 lat/lon only)")
            npts = r.u32At(p + 6)
            val t = p + 14 // template body
            ni = r.u32At(t + 16); nj = r.u32At(t + 20)
            lat1 = r.s32At(t + 32) / 1e6; lon1 = r.s32At(t + 36) / 1e6
            di = r.s32At(t + 49) / 1e6; dj = r.s32At(t + 53) / 1e6
          case 4 =>
            val tmpl = r.u16At(p + 7)
            require(tmpl == 0, s"product template 4.$tmpl unsupported (4.0 only)")
            cat = r.u8(p + 9); num = r.u8(p + 10)
            fcHours = r.u32At(p + 18)
          case 5 =>
            val tmpl = r.u16At(p + 9)
            require(tmpl == 0,
              s"data representation template 5.$tmpl unsupported (5.0 simple packing only)")
            refV = r.f32At(p + 11)
            binE = r.s16At(p + 15); decD = r.s16At(p + 17)
            nbits = r.u8(p + 19)
          case 6 =>
            val ind = r.u8(p + 5)
            if (ind == 0) {
              bitmap = Array.tabulate(npts.toInt)(i =>
                ((r.u8(p + 6 + i / 8) >> (7 - i % 8)) & 1) == 1)
            } else require(ind == 255, s"predefined bitmap $ind unsupported")
          case 7 =>
            val dataBits = (p + 5).toLong * 8
            val scale = math.pow(2.0, binE) / math.pow(10.0, decD)
            val base = refV.toDouble / math.pow(10.0, decD)
            values = new Array[Double](npts.toInt)
            var k = 0L // packed index (bitmap holes are not stored)
            var i = 0
            while (i < npts) {
              if (bitmap == null || bitmap(i)) {
                val x = if (nbits == 0) 0L else r.bits(dataBits + k * nbits, nbits)
                values(i) = base + x * scale
                k += 1
              } else values(i) = Double.NaN
              i += 1
            }
          case other => throw new IllegalArgumentException(s"bad GRIB2 section $other")
        }
        p += slen.toInt
      }
      require(values != null, "message carried no data section")
      msgs += Message(discipline, cat, num, refYear, refMonth, refDay, refHour,
        fcHours, ni, nj, lat1, lon1, di, dj, values)
      off = end
    }
    msgs.result()
  }

  /** Write one multi-message .grib2 file per variable (records become
    * messages with `forecast_hours = t·6`), executor-side via the Hadoop
    * FS API — the [[graft.sinks.NetCdfSink.writePackedGrids]] shape: only
    * file paths return to the driver. Cells absent from `df` become
    * section-6 bitmap holes. 12-bit simple packing with R = −2000, D = 2
    * (decode = −20.0 + X·0.01), grid = 0.25° lat/lon from 90N/0E.
    */
  def writeGrids(df: DataFrame, out: String, shape: (Int, Int), nRecs: Int,
                 varNumber: Map[String, Int]): Seq[String] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{collect_list, struct}
    val spark = df.sparkSession
    val (nLat, nLon) = shape
    val grouped = df.groupBy(col("variable")).agg(
      collect_list(struct(col("t").cast("int").as("t"),
        col("i").cast("int").as("i"), col("j").cast("int").as("j"),
        col("stored").cast("long").as("v"))).as("cells"))
    val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    grouped.map { row =>
      val variable = row.getString(0)
      val cells = row.getSeq[Row](1)
      val byRec = cells.groupBy(_.getInt(0))
      val msgs = (0 until nRecs).map { t =>
        val stored = Array.fill[Option[Long]](nLat * nLon)(None)
        byRec.getOrElse(t, Seq.empty).foreach { c =>
          stored(c.getInt(1) * nLon + c.getInt(2)) = Some(c.getLong(3))
        }
        Spec(discipline = 0, category = 0, number = varNumber(variable),
          refYear = 2026, refMonth = 8, refDay = 13, refHour = 0,
          forecastHours = t.toLong * 6,
          ni = nLon.toLong, nj = nLat.toLong,
          lat1Micro = 90000000L, lon1Micro = 0L,
          diMicro = 250000L, djMicro = 250000L,
          refValue = -2000.0f, binScale = 0, decScale = 2, nbits = 12,
          stored = stored)
      }
      val path = new org.apache.hadoop.fs.Path(s"$out/$variable.grib2")
      val fs = path.getFileSystem(hadoopConf.value)
      fs.setWriteChecksum(false)
      val os = fs.create(path, true)
      try os.write(render(msgs)) finally os.close()
      path.toString
    }(org.apache.spark.sql.Encoders.STRING).collect().toSeq.sorted
  }

  /** Distributed read: one row per grid point, with per-message metadata —
    * (file, msg, discipline, category, number, forecast_hours, ni, nj,
    * lat1, lon1, di, dj, pos, value). Per-file executor-side decode, no
    * shuffle.
    */
  def read(spark: SparkSession, pathGlob: String,
           globFilter: String = "*.grib2"): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", globFilter)
      .load(Fetchers.resolve(spark, pathGlob))
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        parse(bytes).zipWithIndex.flatMap { case (m, mi) =>
          m.values.zipWithIndex.map { case (v, pos) =>
            (path, mi, m.discipline, m.category, m.number, m.refYear,
              m.forecastHours, m.ni, m.nj, m.lat1, m.lon1, m.di, m.dj, pos, v)
          }
        }
      }
      .toDF("file", "msg", "discipline", "category", "number", "ref_year",
        "forecast_hours", "ni", "nj", "lat1", "lon1", "di", "dj",
        "pos", "value")
  }
}
