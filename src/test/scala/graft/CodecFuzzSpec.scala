package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{AudioMeta, Avc, Gif, Media, Mp4}
import graft.sinks.{Hdf5Store, TfRecordSink, WarcSink}
import graft.sources.{GribSource, ParquetFooter, StlSource, TfRecordSource, WarcSource, ZipSource}

/** Adversarial robustness sweep over every pure-JVM byte codec: each
  * parser is fed its own valid fixture plus systematic truncations,
  * random bit flips, an empty payload, and pure garbage. The contract is
  * the one the Gif truncation fix (round 7 ADVICE) established for one
  * codec, applied to the whole fleet: a corrupted payload must terminate
  * QUICKLY with an ordinary exception — no hangs, no StackOverflowError,
  * no unbounded allocation — because at 100 TB a malformed object in an
  * object store must fail one row, not an executor.
  */
class CodecFuzzSpec extends AnyFunSuite {

  private def mutations(bytes: Array[Byte], seed: Long): Seq[Array[Byte]] = {
    val r = new scala.util.Random(seed)
    val truncs = (1 to 10).map(i => bytes.take(bytes.length * i / 11))
    val flips = (0 until 40).map { _ =>
      val m = bytes.clone()
      val k = 1 + r.nextInt(4)
      for (_ <- 0 until k) {
        val p = r.nextInt(m.length)
        m(p) = (m(p) ^ (1 << r.nextInt(8))).toByte
      }
      m
    }
    val junk = Array.fill(128)(r.nextInt(256).toByte)
    truncs ++ flips ++ Seq(Array.empty[Byte], junk)
  }

  private def harden(name: String, fixture: Array[Byte])(parse: Array[Byte] => Any): Unit = {
    parse(fixture) // pristine must parse
    mutations(fixture, name.hashCode.toLong).zipWithIndex.foreach { case (m, i) =>
      val t0 = System.nanoTime()
      try { parse(m); () }
      catch {
        case e: StackOverflowError => fail(s"$name mutation $i: stack overflow")
        case e: OutOfMemoryError => fail(s"$name mutation $i: allocation bomb")
        case _: Throwable => // clean rejection
      }
      val ms = (System.nanoTime() - t0) / 1e6
      assert(ms < 2000, s"$name mutation $i took $ms ms (hang?)")
    }
  }

  test("WAV survives corruption") {
    harden("wav", Media.renderWav(8000, 1,
      Array.tabulate(256)(i => i * 13 % 4096 - 2048)))(Media.decodeWav)
  }

  test("BMP survives corruption") {
    harden("bmp", Media.renderBmp(8, 8,
      Array.tabulate(64)(i => (i * 3 % 256, i * 5 % 256, i * 7 % 256))))(Media.decodeBmp)
  }

  test("PNG survives corruption") {
    harden("png", Media.renderPng(8, 8, 3,
      Array.tabulate(192)(i => i * 11 % 256)))(Media.decodePng)
  }

  test("JPEG (baseline + progressive) survives corruption") {
    val samples = Array.tabulate(16 * 16 * 3)(i => (i / 24) * 16 % 256)
    harden("jpeg", Media.renderJpeg(16, 16, 3, samples))(Media.decodeJpeg)
    harden("jpegp", Media.renderJpegProgressive(16, 16, 3, samples))(Media.decodeJpeg)
  }

  test("GIF survives corruption") {
    val palette = Array.tabulate(8)(i => (i * 30, i * 20, i * 10))
    val frame = Array.tabulate(64)(i => i % 8)
    harden("gif", Gif.render(8, 8, palette, Seq(frame, frame.reverse)))(Gif.decode)
  }

  test("FLAC STREAMINFO + MP3 frame survive corruption") {
    harden("flac", AudioMeta.renderFlacStreamInfo(
      AudioMeta.FlacInfo(4096, 4096, 44100, 2, 16, 44100L)))(AudioMeta.parseFlacStreamInfo)
    harden("mp3", AudioMeta.renderMp3Frame(
      AudioMeta.Mp3Frame(128, 44100, padding = false, channels = 2)))(b => AudioMeta.parseMp3Frame(b))
  }

  test("ZIP survives corruption") {
    val entries = Seq("a.txt" -> Array.tabulate(64)(_.toByte),
      "dir/b.bin" -> Array.tabulate(256)(i => (i * 7).toByte))
    harden("zip", ZipSource.render(entries))(ZipSource.parse)
  }

  test("MP4 survives corruption") {
    val video = Mp4.TrackSpec(1L, "vide", "avc1", 640, 360, 0, 0, 600L, 120L,
      Right(Array(1000L, 2000L, 1500L)), Some(2), 2, 4096L, 512L, v1 = false)
    harden("mp4", Mp4.render("isom", 1000L, 6000L, Seq(video), v1 = false))(Mp4.parse)
  }

  test("AVC SPS survives corruption") {
    harden("sps", Avc.renderSps(Avc.Sps(66, 30, 8, 6, frameMbsOnly = true, 0, 2, 0, 1)))(Avc.parseSps)
  }

  test("HDF5 survives corruption") {
    harden("hdf5", hdf5)(Hdf5Store.parse)
  }

  test("HDF5 chunked + deflate survives corruption") {
    harden("hdf5z", Hdf5Store.renderDatasets(Seq(
      Hdf5Store.H5Dataset("temp", Seq(4L, 6L), Array.tabulate(24)(_ * 1.5),
        chunkDims = Some(Seq(2L, 4L)), deflate = true),
      Hdf5Store.H5Dataset("wind", Seq(8L), Array.tabulate(8)(_ * -0.25),
        chunkDims = Some(Seq(8L)), deflate = true))))(Hdf5Store.parse)
  }

  test("binary STL survives corruption") {
    val bb = java.nio.ByteBuffer.allocate(84 + 2 * 50)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(new Array[Byte](80)).putInt(2)
    for (t <- 0 until 2) {
      for (_ <- 0 until 3) bb.putFloat(0f) // normal
      for (v <- 0 until 9) bb.putFloat(t * 10f + v)
      bb.putShort(0)
    }
    harden("stl", bb.array())(StlSource.parse)
  }

  test("TFRecord survives corruption") {
    val recs = (0 until 3).map(i =>
      TfRecordSink.renderRecord(Array.tabulate(32 + i)(j => (i * 31 + j).toByte)))
    harden("tfrecord", recs.reduce(_ ++ _))(TfRecordSource.parse)
  }

  test("WARC survives corruption") {
    val rec = WarcSink.renderRecord("f.warc.gz", 0L, "response",
      "https://example.com/x", "2026-01-01T00:00:00Z", 200, "text/html",
      "<html><body>ok</body></html>".getBytes("UTF-8"))
    harden("warc", rec)(WarcSource.parse)
  }

  test("GRIB2 survives corruption") {
    harden("grib", grib2)(GribSource.parse)
  }

  test("D3Plot survives corruption") {
    // minimal 3-D shell model: 64-word control block, 4 nodes, 1 shell,
    // 1 state, EOF marker (the D3PlotSpec fixture, reduced)
    val numnp = 4; val nel4 = 1; val maxint = 2; val nglbv = 2
    val nv2d = maxint * 7
    val stateWords = 1 + nglbv + numnp * 3 + nel4 * nv2d
    val total = 64 + numnp * 3 + nel4 * 5 + stateWords + 1
    val bb = java.nio.ByteBuffer.allocate(total * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("fuzz fixture".padTo(40, ' ').getBytes("US-ASCII"))
    (10 until 64).foreach {
      case 15 => bb.putInt(4)
      case 16 => bb.putInt(numnp)
      case 18 => bb.putInt(nglbv)
      case 20 => bb.putInt(1)
      case 31 => bb.putInt(nel4)
      case 32 => bb.putInt(1)
      case 33 => bb.putInt(nv2d)
      case 36 => bb.putInt(maxint)
      case _ => bb.putInt(0)
    }
    (0 until numnp * 3).foreach(i => bb.putFloat(i * 0.5f))
    Seq(1, 2, 3, 4).foreach(bb.putInt); bb.putInt(7)
    bb.putFloat(0f)
    (0 until nglbv).foreach(_ => bb.putFloat(99f))
    (0 until numnp * 3).foreach(i => bb.putFloat(i * 0.25f))
    (0 until nel4 * nv2d).foreach(i => bb.putFloat(i * 1.5f))
    bb.putFloat(-999999.0f)
    harden("d3plot", bb.array())(graft.sources.D3PlotSource.parse(_))
  }

  /** A CDF-1 file: dims (time=record, lat=3), one global attribute, one
    * fixed double variable.
    */
  private def classicNc: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bos)
    def name(s: String): Unit = {
      o.writeInt(s.length); o.write(s.getBytes("UTF-8"))
      val r = s.length % 4; if (r != 0) o.write(new Array[Byte](4 - r))
    }
    o.write("CDF".getBytes); o.write(1)
    o.writeInt(1) // numrecs
    o.writeInt(0x0A); o.writeInt(2) // dims
    name("time"); o.writeInt(0)
    name("lat"); o.writeInt(3)
    o.writeInt(0x0C); o.writeInt(1) // gatts
    name("title"); o.writeInt(2); o.writeInt(4); o.write("fuzz".getBytes)
    o.writeInt(0x0B); o.writeInt(1) // vars
    name("lat"); o.writeInt(1); o.writeInt(1)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(6); o.writeInt(24); o.writeInt(0)
    (0 until 3).foreach(i => o.writeDouble(i * 30.0))
    o.flush()
    bos.toByteArray
  }

  private def hdf5: Array[Byte] = Hdf5Store.render(Seq(
    ("temp", Seq(4L, 4L), Array.tabulate(16)(_ * 1.5)),
    ("wind", Seq(8L), Array.tabulate(8)(_ * -0.25))))

  private def grib2: Array[Byte] = {
    val stored: Array[Option[Long]] = Array.tabulate(12)(i =>
      if (i % 5 == 4) None else Some((i * 3L) % 255))
    GribSource.render(Seq(GribSource.Spec(0, 0, 0, 2026, 1, 1, 0, 6L, 4L, 3L,
      90000000L, 0L, 250000L, 250000L, 250.5f, 0, 0, 8, stored)))
  }

  test("NetCDF classic header survives corruption") {
    harden("netcdf", classicNc)(graft.sources.NetCdfSource.parseHeader)
  }

  test("NetCDF binding: damaged classic, HDF5 and GRIB2 files fail naming the file") {
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("fuzz_grid")
    def read(name: String, bytes: Array[Byte]): Long = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, bytes)
      spark.read.format("graft.sources.NetCdfDataSource")
        .option("path", f.toString).option("globFilter", "*").load().count()
    }
    // a bit flip per format that keeps the signature and breaks the
    // decode: CDF version 1 -> 3, HDF5 superblock version 0 -> 1, GRIB
    // edition 2 -> 3
    def flip(bytes: Array[Byte], at: Int): Array[Byte] = {
      val m = bytes.clone(); m(at) = (m(at) ^ 2).toByte; m
    }
    val pristine = Seq(("classic", classicNc, 3), ("hdf5", hdf5, 8), ("grib2", grib2, 7))
    pristine.foreach { case (fmt, bytes, _) => assert(read(s"ok_$fmt", bytes) > 0, fmt) }
    val damaged = pristine.flatMap { case (fmt, bytes, at) =>
      Seq(s"cut_$fmt" -> bytes.take(bytes.length / 2), s"flip_$fmt" -> flip(bytes, at))
    } :+ ("nosig" -> "no signature here".getBytes("US-ASCII"))
    damaged.foreach { case (name, bytes) =>
      val t0 = System.nanoTime()
      val e = intercept[Throwable](read(name, bytes))
      val ms = (System.nanoTime() - t0) / 1e6
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
      assert(!chain.exists(c => c.isInstanceOf[StackOverflowError] ||
        c.isInstanceOf[OutOfMemoryError]), s"$name: $e")
      assert(chain.exists(c => String.valueOf(c.getMessage).contains(s"$dir/$name")),
        s"$name: the error does not name the file: $e")
      assert(ms < 2000, s"$name took $ms ms (hang?)")
    }
  }

  /** Errors of reading `bytes` as file `name` under `dir` through
    * `read(path)`: each must be an ordinary exception that names the file
    * and arrives within the harden bound.
    */
  private def failsNamingFile(dir: java.nio.file.Path, name: String, bytes: Array[Byte])(
      read: String => Any): Unit = {
    val f = dir.resolve(name)
    java.nio.file.Files.write(f, bytes)
    val t0 = System.nanoTime()
    val e = intercept[Throwable](read(f.toString))
    val ms = (System.nanoTime() - t0) / 1e6
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(!chain.exists(c => c.isInstanceOf[StackOverflowError] ||
      c.isInstanceOf[OutOfMemoryError]), s"$name: $e")
    assert(chain.exists(c => String.valueOf(c.getMessage).contains(s"$dir/$name")),
      s"$name: the error does not name the file: $e")
    assert(ms < 2000, s"$name took $ms ms (hang?)")
  }

  test("GRIB2: a zero-length section and a cut message fail, naming the file") {
    // section 1's length zeroed: a loop that advances by the section
    // length never moves, so the parse runs under a bounded wait
    val zeroSection = grib2.clone()
    (16 until 20).foreach(zeroSection(_) = 0)
    val parse = scala.concurrent.Future(scala.util.Try(GribSource.parse(zeroSection)))(
      scala.concurrent.ExecutionContext.global)
    val done = scala.util.Try(scala.concurrent.Await.result(parse,
      scala.concurrent.duration.Duration(5, "s")))
    assert(done.isSuccess, "GRIB2 parse of a zero-length section did not return within 5 s")
    assert(done.get.isFailure, "a zero-length section decoded")
    // a file that starts a message it does not complete
    val cut = grib2.take(12)
    assert(scala.util.Try(GribSource.parse(cut)).isFailure, "a 12-byte GRIB file decoded")

    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("fuzz_grib")
    Seq("zero_section" -> zeroSection, "cut12" -> cut).foreach { case (name, bytes) =>
      failsNamingFile(dir, name, bytes) { path =>
        spark.read.format("graft.sources.NetCdfDataSource")
          .option("path", path).option("globFilter", "*").load().count()
      }
    }
  }

  test("VTU binding: a .vts Extent its Points do not fill fails, naming the file") {
    // an Extent of 100001³ points over 12 points would ask for ~10^15
    // implicit hexahedra
    val bomb =
      """<?xml version="1.0"?>
        |<VTKFile type="StructuredGrid" version="0.1">
        | <StructuredGrid WholeExtent="0 100000 0 100000 0 100000">
        |  <Piece Extent="0 100000 0 100000 0 100000">
        |   <Points>
        |    <DataArray type="Float64" NumberOfComponents="3" format="ascii">
        |      0 0 0  1 0 0  2 0 0  0 1 0  1 1 0  2 1 0
        |      0 0 1  1 0 1  2 0 1  0 1 1  1 1 1  2 1 1
        |    </DataArray>
        |   </Points>
        |  </Piece>
        | </StructuredGrid>
        |</VTKFile>""".stripMargin.getBytes("UTF-8")
    val spark = SparkSpec.spark
    val dir = java.nio.file.Files.createTempDirectory("fuzz_vts")
    def cells(path: String) = spark.read.format("graft.sources.VtuDataSource")
      .option("path", path).option("globFilter", "*.vts").option("table", "cells").load()
    failsNamingFile(dir, "bomb.vts", bomb)(path => cells(path).select("vertices").collect())
    failsNamingFile(dir, "bomb.vts", bomb)(path => cells(path).count())
  }

  test("parquet footer survives corruption") {
    val path = java.nio.file.Paths.get("/root/testdata/sf0.001/region.parquet")
    val all = java.nio.file.Files.readAllBytes(path)
    val n = all.length
    val len = java.nio.ByteBuffer.wrap(all, n - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val footer = java.util.Arrays.copyOfRange(all, n - 8 - len, n - 8)
    harden("parquet", footer)(ParquetFooter.parseFooter)
  }
}
