package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.mesh.MeshOps
import graft.sources.VtkXmlSource

/** VTK XML parsing across the full layout matrix (ascii, inline base64,
  * appended raw/base64, zlib blocks, UInt32/UInt64 headers, .vtp), plus
  * reader-level pruning and mesh-ops composition.
  */
class VtkXmlSourceSpec extends SparkSpec {

  // unit right triangle + one extra point; two triangles; two point fields
  private val vtu =
    """<?xml version="1.0"?>
      |<VTKFile type="UnstructuredGrid" version="0.1">
      | <UnstructuredGrid>
      |  <Piece NumberOfPoints="4" NumberOfCells="2">
      |   <Points>
      |    <DataArray type="Float64" NumberOfComponents="3" format="ascii">
      |      0 0 0  1 0 0  0 1 0  1 1 0
      |    </DataArray>
      |   </Points>
      |   <Cells>
      |    <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2 1 3 2</DataArray>
      |    <DataArray type="Int64" Name="offsets" format="ascii">3 6</DataArray>
      |    <DataArray type="UInt8" Name="types" format="ascii">5 5</DataArray>
      |   </Cells>
      |   <PointData>
      |    <DataArray type="Float64" Name="u" format="ascii">1 2 3 4</DataArray>
      |    <DataArray type="Float64" Name="p" format="ascii">10 20 30 40</DataArray>
      |   </PointData>
      |  </Piece>
      | </UnstructuredGrid>
      |</VTKFile>""".stripMargin

  test("parseVtu: points, ragged cells, point data") {
    val p = VtkXmlSource.parseVtu(vtu.getBytes("UTF-8"))
    assert(p.points.length == 4 && p.points(3).toSeq == Seq(1.0, 1.0, 0.0))
    assert(p.cells.map(_.toSeq).toSeq == Seq(Seq(0L, 1L, 2L), Seq(1L, 3L, 2L)))
    assert(p.pointData.keySet == Set("u", "p"))
    assert(p.pointData("u").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("reader-level include/exclude prunes arrays during parse") {
    val inc = VtkXmlSource.parseVtu(vtu.getBytes("UTF-8"), include = Set("u"))
    assert(inc.pointData.keySet == Set("u"))
    val exc = VtkXmlSource.parseVtu(vtu.getBytes("UTF-8"), exclude = Set("u"))
    assert(exc.pointData.keySet == Set("p"))
  }

  test("inline base64 binary DataArrays decode identically to ascii") {
    val b64 = {
      def enc(doubles: Array[Double]): String = {
        val bb = java.nio.ByteBuffer.allocate(4 + doubles.length * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(doubles.length * 8)
        doubles.foreach(bb.putDouble)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      def encL(longs: Array[Long]): String = {
        val bb = java.nio.ByteBuffer.allocate(4 + longs.length * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(longs.length * 8)
        longs.foreach(bb.putLong)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" header_type="UInt32">
         | <UnstructuredGrid><Piece NumberOfPoints="3" NumberOfCells="1">
         |  <Points><DataArray type="Float64" NumberOfComponents="3" format="binary">${enc(Array(0, 0, 0, 1, 0, 0, 0, 1, 0))}</DataArray></Points>
         |  <Cells>
         |   <DataArray type="Int64" Name="connectivity" format="binary">${encL(Array(0L, 1L, 2L))}</DataArray>
         |   <DataArray type="Int64" Name="offsets" format="binary">${encL(Array(3L))}</DataArray>
         |  </Cells>
         |  <PointData><DataArray type="Float64" Name="u" format="binary">${enc(Array(1.5, 2.5, 3.5))}</DataArray></PointData>
         | </Piece></UnstructuredGrid>
         |</VTKFile>""".stripMargin
    }
    val p = VtkXmlSource.parseVtu(b64.getBytes("UTF-8"))
    assert(p.points.length == 3 && p.points(2).toSeq == Seq(0.0, 1.0, 0.0))
    assert(p.cells.map(_.toSeq).toSeq == Seq(Seq(0L, 1L, 2L)))
    assert(p.pointData("u").toSeq == Seq(1.5, 2.5, 3.5))
  }

  test("VtuSink write → VtkXmlSource read round trip") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("vtu-rt").toString
    val pts = Seq(
      (7L, 0L, 0.0, 0.0, 0.0), (7L, 1L, 2.0, 0.0, 0.0), (7L, 2L, 0.0, 3.0, 0.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((7L, 0L, Seq(0L, 1L, 2L))).toDF("mesh_id", "cell_id", "vertices")
    val pd = Seq((7L, 0L, "u", 1.0), (7L, 1L, "u", 2.0), (7L, 2L, "u", 4.0))
      .toDF("mesh_id", "point_id", "field", "value")

    val paths = graft.sinks.VtuSink.write(pts, cls, pd, dir)
    assert(paths.length == 1 && paths(0).endsWith("mesh_7.vtu"))

    val (rp, rc, rpd) = VtkXmlSource.read(spark, dir)
    assert(rp.count() == 3 && rc.count() == 1 && rpd.count() == 3)
    val coords = rp.orderBy("point_id").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(coords == Seq((0.0, 0.0, 0.0), (2.0, 0.0, 0.0), (0.0, 3.0, 0.0)))
    val u = rpd.orderBy("point_id").collect().map(_.getDouble(3)).toSeq
    assert(u == Seq(1.0, 2.0, 4.0))
    assert(rc.collect()(0).getSeq[Long](2) == Seq(0L, 1L, 2L))
  }

  test("VtuSink reports the bytes it writes in the tasks' output metrics") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("vtu-metrics").toString
    val pts = Seq(1L, 2L).flatMap(m => Seq(
      (m, 0L, 0.0, 0.0, 0.0), (m, 1L, 2.0 * m, 0.0, 0.0), (m, 2L, 0.0, 3.0, 0.0)))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq(1L, 2L).map(m => (m, 0L, Seq(0L, 1L, 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = Seq(1L, 2L).flatMap(m => (0L until 3L).map(p => (m, p, "u", p * 1.5)))
      .toDF("mesh_id", "point_id", "field", "value")
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val paths =
      try {
        val p = graft.sinks.VtuSink.write(pts, cls, pd, dir, "appended-zlib")
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(paths.length == 2)
    val files = new java.io.File(dir).listFiles().filterNot(_.getName.endsWith(".crc"))
    assert(files.map(_.getName).sorted.toSeq == Seq("mesh_1.vtu", "mesh_2.vtu"))
    assert(bytes.get() == files.map(_.length).sum)
  }

  test("VtuSink cellData + nameTemplate round trip (ascii and appended-zlib)") {
    val s = spark
    import s.implicits._
    val pts = Seq(
      (3L, 0L, 0.0, 0.0, 0.0), (3L, 1L, 2.0, 0.0, 0.0), (3L, 2L, 0.0, 3.0, 0.0),
      (3L, 3L, 1.0, 1.0, 1.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((3L, 0L, Seq(0L, 1L, 2L)), (3L, 1L, Seq(1L, 2L, 3L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = Seq((3L, 0L, "u", 1.0), (3L, 1L, "u", 2.0), (3L, 2L, "u", 4.0),
      (3L, 3L, "u", 8.0)).toDF("mesh_id", "point_id", "field", "value")
    val cd = Seq((3L, 0L, "p", 0.5), (3L, 1L, "p", -2.25),
      (3L, 0L, "q", 7.0), (3L, 1L, "q", 9.0))
      .toDF("mesh_id", "cell_id", "field", "value")
    Seq("ascii", "appended-zlib").foreach { fmt =>
      val dir = Files.createTempDirectory(s"vtu-cd-$fmt").toString
      val paths = graft.sinks.VtuSink.write(pts, cls, pd, dir, fmt,
        cellData = Some(cd), nameTemplate = "volume_{id}.vtu")
      assert(paths.length == 1 && paths(0).endsWith("volume_3.vtu"))
      val p = VtkXmlSource.parseVtu(Files.readAllBytes(Paths.get(dir, "volume_3.vtu")))
      assert(p.pointData("u").toSeq == Seq(1.0, 2.0, 4.0, 8.0))
      assert(p.cellData("p").toSeq == Seq(0.5, -2.25))
      assert(p.cellData("q").toSeq == Seq(7.0, 9.0))
    }
    // include/exclude filters apply to CellData arrays too
    val dir2 = Files.createTempDirectory("vtu-cd-f").toString
    graft.sinks.VtuSink.write(pts, cls, pd, dir2, "ascii", cellData = Some(cd))
    val p2 = VtkXmlSource.parseVtu(
      Files.readAllBytes(Paths.get(dir2, "mesh_3.vtu")), exclude = Set("q"))
    assert(p2.cellData.keySet == Set("p") && p2.pointData.keySet == Set("u"))
  }

  test("VtuSink remaps non-contiguous point ids to positional connectivity") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("vtu-gap").toString
    // ids 10/20/30 (post-merge shape): positional connectivity must be 0 1 2
    val pts = Seq(
      (1L, 10L, 0.0, 0.0, 0.0), (1L, 20L, 1.0, 0.0, 0.0), (1L, 30L, 0.0, 1.0, 0.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((1L, 0L, Seq(10L, 20L, 30L))).toDF("mesh_id", "cell_id", "vertices")
    val pd = Seq((1L, 10L, "u", 1.0), (1L, 20L, "u", 2.0), (1L, 30L, "u", 3.0))
      .toDF("mesh_id", "point_id", "field", "value")
    graft.sinks.VtuSink.write(pts, cls, pd, dir)
    val xml = Files.readString(Paths.get(dir, "mesh_1.vtu"))
    assert(xml.contains(""">0 1 2</DataArray>""") || xml.contains("""format="ascii">0 1 2<"""))
    val (rp, rc, _) = VtkXmlSource.read(spark, dir)
    assert(rp.count() == 3)
    assert(rc.collect()(0).getSeq[Long](2) == Seq(0L, 1L, 2L))
  }

  test("VtuSink honors explicit cell_type and rejects uninferable counts") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("vtu-ct").toString
    val pts = (0L to 3L).map(i => (1L, i, i.toDouble, 0.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val pd = Seq.empty[(Long, Long, String, Double)]
      .toDF("mesh_id", "point_id", "field", "value")
    // explicit quad (VTK type 9) — would otherwise be mis-inferred as a tet
    val quad = Seq((1L, 0L, Seq(0L, 1L, 2L, 3L), 9)).toDF("mesh_id", "cell_id", "vertices", "cell_type")
    graft.sinks.VtuSink.write(pts, quad, pd, dir)
    val xml = Files.readString(Paths.get(dir, "mesh_1.vtu"))
    assert(xml.contains("""Name="types" format="ascii">9<"""))
    // a 2-vertex cell with no explicit type must fail loudly
    val bad = Seq((1L, 0L, Seq(0L, 1L))).toDF("mesh_id", "cell_id", "vertices")
    intercept[org.apache.spark.SparkException] {
      graft.sinks.VtuSink.write(pts, bad, pd, dir)
    }
  }

  // mesh big enough that appended-zlib coords span multiple 32 KiB blocks
  private def bigMesh(n: Int) = {
    val s = spark
    import s.implicits._
    val pts = (0 until n).map(i => (1L, i.toLong, i * 0.5, i * 0.25, -i * 0.125))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = (0 until n - 2 by 3).map(i => (1L, (i / 3).toLong, Seq(i.toLong, i + 1L, i + 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = (0 until n).map(i => (1L, i.toLong, "u", math.sin(i * 0.01)))
      .toDF("mesh_id", "point_id", "field", "value")
    (pts, cls, pd)
  }

  private def roundTrip(format: String, n: Int): Unit = {
    val dir = Files.createTempDirectory(s"vtu-$format").toString
    val (pts, cls, pd) = bigMesh(n)
    graft.sinks.VtuSink.write(pts, cls, pd, dir, format)
    val bytes = Files.readAllBytes(Paths.get(dir, "mesh_1.vtu"))
    val p = VtkXmlSource.parseVtu(bytes)
    assert(p.points.length == n)
    (0 until n).foreach { i =>
      assert(p.points(i).toSeq == Seq(i * 0.5, i * 0.25, -i * 0.125))
    }
    assert(p.cells.length == (n - 2 + 2) / 3 || p.cells.length == ((n - 3) / 3 + 1))
    assert(p.cells(1).toSeq == Seq(3L, 4L, 5L))
    assert(p.pointData("u").toSeq == (0 until n).map(i => math.sin(i * 0.01)))
  }

  test("appended raw round trip is bit-exact") { roundTrip("appended", 100) }

  test("appended zlib round trip is bit-exact across multiple 32 KiB blocks") {
    // 5000 points → 120 KB of coords → 4 zlib blocks
    roundTrip("appended-zlib", 5000)
  }

  test("base64-appended + UInt32 headers decode (uncompressed, two arrays)") {
    def stream(doubles: Array[Double]): String = {
      val bb = java.nio.ByteBuffer.allocate(4 + doubles.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(doubles.length * 8)
      doubles.foreach(bb.putDouble)
      java.util.Base64.getEncoder.encodeToString(bb.array())
    }
    val coords = stream(Array(0, 0, 0, 1, 0, 0, 0, 1, 0))
    val u = stream(Array(9.5, 8.5, 7.5))
    val xml =
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" header_type="UInt32">
         | <UnstructuredGrid><Piece NumberOfPoints="3" NumberOfCells="0">
         |  <Points><DataArray type="Float64" NumberOfComponents="3" format="appended" offset="0"/></Points>
         |  <Cells/>
         |  <PointData><DataArray type="Float64" Name="u" format="appended" offset="${coords.length}"/></PointData>
         | </Piece></UnstructuredGrid>
         | <AppendedData encoding="base64">_$coords$u</AppendedData>
         |</VTKFile>""".stripMargin
    val p = VtkXmlSource.parseVtu(xml.getBytes("UTF-8"))
    assert(p.points.length == 3 && p.points(1).toSeq == Seq(1.0, 0.0, 0.0))
    assert(p.pointData("u").toSeq == Seq(9.5, 8.5, 7.5))
  }

  test("inline base64 + zlib (two-stream, UInt32 header) decodes") {
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val vals = Array(1.25, -2.5, 3.75, 100.0)
    val raw = {
      val bb = java.nio.ByteBuffer.allocate(vals.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putDouble); bb.array()
    }
    val comp = deflate(raw)
    val header = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(1).putInt(raw.length).putInt(raw.length).putInt(comp.length).array()
    val b64 = java.util.Base64.getEncoder.encodeToString(header) +
      java.util.Base64.getEncoder.encodeToString(comp)
    val xml =
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" header_type="UInt32" compressor="vtkZLibDataCompressor">
         | <UnstructuredGrid><Piece NumberOfPoints="0" NumberOfCells="0">
         |  <PointData><DataArray type="Float64" Name="w" format="binary">$b64</DataArray></PointData>
         | </Piece></UnstructuredGrid>
         |</VTKFile>""".stripMargin
    val p = VtkXmlSource.parseVtu(xml.getBytes("UTF-8"))
    assert(p.pointData("w").toSeq == vals.toSeq)
  }

  test(".vtp PolyData: Polys parse as cells") {
    val vtp =
      """<?xml version="1.0"?>
        |<VTKFile type="PolyData" version="0.1">
        | <PolyData>
        |  <Piece NumberOfPoints="4" NumberOfPolys="2">
        |   <Points>
        |    <DataArray type="Float32" NumberOfComponents="3" format="ascii">
        |      0 0 0  1 0 0  0 1 0  1 1 0
        |    </DataArray>
        |   </Points>
        |   <Polys>
        |    <DataArray type="Int32" Name="connectivity" format="ascii">0 1 2 1 3 2</DataArray>
        |    <DataArray type="Int32" Name="offsets" format="ascii">3 6</DataArray>
        |   </Polys>
        |   <PointData>
        |    <DataArray type="Float64" Name="u" format="ascii">1 2 3 4</DataArray>
        |   </PointData>
        |  </Piece>
        | </PolyData>
        |</VTKFile>""".stripMargin
    val p = VtkXmlSource.parseVtu(vtp.getBytes("UTF-8"))
    assert(p.points.length == 4)
    assert(p.cells.map(_.toSeq).toSeq == Seq(Seq(0L, 1L, 2L), Seq(1L, 3L, 2L)))
    assert(p.pointData("u").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    // .vtp files are picked up by the default read glob
    val dir = Files.createTempDirectory("vtp").toString
    Files.writeString(Paths.get(dir, "m.vtp"), vtp)
    val (points, cells, _) = VtkXmlSource.read(spark, dir)
    assert(points.count() == 4 && cells.count() == 2)
  }

  test("KeyFilters: longest-glob-wins resolution and fnmatch semantics") {
    import graft.sources.KeyFilters
    import graft.sources.KeyFilters.KeyFilterRule
    assert(KeyFilters.globMatches("/data/run1/volume_01.vtu", "*/volume_*.vtu"))
    assert(!KeyFilters.globMatches("/data/run1/surface.vtp", "*.vtu"))
    assert(KeyFilters.globMatches("a/b.vts", "a/b.vt[us]"))
    assert(!KeyFilters.globMatches("a/b.vtp", "a/b.vt[!p]"))

    val rules = Seq(
      KeyFilterRule("*.vtu", "exclude", Set("p")),
      KeyFilterRule("*/volume_*.vtu", "include", Set("u")))
    // both match → longer (more specific) include rule wins
    assert(KeyFilters.resolveArrays("/d/volume_1.vtu", rules) == (Set("u"), Set.empty))
    // only the generic rule matches
    assert(KeyFilters.resolveArrays("/d/surface_1.vtu", rules) == (Set.empty, Set("p")))
    // no rule matches → no pruning
    assert(KeyFilters.resolveArrays("/d/m.vtp", rules) == (Set.empty, Set.empty))

    // per-path value resolution: longest pattern wins, default otherwise
    val spec = Seq("*" -> 2, "*/tri_*.vtp" -> 1)
    assert(KeyFilters.resolvePathValue(spec, "/d/tri_0.vtp", 3) == 1)
    assert(KeyFilters.resolvePathValue(spec, "/d/other.vtu", 3) == 2)
    assert(KeyFilters.resolvePathValue(Seq("x_*" -> 9), "/d/y", 3) == 3)

    // fnmatch class edge cases: leading ']' is a literal; regex metachars
    // inside a class stay literal
    assert(KeyFilters.globMatches("a]b", "a[]]b"))
    assert(!KeyFilters.globMatches("axb", "a[]]b"))
    assert(KeyFilters.globMatches("a&b", "a[&x]b"))
    assert(KeyFilters.globMatches("a^b", "a[x^]b"))
  }

  test("read with per-path rules prunes arrays per file") {
    val dir = Files.createTempDirectory("vtu-rules").toString
    Files.writeString(Paths.get(dir, "volume_a.vtu"), vtu)
    Files.writeString(Paths.get(dir, "surface_b.vtu"), vtu)
    import graft.sources.KeyFilters.KeyFilterRule
    val (_, _, pointData) = VtkXmlSource.read(spark, dir, keyFilterRules = Seq(
      KeyFilterRule("*.vtu", "exclude", Set("p", "u")),
      KeyFilterRule("*/volume_*.vtu", "include", Set("u"))))
    val byFile = pointData.groupBy("mesh_id", "field").count().collect()
      .map(r => (r.getString(0).split("/").last, r.getString(1)))
    // volume file keeps only u; surface file keeps nothing
    assert(byFile.toSet == Set(("volume_a.vtu", "u")))
  }

  test("readAll plans its points and cells tables from one read of each header") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val dir = Files.createTempDirectory("vtu-headers").toString
    Files.writeString(Paths.get(dir, "a.vtu"), vtu)
    Files.writeString(Paths.get(dir, "b.vtu"), vtu)
    // one plain load infers one schema: one header read per file
    graft.tools.CountingFileSystem.reset()
    spark.read.format("graft.sources.VtuDataSource").option("path", s"cntfs:$dir").load()
    val once = graft.tools.CountingFileSystem.bytesRead.get()
    graft.tools.CountingFileSystem.reset()
    val (points, cells, pointData, _) = VtkXmlSource.readAll(spark, s"cntfs:$dir")
    val planned = graft.tools.CountingFileSystem.bytesRead.get()
    assert(once > 0 && planned == once, s"readAll read $planned header bytes, one pass is $once")
    assert(points.count() == 8 && cells.count() == 4 && pointData.count() == 16)
  }

  test("a .vti scan splits each file's head once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val dir = Files.createTempDirectory("vti-head").toString
    Files.writeString(Paths.get(dir, "g.vti"),
      """<?xml version="1.0"?>
        |<VTKFile type="ImageData" version="0.1">
        | <ImageData WholeExtent="0 1 0 1 0 0" Origin="0 0 0" Spacing="1 1 1">
        |  <Piece Extent="0 1 0 1 0 0">
        |   <PointData>
        |    <DataArray type="Float64" Name="u" format="ascii">0 1 2 3</DataArray>
        |   </PointData>
        |   <CellData>
        |    <DataArray type="Float64" Name="c" format="ascii">5</DataArray>
        |   </CellData>
        |  </Piece>
        | </ImageData>
        |</VTKFile>""".stripMargin)
    // an all-XML file: one head pass reads the whole file once
    graft.tools.CountingFileSystem.reset()
    val df = spark.read.format("graft.sources.VtiDataSource")
      .option("path", s"cntfs:$dir").load()
    val once = graft.tools.CountingFileSystem.bytesRead.get()
    graft.tools.CountingFileSystem.reset()
    val u = df.select("u").collect().map(_.getDouble(0)).sorted.toSeq
    val scanned = graft.tools.CountingFileSystem.bytesRead.get()
    assert(u == Seq(0.0, 1.0, 2.0, 3.0))
    assert(once > 0 && scanned == once, s"the scan read $scanned bytes, one head pass is $once")
  }

  // 3×2×2 structured point lattice with one point field
  private val vts =
    """<?xml version="1.0"?>
      |<VTKFile type="StructuredGrid" version="0.1">
      | <StructuredGrid WholeExtent="0 2 0 1 0 1">
      |  <Piece Extent="0 2 0 1 0 1">
      |   <Points>
      |    <DataArray type="Float64" NumberOfComponents="3" format="ascii">
      |      0 0 0  1 0 0  2 0 0  0 1 0  1 1 0  2 1 0
      |      0 0 1  1 0 1  2 0 1  0 1 1  1 1 1  2 1 1
      |    </DataArray>
      |   </Points>
      |   <PointData>
      |    <DataArray type="Float64" Name="u" format="ascii">0 1 2 3 4 5 6 7 8 9 10 11</DataArray>
      |   </PointData>
      |  </Piece>
      | </StructuredGrid>
      |</VTKFile>""".stripMargin

  test(".vts StructuredGrid: implicit hex cells from the piece extent") {
    // 3×2×2 point lattice → 2×1×1 implicit hex cells
    val cs = VtkXmlSource.structuredCells(Array(0, 2, 0, 1, 0, 1))
    assert(cs.length == 2)
    assert(cs(0).toSeq == Seq(0L, 1L, 4L, 3L, 6L, 7L, 10L, 9L))
    assert(cs(1).toSeq == Seq(1L, 2L, 5L, 4L, 7L, 8L, 11L, 10L))

    val dir = Files.createTempDirectory("vts").toString
    Files.writeString(Paths.get(dir, "g.vts"), vts)
    val (points, cells, pd) = VtkXmlSource.readVts(spark, dir)
    assert(points.count() == 12 && cells.count() == 2 && pd.count() == 12)
    assert(cells.select("cell_type").distinct().collect()(0).getInt(0) == 12)
    // hex volume check composes: each cell is a unit cube (tet-split = 6×1/6)
    val wide = graft.mesh.MeshOps.cellsWithCoords(points, cells, 8)
    assert(wide.count() == 2)
  }

  test(".vts through read: the default glob yields readVts' hexahedra") {
    val dir = Files.createTempDirectory("vts-read").toString
    Files.writeString(Paths.get(dir, "g.vts"), vts)
    val (points, cells, pd) = VtkXmlSource.read(spark, dir)
    val (_, hexes, _) = VtkXmlSource.readVts(spark, dir)
    def verts(df: org.apache.spark.sql.DataFrame) =
      df.select("cell_id", "vertices").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(points.count() == 12 && pd.count() == 12)
    assert(verts(cells) == verts(hexes) && verts(cells).size == 2, verts(cells).toString)
    // a count reads the cell count from the Extent alone
    assert(cells.count() == 2)
  }

  /** One VTU of 3 points whose `vel` has 3 components per point. */
  private def vtuVel(vel: String): String =
    s"""<?xml version="1.0"?>
       |<VTKFile type="UnstructuredGrid">
       | <UnstructuredGrid><Piece NumberOfPoints="3" NumberOfCells="1">
       |  <Points><DataArray type="Float64" NumberOfComponents="3" format="ascii">0 0 0 1 0 0 0 1 0</DataArray></Points>
       |  <Cells>
       |   <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2</DataArray>
       |   <DataArray type="Int64" Name="offsets" format="ascii">3</DataArray>
       |  </Cells>
       |  <PointData><DataArray type="Float64" Name="vel" NumberOfComponents="3" format="ascii">$vel</DataArray></PointData>
       | </Piece></UnstructuredGrid>
       |</VTKFile>""".stripMargin

  test("a 3-component point array: read and the timestep series give the same rows") {
    val root = Files.createTempDirectory("vel").toString
    Files.createDirectories(Paths.get(root, "run_a"))
    Files.writeString(Paths.get(root, "run_a", "s_000.vtu"), vtuVel("10 11 12 20 21 22 30 31 32"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("point_id", "field", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val (_, _, pd) = VtkXmlSource.read(spark, root)
    val (_, _, _, series) = graft.sources.VtkTimeSeriesSource.read(spark, root)
    val expected = (for (i <- 0 until 3; c <- 0 until 3)
      yield (i.toLong, s"vel_$c", (10 * (i + 1) + c).toDouble)).toSet
    assert(rows(pd) == expected, rows(pd).toString)
    assert(rows(series) == expected, rows(series).toString)
    // include names the array, keeping every component
    assert(rows(VtkXmlSource.read(spark, root, include = Set("vel"))._3) == expected)
    assert(VtkXmlSource.read(spark, root, exclude = Set("vel"))._3.count() == 0)
  }

  test("readVts, the timestep series and readVolume cache nothing") {
    val base = Files.createTempDirectory("nocache")
    val vtsDir = Files.createDirectories(base.resolve("vts"))
    Files.writeString(vtsDir.resolve("g.vts"), vts)
    val series = Files.createDirectories(base.resolve("series/run_a"))
    Files.writeString(series.resolve("s_000.vtu"), vtuVel("1 2 3 4 5 6 7 8 9"))
    Files.writeString(series.resolve("s_001.vtu"), vtuVel("2 3 4 5 6 7 8 9 10"))
    val runs = Files.createDirectories(base.resolve("runs/run_1"))
    Files.writeString(runs.resolve("volume_1.vtu"), vtu)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (vp, vc, vpd) = VtkXmlSource.readVts(spark, vtsDir.toString)
    val (sp, sc, ss, spd) = graft.sources.VtkTimeSeriesSource.read(spark, base.resolve("series").toString)
    val (dp, dc, dpd) = graft.sources.DrivAerMlSource.readVolume(spark, base.resolve("runs").toString)
    assert(Seq(vp, vc, vpd, sp, sc, ss, spd, dp, dc, dpd).map(_.count()) ==
      Seq(12L, 2L, 12L, 3L, 1L, 6L, 18L, 4L, 2L, 8L))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("timestep series: per-run file order → t index, displacement vs t0") {
    def vtuAt(shift: Double, u: Double) =
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid">
         | <UnstructuredGrid><Piece NumberOfPoints="3" NumberOfCells="1">
         |  <Points><DataArray type="Float64" NumberOfComponents="3" format="ascii">
         |    $shift 0 0  ${1 + shift} 0 0  $shift 1 0
         |  </DataArray></Points>
         |  <Cells>
         |   <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2</DataArray>
         |   <DataArray type="Int64" Name="offsets" format="ascii">3</DataArray>
         |  </Cells>
         |  <PointData><DataArray type="Float64" Name="u" format="ascii">$u $u $u</DataArray></PointData>
         | </Piece></UnstructuredGrid>
         |</VTKFile>""".stripMargin
    val root = Files.createTempDirectory("series").toString
    Files.createDirectories(Paths.get(root, "run_a"))
    Files.writeString(Paths.get(root, "run_a", "anim_000.vtu"), vtuAt(0.0, 1.0))
    Files.writeString(Paths.get(root, "run_a", "anim_001.vtu"), vtuAt(0.25, 2.0))
    Files.writeString(Paths.get(root, "run_a", "anim_002.vtu"), vtuAt(0.75, 3.0))

    val (points, cells, states, pd) =
      graft.sources.VtkTimeSeriesSource.read(spark, root)
    assert(points.count() == 3 && cells.count() == 1)
    assert(states.count() == 9 && pd.count() == 9)
    // displacement at t2 = 0.75 in x for every point
    val d2 = states.filter(col("t") === 2).select("dx").distinct().collect()
    assert(d2.map(_.getDouble(0)).toSeq == Seq(0.75))
    assert(states.filter(col("t") === 0).select(max(abs(col("dx")))).first().getDouble(0) == 0.0)
    // per-timestep nodal field arrives with its t
    val u = pd.groupBy("t").agg(avg("value").as("u")).orderBy("t")
      .collect().map(_.getDouble(1)).toSeq
    assert(u == Seq(1.0, 2.0, 3.0))
  }

  test(".vtm multiblock: manifest parse + distributed read of referenced files") {
    val dir = Files.createTempDirectory("vtm").toString
    Files.writeString(Paths.get(dir, "blk0.vtu"), vtu)
    Files.writeString(Paths.get(dir, "blk1.vtu"), vtu)
    val vtm =
      s"""<?xml version="1.0"?>
         |<VTKFile type="vtkMultiBlockDataSet" version="1.0">
         | <vtkMultiBlockDataSet>
         |  <DataSet index="0" name="inlet" file="blk0.vtu"/>
         |  <DataSet index="1" name="outlet" file="blk1.vtu"/>
         | </vtkMultiBlockDataSet>
         |</VTKFile>""".stripMargin
    Files.writeString(Paths.get(dir, "case.vtm"), vtm)

    val refs = VtkXmlSource.parseVtm(vtm.getBytes("UTF-8"))
    assert(refs == Seq((0, "inlet", "blk0.vtu"), (1, "outlet", "blk1.vtu")))

    val (points, cells, _, blocks) = VtkXmlSource.readVtm(spark, dir)
    assert(points.count() == 8 && cells.count() == 4)
    val b = blocks.orderBy("block").collect()
    assert(b.map(_.getAs[String]("block_name")).toSeq == Seq("inlet", "outlet"))
    // block table joins meshes back to manifest entries
    val joined = points.join(blocks, Seq("mesh_id")).groupBy("block_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(joined == Map("inlet" -> 4L, "outlet" -> 4L))
  }

  test("read glob → long tables → mesh quality + point-to-cell compose") {
    val dir = Files.createTempDirectory("vtu").toString
    Files.writeString(Paths.get(dir, "a.vtu"), vtu)
    Files.writeString(Paths.get(dir, "b.vtu"), vtu)
    val (points, cells, pointData) = VtkXmlSource.read(spark, dir)
    assert(points.count() == 8 && cells.count() == 4 && pointData.count() == 16)

    val report = MeshOps.triangleQualityReport(points, cells)
    assert(report.count() == 2)
    val r = report.collect()(0)
    // unit right triangles: aspect √2, area 1/2, no degenerates
    assert(math.abs(r.getAs[Double]("geom_max_aspect_ratio") - math.sqrt(2)) < 1e-9)
    assert(math.abs(r.getAs[Double]("vol_mean") - 0.5) < 1e-9)
    assert(r.getAs[Long]("geom_n_degenerate_cells") == 0)

    val cellMeans = MeshOps.pointDataToCellData(cells, pointData)
      .filter(col("field") === "u")
      .collect().map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(3)).toMap
    // cell 0 = mean(u[0,1,2]) = 2 ; cell 1 = mean(u[1,3,2]) = 3
    assert(cellMeans.values.toSet == Set(2.0, 3.0))
  }
}
