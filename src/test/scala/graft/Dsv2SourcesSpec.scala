package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** The DSv2 relations over the exotic readers: Catalyst-derived pruning
  * must reach the PARSER (arrays never decoded, variables never read,
  * values never inflated), not just the projection. The poison-array
  * fixtures prove the decode is actually skipped: a file whose pruned
  * array is undecodable reads fine until the query asks for that column.
  */
class Dsv2SourcesSpec extends SparkSpec {

  private def vtuXml(nPoints: Int, pointsAscii: Option[String],
                     arrays: Seq[(String, Option[String])]): String = {
    // None payload = poison: format="appended" with no AppendedData section
    val pts = pointsAscii match {
      case Some(a) =>
        s"""<DataArray type="Float64" NumberOfComponents="3" format="ascii">$a</DataArray>"""
      case None =>
        """<DataArray type="Float64" NumberOfComponents="3" format="appended" offset="0"/>"""
    }
    val pd = arrays.map {
      case (n, Some(a)) => s"""<DataArray type="Float64" Name="$n" format="ascii">$a</DataArray>"""
      case (n, None) => s"""<DataArray type="Float64" Name="$n" format="appended" offset="0"/>"""
    }.mkString("\n        ")
    s"""<?xml version="1.0"?>
       |<VTKFile type="UnstructuredGrid" version="0.1" byte_order="LittleEndian">
       |  <UnstructuredGrid>
       |    <Piece NumberOfPoints="$nPoints" NumberOfCells="1">
       |      <Points>
       |        $pts
       |      </Points>
       |      <Cells>
       |        <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2</DataArray>
       |        <DataArray type="Int64" Name="offsets" format="ascii">3</DataArray>
       |        <DataArray type="UInt8" Name="types" format="ascii">5</DataArray>
       |      </Cells>
       |      <PointData>
       |        $pd
       |      </PointData>
       |    </Piece>
       |  </UnstructuredGrid>
       |</VTKFile>""".stripMargin
  }

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toString
  }

  private def leafCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().head.output.map(_.name)

  test("VTU DSv2: wide schema, pruned arrays are NEVER decoded (poison proof)") {
    val dir = tmpDir("dsv2_vtu")
    Files.write(Paths.get(dir, "mesh_0.vtu"),
      vtuXml(3, Some("0 0 0 1 0 0 0 1 0"),
        Seq("good" -> Some("1.5 2.5 3.5"), "poison" -> None)).getBytes("UTF-8"))
    Files.write(Paths.get(dir, "mesh_1.vtu"),
      vtuXml(3, Some("2 0 0 3 0 0 0 3 0"),
        Seq("good" -> Some("4.5 5.5 6.5"), "poison" -> None)).getBytes("UTF-8"))

    val wide = spark.read.format("graft.sources.VtuDataSource")
      .option("path", dir).load()
    assert(wide.columns.toSeq ==
      Seq("mesh_id", "point_id", "x", "y", "z", "good", "poison"))

    // selecting only safe columns: the poison array must never decode
    val safe = wide.select("mesh_id", "point_id", "good", "x")
    assert(leafCols(safe).toSet == Set("mesh_id", "point_id", "good", "x"),
      s"scan not pruned: ${leafCols(safe)}")
    val got = safe.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("mesh_0.vtu", 0L, 1.5, 0.0), ("mesh_0.vtu", 1L, 2.5, 1.0), ("mesh_0.vtu", 2L, 3.5, 0.0),
      ("mesh_1.vtu", 0L, 4.5, 2.0), ("mesh_1.vtu", 1L, 5.5, 3.0), ("mesh_1.vtu", 2L, 6.5, 0.0)),
      got.toString)

    // asking for the poison column is the only way to hit its decode
    val e = intercept[Exception] {
      wide.select("poison").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("AppendedData"),
      s"unexpected error: ${e.getMessage}")

    // cells table decodes connectivity
    val cells = spark.read.format("graft.sources.VtuDataSource")
      .option("path", dir).option("table", "cells").load()
    val cg = cells.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getSeq[Long](2))).toSet
    assert(cg == Set(("mesh_0.vtu", 0L, Seq(0L, 1L, 2L)),
      ("mesh_1.vtu", 0L, Seq(0L, 1L, 2L))), cg.toString)
  }

  test("VTU DSv2: Points decode only when x/y/z referenced; counts need no payload") {
    val dir = tmpDir("dsv2_vtu_pts")
    // Points itself is poison — only array/metadata access can work
    Files.write(Paths.get(dir, "mesh_0.vtu"),
      vtuXml(3, None, Seq("good" -> Some("1.0 2.0 3.0"))).getBytes("UTF-8"))
    val wide = spark.read.format("graft.sources.VtuDataSource")
      .option("path", dir).load()
    val got = wide.select("point_id", "good").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((0L, 1.0), (1L, 2.0), (2L, 3.0)), got.toString)
    // count over mesh_id alone: row count from NumberOfPoints, zero decode
    assert(wide.groupBy("mesh_id").count().collect().head.getLong(1) == 3L)
    // x forces the Points decode, which must then fail loudly
    val e = intercept[Exception](wide.select("x").collect())
    assert(e.getMessage != null && e.getMessage.contains("AppendedData"), e.getMessage)
  }

  /** The mesh index of a sink-written `…/mesh_<i>.vtu` path. */
  private def meshIndex(path: String): Long =
    path.replaceAll(".*mesh_(\\d+)\\.vtu$", "$1").toLong

  test("VTU DSv2 matches the function-API reader on real sink output") {
    val s = spark
    import s.implicits._
    val written = Seq(
      (0L, 0L, 0.0, 0.0, 0.0), (0L, 1L, 1.0, 0.0, 0.0), (0L, 2L, 0.0, 1.0, 0.0),
      (1L, 0L, 2.0, 0.0, 0.0), (1L, 1L, 3.0, 0.0, 0.0), (1L, 2L, 2.0, 1.0, 0.0))
    val pts = written.toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((0L, 0L, Seq(0L, 1L, 2L)), (1L, 0L, Seq(0L, 1L, 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = pts.select(col("mesh_id"), col("point_id"), lit("v").as("field"),
      (col("x") + col("y")).as("value"))
    val out = tmpDir("dsv2_vtu_sink")
    graft.sinks.VtuSink.write(pts, cls, pd, out, format = "appended-zlib")
    val writtenV = written.map { case (m, p, x, y, _) => (m, p, x + y) }.toSet
    val writtenXyz = written.toSet

    val (rp, _, rpd) = graft.sources.VtkXmlSource.read(spark, out)
    val wide = spark.read.format("graft.sources.VtuDataSource")
      .option("path", out).load()
    val fromWide = wide.select(col("mesh_id"), col("point_id"), col("v"))
      .collect().map(r => (meshIndex(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
    val fromLong = rpd.filter(col("field") === "v")
      .collect().map(r => (meshIndex(r.getString(0)), r.getLong(1), r.getDouble(3))).toSet
    assert(fromWide == writtenV, fromWide.toString)
    assert(fromLong == writtenV, fromLong.toString)
    def xyz(df: org.apache.spark.sql.DataFrame) =
      df.select("mesh_id", "point_id", "x", "y", "z").collect().map(r =>
        (meshIndex(r.getString(0)), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4))).toSet
    assert(xyz(wide) == writtenXyz)
    assert(xyz(rp) == writtenXyz)
  }

  test("VTU long tables: the unpivot lists NaN, skips absent arrays, keeps per-file rules") {
    def vtu(arrays: String) =
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" version="0.1" byte_order="LittleEndian">
         | <UnstructuredGrid><Piece NumberOfPoints="3" NumberOfCells="1">
         |  <Points><DataArray type="Float64" NumberOfComponents="3" format="ascii">0 0 0 1 0 0 0 1 0</DataArray></Points>
         |  <Cells>
         |   <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2</DataArray>
         |   <DataArray type="Int64" Name="offsets" format="ascii">3</DataArray>
         |  </Cells>
         |  <PointData>$arrays</PointData>
         | </Piece></UnstructuredGrid>
         |</VTKFile>""".stripMargin
    val dir = tmpDir("dsv2_vtu_long")
    // a.vtu: u holds a NaN, w has two components (6 values over 3 points);
    // b.vtu has no w at all
    Files.writeString(Paths.get(dir, "a.vtu"), vtu(
      """<DataArray type="Float64" Name="u" format="ascii">1 NaN 3</DataArray>
        |<DataArray type="Float64" Name="w" NumberOfComponents="2" format="ascii">10 11 12 13 14 15</DataArray>""".stripMargin))
    Files.writeString(Paths.get(dir, "b.vtu"), vtu(
      """<DataArray type="Float64" Name="u" format="ascii">4 5 6</DataArray>"""))
    def rows(pd: org.apache.spark.sql.DataFrame) = pd.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getString(2),
        r.getDouble(3).toString)).toSet

    val (_, _, pd) = graft.sources.VtkXmlSource.read(spark, dir)
    // NaN is a value; b has no w rows; the 2-component w keeps all six
    // values as w_0 / w_1, point i's pair at values 2i, 2i+1
    assert(rows(pd) == Set(
      ("a.vtu", 0L, "u", "1.0"), ("a.vtu", 1L, "u", "NaN"), ("a.vtu", 2L, "u", "3.0"),
      ("a.vtu", 0L, "w_0", "10.0"), ("a.vtu", 1L, "w_0", "12.0"), ("a.vtu", 2L, "w_0", "14.0"),
      ("a.vtu", 0L, "w_1", "11.0"), ("a.vtu", 1L, "w_1", "13.0"), ("a.vtu", 2L, "w_1", "15.0"),
      ("b.vtu", 0L, "u", "4.0"), ("b.vtu", 1L, "u", "5.0"), ("b.vtu", 2L, "u", "6.0")),
      rows(pd).toString)

    // per-file rules: a keeps only w (its longer include rule wins), b
    // drops w and keeps u
    import graft.sources.KeyFilters.KeyFilterRule
    val (_, _, ruled) = graft.sources.VtkXmlSource.read(spark, dir, keyFilterRules = Seq(
      KeyFilterRule("*.vtu", "exclude", Set("w")),
      KeyFilterRule("*/a.vtu", "include", Set("w"))))
    assert(rows(ruled) == rows(pd).filter { case (f, _, a, _) =>
      (f == "a.vtu") == a.startsWith("w_") })

    // a corpus without arrays has an empty long table
    val bare = tmpDir("dsv2_vtu_bare")
    Files.writeString(Paths.get(bare, "c.vtu"), vtu(""))
    val (points, _, none) = graft.sources.VtkXmlSource.read(spark, bare)
    assert(points.count() == 3)
    assert(none.columns.toSeq == Seq("mesh_id", "point_id", "field", "value"))
    assert(none.count() == 0)
    // no files at all: schema inference fails at load(), as the relation does
    val e = intercept[IllegalArgumentException](
      graft.sources.VtkXmlSource.read(spark, tmpDir("dsv2_vtu_empty")))
    assert(e.getMessage.contains("no files under"), e.getMessage)
  }

  test("NetCDF DSv2: variable predicate pushes into the decoder's wanted set") {
    val s = spark
    import s.implicits._
    val g = Seq(
      ("temp", 0L, 0L, 0L, 1.0), ("temp", 0L, 0L, 1L, 2.0),
      ("wind", 0L, 0L, 0L, 5.0), ("wind", 0L, 0L, 1L, 6.0))
      .toDF("variable", "t", "i", "j", "value")
    val out = tmpDir("dsv2_nc")
    graft.sinks.NetCdfSink.writeRecordGrids(g, out, shape = (1, 2), nRecs = 1)

    val ds = spark.read.format("graft.sources.NetCdfDataSource")
      .option("path", out).load()
    // the relation and the long reader both return the rows the sink wrote
    // (pos is row-major over (t, i, j) on the 1 x 2 grid)
    val written = g.select(col("variable"), (col("t") * 2 + col("i") * 2 + col("j")),
      col("value")).collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val (vars, data) = graft.sources.NetCdfSource.read(spark, out)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("variable", "pos", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(ds) == written && written.size == 4)
    assert(rows(data) == written)
    assert(vars.select("variable").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("temp", "wind"))

    // the filter lands in the scan (vars=[temp] in the DSv2 description)
    val f = ds.filter(col("variable") === "temp")
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("vars=[temp]"), s"filter not pushed:\n$plan")
    val fv = f.select("value").collect().map(_.getDouble(0)).toSet
    assert(fv == Set(1.0, 2.0), fv.toString)
    // IN-list form
    val f2 = ds.filter(col("variable").isin("wind"))
    assert(f2.queryExecution.executedPlan.toString.contains("vars=[wind]"))
    assert(f2.count() == 2)
  }

  /** Byte-level I/O contract of the VTU relation, observed through a
    * counting FileSystem: planning reads headers (never the appended
    * payload) and a pruned scan reads ONLY the selected arrays' payload
    * ranges — the columnar promise of SupportsPushDownRequiredColumns, at
    * the I/O layer, not just the decode layer.
    */
  test("VTU DSv2 via cntfs: inference reads headers only; scan bytes track selected arrays") {
    val s = spark
    import s.implicits._
    s.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val n = 100000
    val pts = s.range(2).select(col("id").as("m")).crossJoin(
      s.range(n).select(col("id").as("point_id")))
      .select(col("m").as("mesh_id"), col("point_id"),
        (col("point_id") * 0.5).as("x"), lit(0.0).as("y"), lit(0.0).as("z"))
    val cls = Seq((0L, 0L, Seq(0L, 1L, 2L)), (1L, 0L, Seq(0L, 1L, 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = pts.select(col("mesh_id"), col("point_id"))
      .crossJoin(Seq("a0", "a1", "a2").toDF("field"))
      .select(col("mesh_id"), col("point_id"), col("field"),
        (col("point_id") + lit(1.0)).as("value"))
    val out = tmpDir("dsv2_vtu_cnt")
    graft.sinks.VtuSink.write(pts, cls, pd, out, format = "appended")
    val local = new java.io.File(out).listFiles().filter(_.getName.endsWith(".vtu"))
    val totalBytes = local.map(_.length).sum
    assert(totalBytes > 4L * n * 8, s"fixture unexpectedly small: $totalBytes")
    val headerBound = 128L * 1024 // 16K head + 4K tail per file, with slack

    // planning: load() infers the schema across both files
    graft.tools.CountingFileSystem.reset()
    val wide = s.read.format("graft.sources.VtuDataSource")
      .option("path", s"cntfs:$out").load()
    val inferBytes = graft.tools.CountingFileSystem.bytesRead.get()
    assert(wide.columns.contains("a1"))
    assert(inferBytes > 0 && inferBytes < headerBound,
      s"inference read $inferBytes of $totalBytes bytes — payload touched")

    // scan with ONE of three arrays, no points
    graft.tools.CountingFileSystem.reset()
    val sum1 = wide.select("a0").agg(sum("a0")).collect().head.getDouble(0)
    val bytes1 = graft.tools.CountingFileSystem.bytesRead.get()
    assert(sum1 == 2.0 * n.toLong * (n + 1) / 2, sum1.toString)
    // one array = n*8 bytes + header words per file; well under half the file
    assert(bytes1 < 2L * (n * 8L + 64L * 1024),
      s"single-array scan read $bytes1 bytes (files total $totalBytes)")

    // scan with all three arrays reads ~3x the single-array payload
    // (summing all three keeps Catalyst from pruning the other two away)
    graft.tools.CountingFileSystem.reset()
    wide.agg(sum(col("a0") + col("a1") + col("a2"))).collect()
    val bytes3 = graft.tools.CountingFileSystem.bytesRead.get()
    assert(bytes1 < bytes3 / 2,
      s"pruning saved no I/O: 1 array = $bytes1, 3 arrays = $bytes3")

    // count-only touches headers, zero payload
    graft.tools.CountingFileSystem.reset()
    assert(wide.groupBy("mesh_id").count().collect().map(_.getLong(1)).toSet == Set(n.toLong))
    val bytesCount = graft.tools.CountingFileSystem.bytesRead.get()
    assert(bytesCount < headerBound,
      s"count-only scan read $bytesCount bytes of payload")

    // user-supplied schema: zero read at planning time
    graft.tools.CountingFileSystem.reset()
    val typed = s.read.format("graft.sources.VtuDataSource")
      .schema(wide.schema).option("path", s"cntfs:$out").load()
    assert(graft.tools.CountingFileSystem.bytesRead.get() == 0L,
      "user-supplied schema still triggered an inference read")
    assert(typed.select("a2").agg(sum("a2")).collect().head.getDouble(0) == sum1)
  }

  test("VTU DSv2 cells table: CellData columns prune; connectivity decodes only for vertices") {
    val dir = tmpDir("dsv2_vtu_cd")
    // connectivity is POISON (appended, no AppendedData): only a scan that
    // skips the Cells section can read this file
    Files.writeString(Paths.get(dir, "mesh_0.vtu"),
      """<?xml version="1.0"?>
        |<VTKFile type="UnstructuredGrid" version="0.1" byte_order="LittleEndian">
        |  <UnstructuredGrid>
        |    <Piece NumberOfPoints="3" NumberOfCells="2">
        |      <Points>
        |        <DataArray type="Float64" NumberOfComponents="3" format="ascii">0 0 0 1 0 0 0 1 0</DataArray>
        |      </Points>
        |      <Cells>
        |        <DataArray type="Int64" Name="connectivity" format="appended" offset="0"/>
        |        <DataArray type="Int64" Name="offsets" format="appended" offset="0"/>
        |      </Cells>
        |      <CellData>
        |        <DataArray type="Float64" Name="pressure" format="ascii">2.5 3.5</DataArray>
        |        <DataArray type="Float64" Name="vel" format="ascii">7.0 8.0</DataArray>
        |      </CellData>
        |    </Piece>
        |  </UnstructuredGrid>
        |</VTKFile>""".stripMargin)
    val cells = spark.read.format("graft.sources.VtuDataSource")
      .option("path", dir).option("table", "cells").load()
    assert(cells.columns.toSeq == Seq("mesh_id", "cell_id", "vertices", "pressure", "vel"))
    // cell-data-only scan never touches the poisoned connectivity
    val got = cells.select("cell_id", "pressure").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((0L, 2.5), (1L, 3.5)), got.toString)
    // count-only: row count from NumberOfCells, zero decode
    assert(cells.groupBy("mesh_id").count().collect().head.getLong(1) == 2L)
    // vertices forces the connectivity decode, which must fail loudly here
    val e = intercept[Exception](cells.select("vertices").collect())
    assert(e.getMessage != null && e.getMessage.contains("AppendedData"), e.getMessage)
  }

  test("DSv2 statistics: a small VTU relation broadcasts against a big probe side") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, 0L, 0.0, 0.0, 0.0), (0L, 1L, 1.0, 0.0, 0.0), (0L, 2L, 0.0, 1.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((0L, 0L, Seq(0L, 1L, 2L))).toDF("mesh_id", "cell_id", "vertices")
    val pd = pts.select(col("mesh_id"), col("point_id"), lit("v").as("field"),
      col("x").as("value"))
    val out = tmpDir("dsv2_vtu_stats")
    graft.sinks.VtuSink.write(pts, cls, pd, out, format = "appended")
    val wide = s.read.format("graft.sources.VtuDataSource")
      .option("path", out).load()
    // without SupportsReportStatistics the relation sizes at
    // spark.sql.defaultSizeInBytes (maxed) and could never broadcast; with
    // file-size stats this KB-scale mesh side must hash-broadcast against
    // a probe side that is itself above the broadcast threshold
    val big = s.range(10000000).select(col("id").as("point_id"),
      concat(lit("p"), col("id")).as("pad"))
    val j = big.join(wide.select("point_id", "v"), Seq("point_id"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"mesh side did not broadcast:\n$plan")
  }

  test("VTI DSv2: lattice from header, pruned arrays never decoded, parity with readVti") {
    val s = spark
    import s.implicits._
    // grid 0: 3x2 lattice, two fields; sparse input — fill 0.0 densifies
    val g = Seq(
      ("g0", "temp", 0, 0, 0, 1.5), ("g0", "temp", 2, 1, 0, 2.5),
      ("g0", "mass", 1, 0, 0, 4.0),
      ("g1", "temp", 0, 0, 0, 7.0))
      .toDF("grid_id", "field", "i", "j", "k", "value")
    val out = tmpDir("dsv2_vti")
    graft.sinks.VtiSink.write(g, out, extent = (0, 2, 0, 1, 0, 0),
      origin = (10.0, 20.0, 0.0), spacing = (0.5, 2.0, 1.0))

    val wide = s.read.format("graft.sources.VtiDataSource")
      .option("path", out).load()
    assert(wide.columns.toSeq ==
      Seq("grid_id", "i", "j", "k", "x", "y", "z", "mass", "temp"))

    // pruned scan reaches the relation (leaf output = selected columns)
    val sel = wide.select("grid_id", "i", "j", "temp")
    assert(leafCols(sel).toSet == Set("grid_id", "i", "j", "temp"),
      s"scan not pruned: ${leafCols(sel)}")
    val got = sel.collect().map(r =>
      (r.getString(0).split('/').last, r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    // the temp rows the sink wrote: `g` densified with 0.0
    val written = Set(
      ("grid_g0.vti", 0, 0, 1.5), ("grid_g0.vti", 1, 0, 0.0), ("grid_g0.vti", 2, 0, 0.0),
      ("grid_g0.vti", 0, 1, 0.0), ("grid_g0.vti", 1, 1, 0.0), ("grid_g0.vti", 2, 1, 2.5),
      ("grid_g1.vti", 0, 0, 7.0), ("grid_g1.vti", 1, 0, 0.0), ("grid_g1.vti", 2, 0, 0.0),
      ("grid_g1.vti", 0, 1, 0.0), ("grid_g1.vti", 1, 1, 0.0), ("grid_g1.vti", 2, 1, 0.0))
    assert(got == written, got.toString)

    // coordinates computed from origin/spacing in the header — zero decode
    val xy = wide.filter(col("i") === 2 && col("j") === 1)
      .select("x", "y").distinct().collect().head
    assert(xy.getDouble(0) == 11.0 && xy.getDouble(1) == 22.0, xy.toString)

    // the long reader returns the written rows too
    val (pd, _) = graft.sources.VtkXmlSource.readVti(s, out)
    val fromLong = pd.filter(col("field") === "temp")
      .select("grid_id", "i", "j", "value").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    assert(fromLong == written, s"long=$fromLong")

    // poison file: the pruned array must never decode
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "grid_poison.vti"),
      """<?xml version="1.0"?>
        |<VTKFile type="ImageData" version="1.0" byte_order="LittleEndian">
        | <ImageData WholeExtent="0 1 0 0 0 0" Origin="0 0 0" Spacing="1 1 1">
        |  <Piece Extent="0 1 0 0 0 0">
        |   <PointData>
        |    <DataArray type="Float64" Name="temp" format="ascii">8.0 9.0</DataArray>
        |    <DataArray type="Float64" Name="poison" format="appended" offset="0"/>
        |   </PointData>
        |  </Piece>
        | </ImageData>
        |</VTKFile>""".stripMargin)
    val wide2 = s.read.format("graft.sources.VtiDataSource")
      .option("path", out).load()
    assert(wide2.columns.contains("poison"))
    // selecting temp works although the poison array is undecodable...
    assert(wide2.select("temp").collect().map(_.getDouble(0)).sum == 1.5 + 2.5 + 7.0 + 8.0 + 9.0)
    // ...and only asking for poison hits its decode
    val e = intercept[Exception](wide2.select("poison").collect())
    assert(e.getMessage != null && e.getMessage.contains("AppendedData"), e.getMessage)
  }

  test("VTI DSv2: a k-component array is k columns <name>_0..<name>_{k-1}") {
    val dir = tmpDir("dsv2_vti_comp")
    // 2x1x1 point lattice; vel holds 3 components per point, interleaved
    Files.writeString(Paths.get(dir, "g.vti"),
      """<?xml version="1.0"?>
        |<VTKFile type="ImageData" version="1.0" byte_order="LittleEndian">
        | <ImageData WholeExtent="0 1 0 0 0 0" Origin="0 0 0" Spacing="1 1 1">
        |  <Piece Extent="0 1 0 0 0 0">
        |   <PointData>
        |    <DataArray type="Float64" Name="vel" NumberOfComponents="3" format="ascii">10 11 12 20 21 22</DataArray>
        |    <DataArray type="Float64" Name="p" format="ascii">1 2</DataArray>
        |   </PointData>
        |  </Piece>
        | </ImageData>
        |</VTKFile>""".stripMargin)
    val wide = spark.read.format("graft.sources.VtiDataSource").option("path", dir).load()
    assert(wide.columns.toSeq ==
      Seq("grid_id", "i", "j", "k", "x", "y", "z", "p", "vel_0", "vel_1", "vel_2"))
    val got = wide.select("i", "vel_0", "vel_1", "vel_2").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set((0, 10.0, 11.0, 12.0), (1, 20.0, 21.0, 22.0)), got.toString)
    // include names the array: vel keeps its three components
    val (pd, _) = graft.sources.VtkXmlSource.readVti(spark, dir, include = Set("vel"))
    val long = pd.collect().map(r => (r.getAs[String]("field"), r.getAs[Int]("i"),
      r.getAs[Double]("value"))).toSet
    assert(long == Set(("vel_0", 0, 10.0), ("vel_1", 0, 11.0), ("vel_2", 0, 12.0),
      ("vel_0", 1, 20.0), ("vel_1", 1, 21.0), ("vel_2", 1, 22.0)), long.toString)
  }

  test("d3plot DSv2: family tables match the function API; block pruning via D3Select") {
    val s = spark
    import s.implicits._
    val pts = (0L until 8L).map(i =>
      (i % 2, i, i * 1.0 + 0.5, 0.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val quads = Seq((0L, 0L, Seq(0L, 2L, 4L, 6L), 1L), (1L, 0L, Seq(1L, 3L, 5L, 7L), 1L))
      .toDF("mesh_id", "cell_id", "vertices", "part_id")
    val states = Seq(0, 1).flatMap { t =>
      (0L until 8L).map(i => (i % 2, t, t * 0.5, i, i * 0.25 + t, 0.0, 0.0))
    }.toDF("mesh_id", "t", "time", "point_id", "dx", "dy", "dz")
    val shellData = Seq(0, 1).flatMap { t =>
      Seq(0, 1).flatMap { l =>
        Seq(0L, 1L).map(m => (m, t, 0L, l, (l + 1) * 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, t * 0.125))
      }
    }.toDF("mesh_id", "t", "cell_id", "layer", "sx", "sy", "sz", "txy", "tyz", "tzx", "epsp")
    val out = tmpDir("dsv2_d3p")
    graft.sinks.D3PlotSink.write(pts, quads, states, shellData, out)

    val (rp, rc, rs, rsh) = graft.sources.D3PlotSource.read(s, s"$out/*")
    def load(table: String) = s.read.format("graft.sources.D3PlotDataSource")
      .option("path", s"$out/*").option("table", table).load()

    // rows keyed by the mesh index of their `<out>/<m>/d3plot` family
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getString(0).split('/').init.last +: r.toSeq.tail.map(String.valueOf)).mkString("|")
    }.sorted.toSeq
    def str(rows: Seq[Product]) =
      rows.map(_.productIterator.map(String.valueOf).mkString("|")).sorted
    // what the sink wrote, each mesh's points renumbered in point_id order
    // (mesh m holds the ids m, m+2, m+4, m+6), its one quad a shell cell
    val wPoints = str((0L until 8L).map(i => (i % 2, i / 2, i * 1.0 + 0.5, 0.0, 0.0)))
    val wStates = str(for (t <- 0 to 1; i <- 0L until 8L)
      yield (i % 2, t, t * 0.5, i / 2, i * 0.25 + t, 0.0, 0.0))
    val wShell = str(for (t <- 0 to 1; l <- 0 to 1; m <- 0L to 1L)
      yield (m, t, 0L, l, (l + 1) * 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, t * 0.125))
    val wCells = str(Seq((0L, 0L, 1L, 9), (1L, 0L, 1L, 9)))
    for ((points, states, shell, cells) <- Seq(
        (load("points"), load("states"), load("shell"), load("cells")),
        (rp, rs, rsh, rc))) {
      assert(key(points) == wPoints)
      assert(key(states) == wStates)
      assert(key(shell) == wShell)
      assert(key(cells.select("mesh_id", "cell_id", "part_id", "cell_type")) == wCells)
    }

    // column pruning reaches the scan
    val prun = load("states").select("mesh_id", "dx")
    assert(leafCols(prun).toSet == Set("mesh_id", "dx"), leafCols(prun).toString)

    // D3Select block pruning: deselected blocks are never materialized,
    // selected ones still decode correctly across the skipped strides
    val rootBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(out).listFiles().filter(_.isDirectory).head.listFiles()
        .filter(_.getName == "d3plot").head.toPath)
    val full = graft.sources.D3PlotSource.parse(rootBytes)
    val statesOnly = graft.sources.D3PlotSource.parse(rootBytes,
      graft.sources.D3PlotSource.D3Select(geometry = false, shell = false, sph = false))
    assert(statesOnly.coords.isEmpty && statesOnly.solids.isEmpty && statesOnly.shells.isEmpty)
    assert(statesOnly.states.forall(st => st.shellStress.isEmpty && st.shellEpsp.isEmpty))
    assert(statesOnly.numNodes == full.coords.length && statesOnly.numNodes > 0)
    assert(statesOnly.states.map(_.time).toSeq == full.states.map(_.time).toSeq)
    assert(statesOnly.states.zip(full.states).forall { case (a, b) =>
      a.nodeVec.map(_.toSeq).toSeq == b.nodeVec.map(_.toSeq).toSeq })
    val shellOnly = graft.sources.D3PlotSource.parse(rootBytes,
      graft.sources.D3PlotSource.D3Select(geometry = false, nodeVec = false, sph = false))
    assert(shellOnly.states.forall(_.nodeVec.isEmpty))
    assert(shellOnly.states.zip(full.states).forall { case (a, b) =>
      a.shellStress.map(_.map(_.toSeq).toSeq).toSeq == b.shellStress.map(_.map(_.toSeq).toSeq).toSeq &&
        a.shellEpsp.map(_.toSeq).toSeq == b.shellEpsp.map(_.toSeq).toSeq })
    assert(shellOnly.numSolids == full.solids.length)
  }

  test("NetCDF DSv2 via cntfs: a pushed variable predicate prunes file BYTES") {
    val s = spark
    import s.implicits._
    s.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val n = 200000
    // two one-variable files (the sink layout): selecting one variable
    // must cost the other file only its header bytes
    val g = s.range(n).select(lit("temp").as("variable"), lit(0L).as("t"),
      lit(0L).as("i"), col("id").as("j"), (col("id") * 0.5).as("value"))
      .unionByName(s.range(n).select(lit("junk").as("variable"), lit(0L).as("t"),
        lit(0L).as("i"), col("id").as("j"), (col("id") * 2.0).as("value")))
    val out = tmpDir("dsv2_nc_cnt")
    graft.sinks.NetCdfSink.writeRecordGrids(g, out, shape = (1, n), nRecs = 1)
    val totalBytes = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".nc")).map(_.length).sum
    assert(totalBytes > 2L * n * 8, totalBytes.toString)

    val ds = s.read.format("graft.sources.NetCdfDataSource")
      .option("path", s"cntfs:$out").load()
    graft.tools.CountingFileSystem.reset()
    val sum1 = ds.filter(col("variable") === "temp")
      .agg(sum("value")).collect().head.getDouble(0)
    val bytes1 = graft.tools.CountingFileSystem.bytesRead.get()
    assert(sum1 == 0.5 * (n.toLong * (n - 1) / 2), sum1.toString)
    // one variable's payload + two headers — well under 3/4 of the corpus
    assert(bytes1 < totalBytes * 3 / 4,
      s"variable-pushed scan read $bytes1 of $totalBytes bytes")
    graft.tools.CountingFileSystem.reset()
    ds.agg(sum("value")).collect()
    val bytesAll = graft.tools.CountingFileSystem.bytesRead.get()
    assert(bytes1 < bytesAll * 3 / 4,
      s"pushdown saved no I/O: pushed=$bytes1 full=$bytesAll")
  }

  test("ASE LMDB DSv2: json pruned away skips the value decode entirely") {
    val s = spark
    import s.implicits._
    val rows = (0L until 6L).map(i => (i, s"""{"energy":${i * 1.5}}"""))
      .toDF("row_id", "json").repartition(2)
    val out = tmpDir("dsv2_lmdb")
    graft.sinks.AseLmdbSink.write(rows, out)

    val ds = spark.read.format("graft.sources.AseLmdbDataSource")
      .option("path", out).load()
    val viaFn = graft.sources.AseLmdbSource.read(spark, out)
    // both return the rows the sink wrote
    val written = (0L until 6L).map(i => (i, s"""{"energy":${i * 1.5}}""")).toSet
    assert(ds.collect().map(r => (r.getLong(1), r.getString(2))).toSet == written)
    assert(viaFn.collect().map(r => (r.getLong(1), r.getString(2))).toSet == written)

    val ids = ds.select("row_id")
    assert(leafCols(ids) == Seq("row_id"), s"scan not pruned: ${leafCols(ids)}")
    assert(ids.collect().map(_.getLong(0)).sorted.toSeq == (0L until 6L).toSeq)
  }

  test("ASE LMDB DSv2 via cntfs: pruning json skips overflow-page BYTES") {
    val s = spark
    import s.implicits._
    s.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    // incompressible hex payloads >> MaxInline: every value lands in
    // F_BIGDATA overflow pages, so the id-only scan walks just the
    // B-tree skeleton
    def hex(seed: Long, n: Int): String = {
      val sb = new StringBuilder(n)
      var x = seed * 6364136223846793005L + 1442695040888963407L
      while (sb.length < n) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(f"${x & 0xffffffffL}%08x")
      }
      sb.toString.take(n)
    }
    val rows = (0L until 12L)
      .map(i => (i, s"""{"energy":${i * 1.5},"blob":"${hex(i, 8192)}"}"""))
      .toDF("row_id", "json").repartition(2)
    val out = tmpDir("dsv2_lmdb_cnt")
    graft.sinks.AseLmdbSink.write(rows, out)
    val totalBytes = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".aselmdb")).map(_.length).sum
    assert(totalBytes > 12L * 4096, totalBytes.toString)

    val ds = s.read.format("graft.sources.AseLmdbDataSource")
      .option("path", s"cntfs:$out").load()
    graft.tools.CountingFileSystem.reset()
    assert(ds.select("row_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 12L).toSeq)
    val idBytes = graft.tools.CountingFileSystem.bytesRead.get()
    graft.tools.CountingFileSystem.reset()
    val js = ds.select("row_id", "json").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val jsonBytes = graft.tools.CountingFileSystem.bytesRead.get()
    assert(js(3L).contains(hex(3L, 8192)), "overflow value decode broken")
    assert(idBytes < totalBytes / 4,
      s"id-only scan read $idBytes of $totalBytes bytes")
    assert(idBytes * 2 < jsonBytes,
      s"pruning saved no I/O: id=$idBytes json=$jsonBytes")
  }

  test("d3plot DSv2 via cntfs: geometry tables read the root prefix only") {
    val s = spark
    import s.implicits._
    s.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val nP = 4000
    val pts = (0L until nP.toLong).map(i => (0L, i, i * 1.0, 0.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val quads = (0L until 500L)
      .map(c => (0L, c, Seq(c * 4, c * 4 + 1, c * 4 + 2, c * 4 + 3), 1L))
      .toDF("mesh_id", "cell_id", "vertices", "part_id")
    val states = (0 until 6).flatMap { t =>
      (0L until nP.toLong).map(i => (0L, t, t * 0.5, i, i * 0.25 + t, 0.0, 0.0))
    }.toDF("mesh_id", "t", "time", "point_id", "dx", "dy", "dz")
    val shellData = (0 until 6).flatMap { t =>
      (0L until 500L).map(c => (0L, t, c, 0, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0, t * 0.125))
    }.toDF("mesh_id", "t", "cell_id", "layer", "sx", "sy", "sz", "txy", "tyz", "tzx", "epsp")
    val solid = tmpDir("dsv2_d3p_solid")
    graft.sinks.D3PlotSink.write(pts, quads, states, shellData, solid)
    val rootFile = new java.io.File(s"$solid/0/d3plot")
    val rootBytes = java.nio.file.Files.readAllBytes(rootFile.toPath)

    // split the family at the geometry boundary: root keeps ONLY the
    // control block + geometry, every state goes to the continuation
    val geomLen = graft.sources.D3PlotSource.geometryByteLength(rootBytes).toInt
    assert(geomLen > 64 * 4 && geomLen < rootBytes.length / 3, geomLen.toString)
    val split = tmpDir("dsv2_d3p_split")
    val dir = new java.io.File(s"$split/0"); dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "d3plot").toPath,
      java.util.Arrays.copyOfRange(rootBytes, 0, geomLen))
    java.nio.file.Files.write(new java.io.File(dir, "d3plot01").toPath,
      java.util.Arrays.copyOfRange(rootBytes, geomLen, rootBytes.length))

    def load(base: String, table: String) = s.read
      .format("graft.sources.D3PlotDataSource")
      .option("path", s"$base/*").option("table", table).load()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    // the split family is semantically identical to the solid root
    // (mesh_id is the root path, so it necessarily differs — drop it)
    assert(key(load(s"cntfs:$split", "points").drop("mesh_id")) ==
      key(load(solid, "points").drop("mesh_id")))
    assert(key(load(s"cntfs:$split", "states").drop("mesh_id")) ==
      key(load(solid, "states").drop("mesh_id")))

    val splitRootLen = geomLen.toLong
    val contLen = rootBytes.length.toLong - geomLen
    graft.tools.CountingFileSystem.reset()
    load(s"cntfs:$split", "points").agg(count(lit(1))).collect()
    val ptBytes = graft.tools.CountingFileSystem.bytesRead.get()
    // header probe (<= 64 KiB) + geometry prefix — never the continuation
    assert(ptBytes <= splitRootLen + (64L << 10),
      s"points scan read $ptBytes; root prefix is $splitRootLen")
    assert(ptBytes < contLen,
      s"points scan ($ptBytes) should undercut the state payload ($contLen)")
    graft.tools.CountingFileSystem.reset()
    load(s"cntfs:$split", "states").agg(count(lit(1))).collect()
    val stBytes = graft.tools.CountingFileSystem.bytesRead.get()
    assert(stBytes > contLen, s"states scan must read the continuation: $stBytes")
  }
}
