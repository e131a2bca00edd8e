package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.DrivAerMlSource

/** DrivAerML multi-part volume assembly: run discovery, byte-shard
  * concatenation equals the whole-file parse, direct-file precedence, and
  * the contiguity (completeness) check.
  */
class DrivAerMlSpec extends SparkSpec {

  private def vtuFor(tag: Double): String =
    s"""<?xml version="1.0"?>
       |<VTKFile type="UnstructuredGrid" version="0.1">
       | <UnstructuredGrid>
       |  <Piece NumberOfPoints="4" NumberOfCells="2">
       |   <Points>
       |    <DataArray type="Float64" NumberOfComponents="3" format="ascii">
       |      0 0 0  1 0 0  0 1 0  1 1 $tag
       |    </DataArray>
       |   </Points>
       |   <Cells>
       |    <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2 1 3 2</DataArray>
       |    <DataArray type="Int64" Name="offsets" format="ascii">3 6</DataArray>
       |    <DataArray type="UInt8" Name="types" format="ascii">5 5</DataArray>
       |   </Cells>
       |   <PointData>
       |    <DataArray type="Float64" Name="u" format="ascii">1 2 3 $tag</DataArray>
       |   </PointData>
       |  </Piece>
       | </UnstructuredGrid>
       |</VTKFile>""".stripMargin

  private def writeParts(root: String, run: Int, bytes: Array[Byte],
                         partLen: Int, skipPart: Option[Int] = None): Unit = {
    val dir = Paths.get(root, s"run_$run")
    Files.createDirectories(dir)
    var off = 0
    var part = 0
    while (off < bytes.length) {
      val n = math.min(partLen, bytes.length - off)
      if (!skipPart.contains(part))
        Files.write(dir.resolve(f"volume_$run.vtu.$part%02d.part"),
          java.util.Arrays.copyOfRange(bytes, off, off + n))
      off += n
      part += 1
    }
  }

  test("discoverRuns: run_<i> dirs sorted; non-matching dirs ignored") {
    val root = Files.createTempDirectory("dml").toString
    Seq("run_5", "run_1", "run_12", "notes", "runX_3").foreach(d =>
      Files.createDirectories(Paths.get(root, d)))
    assert(DrivAerMlSource.discoverRuns(spark, root) == Seq(1, 5, 12))
    val empty = Files.createTempDirectory("dml-empty").toString
    intercept[Exception] { DrivAerMlSource.discoverRuns(spark, empty) }
  }

  test("part concatenation reassembles the exact mesh; direct file wins") {
    val root = Files.createTempDirectory("dml").toString
    // run 1: split into 7 tiny parts; run 2: direct file (plus decoy parts
    // that must be IGNORED because the direct file takes precedence)
    writeParts(root, 1, vtuFor(7.5).getBytes("UTF-8"), partLen = 101)
    val d2 = Paths.get(root, "run_2")
    Files.createDirectories(d2)
    Files.write(d2.resolve("volume_2.vtu"), vtuFor(9.25).getBytes("UTF-8"))
    writeParts(root, 2, vtuFor(-1.0).getBytes("UTF-8"), partLen = 50)

    val (pts, cells, pd) = DrivAerMlSource.readVolume(spark, root)
    val zById = pts.filter(col("point_id") === 3)
      .select("mesh_id", "z").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(zById == Map("run_1" -> 7.5, "run_2" -> 9.25))
    assert(cells.count() == 4)
    val u3 = pd.filter(col("field") === "u" && col("point_id") === 3)
      .select("mesh_id", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(u3 == Map("run_1" -> 7.5, "run_2" -> 9.25))
  }

  test("a part gap fails the run loudly (completeness check)") {
    val root = Files.createTempDirectory("dml").toString
    writeParts(root, 4, vtuFor(1.0).getBytes("UTF-8"), partLen = 80,
      skipPart = Some(2))
    val e = intercept[Exception] {
      DrivAerMlSource.readVolume(spark, root)._1.count()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("not contiguous"))
  }

  test("ConcatRawData: shard-concatenating ranged parse equals in-memory parse") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, 0L, 0.5, 0.0, 0.0), (0L, 1L, 1.0, 0.25, 0.0),
      (0L, 2L, 0.0, 1.0, 0.75), (0L, 3L, 1.0, 1.0, 0.125))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((0L, 0L, Seq(0L, 1L, 2L)), (0L, 1L, Seq(1L, 3L, 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = pts.select(col("mesh_id"), col("point_id"),
      lit("u").as("field"), (col("x") * 2 + col("z")).as("value"))
    for (fmt <- Seq("appended", "appended-zlib", "ascii")) {
      val dir = Files.createTempDirectory(s"pvf-$fmt").toString
      graft.sinks.VtuSink.write(pts, cls, pd, dir, format = fmt)
      val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".vtu")).head
      val bytes = Files.readAllBytes(f.toPath)
      val inMem = graft.sources.VtkXmlSource.parseVtu(bytes)
      // the file as 80-byte shards, read back to back through ranged preads
      val shards = Files.createTempDirectory(s"pvf-$fmt-parts")
      val parts = bytes.grouped(80).zipWithIndex.map { case (b, i) =>
        Files.write(shards.resolve(f"part$i%03d"), b).toString
      }.toSeq
      assert(parts.length > 2, s"format $fmt: ${bytes.length} bytes")
      val raw = new graft.sources.Dsv2.ConcatRawData(parts, graft.sources.Dsv2.confMap(spark))
      val onShards =
        try new graft.sources.VtkXmlSource.VtuFile(raw).parse() finally raw.close()
      assert(onShards.points.map(_.toSeq).toSeq == inMem.points.map(_.toSeq).toSeq,
        s"format $fmt points")
      assert(onShards.cells.map(_.toSeq).toSeq == inMem.cells.map(_.toSeq).toSeq)
      assert(onShards.pointData.view.mapValues(_.toSeq).toMap ==
        inMem.pointData.view.mapValues(_.toSeq).toMap, s"format $fmt pointData")
    }
  }

  test("schema inference over an 8-shard run opens only the shard holding the head") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[graft.tools.CountingFileSystem].getName)
    val n = 6000L
    val pts = spark.range(n).select(lit(0L).as("mesh_id"), col("id").as("point_id"),
      col("id").cast("double").as("x"), lit(0.0).as("y"), lit(0.0).as("z"))
    val cls = spark.range(1).select(lit(0L).as("mesh_id"), lit(0L).as("cell_id"),
      array(lit(0L), lit(1L), lit(2L)).as("vertices"))
    val pd = pts.select(col("mesh_id"), col("point_id"), lit("u").as("field"),
      col("x").as("value"))
    val flat = Files.createTempDirectory("dml-open-flat").toString
    graft.sinks.VtuSink.write(pts, cls, pd, flat, format = "appended")
    val size = new java.io.File(flat).listFiles()
      .filter(_.getName.endsWith(".vtu")).head.length
    val root = Files.createTempDirectory("dml-open").toString + "/runs"
    DrivAerMlSource.shardToRunLayout(spark, flat, root, partBytes = ((size + 7) / 8).toInt)
    assert(new java.io.File(s"$root/run_0").listFiles()
      .count(_.getName.endsWith(".part")) == 8)
    graft.tools.CountingFileSystem.reset()
    val df = spark.read.format("graft.sources.DrivAerMlDataSource")
      .option("path", s"cntfs:$root").load()
    assert(graft.tools.CountingFileSystem.opens.get() == 1)
    assert(df.columns.contains("u"))
    assert(df.count() == n)
  }

  test("shardToRunLayout -> readVolume round trip via VtuSink files") {
    val s = spark
    import s.implicits._
    val pts = Seq((0L, 0L, 0.0, 0.0, 0.0), (0L, 1L, 1.0, 0.0, 0.0),
      (0L, 2L, 0.0, 1.0, 0.0), (1L, 0L, 2.0, 0.0, 0.0),
      (1L, 1L, 3.0, 0.0, 0.0), (1L, 2L, 2.0, 1.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((0L, 0L, Seq(0L, 1L, 2L)), (1L, 0L, Seq(0L, 1L, 2L)))
      .toDF("mesh_id", "cell_id", "vertices")
    val pd = pts.select(col("mesh_id"), col("point_id"),
      lit("u").as("field"), (col("x") + col("y")).as("value"))
    val flat = Files.createTempDirectory("dml-flat").toString
    graft.sinks.VtuSink.write(pts, cls, pd, flat, format = "appended-zlib")
    val root = Files.createTempDirectory("dml-root").toString + "/runs"
    DrivAerMlSource.shardToRunLayout(spark, flat, root, partBytes = 64)
    assert(DrivAerMlSource.discoverRuns(spark, root) == Seq(0, 1))
    // several parts actually exist
    assert(new java.io.File(s"$root/run_0").listFiles().length > 1)
    val (rp, _, rpd) = DrivAerMlSource.readVolume(spark, root)
    assert(rp.count() == 6)
    val sums = rpd.groupBy("mesh_id").agg(sum("value").as("sv"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums == Map("run_0" -> 2.0, "run_1" -> 8.0))
  }
}
