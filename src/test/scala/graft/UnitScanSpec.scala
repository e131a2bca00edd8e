package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.tools.CountingFileSystem

/** The unit-scan skeleton every DSv2 source binds to: options are checked
  * on the driver, and an `EqualTo`/`In` on the key column prunes whole
  * units, so a per-index slice reads only its own index.
  */
class UnitScanSpec extends SparkSpec {

  test("missing path, unknown table and negative RandomMesh sizes fail at load()") {
    val schema = new StructType().add("mesh_id", "string").add("point_id", LongType)
    def load(format: String, opts: Map[String, String],
             userSchema: Boolean = false) = {
      val r = spark.read.format(s"graft.sources.$format").options(opts)
      (if (userSchema) r.schema(schema) else r).load()
    }
    val cases = Seq(
      ("NetCdfDataSource", Map.empty[String, String], false,
        "NetCdfDataSource requires option 'path'"),
      ("AseLmdbDataSource", Map.empty[String, String], false,
        "AseLmdbDataSource requires option 'path'"),
      ("D3PlotDataSource", Map.empty[String, String], false,
        "D3PlotDataSource requires option 'path'"),
      ("VtiDataSource", Map.empty[String, String], false,
        "VtiDataSource requires option 'path'"),
      ("VtuDataSource", Map.empty[String, String], false,
        "VtuDataSource requires option 'path'"),
      ("VtuDataSource", Map.empty[String, String], true,
        "VtuDataSource requires option 'path'"),
      ("VtuDataSource", Map("path" -> "/nonexistent", "table" -> "cell"), false,
        "VtuDataSource: unknown table 'cell' (points|cells)"),
      ("VtiDataSource", Map("path" -> "/nonexistent", "table" -> "cell"), false,
        "VtiDataSource: unknown table 'cell' (points|cells)"),
      ("D3PlotDataSource", Map("path" -> "/nonexistent", "table" -> "shells"), true,
        "D3PlotDataSource: unknown table 'shells' " +
          "(points|cells|states|shell|sph_particles|sph_states)"),
      ("NetCdfDataSource", Map("path" -> "/nonexistent", "table" -> "var"), false,
        "NetCdfDataSource: unknown table 'var' (data|vars)"),
      ("RandomMeshSource", Map("n_meshes" -> "-1"), false,
        "RandomMeshSource: n_meshes must be >= 0, got -1"),
      ("RandomMeshSource", Map("points_per_mesh" -> "-5"), false,
        "RandomMeshSource: points_per_mesh must be >= 0, got -5"))
    cases.foreach { case (format, opts, userSchema, msg) =>
      val e = intercept[IllegalArgumentException](load(format, opts, userSchema))
      assert(e.getMessage == msg, s"$format $opts")
    }
  }

  test("key pruning: a mesh_id filter reads only the selected VTU files' bytes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingFileSystem].getName)
    // equal-length files: mesh k carries the value k in every point
    def vtu(k: Int): String = {
      val v = f"$k%02d.5"
      s"""<?xml version="1.0"?>
         |<VTKFile type="UnstructuredGrid" version="0.1" byte_order="LittleEndian">
         |  <UnstructuredGrid>
         |    <Piece NumberOfPoints="3" NumberOfCells="1">
         |      <Points>
         |        <DataArray type="Float64" NumberOfComponents="3" format="ascii">0 0 0 1 0 0 0 1 0</DataArray>
         |      </Points>
         |      <Cells>
         |        <DataArray type="Int64" Name="connectivity" format="ascii">0 1 2</DataArray>
         |        <DataArray type="Int64" Name="offsets" format="ascii">3</DataArray>
         |        <DataArray type="UInt8" Name="types" format="ascii">5</DataArray>
         |      </Cells>
         |      <PointData>
         |        <DataArray type="Float64" Name="v" format="ascii">$v $v $v</DataArray>
         |      </PointData>
         |    </Piece>
         |  </UnstructuredGrid>
         |</VTKFile>""".stripMargin
    }
    def corpus(n: Int): String = {
      val d = Files.createTempDirectory(s"unit_scan_$n")
      (0 until n).foreach(k => Files.writeString(d.resolve(f"mesh_$k%02d.vtu"), vtu(k)))
      s"cntfs:$d"
    }
    def files(path: String) =
      graft.sources.Dsv2.listFilesWithSize(spark, path, "*.vtu").map(_._1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(5))).sortBy(_.toString).toSeq
    def scanned(df: org.apache.spark.sql.DataFrame) = {
      CountingFileSystem.reset()
      val got = rows(df)
      (got, CountingFileSystem.bytesRead.get())
    }
    def load(path: String) =
      spark.read.format("graft.sources.VtuDataSource").option("path", path).load()

    val (four, sixteen) = (corpus(4), corpus(16))
    val key4 = files(four)(2)
    val key16 = files(sixteen)(2)
    val (alone, aloneBytes) = scanned(load(key16))
    val (got4, bytes4) = scanned(load(four).filter(col("mesh_id") === key4))
    val (got16, bytes16) = scanned(load(sixteen).filter(col("mesh_id") === key16))
    assert(aloneBytes > 0 && bytes4 == aloneBytes && bytes16 == aloneBytes,
      s"one file alone $aloneBytes, of 4 files $bytes4, of 16 files $bytes16")
    val all16 = rows(load(sixteen))
    assert(got16 == alone && got16 == all16.filter(_._1 == key16) && got16.size == 3)
    assert(got4.map(_._3) == got16.map(_._3))

    val pair = Seq(files(sixteen)(5), files(sixteen)(11))
    val (gotPair, pairBytes) = scanned(load(sixteen).filter(col("mesh_id").isin(pair: _*)))
    assert(pairBytes == 2 * aloneBytes, s"two files read $pairBytes, one file $aloneBytes")
    assert(gotPair == all16.filter(r => pair.contains(r._1)) && gotPair.size == 6)
  }

  test("key pruning: a runPerIndex-shaped RandomMesh slice plans one partition, no Filter") {
    val src = spark.read.format("graft.sources.RandomMeshSource")
      .option("n_meshes", 4).option("points_per_mesh", 10).load()
      .withColumn("idx", col("mesh_id"))
    val slice = src.filter(col("idx").cast("long") === 3L)
    val optimized = slice.queryExecution.optimizedPlan
    assert(optimized.collect { case f: Filter => f }.isEmpty, s"Filter left:\n$optimized")
    assert(slice.rdd.getNumPartitions == 1)
    val sorted = Seq(col("point_id"))
    assert(slice.orderBy(sorted: _*).collect().toSeq ==
      src.orderBy(sorted: _*).collect().filter(_.getLong(0) == 3L).toSeq)
  }
}
