package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.NetCdfSource

/** NetCDF classic (CDF-1) decode: byte-built fixture with a record
  * variable, fixed variable, attributes — into the long grid model.
  */
class NetCdfSpec extends SparkSpec {

  private val latVals = Array(10.5, 20.5)
  private val t2mRec0 = Array(1f, 2f, 3f, 4f, 5f, 6f)
  private val t2mRec1 = Array(10f, 20f, 30f, 40f, 50f, 60f)

  /** CDF-1: dims (time=record, lat=2, lon=3); vars lat(double), t2m(float,
    * record × lat × lon); global attr title="test".
    */
  private def ncBytes(beginLat: Int = 0, beginT2m: Int = 0): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val o = new DataOutputStream(bos)
    def name(s: String): Unit = {
      o.writeInt(s.length); o.write(s.getBytes("UTF-8"))
      val r = s.length % 4; if (r != 0) o.write(new Array[Byte](4 - r))
    }
    o.write("CDF".getBytes); o.write(1)
    o.writeInt(2)                       // numrecs
    o.writeInt(0x0A); o.writeInt(3)     // dim list
    name("time"); o.writeInt(0)
    name("lat"); o.writeInt(2)
    name("lon"); o.writeInt(3)
    o.writeInt(0x0C); o.writeInt(1)     // global attrs
    name("title"); o.writeInt(2); o.writeInt(4); o.write("test".getBytes)
    o.writeInt(0x0B); o.writeInt(2)     // var list
    name("lat"); o.writeInt(1); o.writeInt(1)
    o.writeInt(0); o.writeInt(0)        // absent vattrs
    o.writeInt(6); o.writeInt(16); o.writeInt(beginLat)
    name("t2m"); o.writeInt(3); o.writeInt(0); o.writeInt(1); o.writeInt(2)
    o.writeInt(0); o.writeInt(0)
    o.writeInt(5); o.writeInt(24); o.writeInt(beginT2m)
    // data
    latVals.foreach(o.writeDouble)
    t2mRec0.foreach(o.writeFloat)
    t2mRec1.foreach(o.writeFloat)
    o.flush(); bos.toByteArray
  }

  private def fixture: Array[Byte] = {
    val headerLen = ncBytes().length - (16 + 24 * 2) // total minus data
    ncBytes(beginLat = headerLen, beginT2m = headerLen + 16)
  }

  test("parseHeader: dims, attrs, vars, offsets") {
    val f = NetCdfSource.parseHeader(fixture)
    assert(f.numRecs == 2)
    assert(f.dims.map(d => d.name -> d.length) ==
      Seq("time" -> 0L, "lat" -> 2L, "lon" -> 3L))
    assert(f.gattrs == Seq(NetCdfSource.NcAttr("title", "test")))
    assert(f.vars.map(_.name) == Seq("lat", "t2m"))
    assert(f.vars(1).dimIds == Seq(0, 1, 2) && f.vars(1).ncType == 5)
    // NetCDF-4 (HDF5) rejected by magic
    intercept[IllegalArgumentException] {
      NetCdfSource.parseHeader("HDF\r\n".getBytes("ISO-8859-1") ++ new Array[Byte](16))
    }
  }

  test("values: fixed + record variables decode in row-major order") {
    val vs = NetCdfSource.values(fixture)
    val lat = vs.filter(_._1 == "lat").sortBy(_._2).map(_._3)
    assert(lat == Seq(10.5, 20.5))
    val t2m = vs.filter(_._1 == "t2m").sortBy(_._2).map(_._3)
    assert(t2m == (t2mRec0 ++ t2mRec1).map(_.toDouble).toSeq)
  }

  test("CDF-5 sink -> source round trip; version byte actually 5") {
    val s = spark
    import s.implicits._
    val cells = Seq((0, 0, 0, 1.5), (0, 1, 2, -2.25), (1, 0, 1, 8.0))
      .toDF("t", "i", "j", "value").withColumn("variable", lit("t2m"))
    val dir = Files.createTempDirectory("nc5").toString + "/store"
    val paths = graft.sinks.NetCdfSink.writeRecordGrids(cells, dir,
      shape = (2, 3), nRecs = 2, version = 5)
    assert(paths.length == 1)
    val bytes = Files.readAllBytes(Paths.get(new java.net.URI(paths.head).getPath))
    assert(bytes(3) == 5.toByte)
    val (vars, data) = NetCdfSource.read(spark, dir)
    assert(vars.count() == 1)
    val got = data.filter(col("variable") === "t2m").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(got.length == 12)
    assert(got(0) == 1.5 && got(5) == -2.25 && got(7) == 8.0)
    assert(got.sum == 1.5 - 2.25 + 8.0)
  }

  test("NetCDF-4 (HDF5 container) sink -> source round trip") {
    val s = spark
    import s.implicits._
    val cells = Seq((0, 0, 0, 1.5), (0, 1, 2, -2.25), (1, 0, 1, 8.0))
      .toDF("t", "i", "j", "value").withColumn("variable", lit("t2m"))
      .unionByName(Seq((0, 1, 1, 4.0)).toDF("t", "i", "j", "value")
        .withColumn("variable", lit("u10")))
    val dir = Files.createTempDirectory("nc4").toString + "/store"
    val paths = graft.sinks.NetCdf4Sink.writeRecordGrids(cells, dir,
      shape = (2, 3), nRecs = 2)
    assert(paths.length == 2)
    // the files really are HDF5 containers
    val bytes = Files.readAllBytes(Paths.get(new java.net.URI(paths.head).getPath))
    assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'H' && bytes(2) == 'D' && bytes(3) == 'F')
    val (vars, data) = graft.sources.Hdf5Source.read(spark, dir)
    // 2 data variables + 3 coordinate scales per file
    assert(vars.filter(!col("is_scale")).count() == 2)
    assert(vars.filter(col("is_scale")).count() == 6)
    val t2mVar = vars.filter(col("variable") === "t2m").collect()(0)
    assert(t2mVar.getAs[scala.collection.Seq[Long]]("dims") == Seq(2L, 2L, 3L))
    // DIMENSION_LIST names resolved back through the global heap
    assert(t2mVar.getAs[scala.collection.Seq[String]]("dim_names") ==
      Seq("time", "lat", "lon"))
    val latVar = vars.filter(col("variable") === "lat" &&
      col("file") === t2mVar.getString(0)).collect()(0)
    assert(latVar.getBoolean(3) && latVar.getString(4) == "lat" &&
      latVar.getInt(5) == 1)
    // a scale's values are its indices
    val lat = data.filter(col("variable") === "lat" &&
      col("file") === t2mVar.getString(0)).orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(lat.toSeq == Seq(0.0, 1.0))
    val t2m = data.filter(col("variable") === "t2m").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(t2m.length == 12 && t2m(0) == 1.5 && t2m(5) == -2.25 && t2m(7) == 8.0)
    val u10 = data.filter(col("variable") === "u10").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(u10.sum == 4.0 && u10(4) == 4.0)
  }

  test("float16 precision tag -> IEEE binary16 HDF5 dataset -> RNE round trip") {
    val s = spark
    import s.implicits._
    // 0.1 is NOT half-representable; 1.5 / 2048 are exact in binary16
    val cells = Seq((0, 0, 0, 0.1), (0, 1, 2, 1.5), (1, 0, 1, 2048.0))
      .toDF("t", "i", "j", "value").withColumn("variable", lit("t2m"))
    val tagged = graft.operators.FieldOps.precisionCast(cells, "float16")
    val dir = Files.createTempDirectory("nc4f16").toString + "/store"
    val paths = graft.sinks.NetCdf4Sink.writeRecordGrids(tagged, dir,
      shape = (2, 3), nRecs = 2)
    assert(paths.length == 1)
    // the raw bytes carry a class-1 (float) datatype of SIZE 2: parse the
    // store back and confirm the values went through real half precision
    val (_, data) = graft.sources.Hdf5Source.read(spark, dir)
    val t2m = data.filter(col("variable") === "t2m").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(t2m.length == 12)
    assert(t2m(0) == 0.0999755859375) // nearest binary16 to 0.1
    assert(t2m(5) == 1.5 && t2m(7) == 2048.0) // exact in half
    // and the on-disk element payload really is 2 bytes/cell: a 12-cell
    // f16 grid deflates from 24 raw bytes, so the file is measurably
    // smaller than its f64 twin
    val f64dir = Files.createTempDirectory("nc4f64").toString + "/store"
    graft.sinks.NetCdf4Sink.writeRecordGrids(cells, f64dir, (2, 3), 2)
    val f16Bytes = Files.size(Paths.get(new java.net.URI(paths.head).getPath))
    val f64Path = new java.io.File(f64dir).listFiles()(0)
    assert(f16Bytes < f64Path.length(),
      s"f16 file $f16Bytes should be smaller than f64 ${f64Path.length()}")
  }

  test("auto source: classic and HDF5 files dispatch by magic into one model") {
    import graft.sinks.Hdf5Store
    val dir = Files.createTempDirectory("ncmix").toString
    Files.write(Paths.get(dir, "classic.nc"), fixture)
    Files.write(Paths.get(dir, "modern.nc4"), Hdf5Store.renderDatasets(Seq(
      Hdf5Store.H5Dataset("u10", Seq(2L, 3L), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0),
        dimNames = Seq("yy", "xx")),
      Hdf5Store.H5Dataset("yy", Seq(2L), Array(0.0, 1.0), scaleName = Some("yy"), dimId = 0),
      Hdf5Store.H5Dataset("xx", Seq(3L), Array(0.0, 0.5, 1.0), scaleName = Some("xx"), dimId = 1))))
    val (vars, data) = graft.sources.NetCdfAutoSource.read(spark, dir)
    val byVar = vars.collect().map(r => r.getString(1) -> r).toMap
    assert(byVar.keySet == Set("lat", "t2m", "u10", "yy", "xx"))
    assert(byVar("t2m").getString(5) == "classic" && byVar("u10").getString(5) == "hdf5")
    assert(byVar("t2m").getAs[scala.collection.Seq[String]]("dim_names") ==
      Seq("time", "lat", "lon"))
    assert(byVar("u10").getAs[scala.collection.Seq[String]]("dim_names") ==
      Seq("yy", "xx"))
    assert(byVar("u10").getAs[scala.collection.Seq[Long]]("shape") == Seq(2L, 3L))
    // classic coordinate var and hdf5 scale both flagged is_coord
    assert(byVar("lat").getBoolean(4) && byVar("yy").getBoolean(4))
    assert(!byVar("t2m").getBoolean(4) && !byVar("u10").getBoolean(4))
    // values from both formats in the same long table
    val u10 = data.filter(col("variable") === "u10").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(u10.toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    assert(data.filter(col("variable") === "t2m").count() == 12)
    // include prunes at the decode on both paths
    val (v2, d2) = graft.sources.NetCdfAutoSource.read(spark, dir,
      include = Set("t2m", "u10"))
    assert(v2.select("variable").distinct().collect().map(_.getString(0)).toSet ==
      Set("t2m", "u10"))
    assert(d2.filter(col("variable") === "lat").count() == 0)
  }

  test("CF packed write -> decodeCf read: scale/offset applied, fill -> NaN") {
    val s = spark
    import s.implicits._
    // stored codes; the (1, 1, 2) cell is absent → written as _FillValue
    val cells = Seq((0, 0, 0, 100), (0, 0, 1, -250), (0, 1, 2, 32767), (1, 0, 0, 7))
      .toDF("t", "i", "j", "stored").withColumn("variable", lit("t2m"))
    val dir = Files.createTempDirectory("ncpk").toString + "/store"
    graft.sinks.NetCdfSink.writePackedGrids(cells, dir, shape = (2, 3),
      nRecs = 2, scale = 0.01, offset = 0.5)
    // raw read: int16 codes come back untouched (decodeCf is opt-in)
    val (_, raw) = NetCdfSource.read(spark, dir)
    val rawVals = raw.orderBy("pos").collect().map(_.getDouble(3))
    assert(rawVals(0) == 100.0 && rawVals(1) == -250.0 && rawVals(5) == 32767.0)
    assert(rawVals(6) == 7.0 && rawVals(8) == -32768.0) // fill untouched
    // CF decode: unpacked doubles, fill → NaN
    val (_, data) = NetCdfSource.read(spark, dir, decodeCf = true)
    val vals = data.orderBy("pos").collect().map(_.getDouble(3))
    assert(vals(0) == 100 * 0.01 + 0.5 && vals(1) == -250 * 0.01 + 0.5)
    assert(vals(5) == 32767 * 0.01 + 0.5 && vals(6) == 7 * 0.01 + 0.5)
    assert(vals(8).isNaN && vals.count(_.isNaN) == 8)
    // the attributes themselves parse as written
    val bytes = Files.readAllBytes(Paths.get(dir, "t2m.nc"))
    val v = NetCdfSource.parseHeader(bytes).vars.head
    val cf = NetCdfSource.cfCodecOf(v)
    assert(cf.scale == 0.01 && cf.offset == 0.5 && cf.fill.contains(-32768.0))
    // auto source honors the flag on the classic branch
    val (_, autoData) = graft.sources.NetCdfAutoSource.read(spark, dir,
      globFilter = "*.nc", decodeCf = true)
    assert(autoData.filter(isnan(col("value"))).count() == 8)
  }

  test("CF time coordinate: units parse; decodeTimes converts to epoch s") {
    val s = spark
    import s.implicits._
    import graft.sources.NetCdfSource.{CfTime, cfTimeOf, NcAttr, NcVar}
    def timeVar(units: String) =
      NcVar("time", Seq(0), 4, 4L, 0L, Seq(NcAttr("units", units)))
    // udunits-subset variants parse; epoch components default to midnight
    assert(cfTimeOf(timeVar("hours since 1900-01-01 00:00:00.0"))
      .contains(CfTime(3600L, -2208988800L)))
    assert(cfTimeOf(timeVar("days since 2000-1-2")).contains(CfTime(86400L, 946771200L)))
    assert(cfTimeOf(timeVar("SECONDS since 1970-01-01T00:00:00Z"))
      .contains(CfTime(1L, 0L)))
    assert(cfTimeOf(timeVar("minutes since 1990-01-01 06:30"))
      .contains(CfTime(60L, 631152000L + 6 * 3600 + 30 * 60)))
    assert(cfTimeOf(timeVar("kelvin")).isEmpty)       // not a time unit
    assert(cfTimeOf(timeVar("since 1990-01-01")).isEmpty)
    // end-to-end: the written time coordinate decodes to epoch seconds
    val cells = Seq((0, 0, 0, 100), (1, 0, 1, -250))
      .toDF("t", "i", "j", "stored").withColumn("variable", lit("t2m"))
    val dir = Files.createTempDirectory("nctm").toString + "/store"
    graft.sinks.NetCdfSink.writePackedGrids(cells, dir, shape = (2, 3),
      nRecs = 2, scale = 0.01, offset = 0.5,
      timeUnits = Some("hours since 1990-01-01 00:00:00"), timeStep = 6)
    val (_, data) = NetCdfSource.read(spark, dir, decodeCf = true, decodeTimes = true)
    val times = data.filter(col("variable") === "time").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(times.toSeq == Seq(631152000.0, 631152000.0 + 21600))
    // the data variable still unpacks normally alongside the coordinate
    val vals = data.filter(col("variable") === "t2m").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(vals(0) == 100 * 0.01 + 0.5 && vals(7) == -250 * 0.01 + 0.5)
    // without the flag, raw offsets come back untouched
    val (_, rawD) = NetCdfSource.read(spark, dir, decodeCf = true)
    val rawT = rawD.filter(col("variable") === "time").orderBy("pos")
      .collect().map(_.getDouble(3))
    assert(rawT.toSeq == Seq(0.0, 6.0))
    // the magic-byte auto source threads the flag through its classic branch
    val (_, autoD) = graft.sources.NetCdfAutoSource.read(spark, dir,
      globFilter = "*.nc", decodeCf = true, decodeTimes = true)
    assert(autoD.filter(col("variable") === "time").orderBy("pos")
      .collect().map(_.getDouble(3)).toSeq == Seq(631152000.0, 631152000.0 + 21600))
  }

  /** A directory with the classic fixture, a netCDF-4 file (u10 on the
    * scales yy, xx) and a one-message GRIB2 file (4 x 3, two bitmap holes).
    */
  private def mixedDir(prefix: String): String = {
    import graft.sinks.Hdf5Store
    val dir = Files.createTempDirectory(prefix).toString
    Files.write(Paths.get(dir, "classic.nc"), fixture)
    Files.write(Paths.get(dir, "modern.nc4"), Hdf5Store.renderDatasets(Seq(
      Hdf5Store.H5Dataset("u10", Seq(2L, 3L), Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0),
        dimNames = Seq("yy", "xx")),
      Hdf5Store.H5Dataset("yy", Seq(2L), Array(0.0, 1.0), scaleName = Some("yy"), dimId = 0),
      Hdf5Store.H5Dataset("xx", Seq(3L), Array(0.0, 0.5, 1.0), scaleName = Some("xx"),
        dimId = 1))))
    val stored: Array[Option[Long]] = Array.tabulate(12)(i =>
      if (i % 5 == 4) None else Some((i * 3L) % 255))
    Files.write(Paths.get(dir, "field.grib2"), graft.sources.GribSource.render(Seq(
      graft.sources.GribSource.Spec(0, 0, 0, 2026, 1, 1, 0, 6L, 4L, 3L,
        90000000L, 0L, 250000L, 250000L, 250.5f, 0, 0, 8, stored))))
    dir
  }

  test("read: consuming both frames of every grid reader persists nothing") {
    val dir = mixedDir("ncnocache")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val frames = Seq(graft.sources.Hdf5Source.read(spark, dir),
      graft.sources.NetCdfAutoSource.read(spark, dir, globFilter = "*"),
      NetCdfSource.read(spark, dir))
    frames.foreach { case (vars, data) =>
      assert(vars.count() > 0 && data.count() > 0) // consume both frames
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("vars table: each format fills its own columns, the others are null") {
    val dir = mixedDir("ncvars")
    val vars = spark.read.format("graft.sources.NetCdfDataSource")
      .option("path", dir).option("globFilter", "*").option("table", "vars").load()
    val byVar = vars.collect().map(r => r.getAs[String]("variable") -> r).toMap
    assert(byVar.keySet == Set("lat", "t2m", "u10", "yy", "xx", "grib_d0_c0_n0_f6"))
    def cells(v: String, c: String*) = c.map(byVar(v).getAs[Any](_))
    val nulls = Seq("scale_name", "dim_id", "dtype")
    // classic: no HDF5 scale metadata
    assert(cells("t2m", "format", "is_record", "is_coord") == Seq("classic", true, false))
    assert(cells("lat", "is_record", "is_coord") == Seq(false, true))
    assert(cells("t2m", nulls: _*).forall(_ == null))
    // hdf5: no record flag; a data variable's scale fields are "" and -1
    assert(cells("u10", "format", "is_record", "is_coord", "scale_name", "dim_id", "dtype") ==
      Seq("hdf5", null, false, "", -1, "f64"))
    assert(cells("yy", "is_coord", "scale_name", "dim_id") == Seq(true, "yy", 0))
    // grib2: dims (lat, lon), shape (nj, ni), nothing else
    val g = byVar("grib_d0_c0_n0_f6")
    assert(g.getAs[scala.collection.Seq[String]]("dims") == Seq("lat", "lon"))
    assert(g.getAs[scala.collection.Seq[Long]]("shape") == Seq(3L, 4L))
    assert(cells("grib_d0_c0_n0_f6", "format", "is_record", "is_coord") ==
      Seq("grib2", null, false))
    assert(cells("grib_d0_c0_n0_f6", nulls: _*).forall(_ == null))
    // bitmap holes decode to NaN in the value run
    val grib = spark.read.format("graft.sources.NetCdfDataSource")
      .option("path", dir).option("globFilter", "*.grib2").load()
    assert(grib.count() == 12 && grib.filter(isnan(col("value"))).count() == 2)
  }

  test("variable filters: HDF5 and GRIB2 apply them, and a negation pushes too") {
    val dir = mixedDir("ncfilter")
    val (v1, d1) = graft.sources.NetCdfAutoSource.read(spark, dir, globFilter = "*",
      include = Set("u10", "grib_d0_c0_n0_f6"))
    assert(v1.collect().map(_.getString(1)).toSet == Set("u10", "grib_d0_c0_n0_f6"))
    assert(d1.select("variable").distinct().collect().map(_.getString(0)).toSet ==
      Set("u10", "grib_d0_c0_n0_f6"))
    val (v2, d2) = graft.sources.NetCdfAutoSource.read(spark, dir, globFilter = "*",
      exclude = Set("t2m", "yy", "grib_d0_c0_n0_f6"))
    val plan = d2.queryExecution.executedPlan.toString
    assert(plan.contains("not=[grib_d0_c0_n0_f6,t2m,yy]"), s"exclude not pushed:\n$plan")
    assert(v2.collect().map(_.getString(1)).toSet == Set("lat", "u10", "xx"))
    assert(d2.select("variable").distinct().collect().map(_.getString(0)).toSet ==
      Set("lat", "u10", "xx"))
    // one excluded name: Spark writes it as Not(EqualTo)
    val (_, d3) = graft.sources.NetCdfAutoSource.read(spark, dir, globFilter = "*",
      exclude = Set("xx"))
    assert(d3.queryExecution.executedPlan.toString.contains("vars=* not=[xx]"))
    assert(d3.filter(col("variable") === "xx").count() == 0 && d3.count() == 14 + 8 + 12)
  }

  test("grid readers: missing root, unmatched glob, absent variable, file URI") {
    val dir = mixedDir("ncedge")
    val readers: Seq[(String, String => (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame))] = Seq(
      "NetCdfSource" -> (p => NetCdfSource.read(spark, p, globFilter = "*")),
      "Hdf5Source" -> (p => graft.sources.Hdf5Source.read(spark, p, globFilter = "*")),
      "NetCdfAutoSource" -> (p => graft.sources.NetCdfAutoSource.read(spark, p,
        globFilter = "*")))
    readers.foreach { case (name, read) =>
      // a missing root fails before planning, the same way for all three
      val e = intercept[IllegalArgumentException](read(s"$dir/nope"))
      assert(e.getMessage.contains("no such dataset root"), s"$name: ${e.getMessage}")
      // a glob that matches nothing is two empty tables
      val (v0, d0) = read(s"$dir/*.none")
      assert(v0.count() == 0 && d0.count() == 0, name)
      // `file` is the qualified URI of the listed file
      val (_, data) = read(dir)
      assert(data.select("file").distinct().collect().map(_.getString(0)).toSet ==
        Set("classic.nc", "modern.nc4", "field.grib2").map(f => s"file:$dir/$f"), name)
    }
    // a wanted variable absent from a file: that file has no rows for it
    val (vars, data) = graft.sources.NetCdfAutoSource.read(spark, dir, globFilter = "*",
      include = Set("t2m", "u10"))
    val perFile = data.groupBy("file", "variable").count().collect()
      .map(r => (r.getString(0).split("/").last, r.getString(1)) -> r.getLong(2)).toMap
    assert(perFile == Map(("classic.nc", "t2m") -> 12L, ("modern.nc4", "u10") -> 6L))
    assert(vars.count() == 2)
  }

  test("read: long tables compose with grid stats") {
    val dir = Files.createTempDirectory("nc").toString
    Files.write(Paths.get(dir, "era.nc"), fixture)
    val (vars, data) = NetCdfSource.read(spark, dir)
    assert(vars.count() == 2)
    val t2mShape = vars.filter(col("variable") === "t2m").collect()(0)
    assert(t2mShape.getAs[scala.collection.Seq[Long]]("shape") == Seq(2L, 2L, 3L))
    assert(t2mShape.getAs[Boolean]("is_record"))

    // pos → (t, lat, lon) lattice, then per-time means over the grid
    val grid = data.filter(col("variable") === "t2m")
      .withColumn("t", (col("pos") / 6).cast("int"))
      .withColumn("lat", ((col("pos") % 6) / 3).cast("int"))
      .withColumn("lon", (col("pos") % 3).cast("int"))
    val means = grid.groupBy("t").agg(avg("value").as("m")).orderBy("t")
      .collect().map(_.getDouble(1))
    assert(means.toSeq == Seq(3.5, 35.0))
  }
}
