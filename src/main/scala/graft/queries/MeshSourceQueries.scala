package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Physics
import graft.operators.{RelationalOps, StatsOps}
import graft.sources.Tables

/** Mesh, grid and source queries: the reference's mesh, data-array and
  * atomic filters over tables, mesh quality and boundary generators, the
  * random sources, and sink/source round trips of the scientific formats
  * (VTU, VTI, d3plot, STL, Zarr, NetCDF, GRIB2, GeoTIFF, Ansys, ASE-LMDB),
  * the dataset fetchers (ERA5, AhmedML, DrivAerML) and the corpus
  * containers (WARC, TFRecord, Avro, ORC, ZIP, Parquet footers).
  */
object MeshSourceQueries extends Family("mesh/sources") {
  import QuerySupport._

  /** NetCDF-4 sink→source cycle: the same record-grid contract as
    * q_netcdf_roundtrip but through the HDF5 CONTAINER (`Hdf5Store` —
    * superblock, symbol-table group, contiguous f64 datasets), the storage
    * layer the reference's netcdf_writer produces via the netCDF4 lib.
    */
  q("q_netcdf4_roundtrip",
    // Same mirror as q_netcdf_roundtrip: the HDF5 container also
    // round-trips <f8 cells bit-exactly; `dims` pins the DIMENSION_LIST
    // names recovered from the netCDF-4 attribute messages.
      """WITH g AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT DISTINCT e.event_type AS variable, r.range AS t
        |  FROM events e, range(2) r),
        |f AS (SELECT l.variable, l.t, coalesce(g.v, 0.0) AS v
        |  FROM l LEFT JOIN g ON l.variable = g.variable AND l.t = g.t)
        |SELECT variable, t, CAST(128 AS BIGINT) AS n_cells,
        |  round(v + 1e-6, 2) AS sum_value, 'time,lat,lon' AS dims
        |FROM f ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val out = freshTmpDir("graft_nc4_rt", dir)
    graft.sinks.NetCdf4Sink.writeRecordGrids(g, out, shape = (8, 16), nRecs = 2)
    val (vars, data) = graft.sources.Hdf5Source.read(s, out)
    // the inner join keeps data variables only (coordinate scales carry
    // is_scale) and proves the DIMENSION_LIST names came back from the
    // binary container
    val dataVars = vars.filter(!col("is_scale"))
      .select(col("variable"), array_join(col("dim_names"), ",").as("dims"))
    data.join(broadcast(dataVars), "variable")
      .groupBy(col("variable"), (col("pos") / 128).cast("long").as("t"), col("dims"))
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"))
      .select("variable", "t", "n_cells", "sum_value", "dims")
      .orderBy("variable", "t")
  }

  /** NetCDF classic sink→source cycle (the da-domain's real format):
    * events aggregated onto per-event-type (time, lat, lon) record grids,
    * written as CDF-1 files, re-read by `NetCdfSource`, reduced per
    * (variable, record). `<f8` cells round-trip bit-exactly, so the oracle
    * rebuilds the same sums straight from events (fills contribute 0).
    */
  q("q_netcdf_roundtrip",
      """WITH g AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT DISTINCT e.event_type AS variable, r.range AS t
        |  FROM events e, range(2) r),
        |f AS (SELECT l.variable, l.t, coalesce(g.v, 0.0) AS v
        |  FROM l LEFT JOIN g ON l.variable = g.variable AND l.t = g.t)
        |SELECT variable, t, CAST(128 AS BIGINT) AS n_cells,
        |  round(v + 1e-6, 2) AS sum_value
        |FROM f ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val out = freshTmpDir("graft_nc_rt", dir)
    // CDF-5 (64-bit classic): the widened container is what the round trip
    // gates; CDF-1 stays pinned in NetCdfSpec/CodecPropertySpec
    graft.sinks.NetCdfSink.writeRecordGrids(g, out, shape = (8, 16), nRecs = 2,
      version = 5)
    val (_, data) = graft.sources.NetCdfSource.read(s, out)
    data.groupBy(col("variable"), (col("pos") / 128).cast("long").as("t"))
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("variable", "t")
  }

  /** CF packed-data decode (xarray `decode_cf`, the reference's transparent
    * ERA5/GFS read path): grids quantized to int16 IN SQL (clamped floor —
    * floor is bit-deterministic across engines, round's tie rule is not),
    * written short-packed with `scale_factor`/`add_offset`/`_FillValue`
    * attributes, re-read with `decodeCf = true`. Holes at (i + j) % 5 == 0
    * exercise fill → NaN; the unpack `stored * scale + offset` is exact
    * double math both engines repeat.
    */
  q("q_netcdf_packed",
    // The packed cycle re-derives: same grouping, same clamped-floor
    // quantization (both engines floor the same IEEE double), same exact
    // stored*scale+offset unpack; holes are the same (i+j)%5 cut the
    // writer turned into _FillValue cells (→ NaN → filtered on read).
      """WITH g AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    user_id % 8 AS i, user_id % 16 AS j, sum(value) AS value
        |  FROM events GROUP BY 1, 2, 3, 4),
        |p AS (SELECT variable, t,
        |    least(greatest(floor((value - CAST(0.5 AS DOUBLE)) / CAST(0.01 AS DOUBLE)),
        |      CAST(-32767 AS DOUBLE)), CAST(32767 AS DOUBLE)) AS stored
        |  FROM g WHERE (i + j) % 5 <> 0)
        |SELECT variable, t, CAST(count(*) AS BIGINT) AS n_cells,
        |  round(sum(stored * CAST(0.01 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + 1e-6, 2)
        |    AS sum_value
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val packed = g.filter(((col("i") + col("j")) % 5) =!= 0)
      .withColumn("stored",
        least(greatest(floor((col("value") - lit(0.5)) / lit(0.01)), lit(-32767L)),
          lit(32767L)).cast("int"))
    val out = freshTmpDir("graft_nc_packed", dir)
    graft.sinks.NetCdfSink.writePackedGrids(packed, out, shape = (8, 16),
      nRecs = 2, scale = 0.01, offset = 0.5)
    // DSv2 relation: a `variable` predicate would push into the decoder's
    // wanted set (Dsv2SourcesSpec); this query keeps every variable
    val data = s.read.format("graft.sources.NetCdfDataSource")
      .option("path", out).option("decodeCf", "true").load()
    data.filter(!isnan(col("value")))
      .groupBy(col("variable"), (col("pos") / 128).cast("long").as("t"))
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("variable", "t")
  }

  /** GRIB2 decode end-to-end — the actual wire format behind GFS/HRRR
    * (the reference delegates this decode to earth2studio, `gfs.py:46-77`):
    * per variable, a multi-message .grib2 file (one message per record,
    * 12-bit simple packing, section-6 bitmap holes at (i+j)%5==0, 0.25°
    * lat/lon grid) is rendered from event values and decoded back
    * distributed (`GribSource.read`). The oracle recomputes the packed
    * integers AND the unpack (−20.0 + X·0.01, the (R + X·2^E)/10^D
    * evaluation both engines repeat exactly) plus every grid/identity
    * field from the section walk.
    */
  q("q_grib2_decode",
    // GRIB2 mirror: same packed-lattice recomputation as the NetCDF CF
    // oracle, with the simple-packing unpack (−20.0 + X·0.01 — the
    // (R + X·2^E)/10^D order both engines evaluate) and the section-walk
    // identity/grid fields as literals.
      """WITH g AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    user_id % 8 AS i, user_id % 16 AS j, sum(value) AS value
        |  FROM events GROUP BY 1, 2, 3, 4),
        |p AS (SELECT variable, t,
        |    least(greatest(CAST(floor((value + CAST(20.0 AS DOUBLE))
        |        / CAST(0.01 AS DOUBLE)) AS BIGINT), 0), 4095) AS x
        |  FROM g WHERE (i + j) % 5 <> 0)
        |SELECT variable, CAST(t * 6 AS BIGINT) AS forecast_hours,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  round(sum(CAST(x AS DOUBLE) * CAST(0.01 AS DOUBLE)
        |    + CAST(-20.0 AS DOUBLE)) + 1e-6, 2) AS sum_value,
        |  CAST(16 AS BIGINT) AS ni, CAST(8 AS BIGINT) AS nj,
        |  CAST(90.0 AS DOUBLE) AS lat1, CAST(0.0 AS DOUBLE) AS lon1,
        |  CAST(0.25 AS DOUBLE) AS di, CAST(0.25 AS DOUBLE) AS dj,
        |  CAST(2026 AS INTEGER) AS ref_year
        |FROM p GROUP BY 1, 2 ORDER BY variable, forecast_hours""".stripMargin) { (s, dir) =>
    import s.implicits._
    import graft.sources.GribSource
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val packed = g.filter(((col("i") + col("j")) % 5) =!= 0)
      .withColumn("stored",
        least(greatest(floor((col("value") + lit(20.0)) / lit(0.01)), lit(0L)),
          lit(4095L)).cast("long"))
    // deterministic variable → parameter-number map (sorted order; the
    // collect is bounded by event-type cardinality)
    val varNumber = g.select("variable").distinct().collect()
      .map(_.getString(0)).sorted.zipWithIndex.toMap
    val out = freshTmpDir("graft_grib2", dir)
    GribSource.writeGrids(packed, out, shape = (8, 16), nRecs = 2, varNumber)
    val numVar = varNumber.toSeq.map { case (v, n) => (n, v) }
      .toDF("number", "variable")
    GribSource.read(s, out)
      .filter(!isnan(col("value")))
      .groupBy(col("number"), col("forecast_hours"))
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"),
        first(col("ni")).as("ni"), first(col("nj")).as("nj"),
        first(col("lat1")).as("lat1"), first(col("lon1")).as("lon1"),
        first(col("di")).as("di"), first(col("dj")).as("dj"),
        first(col("ref_year")).as("ref_year"))
      .join(broadcast(numVar), "number")
      .select(col("variable"), col("forecast_hours"), col("n_cells"),
        col("sum_value"), col("ni"), col("nj"), col("lat1"), col("lon1"),
        col("di"), col("dj"), col("ref_year"))
      .orderBy("variable", "forecast_hours")
  }

  /** GeoTIFF raster round trip end-to-end: the event grid becomes one
    * two-page GeoTIFF per variable (page 0 uint16 with predictor-2
    * LZW / PackBits / uncompressed cycling by variable, page 1 float32
    * LZW; absent cells = GDAL-nodata holes), read back distributed with
    * PixelIsArea cell centers off ModelPixelScale/Tiepoint. The oracle
    * recomputes the quantization, the float32 decode cast, the nodata
    * census, and the lat/lon envelope from the event stream.
    */
  q("q_geotiff_grid",
    // GeoTIFF mirror: quantization, the float32 decode cast, nodata
    // census, compression assignment (sorted variable index % 3), and
    // the PixelIsArea lat/lon envelope — all from the event stream.
      """WITH g AS (SELECT event_type AS variable,
        |    user_id % 8 AS i, user_id % 16 AS j, sum(value) AS value
        |  FROM events GROUP BY 1, 2, 3),
        |c AS (SELECT variable, i, j,
        |    least(greatest(CAST(floor((value + CAST(20.0 AS DOUBLE))
        |        / CAST(0.01 AS DOUBLE)) AS BIGINT), 0), 65534) AS stored
        |  FROM g WHERE (i + j) % 5 <> 0),
        |vi AS (SELECT variable, row_number() OVER (ORDER BY variable) - 1 AS ix
        |  FROM (SELECT DISTINCT variable FROM c)),
        |comp AS (SELECT variable,
        |    CAST(CASE ix % 3 WHEN 0 THEN 5 WHEN 1 THEN 32773 ELSE 1 END
        |      AS INT) AS compression
        |  FROM vi),
        |agg AS (SELECT variable, CAST(count(*) AS BIGINT) AS n_cells,
        |    sum(CAST(stored AS DOUBLE)) AS sum_u16,
        |    sum(CAST(CAST(CAST(stored AS DOUBLE) * CAST(0.01 AS DOUBLE)
        |        - CAST(20.0 AS DOUBLE) AS FLOAT) AS DOUBLE)) AS sum_f32,
        |    min(CAST(50.0 AS DOUBLE) - (i + CAST(0.5 AS DOUBLE))
        |      * CAST(0.25 AS DOUBLE)) AS min_lat,
        |    max(CAST(50.0 AS DOUBLE) - (i + CAST(0.5 AS DOUBLE))
        |      * CAST(0.25 AS DOUBLE)) AS max_lat,
        |    min(CAST(10.0 AS DOUBLE) + (j + CAST(0.5 AS DOUBLE))
        |      * CAST(0.25 AS DOUBLE)) AS min_lon,
        |    max(CAST(10.0 AS DOUBLE) + (j + CAST(0.5 AS DOUBLE))
        |      * CAST(0.25 AS DOUBLE)) AS max_lon
        |  FROM c GROUP BY 1),
        |pages AS (
        |  SELECT a.variable, 0 AS page, a.n_cells,
        |    round(a.sum_u16 + 1e-6, 2) AS sum_value, cm.compression,
        |    16 AS bits, 1 AS sample_format,
        |    a.min_lat, a.max_lat, a.min_lon, a.max_lon
        |  FROM agg a JOIN comp cm USING (variable)
        |  UNION ALL
        |  SELECT a.variable, 1 AS page, a.n_cells,
        |    round(a.sum_f32 + 1e-6, 2) AS sum_value, 5 AS compression,
        |    32 AS bits, 3 AS sample_format,
        |    a.min_lat, a.max_lat, a.min_lon, a.max_lon
        |  FROM agg a)
        |SELECT variable, CAST(page AS INT) AS page, n_cells, sum_value,
        |  16 AS width, 8 AS height, compression, bits, sample_format,
        |  min_lat, max_lat, min_lon, max_lon
        |FROM pages ORDER BY variable, page""".stripMargin) { (s, dir) =>
    import graft.sources.GeoTiffSource
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("user_id") % 8).as("i"),
        (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "i", "j").agg(sum("value").as("value"))
    val cells = g.filter(((col("i") + col("j")) % 5) =!= 0)
      .withColumn("stored",
        least(greatest(floor((col("value") + lit(20.0)) / lit(0.01)), lit(0L)),
          lit(65534L)).cast("long"))
    val out = freshTmpDir("graft_geotiff", dir)
    GeoTiffSource.writeRasters(cells, out, shape = (8, 16),
      grid = (50.0, 10.0, 0.25, 0.25))
    GeoTiffSource.read(s, out)
      .filter(!isnan(col("value")))
      .groupBy(col("variable"), col("page"))
      .agg(count(lit(1)).as("n_cells"),
        rnd(sum("value"), 2).as("sum_value"),
        first("width").as("width"), first("height").as("height"),
        first("compression").as("compression"), first("bits").as("bits"),
        first("sample_format").as("sample_format"),
        min("lat").as("min_lat"), max("lat").as("max_lat"),
        min("lon").as("min_lon"), max("lon").as("max_lon"))
      .orderBy("variable", "page")
  }

  /** CF time-coordinate decoding end-to-end (xarray `decode_times`): the
    * packed fixture gains a real `time` record variable whose `units`
    * attribute reads "hours since 1990-01-01 00:00:00" with 6-hourly
    * steps; `decodeTimes = true` converts it to epoch seconds at decode,
    * which join the per-record data aggregates. The oracle computes the
    * same calendar arithmetic as literals (epoch(1990-01-01) = 631152000).
    */
  q("q_netcdf_time",
    // CF time mirror: same packed lattice, plus the 6-hourly calendar
    // arithmetic as plain literals.
      """WITH g AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    user_id % 8 AS i, user_id % 16 AS j, sum(value) AS value
        |  FROM events GROUP BY 1, 2, 3, 4),
        |p AS (SELECT variable, t,
        |    least(greatest(floor((value - CAST(0.5 AS DOUBLE)) / CAST(0.01 AS DOUBLE)),
        |      CAST(-32767 AS DOUBLE)), CAST(32767 AS DOUBLE)) AS stored
        |  FROM g WHERE (i + j) % 5 <> 0)
        |SELECT variable, t, CAST(631152000 + t * 21600 AS BIGINT) AS time_s,
        |  CAST(count(*) AS BIGINT) AS n_cells,
        |  round(sum(stored * CAST(0.01 AS DOUBLE) + CAST(0.5 AS DOUBLE)) + 1e-6, 2)
        |    AS sum_value
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val packed = g.filter(((col("i") + col("j")) % 5) =!= 0)
      .withColumn("stored",
        least(greatest(floor((col("value") - lit(0.5)) / lit(0.01)), lit(-32767L)),
          lit(32767L)).cast("int"))
    val out = freshTmpDir("graft_nc_time", dir)
    graft.sinks.NetCdfSink.writePackedGrids(packed, out, shape = (8, 16),
      nRecs = 2, scale = 0.01, offset = 0.5,
      timeUnits = Some("hours since 1990-01-01 00:00:00"), timeStep = 6)
    val (_, data) = graft.sources.NetCdfSource.read(s, out,
      decodeCf = true, decodeTimes = true)
    val times = data.filter(col("variable") === "time")
      .select(col("file"), col("pos").as("t"),
        col("value").cast("long").as("time_s"))
    data.filter(col("variable") =!= "time" && !isnan(col("value")))
      .groupBy(col("file"), col("variable"), (col("pos") / 128).cast("long").as("t"))
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"))
      .join(times, Seq("file", "t"))
      .select(col("variable"), col("t"), col("time_s"), col("n_cells"),
        col("sum_value"))
      .orderBy("variable", "t")
  }

  /** Zarr v2 sink→source cycle (the reference's primary output format):
    * events aggregated onto a 32×64 grid, written as a real chunked+zlib
    * zarr array (8×16 chunks, executor-parallel disjoint chunk writes),
    * re-read distributed, and reduced. `<f8` cells round-trip bit-exactly,
    * so the oracle rebuilds the same lattice (fill = 0) straight from the
    * events table.
    */
  q("q_zarr_roundtrip",
    // Zarr cycle mirror: <f8 cells are bit-exact through the chunk files,
    // so the oracle rebuilds the full fill-padded lattice from events.
      """WITH g AS (SELECT user_id % 32 AS i, event_id % 64 AS j, sum(value) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT a.range AS i, b.range AS j FROM range(32) a, range(64) b),
        |f AS (SELECT l.i, l.j, coalesce(g.v, 0.0) AS v
        |  FROM l LEFT JOIN g ON l.i = g.i AND l.j = g.j)
        |SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |  round(sum(v) + 1e-6, 2) AS sum_value,
        |  round(min(v) + 1e-6, 2) AS min_value,
        |  round(max(v) + 1e-6, 2) AS max_value
        |FROM f""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select((col("user_id") % 32).as("i"), (col("event_id") % 64).as("j"),
        col("value"))
      .groupBy("i", "j").agg(sum("value").as("value"))
    val out = freshTmpDir("graft_zarr_rt", dir)
    graft.sinks.ZarrStore.writeArray2D(g, out, shape = (32L, 64L), chunks = (8, 16))
    graft.sinks.ZarrStore.readArray2D(s, out)
      .agg(count(lit(1)).as("n_cells"),
        rnd(sum("value"), 2).as("sum_value"),
        rnd(min("value"), 2).as("min_value"),
        rnd(max("value"), 2).as("max_value"))
  }

  /** float16-tagged Zarr cycle (reference `precision.py:40-45` requests a
    * half-width artifact; Spark has no half type, so the request rides
    * column METADATA): integer cell counts (mod 1024 — exactly
    * representable in binary16) are tagged `float16` by
    * [[graft.operators.FieldOps.precisionCast]], the writer narrows the
    * on-disk dtype to `<f2` via [[graft.sinks.ZarrStore.dtypeFor]], and
    * the read-back decodes real half bytes. The emitted `dtype` column
    * asserts the artifact width inside the oracle gate itself.
    */
  q("q_zarr_f16_roundtrip",
    // float16 Zarr cycle mirror: cell values are integers mod 1024 —
    // exactly representable in binary16 — so the half round-trip is
    // lossless and the oracle rebuilds the fill-padded lattice from
    // events; the dtype literal pins the on-disk artifact width.
      """WITH g AS (SELECT user_id % 16 AS i, event_id % 32 AS j,
        |    CAST(count(*) % 1024 AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT a.range AS i, b.range AS j FROM range(16) a, range(32) b),
        |f AS (SELECT l.i, l.j, coalesce(g.v, 0.0) AS v
        |  FROM l LEFT JOIN g ON l.i = g.i AND l.j = g.j)
        |SELECT '<f2' AS dtype, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(v) AS BIGINT) AS sum_value,
        |  CAST(min(v) AS BIGINT) AS min_value,
        |  CAST(max(v) AS BIGINT) AS max_value
        |FROM f""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select((col("user_id") % 16).as("i"), (col("event_id") % 32).as("j"))
      .groupBy("i", "j")
      .agg((count(lit(1)) % 1024).cast("double").as("value"))
    val tagged = graft.operators.FieldOps.precisionCast(g, "float16")
    val out = freshTmpDir("graft_zarr_f16", dir)
    graft.sinks.ZarrStore.writeArray2D(tagged, out, shape = (16L, 32L),
      chunks = (8, 8), dtype = graft.sinks.ZarrStore.dtypeFor(tagged))
    val dtype = graft.sinks.ZarrStore.arrayDtype(s, out)
    graft.sinks.ZarrStore.readArray2D(s, out)
      .agg(count(lit(1)).as("n_cells"),
        sum("value").cast("long").as("sum_value"),
        min("value").cast("long").as("min_value"),
        max("value").cast("long").as("max_value"))
      .select(lit(dtype).as("dtype"), col("n_cells"), col("sum_value"),
        col("min_value"), col("max_value"))
  }

  /** Full d3plot sink→source cycle: embeddings-derived shell meshes (quads
    * of 4 consecutive points, 2 runs) with 2 states of node vectors and
    * 2-layer shell stress/strain, written as real d3plot binaries and
    * re-read by `D3PlotSource`. Float32 words round-trip exactly; stress/
    * epsp are exact binary fractions of the cell id so their sums admit a
    * closed-form oracle; dx mirrors the double→float32 cast per term.
    */
  q("q_d3plot_roundtrip",
    // d3plot cycle mirror: float32 words round-trip exactly; sx/epsp are
    // exact binary fractions (powers of two × small ints) so their sums
    // collapse to closed forms; dx mirrors the per-term double→float cast.
      """WITH m AS (SELECT vec_id % 2 AS mesh_id,
        |    CAST(embedding[4] AS DOUBLE) AS e4, CAST(embedding[5] AS DOUBLE) AS e5
        |  FROM embeddings),
        |a AS (SELECT mesh_id, count(*) AS n_points, count(*) // 4 AS n_cells,
        |    sum(e4 + CAST(CAST(e4 + e5 AS FLOAT) AS DOUBLE)) AS sdx
        |  FROM m GROUP BY 1)
        |SELECT mesh_id, n_points, n_cells, CAST(2 AS BIGINT) AS n_states,
        |  round(sdx + 1e-6, 2) AS sum_dx,
        |  round(1.5 * n_cells * (n_cells + 1) / 2 + 1e-6, 2) AS sum_sx,
        |  round(0.25 * n_cells * n_cells + 1e-6, 2) AS sum_epsp
        |FROM a ORDER BY mesh_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pts = emb.select((col("vec_id") % 2).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    val w = Window.partitionBy("mesh_id").orderBy("point_id")
    val quads = pts
      .withColumn("g", ((row_number().over(w) - 1) / 4).cast("long"))
      .groupBy(col("mesh_id"), col("g").as("cell_id"))
      .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
        count(lit(1)).as("nv"))
      .filter(col("nv") === 4).drop("nv")
      .withColumn("part_id", lit(1L))
    val states = Seq(0, 1).map { t =>
      emb.select((col("vec_id") % 2).cast("long").as("mesh_id"),
        lit(t).as("t"), lit(t * 0.5).as("time"),
        col("vec_id").cast("long").as("point_id"),
        (col("embedding")(3).cast("double") +
          lit(t) * col("embedding")(4).cast("double")).as("dx"),
        lit(0.0).as("dy"), lit(0.0).as("dz"))
    }.reduce(_ unionByName _)
    val shellData = Seq(0, 1).flatMap { t =>
      Seq(0, 1).map { l =>
        quads.select(col("mesh_id"), lit(t).as("t"), col("cell_id"),
          lit(l).as("layer"),
          ((col("cell_id") + 1) * 0.25 * (l + 1)).as("sx"),
          lit(0.0).as("sy"), lit(0.0).as("sz"), lit(0.0).as("txy"),
          lit(0.0).as("tyz"), lit(0.0).as("tzx"),
          ((col("cell_id") + lit(t)) * 0.125).as("epsp"))
      }
    }.reduce(_ unionByName _)
    val out = freshTmpDir("graft_d3p_rt", dir)
    graft.sinks.D3PlotSink.write(pts, quads, states, shellData, out)

    // through the DSv2 relation: family grouping + D3Select block pruning
    // happen in the scan, so each table decodes only its own blocks
    def rel(table: String) = s.read.format("graft.sources.D3PlotDataSource")
      .option("path", s"$out/*").option("table", table).load()
    val (rp, rs, rsh) = (rel("points"), rel("states"), rel("shell"))
    def meshOf(c: org.apache.spark.sql.Column) =
      regexp_extract(c, "/(\\d+)/d3plot$", 1).cast("long")
    val np = rp.groupBy(meshOf(col("mesh_id")).as("mesh_id"))
      .agg(count(lit(1)).as("n_points"))
    val st = rs.groupBy(meshOf(col("mesh_id")).as("mesh_id"))
      .agg(countDistinct(col("t")).as("n_states"), sum(col("dx")).as("sdx"))
    val sh = rsh.groupBy(meshOf(col("mesh_id")).as("mesh_id"))
      .agg((count(lit(1)) / 4).cast("long").as("n_cells"),
        sum(col("sx")).as("ssx"), sum(col("epsp")).as("sepsp"))
    np.join(st, Seq("mesh_id")).join(sh, Seq("mesh_id"))
      .select(col("mesh_id"), col("n_points"), col("n_cells"), col("n_states"),
        rnd(col("sdx"), 2).as("sum_dx"), rnd(col("ssx"), 2).as("sum_sx"),
        rnd(col("sepsp"), 2).as("sum_epsp"))
      .orderBy("mesh_id")
  }

  /** SPH particle universe cycle (reference Rust `src/rust/src/d3plot/`
    * reads SPH state data; here the flag-driven decode is its own long
    * universe): 100 embeddings-derived particles with 2 states of scalar
    * fields — every value an exact binary fraction of (id, t), so the
    * float32 words round-trip exactly — written as a real SPH d3plot
    * (element-data-flags block, node & material list, per-state particle
    * block) and re-read by `readSph`. Aggregates per decoded field name;
    * the static particle list folds in as its own row.
    */
  q("q_d3plot_sph",
    // SPH cycle mirror: every field value is an exact binary fraction of
    // (id, t), so each per-field sum recomputes in closed form; the static
    // node & material list adds the particle_list row.
      """WITH e AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 100),
        |st AS (SELECT id, t FROM e CROSS JOIN (SELECT unnest([0, 1]) AS t)),
        |f AS (
        |  SELECT 'density' AS field, (id % 13) * CAST(0.75 AS DOUBLE) AS v FROM st
        |  UNION ALL SELECT 'mass', (id + 2) * CAST(0.125 AS DOUBLE) FROM st
        |  UNION ALL SELECT 'material', CAST(id % 3 + 1 AS DOUBLE) FROM st
        |  UNION ALL SELECT 'neighbors', CAST(id % 7 AS DOUBLE) FROM st
        |  UNION ALL SELECT 'pressure', (id + t) * CAST(0.5 AS DOUBLE) FROM st
        |  UNION ALL SELECT 'radius', (id + 1) * CAST(0.25 AS DOUBLE) FROM st)
        |SELECT field, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(v) + 1e-6, 2) AS sum_value
        |FROM f GROUP BY 1
        |UNION ALL
        |SELECT 'particle_list', CAST(count(*) AS BIGINT),
        |  round(sum(CAST(id % 3 + 1 + id AS DOUBLE)) + 1e-6, 2) FROM e
        |ORDER BY 1""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 100)
    val pts = emb.select(lit(0L).as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    val states = Seq(0, 1).map { t =>
      emb.select(lit(0L).as("mesh_id"), lit(t).as("t"), lit(t * 0.5).as("time"),
        col("vec_id").cast("long").as("point_id"),
        col("embedding")(3).cast("double").as("dx"),
        lit(0.0).as("dy"), lit(0.0).as("dz"))
    }.reduce(_ unionByName _)
    val sph = Seq(0, 1).map { t =>
      emb.select(lit(0L).as("mesh_id"), lit(t).as("t"),
        col("vec_id").cast("long").as("particle_id"),
        (col("vec_id") % 3 + 1).cast("long").as("material"),
        ((col("vec_id") + 1) * 0.25).as("radius"),
        ((col("vec_id") + lit(t)) * 0.5).as("pressure"),
        ((col("vec_id") % 13) * 0.75).as("density"),
        (col("vec_id") % 7).cast("double").as("neighbors"),
        ((col("vec_id") + 2) * 0.125).as("mass"))
    }.reduce(_ unionByName _)
    val out = freshTmpDir("graft_d3p_sph", dir)
    graft.sinks.D3PlotSink.writeSph(pts, states, sph, out)
    val (particles, sphStates) = graft.sources.D3PlotSource.readSph(s, s"$out/*")
    val agg = sphStates.groupBy(col("field"))
      .agg(count(lit(1)).as("n"), rnd(sum("value"), 2).as("sum_value"))
    val plist = particles
      .agg(count(lit(1)).as("n"),
        rnd(sum(col("material") + col("node_id")), 2).as("sum_value"))
      .select(lit("particle_list").as("field"), col("n"), col("sum_value"))
    agg.unionByName(plist).orderBy("field")
  }

  /** Binary STL sink→source cycle: consecutive point triples per mesh as
    * facets, written as binary STL (computed facet normals) and re-read;
    * STL repeats vertices per facet, so each kept point appears exactly
    * once and the coordinate sum mirrors a rank-filtered scan.
    */
  q("q_stl_roundtrip",
    // STL cycle mirror: each kept point (first 3·⌊n/3⌋ per mesh in id
    // order) appears exactly once among the re-read facet corners.
      """WITH p AS (SELECT vec_id % 3 AS mesh_id, vec_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY vec_id % 3 ORDER BY vec_id) AS rn,
        |    count(*) OVER (PARTITION BY vec_id % 3) AS n
        |  FROM embeddings)
        |SELECT mesh_id, CAST(3 * (n // 3) AS BIGINT) AS n_points,
        |  CAST(n // 3 AS BIGINT) AS n_facets,
        |  round(sum(CASE WHEN rn <= 3 * (n // 3) THEN x ELSE 0 END) + 1e-6, 2) AS sum_x
        |FROM p GROUP BY mesh_id, n ORDER BY mesh_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pts = emb.select((col("vec_id") % 3).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    val w = Window.partitionBy("mesh_id").orderBy("point_id")
    val tris = pts
      .withColumn("g", ((row_number().over(w) - 1) / 3).cast("long"))
      .groupBy(col("mesh_id"), col("g").as("cell_id"))
      .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
        count(lit(1)).as("nv"))
      .filter(col("nv") === 3).drop("nv")
    val out = freshTmpDir("graft_stl_rt", dir)
    graft.sinks.StlSink.write(pts, tris, out)

    val (rp, rc, _) = graft.sources.StlSource.read(s, s"$out")
    def meshOf = regexp_extract(col("mesh_id"), "mesh_(\\d+)\\.stl", 1).cast("long")
    rp.groupBy(meshOf.as("mesh_id"))
      .agg(count(lit(1)).as("n_points"), sum(col("x")).as("sx"))
      .join(rc.groupBy(meshOf.as("mesh_id")).agg(count(lit(1)).as("n_facets")),
        Seq("mesh_id"))
      .select(col("mesh_id"), col("n_points"), col("n_facets"),
        rnd(col("sx"), 2).as("sum_x"))
      .orderBy("mesh_id")
  }

  /** MeshInfoFilter inventory (`mesh_info.py:94`): per-group field records
    * through the operator's JSON-lines contract and back out (from_json +
    * explode), proving the round trip.
    */
  q("q_field_info",
      """WITH g AS (SELECT c_mktsegment, count(*) AS n_rows,
        |  CAST(count(c_acctbal) AS BIGINT) AS n_a, CAST(count(c_name) AS BIGINT) AS n_c
        |  FROM customer GROUP BY 1)
        |SELECT c_mktsegment, n_rows, 'c_acctbal' AS field, 'double' AS dtype,
        |  n_a AS n_non_null, n_a * 8 AS est_bytes FROM g
        |UNION ALL
        |SELECT c_mktsegment, n_rows, 'c_name', 'string', n_c, n_c * 8 FROM g
        |ORDER BY c_mktsegment, field""".stripMargin) { (s, dir) =>
    val info = graft.operators.FieldOps.fieldInfo(
      Tables.customer(s, dir), "c_mktsegment", Seq("c_acctbal", "c_name"))
    val schema = "array<struct<field:string,dtype:string,n_non_null:bigint,est_bytes:bigint>>"
    info.select(col("c_mktsegment"), col("n_rows"),
      explode(from_json(col("fields_json"), schema, Map.empty[String, String])).as("f"))
      .select(col("c_mktsegment"), col("n_rows"), col("f.field").as("field"),
        col("f.dtype").as("dtype"), col("f.n_non_null").as("n_non_null"),
        col("f.est_bytes").as("est_bytes"))
      .orderBy("c_mktsegment", "field")
  }

  /** AtomicInfoFilter (`atomic_info.py:44-76`): structural metadata over
    * synthesized systems (embeddings as atom arrays). `species` (an
    * array_distinct) is excluded: its ORDER is engine-specific; the
    * order-free `n_species` is checked instead.
    */
  q("q_atomic_info",
      """SELECT vec_id AS sys_id,
        |  CAST(len(embedding) AS BIGINT) AS n_atoms,
        |  CAST(8 AS BIGINT) AS n_edges,
        |  CAST(len(list_distinct(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 4) + 5 AS INT)))) AS BIGINT) AS n_species,
        |  true AS pbc,
        |  round(CAST(embedding[1] AS DOUBLE) + 1e-9, 4) AS energy
        |FROM embeddings ORDER BY sys_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val systems = emb.select(col("vec_id").as("sys_id"),
      transform(col("embedding"),
        x => (floor(x.cast("double") * 4) + 5).cast("int")).as("atomic_numbers"),
      slice(col("embedding"), 1, 8).as("edge_index_src"),
      lit(true).as("pbc"),
      col("embedding")(0).cast("double").as("energy"))
    graft.graph.GraphOps.atomicInfo(systems)
      .select(col("sys_id"), col("n_atoms").cast("long").as("n_atoms"),
        col("n_edges").cast("long").as("n_edges"),
        col("n_species").cast("long").as("n_species"),
        col("pbc"), rnd("energy", 4).as("energy"))
      .orderBy("sys_id")
  }

  /** AtomicStatsFilter (`domains/atm/filters/stats.py:273`): per-field
    * moments over system-level array columns — explode + one grouped agg
    * (partial/final combine; no row blowup beyond the atom rows).
    */
  q("q_atomic_stats",
      """WITH pos AS (SELECT unnest(embedding::DOUBLE[]) AS v FROM embeddings),
        |chg AS (SELECT floor(unnest(embedding::DOUBLE[]) * 4) + 5 AS v FROM embeddings),
        |s AS (
        |  SELECT 'positions' AS field, count(*) AS n, avg(v) AS mean,
        |    var_pop(v) AS var_pop, min(v) AS mn, max(v) AS mx FROM pos
        |  UNION ALL
        |  SELECT 'charges', count(*), avg(v), var_pop(v), min(v), max(v) FROM chg)
        |SELECT field, n, round(mean + 1e-9, 4) AS mean,
        |  round(var_pop + 1e-9, 4) AS var_pop,
        |  round(mn + 1e-9, 4) AS min, round(mx + 1e-9, 4) AS max
        |FROM s ORDER BY field""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val systems = emb.select(col("vec_id").as("sys_id"),
      transform(col("embedding"), x => x.cast("double")).as("positions"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 4) + 5).as("charges"))
    val p = graft.graph.GraphOps.perAtomFieldStats(systems, "positions")
      .withColumn("field", lit("positions"))
    val c = graft.graph.GraphOps.perAtomFieldStats(systems, "charges")
      .withColumn("field", lit("charges"))
    p.unionByName(c)
      .select(col("field"), col("n"),
        rnd("mean", 4).as("mean"), rnd("var_pop", 4).as("var_pop"),
        rnd("min", 4).as("min"), rnd("max", 4).as("max"))
      .orderBy("field")
  }

  /** ASELMDBSource round trip (`domains/atm/sources/aselmdb.py:647,806`):
    * embeddings → ASE JSON rows (numpy arrays in `__ndarray__` form) →
    * executor-built LMDB shard files → page-walk read-back → typed systems.
    * Values survive exactly: float→double casts and Double↔string JSON
    * round-trips are lossless, so the oracle mirrors straight off the
    * original embeddings parquet.
    */
  q("q_aselmdb_roundtrip",
      """SELECT vec_id AS sys_id,
        |  CAST(len(embedding) AS BIGINT) AS n_atoms,
        |  CAST(len(list_distinct(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 4) + 5 AS BIGINT)))) AS BIGINT) AS n_species,
        |  round(CAST(embedding[1] AS DOUBLE) + 1e-9, 4) AS energy,
        |  round(list_sum(embedding::DOUBLE[]) + 1e-9, 4) AS sum_pos
        |FROM embeddings ORDER BY sys_id""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val json = emb.select(col("vec_id").cast("long").as("row_id"),
      concat(
        lit("{\"numbers\":{\"__ndarray__\":[["), size(col("embedding")),
        lit("],\"int64\",["),
        concat_ws(",", transform(col("embedding"),
          x => (floor(x.cast("double") * 4) + 5).cast("long").cast("string"))),
        lit("]]},\"positions\":{\"__ndarray__\":[["), size(col("embedding")),
        lit("],\"float64\",["),
        concat_ws(",", transform(col("embedding"),
          x => x.cast("double").cast("string"))),
        lit("]]},\"energy\":"),
        col("embedding")(0).cast("double").cast("string"), lit("}")).as("json"))
      .repartition(4) // several LMDB shards, several branch/overflow layouts
    val out = freshTmpDir("graft_ase_rt", dir)
    graft.sinks.AseLmdbSink.write(json, out)
    // DSv2 relation: pruning `json` away skips the zlib inflate entirely
    // (Dsv2SourcesSpec); this query decodes it for the systems table
    val sys = graft.sources.AseLmdbSource.systems(
      s.read.format("graft.sources.AseLmdbDataSource").option("path", out).load())
    sys.select(col("sys_id"),
      size(col("atomic_numbers")).cast("long").as("n_atoms"),
      size(array_distinct(col("atomic_numbers"))).cast("long").as("n_species"),
      rnd("energy", 4).as("energy"),
      rnd(aggregate(col("positions"), lit(0.0), (acc, x) => acc + x), 4).as("sum_pos"))
      .orderBy("sys_id")
  }

  /** RandomDataArraySource (`da/sources/random.py:39`): the grid contract —
    * per (sample, variable): cell count, the 1 h/index time coordinate, and
    * the exact linspace lat/lon coordinate sums (lat 90 → -90 inclusive,
    * lon [0, 360) half-open). The seeded value stream is pinned in
    * RandomMeshSourceSpec.
    */
  q("q_random_dataarray",
    // Grid contract: 19×36 cells per (sample, variable); time = 2020-01-01
    // + 1 h/index; lat linspace 90→-90 sums to exactly 0 across the grid
    // (symmetric, integral values), lon = lo·10 sums to 19·6300.
      """WITH g AS (SELECT s.range AS si, v.v
        |  FROM range(0, 3) s, (SELECT unnest(['u10m','v10m','t2m']) AS v) v)
        |SELECT CAST(si AS BIGINT) AS sample_idx, v AS variable,
        |  CAST(684 AS BIGINT) AS n_cells,
        |  strftime(TIMESTAMP '2020-01-01 00:00:00' + INTERVAL (si) HOUR,
        |           '%Y-%m-%d %H:%M:%S') AS time,
        |  round(0.0 + 1e-9, 4) AS sum_lat,
        |  round(119700.0 + 1e-9, 4) AS sum_lon
        |FROM g ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    graft.sources.RandomSynthetic.dataArrays(s, nSamples = 3, nLat = 19,
      nLon = 36, variables = Seq("u10m", "v10m", "t2m"), seed = 5L)
      .groupBy(col("sample_idx"), col("variable"))
      .agg(count(lit(1)).as("n_cells"),
        date_format(max(col("time")), "yyyy-MM-dd HH:mm:ss").as("time"),
        rnd(sum("lat"), 4).as("sum_lat"), rnd(sum("lon"), 4).as("sum_lon"))
      .orderBy("sample_idx", "variable")
  }

  /** RandomAtomicSource (`atm/sources/random.py:39`): the structural
    * contract — atom counts, atomic numbers inside the common-element set,
    * positions inside the 10 Å box, energies in the DFT range, the cubic
    * cell — as per-sample gates. The seeded streams are pinned in
    * RandomMeshSourceSpec.
    */
  q("q_random_atoms",
    // Structural gates over the seeded atomic generator.
      """SELECT CAST(s.range AS BIGINT) AS sample_idx,
        |  CAST(50 AS BIGINT) AS n_atoms, CAST(1225 AS BIGINT) AS sum_atom_id,
        |  1 AS z_in_set, 1 AS pos_in_box, 1 AS energy_in_range,
        |  1 AS six_stresses, CAST(10.0 AS DOUBLE) AS cell, 0 AS pbc
        |FROM range(0, 4) s ORDER BY sample_idx""".stripMargin) { (s, dir) =>
    val (atoms, systems) = graft.sources.RandomSynthetic.atoms(
      s, nSamples = 4, nAtoms = 50, seed = 3L)
    val zs = graft.sources.RandomSynthetic.Elements.map(lit(_))
    atoms.groupBy(col("sample_idx"))
      .agg(count(lit(1)).as("n_atoms"),
        sum(col("atom_id")).as("sum_atom_id"),
        min(col("atomic_number").isin(zs.toIndexedSeq: _*).cast("int")).as("z_in_set"),
        (min(least(col("x"), col("y"), col("z"))) >= 0 &&
          max(greatest(col("x"), col("y"), col("z"))) < 10.0).cast("int").as("pos_in_box"))
      .join(systems.select(col("sample_idx"),
        (col("energy") >= -500.0 && col("energy") < -100.0).cast("int").as("energy_in_range"),
        (size(col("stresses")) === 6).cast("int").as("six_stresses"),
        col("cell"), col("pbc").cast("int").as("pbc")), Seq("sample_idx"))
      .orderBy("sample_idx")
  }

  /** RandomMeshSource (custom DSv2, one partition per mesh index): the
    * structural contract — exactly `points_per_mesh` rows per mesh with
    * dense point ids — checked against a pure generator oracle; the
    * splitmix64 value stream itself is pinned in RandomMeshSourceSpec.
    */
  q("q_random_mesh",
      """SELECT CAST(m.range AS BIGINT) AS mesh_id, CAST(500 AS BIGINT) AS n_points,
        |  CAST(0 AS BIGINT) AS min_pid, CAST(499 AS BIGINT) AS max_pid,
        |  CAST(124750 AS BIGINT) AS sum_pid
        |FROM range(0, 6) m ORDER BY mesh_id""".stripMargin) { (s, dir) =>
    s.read.format("graft.sources.RandomMeshSource")
      .option("n_meshes", 6).option("points_per_mesh", 500).option("seed", 7)
      .load()
      .groupBy(col("mesh_id"))
      .agg(count(lit(1)).as("n_points"),
        min(col("point_id")).as("min_pid"),
        max(col("point_id")).as("max_pid"),
        sum(col("point_id")).as("sum_pid"))
      .orderBy("mesh_id")
  }

  /** Tetrahedral MeshQualityFilter report (`quality.py:180-262,648`): tets
    * assembled from embeddings (4 consecutive vectors = 1 tet, 3 meshes),
    * aspect / signed-volume / signed-scaled-Jacobian statistics. The oracle
    * mirrors the exact arithmetic ORDER of the Geometry kernels (IEEE ops in
    * identical order ⇒ bit-equal per-cell values; aggregate means are
    * epsilon-round-guarded). Dihedral-angle columns are spec-pinned in
    * MeshSpec instead (acos + outward-normal sign machinery has no practical
    * SQL mirror): the regular-tet pins, and "tetDihedralAngles: corner tet
    * pins the edge order …" plus the corner/sliver report spec, which fix
    * the edge order and the degenerate count.
    */
  q("q_tet_quality",
    // Mirrors the Geometry tet kernels with IDENTICAL IEEE operation order
    // (edge norms, triple product, aspect/vol/jac) so per-cell values are
    // bit-equal; only the aggregate means rely on the epsilon round guard.
      """WITH p AS (SELECT vec_id // 4 AS tet, CAST(vec_id % 4 AS INT) AS pos,
        |    CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y,
        |    CAST(embedding[3] AS DOUBLE) AS z
        |  FROM embeddings),
        |w AS (SELECT tet % 3 AS mesh_id, tet,
        |    max(CASE WHEN pos=0 THEN x END) AS x0, max(CASE WHEN pos=0 THEN y END) AS y0, max(CASE WHEN pos=0 THEN z END) AS z0,
        |    max(CASE WHEN pos=1 THEN x END) AS x1, max(CASE WHEN pos=1 THEN y END) AS y1, max(CASE WHEN pos=1 THEN z END) AS z1,
        |    max(CASE WHEN pos=2 THEN x END) AS x2, max(CASE WHEN pos=2 THEN y END) AS y2, max(CASE WHEN pos=2 THEN z END) AS z2,
        |    max(CASE WHEN pos=3 THEN x END) AS x3, max(CASE WHEN pos=3 THEN y END) AS y3, max(CASE WHEN pos=3 THEN z END) AS z3
        |  FROM p GROUP BY 1, 2 HAVING count(*) = 4),
        |e AS (SELECT mesh_id,
        |    sqrt((x1-x0)*(x1-x0)+(y1-y0)*(y1-y0)+(z1-z0)*(z1-z0)) AS l01,
        |    sqrt((x2-x0)*(x2-x0)+(y2-y0)*(y2-y0)+(z2-z0)*(z2-z0)) AS l02,
        |    sqrt((x3-x0)*(x3-x0)+(y3-y0)*(y3-y0)+(z3-z0)*(z3-z0)) AS l03,
        |    sqrt((x2-x1)*(x2-x1)+(y2-y1)*(y2-y1)+(z2-z1)*(z2-z1)) AS l12,
        |    sqrt((x3-x1)*(x3-x1)+(y3-y1)*(y3-y1)+(z3-z1)*(z3-z1)) AS l13,
        |    sqrt((x3-x2)*(x3-x2)+(y3-y2)*(y3-y2)+(z3-z2)*(z3-z2)) AS l23,
        |    ((x1-x0)*((y2-y0)*(z3-z0)-(z2-z0)*(y3-y0))
        |     +(y1-y0)*((z2-z0)*(x3-x0)-(x2-x0)*(z3-z0))
        |     +(z1-z0)*((x2-x0)*(y3-y0)-(y2-y0)*(x3-x0))) AS trip
        |  FROM w),
        |c AS (SELECT mesh_id,
        |    greatest(l01,l02,l03,l12,l13,l23)/(least(l01,l02,l03,l12,l13,l23)+1e-30) AS aspect,
        |    trip/6.0 AS vol,
        |    trip/(l01*l02*l03+1e-30) AS jac
        |  FROM e)
        |SELECT mesh_id, count(*) AS n_cells,
        |  round(min(aspect)+1e-9,4) AS aspect_min,
        |  round(max(aspect)+1e-9,4) AS aspect_max,
        |  round(avg(aspect)+1e-9,4) AS aspect_mean,
        |  round(min(vol)+1e-9,6) AS vol_min,
        |  round(max(vol)+1e-9,6) AS vol_max,
        |  round(avg(vol)+1e-9,6) AS vol_mean,
        |  round(stddev_pop(vol)+1e-9,6) AS vol_std,
        |  CAST(sum(CASE WHEN vol < 0 THEN 1 ELSE 0 END) AS BIGINT) AS vol_n_inverted,
        |  round(min(jac)+1e-9,6) AS jac_min,
        |  round(max(jac)+1e-9,6) AS jac_max,
        |  round(avg(jac)+1e-9,6) AS jac_mean,
        |  CAST(sum(CASE WHEN jac < 0 THEN 1 ELSE 0 END) AS BIGINT) AS jac_n_inverted,
        |  CAST(sum(CASE WHEN abs(jac) < 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS jac_n_poor
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val tet = (col("vec_id") / 4).cast("long")
    val pts = emb.select((tet % 3).as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    val cls = emb.select(tet.as("tet"), col("vec_id").cast("long").as("pid"))
      .groupBy("tet")
      .agg(sort_array(collect_list(col("pid"))).as("vertices"), count(lit(1)).as("nv"))
      .filter(col("nv") === 4)
      .select((col("tet") % 3).as("mesh_id"), col("tet").as("cell_id"), col("vertices"))
    graft.mesh.MeshOps.tetQualityReport(pts, cls)
      .select(col("mesh_id"), col("n_cells"),
        rnd("geom_min_aspect_ratio", 4).as("aspect_min"),
        rnd("geom_max_aspect_ratio", 4).as("aspect_max"),
        rnd("geom_mean_aspect_ratio", 4).as("aspect_mean"),
        rnd("vol_min", 6).as("vol_min"),
        rnd("vol_max", 6).as("vol_max"),
        rnd("vol_mean", 6).as("vol_mean"),
        rnd("vol_std", 6).as("vol_std"),
        col("vol_n_inverted"),
        rnd("jac_min", 6).as("jac_min"),
        rnd("jac_max", 6).as("jac_max"),
        rnd("jac_mean", 6).as("jac_mean"),
        col("jac_n_inverted"), col("jac_n_poor"))
      .orderBy("mesh_id")
  }

  /** Full VTU sink→source cycle in the production layout (appended raw +
    * vtkZLibDataCompressor blocks, the format nearly all real-world VTU
    * uses): meshes derived from the embeddings table, written as
    * appended-zlib .vtu, re-read by `VtkXmlSource`, then aggregated. Binary
    * Float64 is bit-exact through the cycle, so the oracle can compute the
    * same aggregates straight from the parquet table.
    */
  q("q_vtu_roundtrip",
    // Mirrors q_vtu_roundtrip WITHOUT the file cycle: the appended-zlib VTU
    // write→read is bit-exact for Float64, so aggregates over the re-read
    // mesh equal aggregates over the source parquet.
      """WITH p AS (SELECT vec_id % 4 AS mesh_id,
        |  CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[4] AS DOUBLE) AS v
        |  FROM embeddings)
        |SELECT mesh_id, count(*) AS n_points, count(*) // 3 AS n_cells,
        |  round(sum(x) + 1e-6, 2) AS sum_x, round(sum(v) + 1e-6, 2) AS sum_v
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val pts = emb.select((col("vec_id") % 4).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    // cells: consecutive point triples per mesh (leftover <3 group dropped)
    val w = Window.partitionBy("mesh_id").orderBy("point_id")
    val cls = pts
      .withColumn("g", ((row_number().over(w) - 1) / 3).cast("long"))
      .groupBy(col("mesh_id"), col("g").as("cell_id"))
      .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
        count(lit(1)).as("nv"))
      .filter(col("nv") === 3).drop("nv")
    val pd = emb.select((col("vec_id") % 4).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"), lit("v").as("field"),
      col("embedding")(3).cast("double").as("value"))
    val out = freshTmpDir("graft_vtu_rt", dir)
    graft.sinks.VtuSink.write(pts, cls, pd, out, format = "appended-zlib")

    // read back through the DSv2 relation: Catalyst derives the array
    // pruning per branch (the n_points/sum_x branch decodes Points only,
    // the sum_v branch decodes only the "v" array) — Dsv2SourcesSpec pins
    // that the pruning truly reaches the parser
    val wide = s.read.format("graft.sources.VtuDataSource")
      .option("path", out).load()
    val rc = s.read.format("graft.sources.VtuDataSource")
      .option("path", out).option("table", "cells").load()
    def meshOf = regexp_extract(col("mesh_id"), "mesh_(\\d+)\\.vtu", 1).cast("long")
    val np = wide.groupBy(meshOf.as("mesh_id"))
      .agg(count(lit(1)).as("n_points"), sum("x").as("sx"))
    val nc = rc.groupBy(meshOf.as("mesh_id")).agg(count(lit(1)).as("n_cells"))
    val sv = wide.groupBy(meshOf.as("mesh_id")).agg(sum(col("v")).as("sv"))
    np.join(nc, Seq("mesh_id")).join(sv, Seq("mesh_id"))
      .select(col("mesh_id"), col("n_points"), col("n_cells"),
        rnd(col("sx"), 2).as("sum_x"), rnd(col("sv"), 2).as("sum_v"))
      .orderBy("mesh_id")
  }

  /** DrivAerML multi-part volume assembly (`drivaerml.py:275-301,624-733`):
    * meshes written as VTU, byte-sharded into the `run_<i>/
    * volume_<i>.vtu.NN.part` layout, re-assembled by `DrivAerMlSource`
    * (contiguity-checked concat, one task per run) and aggregated. The
    * assembled bytes are identical to the written file, so the oracle is
    * the same parquet-side mirror as q_vtu_roundtrip.
    */
  q("q_volume_assembly",
    // Assembly is byte-identity, so the mirror is q_vtu_roundtrip's.
      """WITH p AS (SELECT vec_id % 4 AS mesh_id,
        |  CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[4] AS DOUBLE) AS v
        |  FROM embeddings)
        |SELECT mesh_id, count(*) AS n_points, count(*) // 3 AS n_cells,
        |  round(sum(x) + 1e-6, 2) AS sum_x, round(sum(v) + 1e-6, 2) AS sum_v
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val root = freshTmpDir("graft_dml_runs", dir)
    drivaerFixture(s, dir, root)
    drivaerSummary(s, root)
  }

  /** The DrivAerML sharded run layout shared by q_volume_assembly (local)
    * and q_drivaerml_fetch (over loopback HTTP): 4 meshes written as VTU
    * and byte-sharded into `run_<i>/volume_<i>.vtu.NN.part` files small
    * enough (1500 B) that every run has several parts.
    */
  private def drivaerFixture(s: SparkSession, dir: String, root: String): Unit = {
    val emb = Tables.embeddings(s, dir)
    val pts = emb.select((col("vec_id") % 4).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"))
    val w = Window.partitionBy("mesh_id").orderBy("point_id")
    val cls = pts
      .withColumn("g", ((row_number().over(w) - 1) / 3).cast("long"))
      .groupBy(col("mesh_id"), col("g").as("cell_id"))
      .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
        count(lit(1)).as("nv"))
      .filter(col("nv") === 3).drop("nv")
    val pd = emb.select((col("vec_id") % 4).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"), lit("v").as("field"),
      col("embedding")(3).cast("double").as("value"))
    val flat = freshTmpDir("graft_dml_flat", dir)
    graft.sinks.VtuSink.write(pts, cls, pd, flat, format = "appended-zlib")
    // small shards force several .NN.part files per run
    graft.sources.DrivAerMlSource.shardToRunLayout(s, flat, root, partBytes = 1500)
  }

  private def drivaerSummary(s: SparkSession, root: String): DataFrame = {
    val (rp, rc, rpd) = graft.sources.DrivAerMlSource.readVolume(s, root)
    def runOf = regexp_extract(col("mesh_id"), "run_(\\d+)", 1).cast("long")
    val np = rp.groupBy(runOf.as("mesh_id"))
      .agg(count(lit(1)).as("n_points"), sum("x").as("sx"))
    val nc = rc.groupBy(runOf.as("mesh_id")).agg(count(lit(1)).as("n_cells"))
    val sv = rpd.filter(col("field") === "v")
      .groupBy(runOf.as("mesh_id")).agg(sum("value").as("sv"))
    np.join(nc, Seq("mesh_id")).join(sv, Seq("mesh_id"))
      .select(col("mesh_id"), col("n_points"), col("n_cells"),
        rnd(col("sx"), 2).as("sum_x"), rnd(col("sv"), 2).as("sum_v"))
      .orderBy("mesh_id")
  }

  /** DrivAerML fetch→assemble END TO END over a real transport
    * (`drivaerml.py:79`'s HF download of multi-part ~50 GB volumes, minus
    * only the remote hostname): the sharded `.NN.part` run layout is
    * published through a loopback HTTP server, staged via the checksummed
    * [[graft.sources.HttpFetcher]], and assembled from the cache by the
    * same contiguity-checked reader as q_volume_assembly. `staged_multi`
    * pins that MORE objects than runs traveled — i.e. the multi-part
    * layout itself crossed the transport, not a pre-joined file.
    */
  q("q_drivaerml_fetch",
    // Fetch e2e mirror: values identical to q_volume_assembly (transport
    // must not change the assembled bytes); staged_multi pins that more
    // objects than runs crossed the wire (the multi-part layout itself).
      """WITH p AS (SELECT vec_id % 4 AS mesh_id,
        |  CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[4] AS DOUBLE) AS v
        |  FROM embeddings)
        |SELECT mesh_id, count(*) AS n_points, count(*) // 3 AS n_cells,
        |  round(sum(x) + 1e-6, 2) AS sum_x, round(sum(v) + 1e-6, 2) AS sum_v,
        |  1 AS staged_multi
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val srv = freshTmpDir("graft_dml_srv", dir)
    drivaerFixture(s, dir, srv)
    val (root, nStaged) = stageOverLoopback(srv)
    drivaerSummary(s, root)
      .withColumn("staged_multi", lit(if (nStaged > 4) 1 else 0))
  }

  /** AhmedML multi-mode DomainMesh assembly (`ahmedml.py:379-394,600-728`):
    * the dataset's exact run layout (volume VTU with CellData fields,
    * boundary VTP with PointData, STL geometry, slice planes, CSV
    * metadata) is fixtured from the embeddings table, then read back
    * through every mode — `readDomain` (interior = volume cell centroids
    * carrying cell data as point data, fp32 downcast; boundary kept as the
    * `surface` part), `readStl`, `readSlices`, and the CSV global-data
    * attach (`-`→`_` keys, `varref_` prefix, missing geo file for runs
    * 1..2 → NULL). The fp32 casts are lossless for the raw embedding
    * values (parquet float32), so only the centroid/cell-sum derivations
    * carry rounding, absorbed by the epsilon round guard.
    */
  q("q_ahmedml_multi",
    // Interior = volume cell centroids (fp32) with the cell's data as point
    // data; surface = boundary VTP; globals = exact-fraction CSV constants.
    // Embedding elements are parquet float32, so only the centroid avg and
    // the per-cell sum round through REAL.
      """WITH b AS (SELECT vec_id % 3 AS run_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[4] AS DOUBLE) AS v,
        |    (row_number() OVER (PARTITION BY vec_id % 3 ORDER BY vec_id) - 1) // 3 AS cell_id
        |  FROM embeddings),
        |c AS (SELECT run_id, cell_id,
        |    CAST(CAST(avg(x) AS REAL) AS DOUBLE) AS cx,
        |    CAST(CAST(sum(v) AS REAL) AS DOUBLE) AS p
        |  FROM b GROUP BY 1, 2 HAVING count(*) = 3),
        |i AS (SELECT run_id, count(*) AS n_interior,
        |    round(sum(cx) + 1e-6, 2) AS sum_cx,
        |    round(sum(p) + 1e-6, 2) AS sum_p,
        |    count(*) AS n_stl_facets
        |  FROM c GROUP BY 1),
        |s AS (SELECT run_id, count(*) AS n_surface_points,
        |    round(sum(v) + 1e-6, 2) AS sum_cp
        |  FROM b GROUP BY 1)
        |SELECT run_id, n_interior, sum_cx, sum_p, n_surface_points, sum_cp,
        |  n_stl_facets, CAST(2 AS BIGINT) AS n_slices,
        |  0.25 + run_id / 8.0 AS cd, run_id / 4.0 AS varref_cd,
        |  CASE WHEN run_id = 0 THEN 25.0 END AS slant_angle
        |FROM i JOIN s USING (run_id) ORDER BY run_id""".stripMargin) { (s, dir) =>
    val root = freshTmpDir("graft_ahmedml", dir)
    ahmedFixture(s, dir, root)
    ahmedSummary(s, root)
  }

  /** The AhmedML run-directory fixture shared by q_ahmedml_multi (local
    * filesystem) and q_ahmedml_fetch (published over loopback HTTP and
    * staged through the checksummed Fetcher): 3 runs × (volume VTU +
    * boundary VTP + STL + 2 slice VTPs + force/moment CSVs, with run 0
    * alone carrying geo_parameters — runs 1-2 exercise the missing-file
    * skip).
    */
  private def ahmedFixture(s: SparkSession, dir: String, root: String): Unit = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val base = emb.select((col("vec_id") % 3).cast("long").as("mesh_id"),
      col("vec_id").cast("long").as("point_id"),
      col("embedding")(0).cast("double").as("x"),
      col("embedding")(1).cast("double").as("y"),
      col("embedding")(2).cast("double").as("z"),
      col("embedding")(3).cast("double").as("v"))
    val w = Window.partitionBy("mesh_id").orderBy("point_id")
    val cls = base
      .withColumn("g", ((row_number().over(w) - 1) / 3).cast("long"))
      .groupBy(col("mesh_id"), col("g").as("cell_id"))
      .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
        sum("v").as("p"), count(lit(1)).as("nv"))
      .filter(col("nv") === 3)
    val cells = cls.select("mesh_id", "cell_id", "vertices")
    val cellData = cls.select(col("mesh_id"), col("cell_id"),
      lit("p").as("field"), col("p").as("value"))
    val pts = base.select("mesh_id", "point_id", "x", "y", "z")
    val pd = base.select(col("mesh_id"), col("point_id"),
      lit("cp").as("field"), col("v").as("value"))
    val noPd = Seq.empty[(Long, Long, String, Double)]
      .toDF("mesh_id", "point_id", "field", "value")

    // The five mesh writes are independent jobs over disjoint output paths
    // — submit them from a small pool so each job's straggler tail
    // back-fills with the next job's tasks (guide §2.6) instead of running
    // five scan+collect_list pipelines strictly end to end.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val writes = Seq[() => Unit](
        () => { graft.sinks.VtuSink.write(pts, cells, noPd, root,
          format = "appended-zlib", cellData = Some(cellData),
          nameTemplate = "run_{id}/volume_{id}.vtu"); () },
        () => { graft.sinks.VtuSink.write(pts, cells, pd, root,
          format = "appended-zlib",
          nameTemplate = "run_{id}/boundary_{id}.vtp", polyData = true); () },
        () => { graft.sinks.StlSink.write(pts, cells, root,
          nameTemplate = "run_{id}/ahmed_{id}.stl"); () },
        () => { graft.sinks.VtuSink.write(pts, cells, pd, root,
          nameTemplate = "run_{id}/slices/xNormal-autocfd-{id}.vtp",
          polyData = true); () },
        () => { graft.sinks.VtuSink.write(pts, cells, pd, root,
          nameTemplate = s"run_{id}/slices/yNormal-autocfd-{id}.vtp",
          polyData = true); () })
      val futs = writes.map(w => scala.concurrent.Future(w())(ec))
      // Await ALL futures (not sequentially first-to-last): if one write
      // fails, the others must still be awaited before leaving the block,
      // or the downstream CSV writes and reads of `root` would race jobs
      // still running in the pool on the failure path.
      val all = scala.concurrent.Future.sequence(futs)(
        scala.collection.BuildFrom.buildFromIterableOps, ec)
      try scala.concurrent.Await.result(all,
        scala.concurrent.duration.Duration.Inf)
      catch {
        case e: Throwable =>
          pool.shutdownNow()
          pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          throw e
      }
    } finally pool.shutdown()
    (0 until 3).foreach { r =>
      graft.sources.AhmedMlSource.writeCsv(s, s"$root/run_$r/force_mom_$r.csv",
        Seq("cd" -> (0.25 + r / 8.0), "cl" -> (-r / 16.0)))
      graft.sources.AhmedMlSource.writeCsv(s,
        s"$root/run_$r/force_mom_varref_$r.csv", Seq("cd" -> (r / 4.0)))
      if (r == 0) // runs 1..2 exercise the missing-file skip
        graft.sources.AhmedMlSource.writeCsv(s,
          s"$root/run_$r/geo_parameters_$r.csv", Seq("slant-angle" -> 25.0))
    }
  }

  /** The 4-mode AhmedML domain summary over a run-directory root — the
    * read side of both ahmedml gates.
    */
  private def ahmedSummary(s: SparkSession, root: String): DataFrame = {
    val d = graft.sources.AhmedMlSource.readDomain(s, root)
    val interior = d.interiorPoints.groupBy("run_id")
      .agg(count(lit(1)).as("n_interior"),
        sum(col("x").cast("double")).as("sum_cx"))
    val ipd = d.interiorPointData.filter(col("field") === "p")
      .groupBy("run_id").agg(sum(col("value").cast("double")).as("sum_p"))
    val surf = d.surfacePoints.groupBy("run_id")
      .agg(count(lit(1)).as("n_surface_points"))
    val scp = d.surfacePointData.filter(col("field") === "cp")
      .groupBy("run_id").agg(sum(col("value").cast("double")).as("sum_cp"))
    val (_, stlC, _) = graft.sources.AhmedMlSource.readStl(s, root)
    val stl = stlC.groupBy("run_id").agg(count(lit(1)).as("n_stl_facets"))
    val (slp, _, _) = graft.sources.AhmedMlSource.readSlices(s, root)
    val slices = slp.select("run_id", "slice_name").distinct()
      .groupBy("run_id").agg(count(lit(1)).as("n_slices"))
    val gd = d.globalData.groupBy("run_id")
      .pivot("key", Seq("cd", "varref_cd", "slant_angle"))
      .agg(first(col("value").cast("double")))
    interior.join(ipd, Seq("run_id")).join(surf, Seq("run_id"))
      .join(scp, Seq("run_id")).join(stl, Seq("run_id"))
      .join(slices, Seq("run_id")).join(gd, Seq("run_id"), "left")
      .select(col("run_id"), col("n_interior"), rnd("sum_cx", 2).as("sum_cx"),
        rnd("sum_p", 2).as("sum_p"), col("n_surface_points"),
        rnd("sum_cp", 2).as("sum_cp"), col("n_stl_facets"), col("n_slices"),
        col("cd"), col("varref_cd"), col("slant_angle"))
      .orderBy("run_id")
  }

  /** AhmedML fetch→assemble END TO END over a real transport
    * (`ahmedml.py:284-312`'s HF download path, minus only the remote
    * hostname): the full 3-run dataset layout — nested slice dirs, CSVs
    * and all — is PUBLISHED through a loopback HTTP server, staged by
    * [[graft.sources.HttpFetcher.stage]] with per-object SHA-256
    * verification into the content-addressed cache (the reference's
    * skip-if-verified behavior), and only then assembled through the
    * same 4-mode domain reader as q_ahmedml_multi. n_staged pins the
    * 22-object manifest that actually traveled over HTTP.
    */
  q("q_ahmedml_fetch",
    // Fetch e2e mirror: values identical to q_ahmedml_multi (transport
    // must not change data); n_staged pins the 22-object manifest (3 runs
    // × 7 files + run 0's geo_parameters) that traveled over HTTP.
      """WITH b AS (SELECT vec_id % 3 AS run_id,
        |    CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[4] AS DOUBLE) AS v,
        |    (row_number() OVER (PARTITION BY vec_id % 3 ORDER BY vec_id) - 1) // 3 AS cell_id
        |  FROM embeddings),
        |c AS (SELECT run_id, cell_id,
        |    CAST(CAST(avg(x) AS REAL) AS DOUBLE) AS cx,
        |    CAST(CAST(sum(v) AS REAL) AS DOUBLE) AS p
        |  FROM b GROUP BY 1, 2 HAVING count(*) = 3),
        |i AS (SELECT run_id, count(*) AS n_interior,
        |    round(sum(cx) + 1e-6, 2) AS sum_cx,
        |    round(sum(p) + 1e-6, 2) AS sum_p,
        |    count(*) AS n_stl_facets
        |  FROM c GROUP BY 1),
        |s AS (SELECT run_id, count(*) AS n_surface_points,
        |    round(sum(v) + 1e-6, 2) AS sum_cp
        |  FROM b GROUP BY 1)
        |SELECT run_id, n_interior, sum_cx, sum_p, n_surface_points, sum_cp,
        |  n_stl_facets, CAST(2 AS BIGINT) AS n_slices,
        |  0.25 + run_id / 8.0 AS cd, run_id / 4.0 AS varref_cd,
        |  CASE WHEN run_id = 0 THEN 25.0 END AS slant_angle,
        |  22 AS n_staged
        |FROM i JOIN s USING (run_id) ORDER BY run_id""".stripMargin) { (s, dir) =>
    val srv = freshTmpDir("graft_ahmed_srv", dir)
    ahmedFixture(s, dir, srv)
    val (root, nStaged) = stageOverLoopback(srv)
    ahmedSummary(s, root).withColumn("n_staged", lit(nStaged))
  }

  /** MeshSink naming-template layout (`mesh_writer.py:71,113-146`): write
    * partitioned by the template column, then re-read and recover the key
    * FROM THE FILE PATHS (`input_file_name` + regexp) — the oracle checks
    * that the on-disk layout itself carries the right rows per key.
    */
  q("q_mesh_sink_layout",
      """SELECT l_returnflag AS flag, count(*) AS n_rows,
        |  round(sum(l_quantity) + 1e-6, 2) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_meshsink", dir)
    val li = Tables.lineitem(s, dir).select(col("l_returnflag").as("flag"),
      col("l_quantity"))
    graft.sinks.Sinks.partitionedParquet(li, out, Seq("flag"))
    s.read.parquet(out)
      .withColumn("_file", input_file_name())
      .groupBy(regexp_extract(col("_file"), "flag=([^/]+)/", 1).as("flag"))
      .agg(count(lit(1)).as("n_rows"), rnd(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("flag")
  }

  /** GridSidecarSink (`grid_sidecar.py:50`): one zarr array per field beside
    * the mesh outputs. Field names are discovered from the STORE LAYOUT (not
    * hardcoded), each array read back dense (fills = 0), aggregated per
    * field against the source events.
    */
  q("q_grid_sidecar",
    // 512 = the dense 16x32 grid each field's sidecar array materializes
    // (absent cells hold fill 0.0, which leaves the sums unchanged).
      """SELECT event_type AS field, CAST(512 AS BIGINT) AS n_cells,
        |  round(sum(value) + 1e-6, 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_sidecar", dir)
    val g = Tables.events(s, dir)
      .select(col("event_type").as("field"), (col("user_id") % 16).as("i"),
        (col("event_id") % 32).as("j"), col("value"))
      .groupBy("field", "i", "j").agg(sum("value").as("value"))
    graft.sinks.Sinks.gridSidecar(g, out, shape = (16L, 32L), chunks = (8, 8))
    // store-layout discovery: one dir per field (bounded by the field count)
    val root = new java.io.File(out)
    val fields = root.listFiles().filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(_.getName).sorted
    fields.map { f =>
      graft.sinks.ZarrStore.readArray2D(s, s"$out/$f").withColumn("field", lit(f))
    }.reduce(_ unionByName _)
      .groupBy("field")
      .agg(count(lit(1)).as("n_cells"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("field")
  }

  /** AnsysRSTSource curator contract (`ansys_rst.py:187-310`): decoded
    * result rows (the DPF boundary) → subset selection, known-result
    * location registry (unknown defaults nodal), vector-component field
    * naming, and the nodal/elemental routing split — summarized per routed
    * field. Results synthesized from events; `stress` and the unknown
    * `custom_result` are OUTSIDE the subset, so their absence from the
    * output is part of what the oracle checks.
    */
  q("q_ansys_routing",
      """WITH raw AS (SELECT
        |    ['temperature','displacement','heat_flux','stress','custom_result']
        |      [CAST(event_id % 5 AS INT) + 1] AS result,
        |    CASE WHEN event_id % 2 = 0 THEN NULL
        |         ELSE CAST(event_id % 3 AS VARCHAR) END AS component,
        |    value
        |  FROM events),
        |f AS (SELECT * FROM raw
        |  WHERE result IN ('temperature','displacement','heat_flux')),
        |n AS (SELECT
        |    CASE WHEN result IN ('heat_flux','stress','elastic_strain')
        |         THEN 'elemental' ELSE 'nodal' END AS loc,
        |    CASE WHEN component IS NULL THEN result
        |         ELSE result || '_' || component END AS field,
        |    value
        |  FROM f)
        |SELECT loc, field, count(*) AS n, round(sum(value) + 1e-6, 2) AS sum_value
        |FROM n GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val names = Seq("temperature", "displacement", "heat_flux", "stress", "custom_result")
    val raw = Tables.events(s, dir).select(
      (col("user_id") % 3).as("mesh_id"),
      element_at(typedLit(names), (col("event_id") % 5 + 1).cast("int")).as("result"),
      (col("event_id") % 100).as("idx"),
      when(col("event_id") % 2 === 0, lit(null).cast("string"))
        .otherwise((col("event_id") % 3).cast("string")).as("component"),
      col("value"))
    val (pd, cd) = graft.sources.AnsysResults.route(raw,
      subset = Seq("temperature", "displacement", "heat_flux"))
    pd.select(lit("nodal").as("loc"), col("field"), col("value"))
      .unionByName(cd.select(lit("elemental").as("loc"), col("field"), col("value")))
      .groupBy("loc", "field")
      .agg(count(lit(1)).as("n"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("loc", "field")
  }

  /** WallNodeFilter mask (`wall_node.py:68-100`): events as a displacement
    * series (user=node, event sequence=time, value=dx) — keep nodes whose
    * max |d − d₀| ≥ threshold.
    */
  q("q_wall_nodes",
      """WITH d AS (SELECT user_id % 4 AS mesh_id, user_id AS point_id, value,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY event_id) AS v0
        |  FROM events),
        |m AS (SELECT mesh_id, point_id, max(abs(value - v0)) AS md
        |  FROM d GROUP BY 1, 2)
        |SELECT mesh_id, point_id FROM m WHERE md >= 10.0
        |ORDER BY mesh_id, point_id""".stripMargin) { (s, dir) =>
    val disps = Tables.events(s, dir).select(
      (col("user_id") % 4).as("mesh_id"), col("user_id").as("point_id"),
      col("event_id").as("t"), col("value").as("dx"),
      lit(0.0).as("dy"), lit(0.0).as("dz"))
    graft.mesh.MeshOps.deformingNodes(disps, 10.0)
      .orderBy("mesh_id", "point_id")
  }

  /** ERA5 multi-backend routing (`era5.py:377-382`): highest-priority backend
    * wins per key — two derived "backends" over supplier balances.
    */
  q("q_union_priority",
      """WITH b0 AS (SELECT s_suppkey, round(s_acctbal + 1e-6, 2) AS v, 0 AS p
        |  FROM supplier WHERE s_nationkey < 12),
        |b1 AS (SELECT s_suppkey, round(s_acctbal * 2 + 1e-6, 2) AS v, 1 AS p
        |  FROM supplier),
        |u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1),
        |r AS (SELECT s_suppkey, v,
        |  row_number() OVER (PARTITION BY s_suppkey ORDER BY p) AS rn FROM u)
        |SELECT s_suppkey, v FROM r WHERE rn = 1 ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    val b0 = Tables.supplier(s, dir).filter(col("s_nationkey") < 12)
      .select(col("s_suppkey"), rnd(col("s_acctbal"), 2).as("v"))
    val b1 = Tables.supplier(s, dir)
      .select(col("s_suppkey"), rnd(col("s_acctbal") * 2, 2).as("v"))
    RelationalOps.unionHighestPriority(Seq((b0, 0), (b1, 1)), Seq("s_suppkey"))
      .orderBy("s_suppkey")
  }

  /** ERA5 lexicon routing (`era5.py:47-51` registry + `377-382` merge):
    * two derived "backends" speak different variable dialects — backend 0
    * names 2-metre temperature `VAR_2T` (MARS style) and covers only part
    * of the key space (plus a junk variable no lexicon maps); backend 1
    * names it `2t` and adds `10u`. Routing translates to canonical names,
    * drops the unmapped variable, and backend 0 wins where it has data.
    */
  q("q_era5_routing",
    // Lexicon routing mirror: after canonical renaming, t2m keys < 30 come
    // from backend 0 (priority), the rest from backend 1 (doubled sums);
    // u10 only exists in backend 1 (tripled); junk has no lexicon entry.
      """WITH g AS (SELECT user_id % 50 AS k, sum(value) AS sv
        |  FROM events GROUP BY 1)
        |SELECT 't2m' AS variable, k, round(sv + 1e-6, 2) AS value
        |  FROM g WHERE k < 30
        |UNION ALL
        |SELECT 't2m', k, round(sv * 2 + 1e-6, 2) FROM g WHERE k >= 30
        |UNION ALL
        |SELECT 'u10', k, round(sv * 3 + 1e-6, 2) FROM g
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def grid(mult: Double) = ev.groupBy((col("user_id") % 50).as("k"))
      .agg(rnd(sum("value") * mult, 2).as("value"))
    // stage REAL per-variable .nc files (one dir per backend) and read them
    // back through the DSv2 relation — the variable `isin` prefilter pushes
    // into the scan (vars=[...] in the plan), so each backend reads only
    // its lexicon's variables at the decoder, the Catalyst-native form of
    // the reference's `variables` selection (`era5.py:103-382`)
    val out = freshTmpDir("graft_era5_rt", dir)
    def rows(g: DataFrame, v: String) =
      g.select(lit(v).as("variable"), lit(0).as("t"), lit(0).as("i"),
        col("k").cast("int").as("j"), col("value"))
    graft.sinks.NetCdfSink.writeRecordGrids(
      rows(grid(1.0), "VAR_2T").unionByName(rows(grid(1.0), "junk")),
      s"$out/b0", shape = (1, 50), nRecs = 1)
    graft.sinks.NetCdfSink.writeRecordGrids(
      rows(grid(2.0), "2t").unionByName(rows(grid(3.0), "10u")),
      s"$out/b1", shape = (1, 50), nRecs = 1)
    // the lattice is dense (fill 0.0 at absent k), so keep only ks the
    // events actually cover — the oracle recomputes from events alone
    val present = grid(1.0).select(col("k"))
    def rel(sub: String, vars: Seq[String]) =
      s.read.format("graft.sources.NetCdfDataSource")
        .option("path", s"$out/$sub").load()
        .filter(col("variable").isin(vars: _*))
        .select(col("variable"), col("pos").as("k"), col("value"))
        .join(present, Seq("k"), "left_semi")
    // junk stays in b0's frame on purpose: the scan proves multi-variable
    // pushdown and the LEXICON proves the unmapped-variable drop
    val b0 = rel("b0", Seq("VAR_2T", "junk"))
      .filter(col("variable") =!= "VAR_2T" || col("k") < 30)
    val b1 = rel("b1", Seq("2t", "10u"))
    RelationalOps.lexiconRoute(Seq(
      (b0, 0, Map("t2m" -> "VAR_2T")),
      (b1, 1, Map("t2m" -> "2t", "u10" -> "10u"))), "variable", Seq("k"))
      .select(col("variable"), col("k"), col("value"))
      .orderBy("variable", "k")
  }

  /** Publish every regular file under `srv` through a loopback HTTP server
    * and stage the manifest back through [[graft.sources.HttpFetcher]]
    * with SHA-256 verification into the content-addressed cache — the
    * real download→verify→cache transport under the fetch-e2e gates.
    * Returns (staged root, object count). stage() is EAGER, so every
    * object is on local disk (and verified) before the server stops.
    */
  private def stageOverLoopback(srv: String): (String, Int) = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(srv)
    // Exclude Hadoop checksum sidecars (".name.crc") from the manifest:
    // they are transport-local artifacts, not dataset objects, and whether
    // they exist depends on a JVM-global FileSystem flag other sinks
    // mutate (setWriteChecksum) — counting them made n_staged depend on
    // which queries ran earlier in the session.
    val files = java.nio.file.Files.walk(base).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc")).toSeq
      .sortBy(_.toString)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // The default (null) executor serves every request on the dispatch
    // thread — the fetcher now stages from a small pool (guide §2.6), so
    // give the server matching parallelism or the concurrent GETs would
    // re-serialize here.
    val srvPool = java.util.concurrent.Executors.newFixedThreadPool(4)
    server.setExecutor(srvPool)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val rel = ex.getRequestURI.getPath.stripPrefix("/")
        val f = base.resolve(rel).normalize()
        if (f.startsWith(base) && java.nio.file.Files.isRegularFile(f)) {
          val bytes = java.nio.file.Files.readAllBytes(f)
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        } else ex.sendResponseHeaders(404, -1)
        ex.close()
      }
    })
    server.start()
    val root =
      try {
        val port = server.getAddress.getPort
        val manifest = files.map { f =>
          val rel = base.relativize(f).toString
          (s"http://127.0.0.1:$port/$rel", rel)
        }
        // independent per-file hashing — overlap it on the same small pool
        // the transport uses (the manifest digest pass was a sequential
        // read+sha256 of every object before any byte traveled)
        val digPool = java.util.concurrent.Executors.newFixedThreadPool(4)
        val digests =
          try files.map { f =>
            f -> digPool.submit(new java.util.concurrent.Callable[String] {
              override def call(): String =
                java.security.MessageDigest.getInstance("SHA-256")
                  .digest(java.nio.file.Files.readAllBytes(f))
                  .map(b => f"$b%02x").mkString
            })
          }.map { case (f, fut) =>
            base.relativize(f).toString -> fut.get()
          }.toMap
          finally digPool.shutdown()
        new graft.sources.HttpFetcher().stage(manifest, digests)
      } finally { server.stop(0); srvPool.shutdown() }
    (root, files.size)
  }

  /** ERA5 fetch→route→decode END TO END over a real transport
    * (`era5.py:377-382` backend routing atop the actual download layer):
    * the per-variable `.nc` files are PUBLISHED through a loopback HTTP
    * server, fetched by [[graft.sources.HttpFetcher.stage]] with SHA-256
    * verification into the content-addressed cache, and only then decoded
    * through the ranged `NetCdfDataSource` relation with variable pushdown
    * — the same chain a production ERA5 pull takes (download → verify →
    * cache → route → decode), minus nothing but the remote hostname.
    * Routing, lexicons, and the oracle are q_era5_routing's exactly;
    * n_staged pins the manifest (one object per variable per backend).
    */
  q("q_era5_fetch",
    // Fetch e2e mirror: the values are q_era5_routing's exactly (transport
    // must not change data); n_staged pins the 4-object manifest that
    // actually traveled over HTTP (one .nc per variable per backend).
      """WITH g AS (SELECT user_id % 50 AS k, sum(value) AS sv
        |  FROM events GROUP BY 1)
        |SELECT 't2m' AS variable, k, round(sv + 1e-6, 2) AS value, 4 AS n_staged
        |  FROM g WHERE k < 30
        |UNION ALL
        |SELECT 't2m', k, round(sv * 2 + 1e-6, 2), 4 FROM g WHERE k >= 30
        |UNION ALL
        |SELECT 'u10', k, round(sv * 3 + 1e-6, 2), 4 FROM g
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    def grid(mult: Double) = ev.groupBy((col("user_id") % 50).as("k"))
      .agg(rnd(sum("value") * mult, 2).as("value"))
    val srv = freshTmpDir("graft_era5_srv", dir)
    def rows(g: DataFrame, v: String) =
      g.select(lit(v).as("variable"), lit(0).as("t"), lit(0).as("i"),
        col("k").cast("int").as("j"), col("value"))
    graft.sinks.NetCdfSink.writeRecordGrids(
      rows(grid(1.0), "VAR_2T").unionByName(rows(grid(1.0), "junk")),
      s"$srv/b0", shape = (1, 50), nRecs = 1)
    graft.sinks.NetCdfSink.writeRecordGrids(
      rows(grid(2.0), "2t").unionByName(rows(grid(3.0), "10u")),
      s"$srv/b1", shape = (1, 50), nRecs = 1)
    val (root, nStaged) = stageOverLoopback(srv)

    val present = grid(1.0).select(col("k"))
    def rel(sub: String, vars: Seq[String]) =
      s.read.format("graft.sources.NetCdfDataSource")
        .option("path", s"$root/$sub").load()
        .filter(col("variable").isin(vars: _*))
        .select(col("variable"), col("pos").as("k"), col("value"))
        .join(present, Seq("k"), "left_semi")
    val b0 = rel("b0", Seq("VAR_2T", "junk"))
      .filter(col("variable") =!= "VAR_2T" || col("k") < 30)
    val b1 = rel("b1", Seq("2t", "10u"))
    RelationalOps.lexiconRoute(Seq(
      (b0, 0, Map("t2m" -> "VAR_2T")),
      (b1, 1, Map("t2m" -> "2t", "u10" -> "10u"))), "variable", Seq("k"))
      .select(col("variable"), col("k"), col("value"))
      .withColumn("n_staged", lit(nStaged))
      .orderBy("variable", "k")
  }

  /** BoxTunnel boundary generator (`generators.py:70-120`): deterministic
    * six-face vertex grid, summarized per boundary.
    */
  q("q_boundary_box",
      """WITH g AS (SELECT CAST(a.i AS DOUBLE)/7 AS u, CAST(b.j AS DOUBLE)/7 AS v
        |  FROM (SELECT unnest(generate_series(0, 7)) AS i) a,
        |       (SELECT unnest(generate_series(0, 7)) AS j) b),
        |f AS (
        |  SELECT 'inlet' AS boundary, 0.0 AS x, -2.0 + v*4.0 AS y, u*4.0 AS z FROM g
        |  UNION ALL SELECT 'outlet', 10.0, -2.0 + v*4.0, u*4.0 FROM g
        |  UNION ALL SELECT 'wall_ymin', u*10.0, -2.0, v*4.0 FROM g
        |  UNION ALL SELECT 'wall_ymax', u*10.0, 2.0, v*4.0 FROM g
        |  UNION ALL SELECT 'wall_zmin', u*10.0, -2.0 + v*4.0, 0.0 FROM g
        |  UNION ALL SELECT 'wall_zmax', u*10.0, -2.0 + v*4.0, 4.0 FROM g)
        |SELECT boundary, count(*) AS n_vertices,
        |  round(sum(x + y + z) + 1e-9, 4) AS coord_sum,
        |  round(min(x) + 1e-9, 4) AS min_x, round(max(z) + 1e-9, 4) AS max_z
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.mesh.Boundaries.boxTunnel(s, 0.0, 10.0, -2.0, 2.0, 0.0, 4.0, 8)
      .groupBy(col("boundary"))
      .agg(count(lit(1)).as("n_vertices"),
        rnd(sum(col("x") + col("y") + col("z")), 4).as("coord_sum"),
        rnd(min("x"), 4).as("min_x"), rnd(max("z"), 4).as("max_z"))
      .orderBy("boundary")
  }

  /** HemisphereBoundaries (`generators.py:133`, `_geometry.py:217,308`):
    * lattice + freestream inlet/outlet split + symmetry disk. Vertex-id
    * sums pin the shared ids and the inward-winding enforcement; centroid
    * sums pin the lattice coordinates.
    */
  q("q_boundary_hemisphere",
    // The full hemisphere construction mirrored in SQL: same lattice,
    // same centroid/normal/winding expressions, same freestream split.
    // Sub-expressions are parenthesized to match Spark's evaluation order
    // so trig arguments are bit-identical on both sides.
      """WITH strip AS (
        |  SELECT 12 + k AS cell_id, k // 24 AS r, (k % 24) // 2 AS i, k % 2 = 1 AS b
        |  FROM (SELECT unnest(generate_series(0, 71)) AS k)),
        |cells AS (
        |  SELECT k AS cell_id, FALSE AS sym, -1 AS r0, 0 AS i0, 0 AS r1,
        |    k AS i1, 0 AS r2, k + 1 AS i2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS k)
        |  UNION ALL
        |  SELECT cell_id, FALSE, r, CASE WHEN b THEN i + 1 ELSE i END, r + 1, i,
        |    CASE WHEN b THEN r + 1 ELSE r END, i + 1
        |  FROM strip
        |  UNION ALL
        |  SELECT 84 + k, TRUE, -2, 0, 3, k, 3, k + 1
        |  FROM (SELECT unnest(generate_series(0, 11)) AS k)),
        |corners AS (
        |  SELECT cell_id, sym, 0 AS c, r0 AS r, i0 AS i FROM cells
        |  UNION ALL SELECT cell_id, sym, 1, r1, i1 FROM cells
        |  UNION ALL SELECT cell_id, sym, 2, r2, i2 FROM cells),
        |pts AS (
        |  SELECT cell_id, sym, c,
        |    CASE WHEN r = -1 THEN 0 WHEN r = -2 THEN 49
        |         ELSE 1 + r * 12 + (i % 12) END AS vid,
        |    CASE WHEN r < 0 THEN 0.0
        |         ELSE (2.0 * sin((r + 1) * (pi() / 8))) * cos((i % 12) * (2 * pi() / 12)) END AS x,
        |    CASE WHEN r = -1 THEN 2.0 WHEN r = -2 OR r = 3 THEN 0.0
        |         ELSE 2.0 * cos((r + 1) * (pi() / 8)) END AS y,
        |    CASE WHEN r < 0 THEN 0.0
        |         ELSE (2.0 * sin((r + 1) * (pi() / 8))) * sin((i % 12) * (2 * pi() / 12)) END AS z
        |  FROM corners),
        |tri AS (
        |  SELECT cell_id, sym,
        |    max(CASE WHEN c = 0 THEN vid END) AS v0,
        |    max(CASE WHEN c = 1 THEN vid END) AS v1,
        |    max(CASE WHEN c = 2 THEN vid END) AS v2,
        |    max(CASE WHEN c = 0 THEN x END) AS x0, max(CASE WHEN c = 0 THEN y END) AS y0,
        |    max(CASE WHEN c = 0 THEN z END) AS z0,
        |    max(CASE WHEN c = 1 THEN x END) AS x1, max(CASE WHEN c = 1 THEN y END) AS y1,
        |    max(CASE WHEN c = 1 THEN z END) AS z1,
        |    max(CASE WHEN c = 2 THEN x END) AS x2, max(CASE WHEN c = 2 THEN y END) AS y2,
        |    max(CASE WHEN c = 2 THEN z END) AS z2
        |  FROM pts GROUP BY 1, 2),
        |geo AS (
        |  SELECT cell_id, sym, v0, v1, v2,
        |    (x0 + x1 + x2) / 3 AS cx, (y0 + y1 + y2) / 3 AS cy, (z0 + z1 + z2) / 3 AS cz,
        |    (y1 - y0) * (z2 - z0) - (z1 - z0) * (y2 - y0) AS nx,
        |    (z1 - z0) * (x2 - x0) - (x1 - x0) * (z2 - z0) AS ny,
        |    (x1 - x0) * (y2 - y0) - (y1 - y0) * (x2 - x0) AS nz
        |  FROM tri),
        |lab AS (
        |  SELECT CASE WHEN sym THEN 'symmetry'
        |              WHEN cx * (1.0 / sqrt(1.3125)) + cy * (0.25 / sqrt(1.3125))
        |                   + cz * (0.5 / sqrt(1.3125)) <= 0 THEN 'inlet'
        |              ELSE 'outlet' END AS boundary,
        |    v0, CASE WHEN flip THEN v2 ELSE v1 END AS w1,
        |    CASE WHEN flip THEN v1 ELSE v2 END AS w2, cx, cy, cz
        |  FROM (SELECT *, CASE WHEN sym THEN ny < 0
        |                       ELSE cx * nx + cy * ny + cz * nz > 0 END AS flip
        |        FROM geo))
        |SELECT boundary, count(*) AS n_cells,
        |  CAST(sum(v0) AS BIGINT) AS sum_v0, CAST(sum(w1) AS BIGINT) AS sum_v1,
        |  CAST(sum(w2) AS BIGINT) AS sum_v2,
        |  round(sum(cx) + 1e-9, 4) AS sum_cx, round(sum(cy) + 1e-9, 4) AS sum_cy,
        |  round(sum(cz) + 1e-9, 4) AS sum_cz
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    graft.mesh.Boundaries.hemisphere(s, radius = 2.0, nTheta = 12, nPhi = 5,
      ux = 1.0, uy = 0.25, uz = 0.5)
      .groupBy(col("boundary"))
      .agg(count(lit(1)).as("n_cells"),
        sum("v0").as("sum_v0"), sum("v1").as("sum_v1"), sum("v2").as("sum_v2"),
        rnd(sum("cx"), 4).as("sum_cx"), rnd(sum("cy"), 4).as("sum_cy"),
        rnd(sum("cz"), 4).as("sum_cz"))
      .orderBy("boundary")
  }

  /** Hemisphere with a silhouette hole carved from the symmetry disk
    * (`generators.py:183-186` silhouette_loops + constrained_delaunay_disk):
    * a 4-vertex star-shaped loop at azimuths π/12 + j·π/2, radius 0.8,
    * carved by the azimuth-merge annulus triangulation. The oracle rebuilds
    * the whole lattice — dome AND annulus (merge pairings included) — and
    * pins counts, vertex-id sums, centroid sums, and AREAS; the symmetry
    * area sum equals rim polygon − hole polygon (exact carve).
    */
  q("q_boundary_hole",
    // Hole-carve mirror: dome CTEs as in q_boundary_hemisphere (minus the
    // disk fan), plus the azimuth-merge annulus — rim-edge triangles pair
    // with the last hole vertex at/before their start azimuth, hole-edge
    // triangles with the first rim vertex at/after their end azimuth. All
    // trig arguments parenthesized to Spark's trees; the symmetry area sum
    // is the exact rim-polygon − hole-polygon carve.
      """WITH strip AS (
        |  SELECT 12 + k AS cell_id, k // 24 AS r, (k % 24) // 2 AS i, k % 2 = 1 AS b
        |  FROM (SELECT unnest(generate_series(0, 71)) AS k)),
        |cells AS (
        |  SELECT k AS cell_id, -1 AS r0, 0 AS i0, 0 AS r1, k AS i1, 0 AS r2, k + 1 AS i2
        |  FROM (SELECT unnest(generate_series(0, 11)) AS k)
        |  UNION ALL
        |  SELECT cell_id, r, CASE WHEN b THEN i + 1 ELSE i END, r + 1, i,
        |    CASE WHEN b THEN r + 1 ELSE r END, i + 1
        |  FROM strip),
        |corners AS (
        |  SELECT cell_id, 0 AS c, r0 AS r, i0 AS i FROM cells
        |  UNION ALL SELECT cell_id, 1, r1, i1 FROM cells
        |  UNION ALL SELECT cell_id, 2, r2, i2 FROM cells),
        |pts AS (
        |  SELECT cell_id, c,
        |    CASE WHEN r = -1 THEN 0 ELSE 1 + r * 12 + (i % 12) END AS vid,
        |    CASE WHEN r = -1 THEN 0.0
        |         ELSE (2.0 * sin((r + 1) * (pi() / 8))) * cos((i % 12) * (2 * pi() / 12)) END AS x,
        |    CASE WHEN r = -1 THEN 2.0 WHEN r = 3 THEN 0.0
        |         ELSE 2.0 * cos((r + 1) * (pi() / 8)) END AS y,
        |    CASE WHEN r = -1 THEN 0.0
        |         ELSE (2.0 * sin((r + 1) * (pi() / 8))) * sin((i % 12) * (2 * pi() / 12)) END AS z
        |  FROM corners),
        |tri AS (
        |  SELECT cell_id,
        |    max(CASE WHEN c = 0 THEN vid END) AS v0,
        |    max(CASE WHEN c = 1 THEN vid END) AS v1,
        |    max(CASE WHEN c = 2 THEN vid END) AS v2,
        |    max(CASE WHEN c = 0 THEN x END) AS x0, max(CASE WHEN c = 0 THEN y END) AS y0,
        |    max(CASE WHEN c = 0 THEN z END) AS z0,
        |    max(CASE WHEN c = 1 THEN x END) AS x1, max(CASE WHEN c = 1 THEN y END) AS y1,
        |    max(CASE WHEN c = 1 THEN z END) AS z1,
        |    max(CASE WHEN c = 2 THEN x END) AS x2, max(CASE WHEN c = 2 THEN y END) AS y2,
        |    max(CASE WHEN c = 2 THEN z END) AS z2
        |  FROM pts GROUP BY 1),
        |geo AS (
        |  SELECT cell_id, v0, v1, v2,
        |    (x0 + x1 + x2) / 3 AS cx, (y0 + y1 + y2) / 3 AS cy, (z0 + z1 + z2) / 3 AS cz,
        |    (y1 - y0) * (z2 - z0) - (z1 - z0) * (y2 - y0) AS nx,
        |    (z1 - z0) * (x2 - x0) - (x1 - x0) * (z2 - z0) AS ny,
        |    (x1 - x0) * (y2 - y0) - (y1 - y0) * (x2 - x0) AS nz
        |  FROM tri),
        |dome AS (
        |  SELECT CASE WHEN cx * (1.0 / sqrt(1.3125)) + cy * (0.25 / sqrt(1.3125))
        |              + cz * (0.5 / sqrt(1.3125)) <= 0 THEN 'inlet'
        |         ELSE 'outlet' END AS boundary,
        |    v0, CASE WHEN flip THEN v2 ELSE v1 END AS w1,
        |    CASE WHEN flip THEN v1 ELSE v2 END AS w2, cx, cy, cz,
        |    0.5 * sqrt(nx * nx + ny * ny + nz * nz) AS area
        |  FROM (SELECT *, cx * nx + cy * ny + cz * nz > 0 AS flip FROM geo)),
        |hole AS (SELECT j, pi() / 12 + j * (pi() / 2) AS a,
        |    0.8 * cos(pi() / 12 + j * (pi() / 2)) AS hx,
        |    0.8 * sin(pi() / 12 + j * (pi() / 2)) AS hz
        |  FROM (SELECT unnest(generate_series(0, 3)) AS j)),
        |rim AS (SELECT i, i * (2 * pi() / 12) AS th,
        |    (2.0 * sin((3 + 1.0) * (pi() / 8))) * cos((i % 12) * (2 * pi() / 12)) AS rx,
        |    (2.0 * sin((3 + 1.0) * (pi() / 8))) * sin((i % 12) * (2 * pi() / 12)) AS rz
        |  FROM (SELECT unnest(generate_series(0, 11)) AS i)),
        |ra AS (SELECT r.i, coalesce(max(h.j) FILTER (WHERE h.a <= r.th), 3) AS aj
        |  FROM rim r CROSS JOIN hole h GROUP BY r.i, r.th),
        |rtri AS (
        |  SELECT 84 + r.i AS cell_id,
        |    37 + (r.i % 12) AS v0, 37 + ((r.i + 1) % 12) AS v1, 49 + ra.aj AS v2,
        |    r.rx AS x0, r.rz AS z0, r1.rx AS x1, r1.rz AS z1, h.hx AS x2, h.hz AS z2
        |  FROM rim r
        |  JOIN rim r1 ON r1.i = (r.i + 1) % 12
        |  JOIN ra ON ra.i = r.i
        |  JOIN hole h ON h.j = ra.aj),
        |htri AS (
        |  SELECT 96 + h.j AS cell_id, 49 + h.j AS v0, 49 + h1.j AS v1,
        |    37 + (CAST(ceil(h1.a / (2 * pi() / 12)) AS INT) % 12) AS v2,
        |    h.hx AS x0, h.hz AS z0, h1.hx AS x1, h1.hz AS z1,
        |    (2.0 * sin((3 + 1.0) * (pi() / 8))) *
        |      cos((CAST(ceil(h1.a / (2 * pi() / 12)) AS INT) % 12) * (2 * pi() / 12)) AS x2,
        |    (2.0 * sin((3 + 1.0) * (pi() / 8))) *
        |      sin((CAST(ceil(h1.a / (2 * pi() / 12)) AS INT) % 12) * (2 * pi() / 12)) AS z2
        |  FROM hole h JOIN hole h1 ON h1.j = (h.j + 1) % 4),
        |ann AS (
        |  SELECT 'symmetry' AS boundary, v0,
        |    CASE WHEN ny < 0 THEN v2 ELSE v1 END AS w1,
        |    CASE WHEN ny < 0 THEN v1 ELSE v2 END AS w2,
        |    (x0 + x1 + x2) / 3 AS cx, 0.0 AS cy, (z0 + z1 + z2) / 3 AS cz,
        |    0.5 * abs(ny) AS area
        |  FROM (SELECT *, (z1 - z0) * (x2 - x0) - (x1 - x0) * (z2 - z0) AS ny
        |        FROM (SELECT * FROM rtri UNION ALL SELECT * FROM htri))),
        |allb AS (SELECT boundary, v0, w1, w2, cx, cy, cz, area FROM dome
        |  UNION ALL SELECT boundary, v0, w1, w2, cx, cy, cz, area FROM ann)
        |SELECT boundary, count(*) AS n_cells,
        |  CAST(sum(v0) AS BIGINT) AS sum_v0, CAST(sum(w1) AS BIGINT) AS sum_v1,
        |  CAST(sum(w2) AS BIGINT) AS sum_v2,
        |  round(sum(cx) + 1e-9, 4) AS sum_cx, round(sum(cy) + 1e-9, 4) AS sum_cy,
        |  round(sum(cz) + 1e-9, 4) AS sum_cz, round(sum(area) + 1e-9, 4) AS sum_area
        |FROM allb GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val hole = Seq.tabulate(4) { j =>
      val a = math.Pi / 12 + j * (math.Pi / 2)
      (0.8 * math.cos(a), 0.8 * math.sin(a))
    }
    graft.mesh.Boundaries.hemisphereWithHole(s, radius = 2.0, nTheta = 12,
      nPhi = 5, ux = 1.0, uy = 0.25, uz = 0.5, hole = hole)
      .groupBy(col("boundary"))
      .agg(count(lit(1)).as("n_cells"),
        sum("v0").as("sum_v0"), sum("v1").as("sum_v1"), sum("v2").as("sum_v2"),
        rnd(sum("cx"), 4).as("sum_cx"), rnd(sum("cy"), 4).as("sum_cy"),
        rnd(sum("cz"), 4).as("sum_cz"), rnd(sum("area"), 4).as("sum_area"))
      .orderBy("boundary")
  }

  /** Format-dispatching NetCDF ingestion (`era5.py` reads classic and
    * netCDF-4 transparently through xarray): the same record grids written
    * BOTH as classic CDF-1 and as netCDF-4/HDF5 containers into one store,
    * read back through the magic-byte dispatcher, reduced per (format,
    * variable). The netCDF-4 files additionally carry their time/lat/lon
    * coordinate scales — one set per file — which the oracle reconstructs
    * from the index sums.
    */
  q("q_netcdf_auto",
    // Both containers hold the same grids (<f8 cells, bit-exact), so each
    // variable's total is its events sum; the netCDF-4 files add index-
    // valued time/lat/lon scales per file (n files = n distinct variables).
      """WITH g AS (SELECT event_type AS variable, sum(value) AS v
        |  FROM events GROUP BY 1),
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
        |gg AS (SELECT event_type AS variable, event_id % 2 AS t,
        |    user_id % 8 AS i, user_id % 16 AS j, sum(value) AS value
        |  FROM events GROUP BY 1, 2, 3, 4),
        |p AS (SELECT variable, t,
        |    least(greatest(CAST(floor((value + CAST(20.0 AS DOUBLE))
        |        / CAST(0.01 AS DOUBLE)) AS BIGINT), 0), 4095) AS x
        |  FROM gg WHERE (i + j) % 5 <> 0),
        |vn AS (SELECT variable,
        |    CAST(row_number() OVER (ORDER BY variable) - 1 AS BIGINT) AS num
        |  FROM (SELECT DISTINCT variable FROM gg))
        |SELECT * FROM (
        |  SELECT 'classic' AS format, variable, CAST(256 AS BIGINT) AS n_values,
        |    round(v + 1e-6, 2) AS sum_value FROM g
        |  UNION ALL
        |  SELECT 'hdf5', variable, CAST(256 AS BIGINT), round(v + 1e-6, 2) FROM g
        |  UNION ALL
        |  SELECT 'hdf5', 'lat', CAST(8 * n AS BIGINT), round(28.0 * n + 1e-6, 2) FROM nv
        |  UNION ALL
        |  SELECT 'hdf5', 'lon', CAST(16 * n AS BIGINT), round(120.0 * n + 1e-6, 2) FROM nv
        |  UNION ALL
        |  SELECT 'hdf5', 'time', CAST(2 * n AS BIGINT), round(1.0 * n + 1e-6, 2) FROM nv
        |  UNION ALL
        |  SELECT 'grib2',
        |    'grib_d0_c0_n' || CAST(vn.num AS VARCHAR) || '_f'
        |      || CAST(p.t * 6 AS VARCHAR),
        |    CAST(count(*) AS BIGINT),
        |    round(sum(CAST(p.x AS DOUBLE) * CAST(0.01 AS DOUBLE)
        |      + CAST(-20.0 AS DOUBLE)) + 1e-6, 2)
        |  FROM p JOIN vn USING (variable) GROUP BY 1, 2)
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val g = Tables.events(s, dir)
      .select(col("event_type").as("variable"), (col("event_id") % 2).as("t"),
        (col("user_id") % 8).as("i"), (col("user_id") % 16).as("j"), col("value"))
      .groupBy("variable", "t", "i", "j").agg(sum("value").as("value"))
    val out = freshTmpDir("graft_nc_auto", dir)
    graft.sinks.NetCdfSink.writeRecordGrids(g, out, shape = (8, 16), nRecs = 2)
    graft.sinks.NetCdf4Sink.writeRecordGrids(g, out, shape = (8, 16), nRecs = 2)
    // third format in the same dir: GRIB2 messages (12-bit simple packing
    // with bitmap holes) — the dispatcher must route all three by magic
    val packed = g.filter(((col("i") + col("j")) % 5) =!= 0)
      .withColumn("stored",
        least(greatest(floor((col("value") + lit(20.0)) / lit(0.01)), lit(0L)),
          lit(4095L)).cast("long"))
    val varNumber = g.select("variable").distinct().collect()
      .map(_.getString(0)).sorted.zipWithIndex.toMap
    graft.sources.GribSource.writeGrids(packed, out, shape = (8, 16),
      nRecs = 2, varNumber)
    val (vars, data) = graft.sources.NetCdfAutoSource.read(s, out,
      globFilter = "*")
    // the format label comes from the DISPATCHER's vars table, so the
    // oracle gates the magic-byte routing itself, not a filename guess;
    // NaN = GRIB bitmap holes (same contract as CF fill)
    data.filter(!isnan(col("value")))
      .join(broadcast(vars.select("file", "variable", "format")),
        Seq("file", "variable"))
      .groupBy("format", "variable")
      .agg(count(lit(1)).as("n_values"), rnd(sum("value"), 2).as("sum_value"))
      .orderBy("format", "variable")
  }

  /** Ansys `.rst` decode end-to-end (`ansys_rst.py:187`, local subset of
    * the DPF boundary): render a thermal and a structural results file with
    * values derived from events, read them back through the distributed
    * `AnsysRstSource`, route via the known-result registry, and aggregate
    * per (file, location, field). The bounded collects (40/15/30/12 rows)
    * only BUILD the binary fixtures; the decode+route path is distributed.
    */
  q("q_ansys_decode",
    // f64 payloads round-trip the .rst records bit-exactly, so the oracle
    // rebuilds the fixture sums straight from events; component values are
    // the per-key sums scaled by (component + 1), mirrored per element.
      """WITH t AS (SELECT event_id % 40 AS k, sum(value) AS v FROM events GROUP BY 1),
        |hf AS (SELECT event_id % 15 AS k, sum(value) AS v FROM events GROUP BY 1),
        |d AS (SELECT event_id % 30 AS k, sum(value) AS v FROM events GROUP BY 1),
        |st AS (SELECT event_id % 12 AS k, sum(value) AS v FROM events GROUP BY 1),
        |c3 AS (SELECT unnest(generate_series(0, 2)) AS c),
        |c6 AS (SELECT unnest(generate_series(0, 5)) AS c),
        |r AS (
        |  SELECT 'thermal' AS mesh_id, 'nodal' AS loc, 'temperature' AS field,
        |    CAST(40 AS BIGINT) AS n_values, (SELECT sum(v) FROM t) AS sv
        |  UNION ALL
        |  SELECT 'thermal', 'elemental', 'heat_flux_' || c, CAST(15 AS BIGINT),
        |    sum(v * (c + 1))
        |  FROM hf, c3 GROUP BY c
        |  UNION ALL
        |  SELECT 'structural', 'nodal', 'displacement_' || c, CAST(30 AS BIGINT),
        |    sum(v * (c + 1))
        |  FROM d, c3 GROUP BY c
        |  UNION ALL
        |  SELECT 'structural', 'elemental', 'stress_' || c, CAST(12 AS BIGINT),
        |    sum(v * (c + 1))
        |  FROM st, c6 GROUP BY c
        |  UNION ALL
        |  SELECT 'thermal', 'geometry', 'nodes', CAST(40 AS BIGINT),
        |    (SELECT sum(v + v * CAST(0.5 AS DOUBLE) + v * CAST(0.25 AS DOUBLE)) FROM t)
        |  UNION ALL
        |  SELECT 'thermal', 'geometry', 'cells', CAST(15 AS BIGINT),
        |    (SELECT CAST(sum(3 * j + 6) AS DOUBLE)
        |     FROM (SELECT unnest(generate_series(0, 14)) AS j))
        |  UNION ALL
        |  SELECT 'structural', 'geometry', 'nodes', CAST(30 AS BIGINT),
        |    (SELECT sum(v + v * CAST(0.5 AS DOUBLE) + v * CAST(0.25 AS DOUBLE)) FROM d)
        |  UNION ALL
        |  SELECT 'structural', 'geometry', 'cells', CAST(12 AS BIGINT),
        |    (SELECT CAST(sum(3 * j + 6) AS DOUBLE)
        |     FROM (SELECT unnest(generate_series(0, 11)) AS j)))
        |SELECT mesh_id, loc, field, n_values, round(sv + 1e-6, 2) AS sum_value
        |FROM r ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    import graft.sources.AnsysRst
    def sums(mod: Int): Array[Double] = {
      val m = Tables.events(s, dir)
        .groupBy((col("event_id") % mod).as("k")).agg(sum("value").as("v"))
        .collect().map(r => (r.getLong(0).toInt, r.getDouble(1))).toMap
      Array.tabulate(mod)(i => m.getOrElse(i, 0.0))
    }
    // geometry subset: node coords derived from the same sums (x, x/2, x/4
    // — exact binary scalings), elements = consecutive index triangles
    def geomNodes(n: Int): Array[Array[Double]] =
      sums(n).map(v => Array(v, v * 0.5, v * 0.25))
    def geomElems(nelm: Int): Array[Array[Int]] =
      Array.tabulate(nelm)(j => Array(j, j + 1, j + 2))
    val out = freshTmpDir("graft_rst_fx", dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "thermal.rst"),
      AnsysRst.render(AnsysRst.AnalysisThermal, 40, 15, Seq(
        AnsysRst.RstSet(1, 1, sums(40).map(v => Array(v)),
          sums(15).map(v => Array(v, v * 2, v * 3)))),
        geomNodes(40), geomElems(15)))
    java.nio.file.Files.write(java.nio.file.Paths.get(out, "structural.rst"),
      AnsysRst.render(AnsysRst.AnalysisStructural, 30, 12, Seq(
        AnsysRst.RstSet(1, 1, sums(30).map(v => Array(v, v * 2, v * 3)),
          sums(12).map(v => Array(v, v * 2, v * 3, v * 4, v * 5, v * 6)))),
        geomNodes(30), geomElems(12)))
    val raw = graft.sources.AnsysRstSource.read(s, out)
    val (pd, cd) = graft.sources.AnsysResults.route(
      raw.select("mesh_id", "result", "idx", "component", "value"))
    val results = pd
      .select(col("mesh_id"), lit("nodal").as("loc"), col("field"), col("value"))
      .unionByName(cd.select(col("mesh_id"), lit("elemental").as("loc"),
        col("field"), col("value")))
      .groupBy("mesh_id", "loc", "field")
      .agg(count(lit(1)).as("n_values"), rnd(sum("value"), 2).as("sum_value"))
    val (gp, gc) = graft.sources.AnsysRstSource.readGeometry(s, out)
    val geomPts = gp.groupBy("mesh_id")
      .agg(count(lit(1)).as("n_values"),
        rnd(sum(col("x") + col("y") + col("z")), 2).as("sum_value"))
      .select(col("mesh_id"), lit("geometry").as("loc"), lit("nodes").as("field"),
        col("n_values"), col("sum_value"))
    val geomCells = gc.select(col("mesh_id"),
      (size(col("vertices")).cast("long") +
        aggregate(col("vertices"), lit(0L), (a, v) => a + v)).cast("double").as("w"))
      .groupBy("mesh_id")
      .agg(count(lit(1)).as("n_values"), rnd(sum("w"), 2).as("sum_value"))
      .select(col("mesh_id"), lit("geometry").as("loc"), lit("cells").as("field"),
        col("n_values"), col("sum_value"))
    results.unionByName(geomPts).unionByName(geomCells)
      .orderBy("mesh_id", "loc", "field")
  }

  /** CleanFilter point merge (`clean.py:39`): embedding components as coords,
    * tol-quantized duplicate collapse to the min id.
    */
  q("q_merge_points",
      """WITH p AS (SELECT vec_id % 8 AS mesh_id, vec_id AS point_id,
        |  CAST(embedding[1] AS DOUBLE) AS x, CAST(embedding[2] AS DOUBLE) AS y,
        |  CAST(embedding[3] AS DOUBLE) AS z
        |  FROM embeddings),
        |q AS (SELECT mesh_id, point_id,
        |  CAST(round(x/0.25) AS BIGINT) AS qx, CAST(round(y/0.25) AS BIGINT) AS qy,
        |  CAST(round(z/0.25) AS BIGINT) AS qz FROM p)
        |SELECT mesh_id, point_id,
        |  CAST(min(point_id) OVER (PARTITION BY mesh_id, qx, qy, qz) AS BIGINT)
        |    AS new_point_id
        |FROM q ORDER BY mesh_id, point_id""".stripMargin) { (s, dir) =>
    val pts = Tables.embeddings(s, dir).select(
      (col("vec_id") % 8).as("mesh_id"), col("vec_id").as("point_id"),
      element_at(col("embedding"), 1).cast("double").as("x"),
      element_at(col("embedding"), 2).cast("double").as("y"),
      element_at(col("embedding"), 3).cast("double").as("z"))
    graft.mesh.MeshOps.mergeDuplicatePoints(pts, 0.25)
      .orderBy("mesh_id", "point_id")
  }

  /** Structured-grid block-mean coarsening (VTI grid restriction,
    * `vti.py:17-41` long layout): events mapped onto a (i, j) grid, factor-4
    * block means.
    */
  q("q_grid_coarsen",
      """SELECT event_type AS field,
        |  CAST((user_id % 32) // 4 AS BIGINT) AS i,
        |  CAST((event_id % 64) // 4 AS BIGINT) AS j,
        |  count(*) AS n_cells, round(avg(value) + 1e-9, 4) AS value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    graft.grid.GridOps.coarsen(
      Tables.events(s, dir).select(col("event_type").as("field"),
        (col("user_id") % 32).as("i"), (col("event_id") % 64).as("j"),
        col("value")),
      Seq("i", "j"), 4)
      .select(col("field"), col("i"), col("j"), col("n_cells"),
        rnd("value", 4).as("value"))
      .orderBy("field", "i", "j")
  }

  /** Bilinear regrid of the 32×64 event lattice to 9×12 — the ERA5-style
    * resolution change: the oracle replays the endpoint-aligned mapping,
    * the four corner weights, and the inner-join sparse-cell semantics;
    * every ratio is the same IEEE double on both engines and outputs
    * round at the standard boundary.
    */
  q("q_regrid",
    // Bilinear regrid mirror: the same endpoint-aligned mapping
    // (31/8 and 63/11 as identical IEEE doubles), four corner weights,
    // and inner-join sparse semantics; out-of-lattice corners only occur
    // with weight 0 and vanish at the join on both engines.
      """WITH src AS (SELECT event_type AS field, user_id % 32 AS i,
        |    event_id % 64 AS j, sum(value) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |tgt AS (SELECT f.field, gi.ti, gj.tj,
        |    gi.ti * (CAST(31 AS DOUBLE) / 8) AS x,
        |    gj.tj * (CAST(63 AS DOUBLE) / 11) AS y
        |  FROM (SELECT DISTINCT field FROM src) f
        |  CROSS JOIN (SELECT unnest(range(0, 9)) AS ti) gi
        |  CROSS JOIN (SELECT unnest(range(0, 12)) AS tj) gj),
        |c AS (SELECT field, ti, tj, x, y,
        |    CAST(floor(x) AS BIGINT) AS i0, CAST(floor(y) AS BIGINT) AS j0
        |  FROM tgt),
        |k AS (
        |  SELECT field, ti, tj, i0 AS i, j0 AS j,
        |    (1 - (x - i0)) * (1 - (y - j0)) AS w FROM c
        |  UNION ALL SELECT field, ti, tj, i0 + 1, j0,
        |    (x - i0) * (1 - (y - j0)) FROM c
        |  UNION ALL SELECT field, ti, tj, i0, j0 + 1,
        |    (1 - (x - i0)) * (y - j0) FROM c
        |  UNION ALL SELECT field, ti, tj, i0 + 1, j0 + 1,
        |    (x - i0) * (y - j0) FROM c),
        |jv AS (SELECT k.field, k.ti, k.tj, k.w * s.v AS wv, k.w AS w
        |  FROM k JOIN src s ON k.field = s.field AND k.i = s.i AND k.j = s.j
        |  WHERE s.v IS NOT NULL)
        |SELECT field, CAST(ti AS BIGINT) AS i, CAST(tj AS BIGINT) AS j,
        |  round(sum(wv) + 1e-9, 4) AS value_r,
        |  round(sum(w) + 1e-9, 4) AS w_cover_r
        |FROM jv GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val src = Tables.events(s, dir)
      .groupBy(col("event_type").as("field"),
        (col("user_id") % 32).as("i"), (col("event_id") % 64).as("j"))
      .agg(sum("value").as("value"))
    graft.grid.GridOps.regridBilinear(src, "i", "j",
      srcNi = 32, srcNj = 64, dstNi = 9, dstNj = 12)
      .select(col("field"), col("i"), col("j"),
        rnd("value", 4).as("value_r"), rnd("w_cover", 4).as("w_cover_r"))
      .orderBy("field", "i", "j")
  }

  /** VTI ImageData sink→source cycle THROUGH THE DSv2 RELATION: events
    * aggregated onto a dense 32×64 point lattice (one Float64 PointData
    * array per event_type, fill 0), written as a real `.vti` (appended raw,
    * UInt64 headers) and re-read via `VtiDataSource` — schema inference
    * from the XML header only, per-array ranged payload reads, lattice
    * indices/coordinates computed from WholeExtent. `<f8` cells round-trip
    * bit-exactly, so the oracle rebuilds the lattice straight from events;
    * the position-weighted checksum pins the x-fastest array order.
    */
  q("q_vti_roundtrip",
    // The `.vti` cycle is bit-exact for the Float64 lattice cells, so the
    // oracle rebuilds the dense grid's aggregates straight from events;
    // fill cells contribute 0 to both sums and n_points is the full lattice.
      """WITH cells AS (
        |  SELECT event_type AS field, CAST(user_id % 32 AS INT) AS i,
        |    CAST(event_id % 64 AS INT) AS j, sum(value) AS v
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT field, CAST(2048 AS BIGINT) AS n_points,
        |  round(sum(v) + 1e-9, 2) AS sum_value,
        |  round(sum((i + j * 100) * v) + 1e-9, 2) AS wsum
        |FROM cells GROUP BY field ORDER BY field""".stripMargin) { (s, dir) =>
    val grid = Tables.events(s, dir)
      .groupBy(col("event_type").as("field"),
        (col("user_id") % 32).cast("int").as("i"),
        (col("event_id") % 64).cast("int").as("j"))
      .agg(sum("value").as("value"))
      .withColumn("grid_id", lit("g")).withColumn("k", lit(0))
    val out = freshTmpDir("graft_vti_rt", dir)
    graft.sinks.VtiSink.write(grid, out, extent = (0, 31, 0, 63, 0, 0))
    val wide = s.read.format("graft.sources.VtiDataSource")
      .option("path", out).load()
    // bounded collect: the event-type domain (a handful of values)
    val fields = grid.select("field").distinct()
      .collect().map(_.getString(0)).sorted
    val per = fields.map { f =>
      wide.select(lit(f).as("field"), col("i"), col("j"), col(f).as("v"))
    }.reduce(_ unionByName _)
    per.groupBy("field").agg(
      count(lit(1)).as("n_points"),
      rnd(sum("v"), 2).as("sum_value"),
      rnd(sum((col("i") + col("j") * 100).cast("double") * col("v")), 2).as("wsum"))
      .orderBy("field")
  }

  /** Offset-preallocated parallel-write plan (`atm/sinks/zarr_writer.py:467`):
    * distributed exclusive prefix sum — two-pass range-partitioned cumsum,
    * NOT a single-task global window.
    */
  q("q_atom_offsets",
      """SELECT doc_id, n_chars,
        |  CAST(sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_chars
        |    AS BIGINT) AS offset
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.graph.GraphOps.exclusivePrefixSum(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      "doc_id", "n_chars")
      .select("doc_id", "n_chars", "offset")
      .orderBy("doc_id")
  }

  /** MeshQualityFilter geometry kernels (`quality.py:147-426`) over 2-D
    * triangles synthesized per lineitem row: aspect ratio, equiangle
    * skewness, signed scaled Jacobian, area — aggregated per return flag.
    */
  q("q_mesh_quality",
    // q_mesh_quality mirror: identical edge/angle/Jacobian formulas inline
    // (eps = 1e-30 guards and acos clamps match `graft.mesh.Geometry`).
    s"""WITH tri AS (SELECT l_returnflag,
       |    CAST(l_quantity AS DOUBLE) AS x0, l_discount*100.0 AS y0,
       |    l_extendedprice/1000.0 AS x1, l_tax*100.0 AS y1,
       |    l_linenumber*7.0 AS x2, CAST(l_partkey % 13 AS DOUBLE) AS y2
       |  FROM lineitem),
       |e AS (SELECT l_returnflag,
       |    x1-x0 AS ax, y1-y0 AS ay,        -- e01
       |    x2-x0 AS bx, y2-y0 AS by,        -- e02
       |    x2-x1 AS cx, y2-y1 AS cy         -- e12
       |  FROM tri),
       |m AS (SELECT l_returnflag,
       |    sqrt(ax*ax+ay*ay) AS la, sqrt(bx*bx+by*by) AS lb, sqrt(cx*cx+cy*cy) AS lc,
       |    acos(least(1.0, greatest(-1.0, (ax*bx+ay*by)/(sqrt(ax*ax+ay*ay)*sqrt(bx*bx+by*by)+1e-30)))) AS a0,
       |    acos(least(1.0, greatest(-1.0, ((-ax)*cx+(-ay)*cy)/(sqrt(ax*ax+ay*ay)*sqrt(cx*cx+cy*cy)+1e-30)))) AS a1,
       |    acos(least(1.0, greatest(-1.0, ((-bx)*(-cx)+(-by)*(-cy))/(sqrt(bx*bx+by*by)*sqrt(cx*cx+cy*cy)+1e-30)))) AS a2,
       |    (ax*by - ay*bx) / (sqrt(ax*ax+ay*ay)*sqrt(bx*bx+by*by) + 1e-30) AS jac,
       |    abs(ax*by - ay*bx) / 2.0 AS area
       |  FROM e),
       |q AS (SELECT l_returnflag,
       |    greatest(la, lb, lc) / (least(la, lb, lc) + 1e-30) AS aspect,
       |    least(la, lb, lc) AS min_edge,
       |    least(1.0, greatest(0.0,
       |      greatest(greatest(a0, a1, a2) - pi()/3, pi()/3 - least(a0, a1, a2))
       |        / (pi() - pi()/3))) AS skew,
       |    jac, area
       |  FROM m)
       |SELECT l_returnflag, count(*) AS n,
       |  round(avg(aspect) + 1e-9, 4) AS aspect_mean,
       |  round(max(aspect) + 1e-6, 2) AS aspect_max,
       |  round(avg(skew) + 1e-9, 4) AS skew_mean,
       |  round(avg(jac) + 1e-9, 4) AS jac_mean,
       |  CAST(sum(CASE WHEN jac < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inverted,
       |  round(avg(area) + 1e-9, 4) AS area_mean
       |FROM q WHERE min_edge > 1e-12 GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import graft.mesh.Geometry
    val wide = Tables.lineitem(s, dir).select(col("l_returnflag"),
      col("l_quantity").cast("double").as("x0"),
      (col("l_discount") * 100.0).as("y0"), lit(0.0).as("z0"),
      (col("l_extendedprice") / 1000.0).as("x1"),
      (col("l_tax") * 100.0).as("y1"), lit(0.0).as("z1"),
      (col("l_linenumber") * 7.0).as("x2"),
      (col("l_partkey") % 13).cast("double").as("y2"), lit(0.0).as("z2"))
    val v0 = Geometry.Vec.at(0); val v1 = Geometry.Vec.at(1); val v2 = Geometry.Vec.at(2)
    val angles = Geometry.triangleAngles(v0, v1, v2)
    val edges = Geometry.triangleEdgeLens(v0, v1, v2)
    val perCell = wide.select(col("l_returnflag"),
      edges.reduce(least(_, _)).as("min_edge"),
      Geometry.aspectRatio(edges).as("aspect"),
      Geometry.equiangleSkewness(angles, math.Pi / 3).as("skew"),
      Geometry.scaledJacobianTri2D(v0, v1, v2).as("jac"),
      Geometry.triangleArea(v0, v1, v2).as("area"))
      // exclude zero-edge (duplicate-vertex) cells: their ~1e30 aspect would
      // dominate the mean with pure eps noise on both engines
      .filter(col("min_edge") > 1e-12)
    perCell.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      rnd(avg("aspect"), 4).as("aspect_mean"),
      rnd(max("aspect"), 2).as("aspect_max"),
      rnd(avg("skew"), 4).as("skew_mean"),
      rnd(avg("jac"), 4).as("jac_mean"),
      sum(when(col("jac") < 0.0, 1L).otherwise(0L)).as("n_inverted"),
      rnd(avg("area"), 4).as("area_mean"))
      .orderBy("l_returnflag")
  }

  /** `.k` keyword parsing as an oracle row (parse_k_file, `d3plot.py:
    * 158-227`): keyword decks synthesized from events sums — *PART cards
    * mapping part → section, *SECTION_SHELL cards carrying t1..t4 =
    * (v, 2v, 3v, 4v) so the parsed thickness is their mean — parsed
    * DISTRIBUTED per file over binaryFile. The bounded collect (6 sums)
    * only builds the deck text.
    */
  q("q_kfile_thickness",
    // Deck numbers are Double.toString round-trips, so the parsed
    // thickness is the exact mean (v + 2v + 3v + 4v)/4 of the Spark-side
    // sums; the oracle rebuilds it from its own sums under the eps round.
      """WITH s AS (SELECT event_id % 6 AS p, abs(sum(value)) + 1 AS v
        |  FROM events WHERE event_id % 6 <> 4 GROUP BY 1),
        |v AS (SELECT spine.p, coalesce(s.v, CAST(1.0 AS DOUBLE)) AS v
        |  FROM range(6) spine(p) LEFT JOIN s ON s.p = spine.p)
        |SELECT 'k' || CAST(p // 2 AS VARCHAR) AS mesh_id, p + 1 AS part_id,
        |  round((v + v * 2 + v * 3 + v * 4) / 4 + 1e-6, 2) AS thickness
        |FROM v ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    import s.implicits._
    // residue class 4 is EXCLUDED on both sides, so the deck for part 4
    // genuinely exercises the empty-class default (v = 1) instead of the
    // default being dead code at every populated scale
    val sums = Tables.events(s, dir)
      .where(col("event_id") % 6 =!= 4)
      .groupBy((col("event_id") % 6).as("p")).agg(sum("value").as("v"))
      .collect().map(r => r.getLong(0) -> (math.abs(r.getDouble(1)) + 1)).toMap
      .withDefaultValue(1.0) // empty residue class → v = 1 (oracle spine mirrors)
    val out = freshTmpDir("graft_kfile", dir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    (0 until 3).foreach { f =>
      val sb = new StringBuilder
      sb.append("$ synthesized keyword deck\n")
      (0 until 2).foreach { j =>
        val p = f * 2 + j
        val v = sums(p.toLong)
        sb.append("*PART\n").append(s"part_$p\n").append(s"${p + 1} ${p + 101} 1\n")
        sb.append("*SECTION_SHELL\n").append(s"${p + 101}\n")
        sb.append(s"$v ${v * 2} ${v * 3} ${v * 4}\n")
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(out, s"k$f.k"),
        sb.toString.getBytes("US-ASCII"))
    }
    s.read.format("binaryFile").option("pathGlobFilter", "*.k").load(out)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val stem = path.split("/").last.stripSuffix(".k")
        graft.sources.D3PlotSource.parseKFile(new String(bytes, "US-ASCII"))
          .toSeq.map { case (pid, t) => (stem, pid, t) }
      }.toDF("mesh_id", "part_id", "thickness")
      .select(col("mesh_id"), col("part_id"), rnd("thickness", 2).as("thickness"))
      .orderBy("mesh_id", "part_id")
  }

  /** WARC (ISO 28500) round trip — the container a web-text curation
    * pipeline STARTS from: each document becomes an HTTP `response`
    * capture ([[htmlFixture]] as entity body, 404s for every 11th doc),
    * four crawl files (alternating plain / per-record-gzip-member
    * compression) written by [[graft.sinks.WarcSink]] and read back by
    * [[graft.sources.WarcSource.readRecords]] — one task per crawl file
    * both ways, bytes never shuffle. The oracle recomputes every aggregate
    * (record/status censuses, HTTP-wrapped content lengths INCLUDING the
    * status-line/digit arithmetic, body byte hashes, doc ids parsed back
    * out of the target URIs) from the documents table, so the cycle is
    * checked against the parameters, not its own output.
    */
  q("q_warc_roundtrip",
    // The cycle is checked against the PARAMETERS (documents), not its own
    // output: record/status censuses, doc ids parsed back from the URIs,
    // body byte hashes, and the HTTP-wrapped content length re-derived
    // arithmetically (status line 15+text, Content-Type 25, Content-Length
    // 18+digits, blank line 2 ⇒ body + 60 + status-text + digit count).
      s"""WITH h AS (SELECT doc_id, doc_id % 4 AS g,
         |    CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status,
         |    $htmlFixtureSql AS html
         |  FROM documents)
         |SELECT CAST(g AS INT) AS g,
         |  CAST(count(*) + 1 AS BIGINT) AS n_records,
         |  CAST(count(*) AS BIGINT) AS n_resp,
         |  CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
         |  CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END) AS BIGINT) AS n_404,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
         |  CAST(sum(length(html)) AS BIGINT) AS body_bytes,
         |  CAST(sum(length(html) + 60
         |    + CASE WHEN status = 200 THEN 2 ELSE 9 END
         |    + length(CAST(length(html) AS VARCHAR))) AS BIGINT) AS content_len,
         |  CAST(sum(CAST('0x' || substr(md5(html), 1, 8) AS BIGINT)) AS BIGINT)
         |    AS body_hash
         |FROM h GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_warc", dir)
    val recs = Tables.documents(s, dir).select(
      concat(lit("crawl-"), col("doc_id") % 4,
        when(col("doc_id") % 2 === 0, lit(".warc")).otherwise(lit(".warc.gz")))
        .as("file"),
      col("doc_id").as("seq"), lit("response").as("warc_type"),
      concat(lit("https://ex"), col("doc_id") % 7, lit(".com/doc/"),
        col("doc_id")).as("uri"),
      when(col("doc_id") % 11 === 0, lit(404)).otherwise(lit(200)).as("status"),
      lit("text/html").as("mime"),
      encode(htmlFixture, "UTF-8").as("payload"))
    graft.sinks.WarcSink.writeFiles(recs, out,
      date = "2026-01-01T00:00:00Z").count()
    graft.sources.WarcSource.readRecords(s, s"$out/*")
      .groupBy(regexp_extract(col("file"), "crawl-(\\d+)", 1).cast("int").as("g"))
      .agg(
        count(lit(1)).as("n_records"),
        sum(when(col("warc_type") === "response", 1L).otherwise(0L)).as("n_resp"),
        sum(when(col("http_status") === 200, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("http_status") === 404, 1L).otherwise(0L)).as("n_404"),
        // the warcinfo record has no target URI — cast only response rows
        // (Spark 4 ANSI mode rejects casting '' to a number)
        sum(when(col("warc_type") === "response",
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long")))
          .as("sum_doc"),
        sum(when(col("warc_type") === "response", length(col("body")))
          .otherwise(lit(0))).cast("long").as("body_bytes"),
        sum(when(col("warc_type") === "response", col("content_length")))
          .as("content_len"),
        sum(when(col("warc_type") === "response",
          conv(substring(md5(col("body")), 1, 8), 16, 10).cast("long"))
          .otherwise(lit(0L))).as("body_hash"))
      .orderBy("g")
  }

  /** TFRecord round trip — the training-data EXPORT gate: each document
    * becomes a `tf.train.Example` (text as BytesList, [doc_id, n_chars] as
    * a packed Int64List) in one of four shard files written by
    * [[graft.sinks.TfRecordSink]] (masked-CRC32C framing, hand-encoded
    * protobuf) and read back by [[graft.sources.TfRecordSource]] with both
    * checksums enforced. The oracle recomputes every aggregate from the
    * documents table, so the cycle is checked against the parameters.
    */
  q("q_tfrecord",
    // Export-cycle aggregates recomputed from the documents table (ASCII
    // text ⇒ VARCHAR md5 == payload-bytes md5).
      """SELECT CAST(doc_id % 4 AS INT) AS g,
        |  CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS text_bytes,
        |  CAST(sum(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS text_hash
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_tfrec", dir)
    val rows = Tables.documents(s, dir).select(
      concat(lit("part-"), col("doc_id") % 4, lit(".tfrecord")).as("shard"),
      col("doc_id").as("seq"),
      encode(col("text"), "UTF-8").as("text"),
      array(col("doc_id"), col("n_chars")).as("ids"))
    graft.sinks.TfRecordSink.writeExamples(rows, out,
      bytesFeatures = Seq("text"), int64Features = Seq("ids")).count()
    graft.sources.TfRecordSource.readExamples(s, s"$out/*",
      bytesFeatures = Seq("text"), int64Features = Seq("ids"))
      .groupBy(regexp_extract(col("shard"), "part-(\\d+)", 1).cast("int").as("g"))
      .agg(count(lit(1)).as("n_records"),
        sum(element_at(col("ids"), 1)).as("sum_doc"),
        sum(element_at(col("ids"), 2)).as("sum_chars"),
        sum(length(col("text"))).cast("long").as("text_bytes"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_hash"))
      .orderBy("g")
  }

  /** Parquet footer audit gate: the documents table's own file is staged
    * to the fixed materialization point and its footer parsed by
    * [[graft.sources.ParquetFooter]] (pure-JVM Thrift compact protocol,
    * footer-only positioned reads); DuckDB's native `parquet_metadata`
    * reads THE SAME FILE as a fully independent implementation — two
    * unrelated parsers must agree on every row group, column chunk,
    * codec, size, and statistic.
    */
  q("q_parquet_meta",
    // DuckDB's own parquet reader on the SAME staged file — a fully
    // independent implementation of the Thrift-compact footer walk.
      s"""SELECT CAST(row_group_id AS INT) AS rg, path_in_schema AS col_name,
         |  CAST(type AS VARCHAR) AS type,
         |  CAST(num_values AS BIGINT) AS num_values,
         |  CAST(compression AS VARCHAR) AS codec,
         |  CAST(total_compressed_size AS BIGINT) AS n_compressed,
         |  CAST(total_uncompressed_size AS BIGINT) AS n_uncompressed,
         |  CAST(stats_null_count AS BIGINT) AS null_count,
         |  CAST(stats_min_value AS VARCHAR) AS min_v,
         |  CAST(stats_max_value AS VARCHAR) AS max_v
         |FROM parquet_metadata('$PqMetaDir/documents.parquet')
         |ORDER BY rg, col_name""".stripMargin) { (s, dir) =>
    val hconf = s.sparkContext.hadoopConfiguration
    val src0 = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val sfs = src0.getFileSystem(hconf)
    // normalize both table layouts to ONE bare file: the table may be a
    // bare parquet file (the driver's testdata) or a Spark-written
    // directory of part files (the ScaleUp output) — stage the
    // lexicographically-first part so both sides read the same footer
    val srcP =
      if (sfs.getFileStatus(src0).isDirectory)
        sfs.listStatus(src0)
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).minBy(_.getName.toString)
      else src0
    val dstP = new org.apache.hadoop.fs.Path(s"$PqMetaDir/documents.parquet")
    val dfs = dstP.getFileSystem(hconf)
    dfs.delete(dstP, true) // a stale dir/file from another layout blocks copy
    org.apache.hadoop.fs.FileUtil.copy(sfs, srcP, dfs, dstP, false, true, hconf)
    graft.sources.ParquetFooter.readMetadata(s, s"$PqMetaDir/documents.parquet")
      .select(col("rg"), col("col_name"), col("type"), col("num_values"),
        col("codec"), col("n_compressed"), col("n_uncompressed"),
        col("null_count"), col("min_v"), col("max_v"))
      .orderBy("rg", "col_name")
  }

  /** Columnar-format interchange through Spark's native ORC source: a
    * pruned lineitem projection lands partitioned-by-returnflag in ORC,
    * reads back with a pushed row-group predicate, and aggregates with
    * order-independent reductions (counts, integer-valued quantity sums,
    * min/max). The oracle aggregates the original parquet — any loss in
    * the ORC cycle (types, partition-column recovery, predicate
    * semantics) breaks the match. PlanSpec pins that the predicate
    * actually reaches the ORC scan.
    */
  q("q_orc_roundtrip",
    // ORC mirror: the same aggregation over the ORIGINAL parquet — the
    // ORC write/read cycle must be lossless for the match to hold.
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_orc", dir)
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"))
      .write.mode("overwrite").partitionBy("l_returnflag").orc(out)
    s.read.orc(out)
      .filter(col("l_quantity") > 25)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"),
        countDistinct("l_partkey").as("n_parts"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))
      .orderBy("l_returnflag")
  }

  /** ZIP container round trip: documents shard into archives (one per
    * doc_id%4, zero-padded entry names so lexicographic = numeric
    * order), written executor-side, read back through the central
    * directory with per-entry CRC verification. Gated on per-shard
    * entry census, byte totals, and the md5 of the name-ordered text
    * concatenation — the oracle recomputes all three from the documents
    * table, so truncation, mis-decode, or entry loss anywhere in the
    * cycle breaks the match.
    */
  q("q_zip_roundtrip",
    // The export cycle checked against the parameters; null-union
    // branches and both codecs covered by the fixture split.
    // ZIP mirror: census, byte totals, and the name-ordered text md5
    // recomputed straight from the documents table.
      """SELECT doc_id % 4 AS shard, CAST(count(*) AS BIGINT) AS n_entries,
        |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        |  md5(string_agg(text, '' ORDER BY printf('doc_%06d.txt', doc_id)))
        |    AS text_md5
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin) { (s, dir) =>
    import graft.sources.ZipSource
    val docs = Tables.documents(s, dir).select(
      (col("doc_id") % 4).cast("string").as("shard"),
      format_string("doc_%06d.txt", col("doc_id")).as("name"),
      col("text").cast("binary").as("data"))
    val out = freshTmpDir("graft_zip", dir)
    ZipSource.writeArchives(docs, "shard", "name", "data", out)
    ZipSource.read(s, out)
      .select(regexp_extract(col("file"), "([0-9]+)\\.zip$", 1)
        .cast("long").as("shard"),
        col("name"), col("size"), col("data").cast("string").as("txt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_entries"), sum("size").as("total_bytes"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("name"), col("txt")))),
            x => x.getField("txt"))).cast("binary")).as("text_md5"))
      .orderBy("shard")
  }

  /** Avro object-container round trip: documents become records (nullable
    * string union, long, double, boolean fields; schema derived from the
    * frame) across four files alternating the null and deflate codecs,
    * written by [[graft.sinks.AvroSink]] and read back by
    * [[graft.sources.AvroSource]] with sync markers verified. The oracle
    * recomputes every aggregate (null-branch counts included) from the
    * documents table.
    */
  q("q_avro_roundtrip",
      """WITH h AS (SELECT doc_id % 4 AS g, doc_id,
        |    CASE WHEN doc_id % 23 = 0 THEN NULL ELSE lang END AS lang,
        |    n_chars, n_chars * 0.5 AS score, doc_id % 2 = 0 AS flag
        |  FROM documents)
        |SELECT CAST(g AS INT) AS g, CAST(count(*) AS BIGINT) AS n_records,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_lang,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(sum(score) + 1e-9, 4) AS sum_score,
        |  CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flags
        |FROM h GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    val out = freshTmpDir("graft_avro", dir)
    val rows = Tables.documents(s, dir).select(
      concat(lit("part-"), col("doc_id") % 4,
        when(col("doc_id") % 2 === 0, lit(".avro"))
          .otherwise(lit(".deflate.avro"))).as("file"),
      col("doc_id").as("seq"),
      col("doc_id"),
      when(col("doc_id") % 23 === 0, lit(null).cast("string"))
        .otherwise(col("lang")).as("lang"),
      col("n_chars"),
      (col("n_chars") * 0.5).as("score"),
      (col("doc_id") % 2 === 0).as("flag"))
    graft.sinks.AvroSink.writeFiles(rows, out).count()
    graft.sources.AvroSource.readFiles(s, s"$out/*.avro")
      .groupBy(regexp_extract(col("file"), "part-(\\d+)", 1).cast("int").as("g"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("doc_id")).as("sum_doc"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_null_lang"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        rnd(sum(col("score")), 4).as("sum_score"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flags"))
      .orderBy("g")
  }

  /** MeanFilter (`domains/mesh/filters/mean.py:42`): per-group mean of every
    * field — one shuffle, partial+final hash agg.
    */
  q("q_mean_filter",
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  round(avg(l_quantity) + 1e-9, 4) AS mean_qty,
        |  round(avg(l_extendedprice) + 1e-9, 4) AS mean_price,
        |  round(avg(l_discount) + 1e-9, 6) AS mean_disc,
        |  round(avg(l_tax) + 1e-9, 6) AS mean_tax
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        rnd(avg("l_quantity"), 4).as("mean_qty"),
        rnd(avg("l_extendedprice"), 4).as("mean_price"),
        rnd(avg("l_discount"), 6).as("mean_disc"),
        rnd(avg("l_tax"), 6).as("mean_tax"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** MeshStatsFilter (`domains/mesh/filters/stats.py:232`): full stats family
    * per field over the long (field, value) layout.
    */
  q("q_field_stats",
      """WITH longv AS (
        |  SELECT 'l_quantity' AS field, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem),
        |m AS (
        |  SELECT field, count(value) AS n, avg(value) AS mu, var_pop(value) AS m2,
        |    avg(value*value) AS e2, avg(value*value*value) AS e3,
        |    avg(value*value*value*value) AS e4,
        |    min(value) AS vmin, max(value) AS vmax, median(value) AS med,
        |    avg(abs(value)) AS amean, max(abs(value)) AS amax
        |  FROM longv GROUP BY 1)
        |SELECT field, n, round(mu + 1e-9, 4) AS mean, round(m2 + 1e-9, 4) AS var_pop,
        |  round(sqrt(m2) + 1e-9, 4) AS std_pop, round(vmin + 1e-9, 4) AS min, round(vmax + 1e-9, 4) AS max,
        |  round(med + 1e-9, 4) AS median, round(amean + 1e-9, 4) AS abs_mean, round(amax + 1e-9, 4) AS abs_max,
        |  round((e3 - 3*mu*e2 + 2*mu*mu*mu) / pow(m2, 1.5) + 1e-9, 4) AS skew,
        |  round((e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu) / (m2*m2) - 3 + 1e-9, 4) AS kurt
        |FROM m ORDER BY field""".stripMargin) { (s, dir) =>
    val long = StatsOps.toLong(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_discount", "l_tax"))
    StatsOps.fieldStats(long)
      .select(col("field"), col("n"),
        rnd(col("mean"), 4).as("mean"),
        rnd(col("var_pop"), 4).as("var_pop"),
        rnd(col("std_pop"), 4).as("std_pop"),
        rnd(col("min"), 4).as("min"),
        rnd(col("max"), 4).as("max"),
        rnd(col("median"), 4).as("median"),
        rnd(col("abs_mean"), 4).as("abs_mean"),
        rnd(col("abs_max"), 4).as("abs_max"),
        rnd(col("skew"), 4).as("skew"),
        rnd(col("kurt"), 4).as("kurt"))
      .orderBy("field")
  }

  /** Welford mergeable-state emission (`stats.py:675-836`) via the custom
    * Chan-merge Aggregator; central moments normalized by n for float-stable
    * oracle comparison.
    */
  q("q_welford_state",
      """WITH longv AS (
        |  SELECT 'l_quantity' AS field, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem),
        |m AS (
        |  SELECT field, count(value) AS n, avg(value) AS mu, var_pop(value) AS m2,
        |    avg(value*value) AS e2, avg(value*value*value) AS e3,
        |    avg(value*value*value*value) AS e4,
        |    min(value) AS vmin, max(value) AS vmax, avg(abs(value)) AS amean
        |  FROM longv GROUP BY 1)
        |SELECT field, n, round(mu + 1e-9, 6) AS mean, round(m2 + 1e-9, 4) AS mom2,
        |  round(e3 - 3*mu*e2 + 2*mu*mu*mu + 1e-9, 4) AS mom3,
        |  round(e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu + 1e-9, 3) AS mom4,
        |  round(vmin + 1e-9, 4) AS min, round(vmax + 1e-9, 4) AS max, round(amean + 1e-9, 6) AS abs_mean
        |FROM m ORDER BY field""".stripMargin) { (s, dir) =>
    val long = StatsOps.toLong(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_discount", "l_tax"))
    StatsOps.welfordState(long, Seq("field"), "value")
      .select(col("field"), col("n"),
        rnd(col("mean"), 6).as("mean"),
        rnd(col("m2") / col("n"), 4).as("mom2"),
        rnd(col("m3") / col("n"), 4).as("mom3"),
        rnd(col("m4") / col("n"), 3).as("mom4"),
        rnd(col("min"), 4).as("min"),
        rnd(col("max"), 4).as("max"),
        rnd(col("abs_sum") / col("n"), 6).as("abs_mean"))
      .orderBy("field")
  }

  /** DataArrayStatsFilter (`domains/da/filters/stats.py:47`): grouped moments
    * with time reduced into (variable, hour) grid cells.
    */
  q("q_grid_stats",
      """SELECT event_type, date_trunc('hour', ts) AS hour, count(value) AS n,
        |  round(avg(value) + 1e-9, 4) AS mean, round(var_pop(value) + 1e-9, 4) AS var_pop,
        |  min(value) AS min, max(value) AS max
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val obs = Tables.events(s, dir)
      .withColumn("hour", date_trunc("hour", col("ts")))
    StatsOps.gridStats(obs, Seq("event_type", "hour"), "value")
      .select(col("event_type"), col("hour"), col("n"),
        rnd(col("mean"), 4).as("mean"),
        rnd(col("var_pop"), 4).as("var_pop"),
        col("min"), col("max"))
      .orderBy("event_type", "hour")
  }

  /** MeshQualityFilter NaN/Inf/null census (`quality.py:693`). */
  q("q_nan_inf_census",
      """SELECT
        |  CAST(sum(CASE WHEN isnan(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_l_quantity,
        |  CAST(sum(CASE WHEN isinf(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf_l_quantity,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_l_quantity,
        |  CAST(sum(CASE WHEN isnan(l_extendedprice) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_l_extendedprice,
        |  CAST(sum(CASE WHEN isinf(l_extendedprice) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf_l_extendedprice,
        |  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_l_extendedprice,
        |  CAST(sum(CASE WHEN isnan(l_discount) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_l_discount,
        |  CAST(sum(CASE WHEN isinf(l_discount) THEN 1 ELSE 0 END) AS BIGINT) AS n_inf_l_discount,
        |  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_l_discount
        |FROM lineitem""".stripMargin) { (s, dir) =>
    StatsOps.nanInfCensus(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"))
  }

  /** Von Mises stress kernel (Rust `d3plot/stress.rs:30`) as pure column
    * arithmetic, aggregated per group.
    */
  q("q_von_mises",
      """WITH v AS (
        |  SELECT l_returnflag,
        |    sqrt(
        |      (pow(l_quantity - l_extendedprice/1000.0, 2)
        |       + pow(l_extendedprice/1000.0 - l_discount*100.0, 2)
        |       + pow(l_discount*100.0 - l_quantity, 2)) / 2.0
        |      + 3.0 * (pow(l_tax*10.0, 2) + pow(CAST(l_linenumber AS DOUBLE), 2)
        |               + pow(l_quantity/2.0, 2))) AS vm
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n, round(avg(vm) + 1e-9, 4) AS vm_mean,
        |  round(min(vm) + 1e-9, 4) AS vm_min, round(max(vm) + 1e-9, 4) AS vm_max
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val vm = Physics.vonMises(
      col("l_quantity"), col("l_extendedprice") / 1000.0, col("l_discount") * 100.0,
      col("l_tax") * 10.0, col("l_linenumber").cast("double"), col("l_quantity") / 2.0)
    li.withColumn("vm", vm)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        rnd(avg("vm"), 4).as("vm_mean"),
        rnd(min("vm"), 4).as("vm_min"),
        rnd(max("vm"), 4).as("vm_max"))
      .orderBy("l_returnflag")
  }

  /** PrecisionFilter (`precision.py:94`): float64 → float32 downcast. */
  q("q_precision_cast",
      """SELECT l_orderkey, l_linenumber, CAST(l_extendedprice AS REAL) AS price_f32,
        |  CAST(l_discount AS REAL) AS disc_f32
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").cast("float").as("price_f32"),
        col("l_discount").cast("float").as("disc_f32"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** FieldSelectFilter + reader-level pruning (`field_select.py:61`,
    * `_key_filter.py:45`): projection + predicate, both pushed to the scan.
    */
  q("q_field_select_pushdown",
      """SELECT l_orderkey, l_shipdate FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-07-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_shipdate""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") < to_timestamp(lit("1996-07-01")) &&
        col("l_discount") > 0.05)
      .select("l_orderkey", "l_shipdate")
      .orderBy("l_orderkey", "l_shipdate")
  }

  /** GlobalDataFilter (`global_data.py:51`): constant + derived globals
    * broadcast onto every row.
    */
  q("q_global_inject",
      """SELECT c_custkey, c_acctbal, CAST(1.225 AS DOUBLE) AS rho_inf, g.s_avg
        |FROM customer, (SELECT round(avg(s_acctbal) + 1e-9, 4) AS s_avg FROM supplier) g
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    val g = Tables.supplier(s, dir).agg(rnd(avg("s_acctbal"), 4).as("s_avg"))
    RelationalOps.injectGlobals(
      Tables.customer(s, dir).select("c_custkey", "c_acctbal"),
      Map("rho_inf" -> 1.225), Some(g))
      .orderBy("c_custkey")
  }

  /** TensorDict field flattening (`stats.py:107-138`): array column → long
    * (id, pos, value) via posexplode.
    */
  q("q_array_explode",
      """SELECT vec_id, CAST(unnest(generate_series(1, len(embedding))) AS INTEGER) AS pos,
        |  CAST(unnest(embedding) AS DOUBLE) AS val
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos0", "val")))
      .select(col("vec_id"), (col("pos0") + 1).as("pos"),
        col("val").cast("double").as("val"))
      .orderBy("vec_id", "pos")
  }

  /** PointDataToCellDataFilter (`point_data_to_cell.py:39`): vertex values
    * averaged onto their cell — explode + groupBy(cell).
    */
  q("q_point_to_cell_mean",
      """SELECT vec_id, label, count(*) AS n_vertices,
        |  round(avg(CAST(v AS DOUBLE)) + 1e-9, 6) AS cell_mean
        |FROM (SELECT vec_id, label, unnest(embedding) AS v FROM embeddings)
        |GROUP BY 1, 2 ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), explode(col("embedding")).as("v"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("n_vertices"),
        rnd(avg(col("v").cast("double")), 6).as("cell_mean"))
      .orderBy("vec_id")
  }
}
