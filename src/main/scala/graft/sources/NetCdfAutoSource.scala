package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Format-dispatching NetCDF ingestion: real-world archives mix classic
  * (CDF-1/2/5) and netCDF-4 (HDF5 container) files — ERA5 downloads in
  * particular are netCDF-4, while GFS/HRRR subsets are classic — and the
  * reference reads both transparently through xarray
  * (`domains/da/sources/era5.py`). Each file is routed by its MAGIC BYTES
  * inside [[NetCdfDataSource]] (`CDF` → classic, `\x89HDF` → HDF5,
  * `GRIB` → GRIB2), and both tables are projections of its tables:
  *
  *  - `vars`:  (file, variable, dim_names, shape, is_coord, format) —
  *    `is_coord` marks classic coordinate variables (name == its only
  *    dimension) and netCDF-4 dimension scales;
  *  - `data`:  (file, variable, pos, value) — row-major, record dimension
  *    outermost, identical to both single-format sources.
  *
  * `include`/`exclude` become pushed `variable` filters, so unwanted
  * variables are dropped at the decode, not filtered afterwards (the
  * KeyFilters discipline).
  */
object NetCdfAutoSource {

  /** `decodeCf = true` applies CF `scale_factor`/`add_offset`/`_FillValue`
    * unpacking and `decodeTimes = true` CF time-coordinate conversion on
    * the classic branch ([[NetCdfSource.CfCodec]]/[[NetCdfSource.CfTime]]).
    * The HDF5 branch stays raw: packed netCDF-4 is out of the supported
    * subset (our own NetCDF-4 sink writes unpacked f64 only, and
    * `Hdf5Store.parseVars` surfaces dimension-scale attributes, not
    * per-variable numeric attrs).
    */
  def read(spark: SparkSession, pathGlob: String,
           globFilter: String = "*.nc*",
           include: Set[String] = Set.empty,
           exclude: Set[String] = Set.empty,
           decodeCf: Boolean = false,
           decodeTimes: Boolean = false): (DataFrame, DataFrame) = {
    val (vars, data) = NetCdfDataSource.load(spark, pathGlob, globFilter,
      decodeCf, decodeTimes, include, exclude)
    (vars.select(col("file"), col("variable"), col("dims").as("dim_names"),
      col("shape"), col("is_coord"), col("format")), data)
  }
}
