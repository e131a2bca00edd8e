package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HDF5 (NetCDF-4 container) ingestion — the read side of
  * `sinks/NetCdf4Sink`/`Hdf5Store`, emitting the same long grid model as
  * `NetCdfSource`: a `vars` table (file, variable, dims, plus the
  * netCDF-4 dimension metadata: is_scale / scale_name / dim_id /
  * dim_names / dtype) and a `data` table (file, variable, row-major pos,
  * value) covering every dataset, coordinate scales included. Both are
  * projections of [[NetCdfDataSource]]'s `vars` and `data` tables (`dims`
  * is its `shape`, `is_scale` its `is_coord`, `dim_names` its `dims`), so
  * a classic or GRIB2 file the glob matches decodes through the same
  * dispatch.
  */
object Hdf5Source {

  def read(spark: SparkSession, pathGlob: String,
           globFilter: String = "*.nc4"): (DataFrame, DataFrame) = {
    val (vars, data) = NetCdfDataSource.load(spark, pathGlob, globFilter)
    (vars.select(col("file"), col("variable"), col("shape").as("dims"),
      col("is_coord").as("is_scale"), col("scale_name"), col("dim_id"),
      col("dims").as("dim_names"), col("dtype")), data)
  }
}
