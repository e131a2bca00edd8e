package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** VTK timestep-series reader — the OpenRadioss ingestion shape (reference
  * `domains/mesh/sources/openradioss.py:295-360`: a run directory holds one
  * converted VTK file per animation state, read in name-sorted order).
  * Every table is a projection of [[VtuDataSource]] over `rootGlob` with
  * `globFilter = vtkGlob`, so every DataArray layout and grid type the VTK
  * layer supports works here too. From the driver's file listing each file
  * gets its `run_id` (its parent directory) and its `t` (its rank in name
  * order within the run), joined in as a small broadcast table; every
  * timestep of a run must list t0's point count in its header.
  *
  * Tables:
  *  - points:    (run_id, point_id, x, y, z) — reference configuration (t0)
  *  - cells:     (run_id, cell_id, vertices) — topology from t0
  *  - states:    (run_id, t, point_id, px, py, pz, dx, dy, dz) — absolute
  *    positions per timestep plus displacement relative to t0 (the
  *    reference's `displacement_t{idx}` fields)
  *  - point_data:(run_id, t, point_id, field, value) — nodal fields per
  *    timestep (stress/temperature/velocity arrive here when present); a
  *    k-component array gives the fields `<name>_0 … <name>_{k-1}`
  *
  * points and cells read only the t0 files (key-column pruning).
  */
object VtkTimeSeriesSource {

  def read(spark: SparkSession, rootGlob: String,
           vtkGlob: String = "*.vt[up]",
           include: Set[String] = Set.empty,
           exclude: Set[String] = Set.empty): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val (points, cells, heads) = VtkXmlSource.wide(spark, new VtuDataSource, rootGlob, vtkGlob)
    // (file, run, t), t the file's rank in name order within its run
    val steps = heads.map { case (u, h) => (u.key.toString, h.points) }
      .groupBy(_._1.replaceAll("/[^/]*$", "")).toSeq.flatMap { case (run, files) =>
        val series = files.sortBy(_._1)
        val n0 = series.head._2
        series.zipWithIndex.map { case ((file, n), t) =>
          require(n == n0, s"run $run timestep $t has $n points, t0 has $n0")
          (file, run, t)
        }
      }
    val stepTable = broadcast(steps.toDF("mesh_id", "run_id", "t"))
    def at(wide: DataFrame) = wide.join(stepTable, "mesh_id")
    val t0 = col("mesh_id").isin(steps.collect { case (f, _, 0) => f }: _*)

    val base = at(points.where(t0)).select("run_id", "point_id", "x", "y", "z")
    val states = at(points).select(col("run_id"), col("t"), col("point_id"),
        col("x").as("px"), col("y").as("py"), col("z").as("pz"))
      .join(base, Seq("run_id", "point_id"))
      .select(col("run_id"), col("t"), col("point_id"), col("px"), col("py"), col("pz"),
        (col("px") - col("x")).as("dx"), (col("py") - col("y")).as("dy"),
        (col("pz") - col("z")).as("dz"))
    val ids = Seq("run_id", "t", "point_id")
    val pointData = VtkXmlSource.unpivot(at(points), ids,
        VtkXmlSource.arrayColumns(points, Seq("mesh_id", "point_id", "x", "y", "z"), include, exclude))
      .select("run_id", "t", "point_id", "field", "value")
    (base, at(cells.where(t0)).select("run_id", "cell_id", "vertices"), states, pointData)
  }
}
