package graft.mesh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.mesh.Geometry.Vec

/** Long-format mesh model (SURVEY §1.3 mapping) and the mesh filter family
  * (reference `domains/mesh/filters/`) as DataFrame combinators.
  *
  * Tables:
  *  - points:     (mesh_id, point_id, x, y, z)
  *  - cells:      (mesh_id, cell_id, vertices: array<long>)   — no −1 padding,
  *                variable-length arrays carry mixed cell types natively
  *  - point_data: (mesh_id, point_id, field, value)
  *
  * Scale notes: every join below keys on (mesh_id, point/cell id), so a
  * layout bucketed by mesh_id makes them co-partitioned; the explode-join-
  * regroup pattern is one shuffle per remap rather than per-vertex loops.
  */
object MeshOps {

  /** Widen cells to per-vertex coordinates: one explode + ONE join + one
    * regroup (instead of k self-joins of the points table), yielding
    * (mesh_id, cell_id, x0,y0,z0, …, x{k-1},y{k-1},z{k-1}).
    */
  def cellsWithCoords(points: DataFrame, cells: DataFrame, k: Int): DataFrame = {
    val exploded = cells.select(col("mesh_id"), col("cell_id"),
      posexplode(col("vertices")).as(Seq("pos", "point_id")))
    val joined = exploded.join(points, Seq("mesh_id", "point_id"))
    val aggs = (0 until k).flatMap { i =>
      Seq(max(when(col("pos") === i, col("x"))).as(s"x$i"),
        max(when(col("pos") === i, col("y"))).as(s"y$i"),
        max(when(col("pos") === i, col("z"))).as(s"z$i"))
    }
    joined.groupBy(col("mesh_id"), col("cell_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** PointDataToCellDataFilter (`point_data_to_cell.py:39`): vertex fields
    * averaged onto their cells — explode → join → groupBy(cell, field).
    */
  def pointDataToCellData(cells: DataFrame, pointData: DataFrame): DataFrame =
    cells.select(col("mesh_id"), col("cell_id"), explode(col("vertices")).as("point_id"))
      .join(pointData, Seq("mesh_id", "point_id"))
      .groupBy(col("mesh_id"), col("cell_id"), col("field"))
      .agg(avg(col("value")).as("value"))

  /** CleanFilter point merge (`clean.py:39`): points within `tol` collapse to
    * one survivor (min id) via coordinate quantization; returns the
    * (mesh_id, point_id → new_point_id) mapping.
    */
  def mergeDuplicatePoints(points: DataFrame, tol: Double): DataFrame = {
    val q = (c: Column) => round(c / tol).cast("long")
    points
      .withColumn("qx", q(col("x"))).withColumn("qy", q(col("y")))
      .withColumn("qz", q(col("z")))
      .withColumn("new_point_id",
        min(col("point_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("mesh_id"), col("qx"), col("qy"), col("qz"))))
      .select("mesh_id", "point_id", "new_point_id")
  }

  /** Remap cell connectivity through a (point_id → new_point_id) mapping:
    * posexplode → join → ordered re-collect (one shuffle).
    */
  def remapConnectivity(cells: DataFrame, mapping: DataFrame): DataFrame =
    cells.select(col("mesh_id"), col("cell_id"),
      posexplode(col("vertices")).as(Seq("pos", "point_id")))
      .join(mapping, Seq("mesh_id", "point_id"))
      .groupBy(col("mesh_id"), col("cell_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("new_point_id")))),
        s => s.getField("new_point_id")).as("vertices"))

  /** CleanFilter duplicate-cell removal (`clean.py:39`): identical vertex
    * *sets* collapse, keep-first by cell_id.
    */
  def dropDuplicateCells(cells: DataFrame): DataFrame =
    cells.withColumn("vkey", array_sort(col("vertices")))
      .withColumn("keep", min(col("cell_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("mesh_id"), col("vkey"))))
      .filter(col("cell_id") === col("keep"))
      .drop("vkey", "keep")

  /** CleanFilter unused-point removal: left-semi join points ⋉ exploded cells. */
  def dropUnusedPoints(points: DataFrame, cells: DataFrame): DataFrame =
    points.join(
      cells.select(col("mesh_id"), explode(col("vertices")).as("point_id")).distinct(),
      Seq("mesh_id", "point_id"), "left_semi")

  /** WallNodeFilter node mask (`wall_node.py:68-100`): keep nodes whose max
    * |displacement − displacement(t0)| over time ≥ threshold. Input long
    * displacements (mesh_id, point_id, t, dx, dy, dz); t0 = min t.
    */
  def deformingNodes(disps: DataFrame, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("mesh_id"), col("point_id")).orderBy(col("t"))
    val withRef = disps
      .withColumn("dx0", first(col("dx")).over(w))
      .withColumn("dy0", first(col("dy")).over(w))
      .withColumn("dz0", first(col("dz")).over(w))
    withRef.groupBy(col("mesh_id"), col("point_id"))
      .agg(max(greatest(abs(col("dx") - col("dx0")), abs(col("dy") - col("dy0")),
        abs(col("dz") - col("dz0")))).as("max_dev"))
      .filter(col("max_dev") >= threshold)
      .select("mesh_id", "point_id")
  }

  /** WallNodeFilter cell validity (`wall_node.py:103-154`): a cell survives
    * iff ALL its vertices survive — explode + join + count match.
    */
  def cellsWithAllVertices(cells: DataFrame, keptPoints: DataFrame): DataFrame = {
    val counted = cells.select(col("mesh_id"), col("cell_id"),
      size(col("vertices")).as("n_verts"), explode(col("vertices")).as("point_id"))
      .join(keptPoints, Seq("mesh_id", "point_id"), "left_semi")
      .groupBy(col("mesh_id"), col("cell_id"), col("n_verts"))
      .agg(count(lit(1)).as("n_kept"))
      .filter(col("n_kept") === col("n_verts"))
      .select("mesh_id", "cell_id")
    cells.join(counted, Seq("mesh_id", "cell_id"), "left_semi")
  }

  /** EdgeComputeFilter (`edge_compute.py:40`): unique undirected edges from
    * cell connectivity — pairwise posexplode, canonicalize, distinct.
    */
  def cellEdges(cells: DataFrame): DataFrame = {
    val a = cells.select(col("mesh_id"), col("cell_id"),
      posexplode(col("vertices")).as(Seq("ia", "va")))
    val b = cells.select(col("mesh_id"), col("cell_id"),
      posexplode(col("vertices")).as(Seq("ib", "vb")))
    a.join(b, Seq("mesh_id", "cell_id")).filter(col("ia") < col("ib"))
      .select(col("mesh_id"), least(col("va"), col("vb")).as("edge_a"),
        greatest(col("va"), col("vb")).as("edge_b"))
      .filter(col("edge_a") =!= col("edge_b"))
      .distinct()
  }

  /** Timestep pivot (`OpenRadiossSource`/`MeshZarrSink`,
    * `mesh_zarr.py:105`): long displacements → wide per-node columns
    * `d{x,y,z}_t{k}` for the known timestep set (explicit values keep the
    * pivot a single pass without a distinct-scan).
    */
  def pivotTimesteps(disps: DataFrame, timesteps: Seq[Int]): DataFrame = {
    val pivoted = disps.groupBy(col("mesh_id"), col("point_id"))
      .pivot("t", timesteps)
      .agg(first(col("dx")).as("dx"), first(col("dy")).as("dy"), first(col("dz")).as("dz"))
    // spark names columns "<t>_dx" — normalize to dx_t<k>
    val renamed = timesteps.flatMap { t =>
      Seq(s"${t}_dx" -> s"dx_t$t", s"${t}_dy" -> s"dy_t$t", s"${t}_dz" -> s"dz_t$t")
    }
    renamed.foldLeft(pivoted) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
  }

  /** Reconstruct absolute positions from reference coords + displacements
    * (`mesh_zarr.py:105` builds `mesh_pos (T,N,3)` the same way).
    */
  def reconstructPositions(points: DataFrame, disps: DataFrame): DataFrame =
    disps.join(points, Seq("mesh_id", "point_id"))
      .select(col("mesh_id"), col("point_id"), col("t"),
        (col("x") + col("dx")).as("px"),
        (col("y") + col("dy")).as("py"),
        (col("z") + col("dz")).as("pz"))

  /** MeshQualityFilter geometry report for triangle meshes
    * (`quality.py:434`, artifact schema `quality.py:103-139`): per-mesh
    * aspect/skewness/angle/area/Jacobian statistics + degenerate, zero-area,
    * inverted and poor counts, as one grouped aggregation over per-cell
    * column expressions.
    */
  def triangleQualityReport(points: DataFrame, cells: DataFrame): DataFrame = {
    val wide = cellsWithCoords(points, cells, 3)
    val v0 = Vec.at(0); val v1 = Vec.at(1); val v2 = Vec.at(2)
    val angles = Geometry.triangleAngles(v0, v1, v2)
    val perCell = wide.select(col("mesh_id"),
      Geometry.aspectRatio(Geometry.triangleEdgeLens(v0, v1, v2)).as("aspect"),
      Geometry.equiangleSkewness(angles, math.Pi / 3).as("skew"),
      (angles.reduce(least(_, _)) * (180.0 / math.Pi)).as("min_angle_deg"),
      (angles.reduce(greatest(_, _)) * (180.0 / math.Pi)).as("max_angle_deg"),
      Geometry.degenerate(angles).cast("long").as("is_degen"),
      Geometry.triangleArea(v0, v1, v2).as("area"),
      Geometry.scaledJacobianTri3D(v0, v1, v2).as("jac"))
    perCell.groupBy(col("mesh_id")).agg(
      count(lit(1)).as("n_cells"),
      min("aspect").as("geom_min_aspect_ratio"),
      max("aspect").as("geom_max_aspect_ratio"),
      avg("aspect").as("geom_mean_aspect_ratio"),
      min("skew").as("geom_min_skewness"),
      max("skew").as("geom_max_skewness"),
      avg("skew").as("geom_mean_skewness"),
      min("min_angle_deg").as("geom_min_angle_deg"),
      max("max_angle_deg").as("geom_max_angle_deg"),
      avg("min_angle_deg").as("geom_mean_min_angle_deg"),
      sum("is_degen").as("geom_n_degenerate_cells"),
      min("area").as("vol_min"),
      max("area").as("vol_max"),
      avg("area").as("vol_mean"),
      stddev_pop(col("area")).as("vol_std"),
      (max("area") / (min("area") + Geometry.Eps)).as("vol_ratio"),
      sum(when(col("area") < Geometry.Eps, 1L).otherwise(0L)).as("vol_n_zero"),
      min("jac").as("jac_min"),
      max("jac").as("jac_max"),
      avg("jac").as("jac_mean"),
      sum(when(col("jac") < 0.0, 1L).otherwise(0L)).as("jac_n_inverted"),
      sum(when(abs(col("jac")) < 0.2, 1L).otherwise(0L)).as("jac_n_poor"))
  }

  /** MeshQualityFilter geometry report for tetrahedral meshes
    * (`quality.py:180-262,648`): per-mesh aspect / dihedral-angle / signed
    * scaled-Jacobian / signed-volume statistics with degenerate, inverted,
    * near-zero and poor counts — the tet analogue of
    * `triangleQualityReport`, as three projections, then one grouped
    * aggregation (codegen'd column expressions, no UDFs). Each derived
    * quantity is computed once as a named column: stage 1 volume, Jacobian,
    * the outward face normals `nx0..nz3` and edge lengths `l0..l5`; stage 2
    * the dihedrals `d0..d5`; stage 3 aspect, min/max dihedral and the
    * degenerate flag. Inlined, the normals and dihedrals would be copied
    * into every consumer (see the `Geometry` doc).
    */
  def tetQualityReport(points: DataFrame, cells: DataFrame): DataFrame = {
    val wide = cellsWithCoords(points, cells, 4)
    val v0 = Vec.at(0); val v1 = Vec.at(1); val v2 = Vec.at(2); val v3 = Vec.at(3)
    def named(prefix: String, cs: Seq[Column]) =
      cs.zipWithIndex.map { case (c, i) => c.as(s"$prefix$i") }
    def cols(prefix: String, n: Int) = (0 until n).map(i => col(s"$prefix$i"))
    val normals = Geometry.tetOutwardNormals(v0, v1, v2, v3)
    val stage1 = wide.select(Seq(col("mesh_id"),
      Geometry.tetVolume(v0, v1, v2, v3).as("vol"),
      Geometry.scaledJacobianTet(v0, v1, v2, v3).as("jac")) ++
      named("nx", normals.map(_.x)) ++ named("ny", normals.map(_.y)) ++
      named("nz", normals.map(_.z)) ++ named("l", Geometry.tetEdgeLens(v0, v1, v2, v3)): _*)
    val stage2 = stage1.select(Seq(col("mesh_id"), col("vol"), col("jac")) ++ cols("l", 6) ++
      named("d", Geometry.dihedralAngles(
        (0 to 3).map(i => Vec(col(s"nx$i"), col(s"ny$i"), col(s"nz$i"))))): _*)
    val dih = cols("d", 6)
    val perCell = stage2.select(col("mesh_id"),
      Geometry.aspectRatio(cols("l", 6)).as("aspect"),
      (dih.reduce(least(_, _)) * (180.0 / math.Pi)).as("min_dihedral_deg"),
      (dih.reduce(greatest(_, _)) * (180.0 / math.Pi)).as("max_dihedral_deg"),
      Geometry.degenerate(dih).cast("long").as("is_degen"),
      col("vol"), col("jac"))
    perCell.groupBy(col("mesh_id")).agg(
      count(lit(1)).as("n_cells"),
      min("aspect").as("geom_min_aspect_ratio"),
      max("aspect").as("geom_max_aspect_ratio"),
      avg("aspect").as("geom_mean_aspect_ratio"),
      min("min_dihedral_deg").as("geom_min_dihedral_deg"),
      max("max_dihedral_deg").as("geom_max_dihedral_deg"),
      avg("min_dihedral_deg").as("geom_mean_min_dihedral_deg"),
      sum("is_degen").as("geom_n_degenerate_cells"),
      min("vol").as("vol_min"),
      max("vol").as("vol_max"),
      avg("vol").as("vol_mean"),
      stddev_pop(col("vol")).as("vol_std"),
      sum(when(col("vol") < 0.0, 1L).otherwise(0L)).as("vol_n_inverted"),
      sum(when(abs(col("vol")) < Geometry.Eps, 1L).otherwise(0L)).as("vol_n_zero"),
      min("jac").as("jac_min"),
      max("jac").as("jac_max"),
      avg("jac").as("jac_mean"),
      sum(when(col("jac") < 0.0, 1L).otherwise(0L)).as("jac_n_inverted"),
      sum(when(abs(col("jac")) < 0.2, 1L).otherwise(0L)).as("jac_n_poor"))
  }
}
