package graft

import org.apache.spark.sql.functions._

import graft.mesh.{Geometry, MeshOps}

/** Geometry kernels against hand-constructed meshes (same analytic goldens as
  * the reference's `test/domains/mesh/test_quality.py:89-131`) and the mesh
  * filter family on tiny meshes.
  */
class MeshSpec extends SparkSpec {

  private val eps = 1e-9

  /** points: equilateral tri (0,1,2), right tri (3,4,5), collinear (6,7,8) */
  private def points = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 0L, 0.0, 0.0, 0.0),
      (1L, 1L, 1.0, 0.0, 0.0),
      (1L, 2L, 0.5, math.sqrt(3) / 2, 0.0),
      (1L, 3L, 0.0, 0.0, 0.0),
      (1L, 4L, 3.0, 0.0, 0.0),
      (1L, 5L, 0.0, 4.0, 0.0),
      (2L, 6L, 0.0, 0.0, 0.0),
      (2L, 7L, 1.0, 0.0, 0.0),
      (2L, 8L, 2.0, 0.0, 0.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
  }

  private def cells = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 0L, Seq(0L, 1L, 2L)),
      (1L, 1L, Seq(3L, 4L, 5L)),
      (2L, 2L, Seq(6L, 7L, 8L))
    ).toDF("mesh_id", "cell_id", "vertices")
  }

  test("equilateral triangle: aspect 1, skewness 0, angles 60°, area √3/4") {
    val r = MeshOps.triangleQualityReport(points, cells)
      .filter(col("mesh_id") === 1L).collect()(0)
    // mesh 1 has the equilateral AND the 3-4-5 right triangle
    assert(math.abs(r.getAs[Double]("geom_min_aspect_ratio") - 1.0) < eps)
    assert(math.abs(r.getAs[Double]("geom_min_skewness")) < eps)
    assert(math.abs(r.getAs[Double]("geom_min_angle_deg") - math.toDegrees(math.atan(3.0 / 4))) < 1e-6)
    assert(math.abs(r.getAs[Double]("geom_max_angle_deg") - 90.0) < 1e-9)
    assert(r.getAs[Long]("geom_n_degenerate_cells") == 0)
    assert(math.abs(r.getAs[Double]("vol_min") - math.sqrt(3) / 4) < eps)
    assert(math.abs(r.getAs[Double]("vol_max") - 6.0) < eps)  // 3-4-5 area
  }

  test("tetQualityReport: regular tetrahedron pins") {
    val s = spark
    import s.implicits._
    // regular tet, edge 2√2; this vertex order gives NEGATIVE orientation
    val pts = Seq(
      (1L, 0L, 1.0, 1.0, 1.0), (1L, 1L, 1.0, -1.0, -1.0),
      (1L, 2L, -1.0, 1.0, -1.0), (1L, 3L, -1.0, -1.0, 1.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((1L, 0L, Seq(0L, 1L, 2L, 3L))).toDF("mesh_id", "cell_id", "vertices")
    val r = MeshOps.tetQualityReport(pts, cls).collect()(0)
    assert(r.getAs[Long]("n_cells") == 1)
    assert(math.abs(r.getAs[Double]("geom_min_aspect_ratio") - 1.0) < eps)
    // every dihedral of a regular tet is acos(1/3) ≈ 70.5288°
    val dih = math.toDegrees(math.acos(1.0 / 3.0))
    assert(math.abs(r.getAs[Double]("geom_min_dihedral_deg") - dih) < 1e-6)
    assert(math.abs(r.getAs[Double]("geom_max_dihedral_deg") - dih) < 1e-6)
    assert(r.getAs[Long]("geom_n_degenerate_cells") == 0)
    // |vol| = a³/(6√2) = 8/3 for a = 2√2; signed volume is negative here
    assert(math.abs(r.getAs[Double]("vol_min") + 8.0 / 3.0) < eps)
    assert(r.getAs[Long]("vol_n_inverted") == 1)
    // |jac| = 6·vol/a³ = 1/√2
    assert(math.abs(r.getAs[Double]("jac_min") + 1.0 / math.sqrt(2)) < eps)
    assert(r.getAs[Long]("jac_n_inverted") == 1)
  }

  test("right 3-4-5 triangle: aspect 5/3, jac = sin(90°) = 1 via cross") {
    val wide = MeshOps.cellsWithCoords(points, cells, 3)
      .filter(col("cell_id") === 1L)
    val v0 = Geometry.Vec.at(0); val v1 = Geometry.Vec.at(1); val v2 = Geometry.Vec.at(2)
    val r = wide.select(
      Geometry.aspectRatio(Geometry.triangleEdgeLens(v0, v1, v2)).as("ar"),
      Geometry.scaledJacobianTri3D(v0, v1, v2).as("jac"),
      Geometry.scaledJacobianTri2D(v0, v1, v2).as("jac2d")).collect()(0)
    assert(math.abs(r.getDouble(0) - 5.0 / 3.0) < eps)
    assert(math.abs(r.getDouble(1) - 1.0) < eps)   // 12/(3*4)
    assert(math.abs(r.getDouble(2) - 1.0) < eps)   // counter-clockwise → +
  }

  test("2D inverted (clockwise) triangle has negative scaled Jacobian") {
    val s = spark
    import s.implicits._
    val wide = Seq((0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 1.0, 0.0, 0.0))
      .toDF("x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2")
    val r = wide.select(Geometry.scaledJacobianTri2D(
      Geometry.Vec.at(0), Geometry.Vec.at(1), Geometry.Vec.at(2))).collect()(0)
    assert(r.getDouble(0) < 0)
  }

  test("collinear triangle is degenerate with ~zero area and jac") {
    val r = MeshOps.triangleQualityReport(points, cells)
      .filter(col("mesh_id") === 2L).collect()(0)
    assert(r.getAs[Long]("geom_n_degenerate_cells") == 1)
    assert(r.getAs[Double]("vol_min") < 1e-12)
    assert(r.getAs[Long]("vol_n_zero") == 1)
    assert(r.getAs[Long]("jac_n_poor") == 1)
  }

  test("regular tetrahedron: volume, jacobian, dihedral ≈ 70.53°, aspect 1") {
    val s = spark
    import s.implicits._
    // vertices of a regular tet with edge √2 on cube corners
    val wide = Seq((
      0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 1.0, 0.0, 1.0, 0.0, 1.0, 1.0
    )).toDF("x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2", "x3", "y3", "z3")
    val v = (0 to 3).map(Geometry.Vec.at)
    val r = wide.select(
      Geometry.tetVolume(v(0), v(1), v(2), v(3)).as("vol"),
      Geometry.scaledJacobianTet(v(0), v(1), v(2), v(3)).as("jac"),
      Geometry.aspectRatio(Geometry.tetEdgeLens(v(0), v(1), v(2), v(3))).as("ar"),
      Geometry.tetDihedralAngles(v(0), v(1), v(2), v(3)).head.as("dih")).collect()(0)
    val edge = math.sqrt(2)
    val volExpect = math.pow(edge, 3) / (6 * math.sqrt(2))  // = 1/3
    assert(math.abs(math.abs(r.getDouble(0)) - volExpect) < eps)
    // |det| = 6*vol = 2; prod norms = √2³ = 2.828 → |jac| = 0.7071
    assert(math.abs(math.abs(r.getDouble(1)) - 1.0 / math.sqrt(2)) < eps)
    assert(math.abs(r.getDouble(2) - 1.0) < eps)
    assert(math.abs(math.toDegrees(r.getDouble(3)) - 70.52877936550931) < 1e-6)
  }

  /** Corner tet (0,0,0), (1,0,0), (0,1,0), (0,0,1) as mesh 1 and the sliver
    * (0,0,0), (1,0,0), (0,1,0), (0.3,0.3,1e-4) as mesh 2, one cell each.
    */
  private def cornerAndSliver = {
    val s = spark
    import s.implicits._
    val pts = Seq(
      (1L, 0L, 0.0, 0.0, 0.0), (1L, 1L, 1.0, 0.0, 0.0),
      (1L, 2L, 0.0, 1.0, 0.0), (1L, 3L, 0.0, 0.0, 1.0),
      (2L, 4L, 0.0, 0.0, 0.0), (2L, 5L, 1.0, 0.0, 0.0),
      (2L, 6L, 0.0, 1.0, 0.0), (2L, 7L, 0.3, 0.3, 1e-4)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq((1L, 0L, Seq(0L, 1L, 2L, 3L)), (2L, 1L, Seq(4L, 5L, 6L, 7L)))
      .toDF("mesh_id", "cell_id", "vertices")
    (pts, cls)
  }

  test("tetDihedralAngles: corner tet pins the edge order 0-1, 0-2, 0-3, 1-2, 1-3, 2-3") {
    val s = spark
    import s.implicits._
    val wide = Seq((0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0))
      .toDF("x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2", "x3", "y3", "z3")
    val v = (0 to 3).map(Geometry.Vec.at)
    val r = wide.select(Geometry.tetDihedralAngles(v(0), v(1), v(2), v(3)): _*).collect()(0)
    // the three edges at the right-angled corner meet at 90°; the three
    // edges of the slanted face at acos(1/√3) ≈ 54.7356°
    val slant = math.toDegrees(math.acos(1.0 / math.sqrt(3)))
    val expected = Seq(90.0, 90.0, 90.0, slant, slant, slant)
    (0 until 6).foreach { i =>
      assert(math.abs(math.toDegrees(r.getDouble(i)) - expected(i)) < 1e-9, s"edge $i")
    }
  }

  test("tetQualityReport: corner tet min/max dihedral, sliver tet counted degenerate") {
    val (pts, cls) = cornerAndSliver
    val rows = MeshOps.tetQualityReport(pts, cls).collect()
      .map(r => r.getAs[Long]("mesh_id") -> r).toMap
    val corner = rows(1L)
    val slant = math.toDegrees(math.acos(1.0 / math.sqrt(3)))
    assert(math.abs(corner.getAs[Double]("geom_min_dihedral_deg") - slant) < 1e-9)
    assert(math.abs(corner.getAs[Double]("geom_max_dihedral_deg") - 90.0) < 1e-9)
    assert(corner.getAs[Long]("geom_n_degenerate_cells") == 0)
    val sliver = rows(2L)
    assert(sliver.getAs[Long]("geom_n_degenerate_cells") == 1)
    assert(sliver.getAs[Double]("geom_min_dihedral_deg") < 1.0)
    assert(sliver.getAs[Double]("geom_max_dihedral_deg") > 179.0)
  }

  test("quality reports stay small plans: at most 3,000 expression nodes") {
    val (pts, cls) = cornerAndSliver
    val tet = MeshOps.tetQualityReport(pts, cls).queryExecution
    // one inlined expression per column gave ~42,000 (shared normals and
    // dihedrals copied into every consumer)
    assert(Explain.exprNodes(tet.analyzed) <= 3000, "tet analyzed")
    assert(Explain.exprNodes(tet.optimizedPlan) <= 3000, "tet optimized")
    val tri = MeshOps.triangleQualityReport(points, cells).queryExecution
    assert(Explain.exprNodes(tri.analyzed) <= 3000, "triangle analyzed")
  }

  test("mergeDuplicatePoints + remapConnectivity + dropDuplicateCells + dropUnusedPoints") {
    val s = spark
    import s.implicits._
    // points 1 and 2 coincide (within tol); point 4 unused
    val pts = Seq(
      (1L, 0L, 0.0, 0.0, 0.0), (1L, 1L, 1.0, 0.0, 0.0),
      (1L, 2L, 1.0 + 1e-9, 0.0, 0.0), (1L, 3L, 0.0, 1.0, 0.0),
      (1L, 4L, 9.0, 9.0, 9.0)
    ).toDF("mesh_id", "point_id", "x", "y", "z")
    val cls = Seq(
      (1L, 0L, Seq(0L, 1L, 3L)), (1L, 1L, Seq(0L, 2L, 3L))  // same set after merge
    ).toDF("mesh_id", "cell_id", "vertices")

    val mapping = MeshOps.mergeDuplicatePoints(pts, 1e-6)
    val m = mapping.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m(2L) == 1L && m(1L) == 1L && m(0L) == 0L)

    val remapped = MeshOps.remapConnectivity(cls, mapping)
    val deduped = MeshOps.dropDuplicateCells(remapped)
    assert(deduped.count() == 1)
    assert(deduped.collect()(0).getSeq[Long](2) == Seq(0L, 1L, 3L))

    val used = MeshOps.dropUnusedPoints(pts, deduped)
    assert(used.select("point_id").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 3L))
  }

  test("deformingNodes + cellsWithAllVertices (WallNodeFilter)") {
    val s = spark
    import s.implicits._
    // node 0 moves, node 1 static, node 2 moves
    val disps = Seq(
      (1L, 0L, 0, 0.0, 0.0, 0.0), (1L, 0L, 1, 0.5, 0.0, 0.0),
      (1L, 1L, 0, 0.0, 0.0, 0.0), (1L, 1L, 1, 0.0, 1e-8, 0.0),
      (1L, 2L, 0, 1.0, 1.0, 1.0), (1L, 2L, 1, 1.0, 1.0, 2.0)
    ).toDF("mesh_id", "point_id", "t", "dx", "dy", "dz")
    val kept = MeshOps.deformingNodes(disps, 1e-4)
    assert(kept.collect().map(_.getLong(1)).toSet == Set(0L, 2L))

    val cls = Seq(
      (1L, 0L, Seq(0L, 2L)),      // both kept → survives
      (1L, 1L, Seq(0L, 1L))       // node 1 dropped → cell dies
    ).toDF("mesh_id", "cell_id", "vertices")
    val alive = MeshOps.cellsWithAllVertices(cls, kept)
    assert(alive.collect().map(_.getLong(1)).toSet == Set(0L))
  }

  test("pivotTimesteps + reconstructPositions round trip") {
    val s = spark
    import s.implicits._
    val disps = Seq(
      (1L, 0L, 0, 0.0, 0.0, 0.0), (1L, 0L, 1, 0.5, 0.1, 0.0),
      (1L, 1L, 0, 0.0, 0.0, 0.0), (1L, 1L, 1, -0.5, 0.0, 0.2)
    ).toDF("mesh_id", "point_id", "t", "dx", "dy", "dz")
    val wide = MeshOps.pivotTimesteps(disps, Seq(0, 1))
    assert(wide.columns.toSet.contains("dx_t1"))
    val r = wide.filter(col("point_id") === 0L).collect()(0)
    assert(r.getAs[Double]("dx_t1") == 0.5 && r.getAs[Double]("dy_t1") == 0.1)

    val pts = Seq((1L, 0L, 10.0, 20.0, 30.0), (1L, 1L, 0.0, 0.0, 0.0))
      .toDF("mesh_id", "point_id", "x", "y", "z")
    val pos = MeshOps.reconstructPositions(pts, disps)
      .filter(col("point_id") === 0L && col("t") === 1)
      .collect()(0)
    assert(pos.getAs[Double]("px") == 10.5 && pos.getAs[Double]("py") == 20.1)
  }

  test("cellEdges: unique undirected edges") {
    val e = MeshOps.cellEdges(cells).filter(col("mesh_id") === 1L).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(e == Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L), (3L, 5L), (4L, 5L)))
  }

  test("pointDataToCellData: vertex average onto cells") {
    val s = spark
    import s.implicits._
    val pd = Seq(
      (1L, 0L, "u", 1.0), (1L, 1L, "u", 2.0), (1L, 2L, "u", 6.0)
    ).toDF("mesh_id", "point_id", "field", "value")
    val r = MeshOps.pointDataToCellData(cells, pd).collect()
    assert(r.length == 1)
    assert(r(0).getLong(1) == 0L && r(0).getDouble(3) == 3.0)
  }
}
