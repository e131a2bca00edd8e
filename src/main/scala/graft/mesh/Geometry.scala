package graft.mesh

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Mesh-quality geometry kernels (reference `domains/mesh/filters/quality.py:147-426`,
  * originally vectorized torch) as deterministic double-precision column
  * expressions — whole-stage-codegen'd, no UDFs, exactly per SURVEY §2.8.
  *
  * Conventions mirrored from the reference:
  *  - `eps = 1e-30` guards every division;
  *  - `acos` arguments clamped to [-1, 1];
  *  - aspect ratio = longest/shortest edge (1.0 = ideal);
  *  - equiangle skewness = max(θmax−θideal, θideal−θmin)/(π−θideal), clamped [0,1];
  *  - scaled Jacobian: signed 2-D area / unsigned 3-D area / signed tet triple
  *    product over the product of edge norms.
  *
  * `Vec` builds expression trees, not values: every use of a `Vec` or of a
  * kernel's result copies its operands in full into the consuming
  * expression. A value used more than once must be staged as a named column
  * in its own `select` and read back with `col`. Inlined, the analyzed plan
  * of the tet quality report over four `RandomMeshSource` meshes had 42,093
  * expression nodes (each dihedral re-expands two face normals; min, max
  * and the degenerate test re-expand all six dihedrals); staged in three
  * projections it has 2,145 (`MeshOps.tetQualityReport`).
  */
object Geometry {

  val Eps = 1e-30

  /** 3-vector of coordinate columns with the usual algebra. */
  final case class Vec(x: Column, y: Column, z: Column) {
    def -(o: Vec): Vec = Vec(x - o.x, y - o.y, z - o.z)
    def unary_- : Vec = Vec(-x, -y, -z)
    def dot(o: Vec): Column = x * o.x + y * o.y + z * o.z
    def cross(o: Vec): Vec =
      Vec(y * o.z - z * o.y, z * o.x - x * o.z, x * o.y - y * o.x)
    def norm: Column = sqrt(dot(this))
  }
  object Vec {
    /** From column-name prefix: `p"i"` → (xi, yi, zi). */
    def at(i: Int): Vec = Vec(col(s"x$i"), col(s"y$i"), col(s"z$i"))
  }

  private def clamp1(c: Column): Column = least(lit(1.0), greatest(lit(-1.0), c))

  /** Interior angle at the common origin of edge vectors a, b (radians). */
  def angle(a: Vec, b: Vec): Column =
    acos(clamp1(a.dot(b) / (a.norm * b.norm + Eps)))

  /** The three interior angles of triangle (v0, v1, v2). */
  def triangleAngles(v0: Vec, v1: Vec, v2: Vec): Seq[Column] = {
    val e01 = v1 - v0; val e02 = v2 - v0; val e12 = v2 - v1
    Seq(angle(e01, e02), angle(-e01, e12), angle(-e02, -e12))
  }

  /** longest/shortest over the given edge lengths (1.0 = ideal). */
  def aspectRatio(edgeLens: Seq[Column]): Column =
    edgeLens.reduce(greatest(_, _)) / (edgeLens.reduce(least(_, _)) + Eps)

  def triangleEdgeLens(v0: Vec, v1: Vec, v2: Vec): Seq[Column] =
    Seq((v1 - v0).norm, (v2 - v1).norm, (v0 - v2).norm)

  def tetEdgeLens(v0: Vec, v1: Vec, v2: Vec, v3: Vec): Seq[Column] =
    Seq((v1 - v0).norm, (v2 - v0).norm, (v3 - v0).norm,
      (v2 - v1).norm, (v3 - v1).norm, (v3 - v2).norm)

  /** Equiangle skewness in [0,1]; θideal = π/3 (tri) or π/2 (quad). */
  def equiangleSkewness(angles: Seq[Column], idealRad: Double): Column = {
    val aMax = angles.reduce(greatest(_, _))
    val aMin = angles.reduce(least(_, _))
    least(lit(1.0), greatest(lit(0.0),
      greatest(aMax - idealRad, lit(idealRad) - aMin) / (math.Pi - idealRad)))
  }

  /** Signed 2-D scaled Jacobian (z ignored): negative = inverted. */
  def scaledJacobianTri2D(v0: Vec, v1: Vec, v2: Vec): Column = {
    val e1 = v1 - v0; val e2 = v2 - v0
    val det = e1.x * e2.y - e1.y * e2.x
    det / (e1.norm * e2.norm + Eps)
  }

  /** Unsigned 3-D triangle scaled Jacobian in [0,1]. */
  def scaledJacobianTri3D(v0: Vec, v1: Vec, v2: Vec): Column = {
    val e1 = v1 - v0; val e2 = v2 - v0
    e1.cross(e2).norm / (e1.norm * e2.norm + Eps)
  }

  /** Signed tetrahedron scaled Jacobian: triple product over edge-norm product. */
  def scaledJacobianTet(v0: Vec, v1: Vec, v2: Vec, v3: Vec): Column = {
    val e1 = v1 - v0; val e2 = v2 - v0; val e3 = v3 - v0
    e1.dot(e2.cross(e3)) / (e1.norm * e2.norm * e3.norm + Eps)
  }

  /** Triangle area (unsigned). */
  def triangleArea(v0: Vec, v1: Vec, v2: Vec): Column =
    (v1 - v0).cross(v2 - v0).norm / 2.0

  /** Signed tetrahedron volume (triple product / 6). */
  def tetVolume(v0: Vec, v1: Vec, v2: Vec, v3: Vec): Column =
    (v1 - v0).dot((v2 - v0).cross(v3 - v0)) / 6.0

  /** Outward (unnormalized) face normals n0..n3 of tet (v0, v1, v2, v3); face i is
    * the one opposite vertex i, oriented away from it (`quality.py:180-262`).
    */
  def tetOutwardNormals(v0: Vec, v1: Vec, v2: Vec, v3: Vec): Seq[Vec] = {
    def outwardNormal(a: Vec, b: Vec, c: Vec, opposite: Vec): Vec = {
      val n = (b - a).cross(c - a)
      val centroid = Vec((a.x + b.x + c.x) / 3.0, (a.y + b.y + c.y) / 3.0,
        (a.z + b.z + c.z) / 3.0)
      val s = signum((centroid - opposite).dot(n))
      Vec(n.x * s, n.y * s, n.z * s)
    }
    Seq(outwardNormal(v1, v2, v3, v0), outwardNormal(v0, v2, v3, v1),
      outwardNormal(v0, v1, v3, v2), outwardNormal(v0, v1, v2, v3))
  }

  /** The six tet dihedral angles (radians) from the outward face normals
    * n0..n3, edge order (0-1, 0-2, 0-3, 1-2, 1-3, 2-3): π − angle between
    * the normals of the two faces sharing the edge.
    */
  def dihedralAngles(normals: Seq[Vec]): Seq[Column] = {
    val Seq(n0, n1, n2, n3) = normals
    def dihedral(na: Vec, nb: Vec): Column =
      lit(math.Pi) - acos(clamp1(na.dot(nb) / (na.norm * nb.norm + Eps)))
    Seq(dihedral(n2, n3), dihedral(n1, n3), dihedral(n1, n2),
      dihedral(n0, n3), dihedral(n0, n2), dihedral(n0, n1))
  }

  /** The six tet dihedral angles (radians), edge order
    * (0-1, 0-2, 0-3, 1-2, 1-3, 2-3), as one inline expression each.
    */
  def tetDihedralAngles(v0: Vec, v1: Vec, v2: Vec, v3: Vec): Seq[Column] =
    dihedralAngles(tetOutwardNormals(v0, v1, v2, v3))

  /** Degenerate-cell predicate: any angle < 1° or > 179° (`quality.py:774-775`). */
  def degenerate(angles: Seq[Column]): Column = {
    val aMax = angles.reduce(greatest(_, _))
    val aMin = angles.reduce(least(_, _))
    aMin < math.toRadians(1.0) || aMax > math.toRadians(179.0)
  }
}
