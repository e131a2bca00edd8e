package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 synthetic mesh source (reference
  * `domains/mesh/sources/random.py:39`: seeded tet meshes, `seed + index` per
  * item) — the custom-reader showcase of SURVEY §4(a), bound to the
  * [[UnitSource]] skeleton:
  *
  *  - one unit, so one InputPartition, per mesh index (the curator
  *    per-index contract: independently executable, retryable units), keyed
  *    by `mesh_id` — a `mesh_id = i` slice plans and generates index i only;
  *  - pruned columns are never generated (the reader-level `key_filters`
  *    pruning of `vtk.py:120-123`);
  *  - deterministic per-(seed, index, row) values, so any subset re-reads
  *    identically — the property checkpoint/resume depends on.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.RandomMeshSource")
  *   .option("n_meshes", 8).option("points_per_mesh", 1000).option("seed", 42)
  *   .load()  // (mesh_id, point_id, x, y, z, field_a, field_b)
  * }}}
  */
class RandomMeshSource extends UnitSource {
  override protected def label = "random_mesh"
  override protected def keyColumn = "mesh_id"

  private def meshes(o: CaseInsensitiveStringMap) = o.getLong("n_meshes", 4)
  private def points(o: CaseInsensitiveStringMap) = o.getLong("points_per_mesh", 100)

  override protected def check(o: CaseInsensitiveStringMap): Unit =
    Seq("n_meshes" -> meshes(o), "points_per_mesh" -> points(o)).foreach { case (k, v) =>
      if (v < 0) throw new IllegalArgumentException(s"$sourceName: $k must be >= 0, got $v")
    }

  override protected def schemaOf(o: CaseInsensitiveStringMap): StructType =
    RandomMeshSource.Schema

  // synthetic: rows and width are exactly known, so report both — a small
  // generated mesh side can then broadcast like any sized relation
  override protected def units(o: CaseInsensitiveStringMap): Seq[ScanUnit] = {
    val n = points(o)
    (0L until meshes(o)).map(i => ScanUnit(i, Nil, n * 8L * RandomMeshSource.Schema.size, n))
  }
  override protected def payloadFraction(o: CaseInsensitiveStringMap, full: StructType,
                                         required: StructType): Double =
    math.max(required.size, 1).toDouble / full.size

  override protected def reader(o: CaseInsensitiveStringMap, required: StructType,
                                pushed: Array[Filter]): ScanUnit => Iterator[InternalRow] = {
    val n = points(o)
    val seed = o.getLong("seed", 42)
    val cols = required.fieldNames
    u => {
      val mesh = RandomMeshSource.mix(seed * 1000003L + u.key.asInstanceOf[Long])
      // only the REQUIRED columns are generated — pruning reaches the source
      indexedRows(u, cols, n) {
        case "point_id" => i => i
        case "x" => i => RandomMeshSource.unit(mesh + i * 7L)
        case "y" => i => RandomMeshSource.unit(mesh + i * 7L + 1)
        case "z" => i => RandomMeshSource.unit(mesh + i * 7L + 2)
        case "field_a" => i => RandomMeshSource.unit(mesh + i * 7L + 3) * 100.0
        case "field_b" => i => UTF8String.fromString(
          if (RandomMeshSource.mix(mesh + i * 7L + 4) % 2 == 0) "solid" else "fluid")
      }
    }
  }
}

object RandomMeshSource {
  val Schema: StructType = StructType(Seq(
    StructField("mesh_id", LongType, nullable = false),
    StructField("point_id", LongType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("field_a", DoubleType, nullable = false),
    StructField("field_b", StringType, nullable = false)))

  /** splitmix64 — deterministic, platform-independent value stream. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def unit(z: Long): Double = (mix(z) >>> 11).toDouble / (1L << 53).toDouble
}
