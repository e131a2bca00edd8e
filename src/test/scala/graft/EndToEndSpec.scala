package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.core._
import graft.mesh.MeshOps
import graft.sinks.Sinks

/** The SURVEY §7.2 end-to-end slice, whole stack in one pipeline:
  * DataSourceV2 synthetic mesh source → precision filter → per-mesh stats →
  * partitioned sink, with ledger resume across a simulated kill.
  */
class EndToEndSpec extends SparkSpec {

  test("source → filters → quality-stats → sink with kill/resume") {
    val ledgerDir = Files.createTempDirectory("e2e-ledger").toString
    val out = Files.createTempDirectory("e2e-out").toString

    val source = PSource("random_mesh", Map("n_meshes" -> "6", "seed" -> "7"),
      s => s.read.format("graft.sources.RandomMeshSource")
        .option("n_meshes", 6).option("points_per_mesh", 300).option("seed", 7)
        .load())
    // count chain builds and sink writes, so the rerun's "nothing
    // recomputed" is asserted, not only its counts
    val transforms = new AtomicInteger
    val writes = new AtomicInteger
    val downcast = PFilter("precision", Map("target" -> "float"),
      df => { transforms.incrementAndGet(); graft.operators.FieldOps.precisionCast(df) })
    val stats = PFilter("field_stats", Map("field" -> "field_a"),
      df => df.groupBy("mesh_id").agg(
        count(lit(1)).as("n_points"),
        avg("field_a").as("mean_a"), min("x").as("min_x"), max("x").as("max_x")))
    val parquet = Sinks.parquetSink(s"$out/stats", Seq("mesh_id"))
    val sink = parquet.copy(write = df => { writes.incrementAndGet(); parquet.write(df) })
    val pipeline = Pipeline(source).filter(downcast).filter(stats).write(sink)

    // simulate a killed earlier run that completed meshes 0-2
    val runId = pipeline.configHash.take(16)
    new Ledger(ledgerDir).recordCompleted(spark, runId, Seq(0L, 1L, 2L), 1L, 900L)

    val r = Runner.runPipeline(spark, pipeline, "mesh_id", ledgerDir)
    assert(r.nTotal == 6 && r.nSkipped == 3 && r.nExecuted == 3)

    val written = spark.read.parquet(s"$out/stats")
    assert(written.select(col("mesh_id").cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(3L, 4L, 5L))
    // precision filter took effect upstream of the aggregation
    assert(written.schema("min_x").dataType.typeName == "float")
    // values are the deterministic source values
    val m3 = written.filter(col("mesh_id") === 3).collect()(0)
    assert(m3.getAs[Long]("n_points") == 300)

    // rerun: everything checkpointed, nothing recomputed
    assert(transforms.get == 1 && writes.get == 1)
    val r2 = Runner.runPipeline(spark, pipeline, "mesh_id", ledgerDir)
    assert(r2.nExecuted == 0 && r2.nSkipped == 6)
    assert(transforms.get == 1 && writes.get == 1)
  }

  test("mesh quality report runs on DSv2 source points end to end") {
    val pts = spark.read.format("graft.sources.RandomMeshSource")
      .option("n_meshes", 2).option("points_per_mesh", 30).option("seed", 11).load()
      .select(col("mesh_id"), col("point_id"), col("x"), col("y"), col("z"))
    val s = spark
    import s.implicits._
    // triangles over consecutive point triples
    val cells = (0L until 2L).flatMap(m => (0L until 28L).map(c => (m, c, Seq(c, c + 1, c + 2))))
      .toDF("mesh_id", "cell_id", "vertices")
    val report = MeshOps.triangleQualityReport(pts, cells).orderBy("mesh_id").collect()
    assert(report.length == 2)
    assert(report.forall(_.getAs[Long]("n_cells") == 28))
    assert(report.forall(r => r.getAs[Double]("geom_min_aspect_ratio") >= 1.0))
    assert(report.forall(r => r.getAs[Double]("jac_min") >= 0.0)) // 3D unsigned
  }
}
