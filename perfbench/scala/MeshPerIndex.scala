package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Ledger, PSink, PSource, Pipeline, Runner}
import graft.mesh.MeshOps
import graft.operators.{SimilarityOps, StatsOps}
import graft.sinks.VtuSink
import graft.sources.{RandomMeshSource, Tables}
import graft.tools.ClusteredEmbeddings

/** `mesh-per-index`: the reference's per-index execution model, then
  * similarity search over the dataset's sample embeddings.
  *
  * Per index: `Runner.runPerIndex` runs one small Spark job chain per mesh
  * index from `RandomMeshSource`: tet quality report (tets are consecutive
  * point quadruples), Welford field statistics, and an appended-zlib VTU
  * write. The files are read back through `VtuDataSource`. Driver-side
  * work dominates (planning, listener drains, ledger appends, heartbeats);
  * there is almost no shuffle. The closed-loop unit of the pass is the
  * index.
  *
  * Search: an IVF index over `Rows` seeded 64-d embeddings (the
  * mixture-of-Gaussians generator of `tools/ClusteredEmbeddings`) is
  * trained on the driver (`ivfCentroids`) and its lists assigned and
  * pinned (`ivfLists`); then `Queries` top-10 queries run one at a time,
  * closed loop (`ivfTopKOverLists`). Codegen'd vector kernels and
  * driver-side training carry the build; each query costs about one job.
  *
  * Resume: a seeded quarter of the mesh indices is reset in the ledger and
  * the run resumed; the resume reads the ledger the fresh pass wrote.
  */
object MeshPerIndex extends WorkloadFactory {
  val name = "mesh-per-index"
  val Meshes = 4
  val Points = 2000
  val Rows = 20000
  val Dim = 64
  val Clusters = 64
  val Sigma = 0.35
  val NList = 32
  val Iters = 3
  val NProbe = 4
  val Queries = 16
  val TopK = 10
  /** Mean recall@10 against brute-force cosine must reach this. */
  val RecallFloor = 0.9

  def generate(spark: SparkSession, dir: String, seed: Long): Workload = {
    // the source is synthetic: the inputs are its options, and the expected
    // per-mesh aggregates are recomputed here from its value function
    val sums = (0 until Meshes).map { m =>
      var sx, sa = 0.0
      var i = 0L
      while (i < Points) {
        val base = RandomMeshSource.mix(seed * 1000003L + m) + i * 7L
        sx += RandomMeshSource.unit(base)
        sa += RandomMeshSource.unit(base + 3) * 100.0
        i += 1
      }
      (sx, sa)
    }
    import spark.implicits._
    val (s, c, d, sg) = (seed, Clusters, Dim, Sigma)
    spark.range(Rows).map(id => (id, ClusteredEmbeddings.vector(s, c, d, sg, id)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // the brute-force side keeps its own copy, computed without Spark
    val vecs = Array.tabulate(Rows)(i => ClusteredEmbeddings.vector(seed, c, d, sg, i))
    val queries = new scala.util.Random(seed).shuffle((0 until Rows).toVector).take(Queries)
    new MeshPerIndex(spark, seed, sums, dir, vecs, queries)
  }
}

final class MeshPerIndex(spark: SparkSession, seed: Long,
                         sums: IndexedSeq[(Double, Double)], in: String,
                         vecs: Array[Array[Float]], queries: Seq[Int])
    extends Workload {
  import MeshPerIndex._
  import spark.implicits._

  private val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))

  /** Exact top-k by cosine over every row but the query itself. */
  private def bruteForce(q: Int): Set[Long] = {
    val v = vecs(q)
    val best = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by(x => -x._1))
    var i = 0
    while (i < vecs.length) {
      if (i != q) {
        val w = vecs(i)
        var dot = 0.0
        var j = 0
        while (j < Dim) { dot += v(j).toDouble * w(j); j += 1 }
        val sim = dot / (norms(q) * norms(i))
        if (best.size < TopK) best.enqueue((sim, i))
        else if (sim > best.head._1) { best.dequeue(); best.enqueue((sim, i)) }
      }
      i += 1
    }
    best.iterator.map(_._2.toLong).toSet
  }
  private lazy val exact: Map[Int, Set[Long]] = queries.map(q => q -> bruteForce(q)).toMap

  def describe: Map[String, String] = Map(
    "name" -> name,
    "meshes" -> Meshes.toString,
    "points_per_mesh" -> Points.toString,
    "embedding_rows" -> Rows.toString, "dim" -> Dim.toString,
    "nlist" -> NList.toString, "nprobe" -> NProbe.toString,
    "queries" -> Queries.toString, "recall_floor" -> RecallFloor.toString,
    "why" -> ("per-index jobs: planning, listener drains and ledger appends " +
      "dominate; the resume reads the ledger the fresh pass wrote; then " +
      "closed-loop top-k queries over an IVF index: vector kernels, " +
      "driver-side training and the per-job floor"))

  /** Build the IVF index and answer every query, one at a time. Returns the
    * train and list-assignment walls, each query's wall and its ids.
    */
  private def search(tr: Tracer, queries: Seq[Int])
      : (Double, Double, Seq[Double], Seq[(Int, Array[Long])]) = {
    val emb = Tables.embeddings(spark, in)
    val t0 = System.nanoTime()
    val cents = tr.span("operators.similarity.train")(SimilarityOps.ivfCentroids(
      emb, "vec_id", "embedding", k = NList, iters = Iters, dimHint = Dim))
    val t1 = System.nanoTime()
    val lists = tr.span("operators.similarity.lists") {
      val l = SimilarityOps.ivfLists(emb, "vec_id", "embedding", cents)
        .persist(StorageLevel.MEMORY_ONLY)
      l.count()
      l
    }
    val t2 = System.nanoTime()
    try {
      val res = queries.map { q =>
        val tq = System.nanoTime()
        val got = tr.span("operators.similarity.query") {
          val qdf = Seq((q.toLong, vecs(q))).toDF("vec_id", "embedding")
          SimilarityOps.ivfTopKOverLists(lists, qdf, "vec_id", "embedding",
            TopK, q.toLong + 1, cents, NProbe).select("ib").collect().map(_.getLong(0))
        }
        ((System.nanoTime() - tq) / 1e9, q -> got)
      }
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, res.map(_._1), res.map(_._2))
    } finally lists.unpersist()
  }

  def pass(tr: Tracer, dir: String, full: Boolean): PassResult = {
    val meshes = if (full) Meshes else 1
    val ledgerDir = s"$dir/ledger"
    val out = s"$dir/vtu"
    val cellsSeen = mutable.HashMap.empty[Long, Long]
    val welfordN = mutable.HashMap.empty[Long, Long]

    val pipe = Pipeline(
      PSource("random_mesh", Map("n_meshes" -> meshes.toString,
        "points_per_mesh" -> Points.toString, "seed" -> seed.toString),
        sp => sp.read.format("graft.sources.RandomMeshSource")
          .option("n_meshes", meshes.toLong).option("points_per_mesh", Points.toLong)
          .option("seed", seed).load().withColumn("idx", col("mesh_id"))),
      Vector.empty,
      Some(PSink("vtu_quality_stats", Map("path" -> "vtu", "format" -> "appended-zlib"),
        slice => {
          val pts = tr.span("sources.mesh")(tr.mat(
            slice.select("mesh_id", "point_id", "x", "y", "z", "field_a")))
          val cells = pts.groupBy(col("mesh_id"),
              (col("point_id") / 4).cast("long").as("cell_id"))
            .agg(sort_array(collect_list(col("point_id"))).as("vertices"),
              count(lit(1)).as("nv"))
            .filter(col("nv") === 4).drop("nv")
          // quality report and field statistics come back in one action
          val quality = tr.span("mesh.quality")(tr.mat(
            MeshOps.tetQualityReport(pts, cells).select("mesh_id", "n_cells")))
          val stats = tr.span("operators.stats.welford")(tr.mat(StatsOps.welfordState(
              StatsOps.toLong(pts, Seq("x", "field_a"), Seq("mesh_id")),
              Seq("mesh_id"), "value").select("mesh_id", "n")))
          tr.span("mesh.report")(quality.join(stats, "mesh_id").collect()).foreach { r =>
            cellsSeen(r.getLong(0)) = r.getLong(1)
            welfordN(r.getLong(0)) = welfordN.getOrElse(r.getLong(0), 0L) + r.getLong(2)
          }
          val pd = pts.select(col("mesh_id"), col("point_id"),
            lit("field_a").as("field"), col("field_a").as("value"))
          tr.span("sinks.vtu.write")(VtuSink.write(
            pts.select("mesh_id", "point_id", "x", "y", "z"), cells, pd, out,
            format = "appended-zlib"))
        })))

    // per-index wall: from one index's start hook to the next one's
    val starts = mutable.ArrayBuffer.empty[(Long, Long)]
    def run(name: String): (graft.core.RunResult, Seq[Double]) = {
      starts.clear()
      val r = tr.span(name)(Runner.runPerIndex(spark, pipe, "idx", ledgerDir,
        beforeIndex = i => starts += ((i, System.nanoTime()))))
      val end = System.nanoTime()
      val walls = starts.indices.map { j =>
        val stop = if (j + 1 < starts.size) starts(j + 1)._2 else end
        tr.record(s"core.runner.index#${starts(j)._1}", starts(j)._2, stop)
        (stop - starts(j)._2) / 1e9
      }
      (r, walls)
    }

    val t0 = System.nanoTime()
    val (r1, walls, readBack, readCells, found) = tr.span("wall") {
      val (r, w) = run("core.runner.run")
      val meshOf = regexp_extract(col("mesh_id"), "mesh_(\\d+)\\.vtu", 1).cast("long")
      val (pts, cls) = tr.span("sources.vtk.decode")((
        spark.read.format("graft.sources.VtuDataSource").option("path", out).load()
          .groupBy(meshOf.as("m")).agg(count(lit(1)), sum("x"), sum("field_a")).collect(),
        spark.read.format("graft.sources.VtuDataSource").option("path", out)
          .option("table", "cells").load().groupBy(meshOf.as("m")).count().collect()))
      (r, w, pts, cls, tr.span("search")(search(tr, if (full) queries else queries.take(1))))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    if (!full) return PassResult(wallS, meshes, walls, Double.NaN, 0, Nil)
    val (trainS, listsS, queryWalls, results) = found

    // reset a seeded quarter and resume: exactly that quarter re-executes
    val ledger = new Ledger(ledgerDir)
    val quarter = new scala.util.Random(seed).shuffle((0L until Meshes).toList)
      .take(Meshes / 4).sorted
    val tReset = System.nanoTime()
    tr.span("core.ledger.reset")(quarter.foreach(ledger.resetIndex(spark, r1.runId, _)))
    val resetS = (System.nanoTime() - tReset) / 1e9
    val t1 = System.nanoTime()
    val (r2, _) = run("core.runner.resume")
    val resumeS = (System.nanoTime() - t1) / 1e9
    val resumed = starts.map(_._1).toList.sorted

    // ---- checks (untimed)
    val fail = mutable.ArrayBuffer.empty[String]
    val (completed, progress) = tr.span("core.ledger.read")((
      ledger.completedIndices(spark, r1.runId).count(),
      ledger.progressDf(spark, r1.runId, 60000L, System.currentTimeMillis()).collect()))
    val pts = readBack.map(r => r.getLong(0) -> r).toMap
    val cls = readCells.map(r => r.getLong(0) -> r.getLong(1)).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    (0 until Meshes).foreach { m =>
      val (sx, sa) = sums(m)
      pts.get(m.toLong) match {
        case None => fail += s"mesh $m: no VTU read back"
        case Some(r) =>
          if (r.getLong(1) != Points) fail += s"mesh $m: ${r.getLong(1)} points"
          if (!close(r.getDouble(2), sx) || !close(r.getDouble(3), sa))
            fail += s"mesh $m: field sums ${r.getDouble(2)}/${r.getDouble(3)} != $sx/$sa"
      }
      if (!cls.get(m.toLong).contains(Points / 4L)) fail += s"mesh $m: cells ${cls.get(m.toLong)}"
      if (!cellsSeen.get(m.toLong).contains(Points / 4L)) fail += s"mesh $m: quality cells ${cellsSeen.get(m.toLong)}"
      if (welfordN.getOrElse(m.toLong, 0L) < 2L * Points) fail += s"mesh $m: welford n ${welfordN.get(m.toLong)}"
    }
    if (r1.nExecuted != Meshes) fail += s"fresh run executed ${r1.nExecuted}"
    if (resumed != quarter || r2.nExecuted != quarter.size || r2.nSkipped != Meshes - quarter.size)
      fail += s"resume executed $resumed (${r2.nExecuted}), expected $quarter"
    if (completed != Meshes) fail += s"ledger lists $completed completed indices"
    if (progress.isEmpty) fail += "progressDf returned no row"
    val recalls = results.map { case (q, got) =>
      if (got.length != TopK) fail += s"query $q returned ${got.length} rows"
      (got.toSet intersect exact(q)).size.toDouble / TopK
    }
    val recall = recalls.sum / recalls.size
    if (recall < RecallFloor) fail += f"mean recall@$TopK $recall%.3f < $RecallFloor"

    val (files, bytes) = Main.dirStats(new java.io.File(ledgerDir))
    val (vtuFiles, vtuBytes) = Main.dirStats(new java.io.File(out))
    val counts = Map(
      "core.ledger.files" -> files.toDouble,
      "core.ledger.bytes" -> bytes.toDouble,
      "core.ledger.reset_s" -> resetS,
      "sinks.vtu.files" -> vtuFiles.toDouble,
      "sinks.vtu.bytes_per_point" -> vtuBytes.toDouble / (Meshes * Points),
      "operators.similarity.train_s" -> trainS,
      "operators.similarity.lists_s" -> listsS,
      "operators.similarity.query_s_p50" -> Main.median(queryWalls),
      "operators.similarity.query_s_p90" -> Main.percentile(queryWalls, 0.9),
      "operators.similarity.recall_at_10" -> recall)
    PassResult(wallS, Meshes, walls, resumeS, Meshes + quarter.size + Queries,
      fail.toSeq, counts)
  }
}
