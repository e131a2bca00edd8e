package graft.tools

import graft.core.GraftSession

/** Clustered synthetic embedding fixture (VERDICT r14 item 6): the
  * testdata embeddings are near-isotropic random vectors — PQ's
  * documented WORST case (no subspace structure to exploit) — so the
  * recall absolutes measured on them understate every quantized tier.
  * This generates a mixture-of-Gaussians table with the statistics real
  * embedding corpora have (cluster structure ≫ noise), deterministic in
  * (seed, vec_id, dim): centers are hash-uniform in [-1, 1]^dim, points
  * are center + N(0, sigma²) noise via Box–Muller over splitmix64
  * streams. Distributed generation (one typed map over a range — no
  * driver-side data), written as `<dest>/embeddings.parquet` so every
  * embeddings-table consumer (annRecallReport, the recall curves in
  * BASELINE.md "Clustered embedding fixture") runs on it unchanged.
  *
  * Usage: `runMain graft.tools.ClusteredEmbeddings <destDir> [n]
  * [clusters] [dim] [sigma] [seed]`
  */
object ClusteredEmbeddings {

  /** splitmix64 — the standard public-domain 64-bit mix. */
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Uniform in [0, 1) from a hash — 53 mantissa bits. */
  private def uniform(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Standard normal via Box–Muller over two hash streams. */
  private def gaussian(key: Long): Double = {
    val u1 = math.max(uniform(mix(key)), 1e-12)
    val u2 = uniform(mix(key ^ 0x5851f42d4c957f2dL))
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** One vector, fully determined by (seed, clusters, dim, sigma, id). */
  def vector(seed: Long, clusters: Int, dim: Int, sigma: Double,
             id: Long): Array[Float] = {
    val c = (id % clusters).toInt
    Array.tabulate(dim) { d =>
      val center = 2.0 * uniform(mix(seed ^ (c.toLong << 32) ^ d.toLong)) - 1.0
      (center + sigma * gaussian(seed ^ (id << 16) ^ (d.toLong << 1) ^ 1L)).toFloat
    }
  }

  def main(args: Array[String]): Unit = {
    val dest = args.headOption.getOrElse(
      sys.error("usage: ClusteredEmbeddings <destDir> [n] [clusters] [dim] [sigma] [seed]"))
    val n = args.lift(1).map(_.toLong).getOrElse(2000L)
    val clusters = args.lift(2).map(_.toInt).getOrElse(16)
    val dim = args.lift(3).map(_.toInt).getOrElse(64)
    val sigma = args.lift(4).map(_.toDouble).getOrElse(0.3)
    val seed = args.lift(5).map(_.toLong).getOrElse(42L)
    val spark = GraftSession.local(8)
    import spark.implicits._
    spark.range(n)
      .map(id => (id, vector(seed, clusters, dim, sigma, id)))
      .toDF("vec_id", "embedding")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    println(s"""{"tool":"clustered_embeddings","dest":"$dest","n":$n,""" +
      s""""clusters":$clusters,"dim":$dim,"sigma":$sigma,"seed":$seed}""")
    spark.stop()
  }
}
