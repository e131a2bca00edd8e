package graft

import org.apache.spark.sql.functions._

import graft.core.MetricsListener
import graft.grid.GridOps
import graft.operators.SimilarityOps

/** Grid ops, hyperplane-LSH ANN, metrics listener. */
class GridAnnSpec extends SparkSpec {

  private def grid = {
    val s = spark
    import s.implicits._
    // 4×4 grid, value = i*10 + j
    (for { i <- 0L until 4L; j <- 0L until 4L } yield ("t2m", i, j, (i * 10 + j).toDouble))
      .toDF("field", "i", "j", "value")
  }

  test("coarsen: factor-2 block means") {
    val c = GridOps.coarsen(grid, Seq("i", "j"), 2)
    val m = c.collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(4)).toMap
    // block (0,0) = mean(0,1,10,11) = 5.5 ; block (1,1) = mean(22,23,32,33) = 27.5
    assert(m((0L, 0L)) == 5.5)
    assert(m((1L, 1L)) == 27.5)
    assert(c.collect().forall(_.getLong(3) == 4)) // n_cells
  }

  test("slicePlane and crop") {
    val sl = GridOps.slicePlane(grid, "i", 2L)
    assert(sl.count() == 4 && !sl.columns.contains("i"))
    val cr = GridOps.crop(grid, Map("i" -> (1L, 2L), "j" -> (0L, 1L)))
    assert(cr.count() == 4)
  }

  test("withPhysicalCoords: origin + index*spacing") {
    val p = GridOps.withPhysicalCoords(grid, Seq("i", "j"), Seq(100.0, -2.0), Seq(0.5, 0.25))
    val r = p.filter(col("i") === 3 && col("j") === 2)
      .select("i_phys", "j_phys").collect()(0)
    assert(r.getDouble(0) == 101.5 && r.getDouble(1) == -1.5)
  }

  test("ANN bucket pairs: subset of brute force, finds identical vectors") {
    val s = spark
    import s.implicits._
    // three tight clusters of 3 + noise vectors
    def v(seed: Int): Array[Float] =
      Array.tabulate(16)(d => (math.sin(seed * 31 + d) * 10).toFloat)
    val rows = (0 until 3).flatMap { c =>
      (0 until 3).map(k => ((c * 3 + k).toLong, v(c)))   // identical within cluster
    } ++ (9 until 14).map(i => (i.toLong, v(i * 7 + 100)))
    val df = rows.toDF("vec_id", "embedding")

    val ann = SimilarityOps.annCosinePairs(df, "vec_id", "embedding", 0.99, nPlanes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.cosinePairs(df, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(brute))
    // multi-probe never loses candidates and still verifies exactly
    val probed = SimilarityOps.annCosinePairs(df, "vec_id", "embedding", 0.99,
      nPlanes = 6, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(probed) && probed.subsetOf(brute))
    // identical vectors always share every bucket → all within-cluster pairs found
    val expectedClusters = (0 until 3).flatMap { c =>
      val ids = (0 until 3).map(k => (c * 3 + k).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(expectedClusters.subsetOf(ann))
  }

  test("multi-table LSH: subset of brute force, full recall on tight clusters") {
    val s = spark
    import s.implicits._
    def v(seed: Int): Array[Float] =
      Array.tabulate(16)(d => (math.sin(seed * 31 + d) * 10).toFloat)
    val rows = (0 until 3).flatMap { c =>
      (0 until 3).map(k => ((c * 3 + k).toLong, v(c)))
    } ++ (9 until 14).map(i => (i.toLong, v(i * 7 + 100)))
    val df = rows.toDF("vec_id", "embedding")
    val multi = SimilarityOps.annCosinePairsMulti(df, "vec_id", "embedding", 0.99,
      nTables = 4, planesPerTable = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.cosinePairs(df, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.subsetOf(brute))
    val expectedClusters = (0 until 3).flatMap { c =>
      val ids = (0 until 3).map(k => (c * 3 + k).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(expectedClusters.subsetOf(multi))
  }

  test("eager multi-table LSH: same pairs, internal cache released") {
    val s = spark
    import s.implicits._
    def v(seed: Int): Array[Float] =
      Array.tabulate(16)(d => (math.sin(seed * 31 + d) * 10).toFloat)
    val rows = (0 until 3).flatMap { c =>
      (0 until 3).map(k => ((c * 3 + k).toLong, v(c)))
    } ++ (9 until 14).map(i => (i.toLong, v(i * 7 + 100)))
    val df = rows.toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    val lazyPairs = SimilarityOps.annCosinePairsMulti(df, "vec_id", "embedding", 0.99,
      nTables = 4, planesPerTable = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val eager = SimilarityOps.annCosinePairsMultiEager(df, "vec_id", "embedding", 0.99,
      nTables = 4, planesPerTable = 6)
    val got = eager.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == lazyPairs)
    // the internal signature base was CacheManager-persisted; if eager
    // failed to release it, clearCache() would now remove it — so nothing
    // eager left behind may be CacheManager-managed (the localCheckpoint
    // blocks of the result are sc-level and survive the clear)
    val newAfterEager = sc.getPersistentRDDs.keySet -- before
    spark.catalog.clearCache()
    val survivors = sc.getPersistentRDDs.keySet & newAfterEager
    assert(survivors == newAfterEager,
      s"eager left CacheManager-managed blocks behind: ${newAfterEager -- survivors}")
    // and the result is still readable after the clear (it was materialized)
    assert(eager.count() == got.size)
  }

  test("multi-table LSH recall ≥ 0.9 at τ=0.25 on real embeddings (q_ann_pairs config)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val brute = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.annCosinePairsMulti(emb, "vec_id", "embedding", 0.25,
      nTables = 12, planesPerTable = 3, dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann.subsetOf(brute), "verify step must make ANN pairs a brute-force subset")
    val recall = ann.size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall < 0.9 (${ann.size}/${brute.size})")
  }

  test("planted-triple edges: multi-table LSH == brute force (q_dedup_clusters edge set)") {
    // at the GATE scale (sf0.01): a recall regression surfaces here as a
    // named assertion, not a nondeterministic CORRECTNESS hash mismatch
    val trip = graft.queries.QuerySupport.plantedTriples(spark, "/root/testdata/sf0.01")
    val ann = SimilarityOps.annCosinePairsMulti(trip, "id", "embedding", 0.9,
      nTables = 6, planesPerTable = 12, dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.cosinePairs(trip, "id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann == brute, s"LSH edges must equal brute edges: missing ${brute -- ann}, extra ${ann -- brute}")
    // occupancy stays bounded: no bucket degenerates toward O(n)
    val planes = SimilarityOps.hyperplanes(64, 12, 42L + 1299721L)
    val occ = trip.select(SimilarityOps.bucketSignature(col("embedding"), planes).as("b"))
      .groupBy("b").count().agg(max("count")).first().getLong(0)
    assert(occ <= 100, s"max bucket occupancy $occ")
  }

  test("annCosinePairsMulti plan has no cartesian/nested-loop join") {
    val trip = graft.queries.QuerySupport.plantedTriples(spark, "/root/testdata/sf0.001")
    val plan = SimilarityOps.annCosinePairsMulti(trip, "id", "embedding", 0.9,
      nTables = 6, planesPerTable = 12, dimHint = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "plan contains CartesianProduct")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "plan contains BroadcastNestedLoopJoin")
  }

  test("MetricsListener records action durations and observed metrics") {
    val s = spark
    import s.implicits._
    val l = MetricsListener.attach(s)
    try {
      val obs = org.apache.spark.sql.Observation("m")
      Seq(1, 2, 3).toDF("x").observe(obs, count(lit(1)).as("n")).collect()
      // listener events deliver asynchronously — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (l.records.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val recs = l.records
      assert(recs.nonEmpty)
      assert(recs.exists(r => r.durationNs > 0))
      assert(recs.exists(r => r.observed.contains("m")))
    } finally s.listenerManager.unregister(l)
  }

  test("hardNegativePairs: colliding ∩ below-ceiling pairs; per-anchor top-k") {
    val s = spark
    import s.implicits._
    val df = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 2.7 + d * 1.3).toFloat)))
      .toDF("vec_id", "embedding")
    val tauMax = 0.3
    // candidate set = every colliding pair (tau = -1 keeps all cosines)
    val cands = graft.operators.SimilarityOps.annCosinePairsMulti(
      df, "vec_id", "embedding", tau = -1.0, nTables = 4, planesPerTable = 4,
      dimHint = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = cands.filter(_._3 < tauMax).toSet
    val got = graft.operators.SimilarityOps.hardNegativePairs(
      df, "vec_id", "embedding", tauMax, perAnchorK = 0,
      nTables = 4, planesPerTable = 4, dimHint = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"got ${got.size} expected ${expected.size}")
    assert(got.nonEmpty && got.forall(_._3 < tauMax))
    // per-anchor cap: top-3 hardest (highest cosine) per ia, ties by ib
    val capped = graft.operators.SimilarityOps.hardNegativePairs(
      df, "vec_id", "embedding", tauMax, perAnchorK = 3,
      nTables = 4, planesPerTable = 4, dimHint = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val wantTop = expected.groupBy(_._1).flatMap { case (ia, ps) =>
      ps.toSeq.sortBy(p => (-p._3, p._2)).take(3).zipWithIndex
        .map { case ((_, ib, c), i) => (ia, i + 1, ib, c) }
    }.toSet
    assert(capped.toSet == wantTop)
    spark.catalog.clearCache()
  }

  test("regridBilinear: analytic 2x2 -> 3x3, sparse coverage, group isolation") {
    val s = spark
    import s.implicits._
    // v(i,j) = 10i + 20j: bilinear in (i,j), so every interpolant is exact
    val src = Seq(("a", 0L, 0L, 0.0), ("a", 1L, 0L, 10.0),
      ("a", 0L, 1L, 20.0), ("a", 1L, 1L, 30.0),
      // group b: only one corner present → sparse coverage at the center
      ("b", 0L, 0L, 100.0)).toDF("field", "i", "j", "value")
    val got = graft.grid.GridOps
      .regridBilinear(src, "i", "j", srcNi = 2, srcNj = 2, dstNi = 3, dstNj = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getDouble(3), r.getDouble(4)))).toMap
    // centers: x=y=0.5 → mean of the four corners
    assert(got(("a", 1L, 1L)) == ((15.0, 1.0)))
    assert(got(("a", 0L, 0L)) == ((0.0, 1.0)))
    assert(got(("a", 2L, 2L)) == ((30.0, 1.0)))
    assert(got(("a", 1L, 0L)) == ((5.0, 1.0)))   // edge midpoint
    assert(got(("a", 0L, 1L)) == ((10.0, 1.0)))
    // group b: center sees only corner (0,0) with weight 1/4
    assert(got(("b", 1L, 1L)) == ((25.0, 0.25)))
    assert(got(("b", 0L, 0L)) == ((100.0, 1.0)))
    // fully uncovered target cells (e.g. b's far corner) emit NO row
    assert(!got.contains(("b", 2L, 2L)))
  }

  test("regridBilinear: NULL-valued source cell is ABSENT for coverage") {
    val s = spark
    import s.implicits._
    // same 2x2 lattice but corner (1,1) carries a NULL value: w_cover must
    // not count its weight (a null cell silently reading as covered was
    // the ADVICE r10 defect), so the center behaves exactly like the
    // missing-corner case above
    val src = Seq(("c", 0L, 0L, Some(0.0)), ("c", 1L, 0L, Some(10.0)),
      ("c", 0L, 1L, Some(20.0)), ("c", 1L, 1L, None))
      .toDF("field", "i", "j", "value")
    val got = graft.grid.GridOps
      .regridBilinear(src, "i", "j", srcNi = 2, srcNj = 2, dstNi = 3, dstNj = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        ((r.getDouble(3), r.getDouble(4)))).toMap
    // center: three live corners at weight 1/4 each → coverage 0.75
    assert(got(("c", 1L, 1L)) == (((0.0 + 10.0 + 20.0) / 4.0, 0.75)))
    // the null corner's own lattice point is fully uncovered → NO row
    assert(!got.contains(("c", 2L, 2L)))
    // a live corner's point is untouched
    assert(got(("c", 0L, 0L)) == ((0.0, 1.0)))
  }
}
