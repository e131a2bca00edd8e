package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** FloatVecDot (native expression) + cosine similarity on analytic vectors. */
class SimilaritySpec extends SparkSpec {

  private def vecs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("dot: codegen path matches analytic values") {
    val r = vecs.crossJoin(vecs.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .select(col("vec_id"), col("id2"),
        SimilarityOps.dot(col("embedding"), col("e2")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(r((0L, 0L)) == 1.0)
    assert(r((0L, 1L)) == 0.0)
    assert(r((0L, 2L)) == 1.0)
    assert(r((2L, 2L)) == 2.0)
    assert(r((0L, 3L)) == 2.0)
  }

  test("dot: interpreted eval (join condition) matches too") {
    // A filter inside a nested-loop cross-join condition exercises eval()
    val a = vecs.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = vecs.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val hits = a.crossJoin(b)
      .filter(SimilarityOps.dot(col("va"), col("vb")) > 1.5)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((0L, 3L), (3L, 0L), (2L, 2L), (2L, 3L), (3L, 2L), (3L, 3L)))
  }

  test("dot is null-safe") {
    val s = spark
    import s.implicits._
    val df = Seq((0L, Option(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("id", "a", "b")
    val r = df.select(SimilarityOps.dot(col("a"), col("b")).as("d")).collect()
    assert(r(0).isNullAt(0))
  }

  test("cosine: orthogonal 0, parallel 1, 45° = 1/sqrt(2)") {
    val r = vecs.crossJoin(vecs.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .select(col("vec_id"), col("id2"),
        SimilarityOps.cosine(col("embedding"), col("e2")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(r((0L, 1L)) == 0.0)
    assert(r((0L, 3L)) == 1.0)
    assert(math.abs(r((0L, 2L)) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("semanticDedup: within-cluster groups, min-id survivors, cross-cluster isolation") {
    val s = spark
    import s.implicits._
    // two tight direction groups + an isolated vector; k=2 centroids split
    // the groups, so only same-direction pairs can connect
    val df = Seq(
      (10L, Array(1.0f, 0.01f, 0.0f)),
      (11L, Array(1.0f, 0.02f, 0.0f)),
      (12L, Array(0.99f, 0.0f, 0.01f)),
      (20L, Array(0.0f, 1.0f, 0.01f)),
      (21L, Array(0.01f, 1.0f, 0.0f)),
      (30L, Array(0.0f, 0.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq(Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))
    val r = SimilarityOps.semanticDedup(df, "vec_id", "embedding",
      tau = 0.99, cents)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(2), x.getBoolean(3)))).toMap
    // the x-group collapses to min id 10, the y-group to 20; 30 survives
    assert(r(10L) == ((10L, true)) && r(11L) == ((10L, false)) &&
      r(12L) == ((10L, false)))
    assert(r(20L) == ((20L, true)) && r(21L) == ((20L, false)))
    assert(r(30L) == ((30L, true)))
    spark.catalog.clearCache()
  }

  test("topKCosine: deterministic ranking with id tie-break") {
    val r = SimilarityOps.topKCosine(vecs, "vec_id", "embedding", 2, 1L).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    // query 0: best = vec 3 (cos 1.0), then vec 2 (cos .7071)
    assert(r.toSeq == Seq((0L, 1, 3L), (0L, 2, 2L)))
  }

  test("cosinePairs keeps only pairs at/above the rounded threshold") {
    val pairs = SimilarityOps.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 3L)))
  }

  test("IVF: deterministic quantizer, probe-bounded search, recall@10 vs brute") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 4, dimHint = 64)
    assert(cents.length == 16 && cents.forall(_.length == 64))
    // deterministic: same call → same centroids
    val cents2 = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 4, dimHint = 64)
    assert(cents.map(_.toSeq) == cents2.map(_.toSeq))

    val brute = SimilarityOps.topKCosine(emb, "vec_id", "embedding", 10, 20L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // random embeddings are IVF's WORST case (no cluster structure), so the
    // pin is modest; clustered real corpora sit far above it
    val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding", 10, 20L,
      cents, nProbe = 8).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.7, s"IVF recall@10 $recall < 0.7 (${(ivf & brute).size}/${brute.size})")
    // probing all lists must reproduce brute force exactly
    val full = SimilarityOps.ivfTopK(emb, "vec_id", "embedding", 10, 20L,
      cents, nProbe = 16).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == brute)
  }

  test("annRecallReport: recall@k vs nProbe curve — monotone, 1.0 at full probe") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 64)
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    def report(nProbe: Int): Map[String, (Long, Long, Double)] =
      SimilarityOps.annRecallReport(emb, "vec_id", "embedding",
        k = 10, maxQueryId = 6L, cents, nProbe, books, dimHint = 64)
        .collect().map(r => r.getAs[String]("tier") ->
          ((r.getAs[Long]("hits"), r.getAs[Long]("possible"),
            r.getAs[Double]("recall")))).toMap
    val curve = Seq(1, 2, 4, 8).map(np => np -> report(np))
    curve.foreach { case (np, rep) =>
      assert(rep.keySet == Set("ivf", "pq", "sq8", "binary"), s"nProbe $np")
      rep.foreach { case (tier, (hits, possible, recall)) =>
        assert(possible == 60L && hits <= possible, s"$tier at nProbe $np")
        assert(math.abs(recall - math.rint(
          hits.toDouble / possible * 10000) / 10000) < 1e-6)
      }
    }
    // the tuning curve: IVF recall never decreases with more lists probed,
    // and probing ALL lists is brute force — recall exactly 1.0
    val ivf = curve.map { case (np, rep) => np -> rep("ivf")._3 }
    ivf.sliding(2).foreach { case Seq((n1, r1), (n2, r2)) =>
      assert(r1 <= r2 + 1e-9, s"recall dropped $n1→$n2: $r1 > $r2")
    }
    assert(ivf.last._2 == 1.0, s"full probe must equal brute: ${ivf.last}")
    // flat tiers don't depend on nProbe: identical rows across the curve
    Seq("pq", "sq8", "binary").foreach { t =>
      assert(curve.map(_._2(t)).distinct.size == 1, s"$t varied with nProbe")
    }
  }

  test("PQ code budget: more bytes per vector buys recall (deterministic)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val truth = SimilarityOps.topKCosine(emb, "vec_id", "embedding", 10, 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(m: Int, kk: Int): Double = {
      val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
        m = m, k = kk, iters = 2, dimHint = 64)
      val got = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 10, 6L,
        cb, dimHint = 64).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (got & truth).size.toDouble / truth.size
    }
    // deterministic init + fixed data → these are FIXED numbers, not flaky
    // statistics; pin the budget ordering that BASELINE.md's "PQ code-budget
    // curve" documents (4 B: m=8,k=16 → 8 B: m=16,k=16 → 16 B: m=16,k=256)
    val r4 = recall(8, 16)
    val r8 = recall(16, 16)
    val r16 = recall(16, 256)
    assert(r4 >= 0.0 && r16 <= 1.0)
    assert(r8 >= r4, s"8-byte codes ($r8) under 4-byte ($r4)")
    assert(r16 >= r8, s"16-byte codes ($r16) under 8-byte ($r8)")
    assert(r16 > r4, s"4× the code budget bought nothing: $r4 → $r16")
  }

  test("clustered embedding fixture: deterministic, structure dominates noise") {
    import graft.tools.ClusteredEmbeddings.vector
    // fully deterministic in (seed, id)
    assert(vector(42L, 16, 64, 0.3, 7L).toSeq == vector(42L, 16, 64, 0.3, 7L).toSeq)
    assert(vector(42L, 16, 64, 0.3, 7L).toSeq != vector(43L, 16, 64, 0.3, 7L).toSeq)
    // mixture structure: same-cluster pairs (id % clusters equal) are
    // closer than cross-cluster pairs — the property that makes this
    // fixture PQ/IVF's structured case rather than isotropic noise.
    // Deterministic fixture → fixed numbers, not a statistical flake.
    def d(a: Array[Float], b: Array[Float]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
    val intra = for (i <- 0 until 8) yield
      d(vector(42L, 16, 64, 0.3, i.toLong), vector(42L, 16, 64, 0.3, i + 16L))
    val inter = for (i <- 0 until 8) yield
      d(vector(42L, 16, 64, 0.3, i.toLong), vector(42L, 16, 64, 0.3, i + 1L))
    assert(intra.max < inter.min,
      s"cluster structure absent: intra ${intra.max} !< inter ${inter.min}")
  }

  test("sample-bounded training: deterministic, recall holds, tiny-sample guard") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // deterministic: same fraction → identical codebooks/centroids
    val c1 = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2, dimHint = 64, trainSampleFraction = 0.5)
    val c2 = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 4, iters = 2, dimHint = 64, trainSampleFraction = 0.5)
    assert(c1.map(_.toSeq) == c2.map(_.toSeq))
    // a sampled-train index still ranks: recall@10 vs brute stays in the
    // same class as full-train (both trained on isotropic noise — the
    // documented PQ worst case; the pin is "not degenerate", the measured
    // parity rows live in BASELINE.md "Sample-bounded IVF/PQ training")
    val truth = SimilarityOps.topKCosine(emb, "vec_id", "embedding", 10, 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val cbS = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 16, k = 16, iters = 2, dimHint = 64, trainSampleFraction = 0.5)
    val gotS = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 10, 6L,
      cbS, dimHint = 64).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val cbF = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 16, k = 16, iters = 2, dimHint = 64)
    val gotF = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 10, 6L,
      cbF, dimHint = 64).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rS = (gotS & truth).size.toDouble / truth.size
    val rF = (gotF & truth).size.toDouble / truth.size
    assert(rS >= 0.5 * rF,
      s"half-corpus training collapsed recall: $rS vs full-train $rF")
    // annTrain (shared-pin composition) is bit-identical to the two
    // separate sampled calls it fuses
    val (cA, bA) = SimilarityOps.annTrain(emb, "vec_id", "embedding",
      nlist = 4, m = 16, k = 16, ivfIters = 2, pqIters = 2, dimHint = 64,
      trainSampleFraction = 0.5)
    assert(cA.map(_.toSeq) == c1.map(_.toSeq))
    assert(bA.map(_.map(_.toSeq)) == cbS.map(_.map(_.toSeq)))
    // a sample too small to seed k centroids fails loudly, never silently
    // returns a short codebook
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
        m = 8, k = 256, iters = 1, dimHint = 64,
        trainSampleFraction = 0.001)
    }
    assert(e.getMessage.contains("train sample"))
  }

  // shared clustered mini-fixture for the residual/two-level specs:
  // 400 vectors, 8 true clusters, dim 32 — deterministic, so every
  // recall below is a fixed number, not a statistical flake
  private def clusteredDf = {
    val s = spark
    import s.implicits._
    (0 until 400).map(i =>
      (i.toLong, graft.tools.ClusteredEmbeddings.vector(42L, 8, 32, 0.25, i.toLong)))
      .toDF("vec_id", "embedding")
  }

  private def topPairs(d: org.apache.spark.sql.DataFrame, qCol: String,
                       nbCol: String, k: Int): Set[(Long, Long)] = {
    // drop self, keep the best k per query by the emitted rank order
    d.filter(col(qCol) =!= col(nbCol))
      .collect()
      .map(r => (r.getAs[Long](qCol), r.getAs[Long](nbCol), r.getAs[Int]("rank")))
      .groupBy(_._1).toSeq
      .flatMap { case (_, rows) => rows.sortBy(_._3).take(k).map(t => (t._1, t._2)) }
      .toSet
  }

  test("residual SQ8: norm-corrected reconstruction beats raw int8 on clustered data") {
    val df = clusteredDf
    val qids = (0L until 6L).toSeq
    val truth = SimilarityOps.topKCosine(df, "vec_id", "embedding", 10, 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(got: Set[(Long, Long)]) = (got & truth).size.toDouble / truth.size
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val raw = recall(topPairs(
      SimilarityOps.int8TopK(df, "vec_id", "embedding", qids, 11),
      "qid", "vec_id", 10))
    // nProbe = nlist isolates quantizer quality from coarse pruning:
    // identical code bytes, residual range = within-cluster gaps, plus
    // the true-norm sidecar that makes dot ranking a cosine ranking
    val res = recall(topPairs(
      SimilarityOps.ivfSq8ResidualTopK(df, "vec_id", "embedding", qids, 11,
        cents, nProbe = 8),
      "qid", "vec_id", 10))
    assert(res > raw, s"residual SQ8 $res !> raw $raw")
    assert(res >= 0.9, s"residual SQ8 recall floor broken: $res")
  }

  test("residual PQ: all-list probe beats raw PQ at equal code bytes on clustered data") {
    val df = clusteredDf
    val truth = SimilarityOps.topKCosine(df, "vec_id", "embedding", 10, 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(got: Set[(Long, Long)]) = (got & truth).size.toDouble / truth.size
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val rawBooks = SimilarityOps.pqCodebooks(df, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 32)
    val raw = recall(SimilarityOps.pqTopK(df, "vec_id", "embedding", 10, 6L,
      rawBooks, dimHint = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    val resBooks = SimilarityOps.pqCodebooks(
      SimilarityOps.residualFrame(df, "vec_id", "embedding", cents),
      "vec_id", "resid", m = 8, k = 16, iters = 2, dimHint = 32)
    val res = recall(SimilarityOps.ivfPqResidualTopK(df, "vec_id", "embedding",
      10, 6L, cents, resBooks, nProbe = 8, dimHint = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    // ≥, not >: at this 400-vector/32-dim mini-fixture the two recalls tie
    // (deterministically); the strict residual LIFT is measured on the
    // 2000-vector clustered table (0.15 → 0.3375 at nlist=16, BASELINE.md)
    assert(res >= raw, s"residual PQ $res regressed below raw $raw")
    assert(res >= 0.5, s"residual PQ recall floor broken: $res")
  }

  test("residual PQ byte envelope: more code bytes buy recall; 8 code-bytes clear the 0.5 class (floor-pinned)") {
    // the r16 envelope finding (BASELINE.md residual_budget table): at
    // 4 B codes the ceiling is QUANTIZER RESOLUTION, not norm bias — the
    // ≥0.5 recall class needs 8 B codes (m=8, k=256). Pinned here on the
    // deterministic mini-fixture so the envelope can't silently regress.
    val df = clusteredDf
    val truth = SimilarityOps.topKCosine(df, "vec_id", "embedding", 10, 6L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(d: org.apache.spark.sql.DataFrame) =
      (d.collect().map(r => (r.getLong(0), r.getLong(2))).toSet & truth)
        .size.toDouble / truth.size
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val rf = SimilarityOps.residualFrame(df, "vec_id", "embedding", cents)
    def booksAt(kk: Int) = SimilarityOps.pqCodebooks(rf, "vec_id", "resid",
      m = 8, k = kk, iters = 2, dimHint = 32)
    val r16 = recall(SimilarityOps.ivfPqResidualTopK(df, "vec_id",
      "embedding", 10, 6L, cents, booksAt(16), nProbe = 8, dimHint = 32))
    val b256 = booksAt(256)
    val r256 = recall(SimilarityOps.ivfPqResidualTopK(df, "vec_id",
      "embedding", 10, 6L, cents, b256, nProbe = 8, dimHint = 32))
    assert(r256 >= r16, s"8 code-bytes ($r256) regressed below 4 ($r16)")
    assert(r256 >= 0.65, s"residual PQ 8x256 recall floor broken: $r256" +
      " (deterministic 0.7 on this fixture; 0.6125 on the 2k/16-cluster)")
    // the norm-corrected cosine ranker: at low quantizer error the norm
    // bias dominates and cosine OVERTAKES L2 (0.867 vs 0.7 here, and
    // 0.7625 vs 0.7375 at 16x256 on the 2k fixture); at high error the
    // L2 form's correlated-error cancellation wins. Pin: never more than
    // a step below L2, and ahead at this fixture's 8x256 point.
    val rCos = recall(SimilarityOps.ivfPqResidualCosineTopK(df, "vec_id",
      "embedding", 10, 6L, cents, b256, nProbe = 8, dimHint = 32))
    assert(rCos >= r256, s"cosine ranker lost its 8x256 lead: $rCos vs $r256")
  }

  test("two-level coarse assignment: exhaustive probe equals flat exactly; groups partition") {
    val df = clusteredDf
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val (sup, groups) = SimilarityOps.superCluster(cents, 3)
    assert(sup.length == 3 && groups.flatten.sorted == (0 until 8))
    def cids(d: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      d.select("ib", "cid").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val flat = cids(SimilarityOps.ivfLists(df, "vec_id", "embedding", cents))
    // sProbe = nSuper is exhaustive → bit-identical to the flat argmax
    // (same double fold, same lowest-cid tie rule, any member order)
    val exhaustive = cids(SimilarityOps.ivfListsTwoLevel(df, "vec_id",
      "embedding", cents, sProbe = 3, nSuperHint = 3))
    assert(exhaustive == flat)
    // the approximate build (fewer supergroups probed) agrees on nearly
    // every vector of the clustered fixture — deterministic number
    val approx = cids(SimilarityOps.ivfListsTwoLevel(df, "vec_id",
      "embedding", cents, sProbe = 1, nSuperHint = 3))
    val agree = flat.count { case (id, c) => approx(id) == c }.toDouble / flat.size
    assert(agree >= 0.8, s"two-level sProbe=1 agreement too low: $agree")
  }

  test("corpus-as-queries paths on the two-level kernel: default is bit-parity with flat; small sProbe well-formed") {
    val df = clusteredDf
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    // flat reference recomputed inline (the pre-r16 formulation):
    // argmax over the codegen dot table, ties -> lowest cid, cos to own
    // centroid from the same table entry
    val t = graft.functions.VectorExpressions.dotTable(col("embedding"), cents)
    val norms = typedLit(cents.map(c =>
      math.sqrt(c.map(x => x.toDouble * x.toDouble).sum)))
    val flat = df.select(col("vec_id"),
        sqrt(graft.functions.VectorExpressions.dotF(
          col("embedding"), col("embedding"))).as("_vn"), t.as("_t"))
      .select(col("vec_id"),
        (array_position(col("_t"), array_max(col("_t"))) - 1)
          .cast("int").as("cid"), col("_vn"), col("_t"))
      .select(col("vec_id"), col("cid"),
        (element_at(col("_t"), col("cid") + 1) /
          (col("_vn") * element_at(norms, col("cid") + 1))).as("cos_c"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val twoLevel = SimilarityOps.centroidAssignment(
        df, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(twoLevel == flat, "default centroidAssignment drifted from flat")
    // production knob: a 1-probe assignment returns real cids and agrees
    // on nearly all of the clustered fixture
    val approx = SimilarityOps.centroidAssignment(
        df, "vec_id", "embedding", cents, sProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(approx.values.forall(c => c >= 0 && c < 8))
    val agree = flat.count { case (id, (c, _)) => approx(id) == c }
      .toDouble / flat.size
    assert(agree >= 0.8, s"sProbe=1 assignment agreement too low: $agree")
    // semanticDedup rides the same kernel: default equals the flat-era
    // output shape and survivor rule on a fixture with exact duplicates
    val s = spark
    import s.implicits._
    val dup = df.unionByName(
      df.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val sd = SimilarityOps.semanticDedup(dup, "vec_id", "embedding",
      0.9999, cents).collect()
    assert(sd.length == 405)
    val bySurv = sd.map(r => r.getAs[Long]("id") ->
      r.getAs[Boolean]("is_survivor")).toMap
    (0L until 5L).foreach { i =>
      assert(bySurv(i), s"low id $i should survive its dup pair")
      assert(!bySurv(i + 1000), s"clone ${i + 1000} should be deduped")
    }
  }

  test("two-level argmax degenerate inputs: empty supergroups never win, NaN vectors never crash") {
    val s = spark
    import s.implicits._
    // three supergroups, the MIDDLE one empty (a stale empty-group center
    // from superCluster): its center is deliberately the best match for
    // the probe vector, so pre-fix it would win the supergroup argmax at
    // sProbe=1 and return Int.MaxValue (vector silently dropped)
    val cents = Seq(Array(1f, 0f), Array(0f, 1f))
    val sup = Seq(Array(1f, 0f), Array(10f, 10f), Array(0f, 1f))
    val groups = Seq(Seq(0), Seq.empty[Int], Seq(1))
    val df = Seq(
      (1L, Seq(5f, 5f)),          // empty group's center is its best dot
      (2L, Seq(1f, 0f)),
      (3L, Seq(Float.NaN, Float.NaN)) // all-NaN: pre-fix AIOOBE
    ).toDF("vec_id", "embedding")
    for (probe <- 1 to 3) {
      val got = df.select(col("vec_id"),
        graft.functions.VectorExpressions.twoLevelArgMax(
          col("embedding"), cents, sup, groups, probe).as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got.values.forall(c => c == 0 || c == 1),
        s"sProbe=$probe returned a non-member cid: $got")
      // vector 2 is exactly centroid 0 — a real member must win, never
      // the empty group's sentinel
      assert(got(2L) == 0, s"sProbe=$probe: $got")
    }
    // interpreted path (nullSafeEval, no codegen) agrees on the NaN case
    val memberCids = groups.flatten
    val memberCents = memberCids.flatMap(cents(_).toSeq)
    val groupStart = groups.scanLeft(0)(_ + _.length)
    val interp = graft.functions.TwoLevelArgMax(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(Float.NaN, Float.NaN),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      sup.flatten.toIndexedSeq, 3, 2, memberCents.toIndexedSeq,
      memberCids.toIndexedSeq, groupStart.toIndexedSeq, 1)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    assert(interp == 0 || interp == 1, s"interpreted NaN path: $interp")
  }

  test("IVF append: build+append equals one-shot on the union; compact folds parts and preserves the read set") {
    val df = clusteredDf
    val a = df.filter(col("vec_id") < 300)
    val b = df.filter(col("vec_id") >= 300)
    val cents = SimilarityOps.ivfCentroids(a, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfappend")
      .toString + "/idx"
    SimilarityOps.saveIvfIndex(
      SimilarityOps.ivfLists(a, "vec_id", "embedding", cents), cents, dir)
    // parity append (sProbe <= 0 probes all supergroups = flat argmax)
    val gen1 = SimilarityOps.appendToIvfIndex(b, "vec_id", "embedding", dir)
    assert(gen1 == 1L)
    def listRows(d: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      d.select("ib", "cid").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    val oneShot = listRows(
      SimilarityOps.ivfLists(df, "vec_id", "embedding", cents))
    val (loaded, centsLoaded) = SimilarityOps.loadIvfIndex(spark, dir)
    assert(centsLoaded.map(_.toSeq) == cents.map(_.toSeq))
    assert(listRows(loaded) == oneShot,
      "build+append read set drifted from the one-shot build")
    // probe over the loaded index == probe over the one-shot lists
    def probe(lists: org.apache.spark.sql.DataFrame) =
      SimilarityOps.ivfTopKOverLists(lists, df, "vec_id", "embedding",
        5, 6L, cents, nProbe = 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probe(loaded) == probe(
      SimilarityOps.ivfLists(df, "vec_id", "embedding", cents)))
    // drive the part count over the compaction threshold, fold, and
    // verify the committed read set is unchanged while parts collapse
    val s = spark
    import s.implicits._
    (0 until 4).foreach { i =>
      SimilarityOps.appendToIvfIndex(
        Seq((1000L + i, graft.tools.ClusteredEmbeddings
          .vector(42L, 8, 32, 0.25, 1000L + i))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
    }
    val before = listRows(SimilarityOps.loadIvfIndex(spark, dir)._1)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(SimilarityOps.compactIvfIndex(spark, dir, maxParts = 2))
    assert(listRows(SimilarityOps.loadIvfIndex(spark, dir)._1) == before,
      "compaction changed the committed read set")
    val partNames = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n == "lists.parquet" || n.startsWith("append_") ||
        n.startsWith("fold_")).toSeq
    assert(partNames.size == 1 && partNames.head.startsWith("fold_5_"),
      s"unexpected parts after compact: $partNames")
    assert(!SimilarityOps.compactIvfIndex(spark, dir, maxParts = 2),
      "second compact should be a no-op below threshold")
    // append after compact lands above the fold generation and is read
    val gen2 = SimilarityOps.appendToIvfIndex(
      Seq((2000L, graft.tools.ClusteredEmbeddings
        .vector(42L, 8, 32, 0.25, 2000L))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    assert(gen2 == 6L)
    val after = listRows(SimilarityOps.loadIvfIndex(spark, dir)._1)
    assert(after.size == before.size + 1 && after.exists(_._1 == 2000L))
    // imbalance report: one row, sane fields, no retrain on this fixture
    val imb = SimilarityOps.ivfIndexImbalance(spark, dir).collect()(0)
    assert(imb.getAs[Int]("nlist") == 8)
    assert(imb.getAs[Long]("n_vectors") == after.size.toLong)
    assert(imb.getAs[Double]("imbalance") >= 1.0)
  }

  test("IVF compact delete is snapshot-scoped: a rival append landing mid-fold survives and stays readable") {
    val df = clusteredDf
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfsnap")
      .toString + "/idx"
    SimilarityOps.saveIvfIndex(
      SimilarityOps.ivfLists(df.filter(col("vec_id") < 100),
        "vec_id", "embedding", cents), cents, dir)
    (0 until 3).foreach { i =>
      SimilarityOps.appendToIvfIndex(
        df.filter(col("vec_id") === (100 + i).toLong),
        "vec_id", "embedding", dir)
    }
    // a rival append installs between the fold's install and its delete
    // pass: the old everything-not-the-fold rule would destroy it before
    // it was ever folded
    SimilarityOps.postIvfFoldInstallHook = () =>
      SimilarityOps.appendToIvfIndex(
        df.filter(col("vec_id") === 399L), "vec_id", "embedding", dir)
    try assert(SimilarityOps.compactIvfIndex(spark, dir, maxParts = 2))
    finally SimilarityOps.postIvfFoldInstallHook = () => ()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(names.exists(_.startsWith("append_")), "rival append deleted")
    assert(!names.contains("lists.parquet"), "folded base not janitored")
    val (loaded, _) = SimilarityOps.loadIvfIndex(spark, dir)
    val ids = loaded.select("ib").collect().map(_.getLong(0)).toSet
    assert(ids.contains(399L), "rival rows not in the committed read set")
    assert(ids.contains(0L) && ids.contains(102L), "folded rows lost")
  }

  test("IVF compact fence: a stolen lease aborts before the delete phase; nothing destroyed") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.naf.impl", classOf[graft.tools.NonAtomicFileSystem].getName)
    hc.set("fs.naf.impl.disable.cache", "true")
    hc.set("graft.lock.provider.naf", "lease")
    hc.set("graft.lock.lease.settle.ms", "10")
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivffence").toString
    val dir = s"naf://$root/idx"
    val df = clusteredDf
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    SimilarityOps.saveIvfIndex(
      SimilarityOps.ivfLists(df.filter(col("vec_id") < 100),
        "vec_id", "embedding", cents), cents, dir)
    (0 until 3).foreach { i =>
      SimilarityOps.appendToIvfIndex(
        df.filter(col("vec_id") === (100 + i).toLong),
        "vec_id", "embedding", dir)
    }
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(hc)
    def rows() = {
      val (parts, _) = SimilarityOps.committedIvfParts(fs, p)
      spark.read.parquet(parts.map(_.toString): _*)
        .select("ib", "cid").distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    val pre = rows()
    val preNames = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    SimilarityOps.postIvfFoldInstallHook = () => {
      val lock = new org.apache.hadoop.fs.Path(s"$dir/_maintenance/compact.lock")
      val rival = new graft.core.LockProvider.Lease(10L)
      assert(rival.tryAcquire(fs, lock, 0L), "steal failed")
      rival.release(fs, lock)
    }
    try {
      val e = intercept[IllegalStateException] {
        SimilarityOps.compactIvfIndex(spark, dir, maxParts = 2)
      }
      assert(e.getMessage.contains("lost mid-fold delete"), e.getMessage)
    } finally SimilarityOps.postIvfFoldInstallHook = () => ()
    // abort landed AFTER install, BEFORE delete: all pre-fold parts
    // survive and the committed read set is unchanged (the newest fold
    // holds the same rows the parts it folded held)
    val postNames = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(preNames.subsetOf(postNames),
      s"fence abort lost parts: ${preNames.diff(postNames)}")
    assert(rows() == pre, "committed read set drifted across the abort")
    // a retried compaction janitors the orphaned pre-fold parts (the
    // installed fold already covers them) without folding again
    assert(!SimilarityOps.compactIvfIndex(spark, dir, maxParts = 2))
    val cleanNames = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n == "lists.parquet" || n.startsWith("append_") ||
        n.startsWith("fold_")).toSeq
    assert(cleanNames.size == 1 && cleanNames.head.startsWith("fold_3_"),
      s"janitor left unexpected parts: $cleanNames")
    assert(rows() == pre)
  }

  test("ivfTopKOverLists: a new query and bound compile no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val s = spark
    import s.implicits._
    val df = clusteredDf.cache()
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    val lists = SimilarityOps.ivfLists(df, "vec_id", "embedding", cents).cache()
    val vecs = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def rows(d: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    // one query row and the bound past it, as a closed-loop client asks
    def query(q: Long): (Seq[(Long, Int, Long, Double)], Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val got = rows(SimilarityOps.ivfTopKOverLists(lists,
        Seq((q, vecs(q))).toDF("vec_id", "embedding"), "vec_id", "embedding",
        5, q + 1, cents, nProbe = 3))
      (got, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    try {
      query(3L) // warms the plan shape
      val (got, compiled) = query(11L)
      assert(compiled == 0L, "new classes for a new query")
      assert(got.nonEmpty && got.forall(_._1 == 11L))
      // the bound selects exactly the rows a filter on the id keeps
      for (maxQ <- Seq(1L, 6L, 40L))
        assert(rows(SimilarityOps.ivfTopKOverLists(lists, df, "vec_id",
          "embedding", 5, maxQ, cents, nProbe = 3)) ==
          rows(SimilarityOps.ivfTopKOverLists(lists,
            df.filter($"vec_id" < maxQ), "vec_id", "embedding", 5,
            Long.MaxValue, cents, nProbe = 3)))
    } finally { lists.unpersist(); df.unpersist() }
  }

  test("IVF index persist/reload: loaded probe equals one-shot; ledger resume skips the build") {
    val df = clusteredDf
    val cents = SimilarityOps.ivfCentroids(df, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 32)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq.sorted
    val oneShot = rows(SimilarityOps.ivfTopK(df, "vec_id", "embedding",
      10, 6L, cents, nProbe = 3))
    val root = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    // save → load → probe: identical to the one-shot composition
    SimilarityOps.saveIvfIndex(
      SimilarityOps.ivfLists(df, "vec_id", "embedding", cents), cents,
      s"$root/index")
    val (lists, loadedCents) = SimilarityOps.loadIvfIndex(spark, s"$root/index")
    assert(loadedCents.map(_.toSeq) == cents.map(_.toSeq))
    assert(rows(SimilarityOps.ivfTopKOverLists(lists, df, "vec_id",
      "embedding", 10, 6L, loadedCents, nProbe = 3)) == oneShot)
    // ledger discipline: first call trains+builds+records; the second
    // session loads WITHOUT rebuilding (index files untouched on disk)
    val (_, c1) = SimilarityOps.ivfIndexCached(df, "vec_id", "embedding",
      nlist = 8, s"$root/idx2", s"$root/ledger", "runA", dimHint = 32)
    def mtimes() = new java.io.File(s"$root/idx2/lists.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = mtimes()
    assert(before.nonEmpty)
    val (l2, c2) = SimilarityOps.ivfIndexCached(df, "vec_id", "embedding",
      nlist = 8, s"$root/idx2", s"$root/ledger", "runA", dimHint = 32)
    assert(mtimes() == before, "resume rebuilt the persisted index")
    assert(c2.map(_.toSeq) == c1.map(_.toSeq))
    // the cached build used two-level assignment with sProbe = nSuper
    // (exhaustive at nlist=8) — its probe equals the flat one-shot
    assert(rows(SimilarityOps.ivfTopKOverLists(l2, df, "vec_id",
      "embedding", 10, 6L, c2, nProbe = 3)) ==
      rows(SimilarityOps.ivfTopK(df, "vec_id", "embedding", 10, 6L, c2,
        nProbe = 3)))
  }

  test("PQ at (m=16, k=256) stays inside codegen — no interpreted fallback") {
    // The k-literal-expression fan this path used to build failed janino
    // compilation at large (m, k) (~13k-line generated method) and Spark
    // silently dropped to interpreted eval — correct results, 10–30×
    // slower, nothing failing. Pin the fix: with fallback DISABLED, a
    // codegen failure anywhere in the train+rank plan throws instead of
    // degrading, so this test fails loudly if the projection ever
    // regresses past the method-size limit.
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val cb = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
        m = 16, k = 256, iters = 1, dimHint = 64)
      val got = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 10, 4L,
        cb, dimHint = 64)
      assert(got.count() == 40)
      // same wall for IVF at production-scale nlist: assignment/probing
      // go through ONE FloatDotTable loop, not a 256-literal-dot fan
      val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
        k = 256, iters = 1, dimHint = 64)
      val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding", 5, 3L,
        cents, nProbe = 8)
      assert(ivf.count() > 0)
      // the round-15 kernels hold the same pin: residual SQ8 search
      // (ByteScaledDot) and the two-level build (TwoLevelArgMax) must
      // compile under CODEGEN_ONLY — a janino rejection here throws
      // instead of silently interpreting
      val res = SimilarityOps.ivfSq8ResidualTopK(emb, "vec_id", "embedding",
        (0L until 3L).toSeq, 5, cents.take(16), nProbe = 16)
      assert(res.count() > 0)
      val two = SimilarityOps.ivfListsTwoLevel(emb, "vec_id", "embedding",
        cents.take(16), sProbe = 2)
      assert(two.count() > 0)
    } finally {
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("PQ: zero-quantization-error codebooks reproduce exact L2 ranking") {
    val s = spark
    import s.implicits._
    // Every subvector of every fixture vector IS a codebook entry, so the
    // ADC distance degenerates to the exact squared L2 distance and the
    // ranking must match a driver-side brute-force recompute.
    val sub = Seq(Array(0f, 0f), Array(3f, 0f), Array(0f, 4f), Array(1f, 2f))
    val books = Seq(sub, sub)
    val fix = (for { a <- sub.indices; b <- sub.indices } yield
      ((a * sub.size + b).toLong, sub(a) ++ sub(b))).toSeq
    val df = fix.toDF("vec_id", "embedding")
    val got = SimilarityOps.pqTopK(df, "vec_id", "embedding", k = 3,
      maxQueryId = 4L, books, dimHint = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byVec = fix.toMap
    def sq(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
    val want = (0L until 4L).flatMap { ia =>
      fix.map(_._1).filter(_ != ia)
        .map(ib => (ib, math.rint((sq(byVec(ia), byVec(ib)) + 1e-9) * 1e4) / 1e4))
        .sortBy { case (ib, d) => (d, ib) }.take(3).zipWithIndex
        .map { case ((ib, d), i) => (ia, i + 1, ib, d) }
    }
    assert(got.toSeq == want)
  }

  test("PQ: deterministic training, recall@10 floor vs brute L2") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    assert(books.length == 8 && books.forall(b => b.length == 16 && b.forall(_.length == 8)))
    val books2 = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    assert(books.map(_.map(_.toSeq)) == books2.map(_.map(_.toSeq)))

    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sq(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).map { case (a, b) => (a - b).toDouble * (a - b) }.sum
    val brute = rows.keys.filter(_ < 20L).flatMap { ia =>
      rows.keys.filter(_ != ia).toSeq.map(ib => (ib, sq(rows(ia), rows(ib))))
        .sortBy { case (ib, d) => (d, ib) }.take(10).map(p => (ia, p._1))
    }.toSet
    val pq = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 10, 20L,
      books, dimHint = 64).collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // random embeddings are the WORST case for PQ (no subspace structure);
    // 8×4-bit codes still have to beat chance (10/n) by a wide margin
    val recall = (pq & brute).size.toDouble / brute.size
    assert(recall >= 0.25, s"PQ recall@10 $recall < 0.25 (${(pq & brute).size}/${brute.size})")
  }

  test("IVF-PQ: probing all lists reproduces plain PQ; fewer lists stay candidate-bounded") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2, dimHint = 64)
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    // nProbe = nlist: every vector is a candidate → exactly pqTopK
    val full = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding", 5, 20L,
      cents, books, nProbe = 8, dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val pq = SimilarityOps.pqTopK(emb, "vec_id", "embedding", 5, 20L,
      books, dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == pq, "exhaustive probing must equal plain ADC")
    // nProbe < nlist: ranks stay dense 1..k over the shrunken candidate set
    val part = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding", 5, 20L,
      cents, books, nProbe = 2, dimHint = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = part.groupBy(_._1)
    assert(byQ.forall { case (_, rs) => rs.map(_._2).sorted.toSeq == (1 to rs.size) })
    assert(byQ.values.forall(_.size <= 5))
  }

  test("pcaComponents: dominant axis recovered, orthonormal basis, eigenvalue order") {
    val s = spark
    import s.implicits._
    // 2-D structure in a 4-D space: variance 100 along (1,1,0,0)/√2,
    // variance ~1 along (0,0,1,-1)/√2, plus a constant offset
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val a = rnd.nextGaussian() * 10
      val b = rnd.nextGaussian()
      (i.toLong, Seq((a / math.sqrt(2) + 5).toFloat, (a / math.sqrt(2) + 5).toFloat,
        (b / math.sqrt(2)).toFloat, (-b / math.sqrt(2)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (mean, comps) = SimilarityOps.pcaComponents(df, "vec_id", "embedding",
      k = 2, iters = 80, dimHint = 4)
    assert(math.abs(mean(0) - 5.0) < 1.5 && math.abs(mean(2)) < 0.2)
    val (v1, l1) = comps(0)
    val (v2, l2) = comps(1)
    assert(l1 > l2 && l2 > 0, s"eigenvalues out of order: $l1, $l2")
    // unit norms, orthogonality
    def dotv(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(dotv(v1, v1) - 1) < 1e-9 && math.abs(dotv(v2, v2) - 1) < 1e-9)
    assert(math.abs(dotv(v1, v2)) < 1e-6, s"components not orthogonal")
    // v1 ≈ (1,1,0,0)/√2 up to sign (canonical sign: first coord positive)
    assert(math.abs(v1(0) - 1 / math.sqrt(2)) < 0.05 &&
      math.abs(v1(1) - 1 / math.sqrt(2)) < 0.05 &&
      math.abs(v1(2)) < 0.1 && math.abs(v1(3)) < 0.1, v1.mkString(","))
    // determinism
    val again = SimilarityOps.pcaComponents(df, "vec_id", "embedding",
      k = 2, iters = 80, dimHint = 4)
    assert(again._2.map(_._1.toSeq) == comps.map(_._1.toSeq))
  }

  test("scalarQuantize: exact codes on an aligned grid, zero error, constant-dim guard") {
    val s = spark
    import s.implicits._
    // dim 0: the exact representable grid 0..255 → codes −128..127, err 0
    // dim 1: constant → single code 0, err 0
    val df = (0 until 256).map(i => (i.toLong, Seq(i.toFloat, 7f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.scalarQuantize(df, "vec_id", "embedding")
      .collect().map(x => x.getInt(0) ->
        ((x.getLong(1), x.getDouble(2), x.getDouble(3), x.getLong(4),
          x.getInt(5), x.getInt(6), x.getDouble(7)))).toMap
    val (n0, mn0, mx0, k0, cmin0, cmax0, e0) = r(0)
    assert(n0 == 256L && mn0 == 0.0 && mx0 == 255.0)
    assert(k0 == 256L && cmin0 == -128 && cmax0 == 127)
    assert(e0 == 0.0, s"grid quantization must be lossless, err $e0")
    val (_, _, _, k1, cmin1, cmax1, e1) = r(1)
    assert(k1 == 1L && cmin1 == 0 && cmax1 == 0 && e1 == 0.0,
      "constant dim: single code 0; xq = mn + 128*(mx-mn)/255 = mn -> err 0")
  }

  test("randomProject: deterministic, linear, distances roughly preserved") {
    val s = spark
    import s.implicits._
    val dim = 16
    val vecs = (0 until 30).map(i =>
      (i.toLong, Array.tabulate(dim)(d => ((i * 31 + d * 7) % 19 - 9).toFloat)))
    val doubled = vecs.map { case (i, v) => (i + 100L, v.map(_ * 2)) }
    val df = (vecs ++ doubled).toDF("vec_id", "embedding")
    val r = SimilarityOps.randomProject(df, "vec_id", "embedding",
      outDim = 8, dim = dim, seed = 7L)
      .collect().map(x => x.getLong(0) ->
        (1 until 9).map(x.getDouble).toArray).toMap
    // determinism across invocations
    val r2 = SimilarityOps.randomProject(df, "vec_id", "embedding",
      outDim = 8, dim = dim, seed = 7L)
      .collect().map(x => x.getLong(0) -> (1 until 9).map(x.getDouble).toArray).toMap
    assert(r.forall { case (k, v) => v.sameElements(r2(k)) })
    // linearity: r(2v) = 2 r(v) exactly (doubling floats is exact)
    vecs.foreach { case (i, _) =>
      assert(r(i + 100L).zip(r(i)).forall { case (a, b) => a == 2 * b })
    }
    // JL sanity: projected pairwise distances correlate with the originals
    // (loose band — outDim 8 only bounds distortion probabilistically)
    def d2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum
    def p2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      (i, vi) <- vecs.take(10); (j, vj) <- vecs.take(10) if i < j
    } yield p2(r(i), r(j)) / d2(vi, vj)
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 1.5, s"JL mean distortion $mean drifted")
  }

  test("ByteVecDot: exact signed-int8 dots, codegen == interpreted") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val a = Array[Byte](127, -128, 3, 0)
    val b = Array[Byte](-128, -128, 2, 99)
    val want = 127L * -128 + (-128L * -128) + 6L
    val df = Seq((a, b)).toDF("a", "b")
    val dot = graft.functions.VectorExpressions.dotB(col("a"), col("b"))
    assert(df.select(dot).collect()(0).getLong(0) == want)
    // interpreted path (filter in a nested-loop-style condition)
    assert(df.filter(dot === lit(want)).count() == 1)
  }

  test("int8TopK: rank 1 is the query itself; ranking matches exact recompute") {
    val s = spark
    import s.implicits._
    var x = 5
    def nxt(): Float = { x = x * 1103515245 + 12345; (x % 1000) / 250.0f }
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(nxt())))
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.operators.SimilarityOps
      .int8TopK(df, "vec_id", "embedding", Seq(0L, 7L), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    // brute-force expectation with the SAME quantization (HALF_UP round,
    // Spark's convention) computed entirely in Scala
    val dim = 16
    val mins = (0 until dim).map(p => vecs.map(_._2(p).toDouble).min)
    val maxs = (0 until dim).map(p => vecs.map(_._2(p).toDouble).max)
    def codeOf(v: Double, p: Int): Long =
      if (maxs(p) == mins(p)) 0L
      else BigDecimal((v - mins(p)) / (maxs(p) - mins(p)) * 255.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong - 128L
    val codes = vecs.map { case (id, v) =>
      id -> (0 until dim).map(p => codeOf(v(p).toDouble, p))
    }.toMap
    val want = (for (qid <- Seq(0L, 7L)) yield {
      val scored = vecs.map { case (id, _) =>
        (id, (0 until dim).map(p => codes(qid)(p) * codes(id)(p)).sum)
      }.sortBy { case (id, d) => (-d, id) }.take(5)
      scored.zipWithIndex.map { case ((id, d), i) => (qid, i + 1, id, d) }
    }).flatten.toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("ByteVecHamming: exact popcounts, codegen == interpreted, prefix fold") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val a = Array[Byte](0x0F, -1, 0x00)          // 00001111 11111111 00000000
    val b = Array[Byte](0x00, 0x55, 0x00, 0x7F)  // extra byte: prefix fold
    val want = 4L + 4L + 0L
    val df = Seq((a, b)).toDF("a", "b")
    val hd = graft.functions.VectorExpressions.hammingB(col("a"), col("b"))
    assert(df.select(hd).collect()(0).getLong(0) == want)
    // interpreted path (filter in a nested-loop-style condition)
    assert(df.filter(hd === lit(want)).count() == 1)
  }

  test("PackSignBits: literal thresholds, const dims, codegen == interpreted") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Array(0.9f, 0.1f, 0.5f, 2.0f))).toDF("id", "v")
    val packed = graft.functions.VectorExpressions
      .packBits(col("v"), Array(0.5, 0.5, 0.5, 0.0), Array(false, false, true, false))
    // dims: 0.9>0.5 → 1; 0.1 → 0; const dim → 0 despite 0.5>... ; 2.0>0 → 1
    val want = Array(0x90.toByte) // 1001 0000 with 4 pad bits
    assert(df.select(packed).collect()(0).getAs[Array[Byte]](0).toSeq == want.toSeq)
    // interpreted path via a filter condition
    assert(df.filter(length(packed) === 1).count() == 1)
  }

  test("binaryCodes: MSB-first packing, midrange threshold, pad bits zero") {
    val s = spark
    import s.implicits._
    // dim 10 → 2 bytes, 6 pad bits; per-dim ranges from two rows.
    // pos p: row0 = p, row1 = 2p  → midrange 1.5p; row1 above for p>0,
    // row0 below; p=0 has mx==mn → bit 0 on both.
    val df = (0L to 1L).map(i =>
      (i, Array.tabulate(10)(p => (p * (i + 1)).toFloat))).toDF("vec_id", "embedding")
    val got = graft.operators.SimilarityOps
      .binaryCodes(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got(0L).toSeq == Seq(0x00.toByte, 0x00.toByte))
    // row1: bits at pos 1..9 → 01111111 11000000
    assert(got(1L).toSeq == Seq(0x7F.toByte, 0xC0.toByte))
    // ragged corpus fails fast instead of mispacking against pad bits
    val ragged = Seq((0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      graft.operators.SimilarityOps
        .binaryCodes(ragged, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("uniform dim") ||
      Option(e.getCause).exists(_.getMessage.contains("uniform dim")), e.getMessage)
  }

  test("hammingTopK: rank 1 is the query itself; ranking matches exact recompute") {
    val s = spark
    import s.implicits._
    var x = 9
    def nxt(): Float = { x = x * 1103515245 + 12345; (x % 1000) / 250.0f }
    val dim = 12 // non-multiple of 8: exercises the pad path end to end
    val vecs = (0L until 40L).map(i => (i, Array.fill(dim)(nxt())))
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.operators.SimilarityOps
      .hammingTopK(df, "vec_id", "embedding", Seq(0L, 7L), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3))).toSet
    val mins = (0 until dim).map(p => vecs.map(_._2(p).toDouble).min)
    val maxs = (0 until dim).map(p => vecs.map(_._2(p).toDouble).max)
    def bitOf(v: Double, p: Int): Int =
      if (maxs(p) == mins(p)) 0
      else if (v > (mins(p) + maxs(p)) / 2.0) 1 else 0
    val bits = vecs.map { case (id, v) =>
      id -> (0 until dim).map(p => bitOf(v(p).toDouble, p))
    }.toMap
    val want = (for (qid <- Seq(0L, 7L)) yield {
      val scored = vecs.map { case (id, _) =>
        (id, (0 until dim).count(p => bits(qid)(p) != bits(id)(p)).toLong)
      }.sortBy { case (id, d) => (d, id) }.take(5)
      scored.zipWithIndex.map { case ((id, d), i) => (qid, i + 1, id, d) }
    }).flatten.toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.count { case (q, r, id, d) => r == 1 && id == q && d == 0L } == 2)
  }
}
