package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.DriverParquet
import graft.operators.{CurationOps, DedupOps, SimilarityOps}
import graft.sources.Tables

/** Embedding queries: brute-force and approximate nearest neighbours (LSH,
  * IVF, PQ, SQ8, binary), semantic dedup, projections and recall reports.
  * Trained constants are materialized under `MatRoot` for the oracles.
  */
object AnnQueries extends Family("ann") {
  import QuerySupport._

  /** IVF top-k at nProbe = k (every list probed): provably exhaustive, so
    * the brute-force SQL mirror applies exactly — this gates the IVF
    * machinery (quantizer, list assignment, probe ranking, re-rank) while
    * SimilaritySpec pins the recall/probe trade at nProbe < k.
    */
  q("q_ivf_topk",
    // Same mirror as q_topk_cosine: at nProbe = k the IVF search is
    // exhaustive by construction.
      s"""WITH sc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20),
         |r AS (SELECT ia, ib, cos_r,
         |  CAST(row_number() OVER (PARTITION BY ia ORDER BY cos_r DESC, ib) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT ia, rank, ib, cos_r FROM r WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 3, dimHint = 64)
    SimilarityOps.ivfTopK(emb, "vec_id", "embedding", k = 5, maxQueryId = 20L,
      centroids = cents, nProbe = 16)
      .orderBy("ia", "rank")
  }

  /** Incremental-append IVF probe (VERDICT r15 item 3): base build over
    * the even-id half, two parity appends over the odd ids with the
    * FROZEN quantizer, a compaction fold, then a probe over the LOADED
    * committed read set at nProbe = nlist. Exhaustive probing makes the
    * brute-force SQL the oracle for the whole append/fold/read-set
    * chain: a row lost, duplicated, or misassigned anywhere in it
    * changes the ranked output.
    */
  q("q_ivf_append",
    // append path: exhaustive probe over the loaded committed read set
    // equals brute-force — same oracle as q_ivf_topk by construction
      s"""WITH sc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20),
         |r AS (SELECT ia, ib, cos_r,
         |  CAST(row_number() OVER (PARTITION BY ia ORDER BY cos_r DESC, ib) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT ia, rank, ib, cos_r FROM r WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    val emb = Tables.embeddings(s, dir)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val cents = SimilarityOps.ivfCentroids(base, "vec_id", "embedding",
      k = 16, iters = 3, dimHint = 64)
    val idx = freshTmpDir("ivf_append", dir)
    SimilarityOps.saveIvfIndex(
      SimilarityOps.ivfLists(base, "vec_id", "embedding", cents), cents, idx)
    SimilarityOps.appendToIvfIndex(
      emb.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", idx)
    SimilarityOps.appendToIvfIndex(
      emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", idx)
    SimilarityOps.compactIvfIndex(s, idx, maxParts = 2)
    val (lists, loadedCents) = SimilarityOps.loadIvfIndex(s, idx)
    SimilarityOps.ivfTopKOverLists(lists, emb, "vec_id", "embedding",
      k = 5, maxQueryId = 20L, loadedCents, nProbe = 16)
      .orderBy("ia", "rank")
  }

  /** Dedup cluster resolution at scale: multi-table hyperplane-LSH candidate
    * pairs (bucket join, never all-pairs) → exact-cosine verify at τ=0.9 →
    * connected components → survivor per cluster. The edge generation is the
    * O(n²)-free path; the brute-force recursive-CTE oracle checks the same
    * cluster labels. Within-triple redundancy (3 edges per planted triangle)
    * plus cluster-level comparison make the LSH edge set effectively
    * recall-complete at the planted cos ≈ 0.9999 (see SimilaritySpec pin).
    */
  q("q_dedup_clusters",
    // Brute-force mirror of the planted-triple near-dup clustering: the same
    // deterministic perturbation (1-based lambda index = Spark's i+1), all
    // pairs at τ=0.9, recursive-CTE component labels.
      s"""WITH RECURSIVE
         |trip AS (SELECT CAST(vec_id*3 + c AS BIGINT) AS id,
         |  list_transform(embedding::DOUBLE[],
         |    (x, i) -> x + c * ((vec_id*31 + i*7) % 13 - 6) * 0.0005)::FLOAT[] AS v
         |  FROM embeddings, (VALUES (0), (1), (2)) t(c)),
         |p AS (SELECT a.id AS da, b.id AS db,
         |  round(list_dot_product(a.v::DOUBLE[], b.v::DOUBLE[]) /
         |    (sqrt(list_dot_product(a.v::DOUBLE[], a.v::DOUBLE[])) *
         |     sqrt(list_dot_product(b.v::DOUBLE[], b.v::DOUBLE[]))) + 1e-9, 4) AS cos_r
         |  FROM trip a JOIN trip b ON a.id < b.id),
         |e AS (SELECT da, db FROM p WHERE cos_r >= 0.9),
         |sym(a, b) AS (SELECT da, db FROM e UNION SELECT db, da FROM e),
         |walk(node, label) AS (
         |  SELECT id, id FROM trip
         |  UNION
         |  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node)
         |SELECT node AS vec_id, CAST(min(label) AS BIGINT) AS component,
         |  node = min(label) AS is_survivor
         |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val trip = plantedTriples(s, dir)
    val pairs = SimilarityOps.annCosinePairsMulti(trip, "id", "embedding",
      tau = 0.9, nTables = 6, planesPerTable = 12, dimHint = 64)
      .select(col("ia").as("da"), col("ib").as("db"))
    DedupOps.resolveClusters(trip.select("id"), "id", pairs)
      .select(col("id").as("vec_id"), col("component"), col("is_survivor"))
      .orderBy("vec_id")
  }

  /** Materialize the hyperplanes shared by q_ann_pairs and
    * q_hard_negatives (one definition — the "identical planes" invariant
    * their oracles rely on; content is a pure function of
    * (dim, nTables, k, seed), so a concurrent overwrite rewrites the
    * same values) and return the planes-per-table k. Bounded
    * driver-side dump: L·k plane rows, 64 doubles each.
    */
  private def writeAnnPlanes(s: SparkSession): Int = {
    import s.implicits._
    val k = SimilarityOps.annPlanesFor(n = 2000L, targetBucket = 250L)
    DriverParquet.write(s, AnnPlanesDir,
      StructType.fromDDL("tbl INT, plane INT, w ARRAY<DOUBLE>"),
      SimilarityOps.tablePlanes(dim = 64, nTables = 12, planesPerTable = k)
        .flatMap { case (t, pls) =>
          pls.zipWithIndex.map { case (pl, p) =>
            Seq(t, p, pl.map(_.toDouble).toSeq) }
        })
    k
  }

  /** ANN scale path: MULTI-TABLE hyperplane LSH → bucket join → exact cosine
    * verify. The (L, k) here are RECALL-driven for the low τ=0.25 target: at
    * τ=0.25 the per-plane collision probability is only ~0.58, so k must stay
    * small (3) for any recall and the candidate set is dense — at this τ that
    * is inherent to hyperplane LSH, not a tuning miss. The scale discipline is
    * `annPlanesFor(n, targetBucket)`: k = log2(n/targetBucket) keeps bucket
    * occupancy (and therefore within-bucket join work) CONSTANT as n grows,
    * and L buys recall back geometrically; high-τ near-dup detection (the 100
    * TB dedup case, cf. q_dedup_clusters at τ=0.9, k=12) is where LSH prunes
    * hard. FULLY oracle-gated: the hyperplane constants are materialized to
    * `AnnPlanesDir` as a parquet table (tbl, plane, w DOUBLE[]) the oracle
    * SQL `list_dot_product`s against — signatures, buckets, candidates, and
    * the verify cosine are all recomputed in DuckDB. Both engines widen the
    * float components to double BEFORE multiplying and fold sequentially,
    * so the sign tests and scores are bit-identical. `SimilaritySpec` still
    * pins recall ≥ 0.9 vs brute force.
    */
  q("q_ann_pairs",
    // Full LSH mirror: the Spark side materializes its hyperplane constants
    // to the fixed parquet below (content a pure function of the seed), so
    // DuckDB recomputes signature bits (list_dot_product folds the same
    // double-widened products in the same order → bit-identical signs),
    // buckets, per-table candidate pairs, and the exact verify cosine.
      s"""WITH pl AS (SELECT tbl, plane, w
         |    FROM '$AnnPlanesDir/*.parquet'),
         |dots AS (SELECT e.vec_id, p.tbl, p.plane,
         |    list_dot_product(e.embedding::DOUBLE[], p.w) AS dp
         |  FROM embeddings e CROSS JOIN pl p),
         |sig AS (SELECT vec_id, tbl,
         |    CAST(sum(CASE WHEN dp > 0 THEN 1 << plane ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM dots GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT s1.vec_id AS ia, s2.vec_id AS ib
         |  FROM sig s1 JOIN sig s2 ON s1.tbl = s2.tbl
         |    AND s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id),
         |sc AS (SELECT c.ia, c.ib, round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.ia
         |    JOIN embeddings b ON b.vec_id = c.ib)
         |SELECT ia, ib, cos_r FROM sc WHERE cos_r >= 0.25 ORDER BY ia, ib""".stripMargin) { (s, dir) =>
    val k = writeAnnPlanes(s)
    val emb = Tables.embeddings(s, dir)
    SimilarityOps.annCosinePairsMulti(emb, "vec_id", "embedding",
      tau = 0.25, nTables = 12, planesPerTable = k, dimHint = 64)
      .orderBy("ia", "ib")
  }

  /** Contrastive hard-negative mining over the SAME LSH tables as
    * q_ann_pairs (identical planes, materialized for the oracle): bucket
    * collisions that score BELOW 0.1 cosine, reduced to the 3 hardest
    * per min-id anchor. The oracle replays buckets, the inverted cosine
    * gate, and the (cos desc, ib) ranking.
    */
  q("q_hard_negatives",
    // Hard-negative mirror: identical LSH buckets, the INVERTED cosine
    // gate (< 0.1), and the (cos DESC, ib) per-anchor top-3 ranking.
      s"""WITH pl AS (SELECT tbl, plane, w
         |    FROM '$AnnPlanesDir/*.parquet'),
         |dots AS (SELECT e.vec_id, p.tbl, p.plane,
         |    list_dot_product(e.embedding::DOUBLE[], p.w) AS dp
         |  FROM embeddings e CROSS JOIN pl p),
         |sig AS (SELECT vec_id, tbl,
         |    CAST(sum(CASE WHEN dp > 0 THEN 1 << plane ELSE 0 END) AS BIGINT)
         |      AS bucket
         |  FROM dots GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT s1.vec_id AS ia, s2.vec_id AS ib
         |  FROM sig s1 JOIN sig s2 ON s1.tbl = s2.tbl
         |    AND s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id),
         |sc AS (SELECT c.ia, c.ib, round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM cand c JOIN embeddings a ON a.vec_id = c.ia
         |    JOIN embeddings b ON b.vec_id = c.ib),
         |neg AS (SELECT ia, ib, cos_r,
         |    row_number() OVER (PARTITION BY ia ORDER BY cos_r DESC, ib) AS rn
         |  FROM sc WHERE cos_r < 0.1)
         |SELECT ia, CAST(rn AS INT) AS rank, ib, cos_r
         |FROM neg WHERE rn <= 3 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    val k = writeAnnPlanes(s)
    SimilarityOps.hardNegativePairs(Tables.embeddings(s, dir),
      "vec_id", "embedding", tauMax = 0.1, perAnchorK = 3,
      nTables = 12, planesPerTable = k, dimHint = 64)
      .orderBy("ia", "rank")
  }

  /** Product-quantization ADC top-k: train per-subspace codebooks on the
    * embeddings (one Lloyd job per round), materialize them to
    * `PqCodebooksDir` as (sub, code, c DOUBLE[]), and rank every corpus
    * vector for each query id < 20 by the summed per-subspace table
    * distances. The oracle recomputes subvector slices, the argmin code
    * per (vector, subspace) (ties → lowest code, the `pqAssign` struct
    * order), the query distance tables, and the ADC sum — every dot the
    * same double-widened sequential fold (`list_dot_product`), every
    * squared distance the same `(v·v − 2·v·c) + c·c` association.
    */
  q("q_pq_topk",
    // Full PQ-ADC mirror against the materialized codebooks: subvector
    // slices, per-(vector, subspace) argmin codes (ties -> lowest code),
    // query distance tables, and the summed asymmetric distance are all
    // recomputed in SQL with the same (v.v - 2*v.c) + c.c association and
    // double-widened sequential dots as the Spark expressions.
      s"""WITH cb AS (SELECT sub, code, c FROM '$PqCodebooksDir/*.parquet'),
         |sv AS (SELECT e.vec_id, s.sub,
         |    list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8)::DOUBLE[] AS v
         |  FROM embeddings e
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |d AS (SELECT sv.vec_id, sv.sub, cb.code,
         |    (list_dot_product(sv.v, sv.v) - 2.0 * list_dot_product(sv.v, cb.c))
         |      + list_dot_product(cb.c, cb.c) AS d
         |  FROM sv JOIN cb ON cb.sub = sv.sub),
         |asg AS (SELECT vec_id AS ib, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
         |    FROM d) z WHERE rn = 1),
         |qd AS (SELECT vec_id AS ia, sub, code, d FROM d WHERE vec_id < 20),
         |sc AS (SELECT q.ia, a.ib, round(sum(q.d) + 1e-9, 4) AS adist_r
         |  FROM qd q JOIN asg a ON a.sub = q.sub AND a.code = q.code
         |  WHERE q.ia <> a.ib GROUP BY 1, 2),
         |rk AS (SELECT ia, ib, adist_r,
         |    row_number() OVER (PARTITION BY ia ORDER BY adist_r, ib) AS rank
         |  FROM sc)
         |SELECT ia, CAST(rank AS INT) AS rank, ib, adist_r
         |FROM rk WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    // bounded codebook dump: m·k rows × subDim doubles — the broadcast index
    DriverParquet.write(s, PqCodebooksDir,
      StructType.fromDDL("sub INT, code INT, c ARRAY<DOUBLE>"),
      books.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.map { case (c, code) =>
          Seq(sub, code, c.map(_.toDouble).toSeq) }
      })
    SimilarityOps.pqTopK(emb, "vec_id", "embedding", k = 5, maxQueryId = 20L,
      books, dimHint = 64)
      .orderBy("ia", "rank")
  }

  /** IVF + SQ8 composed search: nProbe = 2 of 8 coarse lists pruned per
    * query, exact-integer int8 ranking within the probed lists. The
    * oracle replays the probe selection against the materialized
    * quantizer, the code table, and the ranking — pruning included.
    */
  q("q_ivfsq_topk",
    // int8 scalar-quantization mirror: ranges, codes, and dequant error
    // recomputed per dimension; round-half-up agrees on the non-negative
    // scaled values, so codes match exactly.
    // IVF+SQ8 mirror: probe selection vs the materialized quantizer,
    // the recomputed code table, and the same pruned integer ranking.
      s"""WITH cent AS (SELECT cid, w FROM '$IvfSqCentroidsDir/*.parquet'),
         |xs AS (SELECT vec_id AS id, CAST(t.i - 1 AS INT) AS pos,
         |    CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t),
         |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM xs GROUP BY 1),
         |cd AS (SELECT id, pos, CASE WHEN mx = mn THEN 0
         |    ELSE CAST(round((x - mn) / (mx - mn) * 255.0) AS INT) - 128
         |    END AS code
         |  FROM xs JOIN rg USING (pos)),
         |sc AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.embedding::DOUBLE[], c.w) AS s
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc) z WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc WHERE vec_id IN (0, 1, 2)) z WHERE rn <= 2),
         |cand AS (SELECT p.qid, a.vec_id AS id
         |  FROM probes p JOIN asg a ON a.cid = p.cid),
         |d AS (SELECT cand.qid, cand.id,
         |    CAST(sum(qc.code * cc.code) AS BIGINT) AS qdot
         |  FROM cand
         |  JOIN cd qc ON qc.id = cand.qid
         |  JOIN cd cc ON cc.id = cand.id AND cc.pos = qc.pos
         |  GROUP BY 1, 2),
         |r AS (SELECT qid, id, qdot,
         |    row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, id) AS rn
         |  FROM d)
         |SELECT qid, CAST(rn AS INT) AS rank, id AS vec_id, qdot
         |FROM r WHERE rn <= 5 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 64)
    DriverParquet.write(s, IvfSqCentroidsDir,
      StructType.fromDDL("cid INT, w ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c.map(_.toDouble).toSeq) })
    SimilarityOps.ivfSq8TopK(emb, "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L), k = 5, cents, nProbe = 2)
      .orderBy("qid", "rank")
  }

  /** IVF + RESIDUAL SQ8 search (the FAISS residual discipline): codes
    * quantize x − centroid(x) — per-dim ranges train on the residuals,
    * whose dynamic range is the within-cluster gap — and ranking is the
    * cosine of the dequantized reconstruction with the TRUE vector norm
    * riding the index as a sidecar. The oracle replays everything:
    * assignment and probe pruning against the materialized quantizer,
    * the float residual subtraction (explicit FLOAT casts — Spark's
    * zip_with subtracts floats), the recomputed residual code table, the
    * three score terms (〈q,c〉 + 〈q,mn_float〉 + Σ q·(code+128)·scale), and
    * the epsilon-stabilized rounded cosine ranking.
    */
  q("q_ivfsq_residual_topk",
    // SQ8 mirror: the identical per-dim quantization, integer dots via
    // a (pos-keyed) sum, and the same (dot DESC, id) ranking.
    // Residual-SQ8 mirror: the full FAISS residual pipeline in SQL —
    // coarse assignment + probe pruning vs the materialized FLOAT
    // quantizer, float residual subtraction (matching Spark's zip_with
    // float math bit-for-bit), per-dim ranges over residuals, half-up
    // codes, then the three-term reconstruction dot over the stored
    // codes divided by true norms (the 4-byte sidecar), rounded with the
    // shared epsilon. mn enters the score FLOAT-cast (the engine bakes
    // mn as a float literal vector).
      s"""WITH cent AS (SELECT cid, w FROM '$IvfSqResCentroidsDir/*.parquet'),
         |sc AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.embedding::DOUBLE[], c.w::DOUBLE[]) AS s
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc) z WHERE rn = 1),
         |probes AS (SELECT vec_id AS qid, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM sc WHERE vec_id IN (0, 1, 2)) z WHERE rn <= 2),
         |res AS (SELECT e.vec_id AS id, CAST(t.i - 1 AS INT) AS pos,
         |    CAST(CAST(e.embedding[CAST(t.i AS INT)] AS FLOAT)
         |      - CAST(c.w[CAST(t.i AS INT)] AS FLOAT) AS DOUBLE) AS r
         |  FROM embeddings e JOIN asg a USING (vec_id)
         |    JOIN cent c ON c.cid = a.cid,
         |    LATERAL (SELECT unnest(range(1, len(e.embedding) + 1)) AS i) t),
         |rg AS (SELECT pos, min(r) AS mn, max(r) AS mx FROM res GROUP BY 1),
         |cd AS (SELECT id, pos,
         |    CASE WHEN mx = mn THEN 0
         |      ELSE CAST(round((r - mn) / (mx - mn) * 255.0) AS INT) - 128
         |    END AS code,
         |    CASE WHEN mx = mn THEN 0.0 ELSE (mx - mn) / 255.0 END AS scale
         |  FROM res JOIN rg USING (pos)),
         |nrm AS (SELECT vec_id AS id,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nb
         |  FROM embeddings),
         |cand AS (SELECT p.qid, p.cid, a.vec_id AS id
         |  FROM probes p JOIN asg a ON a.cid = p.cid WHERE a.vec_id <> p.qid),
         |md AS (SELECT q.vec_id AS qid,
         |    sum(CAST(q.embedding[pos + 1] AS DOUBLE)
         |      * CAST(CAST(rg.mn AS FLOAT) AS DOUBLE)) AS mdot
         |  FROM embeddings q CROSS JOIN rg WHERE q.vec_id IN (0, 1, 2)
         |  GROUP BY 1),
         |sd AS (SELECT cand.qid, cand.id,
         |    sum(CAST(q.embedding[cd.pos + 1] AS DOUBLE)
         |      * ((cd.code + 128) * cd.scale)) AS sdot
         |  FROM cand JOIN cd ON cd.id = cand.id
         |    JOIN embeddings q ON q.vec_id = cand.qid
         |  GROUP BY 1, 2),
         |scored AS (SELECT cand.qid, cand.id,
         |    round((cdq.s + md.mdot + sd.sdot) / (qn.nb * cn.nb) + 1e-9, 4)
         |      AS cos_r
         |  FROM cand
         |    JOIN sc cdq ON cdq.vec_id = cand.qid AND cdq.cid = cand.cid
         |    JOIN md ON md.qid = cand.qid
         |    JOIN sd ON sd.qid = cand.qid AND sd.id = cand.id
         |    JOIN nrm qn ON qn.id = cand.qid
         |    JOIN nrm cn ON cn.id = cand.id),
         |r AS (SELECT qid, id, cos_r,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, id) AS rn
         |  FROM scored)
         |SELECT qid, CAST(rn AS INT) AS rank, id AS vec_id, cos_r
         |FROM r WHERE rn <= 5 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 64)
    DriverParquet.write(s, IvfSqResCentroidsDir,
      StructType.fromDDL("cid INT, w ARRAY<FLOAT>"),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c.toSeq) })
    SimilarityOps.ivfSq8ResidualTopK(emb, "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L), k = 5, cents, nProbe = 2)
      .orderBy("qid", "rank")
  }

  /** SQ8 quantized search: top-10 neighbors for three query vectors by
    * EXACT integer int8 dot (the codegen ByteVecDot kernel over binary
    * code columns) — a ranking with no float arithmetic anywhere, which
    * the oracle replays from its own recomputed code table.
    */
  q("q_int8_topk",
      """WITH xs AS (SELECT vec_id AS id, CAST(t.i - 1 AS INT) AS pos,
        |    CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t),
        |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM xs GROUP BY 1),
        |cd AS (SELECT id, pos, CASE WHEN mx = mn THEN 0
        |    ELSE CAST(round((x - mn) / (mx - mn) * 255.0) AS INT) - 128
        |    END AS code
        |  FROM xs JOIN rg USING (pos)),
        |q AS (SELECT id AS qid, pos, code AS qc FROM cd WHERE id IN (0, 1, 2)),
        |d AS (SELECT q.qid, c.id, CAST(sum(q.qc * c.code) AS BIGINT) AS qdot
        |  FROM q JOIN cd c USING (pos) GROUP BY 1, 2),
        |r AS (SELECT qid, id, qdot,
        |    row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, id) AS rn
        |  FROM d)
        |SELECT qid, CAST(rn AS INT) AS rank, id AS vec_id, qdot
        |FROM r WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    SimilarityOps.int8TopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L), k = 10)
      .orderBy("qid", "rank")
  }

  /** Binary-quantized search: top-10 neighbors for three query vectors
    * by EXACT integer Hamming distance (the codegen ByteVecHamming
    * kernel over midrange-thresholded packed sign bits) — like the SQ8
    * gate, a ranking with no float arithmetic, replayed by the oracle
    * from its own recomputed bit table.
    */
  q("q_hamming_topk",
    // Binary-quantization mirror: midrange-thresholded bits per dim
    // (min/max are exact under any aggregation order, unlike a mean),
    // Hamming = per-pos mismatch count (bit packing is lossless and pad
    // bits cancel), ranking (distance ASC, id) as the engine's negated
    // total order.
      """WITH xs AS (SELECT vec_id AS id, CAST(t.i - 1 AS INT) AS pos,
        |    CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t),
        |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM xs GROUP BY 1),
        |b AS (SELECT id, pos, CASE WHEN mx = mn THEN 0
        |    WHEN x > (mn + mx) / 2.0 THEN 1 ELSE 0 END AS bit
        |  FROM xs JOIN rg USING (pos)),
        |q AS (SELECT id AS qid, pos, bit AS qb FROM b WHERE id IN (0, 1, 2)),
        |d AS (SELECT q.qid, b.id,
        |    CAST(sum(CASE WHEN q.qb <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hd
        |  FROM q JOIN b USING (pos) GROUP BY 1, 2),
        |r AS (SELECT qid, id, hd,
        |    row_number() OVER (PARTITION BY qid ORDER BY hd, id) AS rn
        |  FROM d)
        |SELECT qid, CAST(rn AS INT) AS rank, id AS vec_id, hd
        |FROM r WHERE rn <= 10 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
    SimilarityOps.hammingTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L), k = 10)
      .orderBy("qid", "rank")
  }

  /** int8 scalar-quantization gate: per-dimension ranges, exact code
    * censuses (the round-half-up arithmetic is engine-identical on the
    * non-negative scaled values), and the rounded dequantization error.
    */
  q("q_scalar_quantize",
      """WITH x AS (SELECT e.vec_id, CAST(t.i - 1 AS INT) AS pos,
        |    CAST(e.embedding[t.i] AS DOUBLE) AS x
        |  FROM embeddings e,
        |  LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t),
        |r AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
        |c AS (SELECT x.pos, x.x, r.mn, r.mx,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(round((x - mn) / (mx - mn) * 255.0) - 128 AS INT)
        |    END AS code
        |  FROM x JOIN r USING (pos)),
        |q AS (SELECT pos, x, mn, mx, code,
        |    mn + (code + 128) * (mx - mn) / 255.0 AS xq FROM c)
        |SELECT pos, CAST(count(*) AS BIGINT) AS n,
        |  round(min(mn) + 1e-9, 5) AS mn_r, round(max(mx) + 1e-9, 5) AS mx_r,
        |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
        |  CAST(min(code) AS INT) AS code_min, CAST(max(code) AS INT) AS code_max,
        |  round(avg(abs(x - xq)) + 1e-9, 6) AS mean_abs_err_r
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    SimilarityOps.scalarQuantize(Tables.embeddings(s, dir), "vec_id", "embedding")
      .select(col("pos"), col("n"),
        rnd("mn", 5).as("mn_r"), rnd("mx", 5).as("mx_r"),
        col("n_codes"), col("code_min"), col("code_max"),
        rnd("mean_abs_err", 6).as("mean_abs_err_r"))
      .orderBy("pos")
  }

  /** PCA projection gate: top-2 basis trained by the one-pass covariance +
    * deterministic power iteration, materialized (components stored
    * float-truncated so both engines fold identical widened doubles — the
    * hyperplane precedent), every embedding projected onto it. The oracle
    * re-applies the projection with `list_dot_product`, so the distributed
    * application — not a copied answer — is what's checked; basis sanity
    * (orthonormality, eigenvalue order) is spec-pinned.
    */
  q("q_pca_project",
    // PCA mirror: the materialized basis re-applied with list_dot_product
    // (same widened-float folds), centering via the stored mu_dot.
      s"""WITH b AS (SELECT comp, w, mu_dot FROM '$PcaBasisDir/*.parquet'),
         |pr AS (SELECT e.vec_id, b.comp,
         |    list_dot_product(e.embedding::DOUBLE[], b.w::DOUBLE[]) - b.mu_dot AS p
         |  FROM embeddings e CROSS JOIN b)
         |SELECT vec_id,
         |  round(max(CASE WHEN comp = 0 THEN p END) + 1e-9, 5) AS p0_r,
         |  round(max(CASE WHEN comp = 1 THEN p END) + 1e-9, 5) AS p1_r
         |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val (mean, comps) = SimilarityOps.pcaComponents(emb, "vec_id", "embedding",
      k = 2, iters = 50, dimHint = 64)
    val rows = comps.zipWithIndex.map { case ((v, lam), c) =>
      val wf = v.map(_.toFloat)
      var md = 0.0
      var i = 0
      while (i < 64) { md += mean(i) * wf(i).toDouble; i += 1 }
      (c, wf.map(_.toDouble).toSeq, md, lam)
    }
    DriverParquet.write(s, PcaBasisDir,
      StructType.fromDDL(
        "comp INT, w ARRAY<DOUBLE>, mu_dot DOUBLE, eigenvalue DOUBLE"),
      rows.map { case (c, w, md, lam) => Seq(c, w, md, lam) })
    val projs = rows.map { case (c, _, md, _) =>
      (rnd(graft.operators.SimilarityOps.dot(col("embedding"),
        typedLit(comps(c)._1.map(_.toFloat))) - lit(md), 5)).as(s"p${c}_r")
    }
    emb.select(col("vec_id") +: projs: _*).orderBy("vec_id")
  }

  /** IVF-PQ RESIDUAL search ranked by the norm-corrected cosine estimate
    * (VERDICT r15 item 2): codebooks train on x − centroid(x), the ADC
    * L2 sum converts through the polarization identity with the true-norm
    * sidecar — cos ≈ (‖q‖² + ‖x‖² − ‖q − x̂‖²)/(2‖q‖‖x‖). The oracle
    * recomputes routing, float residual subtraction, codes, per-list ADC
    * tables, norms, and the identity from the same materialized
    * constants, so candidate restriction AND the score algebra are both
    * checked.
    */
  q("q_ivfpq_residual_cos",
    // Residual IVF-PQ cosine mirror: routing, FLOAT residual subtraction,
    // per-vector residual codes, ADC L2 sums over the query's per-list
    // residual, and the polarization-identity score with true-norm
    // sidecars — candidate restriction AND score algebra replayed from
    // the same materialized constants.
      s"""WITH ct AS (SELECT cid, c FROM '$IvfPqResCentroidsDir/*.parquet'),
         |cb AS (SELECT sub, code, c FROM '$IvfPqResCodebooksDir/*.parquet'),
         |cd AS (SELECT e.vec_id, ct.cid,
         |    list_dot_product(e.embedding::DOUBLE[], ct.c) AS dp
         |  FROM embeddings e CROSS JOIN ct),
         |asgc AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
         |    FROM cd) z WHERE rn = 1),
         |probe AS (SELECT vec_id AS ia, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
         |    FROM cd WHERE vec_id < 20) z WHERE rn <= 3),
         |rv AS (SELECT e.vec_id, list_transform(generate_series(1, 64),
         |      i -> CAST(CAST(e.embedding[i] AS FLOAT)
         |        - CAST(ct.c[i] AS FLOAT) AS DOUBLE)) AS r
         |  FROM embeddings e JOIN asgc a USING (vec_id)
         |    JOIN ct ON ct.cid = a.cid),
         |sv AS (SELECT rv.vec_id, s.sub,
         |    list_slice(rv.r, s.sub * 8 + 1, s.sub * 8 + 8) AS v
         |  FROM rv CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |d AS (SELECT sv.vec_id, sv.sub, cb.code,
         |    (list_dot_product(sv.v, sv.v) - 2.0 * list_dot_product(sv.v, cb.c))
         |      + list_dot_product(cb.c, cb.c) AS d
         |  FROM sv JOIN cb ON cb.sub = sv.sub),
         |asg AS (SELECT vec_id AS ib, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
         |    FROM d) z WHERE rn = 1),
         |qrv AS (SELECT p.ia, p.cid, list_transform(generate_series(1, 64),
         |      i -> CAST(CAST(e.embedding[i] AS FLOAT)
         |        - CAST(ct.c[i] AS FLOAT) AS DOUBLE)) AS r
         |  FROM probe p JOIN embeddings e ON e.vec_id = p.ia
         |    JOIN ct ON ct.cid = p.cid),
         |qsv AS (SELECT q.ia, q.cid, s.sub,
         |    list_slice(q.r, s.sub * 8 + 1, s.sub * 8 + 8) AS v
         |  FROM qrv q CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |qd AS (SELECT q.ia, q.cid, q.sub, cb.code,
         |    (list_dot_product(q.v, q.v) - 2.0 * list_dot_product(q.v, cb.c))
         |      + list_dot_product(cb.c, cb.c) AS d
         |  FROM qsv q JOIN cb ON cb.sub = q.sub),
         |nrm AS (SELECT vec_id,
         |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
         |  FROM embeddings),
         |cand AS (SELECT DISTINCT p.ia, p.cid, mem.vec_id AS ib
         |  FROM probe p JOIN asgc mem ON mem.cid = p.cid AND mem.vec_id <> p.ia),
         |sc AS (SELECT c.ia, c.ib,
         |    round((qn.n * qn.n + nn.n * nn.n - sum(q.d))
         |      / (2.0 * qn.n * nn.n) + 1e-9, 4) AS cos_r
         |  FROM cand c JOIN asg a ON a.ib = c.ib
         |  JOIN qd q ON q.ia = c.ia AND q.cid = c.cid
         |    AND q.sub = a.sub AND q.code = a.code
         |  JOIN nrm qn ON qn.vec_id = c.ia
         |  JOIN nrm nn ON nn.vec_id = c.ib
         |  GROUP BY c.ia, c.ib, qn.n, nn.n),
         |rk AS (SELECT ia, ib, cos_r,
         |    row_number() OVER (PARTITION BY ia ORDER BY cos_r DESC, ib) AS rank
         |  FROM sc)
         |SELECT ia, CAST(rank AS INT) AS rank, ib, cos_r
         |FROM rk WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2, dimHint = 64)
    DriverParquet.write(s, IvfPqResCentroidsDir,
      StructType.fromDDL("cid INT, c ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, cid) =>
        Seq(cid, c.map(_.toDouble).toSeq) })
    val books = SimilarityOps.pqCodebooks(
      SimilarityOps.residualFrame(emb, "vec_id", "embedding", cents),
      "vec_id", "resid", m = 8, k = 16, iters = 2, dimHint = 64)
    DriverParquet.write(s, IvfPqResCodebooksDir,
      StructType.fromDDL("sub INT, code INT, c ARRAY<DOUBLE>"),
      books.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.map { case (c, code) =>
          Seq(sub, code, c.map(_.toDouble).toSeq) }
      })
    SimilarityOps.ivfPqResidualCosineTopK(emb, "vec_id", "embedding",
      k = 5, maxQueryId = 20L, cents, books, nProbe = 3, dimHint = 64)
      .orderBy("ia", "rank")
  }

  /** IVF-PQ composed gate: coarse routing restricts candidates to the
    * probed lists, ADC ranks them. Both trained structures materialize so
    * the oracle recomputes routing, probing, codes, distance tables, and
    * ranks from the SAME constants — the candidate restriction makes this
    * strictly stronger than the exhaustive-equivalence trick q_ivf_topk
    * uses (a wrong probe set changes the result rows here).
    */
  q("q_ivfpq_topk",
    // IVF-PQ mirror: coarse routing (max-dot assignment, top-nProbe probe
    // sets — ties to the lowest cid on both engines), candidate pairs from
    // probed-list membership, then the q_pq_topk ADC recomputation
    // restricted to those candidates. All constants read from the two
    // materialized index structures.
      s"""WITH ct AS (SELECT cid, c FROM '$IvfPqCentroidsDir/*.parquet'),
         |cb AS (SELECT sub, code, c FROM '$IvfPqCodebooksDir/*.parquet'),
         |cd AS (SELECT e.vec_id, ct.cid,
         |    list_dot_product(e.embedding::DOUBLE[], ct.c) AS dp
         |  FROM embeddings e CROSS JOIN ct),
         |asgc AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
         |    FROM cd) z WHERE rn = 1),
         |probe AS (SELECT vec_id AS ia, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dp DESC, cid) AS rn
         |    FROM cd WHERE vec_id < 20) z WHERE rn <= 3),
         |sv AS (SELECT e.vec_id, s.sub,
         |    list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8)::DOUBLE[] AS v
         |  FROM embeddings e
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |d AS (SELECT sv.vec_id, sv.sub, cb.code,
         |    (list_dot_product(sv.v, sv.v) - 2.0 * list_dot_product(sv.v, cb.c))
         |      + list_dot_product(cb.c, cb.c) AS d
         |  FROM sv JOIN cb ON cb.sub = sv.sub),
         |asg AS (SELECT vec_id AS ib, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
         |    FROM d) z WHERE rn = 1),
         |cand AS (SELECT DISTINCT p.ia, mem.vec_id AS ib
         |  FROM probe p JOIN asgc mem ON mem.cid = p.cid AND mem.vec_id <> p.ia),
         |qd AS (SELECT vec_id AS ia, sub, code, d FROM d WHERE vec_id < 20),
         |sc AS (SELECT c.ia, c.ib, round(sum(q.d) + 1e-9, 4) AS adist_r
         |  FROM cand c JOIN asg a ON a.ib = c.ib
         |  JOIN qd q ON q.ia = c.ia AND q.sub = a.sub AND q.code = a.code
         |  GROUP BY 1, 2),
         |rk AS (SELECT ia, ib, adist_r,
         |    row_number() OVER (PARTITION BY ia ORDER BY adist_r, ib) AS rank
         |  FROM sc)
         |SELECT ia, CAST(rank AS INT) AS rank, ib, adist_r
         |FROM rk WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2, dimHint = 64)
    DriverParquet.write(s, IvfPqCentroidsDir,
      StructType.fromDDL("cid INT, c ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, cid) =>
        Seq(cid, c.map(_.toDouble).toSeq) })
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    DriverParquet.write(s, IvfPqCodebooksDir,
      StructType.fromDDL("sub INT, code INT, c ARRAY<DOUBLE>"),
      books.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.map { case (c, code) =>
          Seq(sub, code, c.map(_.toDouble).toSeq) }
      })
    SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding", k = 5, maxQueryId = 20L,
      cents, books, nProbe = 3, dimHint = 64)
      .orderBy("ia", "rank")
  }

  /** ANN recall report (VERDICT r12 #6): measured recall@10 of each
    * quantized tier — IVF with REAL pruning (2 of 8 lists), PQ ADC, SQ8
    * flat, binary-Hamming flat — against brute-force cosine ground truth
    * on 8 query vectors. The oracle recomputes every tier from the
    * materialized structures (routing, probing, codes, distance tables,
    * ranking) AND the ground truth, then re-derives each recall fraction —
    * so the measured numbers, not just the report plumbing, are gated.
    */
  q("q_ann_recall",
    // ANN recall mirror: ground truth (brute cosine top-10, queries 0-7)
    // and EVERY tier recomputed from the materialized structures — IVF
    // routing/probing (2 of 8 lists), PQ argmin codes + ADC sums, SQ8 and
    // binary code tables (self excluded, matching the searched-k+1-drop-
    // self form) — then each recall fraction re-derived from the overlap.
      s"""WITH cent AS (SELECT cid, w FROM '$AnnRecallCentroidsDir/*.parquet'),
         |cb AS (SELECT sub, code, c FROM '$AnnRecallCodebooksDir/*.parquet'),
         |tsc AS (SELECT a.vec_id AS q, b.vec_id AS nb,
         |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         | (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) + 1e-9, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 8),
         |truth AS (SELECT q, nb FROM (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY cos_r DESC, nb) AS rn
         |  FROM tsc) z WHERE rn <= 10),
         |poss AS (SELECT count(*) AS possible FROM truth),
         |csc AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.embedding::DOUBLE[], c.w) AS s
         |  FROM embeddings e CROSS JOIN cent c),
         |asgc AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM csc) z WHERE rn = 1),
         |probes AS (SELECT vec_id AS q, cid FROM (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
         |  FROM csc WHERE vec_id < 8) z WHERE rn <= 2),
         |isc AS (SELECT t.q, t.nb, t.cos_r
         |  FROM tsc t JOIN probes p ON p.q = t.q
         |  JOIN asgc m ON m.vec_id = t.nb AND m.cid = p.cid),
         |ivf AS (SELECT q, nb FROM (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY cos_r DESC, nb) AS rn
         |  FROM isc) z WHERE rn <= 10),
         |sv AS (SELECT e.vec_id, s.sub,
         |    list_slice(e.embedding, s.sub * 8 + 1, s.sub * 8 + 8)::DOUBLE[] AS v
         |  FROM embeddings e
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
         |pd AS (SELECT sv.vec_id, sv.sub, cb.code,
         |    (list_dot_product(sv.v, sv.v) - 2.0 * list_dot_product(sv.v, cb.c))
         |      + list_dot_product(cb.c, cb.c) AS d
         |  FROM sv JOIN cb ON cb.sub = sv.sub),
         |pasg AS (SELECT vec_id AS nb, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rn
         |    FROM pd) z WHERE rn = 1),
         |pqd AS (SELECT vec_id AS q, sub, code, d FROM pd WHERE vec_id < 8),
         |psc AS (SELECT qq.q, a.nb, round(sum(qq.d) + 1e-9, 4) AS adist_r
         |  FROM pqd qq JOIN pasg a ON a.sub = qq.sub AND a.code = qq.code
         |  WHERE qq.q <> a.nb GROUP BY 1, 2),
         |pq AS (SELECT q, nb FROM (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY adist_r, nb) AS rn
         |  FROM psc) z WHERE rn <= 10),
         |xs AS (SELECT vec_id AS id, CAST(t.i - 1 AS INT) AS pos,
         |    CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
         |  FROM embeddings,
         |    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t),
         |rg AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM xs GROUP BY 1),
         |cdq AS (SELECT id, pos, CASE WHEN mx = mn THEN 0
         |    ELSE CAST(round((x - mn) / (mx - mn) * 255.0) AS INT) - 128
         |    END AS code
         |  FROM xs JOIN rg USING (pos)),
         |s8d AS (SELECT qc.id AS q, cc.id AS nb,
         |    CAST(sum(qc.code * cc.code) AS BIGINT) AS qdot
         |  FROM cdq qc JOIN cdq cc ON cc.pos = qc.pos AND cc.id <> qc.id
         |  WHERE qc.id < 8 GROUP BY 1, 2),
         |s8 AS (SELECT q, nb FROM (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY qdot DESC, nb) AS rn
         |  FROM s8d) z WHERE rn <= 10),
         |bb AS (SELECT id, pos, CASE WHEN mx = mn THEN 0
         |    WHEN x > (mn + mx) / 2.0 THEN 1 ELSE 0 END AS bit
         |  FROM xs JOIN rg USING (pos)),
         |bd AS (SELECT qb.id AS q, b2.id AS nb,
         |    CAST(sum(CASE WHEN qb.bit <> b2.bit THEN 1 ELSE 0 END) AS BIGINT) AS hd
         |  FROM bb qb JOIN bb b2 ON b2.pos = qb.pos AND b2.id <> qb.id
         |  WHERE qb.id < 8 GROUP BY 1, 2),
         |bin AS (SELECT q, nb FROM (SELECT q, nb,
         |    row_number() OVER (PARTITION BY q ORDER BY hd, nb) AS rn
         |  FROM bd) z WHERE rn <= 10),
         |hits AS (
         |  SELECT 'ivf' AS tier, count(*) AS hits
         |    FROM ivf JOIN truth USING (q, nb)
         |  UNION ALL SELECT 'pq', count(*) FROM pq JOIN truth USING (q, nb)
         |  UNION ALL SELECT 'sq8', count(*) FROM s8 JOIN truth USING (q, nb)
         |  UNION ALL SELECT 'binary', count(*) FROM bin JOIN truth USING (q, nb))
         |SELECT tier, CAST(8 AS BIGINT) AS n_queries, 10 AS k,
         |  CAST(hits AS BIGINT) AS hits, CAST(possible AS BIGINT) AS possible,
         |  round(hits / CAST(possible AS DOUBLE) + 1e-9, 4) AS recall
         |FROM hits, poss ORDER BY tier""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 64)
    DriverParquet.write(s, AnnRecallCentroidsDir,
      StructType.fromDDL("cid INT, w ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c.map(_.toDouble).toSeq) })
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iters = 2, dimHint = 64)
    DriverParquet.write(s, AnnRecallCodebooksDir,
      StructType.fromDDL("sub INT, code INT, c ARRAY<DOUBLE>"),
      books.zipWithIndex.flatMap { case (cb, sub) =>
        cb.zipWithIndex.map { case (c, code) =>
          Seq(sub, code, c.map(_.toDouble).toSeq) }
      })
    SimilarityOps.annRecallReport(emb, "vec_id", "embedding",
      k = 10, maxQueryId = 8L, cents, nProbe = 2, books, dimHint = 64)
      .orderBy("tier")
  }

  /** Johnson–Lindenstrauss projection gate: every embedding reduced 64→8
    * through the materialized matrix; DuckDB recomputes each component with
    * `list_dot_product` (same double-widened sequential fold as the
    * codegen'd dot → bit-identical values before the shared rounding).
    */
  q("q_random_projection",
      (s"""WITH p AS (SELECT plane, w FROM '$RpPlanesDir/*.parquet'),
        |d AS (SELECT e.vec_id, p.plane,
        |    list_dot_product(e.embedding::DOUBLE[], p.w) * sqrt(3.0 / 8.0) AS comp
        |  FROM embeddings e CROSS JOIN p)
        |SELECT vec_id,
        |""".stripMargin +
        (0 until 8).map(j =>
          s"  round(max(CASE WHEN plane = $j THEN comp END) + 1e-9, 6) AS r$j")
          .mkString(",\n") +
        "\nFROM d GROUP BY 1 ORDER BY 1")) { (s, dir) =>
    import s.implicits._
    val outDim = 8
    DriverParquet.write(s, RpPlanesDir,
      StructType.fromDDL("plane INT, w ARRAY<DOUBLE>"),
      SimilarityOps.hyperplanes(64, outDim, seed = 20260813L).zipWithIndex
        .map { case (w, j) => Seq(j, w.map(_.toDouble).toSeq) })
    SimilarityOps.randomProject(Tables.embeddings(s, dir), "vec_id", "embedding",
      outDim = outDim, dim = 64, seed = 20260813L)
      .select(col("vec_id") +: (0 until outDim).map(j => rnd(s"r$j", 6).as(s"r$j")): _*)
      .orderBy("vec_id")
  }

  /** Embedding near-dup: all-pairs cosine ≥ τ (brute-force verification tier). */
  q("q_cosine_pairs",
      s"""WITH p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT ia, ib, cos_r FROM p WHERE cos_r >= 0.3 ORDER BY ia, ib""".stripMargin) { (s, dir) =>
    SimilarityOps.cosinePairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.3)
      .orderBy("ia", "ib")
  }

  /** ANN baseline: brute-force cosine top-k for a query subset, deterministic
    * tie-break on (rounded score desc, id asc).
    */
  q("q_topk_cosine",
      s"""WITH sc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |  round(${cosSql("a", "b")} + 1e-9, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 20),
         |r AS (SELECT ia, ib, cos_r,
         |  CAST(row_number() OVER (PARTITION BY ia ORDER BY cos_r DESC, ib) AS INTEGER) AS rank
         |  FROM sc)
         |SELECT ia, rank, ib, cos_r FROM r WHERE rank <= 5 ORDER BY ia, rank""".stripMargin) { (s, dir) =>
    SimilarityOps.topKCosine(Tables.embeddings(s, dir), "vec_id", "embedding", 5, 20L)
      .orderBy("ia", "rank")
  }

  /** SemDedup semantic deduplication over embeddings: k-means clusters
    * (the IVF coarse quantizer), within-cluster exact cosine ≥ τ, CC group
    * resolution, min-id survivors. The centroids are materialized to
    * `SemCentroidsDir` so the oracle recomputes assignment (argmax with
    * ties → lowest cid — bit-identical double dots), the within-cluster
    * pair set, and the groups (recursive CTE) entirely in SQL.
    */
  q("q_semantic_dedup",
    // SemDedup mirror: assignment = argmax dot (ties -> lowest cid) against
    // the materialized quantizer — double-widened dots are bit-identical —
    // then within-cluster pairs at the rounded cosine and the same
    // recursive-CTE component resolution as q_dedup_clusters.
      s"""WITH RECURSIVE
         |cent AS (SELECT cid, w FROM '$SemCentroidsDir/*.parquet'),
         |sc AS (SELECT e.vec_id AS id, c.cid,
         |    list_dot_product(e.embedding::DOUBLE[], c.w) AS s
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT id, cid FROM (SELECT id, cid,
         |    row_number() OVER (PARTITION BY id ORDER BY s DESC, cid) AS rn
         |  FROM sc) z WHERE rn = 1),
         |p AS (SELECT a.vec_id AS da, b.vec_id AS db
         |  FROM embeddings a
         |  JOIN asg ia ON ia.id = a.vec_id
         |  JOIN embeddings b ON b.vec_id > a.vec_id
         |  JOIN asg ib ON ib.id = b.vec_id AND ib.cid = ia.cid
         |  WHERE round(${cosSql("a", "b")} + 1e-9, 4) >= 0.3),
         |sym(x, y) AS (SELECT da, db FROM p UNION SELECT db, da FROM p),
         |walk(node, label) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT s.y, w.label FROM walk w JOIN sym s ON s.x = w.node)
         |SELECT w.node AS vec_id, CAST(a2.cid AS INT) AS cid,
         |  CAST(min(w.label) AS BIGINT) AS component,
         |  w.node = min(w.label) AS is_survivor
         |FROM walk w JOIN asg a2 ON a2.id = w.node
         |GROUP BY w.node, a2.cid ORDER BY 1""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 3, dimHint = 64)
    // bounded quantizer dump (k rows × dim doubles); written per run so the
    // oracle reads EXACTLY the centroids this run clustered with
    DriverParquet.write(s, SemCentroidsDir,
      StructType.fromDDL("cid INT, w ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c.map(_.toDouble).toSeq) })
    SimilarityOps.semanticDedup(emb, "vec_id", "embedding", tau = 0.3, cents)
      .select(col("id").as("vec_id"), col("cid"), col("component"),
        col("is_survivor"))
      .orderBy("vec_id")
  }

  /** Embedding-based quality gate (the curation filter beside SemDedup):
    * every vector's cosine to its OWN k-means centroid is the quality
    * signal, and a per-cluster z-score gate (|z| ≤ 2 on the rounded
    * score — the zScoreFilter discipline) drops the embedding outliers a
    * contaminated or mis-encoded document produces. The oracle replays
    * assignment against the materialized quantizer and the identical
    * z gate.
    */
  q("q_embedding_outliers",
    // Embedding-outlier mirror: assignment against the materialized
    // quantizer (argmax dot, ties -> lowest cid), cosine to the OWN
    // centroid with its list_dot_product norm, identical rounded z gate.
      s"""WITH cent AS (SELECT cid, w FROM '$EmbOutCentroidsDir/*.parquet'),
         |sc AS (SELECT e.vec_id, c.cid,
         |    list_dot_product(e.embedding::DOUBLE[], c.w) AS s,
         |    sqrt(list_dot_product(e.embedding::DOUBLE[],
         |      e.embedding::DOUBLE[])) AS vn,
         |    sqrt(list_dot_product(c.w, c.w)) AS cn
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, cid, s / (vn * cn) AS cos_c FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, cid) AS rn FROM sc) z WHERE rn = 1),
         |st AS (SELECT cid, avg(cos_c) AS mu, stddev_pop(cos_c) AS sd,
         |    CAST(count(*) AS BIGINT) AS n_total
         |  FROM asg GROUP BY 1),
         |kept AS (SELECT a.cid, a.cos_c FROM asg a JOIN st USING (cid)
         |  WHERE sd = 0 OR round(abs((cos_c - mu) / sd) + 1e-9, 6) <= 2.0)
         |SELECT CAST(k.cid AS INT) AS cid, st.n_total,
         |  CAST(count(*) AS BIGINT) AS n_kept,
         |  round(sum(k.cos_c) + 1e-9, 4) AS sum_cos
         |FROM kept k JOIN st USING (cid)
         |GROUP BY 1, 2 ORDER BY cid""".stripMargin) { (s, dir) =>
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cents = SimilarityOps.ivfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 3, dimHint = 64)
    DriverParquet.write(s, EmbOutCentroidsDir,
      StructType.fromDDL("cid INT, w ARRAY<DOUBLE>"),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c.map(_.toDouble).toSeq) })
    val assigned = SimilarityOps.centroidAssignment(emb, "vec_id",
      "embedding", cents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = assigned.groupBy("cid").agg(count(lit(1)).as("n_total"))
    CurationOps.zScoreFilter(assigned, "cid", "cos_c", maxZ = 2.0)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_kept"), rnd(sum("cos_c"), 4).as("sum_cos"))
      .join(totals, "cid")
      .select(col("cid"), col("n_total"), col("n_kept"), col("sum_cos"))
      .orderBy("cid")
  }

  /** Double-precision cosine between two embedding rows (aliases a, b). */
  private def cosSql(a: String, b: String): String =
    s"""list_dot_product($a.embedding::DOUBLE[], $b.embedding::DOUBLE[]) /
       | (sqrt(list_dot_product($a.embedding::DOUBLE[], $a.embedding::DOUBLE[])) *
       |  sqrt(list_dot_product($b.embedding::DOUBLE[], $b.embedding::DOUBLE[])))""".stripMargin
}
