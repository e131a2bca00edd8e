package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps, TextOps}
import graft.sources.Tables

/** Document deduplication queries: exact and span-level dedup, shingle
  * Jaccard, MinHash/LSH banding, SimHash, containment, survivor selection
  * and the leakage-safe splits built on them.
  */
object DedupQueries extends Family("dedup") {
  import QuerySupport._

  /** SimHash banded pair detection vs an all-pairs popcount oracle: the
    * pigeonhole banding must find EXACTLY the pairs within the Hamming
    * radius (it is lossless, unlike probabilistic LSH).
    */
  q("q_simhash_pairs",
    // All-pairs popcount mirror: banding is lossless (pigeonhole), so the
    // banded pair set must equal the brute-force Hamming filter.
      s"""WITH t AS (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, ${hash64Sql("tok")} AS h FROM t),
         |b AS (SELECT doc_id, $SimhashBitSums FROM h GROUP BY 1),
         |s AS (SELECT doc_id, CAST($SimhashPacked AS BIGINT) AS sh FROM b)
         |SELECT a.doc_id AS ia, c.doc_id AS ib,
         |  CAST(bit_count(xor(a.sh, c.sh)) AS INTEGER) AS hamming
         |FROM s a JOIN s c ON a.doc_id < c.doc_id
         |WHERE bit_count(xor(a.sh, c.sh)) <= 3
         |ORDER BY ia, ib""".stripMargin) { (s, dir) =>
    val sigs = DedupOps.simhash(Tables.documents(s, dir), "doc_id", "text")
    DedupOps.simhashPairs(sigs, "doc_id", maxHamming = 3)
      .select(col("ia"), col("ib"), col("hamming"))
      .orderBy("ia", "ib")
  }

  /** Passage-level exact dedup at 3-token granularity: per document, how
    * many of its passages repeat anywhere in the corpus (the repeated-
    * boilerplate signal paragraph dedup gates on). Hash-only shuffles.
    */
  q("q_passage_dedup",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |    md5(array_to_string(toks[(i.i*3+1):(i.i*3+3)], ' ')) AS h
        |  FROM d, LATERAL (SELECT unnest(range(CAST(floor(len(toks)/3) AS BIGINT))) AS i) i
        |  WHERE len(toks) >= 3),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_passages,
        |  CAST(sum(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |FROM c JOIN g USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    DedupOps.passageStats(Tables.documents(s, dir), "doc_id", "text", width = 3)
      .orderBy("doc_id")
  }

  /** Exact dedup (`dropDuplicates` family): canonical-content groups with
    * survivor id and copy count — one hash-groupBy, map-side combine.
    */
  q("q_exact_dedup",
      s"""SELECT md5($NormSql) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
    DedupOps.exactDupGroups(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("fp")
  }

  /** Max shingle document-frequency for the Jaccard queries (stop-shingle cut). */
  private val MaxShingleDf = 100

  /** N-gram Jaccard near-dup: sparse inverted-index join over 3-gram
    * shingles, ultra-common shingles dropped (bounds the pair blowup).
    */
  q("q_jaccard_pairs",
      s"""WITH $ShingleCte,
         |sh2 AS (SELECT s.doc_id, s.sh FROM sh s
         |        JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf) f
         |        USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |      FROM sh2 a JOIN sh2 b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT da, db, round(CAST(c AS DOUBLE) / (x.sz + y.sz - c) + 1e-9, 4) AS jac
         |FROM p JOIN sz x ON x.doc_id = p.da JOIN sz y ON y.doc_id = p.db
         |WHERE CAST(c AS DOUBLE) / (x.sz + y.sz - c) >= 0.2
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
    // persisted: the maxDocFreq stop-shingle cut references the shingle set
    // twice (df aggregate + semi-join probe side) — same discipline as
    // q_lsh_jaccard's shared set
    val sh = DedupOps.shingleSet(Tables.documents(s, dir), "doc_id", "text", ShingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    DedupOps.jaccardPairs(sh, "doc_id", 0.2, maxDocFreq = Some(MaxShingleDf))
      .select(col("da"), col("db"), rnd("jac", 4).as("jac"))
      .orderBy("da", "db")
  }

  /** The composed scale path: LSH band candidates → Jaccard verification —
    * the O(n²)-free near-dup pipeline end to end.
    */
  q("q_lsh_jaccard",
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM band a JOIN band b USING (band, bk) WHERE a.doc_id < b.doc_id),
         |sh2 AS (SELECT s.doc_id, s.sh FROM sh s
         |        JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf) f
         |        USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |      FROM sh2 a JOIN sh2 b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pc AS (SELECT p.* FROM p JOIN cand USING (da, db))
         |SELECT da, db, round(CAST(c AS DOUBLE) / (x.sz + y.sz - c) + 1e-9, 4) AS jac
         |FROM pc JOIN sz x ON x.doc_id = pc.da JOIN sz y ON y.doc_id = pc.db
         |WHERE CAST(c AS DOUBLE) / (x.sz + y.sz - c) >= 0.2
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
    // one shared, persisted shingle set feeds both the LSH and verify tiers
    val sh = DedupOps.shingleSet(Tables.documents(s, dir), "doc_id", "text", ShingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = DedupOps.bandPairs(DedupOps.minhashSignatures(sh, "doc_id"), "doc_id")
    DedupOps.jaccardPairs(sh, "doc_id", 0.2, candidates = Some(cands),
      maxDocFreq = Some(MaxShingleDf))
      .select(col("da"), col("db"), rnd("jac", 4).as("jac"))
      .orderBy("da", "db")
  }

  /** MinHash signatures: 16 permutation minima per doc, one aggregation pass. */
  q("q_minhash_signatures",
      s"""WITH $SigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    DedupOps.minhashSignatures(
      DedupOps.shingleSet(Tables.documents(s, dir), "doc_id", "text", ShingleK),
      "doc_id")
      .orderBy("doc_id")
  }

  /** LSH banding: candidate pairs sharing any (band, band-key) bucket — the
    * O(n²)-avoiding near-dup scale path.
    */
  q("q_lsh_band_pairs",
      s"""WITH $SigCte,
         |band AS ($BandUnion)
         |SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |FROM band a JOIN band b USING (band, bk)
         |WHERE a.doc_id < b.doc_id ORDER BY da, db""".stripMargin) { (s, dir) =>
    DedupOps.bandPairs(
      DedupOps.minhashSignatures(
        DedupOps.shingleSet(Tables.documents(s, dir), "doc_id", "text", ShingleK),
        "doc_id"),
      "doc_id")
      .orderBy("da", "db")
  }

  /** SimHash 32-bit fingerprints: per-bit weighted sums packed to a long. */
  q("q_simhash",
      s"""WITH t AS (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |h AS (SELECT doc_id, ${hash64Sql("tok")} AS h FROM t),
         |b AS (SELECT doc_id, $SimhashBitSums FROM h GROUP BY 1)
         |SELECT doc_id, CAST($SimhashPacked AS BIGINT) AS simhash FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    DedupOps.simhash(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Cross-source n-gram decontamination report: per source pair, the
    * shared 5-gram shingle hashes and the contaminated document counts on
    * each side (k = 5 because the synthetic corpus has a tiny vocabulary;
    * published setups use 8–13 on natural text).
    */
  q("q_decontaminate",
    // 5-gram shingle hashes rebuilt with the shared md5 mirror; the join
    // fan is bounded by the source count on both engines.
      s"""WITH ws AS (SELECT doc_id, source, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |pos AS (SELECT doc_id, source, w,
         |    unnest(generate_series(1, len(w) - 4)) AS i
         |  FROM ws WHERE len(w) >= 5),
         |sh AS (SELECT DISTINCT doc_id, source,
         |    ${hash64Sql("array_to_string(w[i:i+4], ' ')")} AS h
         |  FROM pos),
         |ss AS (SELECT DISTINCT source, h FROM sh),
         |shared AS (SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(count(DISTINCT a.h) AS BIGINT) AS n_shared_shingles
         |  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |cont AS (SELECT s.source AS src_a, t.source AS src_b, s.doc_id
         |  FROM sh s JOIN ss t ON s.h = t.h AND s.source <> t.source),
         |cd AS (SELECT src_a, src_b, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM cont GROUP BY 1, 2)
         |SELECT sp.src_a, sp.src_b, sp.n_shared_shingles,
         |  ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b
         |FROM shared sp
         |JOIN cd ca ON ca.src_a = sp.src_a AND ca.src_b = sp.src_b
         |JOIN cd cb ON cb.src_a = sp.src_b AND cb.src_b = sp.src_a
         |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    DedupOps.crossSourceOverlap(Tables.documents(s, dir), "doc_id", "text",
      "source", k = 5)
      .orderBy("src_a", "src_b")
  }

  /** Cross-document duplicated-span coverage (RefinedWeb/C4-style dup
    * n-gram fraction): per doc, the share of its 5-gram positions whose
    * shingle occurs in at least one OTHER document — corpus-internal
    * boilerplate, distinct from within-doc repetition (q_repetition) and
    * cross-source leakage (q_decontaminate).
    */
  q("q_dup_spans",
    // Per-POSITION 5-gram hashes (no distinct — coverage counts slots);
    // the doc frequency joins back on the hash, dup means df > 1.
      s"""WITH ws AS (SELECT doc_id, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |pos AS (SELECT doc_id,
         |    ${hash64Sql("array_to_string(w[i:i+4], ' ')")} AS h
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
         |        FROM ws WHERE len(w) >= 5) t),
         |dfq AS (SELECT h, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1),
         |cov AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN d.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM pos p JOIN dfq d ON d.h = p.h GROUP BY 1)
         |SELECT doc_id, n_spans, n_dup,
         |  round(CAST(n_dup AS DOUBLE) / n_spans + 1e-9, 4) AS dup_frac
         |FROM cov ORDER BY doc_id""".stripMargin) { (s, dir) =>
    DedupOps.dupSpanCoverage(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("n_spans"), col("n_dup"),
        rnd("dup_frac", 4).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Exact-substring span removal gate: the cleaned text's md5 is the
    * strongest possible check — the oracle rebuilds every document's
    * surviving token stream (window-max coverage over 1-based positions,
    * in-order concat) and a single off-by-one in the coverage window or
    * concat order changes the hash.
    */
  q("q_dup_span_removal",
    // Span-removal mirror: same 5-gram df, dup start flags windowed over
    // dense 1-based positions (ROWS 4 PRECEDING), surviving tokens
    // re-concatenated in order — the md5 pins the full cleaned text.
      s"""WITH ws AS (SELECT doc_id, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |tok AS (SELECT doc_id, w[t.i] AS tok, t.i AS i
         |  FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
         |st AS (SELECT doc_id, i,
         |    ${hash64Sql("array_to_string(w[i:i+4], ' ')")} AS h
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i
         |        FROM ws WHERE len(w) >= 5) t),
         |dfq AS (SELECT h, count(DISTINCT doc_id) AS df FROM st GROUP BY 1),
         |ds AS (SELECT doc_id, i, CASE WHEN df > 1 THEN 1 ELSE 0 END AS dup
         |  FROM st JOIN dfq USING (h)),
         |m AS (SELECT t.doc_id, t.i, t.tok, coalesce(ds.dup, 0) AS dup
         |  FROM tok t LEFT JOIN ds ON ds.doc_id = t.doc_id AND ds.i = t.i),
         |cov AS (SELECT doc_id, i, tok,
         |    max(dup) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
         |  FROM m)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(c) AS BIGINT) AS n_removed,
         |  md5(coalesce(string_agg(CASE WHEN c = 0 THEN tok END, ' ' ORDER BY i), ''))
         |    AS clean_md5
         |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    DedupOps.removeDupSpans(Tables.documents(s, dir), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("clean_text").cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking gate: boundary rule, chunk reassembly, and
    * corpus-wide chunk dedup all recomputed by the oracle; the per-chunk
    * md5 means a boundary off by one token changes the gated hashes.
    */
  q("q_cdc_chunks",
    // CDC mirror: 1-based end positions carry the boundary flags, the
    // cumulative window closes chunks, chunk md5s and the corpus dedup
    // join are rebuilt from scratch.
      s"""WITH ws AS (SELECT doc_id, string_split($NormSql, ' ') AS w
         |  FROM documents),
         |nz AS (SELECT * FROM ws WHERE len(w) > 0),
         |ends AS (SELECT doc_id, i + 2 AS p,
         |    CASE WHEN ${hash64Sql("array_to_string(w[i:i+2], ' ')")} % 8 = 0
         |         THEN 1 ELSE 0 END AS flag
         |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
         |        FROM nz WHERE len(w) >= 3) t),
         |tok AS (SELECT doc_id, w[t.i] AS tok, t.i AS p
         |  FROM nz, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
         |m AS (SELECT t.doc_id, t.p, t.tok, coalesce(e.flag, 0) AS flag
         |  FROM tok t LEFT JOIN ends e ON e.doc_id = t.doc_id AND e.p = t.p),
         |c AS (SELECT doc_id, p, tok,
         |    coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
         |  FROM m),
         |ch AS (SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_tokens,
         |    md5(string_agg(tok, ' ' ORDER BY p)) AS h
         |  FROM c GROUP BY 1, 2),
         |fr AS (SELECT h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_chunk,
         |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
         |FROM ch JOIN fr USING (h) GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val chunks = TextOps.cdcChunks(Tables.documents(s, dir), "doc_id", "text",
      w = 3, mod = 8)
    val freq = chunks.groupBy("chunk_md5")
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks.join(freq, "chunk_md5")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("n_tokens").as("n_tokens"),
        max("n_tokens").as("max_chunk"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** Document fingerprints: canonical-content md5 per doc. */
  q("q_doc_fingerprints",
      s"""SELECT doc_id, md5($NormSql) AS fp FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.fingerprints(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Edit-distance verification tier over the LSH band candidates: the
    * strictest near-dup confirmation (character-level Levenshtein
    * similarity), candidate-driven like the Jaccard tier. Both engines
    * compute unit-cost Levenshtein natively, so the oracle checks the
    * whole band→verify composition.
    */
  q("q_edit_verify",
    // Band candidates rebuilt from the shared signature CTEs, then DuckDB's
    // native levenshtein confirms — both engines implement unit-cost edit
    // distance, so distances (and the derived similarity) match exactly.
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM band a JOIN band b USING (band, bk)
         |  WHERE a.doc_id < b.doc_id),
         |v AS (SELECT cand.da, cand.db,
         |    levenshtein(x.text, y.text) AS lev,
         |    1.0 - CAST(levenshtein(x.text, y.text) AS DOUBLE)
         |      / greatest(length(x.text), length(y.text)) AS es
         |  FROM cand JOIN documents x ON cand.da = x.doc_id
         |    JOIN documents y ON cand.db = y.doc_id)
         |SELECT da, db, CAST(lev AS INT) AS lev,
         |  round(es + 1e-9, 6) AS edit_sim
         |FROM v WHERE es >= 0.4 ORDER BY da, db""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val cands = DedupOps.bandPairs(
      DedupOps.minhashSignatures(
        DedupOps.shingleSet(docs, "doc_id", "text", ShingleK), "doc_id"),
      "doc_id")
    DedupOps.editDistanceVerify(docs, "doc_id", "text", cands, minSim = 0.4)
      .orderBy("da", "db")
  }

  /** Corpus snapshot diff gate: snapshot B is the documents table with
    * every 17th doc dropped, every 13th rewritten, and a shifted-id copy
    * of every 19th added; [[graft.operators.CurationOps.corpusDiff]]
    * classifies ids into added/removed/changed/unchanged and the oracle
    * rebuilds both snapshots and the classification in SQL.
    */
  q("q_corpus_diff",
    // Both snapshots rebuilt from the documents table; the classification
    // is one full-outer fingerprint compare.
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 19 = 0),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |    md5(a.text) AS ha, md5(b.text) AS hb
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ha IS NULL THEN 'added'
        |       WHEN hb IS NULL THEN 'removed'
        |       WHEN ha <> hb THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val a = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val b = a.filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(a.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    CurationOps.corpusDiff(a, b, "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Incremental-dedup gate: odd doc ids arrive as the INCOMING batch,
    * even ids are the standing index;
    * [[graft.operators.DedupOps.incrementalDedup]] classifies each
    * incoming doc exact/near/novel with its matching index id. The oracle
    * recomputes fingerprints, the cross-side band probe, and the
    * candidate-restricted shingle Jaccard from the shared signature CTEs
    * (a doc's signature is side-independent, so the corpus-wide CTEs
    * restrict by parity at the joins).
    */
  q("q_incremental_dedup",
    // Fingerprints, cross-side band probe, and candidate-restricted
    // Jaccard all recomputed; sides split by id parity at the joins.
      s"""WITH $SigCte,
         |band AS ($BandUnion),
         |cp AS (SELECT doc_id + 500000 AS doc_id, doc_id AS src
         |  FROM documents WHERE doc_id % 50 = 0),
         |nw AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id FROM cp),
         |fp AS (SELECT doc_id, md5($NormSql) AS f FROM documents),
         |ex AS (SELECT n.doc_id, min(o.doc_id) AS m
         |  FROM fp n JOIN fp o ON n.f = o.f
         |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0 GROUP BY 1
         |  UNION ALL
         |  SELECT cp.doc_id, min(o.doc_id)
         |  FROM cp JOIN fp s ON s.doc_id = cp.src
         |    JOIN fp o ON o.f = s.f AND o.doc_id % 2 = 0 GROUP BY 1),
         |cand AS (SELECT DISTINCT a.doc_id AS dn, b.doc_id AS dod
         |  FROM band a JOIN band b USING (band, bk)
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |cm AS (SELECT a.doc_id AS dn, b.doc_id AS dod, count(*) AS c
         |  FROM sh a JOIN sh b ON a.sh = b.sh
         |  JOIN cand ON cand.dn = a.doc_id AND cand.dod = b.doc_id
         |  GROUP BY 1, 2),
         |near AS (SELECT dn AS doc_id, min(dod) AS m
         |  FROM cm JOIN sz sa ON sa.doc_id = cm.dn
         |    JOIN sz sb ON sb.doc_id = cm.dod
         |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5 GROUP BY 1)
         |SELECT nw.doc_id,
         |  CASE WHEN ex.m IS NOT NULL THEN 'exact'
         |       WHEN near.m IS NOT NULL THEN 'near'
         |       ELSE 'novel' END AS verdict,
         |  coalesce(ex.m, near.m) AS match_id
         |FROM nw LEFT JOIN ex USING (doc_id) LEFT JOIN near USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // the incoming batch = odd docs + re-ingested copies of every 50th
    // index doc under shifted ids, so the exact tier fires too
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
    DedupOps.incrementalDedup(
      docs.filter(col("doc_id") % 2 === 0), incoming,
      "doc_id", "text", ShingleK, tau = 0.5)
      .orderBy("doc_id")
  }

  /** Deterministic split assignment (train 90 / val 5 / test 5): a pure
    * row function of the id's md5 bucket, so the oracle replays every
    * assignment exactly — the stability property that prevents cross-
    * release train/test leakage.
    */
  q("q_assign_splits",
    // Same 60-bit md5 bucket as the samplers; cumulative boundaries
    // 9000/9500/10000.
      """SELECT doc_id,
        |  CASE WHEN b < 9000 THEN 'train'
        |       WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 10000 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CurationOps.assignSplits(Tables.documents(s, dir), "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")
  }

  /** Leakage-safe splits over the REAL near-dup structure: LSH→Jaccard
    * pairs (the q_lsh_jaccard gate at τ=0.5) resolve to components, and
    * the split hashes the component — cluster members land in one split
    * by construction. The oracle replays pairs, the recursive-CTE
    * component walk, and the md5 component split.
    */
  q("q_leakage_safe_splits",
    // Leakage-guard mirror: the q_lsh_jaccard candidate+verify chain at
    // τ=0.5, min-label components via the recursive walk, then the
    // q_assign_splits md5 bucket convention applied to the COMPONENT.
      s"""WITH RECURSIVE $SigCte,
         |band AS ($BandUnion),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM band a JOIN band b USING (band, bk) WHERE a.doc_id < b.doc_id),
         |sh2 AS (SELECT s.doc_id, s.sh FROM sh s
         |        JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf) f
         |        USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |      FROM sh2 a JOIN sh2 b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pc AS (SELECT p.* FROM p JOIN cand USING (da, db)),
         |ed AS (SELECT da, db FROM pc
         |  JOIN sz x ON x.doc_id = pc.da JOIN sz y ON y.doc_id = pc.db
         |  WHERE CAST(c AS DOUBLE) / (x.sz + y.sz - c) >= 0.5),
         |sym(a, b) AS (SELECT da, db FROM ed UNION SELECT db, da FROM ed),
         |walk(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
         |comp AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
         |  FROM walk GROUP BY 1)
         |SELECT doc_id, component,
         |  CASE WHEN b < 9000 THEN 'train'
         |       WHEN b < 9500 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id, component,
         |    CAST('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15) AS BIGINT)
         |      % 10000 AS b
         |  FROM comp)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // one shared, persisted shingle set feeds both the LSH and verify tiers
    val shingles = DedupOps.shingleSet(docs, "doc_id", "text", ShingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = DedupOps.jaccardPairs(shingles, "doc_id", tau = 0.5,
      candidates = Some(DedupOps.bandPairs(
        DedupOps.minhashSignatures(shingles, "doc_id"), "doc_id")),
      maxDocFreq = Some(MaxShingleDf))
      .select(col("da"), col("db"))
    CurationOps.leakageSafeSplits(docs, "doc_id", pairs,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("component"), col("split"))
      .orderBy("doc_id")
  }

  /** Asymmetric containment (|A∩B|/|A| ≥ 0.8, directed): the subsumption
    * pairs Jaccard misses; same stop-shingle cut as the Jaccard gate.
    */
  q("q_containment",
    // The jaccard mirror's inverted-index join with per-SIDE (|A|)
    // normalization and directed pairs.
      s"""WITH $ShingleCte,
         |sh2 AS (SELECT s.doc_id, s.sh FROM sh s
         |        JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf) f
         |        USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |      FROM sh2 a JOIN sh2 b USING (sh)
         |      WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
         |SELECT da, db, round(CAST(c AS DOUBLE) / x.sz + 1e-9, 4) AS containment
         |FROM p JOIN sz x ON x.doc_id = p.da
         |WHERE CAST(c AS DOUBLE) / x.sz >= 0.8
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
    DedupOps.containmentPairs(
      // persisted: the stop-shingle cut + sizes + both join sides all
      // reference the shingle set (q_lsh_jaccard discipline)
      DedupOps.shingleSet(Tables.documents(s, dir), "doc_id", "text", ShingleK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      "doc_id", tau = 0.8, maxDocFreq = Some(MaxShingleDf))
      .orderBy("da", "db")
  }

  /** Quality-based dedup survivor gate: LSH-banded Jaccard pairs (τ=0.5)
    * resolved into components, survivor = LONGEST doc per component
    * (min-id tie-break) via
    * [[graft.operators.DedupOps.resolveClustersBest]]. The oracle walks
    * the same pair graph with a recursive CTE and replays the argmax.
    */
  q("q_keep_best",
    // The pair graph from the shared jaccard CTEs at tau 0.5, components
    // via the recursive walk, survivor = argmax(n_chars, min id).
      s"""WITH RECURSIVE $SigCte,
         |band AS ($BandUnion),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM band a JOIN band b USING (band, bk) WHERE a.doc_id < b.doc_id),
         |sh2 AS (SELECT s.doc_id, s.sh FROM sh s
         |        JOIN (SELECT sh FROM sh GROUP BY 1 HAVING count(*) <= $MaxShingleDf) f
         |        USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1),
         |p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |      FROM sh2 a JOIN sh2 b USING (sh) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |e AS (SELECT p.da, p.db FROM p JOIN cand USING (da, db)
         |      JOIN sz x ON x.doc_id = p.da JOIN sz y ON y.doc_id = p.db
         |      WHERE CAST(c AS DOUBLE) / (x.sz + y.sz - c) >= 0.5),
         |sym(a, b) AS (SELECT da, db FROM e UNION SELECT db, da FROM e),
         |walk(node, label) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
         |cc AS (SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS component
         |  FROM walk GROUP BY 1)
         |SELECT cc.doc_id, cc.component, d.n_chars,
         |  row_number() OVER (PARTITION BY cc.component
         |    ORDER BY d.n_chars DESC, cc.doc_id) = 1 AS is_survivor
         |FROM cc JOIN documents d USING (doc_id) ORDER BY cc.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    // one shared, persisted shingle set feeds both the LSH and verify tiers
    val shingles = DedupOps.shingleSet(docs, "doc_id", "text", ShingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = DedupOps.jaccardPairs(shingles, "doc_id", tau = 0.5,
      candidates = Some(DedupOps.bandPairs(
        DedupOps.minhashSignatures(shingles, "doc_id"), "doc_id")),
      maxDocFreq = Some(MaxShingleDf))
      .select(col("da"), col("db"))
    DedupOps.resolveClustersBest(
      docs.select(col("doc_id"), col("n_chars")), "doc_id", pairs, "n_chars")
      .select(col("doc_id"), col("component"), col("n_chars"), col("is_survivor"))
      .orderBy("doc_id")
  }

  // 64-bit simhash mirror (matches DedupOps.simhash's default width; the
  // 60-bit hash leaves bits 60-63 structurally zero on both sides)
  private val SimhashBitSums = (0 until 64).map { j =>
    s"sum(((h >> $j) & 1) * 2 - 1) AS b_$j"
  }.mkString(", ")
  private val SimhashPacked = (0 until 64).map { j =>
    s"(CASE WHEN b_$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
  }.mkString(" + ")
}
