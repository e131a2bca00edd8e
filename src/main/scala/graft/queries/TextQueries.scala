package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.DriverParquet
import graft.functions.Text
import graft.operators.{CurationOps, DedupOps, StatsOps, TextOps}
import graft.sinks.TarSink
import graft.sources.Tables

/** Text-curation queries over the documents table: tokenizers (BPE,
  * unigram, WordPiece), language models and language ID, quality and
  * rule-based gates, PII/secret scans, normalization and retrieval.
  */
object TextQueries extends Family("text") {
  import QuerySupport._

  /** Quality gate over `qualityFeatures`: thresholds compare exact rationals
    * (int/int divisions), so the kept set is engine-stable without rounding.
    */
  q("q_quality_gate",
    // Same feature pipeline as q_text_quality, gated: thresholds compare
    // exact int/int rationals, so the kept set is engine-stable unrounded.
      s"""WITH f AS (SELECT doc_id, length(text) AS n_chars,
         |    len(string_split($NormSql, ' ')) AS n_tokens,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("en")}')) AS n_stop,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
         |  FROM documents),
         |g AS (SELECT doc_id, n_chars, n_tokens, n_stop,
         |    CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS atl,
         |    CAST(n_stop AS DOUBLE) / n_tokens AS sr,
         |    CAST(n_digit AS DOUBLE) / n_chars AS dr
         |  FROM f)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(sr + 1e-9, 4) AS stop_ratio, round(dr + 1e-9, 4) AS digit_ratio,
         |  round(least(1.0, greatest(0.0, 0.2 + sr * 2.0 + atl * 0.05 - dr * 3.0)) + 1e-9, 4)
         |    AS quality_score
         |FROM g WHERE n_tokens >= 20 AND sr >= 0.02 AND dr <= 0.1
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.CurationOps.qualityGate(
      TextOps.qualityFeatures(Tables.documents(s, dir), "doc_id", "text"),
      minTokens = 20, minStopRatio = 0.02, maxDigitRatio = 0.1)
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        rnd("stop_ratio", 4).as("stop_ratio"),
        rnd("digit_ratio", 4).as("digit_ratio"),
        rnd("quality_score", 4).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Secret scanning over documents salted with synthetic credentials
    * (a high-entropy 68-char mixed-case key for every 7th doc, a
    * zero-entropy 30-char filler for every 11th): candidate census,
    * entropy-gated secret count, and the max rounded entropy — the
    * oracle rebuilds the same salted text and replays candidates,
    * per-occurrence character entropy, and the gate.
    */
  q("q_secret_scan",
    // Secret-scan mirror: the same salted text, candidates, per-
    // occurrence character entropy (nats), and the rounded gate.
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' key_' ||
        |      md5(CAST(doc_id AS VARCHAR)) ||
        |      upper(md5(CAST(doc_id + 1 AS VARCHAR))) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ' || repeat('a', 30)
        |      ELSE '' END AS text
        |  FROM documents),
        |cand AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[A-Za-z0-9+/=_-]{20,}')) AS c
        |  FROM d),
        |cr AS (SELECT doc_id, c, row_number() OVER () AS cid FROM cand),
        |ch AS (SELECT doc_id, cid,
        |    unnest(regexp_extract_all(c, '.')) AS chr FROM cr),
        |cc AS (SELECT doc_id, cid, chr, CAST(count(*) AS BIGINT) AS n
        |  FROM ch GROUP BY 1, 2, 3),
        |he AS (SELECT doc_id, cid, CAST(sum(n) AS BIGINT) AS L,
        |    -sum(n * ln(CAST(n AS DOUBLE))) AS sclogc
        |  FROM cc GROUP BY 1, 2),
        |hr AS (SELECT doc_id,
        |    round(ln(CAST(L AS DOUBLE)) + sclogc / L + 1e-9, 4) AS h
        |  FROM he),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN h >= 2.8 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_secrets,
        |    max(h) AS max_entropy
        |  FROM hr GROUP BY 1)
        |SELECT d2.doc_id, coalesce(a.n_candidates, 0) AS n_candidates,
        |  coalesce(a.n_secrets, 0) AS n_secrets,
        |  coalesce(a.max_entropy, 0.0) AS max_entropy
        |FROM documents d2 LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val salted = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" key_"), md5(col("doc_id").cast("string")),
            upper(md5((col("doc_id") + 1).cast("string")))))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" "), lit("a" * 30)))
          .otherwise(lit(""))).as("text"))
    TextOps.secretScan(salted, "doc_id", "text", minEntropy = 2.8)
      .orderBy("doc_id")
  }

  /** Luhn-gated card scan over documents salted with known fixtures:
    * every 7th doc a valid spaced Visa-format number, every 11th an
    * off-by-one INVALID dashed variant, every 13th a valid 15-digit
    * (odd-length — the parity branch). Letter-wrapped salts keep the
    * fixtures out of accidental digit runs in the surrounding text;
    * both engines run the identical regex + checksum over the same
    * salted text, so natural candidates in the corpus census match too.
    */
  q("q_luhn_cards",
    // Luhn mirror: identical salts, identical candidate regex, and the
    // checksum replayed as a list comprehension — double every second
    // digit from the right ((len-i)%2=1 in 1-based left order), fold >9
    // by subtracting 9, valid iff the sum ≡ 0 mod 10.
      """WITH sal AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' card 4539 5787 6362 1486 ok'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ref 4539-5787-6362-1487.'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' pay 378282246310005 now'
        |      ELSE '' END AS t
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    unnest(regexp_extract_all(t, '[0-9](?:[ -]?[0-9]){12,18}')) AS m
        |  FROM sal),
        |g AS (SELECT doc_id, regexp_replace(m, '[^0-9]', '', 'g') AS dg FROM c),
        |v AS (SELECT doc_id, dg,
        |    (list_sum([CASE WHEN (len(dg) - i) % 2 = 1 THEN
        |         CASE WHEN 2 * CAST(dg[i] AS INT) > 9
        |              THEN 2 * CAST(dg[i] AS INT) - 9
        |              ELSE 2 * CAST(dg[i] AS INT) END
        |       ELSE CAST(dg[i] AS INT) END
        |       FOR i IN range(1, len(dg) + 1)]) % 10 = 0) AS ok
        |  FROM g),
        |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |    max(CASE WHEN ok THEN substr(dg, len(dg) - 3, 4) END) AS valid_last4
        |  FROM v GROUP BY 1)
        |SELECT s.doc_id, coalesce(a.n_candidates, 0) AS n_candidates,
        |  coalesce(a.n_valid, 0) AS n_valid, a.valid_last4
        |FROM sal s LEFT JOIN a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val salted = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" card 4539 5787 6362 1486 ok"))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" ref 4539-5787-6362-1487."))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" pay 378282246310005 now"))
          .otherwise(lit(""))).as("text"))
    TextOps.luhnScan(salted, "doc_id", "text").orderBy("doc_id")
  }

  /** Zipf rank-frequency slope over the corpus's top-100 tokens: the
    * oracle replays the census, the (freq desc, token) rank order, and
    * the identical closed-form OLS algebra, so the fit matches at the
    * rounded boundary.
    */
  q("q_zipf_slope",
    // Zipf mirror: identical census, (freq DESC, token) ranks, and the
    // same closed-form OLS sums — slope/intercept/R² of ln(freq) on
    // ln(rank) over the top-100 tokens.
      s"""WITH tk AS (SELECT unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |t2 AS (SELECT tok FROM tk WHERE tok <> ''),
         |cen AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
         |  FROM t2 GROUP BY 1),
         |top AS (SELECT tok, c FROM cen ORDER BY c DESC, tok LIMIT 100),
         |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
         |  FROM top),
         |p AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
         |    ln(CAST(c AS DOUBLE)) AS y FROM rk),
         |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
         |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
         |    sum(y * y) AS syy FROM p)
         |SELECT CAST(n AS BIGINT) AS n,
         |  round((n * sxy - sx * sy) / (n * sxx - sx * sx) + 1e-9, 4)
         |    AS slope_r,
         |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
         |    + 1e-9, 4) AS intercept_r,
         |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
         |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)) + 1e-9, 4)
         |    AS r2_r
         |FROM m""".stripMargin) { (s, dir) =>
    TextOps.zipfSlope(Tables.documents(s, dir), "text", topN = 100)
      .select(col("n"), rnd("slope", 4).as("slope_r"),
        rnd("intercept", 4).as("intercept_r"), rnd("r2", 4).as("r2_r"))
  }

  /** Blocklist gate over three terms that occur naturally in the corpus
    * (no salting needed — the filter is exercised by real text); docs
    * with more than two total hits fail.
    */
  q("q_blocklist",
    // Blocklist mirror: the identical word-boundary alternation under
    // RE2 over the same canonical form; pass = at most two total hits.
      s"""SELECT doc_id, CAST(len(h) AS BIGINT) AS n_hits,
         |  CAST(len(list_distinct(h)) AS BIGINT) AS n_terms,
         |  len(h) <= 2 AS pass
         |FROM (SELECT doc_id,
         |    regexp_extract_all($NormSql, '\\b(slow|dup|stream)\\b', 1) AS h
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.blocklistScan(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("slow", "dup", "stream"), maxHits = 2)
      .orderBy("doc_id")
  }

  /** PII-style redaction census: md5 of scrubbed text + replacement counts. */
  q("q_redact", {
      val r = graft.operators.CurationOps.redactions
      val scrub = r.foldLeft("text") { case (acc, (pat, rep)) =>
        s"regexp_replace($acc, '$pat', '$rep', 'g')"
      }
      s"""SELECT doc_id, md5($scrub) AS clean_md5,
         |  CAST(length(text) - length($scrub) AS BIGINT) AS chars_removed
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    import graft.operators.CurationOps
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(CurationOps.redact(col("text"))).as("clean_md5"),
        (length(col("text")) - length(CurationOps.redact(col("text"))))
          .cast("long").as("chars_removed"))
      .orderBy("doc_id")
  }

  /** Number of BPE merges the corpus-trained tokenizer learns — small
    * enough that common words stay multi-token (the encode keeps real
    * dynamic range for budget/packing), large enough to compress ~2.5×
    * over characters on the synthetic vocabulary.
    */
  private val BpeNumMerges = 40

  /** Shared BPE front-end for every token-accounting query: train the
    * merges on the corpus (driver-side, vocabulary-bounded), materialize
    * them for the oracle's recursive-CTE mirror, and return the
    * distributed per-document encode (n_pretokens, n_bpe_tokens,
    * bpe_tokens).
    */
  private def bpeCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val merges = TextOps.trainBpe(docs, "text", BpeNumMerges)
    DriverParquet.write(s, BpeMergesDir,
      StructType.fromDDL("rank INT, lhs STRING, rhs STRING"),
      merges.zipWithIndex.map { case ((l, r), i) => Seq(i, l, r) })
    TextOps.bpeEncode(docs, "doc_id", "text", merges)
  }

  /** Real-BPE encode gate: per document — pre-token count, merges-table
    * BPE token count, and the md5 of the full token stream. The DuckDB
    * oracle re-runs the ENCODE itself (recursive CTE over the materialized
    * merges: leftmost lowest-rank pair per step), so the distributed typed
    * map is checked against an independent implementation of the same
    * published algorithm — not against a precomputed answer.
    */
  q("q_bpe_encode",
    // Full BPE-encode mirror: DuckDB re-runs the encode itself (recursive
    // CTE over the materialized merges), then hashes the rebuilt stream.
      s"""WITH RECURSIVE $bpeCtes
         |SELECT doc_id, n_pretokens, n_bpe_tokens,
         |  md5(array_to_string(toks, ' ')) AS tok_md5
         |FROM doc_bpe ORDER BY doc_id""".stripMargin) { (s, dir) =>
    bpeCounts(s, dir)
      .select(col("doc_id"), col("n_pretokens"), col("n_bpe_tokens"),
        md5(concat_ws(" ", col("bpe_tokens"))).as("tok_md5"))
      .orderBy("doc_id")
  }

  /** Unigram-LM (SentencePiece-family) Viterbi tokenization gate: per
    * document — pre-token count, the optimal segmentation's total score,
    * and its piece count under the corpus n-gram vocabulary with exact
    * integer scores s(p) = |p|² + ⌊log₂ count(p)⌋. The oracle recomputes
    * the VOCAB from scratch and replays the DP by exhaustive path
    * enumeration (max score, then min pieces) — an independent algorithm
    * against the distributed Viterbi.
    */
  q("q_unigram_tokenize",
    // Unigram mirror: vocabulary recomputed from scratch (n-gram census
    // over distinct pre-token words, integer |p|² + ⌊log₂ c⌋ scores) and
    // the Viterbi replayed by exhaustive path enumeration with the same
    // (max score, min pieces) total order.
    {
      val ilog2 = (40 to 1 by -1)
        .map(b => s"WHEN count(*) >= ${1L << b} THEN $b").mkString(" ")
      s"""WITH RECURSIVE
         |words AS (SELECT DISTINCT unnest(regexp_extract_all(text,
         |    '${Text.BpePattern}')) AS w FROM documents),
         |occ AS (SELECT substr(w, CAST(t.i AS INT), n) AS piece
         |  FROM words,
         |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t,
         |    (SELECT unnest([1, 2, 3, 4]) AS n) nn
         |  WHERE t.i + n - 1 <= len(w)),
         |vocab AS (SELECT piece,
         |    CAST(len(piece) * len(piece) + CASE $ilog2 ELSE 0 END AS BIGINT) AS s
         |  FROM occ GROUP BY piece),
         |paths(w, j, score, np) AS (
         |  SELECT w, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM words
         |  UNION
         |  SELECT p.w, p.j + len(v.piece), p.score + v.s, p.np + 1
         |  FROM paths p JOIN vocab v
         |    ON substr(p.w, CAST(p.j + 1 AS INT), CAST(len(v.piece) AS INT)) = v.piece
         |  WHERE p.j < len(p.w)),
         |best AS (SELECT w, score, np FROM (
         |  SELECT w, score, np,
         |    row_number() OVER (PARTITION BY w ORDER BY score DESC, np ASC) AS rn
         |  FROM paths WHERE j = len(w)) WHERE rn = 1),
         |dw AS (SELECT doc_id, ws[CAST(t.i AS INT)] AS w
         |  FROM (SELECT doc_id, regexp_extract_all(text, '${Text.BpePattern}') AS ws
         |        FROM documents) d,
         |  LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
         |    CAST(sum(b.score) AS BIGINT) AS total_score,
         |    CAST(sum(b.np) AS BIGINT) AS n_pieces
         |  FROM dw JOIN best b USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_pretokens, 0) AS n_pretokens,
         |  coalesce(a.total_score, 0) AS total_score,
         |  coalesce(a.n_pieces, 0) AS n_pieces
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val vocab = TextOps.unigramVocab(docs, "text", maxN = 4)
    TextOps.unigramEncode(docs, "doc_id", "text", vocab, maxN = 4)
      .orderBy("doc_id")
  }

  /** WordPiece greedy longest-match gate: per document — pre-token,
    * piece, and UNK counts under the corpus position-classed n-gram
    * vocabulary. The oracle replays the greedy walk in a recursive CTE
    * (longest matching piece per step via a correlated max — the BPE
    * oracle's scalar-subquery device).
    */
  q("q_wordpiece_tokenize",
    // WordPiece mirror: vocabulary recomputed from scratch (position-
    // classed n-grams) and the greedy walk replayed in a recursive CTE,
    // longest match per step via a correlated max.
      s"""WITH RECURSIVE
         |words AS (SELECT DISTINCT unnest(regexp_extract_all(text,
         |    '${Text.BpePattern}')) AS w FROM documents),
         |vocab AS (SELECT DISTINCT
         |    CASE WHEN CAST(t.i AS INT) > 1 THEN '##' ELSE '' END
         |      || substr(w, CAST(t.i AS INT), n) AS piece
         |  FROM words,
         |    LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t,
         |    (SELECT unnest([1, 2, 3, 4]) AS n) nn
         |  WHERE t.i + n - 1 <= len(w)),
         |walk(w, pos, ntok, unk) AS (
         |  SELECT w, 0, CAST(0 AS BIGINT), FALSE FROM words
         |  UNION ALL
         |  SELECT w, CASE WHEN ml IS NULL THEN len(w) ELSE pos + ml END,
         |    CASE WHEN ml IS NULL THEN CAST(1 AS BIGINT) ELSE ntok + 1 END,
         |    ml IS NULL
         |  FROM (
         |    SELECT w, pos, ntok,
         |      (SELECT max(n) FROM (SELECT unnest([1, 2, 3, 4]) AS n) t
         |       JOIN vocab v ON v.piece =
         |         (CASE WHEN pos > 0 THEN '##' ELSE '' END)
         |           || substr(w, CAST(pos + 1 AS INT), CAST(n AS INT))
         |       WHERE pos + n <= len(w)) AS ml
         |    FROM walk WHERE pos < len(w) AND NOT unk)),
         |fin AS (SELECT w, ntok, CASE WHEN unk THEN 1 ELSE 0 END AS u
         |  FROM walk WHERE pos = len(w)),
         |dw AS (SELECT doc_id, ws[CAST(t.i AS INT)] AS w
         |  FROM (SELECT doc_id, regexp_extract_all(text, '${Text.BpePattern}') AS ws
         |        FROM documents) d,
         |  LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i) t),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
         |    CAST(sum(f.ntok) AS BIGINT) AS n_wp_tokens,
         |    CAST(sum(f.u) AS BIGINT) AS n_unk
         |  FROM dw JOIN fin f USING (w) GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_pretokens, 0) AS n_pretokens,
         |  coalesce(a.n_wp_tokens, 0) AS n_wp_tokens,
         |  coalesce(a.n_unk, 0) AS n_unk
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val vocab = TextOps.wordpieceVocab(docs, "text", maxN = 4)
    TextOps.wordpieceEncode(docs, "doc_id", "text", vocab, maxN = 4)
      .orderBy("doc_id")
  }

  /** BPE id round trip — the lossless-inverse gate: tokens → deterministic
    * id vocabulary (lexicographic rank) → id streams → DECODE back through
    * the vocab → in-order concatenation. The md5 of the reconstruction is
    * compared against the oracle's INDEPENDENT pre-token concatenation
    * (plus an id-stream checksum over the oracle's own recomputed vocab),
    * so encode, id assignment, and decode are all checked jointly.
    */
  q("q_bpe_roundtrip",
    // Round-trip mirror: the oracle re-derives the id vocabulary
    // (lexicographic rank over its own recomputed token set), the id-sum
    // checksum, and the reconstruction md5 from an INDEPENDENT pre-token
    // concatenation — decode must land byte-identical.
      s"""WITH RECURSIVE $bpeCtes,
         |vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY tok) - 1 AS BIGINT) AS id
         |  FROM (SELECT DISTINCT unnest(toks) AS tok FROM doc_bpe)),
         |tp AS (SELECT doc_id, toks[t.i] AS tok, t.i AS i
         |  FROM doc_bpe, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) t),
         |j AS (SELECT doc_id, i, tok, id FROM tp JOIN vocab USING (tok)),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(id) AS BIGINT) AS sum_ids,
         |    md5(string_agg(tok, '' ORDER BY i)) AS recon_md5
         |  FROM j GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
         |  coalesce(sum_ids, 0) AS sum_ids,
         |  coalesce(recon_md5, md5('')) AS recon_md5
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val enc = bpeCounts(s, dir)
    val vocab = TextOps.bpeVocab(enc)
    val ids = TextOps.bpeToIds(enc, "doc_id", vocab)
    val dec = TextOps.bpeDecode(ids, "doc_id", vocab)
    val sums = ids.select(col("doc_id"),
      size(col("ids")).cast("long").as("n_tokens"),
      aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"))
    enc.select(col("doc_id")).join(sums, Seq("doc_id"), "left")
      .join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_ids"), lit(0L)).as("sum_ids"),
        md5(coalesce(col("decoded"), lit("")).cast("binary")).as("recon_md5"))
      .orderBy("doc_id")
  }

  /** Token-budget greedy prefix per language: docs in doc_id order until
    * the cumulative REAL tokenizer token count (merges-table BPE — not the
    * pre-tokenizer pattern count) passes 10k tokens.
    */
  q("q_token_budget",
    // Budget selection over REAL tokenizer tokens: the shared encode CTE
    // supplies per-doc BPE counts, then the same greedy-prefix window.
      s"""WITH RECURSIVE $bpeCtes,
         |t AS (SELECT doc_id, lang, n_bpe_tokens AS n_tokens FROM doc_bpe),
         |c AS (SELECT doc_id, lang, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= 10000 ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.CurationOps
    val prepared = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(bpeCounts(s, dir).select(col("doc_id"),
        col("n_bpe_tokens").as("n_tokens")), "doc_id")
    CurationOps.tokenBudgetSelect(prepared, "lang", "doc_id", "n_tokens", 10000L)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("cum_tokens").cast("long").as("cum_tokens"))
      .orderBy("lang", "doc_id")
  }

  /** Concat-and-cut context-window packing of the document stream: every
    * document's offset, first window, and windows spanned at L=512 —
    * offsets in REAL tokenizer tokens (merges-table BPE), which is what a
    * training loader actually packs.
    */
  q("q_pack_sequences",
      s"""WITH RECURSIVE $bpeCtes,
         |d AS (SELECT doc_id, n_bpe_tokens AS n_toks FROM doc_bpe),
         |o AS (SELECT doc_id, n_toks,
        |    CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM d)
        |SELECT doc_id, n_toks, start_off, start_off // 512 AS pack_id,
        |  CASE WHEN n_toks > 0
        |       THEN (start_off + n_toks - 1) // 512 - start_off // 512 + 1
        |       ELSE 0 END AS n_packs
        |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CurationOps.packSequences(
      bpeCounts(s, dir).select(col("doc_id"), col("n_bpe_tokens").as("n_toks")),
      "doc_id", "n_toks", contextLen = 512L)
      .select(col("doc_id"), col("n_toks"), col("start_off"),
        col("pack_id"), col("n_packs"))
      .orderBy("doc_id")
  }

  /** Count-Min heavy hitters over the corpus token stream: the d×w
    * bounded-state sketch estimates per-token frequencies, candidates keep
    * `min ≥ threshold`. The oracle rebuilds the identical sketch (same
    * row-salted md5 buckets), so estimates — collisions included — match
    * exactly, and `n_exact` rides along to pin the overestimate invariant.
    */
  q("q_heavy_hitters",
    // Count-Min mirror: identical row-salted md5 buckets, identical d×w
    // sketch (bucket counts = Σ exact counts hashing there), identical
    // min-over-rows estimates and threshold cut — collisions and all.
      s"""WITH t AS (SELECT unnest(string_split($NormSql, ' ')) AS tok FROM documents),
         |tt AS (SELECT tok FROM t WHERE tok <> ''),
         |occ AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1),
         |hb AS (SELECT tok, c, j,
         |    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '_' || tok), 1, 15)
         |      AS BIGINT) % 1024 AS bucket
         |  FROM occ, (SELECT unnest(generate_series(0, 2)) AS j) s),
         |sk AS (SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cnt
         |  FROM hb GROUP BY 1, 2),
         |est AS (SELECT hb.tok, hb.c AS n_exact, min(sk.cnt) AS cms_estimate
         |  FROM hb JOIN sk USING (j, bucket) GROUP BY 1, 2)
         |SELECT tok AS token, n_exact, cms_estimate
         |FROM est WHERE cms_estimate >= 200 ORDER BY token""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    StatsOps.cmsHeavyHitters(toks, "tok", d = 3, w = 1024L, threshold = 200L)
      .select(col("key").as("token"), col("n_exact"), col("cms_estimate"))
      .orderBy("token")
  }

  /** TF-IDF top-3 terms per document (smooth idf), rank ties broken on the
    * term so both engines order identically.
    */
  q("q_tfidf",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t WHERE term <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term,
        |    tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df_t + 1.0)) + 1.0) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |  FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term,
        |  round(score + 1e-9, 6) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
    TextOps.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("rank"), col("term"), rnd("score", 6).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Gopher-style repetition metrics over word bigrams: top-n-gram and
    * duplicate-n-gram occupancy per document — the standard boilerplate /
    * spam signal for quality gating.
    */
  q("q_repetition",
    // Same bigram stream rebuilt with a list comprehension; the fractions
    // are exact small-integer ratios, eps-rounded on both sides.
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    unnest([ws[i] || ' ' || ws[i + 1] for i in generate_series(1, len(ws) - 1)]) AS bg
        |  FROM w),
        |c AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_ngrams,
        |  round(max(n) * 1.0 / sum(n) + 1e-9, 4) AS top_fraction,
        |  round(1.0 - count(*) * 1.0 / sum(n) + 1e-9, 4) AS dup_fraction
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    TextOps.repetitionStats(Tables.documents(s, dir), "doc_id", "text", n = 2)
      .select(col("doc_id"), col("n_ngrams"),
        rnd("top_fraction", 4).as("top_fraction"),
        rnd("dup_fraction", 4).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** Gopher rule-set gate (minWords lowered to 20 for the short synthetic
    * docs so the verdict varies): every metric and the combined `passes`
    * recompute in SQL — exact integer-ratio fractions, unrounded
    * threshold comparisons mirrored on both sides.
    */
  q("q_gopher_rules",
    // Gopher rules mirror: every fraction is an exact integer ratio
    // (identical doubles both engines), so the unrounded threshold
    // comparisons in `passes` agree bit-for-bit; display values are
    // eps-rounded as usual.
      s"""WITH ww AS (SELECT doc_id, w
         |  FROM (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS w
         |        FROM documents) t WHERE w <> ''),
         |wa AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |    avg(CAST(length(w) AS DOUBLE)) AS mwl,
         |    avg(CASE WHEN regexp_matches(w, '[a-z]') THEN 1.0 ELSE 0.0 END) AS awf,
         |    CAST(sum(CASE WHEN w IN ('the','be','to','of','and','that','have','with')
         |         THEN 1 ELSE 0 END) AS BIGINT) AS nstop
         |  FROM ww GROUP BY 1),
         |la AS (SELECT doc_id,
         |    avg(CASE WHEN regexp_matches(trim(ln), '^[-*•]') THEN 1.0 ELSE 0.0 END) AS blf,
         |    avg(CASE WHEN regexp_matches(trim(ln), '\\.\\.\\.$$') THEN 1.0 ELSE 0.0 END) AS elf
         |  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln
         |        FROM documents) t GROUP BY 1),
         |sy AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '#')) +
         |         len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS nsym
         |  FROM documents)
         |SELECT wa.doc_id, n_words,
         |  round(mwl + 1e-9, 4) AS mean_word_len,
         |  round(awf + 1e-9, 4) AS alpha_word_frac,
         |  nstop AS n_stop_hits,
         |  round(blf + 1e-9, 4) AS bullet_line_frac,
         |  round(elf + 1e-9, 4) AS ellipsis_line_frac,
         |  nsym AS n_symbols,
         |  round(CAST(nsym AS DOUBLE) / n_words + 1e-9, 4) AS symbol_ratio,
         |  (n_words >= 20 AND n_words <= 100000 AND mwl >= 3 AND mwl <= 10
         |   AND CAST(nsym AS DOUBLE) / n_words < 0.1 AND blf < 0.9
         |   AND elf < 0.3 AND awf >= 0.8 AND nstop >= 2) AS passes
         |FROM wa JOIN la ON la.doc_id = wa.doc_id
         |JOIN sy ON sy.doc_id = wa.doc_id
         |ORDER BY wa.doc_id""".stripMargin) { (s, dir) =>
    TextOps.gopherRules(Tables.documents(s, dir), "doc_id", "text",
      minWords = 20)
      .select(col("doc_id"), col("n_words"),
        rnd("mean_word_len", 4).as("mean_word_len"),
        rnd("alpha_word_frac", 4).as("alpha_word_frac"),
        col("n_stop_hits"),
        rnd("bullet_line_frac", 4).as("bullet_line_frac"),
        rnd("ellipsis_line_frac", 4).as("ellipsis_line_frac"),
        col("n_symbols"), rnd("symbol_ratio", 4).as("symbol_ratio"),
        col("passes"))
      .orderBy("doc_id")
  }

  /** CCNet-style unigram LM gate: corpus-frequency token probabilities,
    * per-doc mean log-prob (the in-domain perplexity heuristic — gate on
    * both tails).
    */
  q("q_unigram_lm",
    // Unigram LM mirror: the same corpus vocabulary counts, the same
    // exact c/N division, ln() differing only in the last ulp (absorbed
    // by the eps round).
      s"""WITH t AS (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
         |v AS (SELECT tok, count(*) AS c FROM tt GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM v)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(avg(ln(CAST(c AS DOUBLE) / nt)) + 1e-9, 4) AS avg_logp
         |FROM tt JOIN v USING (tok) CROSS JOIN n
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), rnd("avg_logp", 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Supervised Naive Bayes language classifier over a real train/test
    * split (doc_id % 5 picks the held-out fifth): trained distributed on
    * the training docs' (text, lang), every held-out doc scored against
    * every label. The oracle recomputes the Laplace-smoothed likelihoods,
    * priors, and open-vocabulary floor from the same split, and the
    * predicted flag ranks on ROUNDED scores (ties broken by label) so
    * the argmax is engine-exact.
    */
  q("q_nb_classify",
    // NB mirror: Laplace likelihoods, priors, and the open-vocabulary
    // floor recomputed from the same doc_id % 5 split; the predicted
    // flag ranks ROUNDED scores (ties by label), engine-exact.
      s"""WITH tr AS (SELECT doc_id, lang, $NormSql AS nt
         |  FROM documents WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, $NormSql AS nt
         |  FROM documents WHERE doc_id % 5 = 0),
         |trk AS (SELECT lang, tok FROM (
         |    SELECT lang, unnest(string_split(nt, ' ')) AS tok FROM tr) z
         |  WHERE tok <> ''),
         |ltc AS (SELECT lang, tok, count(*) AS c FROM trk GROUP BY 1, 2),
         |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM ltc GROUP BY 1),
         |v AS (SELECT count(DISTINCT tok) AS v FROM trk),
         |pri AS (SELECT lang, count(*) AS d FROM tr GROUP BY 1),
         |nd AS (SELECT count(*) AS nd FROM tr),
         |tet AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM te) z
         |  WHERE tok <> ''),
         |ten AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM tet GROUP BY 1),
         |iv AS (SELECT tet.doc_id, ltc.lang,
         |    sum(ln((ltc.c + 1.0) / (lt.t + v.v))) AS s, count(*) AS k
         |  FROM tet JOIN ltc USING (tok) JOIN lt USING (lang) CROSS JOIN v
         |  GROUP BY 1, 2),
         |base AS (SELECT te.doc_id, pri.lang,
         |    ln(CAST(pri.d AS DOUBLE) / nd.nd) AS lp, lt.t
         |  FROM te CROSS JOIN pri JOIN lt USING (lang) CROSS JOIN nd),
         |sc AS (SELECT base.doc_id, base.lang,
         |    base.lp + coalesce(iv.s, 0) +
         |      (coalesce(ten.n, 0) - coalesce(iv.k, 0))
         |        * ln(1.0 / (base.t + v.v)) AS score,
         |    coalesce(ten.n, 0) AS n_tokens
         |  FROM base CROSS JOIN v
         |  LEFT JOIN iv ON base.doc_id = iv.doc_id AND base.lang = iv.lang
         |  LEFT JOIN ten ON ten.doc_id = base.doc_id)
         |SELECT doc_id, lang AS label, round(score + 1e-9, 4) AS score_r,
         |  (row_number() OVER (PARTITION BY doc_id
         |     ORDER BY round(score + 1e-9, 4) DESC, lang) = 1) AS predicted,
         |  CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM sc ORDER BY doc_id, label""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    TextOps.naiveBayesClassify(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", "lang")
      .withColumn("score_r", rnd("score", 4))
      .withColumn("predicted", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("score_r").desc, col("lang"))) === 1)
      .select(col("doc_id"), col("lang").as("label"), col("score_r"),
        col("predicted"), col("n_tokens"))
      .orderBy("doc_id", "label")
  }

  /** CCNet head/middle/tail perplexity split under the corpus unigram LM:
    * rounded perplexities against rounded interpolated tertiles, so the
    * bucket assignment is engine-exact. 500 per-doc rows gate the whole
    * score→threshold→bucket path.
    */
  q("q_perplexity_buckets",
    // CCNet bucket mirror: same rounded mean log-prob → rounded
    // perplexity → rounded quantile_cont tertiles → CASE split.
      s"""WITH t AS (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS tok
         |  FROM documents),
         |tt AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
         |v AS (SELECT tok, count(*) AS c FROM tt GROUP BY 1),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM v),
         |lp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    round(avg(ln(CAST(c AS DOUBLE) / nt)) + 1e-9, 4) AS lr
         |  FROM tt JOIN v USING (tok) CROSS JOIN n GROUP BY doc_id),
         |pp AS (SELECT doc_id, n_tokens, round(exp(-lr) + 1e-9, 4) AS pp_r
         |  FROM lp),
         |th AS (SELECT round(quantile_cont(pp_r, 1.0/3) + 1e-9, 4) AS t1,
         |    round(quantile_cont(pp_r, 2.0/3) + 1e-9, 4) AS t2 FROM pp)
         |SELECT doc_id, n_tokens, pp_r,
         |  CASE WHEN pp_r <= t1 THEN 'head'
         |       WHEN pp_r <= t2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM pp CROSS JOIN th ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.perplexityBuckets(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Tokenizer fertility report (tokens per character by language — the
    * standard tokenizer-evaluation metric; high fertility on a language
    * means the vocabulary underserves it and its documents burn budget):
    * REAL merges-table BPE counts over the corpus, reduced per language.
    */
  q("q_tokenizer_fertility",
    // Fertility mirror over the shared BPE re-encode CTE.
      s"""WITH RECURSIVE $bpeCtes
         |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(b.n_bpe_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
         |  round(sum(b.n_bpe_tokens) * 1.0 / sum(length(d.text)) + 1e-9, 6)
         |    AS fertility_r
         |FROM doc_bpe b JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), length(col("text")).as("nc"))
      .join(bpeCounts(s, dir).select(col("doc_id"), col("n_bpe_tokens")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bpe_tokens").as("n_tokens"),
        sum("nc").cast("long").as("n_chars"),
        rnd(sum(col("n_bpe_tokens")).cast("double") / sum(col("nc")), 6)
          .as("fertility_r"))
      .orderBy("lang")
  }

  /** Length-bucket batching report over REAL BPE token counts: per
    * 32-token bucket (context 256), the sequence census and the padding
    * waste batches would pay — the width/maxLen selection report.
    */
  q("q_length_buckets",
    // Length-bucket mirror over the shared BPE re-encode CTE: same capped
    // counts, same floor-div bucket rule, same waste ratios.
      s"""WITH RECURSIVE $bpeCtes,
         |cap AS (SELECT doc_id, least(n_bpe_tokens, 256) AS c FROM doc_bpe),
         |b AS (SELECT doc_id, c,
         |    CAST(floor((c + 31) / 32) AS BIGINT) * 32 AS bucket_len FROM cap),
         |g AS (SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_seqs,
         |    CAST(sum(c) AS BIGINT) AS sum_tokens
         |  FROM b GROUP BY 1)
         |SELECT bucket_len, n_seqs, sum_tokens,
         |  bucket_len * n_seqs AS n_padded,
         |  round(CASE WHEN bucket_len * n_seqs > 0
         |        THEN 1.0 - CAST(sum_tokens AS DOUBLE) / (bucket_len * n_seqs)
         |        ELSE 0.0 END + 1e-9, 6) AS waste_frac_r
         |FROM g ORDER BY 1""".stripMargin) { (s, dir) =>
    CurationOps.lengthBuckets(
      bpeCounts(s, dir).select(col("doc_id"), col("n_bpe_tokens")),
      "doc_id", "n_bpe_tokens", width = 32, maxLen = 256)
      .select(col("bucket_len"), col("n_seqs"), col("sum_tokens"),
        col("n_padded"), rnd("waste_frac", 6).as("waste_frac_r"))
      .orderBy("bucket_len")
  }

  /** Overlapping 64/48 chunking (embedding prep) over the REAL BPE token
    * stream — chunk geometry and fingerprints in tokenizer tokens.
    */
  q("q_chunk_tokens",
    // Chunking mirror over the REAL BPE token stream: the shared encode
    // CTE rebuilds each document's token list, then the same slice/md5
    // geometry as before runs over tokenizer tokens.
      s"""WITH RECURSIVE $bpeCtes,
         |d AS (SELECT doc_id, toks FROM doc_bpe WHERE len(toks) > 0),
         |c AS (SELECT doc_id, CAST(i.i AS INTEGER) AS chunk_idx, toks
         |  FROM d, LATERAL (SELECT unnest(range((len(toks) - 1) // 48 + 1)) AS i) i)
         |SELECT doc_id, chunk_idx,
         |  CAST(chunk_idx * 48 AS INTEGER) AS start_tok,
         |  CAST(least(64, len(toks) - chunk_idx * 48) AS INTEGER) AS n_tok,
         |  md5(array_to_string(toks[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' '))
         |    AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    TextOps.chunkTokenArray(bpeCounts(s, dir), "doc_id", "bpe_tokens",
      width = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Per-doc Shannon token entropy (diversity gate). */
  q("q_token_entropy",
    // Entropy mirror: the same one-pass algebraic split
    // H = ln(n) − Σ c·ln(c)/n over per-doc token counts.
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM t WHERE tok <> '' GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    -sum(c * ln(CAST(c AS DOUBLE))) AS sclogc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(ln(CAST(n_tokens AS DOUBLE)) + sclogc / n_tokens + 1e-9, 4)
        |    AS entropy
        |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.tokenEntropy(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        rnd("entropy", 4).as("entropy"))
      .orderBy("doc_id")
  }

  /** Bigram LM score: mean log p(w|prev) over corpus bigram counts. */
  q("q_bigram_lm",
    // Bigram LM mirror: parallel unnest zips token and subscript, lag
    // builds the same bigram stream, counts divide exactly.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |t AS (SELECT doc_id, unnest(l) AS tok,
        |    unnest(range(1, len(l) + 1)) AS i FROM d),
        |b AS (SELECT doc_id, lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS prev,
        |    tok FROM t),
        |bg AS (SELECT * FROM b WHERE prev IS NOT NULL),
        |c2 AS (SELECT prev, tok, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1)
        |SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln(CAST(c2 AS DOUBLE) / c1)) + 1e-9, 4) AS avg_logp
        |FROM bg JOIN c2 USING (prev, tok) JOIN c1 USING (prev)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    TextOps.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"), rnd("avg_logp", 4).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Text quality scoring: length/token/stopword/digit features + composite. */
  q("q_text_quality",
      s"""WITH f AS (SELECT doc_id, length(text) AS n_chars,
         |    len(string_split($NormSql, ' ')) AS n_tokens,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("en")}')) AS n_stop,
         |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
         |  FROM documents),
         |g AS (SELECT doc_id, n_chars, n_tokens, n_stop,
         |    CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS atl,
         |    CAST(n_stop AS DOUBLE) / n_tokens AS sr,
         |    CAST(n_digit AS DOUBLE) / n_chars AS dr
         |  FROM f)
         |SELECT doc_id, n_chars, n_tokens, n_stop AS n_stopwords,
         |  round(atl + 1e-9, 4) AS avg_token_len, round(sr + 1e-9, 4) AS stop_ratio,
         |  round(dr + 1e-9, 4) AS digit_ratio,
         |  round(least(1.0, greatest(0.0, 0.2 + sr * 2.0 + atl * 0.05 - dr * 3.0)) + 1e-9, 4)
         |    AS quality_score
         |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.qualityFeatures(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"),
        col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_stopwords").cast("long").as("n_stopwords"),
        rnd("avg_token_len", 4).as("avg_token_len"),
        rnd("stop_ratio", 4).as("stop_ratio"),
        rnd("digit_ratio", 4).as("digit_ratio"),
        rnd("quality_score", 4).as("quality_score"))
      .orderBy("doc_id")
  }

  /** Language-ID: stopword-hit argmax with fixed priority order. */
  q("q_lang_id",
      s"""WITH sc AS (SELECT doc_id,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("en")}')) AS s_en,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("de")}')) AS s_de,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("fr")}')) AS s_fr,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("es")}')) AS s_es
         |  FROM documents),
         |b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM sc)
         |SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE WHEN s_en = best AND best > 0 THEN 'en'
         |       WHEN s_de = best AND best > 0 THEN 'de'
         |       WHEN s_fr = best AND best > 0 THEN 'fr'
         |       WHEN s_es = best AND best > 0 THEN 'es'
         |       ELSE 'und' END AS lang_pred
         |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.languageId(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id") +:
        TextOps.stopwords.map { case (l, _) => col(s"s_$l").cast("long").as(s"s_$l") } :+
        col("lang_pred"): _*)
      .orderBy("doc_id")
  }

  /** Classifier evaluation of the lang-ID predictions against the true
    * `lang` column: per-class confusion counts and precision/recall/F1
    * through `StatsOps.classifierReport` — the metric gate a supervised
    * curation filter reports before it prunes a corpus. All counts are
    * exact; the rational metrics round at the standard boundary.
    */
  q("q_classifier_eval",
    // Eval-metrics mirror: the q_lang_id prediction CTE joined to the
    // true labels, then per-class counts and the identical rational
    // metric algebra (0.0 on zero denominators, F1 from the UNROUNDED
    // precision/recall).
      s"""WITH sc AS (SELECT doc_id,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("en")}')) AS s_en,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("de")}')) AS s_de,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("fr")}')) AS s_fr,
         |    len(regexp_extract_all(lower(text), '${StopPatterns("es")}')) AS s_es
         |  FROM documents),
         |b AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best FROM sc),
         |pr AS (SELECT doc_id,
         |  CASE WHEN s_en = best AND best > 0 THEN 'en'
         |       WHEN s_de = best AND best > 0 THEN 'de'
         |       WHEN s_fr = best AND best > 0 THEN 'fr'
         |       WHEN s_es = best AND best > 0 THEN 'es'
         |       ELSE 'und' END AS pred
         |  FROM b),
         |j AS (SELECT d.lang AS truth, pr.pred
         |  FROM documents d JOIN pr USING (doc_id)),
         |t AS (SELECT truth AS label, count(*) AS n_true FROM j GROUP BY 1),
         |p AS (SELECT pred AS label, count(*) AS n_pred FROM j GROUP BY 1),
         |c AS (SELECT truth AS label, count(*) AS tp FROM j
         |  WHERE truth = pred GROUP BY 1),
         |lbl AS (SELECT label FROM t UNION SELECT label FROM p),
         |m AS (SELECT lbl.label, coalesce(t.n_true, 0) AS n_true,
         |    coalesce(p.n_pred, 0) AS n_pred, coalesce(c.tp, 0) AS tp
         |  FROM lbl LEFT JOIN t USING (label) LEFT JOIN p USING (label)
         |  LEFT JOIN c USING (label)),
         |x AS (SELECT label, n_true, n_pred, tp,
         |    CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
         |         ELSE 0.0 END AS prec,
         |    CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
         |         ELSE 0.0 END AS rec
         |  FROM m)
         |SELECT label, CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
         |  round(prec + 1e-9, 4) AS precision_r,
         |  round(rec + 1e-9, 4) AS recall_r,
         |  round(CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec)
         |        ELSE 0.0 END + 1e-9, 4) AS f1_r
         |FROM x ORDER BY label""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val pred = TextOps.languageId(docs, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred"))
    StatsOps.classifierReport(
      docs.select(col("doc_id"), col("lang")).join(pred, "doc_id"),
      "lang", "lang_pred")
      .select(col("label"), col("n_true"), col("n_pred"), col("tp"),
        rnd("precision", 4).as("precision_r"),
        rnd("recall", 4).as("recall_r"),
        rnd("f1", 4).as("f1_r"))
      .orderBy("label")
  }

  /** BPE-ish token accounting per (lang, source). */
  q("q_token_stats",
      s"""WITH t AS (SELECT lang, source,
         |    len(regexp_extract_all(text, '${Text.BpePattern}')) AS nt FROM documents)
         |SELECT lang, source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens,
         |  round(avg(nt) + 1e-9, 4) AS avg_tokens
         |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val nt = Text.bpeTokenCount(col("text"))
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(nt.cast("long")).as("sum_tokens"),
        rnd(avg(nt), 4).as("avg_tokens"))
      .orderBy("lang", "source")
  }

  /** Shard-plan gate: deterministic size-aware shard assignment over the
    * document corpus (sample size = n_chars + a fixed per-member
    * overhead), reduced to per-shard censuses. The oracle replays the
    * exclusive running sum as one SQL window — the two-pass distributed
    * form must agree with it exactly.
    */
  q("q_shard_plan",
    // Shard-plan mirror: one SQL window replays the exclusive running sum
    // the Spark side computes with the two-pass distributed form.
      """WITH d AS (SELECT doc_id, n_chars + 1024 AS sz FROM documents),
        |c AS (SELECT doc_id, sz,
        |    coalesce(sum(sz) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d),
        |a AS (SELECT doc_id, sz, CAST(floor(off / 65536) AS BIGINT) AS shard_id
        |  FROM c)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(sz) AS BIGINT) AS n_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    TarSink.planShards(
      Tables.documents(s, dir)
        .select(col("doc_id"), (col("n_chars") + lit(1024L)).as("sz")),
      "doc_id", "sz", targetBytes = 65536L)
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_samples"),
        sum(col("sz")).as("n_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard_id")
  }

  /** HTML→text extraction gate over [[htmlFixture]] pages:
    * [[graft.operators.TextOps.htmlExtract]]'s full regexp chain (comment/
    * script/style drop, title and anchor-text capture, tag strip, entity
    * decode, whitespace collapse, link density) replayed step-for-step by
    * the oracle — both engines run the same RE2-safe patterns, so this
    * pins the extraction ALGORITHM, not just row counts.
    */
  q("q_html_extract",
    // Step-for-step replay of TextOps.htmlExtract's regexp chain — every
    // pattern is RE2-safe by construction, so DuckDB runs the SAME
    // extraction algorithm (DuckDB regexp_replace needs the explicit 'g'
    // option; Spark's is global by default).
    {
      def clean(inner: String): String =
        "trim(regexp_replace(" +
          "replace(replace(replace(replace(replace(replace(" +
          s"regexp_replace($inner, '(?s)<[^>]*>', ' ', 'g'), " +
          "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
          """'&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g'))"""
      s"""WITH h AS (SELECT doc_id, $htmlFixtureSql AS html FROM documents),
         |nb AS (SELECT doc_id, html,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
         |      '(?s)<!--.*?-->', ' ', 'g'),
         |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '(?is)<head[^>]*>.*?</head>', ' ', 'g') AS nob
         |  FROM h),
         |c AS (SELECT doc_id,
         |    ${clean("regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)")}
         |      AS title,
         |    CAST(len(regexp_extract_all(nob, '(?is)<a[\\s>]')) AS INT) AS n_links,
         |    ${clean("nob")} AS text,
         |    ${clean("coalesce(array_to_string(regexp_extract_all(nob, " +
                       "'(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')")} AS anchor_text
         |  FROM nb)
         |SELECT doc_id, title, n_links,
         |  CAST(length(text) AS INT) AS n_text_chars,
         |  CASE WHEN length(text) > 0
         |    THEN round(CAST(length(anchor_text) AS DOUBLE) / length(text) + 1e-9, 6)
         |    ELSE 0.0 END AS link_density,
         |  md5(text) AS text_md5
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    TextOps.htmlExtract(
      Tables.documents(s, dir).select(col("doc_id"), htmlFixture.as("html")),
      "doc_id", "html")
      .select(col("doc_id"), col("title"), col("n_links"),
        col("n_text_chars"), col("link_density"), col("text_md5"))
      .orderBy("doc_id")
  }

  /** URL canonicalization gate: three deterministic URL shapes per
    * documents row (uppercase scheme/host + default port + tracking params
    * + fragment; userinfo + non-default port + doubled path slashes +
    * mixed params; bare host with no path/query), normalized by
    * [[graft.operators.TextOps.urlNormalize]]; the oracle replays the
    * same facet regexes and parameter filtering in SQL.
    */
  q("q_url_normalize",
    // The same facet regexes and parameter filtering as
    // TextOps.urlNormalize, replayed over the same three URL shapes.
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'HTTPS://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.COM:443/Path/' || lang || '/' || CAST(doc_id AS VARCHAR) ||
        |      '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&ref_=rss#sec'
        |    WHEN doc_id % 3 = 1 THEN
        |      'http://user@Blog.Site' || CAST(doc_id % 5 AS VARCHAR) ||
        |      '.org:8080/posts//' || CAST(doc_id AS VARCHAR) || '/?a=1&gclid=xyz&b=2'
        |    ELSE 'https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.net' END AS url
        |  FROM documents),
        |p1 AS (SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
        |    regexp_extract(regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |      '^(?:[^@]*@)?(.*)$', 1) AS hostport
        |  FROM u),
        |p2 AS (SELECT *, lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port FROM p1),
        |p3 AS (SELECT *,
        |    CASE WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) = '' THEN host
        |         ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
        |      AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query,
        |    CASE WHEN (scheme = 'http' AND port = '80')
        |           OR (scheme = 'https' AND port = '443') OR port = ''
        |         THEN '' ELSE ':' || port END AS portpart
        |  FROM p2),
        |p4 AS (SELECT *, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |    list_filter(string_split(query, '&'), x -> x <> '') AS params
        |  FROM p3),
        |p5 AS (SELECT *, list_filter(params, x -> NOT (starts_with(x, 'utm_')
        |    OR starts_with(x, 'gclid') OR starts_with(x, 'fbclid')
        |    OR starts_with(x, 'ref_'))) AS kept FROM p4)
        |SELECT doc_id, scheme, host, domain, path,
        |  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS INT)
        |    AS path_depth,
        |  CAST(len(params) AS INT) AS n_params,
        |  CAST(len(kept) AS INT) AS n_params_kept,
        |  scheme || '://' || host || portpart || path ||
        |    CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |         ELSE '' END AS url_norm
        |FROM p5 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val url = when(col("doc_id") % 3 === 0,
        concat(lit("HTTPS://WWW.Example"), col("doc_id") % 5,
          lit(".COM:443/Path/"), col("lang"), lit("/"), col("doc_id"),
          lit("?utm_source=feed&id="), col("doc_id"), lit("&ref_=rss#sec")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("http://user@Blog.Site"), col("doc_id") % 5,
          lit(".org:8080/posts//"), col("doc_id"), lit("/?a=1&gclid=xyz&b=2")))
      .otherwise(concat(lit("https://cdn"), col("doc_id") % 5, lit(".net")))
    TextOps.urlNormalize(
      Tables.documents(s, dir).select(col("doc_id"), url.as("u")),
      "doc_id", "u")
      .select(col("doc_id"), col("scheme"), col("host"), col("domain"),
        col("path"), col("path_depth"), col("n_params"),
        col("n_params_kept"), col("url_norm"))
      .orderBy("doc_id")
  }

  /** BM25 ranked retrieval gate: three fixed multi-term queries over the
    * document corpus, scored by [[graft.operators.TextOps.bm25TopK]]
    * (Lucene-form idf, k1=1.2 b=0.75) — the oracle recomputes tf/df/dl/
    * avgdl and the full saturation formula in SQL, so scores AND ranks are
    * pinned end to end.
    */
  q("q_bm25_topk",
    // Full recomputation of tf/df/dl/avgdl and the Okapi saturation
    // formula (Lucene idf form), same operand nesting as the Spark side so
    // only summation order differs (absorbed by the shared rounding).
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents),
        |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY 1),
        |consts AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |    (SELECT avg(dl) FROM dl) AS avgdl),
        |q AS (SELECT col0 AS query_id, col1 AS term FROM (VALUES
        |    (1, 'hash'), (1, 'join'), (2, 'window'), (2, 'scan'),
        |    (3, 'stream'), (3, 'batch'), (3, 'spark'))),
        |s AS (SELECT q.query_id, tf.doc_id,
        |    round(sum(ln(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        |      * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) + 1e-9, 6) AS score
        |  FROM tf JOIN q USING (term) JOIN dfreq USING (term)
        |    JOIN dl USING (doc_id) CROSS JOIN consts
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS INT) AS rank
        |  FROM s)
        |SELECT query_id, rank, doc_id, score FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val queries = Seq((1, "hash"), (1, "join"), (2, "window"), (2, "scan"),
      (3, "stream"), (3, "batch"), (3, "spark"))
      .toDF("query_id", "term")
    TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      queries, "query_id", "term", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Unicode normalization gate: each document gets a deterministic messy
    * tail (combining accent, curly quotes, en dash, a control byte, a
    * zero-width space), normalized by
    * [[graft.operators.TextOps.normalizeText]]. The oracle builds the
    * IDENTICAL input with chr() concatenation and replays the fold chain
    * over DuckDB's `nfc_normalize` — two independent NFC implementations
    * (ICU-style JDK vs utf8proc) must land on the same bytes, md5-pinned.
    */
  q("q_text_normalize",
    // Identical messy input built with chr() concatenation; the fold chain
    // replayed over utf8proc's nfc_normalize — two independent NFC
    // implementations must land on the same bytes, md5-pinned.
      """WITH m AS (SELECT doc_id, text || ' cafe' || chr(769) || ' ' ||
        |    chr(8217) || 'quote' || chr(8217) || ' a' || chr(8211) || 'b ' ||
        |    chr(7) || ' x' || chr(8203) || 'y' AS t FROM documents),
        |n AS (SELECT doc_id, length(t) AS n_before,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        nfc_normalize(t),
        |        chr(8217), ''''), chr(8216), ''''), chr(8220), '"'),
        |        chr(8221), '"'), chr(8211), '-'), chr(8212), '-'),
        |      '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |      '[ \t]+', ' ', 'g')) AS text_norm
        |  FROM m)
        |SELECT doc_id, CAST(n_before AS INT) AS n_chars_before,
        |  CAST(length(text_norm) AS INT) AS n_chars_after,
        |  md5(text_norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val messy = concat(col("text"),
      lit(" cafe\u0301 \u2019quote\u2019 a\u2013b \u0007 x\u200By"))
    TextOps.normalizeText(
      Tables.documents(s, dir).select(col("doc_id"), messy.as("t")),
      "doc_id", "t")
      .select(col("doc_id"), col("n_chars_before"), col("n_chars_after"),
        col("norm_md5"))
      .orderBy("doc_id")
  }

  /** robots.txt gate: seven synthetic domains each publish an 8-line
    * robots.txt (comment, `*` group with nested Allow/Disallow prefixes, a
    * trailing bot-specific group that must be IGNORED by the group
    * tracking), applied to five URL shapes per document by
    * [[graft.operators.TextOps.robotsFilter]] — longest-match, Allow wins
    * ties, no-match allows. The oracle re-parses the same robots text in
    * SQL (fixed 8-line explode, ignore-nulls group window) and replays the
    * precedence arithmetic.
    */
  q("q_robots_filter",
    // The robots parse replayed in SQL: same comment strip, same
    // ignore-nulls running group window, same precedence arithmetic.
    // range(1, 9) matches the fixture's fixed 8-line robots text (DuckDB's
    // range cannot laterally reference len(ls)).
      """WITH gs AS (SELECT DISTINCT doc_id % 7 AS g FROM documents),
        |r AS (SELECT 'ex' || CAST(g AS VARCHAR) || '.com' AS domain,
        |    'User-agent: *' || chr(10) || '# crawl rules' || chr(10) ||
        |    'Disallow: /private' || chr(10) ||
        |    'Allow: /private/ok' || CAST(g AS VARCHAR) || chr(10) ||
        |    'Disallow: /tmp' || chr(10) || chr(10) ||
        |    'User-agent: bot' || chr(10) || 'Disallow: /' AS robots FROM gs),
        |ln AS (SELECT domain, i AS pos,
        |    trim(regexp_replace(list_extract(ls, CAST(i AS INT)), '#.*$', ''))
        |      AS line
        |  FROM (SELECT domain, string_split(robots, chr(10)) AS ls FROM r),
        |    range(1, 9) t(i) WHERE i <= len(ls)),
        |tagged AS (SELECT domain, pos, line,
        |    last_value(CASE WHEN regexp_matches(line, '(?i)^user-agent:')
        |        THEN trim(regexp_extract(line, '(?i)^user-agent:(.*)$', 1)) END
        |      IGNORE NULLS) OVER (PARTITION BY domain ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS group_ua
        |  FROM ln),
        |rules AS (SELECT domain,
        |    lower(regexp_extract(line, '(?i)^(allow|disallow):', 1)) AS rule,
        |    trim(regexp_extract(line, '(?i)^(allow|disallow):\s*(\S*)', 2))
        |      AS prefix
        |  FROM tagged WHERE group_ua = '*'
        |    AND lower(regexp_extract(line, '(?i)^(allow|disallow):', 1)) <> ''
        |    AND trim(regexp_extract(line, '(?i)^(allow|disallow):\s*(\S*)', 2))
        |      <> ''),
        |u AS (SELECT doc_id, 'ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        |      AS domain,
        |    CASE WHEN doc_id % 5 = 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 5 = 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 5 = 2 THEN '/private/ok' ||
        |           CAST(doc_id % 7 AS VARCHAR) || '/page'
        |         WHEN doc_id % 5 = 3 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
        |         ELSE '/' END AS path
        |  FROM documents),
        |m AS (SELECT u.doc_id, u.domain, u.path,
        |    max(CASE WHEN rules.rule = 'allow'
        |          AND starts_with(u.path, rules.prefix)
        |        THEN length(rules.prefix) END) AS allow_len,
        |    max(CASE WHEN rules.rule = 'disallow'
        |          AND starts_with(u.path, rules.prefix)
        |        THEN length(rules.prefix) END) AS disallow_len
        |  FROM u LEFT JOIN rules ON u.domain = rules.domain
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, domain, path,
        |  coalesce(allow_len, -1) >= coalesce(disallow_len, -1) AS allowed
        |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val robots = docs.select((col("doc_id") % 7).as("g")).distinct()
      .select(concat(lit("ex"), col("g"), lit(".com")).as("domain"),
        concat(
          lit("User-agent: *\n# crawl rules\nDisallow: /private\nAllow: /private/ok"),
          col("g"),
          lit("\nDisallow: /tmp\n\nUser-agent: bot\nDisallow: /")).as("robots"))
    val urls = docs.select(col("doc_id"),
      concat(lit("ex"), col("doc_id") % 7, lit(".com")).as("domain"),
      when(col("doc_id") % 5 === 0, concat(lit("/doc/"), col("doc_id")))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/x"), col("doc_id")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("/private/ok"), col("doc_id") % 7, lit("/page")))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp/"), col("doc_id")))
        .otherwise(lit("/")).as("path"))
    TextOps.robotsFilter(urls, "doc_id", "domain", "path",
      robots, "domain", "robots")
      .orderBy("doc_id")
  }

  /** Cavnar–Trenkle char-trigram language ID: profiles trained from the
    * labeled corpus (top-50 trigrams per language), every document
    * classified by out-of-place distance. The oracle re-trains the
    * profiles AND re-classifies in SQL — identical rank windows,
    * identical penalty arithmetic.
    */
  q("q_ngram_lang_id",
    // Profiles re-trained and documents re-classified in SQL: identical
    // trigram explode, identical (count desc, trigram asc) rank windows,
    // identical out-of-place penalty arithmetic.
      s"""WITH nt AS (SELECT doc_id, lang, $NormSql AS t FROM documents),
         |tri AS (SELECT doc_id, lang, unnest(list_transform(
         |    generate_series(1, length(t) - 2), i -> substr(t, CAST(i AS INT), 3)))
         |    AS tri
         |  FROM nt WHERE length(t) >= 3),
         |pc AS (SELECT lang, tri, count(*) AS cnt FROM tri GROUP BY 1, 2),
         |prof AS (SELECT lang, tri, rank FROM (
         |    SELECT lang, tri, cnt, CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY cnt DESC, tri) AS INT) AS rank FROM pc)
         |  WHERE rank <= 50),
         |dc AS (SELECT doc_id, tri, count(*) AS cnt FROM tri GROUP BY 1, 2),
         |dr AS (SELECT doc_id, tri, drank FROM (
         |    SELECT doc_id, tri, cnt, CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cnt DESC, tri) AS INT) AS drank FROM dc)
         |  WHERE drank <= 50),
         |langs AS (SELECT DISTINCT lang FROM prof),
         |d AS (SELECT dr.doc_id, langs.lang,
         |    sum(CASE WHEN prof.rank IS NULL THEN CAST(50 AS BIGINT)
         |        ELSE abs(dr.drank - prof.rank) END) AS dist
         |  FROM dr CROSS JOIN langs
         |  LEFT JOIN prof ON prof.lang = langs.lang AND prof.tri = dr.tri
         |  GROUP BY 1, 2)
         |SELECT doc_id, lang AS lang_pred, CAST(dist AS BIGINT) AS dist FROM (
         |  SELECT doc_id, lang, dist, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY dist, lang) AS rn FROM d)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val profiles = TextOps.charNgramProfiles(docs, "lang", "text", n = 3, k = 50)
    TextOps.charNgramLangId(docs, "doc_id", "text", profiles, n = 3, k = 50)
      .orderBy("doc_id")
  }

  /** Exact phrase search over positional postings ("batch stream" as
    * adjacent tokens), per-doc occurrence counts + first position; the
    * oracle rebuilds 1-based positions with generate_series and aligns
    * consecutive terms the same way.
    */
  q("q_phrase_search",
    // 1-based token positions rebuilt with generate_series; adjacency via
    // the same (doc, start) alignment join.
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM ws),
        |t AS (SELECT doc_id, CAST(i AS INT) AS pos,
        |    list_extract(w, CAST(i AS INT)) AS term FROM p),
        |m AS (SELECT a.doc_id, a.pos AS start
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.term = 'batch' AND b.term = 'stream')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(min(start) AS INT) AS first_pos
        |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
      Seq("batch", "stream"))
      .orderBy("doc_id")
  }

  /** Flesch readability over documents with deterministic sentence
    * punctuation injected (the corpus text is unpunctuated); the oracle
    * replays the same injection and regexp counts.
    */
  q("q_readability",
    // Same punctuation injection, same RE2-safe regexp counts, same
    // Flesch arithmetic nesting.
      """WITH t AS (SELECT doc_id, replace(text, ' scan', '. scan') AS t
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(trim(regexp_replace(lower(t),
        |      '\s+', ' ', 'g')), ' '), x -> x <> '')) AS INT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(t, '[.!?]+'))) AS INT)
        |      AS n_sents,
        |    CAST(greatest(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))) AS INT)
        |      AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sents, n_syllables,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) + 1e-9, 4) AS flesch
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.readability(
      Tables.documents(s, dir).select(col("doc_id"),
        replace(col("text"), lit(" scan"), lit(". scan")).as("t")),
      "doc_id", "t")
      .orderBy("doc_id")
  }

  /** Entity resolution over the 2000 part names: first-char blocking →
    * Jaro-Winkler ≥ 0.95 verify → connected components; per-entity
    * member census with the lexicographic representative. The oracle
    * replays blocking + DuckDB's own jaro_winkler_similarity + the
    * recursive-CTE min-label walk.
    */
  q("q_entity_resolution",
    // DuckDB's native jaro_winkler_similarity — an independent
    // implementation — over the identical vocabulary pair set.
    // Entity-resolution mirror: identical blocking, DuckDB's own
    // jaro_winkler_similarity at the same rounded threshold, and the
    // recursive-CTE min-label walk over the verified edges.
      """WITH RECURSIVE
        |vv AS (SELECT name, CAST(row_number() OVER (ORDER BY name) AS BIGINT) AS id
        |  FROM (SELECT DISTINCT p_name AS name FROM part)),
        |cand AS (SELECT a.id AS da, b.id AS db,
        |    round(jaro_winkler_similarity(a.name, b.name) + 1e-9, 6) AS jw
        |  FROM vv a JOIN vv b
        |    ON substr(lower(a.name), 1, 1) = substr(lower(b.name), 1, 1)
        |    AND a.id < b.id),
        |e AS (SELECT da, db FROM cand WHERE jw >= 0.95),
        |sym(a, b) AS (SELECT da, db FROM e UNION SELECT db, da FROM e),
        |walk(node, label) AS (
        |  SELECT id, id FROM vv
        |  UNION
        |  SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.node),
        |lab AS (SELECT node, min(label) AS entity FROM walk GROUP BY node)
        |SELECT l.entity, CAST(count(*) AS BIGINT) AS n_members,
        |  min(vv.name) AS rep_name
        |FROM lab l JOIN vv ON vv.id = l.node
        |GROUP BY 1 ORDER BY entity""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // fixture id assignment: dense ids in name order (single-partition
    // window over the 2 k-row dim table — id ASSIGNMENT only, the
    // resolution itself never globally sorts)
    val recs = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("name")).cast("long"))
    val resolved = DedupOps.resolveEntities(recs, "id", "name", 0.95)
    resolved.join(recs, "id")
      .groupBy(col("entity"))
      .agg(count(lit(1)).as("n_members"), min(col("name")).as("rep_name"))
      .orderBy("entity")
  }

  /** Jaro–Winkler gate over all corpus-vocabulary word pairs (a bounded
    * brute tier — vocabulary², like the cosine baselines): our
    * [[graft.functions.StringSim]] implementation against DuckDB's NATIVE
    * `jaro_winkler_similarity` — two independent implementations of the
    * match-window/transposition/prefix-boost algorithm must agree digit
    * for digit on every pair above the threshold.
    */
  q("q_jaro_winkler",
      """WITH v AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |vv AS (SELECT w FROM v WHERE w <> ''),
        |p AS (SELECT a.w AS wa, b.w AS wb,
        |    jaro_winkler_similarity(a.w, b.w) AS jw
        |  FROM vv a JOIN vv b ON a.w < b.w)
        |SELECT wa, wb, round(jw + 1e-9, 6) AS jw FROM p
        |WHERE round(jw + 1e-9, 6) >= 0.7 ORDER BY wa, wb""".stripMargin) { (s, dir) =>
    import s.implicits._
    val vocab = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
    vocab.select(col("w").as("wa"))
      .crossJoin(vocab.select(col("w").as("wb")))
      .filter(col("wa") < col("wb"))
      .as[(String, String)]
      .map { case (a, b) =>
        (a, b, graft.functions.StringSim.jaroWinkler(a, b))
      }
      .toDF("wa", "wb", "jw")
      // filter on the ROUNDED value: a raw-double cut could flip an
      // exact-boundary pair on a 1-ulp cross-engine difference
      .select(col("wa"), col("wb"), round(col("jw") + lit(1e-9), 6).as("jw"))
      .filter(col("jw") >= 0.7)
      .orderBy("wa", "wb")
  }

  private val StopPatterns: Map[String, String] = TextOps.stopwords.toMap

  /** Shared CTE chain re-running the BPE ENCODE in DuckDB against the
    * materialized merges table: per distinct pre-token, a recursive CTE
    * merges the leftmost occurrence of the lowest-rank adjacent pair one
    * step at a time (provably equivalent to the classic all-occurrences
    * formulation — see [[graft.functions.Bpe]]); `doc_bpe` then rebuilds
    * every document's ordered token stream from its word sequence. Callers
    * must open with `WITH RECURSIVE`.
    */
  private def bpeCtes: String =
    s"""words AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(text, '${Text.BpePattern}')) AS w
       |  FROM documents),
       |enc AS (
       |  SELECT w, regexp_extract_all(w, '.') AS syms, 0 AS step FROM words
       |  UNION ALL
       |  SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:], step + 1
       |  FROM (
       |    SELECT w, syms, step,
       |      (SELECT i FROM (SELECT unnest(range(1, len(syms))) AS i) t
       |       JOIN '$BpeMergesDir/*.parquet' m
       |         ON m.lhs = syms[i] AND m.rhs = syms[i+1]
       |       ORDER BY m.rank, i LIMIT 1) AS bi
       |    FROM enc) WHERE bi IS NOT NULL),
       |final AS (
       |  SELECT w, syms FROM (
       |    SELECT w, syms, row_number() OVER (PARTITION BY w ORDER BY step DESC) rn
       |    FROM enc) WHERE rn = 1),
       |dw AS (
       |  SELECT doc_id, t.i AS i, ws[t.i] AS w
       |  FROM (SELECT doc_id, regexp_extract_all(text, '${Text.BpePattern}') AS ws
       |        FROM documents) d,
       |  LATERAL (SELECT unnest(range(1, len(ws)+1)) AS i) t),
       |doc_enc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pretokens,
       |         CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
       |         flatten(list(syms ORDER BY i)) AS toks
       |  FROM dw JOIN final USING (w) GROUP BY doc_id),
       |doc_bpe AS (
       |  SELECT d.doc_id, d.lang, coalesce(n_pretokens, 0) AS n_pretokens,
       |         coalesce(n_bpe_tokens, 0) AS n_bpe_tokens,
       |         coalesce(toks, CAST([] AS VARCHAR[])) AS toks
       |  FROM documents d LEFT JOIN doc_enc USING (doc_id))""".stripMargin
}
