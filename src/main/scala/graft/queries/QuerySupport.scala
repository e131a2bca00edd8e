package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.sources.Tables

/** Helpers shared by the query families: oracle float rounding, tmp-dir
  * staging, the materialization root for oracle constants, the DuckDB
  * mirrors of the text/dedup primitives, and the planted embedding
  * fixture. Family objects import this object and never `SparkEntry`, so
  * object initialization cannot cycle.
  */
object QuerySupport {

  /** Epsilon-stabilized rounding for oracle float parity. Aggregates of
    * 2-decimal inputs often terminate *exactly* on a rounding half-boundary
    * (e.g. var = 114.87585), where Spark (BigDecimal HALF_UP) and DuckDB
    * (scale + rint) disagree. A tiny epsilon — far above algorithmic
    * summation-order noise, far below the rounding width — pushes exact halves
    * consistently off the boundary. The identical `+ eps` appears in every
    * oracleSql round().
    */
  private[queries] def rnd(c: org.apache.spark.sql.Column, d: Int): org.apache.spark.sql.Column =
    round(c + lit(if (d <= 2) 1e-6 else 1e-9), d)
  private[queries] def rnd(name: String, d: Int): org.apache.spark.sql.Column = rnd(col(name), d)

  /** Tmp output dir for a sink→source round-trip query, CLEARED first: a
    * stale store from a prior run with a different mesh/variable set (or a
    * `dir.hashCode` collision between two sf dirs) must never leak into the
    * re-read glob and break the oracle comparison.
    */
  private[queries] def freshTmpDir(prefix: String, dir: String): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/${prefix}_${math.abs(dir.hashCode)}"
    val p = new java.io.File(out)
    if (p.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(p)
    }
    out
  }

  /** Materialization point for the corpus-trained BPE merges table (same
    * oracle-constant contract as [[AnnPlanesDir]]; content is a pure
    * function of the corpus at `dir`, so within one Verify/Bench run every
    * BPE query rewrites identical values).
    */
  private[queries] val BpeMergesDir = s"$MatRoot/bpe_merges"

  /** Near-dup triples planted deterministically over the embeddings table:
    * each vector gets two perturbed copies (±0.003/component, exact integer
    * arithmetic × 0.0005 mirrored bit-for-bit in DuckDB via an indexed
    * list_transform lambda), giving planted cosines ≈ 0.9999 against a
    * random-pair background ≤ 0.56 — the separation regime where LSH-based
    * near-dup detection is meaningful. The (i+1) matches DuckDB's 1-based
    * lambda index.
    */
  private[graft] def plantedTriples(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Seq(0, 1, 2).map { c =>
      emb.select((col("vec_id") * 3 + c).cast("long").as("id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") +
            lit(c) * (((col("vec_id") * 31 + (i + 1) * 7) % 13) - 6) * lit(0.0005))
          .cast("array<float>").as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** Materialization point for the q_ivfsq_topk coarse quantizer (the
    * [[SemCentroidsDir]] contract).
    */
  private[queries] val IvfSqCentroidsDir = s"$MatRoot/ivfsq_centroids"

  /** Materialization point for the q_ivfsq_residual_topk coarse
    * quantizer — FLOAT values, because the residual subtraction is float
    * arithmetic and the oracle must subtract the same floats.
    */
  private[queries] val IvfSqResCentroidsDir = s"$MatRoot/ivfsqres_centroids"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the PCA
    * basis (trained per run like the PQ codebooks).
    */
  private[queries] val PcaBasisDir = s"$MatRoot/pca_basis"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the
    * IVF-PQ composed index (coarse centroids + its own codebooks).
    */
  private[queries] val IvfPqCentroidsDir = s"$MatRoot/ivfpq_centroids"
  private[queries] val IvfPqCodebooksDir = s"$MatRoot/ivfpq_codebooks"

  private[queries] val IvfPqResCentroidsDir = s"$MatRoot/ivfpqres_centroids"
  private[queries] val IvfPqResCodebooksDir = s"$MatRoot/ivfpqres_codebooks"

  /** Materialization points for the q_ann_recall trained structures (same
    * contract as [[IvfSqCentroidsDir]] / PqCodebooksDir — content is a
    * pure function of the training parameters).
    */
  private[queries] val AnnRecallCentroidsDir = s"$MatRoot/ann_recall_centroids"
  private[queries] val AnnRecallCodebooksDir = s"$MatRoot/ann_recall_codebooks"

  /** Root for oracle-constant materialization (hyperplanes, JL matrix,
    * k-means centroids, BPE merges): overridable via GRAFT_DATA_DIR /
    * -Dgraft.data.dir, defaulting to `data/` under the process working
    * directory — the oracle SQL strings interpolate the SAME resolved
    * absolute path, so Spark writer and DuckDB reader agree on any
    * checkout location.
    */
  // lazy: BpeMergesDir is declared earlier in the object and would otherwise
  // read this val before its in-order initializer ran (→ "null/bpe_merges")
  private[graft] lazy val MatRoot: String =
    sys.env.get("GRAFT_DATA_DIR").orElse(sys.props.get("graft.data.dir"))
      .getOrElse(new java.io.File("data").getAbsolutePath)

  /** Fixed materialization point for the q_ann_pairs hyperplane constants —
    * the oracle SQL is a static string, so the path cannot vary with the sf
    * dir; the content is a pure function of (seed, L, k, dim) and identical
    * for every run, so a concurrent overwrite rewrites the same values.
    */
  private[queries] val AnnPlanesDir = s"$MatRoot/ann_planes"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the
    * perceptual-hash table q_phash_pairs' oracle brute-forces over
    * (banding is recall-exact at ≤ maxHamming, so banded output ≡ the
    * brute pair scan).
    */
  private[queries] val PhashTableDir = s"$MatRoot/phash_table"

  /** Same contract as [[PhashTableDir]], for the audio fingerprints
    * q_audio_fp_pairs' oracle brute-forces over.
    */
  private[queries] val AudioFpDir = s"$MatRoot/audio_fp"

  /** Staging point for the parquet-footer gate: the oracle's
    * `parquet_metadata()` needs a literal path in static SQL, so the
    * query copies the sf dir's file here first (same contract as the
    * other materialized oracle constants).
    */
  private[queries] val PqMetaDir = s"$MatRoot/pq_meta"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the JL
    * projection matrix.
    */
  private[queries] val RpPlanesDir = s"$MatRoot/rp_planes"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the PQ
    * codebooks (trained per run; the check flow is sequential, so the
    * oracle reads exactly the codebooks this run quantized with).
    */
  private[queries] val PqCodebooksDir = s"$MatRoot/pq_codebooks"

  private[queries] val ShingleK = 3

  /** Fixed materialization point for the q_semantic_dedup quantizer — the
    * oracle SQL is static, so the path cannot vary with the sf dir; the
    * driver's Verify→check flow is sequential, so the check always reads
    * the centroids the immediately-preceding run wrote.
    */
  private[queries] val SemCentroidsDir = s"$MatRoot/sem_centroids"

  /** Materialization point for the q_embedding_outliers quantizer (same
    * contract as [[SemCentroidsDir]]).
    */
  private[queries] val EmbOutCentroidsDir = s"$MatRoot/embout_centroids"

  /** Same materialized-constant contract as [[AnnPlanesDir]], for the DFT
    * twiddle vectors (a pure function of the frame length).
    */
  private[queries] val DftTwiddlesDir = s"$MatRoot/dft_twiddles"

  /** Deterministic HTML page synthesized from a document row — the shared
    * fixture for the WARC round trip and the HTML-extraction gate. Built
    * with pure column concat so the oracle rebuilds the identical string;
    * exercises comments, title with entities, style and script blocks
    * (the script contains `<`/`>`/a fake `</div>` literal — the classic
    * strip-tags traps), anchors with query-string hrefs around the corpus
    * word `dup`, and the common entity set.
    */
  private[queries] def htmlFixture: org.apache.spark.sql.Column = concat(
    lit("<html><!-- gen "), col("doc_id"), lit(" --><head><title> Doc "),
    col("doc_id"), lit(" &amp; "), col("lang"),
    lit(" </title><style>p { color: #333; }</style>" +
      "<script type=\"text/javascript\">if (1 < 2) { var x = \"</div>\"; }" +
      "</script></head><body><h1>Doc "),
    col("doc_id"), lit("</h1><p>"),
    replace(col("text"), lit("dup"),
      concat(lit("<a href=\"/t?id="), col("doc_id"),
        lit("&amp;utm_source=x\">dup</a>"))),
    lit("</p><p>&quot;tail&quot; &#39;q&#39;&nbsp;end</p></body></html>"))

  /** The same fixture as [[htmlFixture]], as a DuckDB SQL expression over a
    * `documents` row (doc_id, lang, text).
    */
  private[queries] val htmlFixtureSql: String =
    """'<html><!-- gen ' || CAST(doc_id AS VARCHAR) || ' --><head><title> Doc ' ||
      |  CAST(doc_id AS VARCHAR) || ' &amp; ' || lang ||
      |  ' </title><style>p { color: #333; }</style>' ||
      |  '<script type="text/javascript">if (1 < 2) { var x = "</div>"; }' ||
      |  '</script></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) ||
      |  '</h1><p>' ||
      |  replace(text, 'dup', '<a href="/t?id=' || CAST(doc_id AS VARCHAR) ||
      |    '&amp;utm_source=x">dup</a>') ||
      |  '</p><p>&quot;tail&quot; &#39;q&#39;&nbsp;end</p></body></html>'""".stripMargin

  /** DuckDB mirrors of the Text/Dedup column primitives. The md5-derived
    * 60-bit hash is `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` — identical
    * bytes hashed on both sides (ASCII text ⇒ VARCHAR == UTF-8 binary).
    */
  private[queries] val NormSql = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
  private[queries] def hash64Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Distinct (doc_id, 3-gram shingle) rows — mirrors `Text.shingles(c, 3)`. */
  private[queries] val ShingleCte =
    s"""ws AS (SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
       |pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${ShingleK - 1})) AS i
       |        FROM ws WHERE len(w) >= $ShingleK),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+${ShingleK - 1}], ' ') AS sh FROM pos)""".stripMargin

  private[queries] val SigCols = DedupOps.permA.indices.map { i =>
    s"min((${DedupOps.permA(i)} * h + ${DedupOps.permB(i)}) % ${DedupOps.MinhashPrime}) AS sig_$i"
  }.mkString(", ")

  private[queries] val SigCte =
    s"""$ShingleCte,
       |h AS (SELECT doc_id, ${hash64Sql("sh")} % ${DedupOps.MinhashPrime} AS h FROM sh),
       |sig AS (SELECT doc_id, $SigCols FROM h GROUP BY 1)""".stripMargin

  /** Cycle CTE over the quantized-event `r` CTE (columns g, v, rn): `e`
    * holds exactly `n` positions per group, wrapping `rn` modulo the
    * group's row count — the SQL mirror of [[cyclePad]], an identity
    * whenever every group has >= n rows (gs.p % c == gs.p).
    */
  private[queries] def cycCte(n: Int): String =
    s"""cnt AS (SELECT g, count(*) AS c FROM r GROUP BY 1),
       |e AS (SELECT cnt.g, gs.p + 1 AS rn, r.v
       |  FROM cnt CROSS JOIN generate_series(0, ${n - 1}) gs(p)
       |  JOIN r ON r.g = cnt.g AND r.rn = (gs.p % cnt.c) + 1)""".stripMargin

  private[queries] val BandUnion = (0 until DedupOps.NumPerms / DedupOps.BandRows).map { b =>
    val ks = (0 until DedupOps.BandRows).map(r => s"sig_${b * DedupOps.BandRows + r}").mkString(", ")
    s"SELECT doc_id, $b AS band, concat_ws('_', $ks) AS bk FROM sig"
  }.mkString(" UNION ALL ")
}
