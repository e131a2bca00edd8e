package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.Text

/** Deduplication family for training-data curation — exact, MinHash-LSH,
  * SimHash, and n-gram Jaccard. Designed for the 100 TB shape:
  *
  *  - exact dedup is one hash-groupBy (map-side partial agg collapses
  *    duplicates before the shuffle);
  *  - the all-pairs Jaccard join is the *verification* step only — at scale
  *    candidates come from MinHash banding (`bandPairs`), which keeps the
  *    self-join keyed on (band, bandKey) buckets instead of O(n²);
  *  - every hash is md5-derived and engine-reproducible, so results are
  *    deterministic under any partitioning and oracle-checkable.
  */
object DedupOps {

  /** Mersenne prime 2^31−1: keeps `a*h31 + b` inside a 64-bit long. */
  val MinhashPrime = 2147483647L
  val NumPerms = 16
  val BandRows = 4

  /** Deterministic permutation parameters (Knuth multiplicative constants),
    * inlined identically into the oracle SQL.
    */
  val permA: IndexedSeq[Long] =
    (1 to NumPerms).map(i => (2654435761L * i) % MinhashPrime)
  val permB: IndexedSeq[Long] =
    (1 to NumPerms).map(i => (2246822519L * i) % MinhashPrime)

  /** Persist a subplan that the operator references more than once (self-join
    * or multi-branch reuse) — otherwise each branch recomputes the whole
    * hash/shingle subtree AND Janino recompiles its codegen. Same pattern as
    * MLlib's LSH models; no-op if the caller already persisted.
    */
  private def cached(df: DataFrame): DataFrame =
    if (df.storageLevel == StorageLevel.NONE) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df

  /** Exact dedup: canonical-content fingerprint groups with the surviving
    * (minimum) id and the duplicate count.
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup that KEEPS the surviving rows (min id per canonical
    * fingerprint) — the in-pipeline form of [[exactDupGroups]]. Shape: a
    * map-side-combinable min reduction (state = one id per distinct
    * fingerprint) plus an equi-join back on (fp, id) — never a window
    * sort over the full corpus, which is what a row_number formulation
    * would shuffle at 100 TB.
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("_fp", Text.fingerprint(col(textCol)))
    val keep = withFp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(keep, Seq("_fp", idCol)).drop("_fp")
  }

  /** Cross-source contamination report — the n-gram overlap
    * decontamination check used to keep eval/benchmark text out of
    * training corpora (the public GPT-3 appendix methodology: any shared
    * rare k-gram marks a document pair as overlapping). Per unordered
    * source pair: the shared distinct shingle-hash count and, on each
    * side, how many documents carry at least one shared shingle.
    *
    * Scale shape: (id, src, shingle-hash) distinct collapses map-side;
    * the source-level join keys on the hash against DISTINCT (src, hash)
    * rows, so per-hash fan-out is bounded by the SOURCE count, never the
    * corpus — no all-pairs anywhere. Choose k large enough that k-grams
    * are rare (8–13 in the published setups); tiny-vocabulary corpora
    * need smaller k to overlap at all.
    */
  def crossSourceOverlap(df: DataFrame, idCol: String, textCol: String,
                         srcCol: String, k: Int = 8): DataFrame = {
    val sh = cached(df
      .select(col(idCol).as("id"), col(srcCol).as("src"),
        Text.tokens(col(textCol)).as("_ws"))
      .select(col("id"), col("src"),
        explode(Text.shinglesFromTokens(col("_ws"), k)).as("sh"))
      .select(col("id"), col("src"), Text.hash64(col("sh")).as("h"))
      .distinct())
    // (src, h) distinct feeds three join sides — cache it like the other
    // shared shingle subtrees (jaccardPairs discipline)
    val srcSh = cached(sh.select("src", "h").distinct())
    val a = srcSh.toDF("src_a", "h")
    val b = srcSh.toDF("src_b", "h")
    val shared = a.join(b, "h").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(countDistinct(col("h")).as("n_shared_shingles"))
    // directed: documents of src_a carrying >= 1 shingle present in src_b
    // — cached: referenced once per direction below, and each reference
    // would otherwise re-run the hash join + distinct-count aggregation
    val docsDir = cached(sh.toDF("id", "src_a", "h")
      .join(b, "h").filter(col("src_a") =!= col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(countDistinct(col("id")).as("n_docs")))
    shared
      .join(docsDir.toDF("src_a", "src_b", "n_docs_a"), Seq("src_a", "src_b"))
      .join(docsDir.select(col("src_b").as("src_a"), col("src_a").as("src_b"),
        col("n_docs").as("n_docs_b")), Seq("src_a", "src_b"))
  }

  /** Cross-document duplicated-span coverage — the "duplicate n-gram
    * fraction" quality signal web-corpus pipelines gate on (C4/RefinedWeb
    * publish dup-{n}gram coverage thresholds): per document, how many of
    * its k-gram POSITIONS carry a shingle that also appears in more than
    * `minOtherDocs` other documents. Distinct from `crossSourceOverlap`
    * (cross-source leakage) and from Gopher repetition (within-doc): this
    * measures corpus-internal boilerplate.
    *
    * Scale shape: per-position shingles explode per doc (linear); the
    * per-shingle document frequency is one hash-groupBy over DISTINCT
    * (hash, doc); coverage is a join on the hash against that bounded
    * frequency table — no document pairing anywhere.
    */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      k: Int, minOtherDocs: Int = 1): DataFrame = {
    // positions, NOT distinct — coverage counts every occurrence slot
    val pos = cached(df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("_ws"))
      .select(col("id"), explode(Text.shinglesFromTokens(col("_ws"), k)).as("sh"))
      .select(col("id"), Text.hash64(col("sh")).as("h")))
    val docFreq = pos.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    pos.join(docFreq, "h")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") > minOtherDocs, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_spans"))
  }

  /** Exact-substring span REMOVAL (the acting half of [[dupSpanCoverage]],
    * the token-level form of Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better" §3: delete every span that also occurs
    * in another document): a token position is removed when ANY k-gram
    * covering it has document frequency > `minOtherDocs`. Coverage is a
    * single rows-window max over each document's dense position stream
    * (`[p−k+1, p]` start flags) — one window, no interval join — and the
    * cleaned text is the in-order concat of the surviving tokens.
    * Shuffles: the k-gram df aggregation (hash-bounded) + one position
    * regroup; both key on content hashes/doc ids, never pairwise.
    */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minOtherDocs: Int = 1): DataFrame = {
    val base = cached(df
      .select(col(idCol).as("id"), Text.tokens(col(textCol)).as("_ws")))
    val starts = base
      .select(col("id"), posexplode(Text.shinglesFromTokens(col("_ws"), k))
        .as(Seq("p", "sh")))
      .select(col("id"), col("p"), Text.hash64(col("sh")).as("h"))
    val docFreq = starts.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    val dupStarts = starts.join(docFreq, "h")
      .select(col("id"), col("p"),
        when(col("df") > minOtherDocs, 1).otherwise(0).as("dup"))
    val toks = base.select(col("id"), posexplode(col("_ws")).as(Seq("p", "tok")))
    val w = Window.partitionBy("id").orderBy("p").rowsBetween(-(k - 1), 0)
    toks.join(dupStarts, Seq("id", "p"), "left")
      .withColumn("c", max(coalesce(col("dup"), lit(0))).over(w))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("c")).cast("long").as("n_removed"),
        array_join(transform(sort_array(
          collect_list(when(col("c") === 0, struct(col("p"), col("tok"))))),
          s => s("tok")), " ").as("clean_text"))
  }

  /** ROW-WISE MinHash signature: the same normalization, 60-bit md5 hash,
    * 31-bit reduction, and permutation family as the column pipeline
    * (`Text.norm`/`Text.hash64` → `minhashSignatures`), computed in ONE
    * pass of plain Scala per row (min over positions ≡ min over the
    * distinct shingle set). This is the streaming-safe shape
    * `streaming/StreamingDedup` maps per micro-batch.
    *
    * Deliberately NOT expressed as nested higher-order-function columns:
    * CollapseProject merges chained projections, which inlines the
    * token/shingle/hash subtrees into all NumPerms signature lambdas and
    * re-evaluates them MULTIPLICATIVELY per element (measured 120 s for
    * 5000 docs vs ~1 s for this function — the aggregation boundary is
    * what protects the batch column pipeline from the same collapse).
    * Returns an empty array when the doc has fewer than k tokens.
    */
  def minhashSigRow(text: String, k: Int): Array[Long] = {
    // Locale.ROOT: the batch path uses Spark's locale-insensitive lower();
    // a default-locale toLowerCase would diverge on e.g. Turkish dotted-I
    val norm = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    val toks: Array[String] = if (norm.isEmpty) Array.empty else norm.split(" ")
    if (toks.length < k) return Array.empty[Long]
    val md = java.security.MessageDigest.getInstance("MD5")
    val sigs = Array.fill(NumPerms)(Long.MaxValue)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + k <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val d = md.digest(sb.toString.getBytes("UTF-8"))
      // Text.hash64 ≡ first 15 hex chars of the md5 (60 bits, positive)
      var h = 0L
      var b = 0
      while (b < 8) { // 16 hex chars, drop the lowest nibble → 15
        h = (h << 8) | (d(b) & 0xffL)
        b += 1
      }
      val h31 = (h >>> 4) % MinhashPrime
      var p = 0
      while (p < NumPerms) {
        val v = (permA(p) * h31 + permB(p)) % MinhashPrime
        if (v < sigs(p)) sigs(p) = v
        p += 1
      }
      i += 1
    }
    sigs
  }

  /** Asymmetric containment pairs: |A∩B| / |A| ≥ τ — the subsumption
    * detector Jaccard is blind to (a paragraph quoted inside a much longer
    * page has tiny Jaccard but containment ≈ 1; near-dup pipelines drop
    * the CONTAINED side). Directed output: (da contained-in db). Same
    * sparse inverted-index join as [[jaccardPairs]] with per-SIDE
    * normalization instead of union size; the same `maxDocFreq`
    * stop-shingle cut bounds the pair blowup.
    */
  def containmentPairs(shingles0: DataFrame, idCol: String, tau: Double,
                       maxDocFreq: Option[Int] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau $tau out of (0, 1]")
    val filtered = maxDocFreq.fold(shingles0) { df =>
      val rare = shingles0.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= df).select("sh")
      shingles0.join(rare, Seq("sh"), "left_semi")
    }
    val shingles = cached(filtered) // referenced 3× (sizes + both join sides)
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = shingles.select(col(idCol).as("da"), col("sh"))
    val b = shingles.select(col(idCol).as("db"), col("sh"))
    a.join(b, Seq("sh")).filter(col("da") =!= col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("da"), col("sz").as("sza")), "da")
      .withColumn("containment", col("common").cast("double") / col("sza"))
      .filter(col("containment") >= tau)
      .select(col("da"), col("db"),
        round(col("containment") + lit(1e-9), 4).as("containment"))
  }

  /** Edit-distance VERIFICATION tier over banded candidates: Levenshtein
    * similarity (1 − dist / max(len)) for exactly the pairs LSH banding
    * surfaced — never all pairs. Levenshtein is O(len²) per pair (the
    * native `levenshtein` expression, codegen'd), which is precisely why
    * it only ever runs candidate-driven; the candidate set bounds total
    * cost the same way the Jaccard verify tier's does. This is the
    * strictest near-dup confirmation: character-level, order-sensitive,
    * immune to the shingle-set blindspots (reordered paragraphs hash
    * alike, but edit distance sees them).
    */
  def editDistanceVerify(df: DataFrame, idCol: String, textCol: String,
                         candidates: DataFrame, minSim: Double): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, s"minSim $minSim out of [0,1]")
    val a = df.select(col(idCol).as("da"), col(textCol).as("_ta"))
    val b = df.select(col(idCol).as("db"), col(textCol).as("_tb"))
    candidates.join(a, "da").join(b, "db")
      .withColumn("lev", levenshtein(col("_ta"), col("_tb")))
      .withColumn("edit_sim", lit(1.0) - col("lev").cast("double") /
        greatest(length(col("_ta")), length(col("_tb"))))
      .filter(col("edit_sim") >= minSim)
      .select(col("da"), col("db"), col("lev"),
        round(col("edit_sim") + lit(1e-9), 6).as("edit_sim"))
  }

  /** Distinct (id, shingle) rows — the sparse set representation shared by
    * Jaccard and MinHash. Tokens are materialized in their own projection so
    * the shingle lambda slices a computed array instead of re-tokenizing per
    * position (see `Text.shinglesFromTokens`).
    */
  def shingleSet(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), Text.tokens(col(textCol)).as("_ws"))
      .select(col(idCol), explode(Text.shinglesFromTokens(col("_ws"), k)).as("sh"))
      .distinct()

  /** N-gram Jaccard near-dup pairs via the sparse inverted-index join:
    * docs sharing a shingle → common counts → |A∩B| / |A∪B| ≥ τ.
    * `candidates` (e.g. from `bandPairs`) restricts the pair space at scale.
    * `maxDocFreq` drops shingles present in more than that many docs before
    * ANY pairing — the standard stop-shingle cut that bounds the per-shingle
    * pair blowup to maxDocFreq² (without it, one ubiquitous shingle makes the
    * join quadratic in corpus size). Sizes are computed on the SAME filtered
    * set, so Jaccard stays internally consistent.
    */
  def jaccardPairs(shingles0: DataFrame, idCol: String, tau: Double,
                   candidates: Option[DataFrame] = None,
                   maxDocFreq: Option[Int] = None): DataFrame = {
    val filtered = maxDocFreq.fold(shingles0) { df =>
      val rare = shingles0.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= df).select("sh")
      shingles0.join(rare, Seq("sh"), "left_semi")
    }
    val shingles = cached(filtered) // referenced 3× (sizes + both join sides)
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = shingles.select(col(idCol).as("da"), col("sh"))
    val b = shingles.select(col(idCol).as("db"), col("sh"))
    // With candidates, drive the join FROM the candidate pairs — per-candidate
    // shingle intersection, O(|candidates| · shingles/doc). A semi-join on the
    // all-pairs join would still execute the full quadratic inverted index
    // before filtering (verified via .explain).
    val common = candidates match {
      case Some(c) => c.select(col("da"), col("db"))
        .join(a, Seq("da")).join(b, Seq("db", "sh"))
      case None => a.join(b, Seq("sh")).filter(col("da") < col("db"))
    }
    common
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col(idCol).as("da"), col("sz").as("sza")), "da")
      .join(sizes.select(col(idCol).as("db"), col("sz").as("szb")), "db")
      .withColumn("jac", col("common").cast("double") /
        (col("sza") + col("szb") - col("common")))
      .filter(col("jac") >= tau)
      .select("da", "db", "jac")
  }

  /** MinHash signatures: one pass over the shingle rows, NumPerms `min`
    * aggregates — no row explosion, partial agg does the heavy lifting.
    */
  def minhashSignatures(shingles: DataFrame, idCol: String): DataFrame = {
    // Materialize the md5-derived hash ONCE per row in a projection below the
    // aggregate — inlining it into the 16 min() update expressions would
    // md5 every shingle 16× in the partial agg.
    val withH = shingles.select(col(idCol),
      (Text.hash64(col("sh")) % MinhashPrime).as("h31"))
    val sigs = (0 until NumPerms).map { i =>
      min((lit(permA(i)) * col("h31") + lit(permB(i))) % MinhashPrime).as(s"sig_$i")
    }
    withH.groupBy(col(idCol)).agg(sigs.head, sigs.tail: _*)
  }

  /** Explode a signature table to its (id, band, band_key) rows — the
    * shared banding step behind within-corpus pairing ([[bandPairs]]) and
    * cross-corpus probing ([[incrementalDedup]]).
    */
  def bandKeys(signatures0: DataFrame, idCol: String): DataFrame = {
    val signatures = cached(signatures0) // referenced once per band
    val nBands = NumPerms / BandRows
    (0 until nBands).map { b =>
      val key = concat_ws("_",
        (0 until BandRows).map(r => col(s"sig_${b * BandRows + r}")): _*)
      signatures.select(col(idCol), lit(b).as("band"), key.as("band_key"))
    }.reduce(_ unionByName _)
  }

  /** LSH banding: docs sharing any (band, bandKey) bucket become candidate
    * pairs — the O(n²)-avoiding scale path for near-dup detection.
    */
  def bandPairs(signatures0: DataFrame, idCol: String): DataFrame = {
    val banded = cached(bandKeys(signatures0, idCol)) // self-joined below
    val l = banded.select(col(idCol).as("da"), col("band"), col("band_key"))
    val r = banded.select(col(idCol).as("db"), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key")).filter(col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** Incremental dedup — the production snapshot-ingest shape: classify an
    * INCOMING batch against an EXISTING corpus index instead of re-pairing
    * the whole corpus. Three tiers, cheapest first:
    *
    *  1. exact: fingerprint equi-join against the index (hash-only);
    *  2. near candidates: the incoming batch's band keys PROBE the index's
    *     band keys — a cross-side (band, key) equi-join, so cost follows
    *     the batch, not the corpus;
    *  3. verify: cross-side shingle Jaccard ≥ τ, computed ONLY for docs
    *     that appear in some candidate pair (left-semi restricted before
    *     the shingle join — the candidate set is what bounds the common-
    *     shingle blowup).
    *
    * Verdict per incoming doc: `exact` > `near` > `novel`, with the
    * minimum matching index id. At 100 TB the index side's signatures/
    * fingerprints are computed once and persisted; each ingest batch pays
    * only its own signature pass plus candidate-bounded joins.
    */
  def incrementalDedup(index: DataFrame, incoming: DataFrame, idCol: String,
                       textCol: String, shingleK: Int,
                       tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau $tau out of (0, 1]")
    val newIds = incoming.select(col(idCol))
    val exact = incoming
      .select(col(idCol), Text.fingerprint(col(textCol)).as("_fp"))
      .join(index.select(Text.fingerprint(col(textCol)).as("_fp"),
        col(idCol).as("_old")), "_fp")
      .groupBy(idCol).agg(min(col("_old")).as("exact_match"))
    val shNew = cached(shingleSet(incoming, idCol, textCol, shingleK))
    val shIdx = cached(shingleSet(index, idCol, textCol, shingleK))
    val cands = cached(
      bandKeys(minhashSignatures(shNew, idCol), idCol)
        .withColumnRenamed(idCol, "_new")
        .join(bandKeys(minhashSignatures(shIdx, idCol), idCol)
          .withColumnRenamed(idCol, "_old"), Seq("band", "band_key"))
        .select(col("_new"), col("_old")).distinct())
    val a = shNew.join(cands.select(col("_new").as(idCol)), Seq(idCol), "left_semi")
    val b = shIdx.join(cands.select(col("_old").as(idCol)), Seq(idCol), "left_semi")
    val sizeA = a.groupBy(col(idCol).as("_new")).agg(count(lit(1)).as("_na"))
    val sizeB = b.groupBy(col(idCol).as("_old")).agg(count(lit(1)).as("_nb"))
    val near = a.select(col(idCol).as("_new"), col("sh"))
      .join(b.select(col(idCol).as("_old"), col("sh")), "sh")
      .join(cands, Seq("_new", "_old"), "left_semi")
      .groupBy("_new", "_old").agg(count(lit(1)).as("_common"))
      .join(sizeA, "_new").join(sizeB, "_old")
      .filter(col("_common").cast("double") /
        (col("_na") + col("_nb") - col("_common")) >= tau)
      .groupBy(col("_new").as(idCol)).agg(min(col("_old")).as("near_match"))
    newIds.join(exact, Seq(idCol), "left").join(near, Seq(idCol), "left")
      .select(col(idCol),
        when(col("exact_match").isNotNull, "exact")
          .when(col("near_match").isNotNull, "near")
          .otherwise("novel").as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** Per-round checkpoint lifecycle shared by the iterative graph
    * algorithms: localCheckpoint (not persist) each round — persist keeps
    * the LOGICAL plan, so an iterative join would grow the lineage until
    * planning itself OOMs; checkpointing truncates it to the materialized
    * result. `checkpointDir` switches to RELIABLE checkpoints (HDFS/S3-
    * backed) so a lost executor mid-iteration replays from storage, not
    * from the whole lineage — the cluster fault-tolerance mode. The dir is
    * set unconditionally (the caller asked for THIS dir; note it updates
    * the session's checkpoint location), and superseded iterations' files
    * are deleted once no longer referenced — Spark does not clean reliable
    * checkpoints itself, so N iterations would otherwise leave N full
    * snapshots on storage.
    */
  private final class CkptCycle(spark: org.apache.spark.sql.SparkSession,
                                checkpointDir: Option[String]) {
    private val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    private val ckptFs = checkpointDir.map { _ =>
      val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
      (root.getFileSystem(sc.hadoopConfiguration), root)
    }
    private def listCkpt(): Set[String] = ckptFs.map { case (fs, root) =>
      if (!fs.exists(root)) Set.empty[String]
      else fs.listStatus(root).map(_.getPath.toString).toSet
    }.getOrElse(Set.empty)
    def checkpointed(df: DataFrame): (DataFrame, Set[String]) = {
      val before = listCkpt()
      val out = if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
      (out, listCkpt() -- before) // dirs this checkpoint created
    }
    def dropCkptDirs(dirs: Set[String]): Unit = ckptFs.foreach { case (fs, _) =>
      dirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }

  /** Connected components over near-dup pairs — the dedup *cluster
    * resolution* step (pairs → clusters → one survivor each): every node
    * ends labeled with the minimum id reachable in its component.
    *
    * Three tiers behind one bound, with one output (spec-pinned equal on
    * every fixture), so the caller never needs to know the graph's size or
    * shape:
    *  1. DRIVER. The edge set is persisted and counted once. When its label
    *     table (a `(node, root)` row of two longs per endpoint, 32 bytes an
    *     edge) fits [[graft.core.DriverBound]] — Spark's broadcast
    *     threshold, about 300k edges at the 10 MB default — the edges are
    *     collected, union-find with the minimum id as root labels them, and
    *     the labels join back to `ids` as a broadcast `LocalRelation`: no
    *     checkpoint and no propagation round, whatever the depth.
    *  2. MIN-LABEL PROBE. Above the bound, or when `checkpointDir` asks for
    *     reliable-checkpoint fault tolerance, min-label propagation —
    *     O(diameter) rounds, the fastest distributed path for the shallow
    *     clusters dedup produces — runs up to `maxIter` rounds.
    *  3. STARS. A component deeper than the probe budget abandons the probe
    *     for the large-star/small-star algorithm
    *     ([[connectedComponentsStars]], O(log²) rounds regardless of
    *     diameter) instead of throwing.
    * The probe budget deliberately equals the old fail-loud budget: every
    * graph that converged before runs the identical rounds (a shorter
    * probe was measured costing the mid-depth tier — q_semantic_dedup's
    * 9-20-round graphs — 1.7× by escalating early, while the wasted-probe
    * cost on genuinely deep graphs is bounded by maxIter cheap rounds
    * before the O(log²) path takes over). Callers that need the round
    * count (or strict fail-loud min-label semantics) use
    * [[connectedComponentsRounds]] / [[connectedComponentsStarsRounds]],
    * which are always distributed.
    */
  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame =
    tiered(ids, idCol, pairs, maxIter, checkpointDir)(
      driverLabels(ids, idCol, _), identity)

  /** [[connectedComponents]] plus the number of propagation rounds it took
    * to converge — the scale-measurement surface (rounds ≈ component
    * diameter + 1 is the algorithm's cost model; BASELINE.md "Round-11:
    * connected-components decades" records it against depth decades).
    */
  def connectedComponentsRounds(ids: DataFrame, idCol: String, pairs: DataFrame,
                                maxIter: Int = 20,
                                checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val edges = edgeSet(pairs)
    // Never return silently-wrong labels: a component with diameter > maxIter
    // would diverge from the recursive-CTE oracle. Callers with deep chains
    // raise maxIter, switch to stars, or use the adaptive default.
    try minLabelRoundsOpt(ids, idCol, edges, maxIter, checkpointDir)
    finally edges.unpersist(false)
  }.getOrElse(throw new IllegalStateException(
    s"connectedComponents did not converge after $maxIter rounds; " +
      "raise maxIter or use large-star/small-star for deep components"))

  /** The edge set `(a, b)` of `pairs`, persisted; its caller unpersists it.
    * Materialized ONCE (guide §2.4): the caller's `pairs` is typically an
    * expensive LSH-band + verify chain, which both the driver tier's
    * collect and min-label's two symmetrized union branches then read from
    * the cache. persist — NOT localCheckpoint — because a local
    * checkpoint's RDD blocks survive clearCache()/unpersist and only
    * ContextCleaner GC frees them: at a 100× clone-dense edge set (tools
    * ScaleUp sf10, tens of millions of pairs) the leaked blocks pressured
    * every later query in the session (measured: q_pq_topk 68→92 s at sf10
    * before this was a persist).
    */
  private def edgeSet(pairs: DataFrame): DataFrame =
    pairs.select(col("da").as("a"), col("db").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The tier walk of [[connectedComponents]]: `onDriver` builds the result
    * from the driver's union-find roots, `distributed` from a distributed
    * tier's `(idCol, component)` labels. The edge set is dropped before
    * either result is returned: neither references it.
    */
  private def tiered(ids: DataFrame, idCol: String, pairs: DataFrame,
                     maxIter: Int, checkpointDir: Option[String])(
      onDriver: DriverRoots => DataFrame,
      distributed: DataFrame => DataFrame): DataFrame = {
    val edges = edgeSet(pairs)
    val resolved =
      try {
        (if (checkpointDir.isEmpty) driverRoots(ids, idCol, edges) else None)
          .map(onDriver)
          .orElse(minLabelRoundsOpt(ids, idCol, edges, maxIter, checkpointDir)
            .map { case (labels, _) => distributed(labels) })
      } finally edges.unpersist(false)
    resolved.getOrElse(distributed(connectedComponentsStars(ids, idCol, pairs,
      checkpointDir = checkpointDir)))
  }

  /** A `(node, root)` relation over the pair endpoints (both long; root =
    * the minimum endpoint of the node's edge component), and `idField` the
    * id column as the min-label path types it (the common type of the id
    * and both pair columns, nullable if any of them is). The driver tier's
    * union-find gives a `local` `LocalRelation` that [[driverLabels]]
    * broadcasts; stars' converged edges give a distributed one.
    */
  private final case class DriverRoots(roots: DataFrame, idField: StructField,
                                       local: Boolean = true)

  /** The common type of `ids`' id column and every column of `ends`, or
    * None when they have none.
    */
  private def idFieldOf(ids: DataFrame, idCol: String,
                        ends: DataFrame): Option[StructField] =
    scala.util.Try(ends.columns.foldLeft(ids.select(col(idCol).as("node")))(
      (u, c) => u.union(ends.select(col(c).as("node")))).schema.head).toOption

  /** A `(node, root)` label row is two longs, and an edge adds at most two
    * rows: the driver tier's bytes per edge.
    */
  private val LabelBytesPerEdge = 32L

  private val IntegralIds: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  /** Tier 1's gate and union-find over the persisted `edges`: `None` (the
    * distributed tiers run) when the driver bound is off or too small for
    * the edge set, when the ids are not integral (the union-find keys are
    * longs) or when an endpoint is null. Counting materializes the edge
    * cache; the collect then reads it.
    */
  private def driverRoots(ids: DataFrame, idCol: String,
                          edges: DataFrame): Option[DriverRoots] = {
    val spark = ids.sparkSession
    val idField = idFieldOf(ids, idCol, edges)
    // with the bound off the edges are not counted here: the probe counts
    // them inside its width scope, as it always has
    if (!idField.exists(f => IntegralIds(f.dataType)) ||
        !graft.core.DriverBound.fits(spark, 0L) ||
        !graft.core.DriverBound.fits(spark, edges.count() * LabelBytesPerEdge))
      return None
    val rows = edges.select(col("a").cast(LongType), col("b").cast(LongType))
      .collect()
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val (nodes, roots) = minRoots(rows.map(_.getLong(0)), rows.map(_.getLong(1)))
    val schema = StructType(Seq(
      StructField("node", LongType, idField.get.nullable),
      StructField("root", LongType, nullable = false)))
    val table = java.util.Arrays.asList(
      nodes.indices.map(i => Row(nodes(i), roots(i))): _*)
    Some(DriverRoots(spark.createDataFrame(table, schema), idField.get))
  }

  /** Union-find with the minimum id as every root: the distinct endpoints
    * of the edge list `(a(i), b(i))` in ascending order and, aligned with
    * them, the minimum endpoint of each one's component. Nodes are dense
    * indices into the sorted endpoints, and a union hangs the larger root
    * under the smaller, so a component's root is its minimum.
    */
  private[operators] def minRoots(a: Array[Long],
                                  b: Array[Long]): (Array[Long], Array[Long]) = {
    val nodes = (a ++ b).distinct.sorted
    val parent = Array.range(0, nodes.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x // path compression
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    def at(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    for (i <- a.indices) {
      val (ra, rb) = (find(at(a(i))), find(at(b(i))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (nodes, nodes.indices.map(j => nodes(find(j))).toArray)
  }

  /** The `(idCol, component)` relation of tier 1 and of stars: what
    * min-label propagation converges to, as one plan over `ids` and the
    * roots (broadcast when `local`), with one shuffle. Every row of `ids` is listed (a duplicate id as often as it
    * occurs); an id no pair touches keeps its own id. An edge component is
    * labelled with the minimum id of `ids` in it, and its endpoints absent
    * from `ids` are listed once under that label (propagation reaches
    * them) — unless no id reaches the component, which then has no rows.
    */
  private def driverLabels(ids: DataFrame, idCol: String,
                           d: DriverRoots): DataFrame = {
    val present = ids.select(col(idCol).cast(LongType).as("node"))
      .join(if (d.local) broadcast(d.roots) else d.roots, Seq("node"), "left")
      .select(col("node"), coalesce(col("root"), col("node")).as("key"),
        lit(true).as("present"))
    val endpoints = d.roots.select(col("node"), col("root").as("key"),
      lit(false).as("present"))
    // both windows partition within `key`, so they share one exchange
    present.union(endpoints)
      .select(col("node"), col("present"),
        min(when(col("present"), col("node")))
          .over(Window.partitionBy("key")).as("component"),
        max(col("present")).over(Window.partitionBy("key", "node")).as("in_ids"))
      .filter(col("component").isNotNull && (col("present") || !col("in_ids")))
      .select(col("node").cast(d.idField.dataType).as(idCol), col("component"))
  }

  /** Min-label propagation core over the caller's persisted `edges`:
    * `Some(labels, rounds)` on convergence within `maxIter`, `None` when
    * the budget runs out (the adaptive entry point's escalation signal).
    * Labels are checkpointed each round, so nothing returned references
    * `edges`; on any exit but convergence (escalation or a throw) the last
    * round's checkpoint is dropped too — with a `checkpointDir` that is a
    * full label snapshot on storage.
    */
  private def minLabelRoundsOpt(ids: DataFrame, idCol: String, edges: DataFrame,
                                maxIter: Int,
                                checkpointDir: Option[String]): Option[(DataFrame, Int)] = {
    val ckpt = new CkptCycle(ids.sparkSession, checkpointDir)
    var (labels, labelDirs) = ckpt.checkpointed(
      ids.select(col(idCol).as("node"), col(idCol).cast("long").as("label")))
    var converged = false
    try {
      // One cheap count over the just-checkpointed labels sizes the loop:
      // every round re-pays the shuffle width in per-stage constants, so the
      // width follows the label-set size (capped at the session's configured
      // parallelism — production-scale graphs keep cluster width).
      val nNodes = labels.count()
      var it = 0
      val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      graft.core.AdaptiveWidth.scaled(ids.sparkSession, nNodes) {
      edges.count() // materialized inside the scaled scope
      while (!converged && it < maxIter) {
        // Convergence detection piggybacks on the propagation action itself:
        // the old labels are LEFT-joined below the checkpoint and the
        // changed-count rides an `observe` on the same job — one action per
        // round instead of propagation + a separate count job.
        val obs = org.apache.spark.sql.Observation()
        val prop = labels.join(sym, col("node") === col("a"))
          .select(col("b").as("node"), col("label"))
          .union(labels)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
          .join(labels.withColumnRenamed("label", "_old"), Seq("node"), "left")
          .observe(obs, sum(when(col("_old").isNull ||
            col("label") =!= col("_old"), 1L).otherwise(0L)).as("changed"))
          .select("node", "label")
        val (propagated, newDirs) = ckpt.checkpointed(prop)
        ckpt.dropCkptDirs(labelDirs) // old labels no longer referenced past here
        labels = propagated
        labelDirs = newDirs
        converged = obs.get("changed").asInstanceOf[Long] == 0
        it += 1
      }
      }
      if (!converged) None
      else Some((labels.withColumnRenamed("node", idCol)
        .withColumnRenamed("label", "component"), it))
    } finally if (!converged) ckpt.dropCkptDirs(labelDirs)
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond" —
    * public algorithm): each round rewires every node's neighborhood toward
    * its local minimum, collapsing any component to a star on its global
    * minimum in O(log²) rounds regardless of DIAMETER — the swap-in for
    * deep chains or web-scale skew where min-label propagation's
    * O(diameter) rounds would dominate. Same inputs and output schema as
    * `connectedComponents`; results are identical (spec-pinned): the
    * converged stars are labelled by the driver tier's rule
    * ([[driverLabels]]), so endpoints absent from `ids` and the id type
    * come out as on the other tiers.
    *
    *  - large-star: per node u, attach every LARGER neighbor to
    *    m = min(Γ(u) ∪ u);
    *  - small-star: per node u over its smaller-or-equal neighborhood N,
    *    attach N ∪ {u} to m = min(N ∪ u);
    *  - convergence when a round leaves the (count, xor-of-hash) edge
    *    summary unchanged — one cheap agg on the checkpointed round
    *    result instead of a set-equality join (a collision needs equal
    *    counts AND an exact 64-bit checksum match on different sets).
    */
  def connectedComponentsStars(ids: DataFrame, idCol: String, pairs: DataFrame,
                               maxIter: Int = 25,
                               checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsStarsRounds(ids, idCol, pairs, maxIter, checkpointDir)._1

  /** [[connectedComponentsStars]] plus its converged round count (the
    * O(log²) bound measured in BASELINE.md "Round-11: connected-components
    * decades").
    */
  def connectedComponentsStarsRounds(ids: DataFrame, idCol: String,
                                     pairs: DataFrame, maxIter: Int = 25,
                                     checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = ids.sparkSession
    val ckpt = new CkptCycle(spark, checkpointDir)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).filter(col("u") =!= col("v"))
      val m = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = dir.join(m, "u")
      withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    def summary(e: DataFrame): (Long, Long) = {
      // xor-fold: order-independent and overflow-free under ANSI mode
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var (edges, edgeDirs) = ckpt.checkpointed(
      pairs.select(col("da").cast("long").as("u"), col("db").cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var converged = false
    var it = 0
    // the returned labels reference the last round's checkpoint; any other
    // exit drops it (with a checkpointDir, a full edge snapshot on storage)
    try {
      var prev = summary(edges)
      // loop width follows the edge-set size (see minLabelRoundsOpt)
      graft.core.AdaptiveWidth.scaled(spark, prev._1) {
      while (!converged && it < maxIter) {
        val (next, newDirs) = ckpt.checkpointed(smallStar(largeStar(edges)))
        ckpt.dropCkptDirs(edgeDirs)
        edges = next
        edgeDirs = newDirs
        val cur = summary(next)
        converged = cur == prev
        prev = cur
        it += 1
      }
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponentsStars did not converge after $maxIter rounds")
    } finally if (!converged) ckpt.dropCkptDirs(edgeDirs)
    // converged edges form stars u -> root on each component's minimum
    // endpoint; with the roots themselves they label like the driver tier
    val roots = edges.select(col("u").as("node"), col("v").as("root"))
      .union(edges.select(col("v").as("node"), col("v").as("root"))).distinct()
    val idField = idFieldOf(ids, idCol, pairs.select("da", "db"))
      .getOrElse(StructField("node", LongType))
    (driverLabels(ids, idCol, DriverRoots(roots, idField, local = false)), it)
  }

  /** Dedup resolution: (id, component, is_survivor) — survivor = min id per
    * cluster; singletons survive trivially.
    */
  def resolveClusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    connectedComponents(ids, idCol, pairs)
      .withColumn("is_survivor", col(idCol) === col("component"))

  /** Entity resolution (record linkage): blocking → pairwise verify →
    * cluster. Candidate pairs form ONLY within a blocking key (the first
    * character of the lowercased name here; production composites add
    * phonetic/prefix keys the same way), so the pair join is an
    * equi-join on the block — never all-pairs. Jaro-Winkler verifies
    * each candidate once in a typed map, thresholded on the ROUNDED
    * score (the cross-engine boundary discipline every similarity gate
    * in this repo follows), and connected components assign each record
    * its entity = min reachable id. At 100 TB the block key bounds the
    * quadratic term to block occupancy — the skewed-block case is the
    * standard AQE/salting story.
    */
  def resolveEntities(df: DataFrame, idCol: String, nameCol: String,
                      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val e = df.select(col(idCol).cast("long").as("id"),
      col(nameCol).as("name"),
      substring(lower(col(nameCol)), 1, 1).as("_blk"))
    val edges = e.as("a").join(e.as("b"),
        col("a._blk") === col("b._blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("da"), col("a.name").as("na"),
        col("b.id").as("db"), col("b.name").as("nb"))
      .as[(Long, String, Long, String)]
      .map { case (da, na, db, nb) =>
        (da, db, graft.functions.StringSim.jaroWinkler(na, nb)) }
      .toDF("da", "db", "_jw")
      .filter(round(col("_jw") + lit(1e-9), 6) >= threshold)
      .select("da", "db")
    connectedComponents(e.select(col("id")), "id", edges)
      .withColumnRenamed("component", "entity")
  }

  /** Cluster resolution with a QUALITY-BASED survivor: within each
    * connected component the row with the highest `scoreCol` survives
    * (deterministic min-id tie-break) — the policy real dedup pipelines
    * want (keep the longest / highest-quality copy), where [[resolveClusters]]'
    * min-id pick is arbitrary. One extra per-component window over rows
    * already clustered; component sizes bound the window state.
    */
  def resolveClustersBest(ids: DataFrame, idCol: String, pairs: DataFrame,
                          scoreCol: String): DataFrame = {
    def best(clustered: DataFrame, cluster: Column): DataFrame = clustered
      .withColumn("_rk", row_number().over(Window.partitionBy(cluster)
        .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .withColumn("is_survivor", col("_rk") === 1)
      .drop("_rk")
    tiered(ids.select(col(idCol)), idCol, pairs, 20, None)(
      d => { // one pass over `ids`: label and rank under one partitioning
        val id = col(idCol).cast(LongType)
        val keyed = ids
          .join(broadcast(d.roots.toDF("_node", "_root")), id === col("_node"), "left")
          .withColumn("_key", coalesce(col("_root"), id))
          .withColumn("component", min(id).over(Window.partitionBy("_key")))
        best(keyed, col("_key")).select(
          (col(idCol).cast(d.idField.dataType).as(idCol) +: col("component") +:
            ids.columns.filter(_ != idCol).map(col) :+ col("is_survivor")): _*)
      },
      // a duplicated id has one label row per occurrence: join one of them
      cc => best(cc.distinct().join(ids, idCol :: Nil), col("component")))
  }

  /** SimHash: per-token hash bits weighted ±1 and summed per bit position;
    * the fingerprint packs the positive-sum bits. One groupBy with `bits`
    * conditional sums — no explosion beyond the token rows.
    *
    * Default is 64-bit: with `maxHamming = 3` pigeonhole banding that gives
    * 16-bit band keys (65 k buckets/band) instead of 32-bit's 8-bit keys
    * (256 buckets/band) — the difference between a bucket self-join that
    * stays sparse at 10⁹ docs and one that degenerates toward O(n²/256).
    * (`Text.hash64` carries 60 effective bits, so bits 60-63 of the pack are
    * structurally zero — the top band still spans 4096 distinct keys.)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 64): DataFrame = {
    val toks = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("h", Text.hash64(col("tok")))
    val bitSums = (0 until bits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"b_$j")
    }
    val packed = (0 until bits).map { j =>
      when(col(s"b_$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHamming`, banded: by
    * pigeonhole, two signatures within h bits agree EXACTLY on at least one
    * of h+1 disjoint bit bands, so candidates come from a (band, band_key)
    * bucket self-join — never all-pairs — and only candidates pay the exact
    * popcount verify. The same shape as MinHash banding / multi-table LSH:
    * the 100 TB-safe scheme for simhash dedup.
    */
  def simhashPairs(signatures0: DataFrame, idCol: String,
                   maxHamming: Int = 3, bits: Int = 64): DataFrame = {
    require(maxHamming >= 0 && maxHamming + 1 <= bits,
      s"need ${maxHamming + 1} bands from $bits bits")
    val signatures = cached(signatures0)
    // Effective-width guard: signatures built NARROWER than `bits` (e.g.
    // 32-bit fingerprints under the 64-bit default) would turn every band
    // above the real width into a constant-key bucket — a silent
    // whole-corpus self-join. Rebanding over the effective width is
    // lossless: bits above it are identical across the corpus (every pair
    // trivially agrees there), and pigeonhole over the low bands still
    // covers ≤ maxHamming flips. One tiny agg over the cached signatures.
    val bounds = signatures.agg(min(col("simhash")), max(col("simhash"))).first()
    val effBits =
      if (bounds.isNullAt(0)) bits // empty corpus: banding is vacuous
      else if (bounds.getLong(0) < 0) 64
      else math.max(maxHamming + 1,
        64 - java.lang.Long.numberOfLeadingZeros(bounds.getLong(1) | 1L))
    val bandedBits = math.min(bits, effBits)
    val nBands = maxHamming + 1
    val w = bandedBits / nBands
    val banded = (0 until nBands).map { b =>
      val lo = b * w
      val width = if (b == nBands - 1) bandedBits - lo else w
      val mask = if (width >= 64) -1L else (1L << width) - 1
      signatures.select(col(idCol), lit(b).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("band_key"))
    }.reduce(_ unionByName _)
    val cand = banded.select(col("band"), col("band_key"), col(idCol).as("ia"))
      .join(banded.select(col("band"), col("band_key"), col(idCol).as("ib")),
        Seq("band", "band_key"))
      .filter(col("ia") < col("ib"))
      .select("ia", "ib").distinct()
    cand
      .join(signatures.select(col(idCol).as("ia"), col("simhash").as("sa")), "ia")
      .join(signatures.select(col(idCol).as("ib"), col("simhash").as("sb")), "ib")
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("ia", "ib", "hamming")
  }

  /** Passage-level exact dedup (paragraph dedup at fixed token
    * granularity — the repeated-boilerplate detector): each document is
    * cut into consecutive `width`-token passages (trailing remainder
    * dropped), passages are hashed, and each document reports how many of
    * its passages occur more than once ACROSS the whole corpus.
    *
    * Scale shape: passage fan-out is tokens/width per document (linear),
    * the occurrence count is one hash-groupBy on the passage hash, and the
    * count joins back on that same hash — nothing quadratic, no text
    * re-materialization (only hashes shuffle).
    */
  def passageStats(df: DataFrame, idCol: String, textCol: String,
                   width: Int): DataFrame = {
    require(width > 0, s"passage width $width must be positive")
    val passages = df
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= width) // sequence(0,-1) would DESCEND
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          floor(size(col("_toks")) / width).cast("int") - 1)).as("_i"))
      .select(col(idCol),
        md5(concat_ws(" ",
          slice(col("_toks"), col("_i") * width + 1, lit(width)))).as("_h"))
    val counts = passages.groupBy("_h").agg(count(lit(1)).as("_n"))
    passages.join(counts, "_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup"))
  }
}
