package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.DedupOps

/** Streaming MinHash-LSH near-duplicate CANDIDATE detection — the
  * continuous-ingestion face of the batch `minhashSignatures → bandPairs`
  * path (SURVEY §2.7 composes the reference's batch-only dedup semantics
  * with Structured Streaming the same way `StreamingStats` does for the
  * stats filters).
  *
  * Shape: signatures are a single-pass typed map per row
  * (`DedupOps.minhashSigRow` — no shuffle, no aggregation; see its note on
  * why nested HOF columns are the WRONG shape here), banded per row, and
  * the only stateful
  * operator is one `flatMapGroupsWithState` keyed by (band, bucket): state
  * holds the ids seen in that bucket inside the watermark horizon, each
  * arrival emits candidate pairs against them, and event-time timeouts
  * evict buckets whose newest member has aged past the delay — state is
  * O(rate × delay), never O(corpus). Emitted pairs are per colliding band;
  * downstream verification (exact Jaccard / cosine on the candidate set)
  * is the same batch discipline as `bandPairs → jaccardPairs`.
  *
  * On a BATCH frame the same banding runs through the `bandPairs`-style
  * collision join instead of state (the Dataset contract: one semantics,
  * two execution shapes).
  */
object StreamingDedup {

  /** (ia, ib, band) candidate rows; `ia < ib`, one row per colliding band.
    * `df` must carry `idCol` castable to long, `textCol`, and an event-time
    * `tsCol` (timestamp) when streaming.
    */
  def nearDupCandidates(df: DataFrame, idCol: String, textCol: String,
                        tsCol: String, k: Int,
                        watermarkDelayMs: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nBands = DedupOps.NumPerms / DedupOps.BandRows
    val buckets = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until DedupOps.BandRows).map(r =>
          element_at(col("_sig"), b * DedupOps.BandRows + r + 1)): _*).as("bucket"))
    }: _*)
    val sigs = df
      .select(col(idCol).cast("long").as("id"), col(tsCol).as("ts"),
        col(textCol).as("text"))
      .as[(Long, java.sql.Timestamp, String)]
      .map { case (id, ts, text) => (id, ts, DedupOps.minhashSigRow(text, k)) }
      .toDF("id", "ts", "_sig")
    // the watermark goes AFTER the typed map: the event-time marker does
    // not propagate through an object-serialization boundary
    val base = if (df.isStreaming)
      sigs.withWatermark("ts", s"$watermarkDelayMs milliseconds") else sigs
    val banded = base
      .filter(size(col("_sig")) > 0)
      .select(col("id"), col("ts"), explode(buckets).as("bb"))
      .select(col("id"), col("ts"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    if (!df.isStreaming) {
      val l = banded.select(col("band"), col("bucket"), col("id").as("ia"))
      val r = banded.select(col("band"), col("bucket"), col("id").as("ib"))
      l.join(r, Seq("band", "bucket")).filter(col("ia") < col("ib"))
        .select("ia", "ib", "band")
    } else {
      banded.as[(Long, java.sql.Timestamp, Int, String)]
        .groupByKey(x => (x._3, x._4))
        .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(emitPairs(watermarkDelayMs) _)
        .toDF("ia", "ib", "band")
    }
  }

  /** Per-bucket state transition: pair each arrival against the bucket's
    * watermark-live members, then extend the eviction deadline to the
    * newest event time + delay.
    */
  private def emitPairs(delayMs: Long)(
      key: (Int, String),
      rows: Iterator[(Long, java.sql.Timestamp, Int, String)],
      state: GroupState[List[Long]]): Iterator[(Long, Long, Int)] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      var seen = state.getOption.getOrElse(Nil)
      val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Int)]
      var maxTs = Long.MinValue
      rows.foreach { case (id, ts, band, _) =>
        maxTs = math.max(maxTs, ts.getTime)
        seen.foreach { s =>
          if (s != id) out += ((math.min(s, id), math.max(s, id), band))
        }
        if (!seen.contains(id)) seen = id :: seen
      }
      state.update(seen)
      if (maxTs != Long.MinValue) state.setTimeoutTimestamp(maxTs + delayMs)
      out.iterator
    }
  }

  /** Streaming snapshot-ingest dedup — the continuous face of
    * [[graft.operators.DedupOps.incrementalDedup]]'s first two tiers: an
    * INCOMING stream is classified against a STANDING batch index with
    * nothing but STATELESS stream-static equi-joins, so the query runs in
    * append mode with no watermark and no state store at all — the index
    * side (fingerprints + LSH band keys) is computed once per (micro)batch
    * plan from the static frame, and per-arrival cost follows the batch,
    * never the corpus. Emits one row per (incoming id, index id, tier)
    * match: tier `exact` = normalized-md5 fingerprint equality, tier
    * `near` = a colliding MinHash band (candidate grade — the Jaccard
    * VERIFY tier stays the batch discipline downstream of the drain,
    * exactly like `bandPairs → jaccardPairs`). Works unchanged on a batch
    * `incoming` frame (one semantics, two execution shapes).
    */
  def incrementalCandidates(incoming: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            k: Int): DataFrame = {
    val idxKeys = indexKeys(index, idCol, textCol, k)
    arrivalKeys(incoming, idCol, textCol, k)
      .join(idxKeys, Seq("tier", "key"))
      .select(col("id"), col("old_id"), col("tier"))
  }

  /** Standing-index key rows: (old_id, key, tier) — exact = normalized-md5
    * fingerprint, near = each MinHash band key (the batch aggregation
    * shape; the index side is batch by contract).
    */
  private def indexKeys(index: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val idxFp = index.select(col(idCol).cast("long").as("old_id"),
      graft.functions.Text.fingerprint(col(textCol)).as("key"),
      lit("exact").as("tier"))
    val idxBands = DedupOps.bandKeys(
      DedupOps.minhashSignatures(
        DedupOps.shingleSet(index, idCol, textCol, k), idCol), idCol)
      .select(col(idCol).cast("long").as("old_id"),
        concat_ws("|", col("band"), col("band_key")).as("key"),
        lit("near").as("tier"))
    idxFp.unionByName(idxBands)
  }

  /** Standing-index SIGNATURE rows: (old_id, key = null, tier = "sig",
    * sig = the full MinHash signature array) — one row per doc that has
    * one (≥ k tokens), the batch aggregation shape. These rows ride the
    * same index table as the key rows (their null key never equi-matches
    * a probe) and are what the in-loop VERIFY tier scores candidates
    * against: the signature-component agreement fraction is the standard
    * unbiased MinHash estimate of Jaccard, O(NumPerms) per candidate,
    * self-contained in the index artifact (no corpus re-read). 128 bytes
    * per doc at NumPerms = 16.
    */
  private def indexSigRows(index: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    val sigArr = array(
      (0 until DedupOps.NumPerms).map(i => col(s"sig_$i")): _*)
    DedupOps.minhashSignatures(
      DedupOps.shingleSet(index, idCol, textCol, k), idCol)
      .select(col(idCol).cast("long").as("old_id"),
        lit(null).cast("string").as("key"), lit("sig").as("tier"),
        sigArr.as("sig"))
  }

  /** Key rows padded to the 4-column index schema (null sig). */
  private def withNullSig(keys: DataFrame): DataFrame =
    keys.select(col(keys.columns.head), col("key"), col("tier"),
      lit(null).cast("array<long>").as("sig"))

  /** Arrival key rows: (id, key, tier) — same key space as [[indexKeys]],
    * but signatures via the single-pass typed map per row (the streaming
    * shape — no aggregation; see [[nearDupCandidates]]).
    */
  private def arrivalKeys(incoming: DataFrame, idCol: String,
                          textCol: String, k: Int): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val nBands = DedupOps.NumPerms / DedupOps.BandRows
    val fpRows = incoming.select(col(idCol).cast("long").as("id"),
      graft.functions.Text.fingerprint(col(textCol)).as("key"),
      lit("exact").as("tier"))
    val sigRows = incoming
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, DedupOps.minhashSigRow(text, k)) }
      .toDF("id", "_sig")
      .filter(size(col("_sig")) > 0)
      .select(col("id"), explode(array((0 until nBands).map { b =>
        concat_ws("|", lit(b),
          concat_ws("_", (0 until DedupOps.BandRows).map(r =>
            element_at(col("_sig"), b * DedupOps.BandRows + r + 1)): _*))
      }: _*)).as("key"), lit("near").as("tier"))
    fpRows.unionByName(sigRows)
  }

  /** Arrival rows in the 4-column index schema — the folding loop's batch
    * face: exact fingerprint rows (column md5, one narrow scan), near
    * band-key rows and one signature row per doc (both derived from the
    * same single-pass typed-map signature frame, the streaming shape).
    * The signature row is what the verify tier scores and what folds into
    * the index so FUTURE batches can verify against this doc.
    */
  private def arrivalRows(incoming: DataFrame, idCol: String,
                          textCol: String, k: Int): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val nBands = DedupOps.NumPerms / DedupOps.BandRows
    val fpRows = incoming.select(col(idCol).cast("long").as("id"),
      graft.functions.Text.fingerprint(col(textCol)).as("key"),
      lit("exact").as("tier"), lit(null).cast("array<long>").as("sig"))
    val sigBase = incoming
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, DedupOps.minhashSigRow(text, k)) }
      .toDF("id", "_sig")
      .filter(size(col("_sig")) > 0)
    val nearRows = sigBase
      .select(col("id"), explode(array((0 until nBands).map { b =>
        concat_ws("|", lit(b),
          concat_ws("_", (0 until DedupOps.BandRows).map(r =>
            element_at(col("_sig"), b * DedupOps.BandRows + r + 1)): _*))
      }: _*)).as("key"), lit("near").as("tier"),
        lit(null).cast("array<long>").as("sig"))
    val sigRows = sigBase.select(col("id"),
      lit(null).cast("string").as("key"), lit("sig").as("tier"),
      col("_sig").as("sig"))
    fpRows.unionByName(nearRows).unionByName(sigRows)
  }

  // ------------------------- folding ingestion (standing-index refresh)

  /** Folding snapshot-ingest dedup: like [[incrementalCandidates]] but the
    * standing index is a PARQUET DIRECTORY that each micro-batch appends
    * its NOVEL arrivals' keys back into, so batch N+1 dedups against
    * batch N (the production ingestion loop; the static-index variant
    * classifies but never learns). Per batch, inside `foreachBatch`:
    *
    *  1. match arrivals against the index snapshot (exact + near tiers,
    *     stateless equi-joins — identical semantics to the static path)
    *     plus WITHIN-batch exact matches (fingerprint groups keep the
    *     min-id winner; losers match it). Within-batch near candidates
    *     are [[nearDupCandidates]]'s job, not this path's (documented).
    *  2. install the match rows, then the novel arrivals' keys (novel =
    *     no exact match anywhere; near candidates do NOT block folding —
    *     they are candidates pending the batch verify tier), each via
    *     stage-then-rename under a `b<batchId>_` file prefix — the ledger
    *     commit discipline.
    *
    * EXACTLY-ONCE across restarts: `foreachBatch` replays a batch id
    * after a crash; each apply first REMOVES its own `b<batchId>_` files
    * from both directories, so a half-applied batch is wiped and
    * re-installed rather than doubled. Readers between the wipe and the
    * re-install see the pre-batch state — the same transient the ledger's
    * compact() documents. State is O(index keys) on disk, O(batch) in
    * memory; nothing driver-side scales with the corpus.
    */
  def foldingIncrementalDedup(incoming: DataFrame, idCol: String,
                              textCol: String, k: Int, indexDir: String,
                              matchesDir: String, checkpointDir: String,
                              maxIndexFiles: Int = 64,
                              verifyTau: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIncrementalBatch(batch, batchId, idCol, textCol, k,
          indexDir, matchesDir, maxIndexFiles, verifyTau)
      }
      .start()

  /** Seed the standing index directory with EVERY key of `index` (the
    * initial corpus — no dedup applied; installed under the `seed_`
    * prefix so batch replay hygiene never touches it), plus one
    * signature row per doc for the verify tier.
    */
  def seedIndex(index: DataFrame, idCol: String, textCol: String, k: Int,
                indexDir: String): Unit = {
    // Size the seed install to the corpus (guide §6): unscaled, the union
    // of the two session-width aggregates fans a tiny seed into one file
    // per shuffle partition per branch (measured 161 files at sf0.1),
    // and every subsequent micro-batch re-lists and the first fold
    // re-reads that many footers. One count per SEED (amortized over the
    // stream's whole lifetime, never per batch) derives the width the
    // same way the CC loops do; at production scale the cap keeps
    // cluster-width parallelism and ~rows-per-partition-sized files.
    val rows = index.count()
    val w = graft.core.AdaptiveWidth.forRows(index.sparkSession, rows)
    graft.core.AdaptiveWidth.withWidth(index.sparkSession, w) {
      install(withNullSig(indexKeys(index, idCol, textCol, k))
        .unionByName(indexSigRows(index, idCol, textCol, k)).coalesce(w),
        indexDir, "seed_")
    }
  }

  /** One batch of the folding loop — public so a batch backfill can run
    * the identical transition without a streaming query. Idempotent per
    * (batch, batchId): replays wipe their own installs first, and the
    * index fold ([[maintainIndexDir]]) runs between the wipe and the
    * read, folding only batches STRICTLY BELOW this one (committed by
    * the foreachBatch contract) so replay hygiene stays intact.
    *
    * `verifyTau` > 0 turns on the in-loop VERIFY tier: near candidates
    * whose arrival/index signature-component agreement (the unbiased
    * MinHash Jaccard estimate) reaches the threshold install as tier
    * `near_verified`; candidates below it are REJECTED (a band collision
    * with low estimated Jaccard); candidates where either side lacks a
    * signature stay tier `near` (candidate grade). Exact-Jaccard
    * re-verification over the original corpus remains the batch
    * discipline downstream (`DedupOps.jaccardPairs`); this tier is the
    * index-self-contained filter that runs at ingestion cadence, O(16)
    * per candidate.
    *
    * CHOOSING tau (measured curve: BASELINE.md "Verify-tier tau operating
    * curve", labeled fixture, J ≥ 0.5 ground truth): the default
    * 8/16 keeps 99% of candidate dups at 0.77 precision (its false
    * positives are mostly J ∈ [0.35, 0.5) genuine near-dups); for a
    * ≥ 0.85 precision target use 13/16 and accept ~38% candidate
    * false-rejects. END-TO-END recall is governed by the 4×4 banding
    * S-curve (pairs at J just over 0.5 mostly never become candidates)
    * — tune bands/rows for coverage, tau only for candidate precision.
    */
  def applyIncrementalBatch(batch: DataFrame, batchId: Long, idCol: String,
                            textCol: String, k: Int, indexDir: String,
                            matchesDir: String, maxIndexFiles: Int = 64,
                            verifyTau: Double = 0.0): Unit = {
    val spark = batch.sparkSession
    Seq(indexDir, matchesDir).foreach(removeBatchFiles(spark, _, batchId))
    maintainIndexDir(spark, indexDir, batchId, maxIndexFiles)
    val index = readIndexDir(spark, indexDir)
    val arr = arrivalRows(batch, idCol, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = arr.filter(col("tier") =!= "sig").select("id", "key", "tier")
    try {
      val idxMatches = keys.join(index, Seq("tier", "key"))
        .select(col("id"), col("old_id"), col("tier"))
      val fp = keys.filter(col("tier") === "exact").select("id", "key")
      val withinMatches = fp
        .join(fp.groupBy("key").agg(min("id").as("old_id")), "key")
        .filter(col("id") > col("old_id"))
        .select(col("id"), col("old_id"), lit("exact").as("tier"))
      val matches0 = idxMatches.unionByName(withinMatches)
      val matches =
        if (verifyTau <= 0.0) matches0
        else {
          val asig = arr.filter(col("tier") === "sig")
            .select(col("id"), col("sig").as("_as"))
          val isig = index.filter(col("tier") === "sig")
            .select(col("old_id"), col("sig").as("_is"))
          val est = aggregate(
            zip_with(col("_as"), col("_is"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v)
            .cast("double") / lit(DedupOps.NumPerms.toDouble)
          matches0.filter(col("tier") =!= "near").unionByName(
            matches0.filter(col("tier") === "near")
              .join(asig, Seq("id"), "left")
              .join(isig, Seq("old_id"), "left")
              .withColumn("_est",
                when(col("_as").isNotNull && col("_is").isNotNull, est))
              .filter(col("_est").isNull || col("_est") >= verifyTau)
              .withColumn("tier", when(col("_est").isNotNull,
                lit("near_verified")).otherwise(col("tier")))
              .select("id", "old_id", "tier"))
        }
      install(matches, matchesDir, s"b${batchId}_")
      val dupIds = matches.filter(col("tier") === "exact")
        .select("id").distinct()
      val novelRows = arr.join(dupIds, Seq("id"), "left_anti")
        .select(col("id").as("old_id"), col("key"), col("tier"), col("sig"))
      install(novelRows, indexDir, s"b${batchId}_")
    } finally { arr.unpersist(); () }
  }

  /** Index-directory snapshot over the COMMITTED read set (see
    * [[committedIndexFiles]]) — schema-typed empty frame on cold start
    * (an empty standing index classifies every arrival novel).
    */
  private def readIndexDir(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = committedIndexFiles(fs, p)._1
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], IndexSchema)
    else spark.read.schema(IndexSchema).parquet(files.map(_.toString): _*)
  }

  /** The index table's versioned schema contract (requested explicitly on
    * every read — O(1) in file count, the ledger's static-schema
    * discipline; `sig` reads as null from files that predate it).
    */
  private val IndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("old_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("tier",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))

  // -------------------------- standing-index maintenance (fold/compact)

  private val FoldRe =
    java.util.regex.Pattern.compile("fold(\\d+)_([0-9a-f]{8})_p(\\d+)of(\\d+)\\.parquet")
  private val BatchFileRe = java.util.regex.Pattern.compile("b(\\d+)_.*\\.parquet")

  /** Test seam: runs between the fold's install renames and its delete
    * pass, so specs can deterministically pin the two interleaves the
    * FoldSteal soak only hits probabilistically — a lease steal (the
    * delete fence must abort) and a rival install landing post-snapshot
    * (the snapshot-scoped delete must leave it untouched). No-op in
    * production.
    */
  private[graft] var postFoldInstallHook: () => Unit = () => ()

  /** The COMMITTED read set of an index directory, plus the fold
    * generation it reflects (−1 when no complete fold exists).
    *
    * File kinds: `seed_*` (initial corpus), `b<id>_*` (batch installs),
    * `fold<gen>_<attempt>_p<i>of<n>` (compacted generations — gen is the
    * batch id whose maintenance pass folded everything before it). A fold
    * attempt is COMPLETE iff all n parts are present — multi-file
    * installs aren't atomic, so completeness is encoded in the NAMES and
    * a crash mid-install leaves an invisible partial attempt while the
    * sources stay live (they are deleted only after the last rename).
    * Readers take: the max complete generation's parts (max attempt id
    * breaks the tie between two identical completed attempts of one
    * replayed generation), plus `b<i>_` files with i ≥ gen (gen's own
    * batch installs AFTER its fold), plus seed files only when no fold
    * exists. Everything else — older folds, folded batches, seed under a
    * fold, partial attempts — is superseded: present on disk until the
    * next fold janitors it, but never read, so a crash between a fold's
    * install and its source deletes can DUPLICATE files, never rows in
    * any read.
    */
  private[graft] def committedIndexFiles(fs: org.apache.hadoop.fs.FileSystem,
                                         p: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.Path], Long) = {
    if (!fs.exists(p)) return (Nil, -1L)
    val files = fs.listStatus(p).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
    val folds = files.flatMap { f =>
      val m = FoldRe.matcher(f.getName)
      if (m.matches())
        Some((m.group(1).toLong, m.group(2), m.group(3).toInt,
          m.group(4).toInt, f))
      else None
    }
    val complete = folds.groupBy(x => (x._1, x._2)).filter {
      case (_, parts) =>
        val n = parts.head._4
        parts.forall(_._4 == n) && parts.map(_._3).distinct.size == n
    }
    def batchId(f: org.apache.hadoop.fs.Path): Option[Long] = {
      val m = BatchFileRe.matcher(f.getName)
      if (m.matches()) Some(m.group(1).toLong) else None
    }
    if (complete.isEmpty)
      (files.filter(f => f.getName.startsWith("seed_") ||
        batchId(f).isDefined), -1L)
    else {
      val (gen, attempt) = complete.keys.max
      val chosen = complete((gen, attempt)).map(_._5)
      (chosen ++ files.filter(f => batchId(f).exists(_ >= gen)), gen)
    }
  }

  /** Fold the standing index when its committed read set exceeds
    * `maxFiles` — the ingestion loop's compaction (without it the index
    * accretes one file per batch forever: O(batches) files listed and
    * re-planned EVERY batch, the one-file-per-commit wall the ledger's
    * compact() kills for commit tables). Runs inside the batch
    * transition, after the replay wipe and before the index read:
    *
    *  - folds ONLY committed state — seed, complete folds, and `b<i>_`
    *    files with i < currentBatchId (foreachBatch guarantees batches
    *    below the current id are committed; the current batch's own
    *    files were just wiped) — so replay hygiene is untouched;
    *  - installs the merged rows as ONE new generation
    *    `fold<currentBatchId>_<attempt>_p<i>of<n>` (completeness in the
    *    names — see [[committedIndexFiles]]), then deletes EXACTLY its
    *    locked snapshot plus identifiable stale artifacts (older/partial
    *    fold attempts, the superseded seed, pre-generation batch files) —
    *    never "everything not the new fold", so an install that landed
    *    AFTER the snapshot (a rival backfill's `b<i>_` files, a newer
    *    writer's fold) survives unfolded rather than being destroyed;
    *  - holds `<dir>/_maintenance/fold.lock` through
    *    [[graft.core.LockProvider.withLease]] and REFUSES (skips, retried
    *    next batch) when a rival maintainer holds it — the streaming query
    *    is the only writer by contract, but a manual backfill or external
    *    maintenance call must not interleave destructively. The lease's
    *    fence runs before the install renames and again before the delete
    *    pass;
    *  - treats `b<i>_` files with i ≥ currentBatchId as a NEWER writer
    *    incarnation's installs (the wipe at the top of this batch
    *    removed our own): visible at snapshot time → REFUSES the fold
    *    (an old-watermark backfill skips; the right-watermark fold runs
    *    later); appearing mid-fold → ABORTS before install (we are the
    *    zombie the fence exists for);
    *  - skips when this generation already folded (a replayed batch
    *    after a crash-between-fold-and-install: the complete fold<B>
    *    attempt IS the committed pre-batch state).
    *
    * Steady state is one LIST per batch (the threshold check) — lock-free
    * and job-free below threshold, the maintainIfNeeded discipline.
    * Returns true iff a fold ran; throws IllegalStateException on a
    * fence loss (nothing destructive has happened — the streaming query
    * fails the batch and the replay re-runs it cleanly).
    */
  def maintainIndexDir(spark: SparkSession, indexDir: String,
                       currentBatchId: Long, maxFiles: Int = 64,
                       lockTtlMs: Long = 10L * 60 * 1000): Boolean = {
    if (maxFiles <= 0) return false
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val (probe, probeGen) = committedIndexFiles(fs, p)
    if (probe.size <= maxFiles || probeGen == currentBatchId) return false
    val lock = new org.apache.hadoop.fs.Path(
      s"$indexDir/_maintenance/fold.lock")
    // b<i>_ with i ≥ currentBatchId: the wipe removed our own, so any
    // such file was installed by a NEWER writer incarnation — this
    // fold's watermark is stale (we are the zombie).
    def newerWriterVisible(): Boolean =
      fs.listStatus(p).iterator.exists { s =>
        val m = BatchFileRe.matcher(s.getPath.getName)
        s.isFile && m.matches() && m.group(1).toLong >= currentBatchId
      }
    graft.core.LockProvider.withLease(fs, lock, lockTtlMs, "fold lock",
        "the next fold's janitor") { fence =>
      val (snap, gen) = committedIndexFiles(fs, p) // re-list under the lock
      // REFUSE (skip — a fold at the right watermark will run later)
      // when newer batch installs are already visible at snapshot time:
      // an old-batch backfill or a stale replay must not fold at a
      // superseded watermark
      if (snap.size <= maxFiles || gen == currentBatchId ||
          newerWriterVisible()) false
      else {
        // janitor crashed-fold staging first (single writer + lock held:
        // nothing in _staging can be live)
        val staging = new org.apache.hadoop.fs.Path(s"$indexDir/_staging")
        if (fs.exists(staging)) fs.delete(staging, true)
        val attempt = java.util.UUID.randomUUID().toString
          .replace("-", "").take(8)
        val tmp = new org.apache.hadoop.fs.Path(
          s"$indexDir/_staging/fold_$attempt")
        // Size the fold output from the snapshot's known bytes (guide §6):
        // the fold plan has no shuffle, so AQE cannot coalesce it — without
        // this a fold of many tiny batch installs keeps the oversharded
        // layout instead of compacting it. Target bytes/file rides the
        // streaming state conf; floor 1 (a compaction may legitimately
        // produce one file), no cap needed (bytes-derived).
        val snapBytes = snap.iterator.map(f =>
          try fs.getFileStatus(f).getLen catch { case _: Throwable => 0L }).sum
        val targetBytes = spark.conf
          .getOption(graft.streaming.StatePartitions.BytesPerPartitionKey)
          .map(_.toLong).getOrElse(64L * 1024 * 1024)
        val foldParts = math.max(1L,
          math.ceil(snapBytes.toDouble / targetBytes.toDouble).toLong).toInt
        spark.read.schema(IndexSchema)
          .parquet(snap.map(_.toString): _*)
          .coalesce(foldParts)
          .write.mode("overwrite").parquet(tmp.toString)
        val parts = fs.listStatus(tmp).iterator
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath).toSeq
        val n = parts.size
        fence("fold install")
        if (newerWriterVisible())
          throw new IllegalStateException(
            s"fold of $indexDir aborted mid-fold install: batch files with " +
              s"id >= $currentBatchId appeared since the locked snapshot — " +
              "a newer writer incarnation is live; this fold's watermark " +
              "is stale")
        parts.zipWithIndex.foreach { case (f, i) =>
          require(fs.rename(f, new org.apache.hadoop.fs.Path(p,
            s"fold${currentBatchId}_${attempt}_p${i + 1}of$n.parquet")),
            s"fold install into $indexDir failed")
        }
        fs.delete(tmp, true)
        postFoldInstallHook()
        // SNAPSHOT-SCOPED delete: exactly the folded sources plus artifacts
        // identifiable as stale from the names alone — (a) fold attempts of
        // generations ≤ ours that aren't the one just installed (older
        // generations, partial/duplicate attempts: crash leftovers — no
        // LIVE rival can be installing one while we hold the fenced lock),
        // (b) seed files (superseded by ANY complete fold, and ours now
        // exists), (c) `b<i>_` files with i < the snapshot generation
        // (superseded before we started — never readable). A `b<i>_` file
        // NOT in the snapshot with i ≥ gen is a rival install that landed
        // after the snapshot: it SURVIVES to be folded by a later pass.
        fence("fold delete")
        val snapNames = snap.map(_.getName).toSet
        fs.listStatus(p).iterator
          .filter { s =>
            val name = s.getPath.getName
            s.isFile && name.endsWith(".parquet") && {
              snapNames.contains(name) || {
                val fm = FoldRe.matcher(name)
                if (fm.matches())
                  fm.group(1).toLong < currentBatchId ||
                    (fm.group(1).toLong == currentBatchId &&
                      fm.group(2) != attempt)
                else if (name.startsWith("seed_")) true
                else {
                  val bm = BatchFileRe.matcher(name)
                  bm.matches() && bm.group(1).toLong < gen
                }
              }
            }
          }
          .foreach(s => fs.delete(s.getPath, false))
        true
      }
    }.getOrElse(false) // a rival is folding
  }

  /** Stage-then-rename install (the ledger commit discipline): write to a
    * `_staging` subdir (hidden from readers — Spark skips `_`-prefixed
    * paths), rename the part files in under `<prefix><uuid>.parquet`.
    */
  private def install(df: DataFrame, dir: String, prefix: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs =
      target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(target)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    graft.core.Ledger.install(fs, tmp, target, prefix)
  }

  private def removeBatchFiles(spark: SparkSession, dir: String,
                               batchId: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).iterator
        .filter(s => s.isFile && s.getPath.getName.startsWith(s"b${batchId}_"))
        .foreach(s => fs.delete(s.getPath, false))
  }
}
