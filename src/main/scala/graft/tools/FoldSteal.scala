package graft.tools

import org.apache.spark.sql.functions._

import graft.core.GraftSession
import graft.streaming.StreamingDedup

/** Forced-steal soak for the standing-index FOLD (VERDICT r15 "what's
  * wrong" item — the fold's destructive delete phase ran under a lease
  * with no renewal and no fence; a zombie writer past the TTL could
  * delete a live query's newer batch installs, silent novel-key loss).
  * This arm proves the fence now closes that hole, the CompactRace
  * pattern applied to `maintainIndexDir` on the simulated non-atomic
  * object store (`naf`, lease provider):
  *
  *  - a driver loop runs `applyIncrementalBatch` for N batches with an
  *    aggressive fold threshold, retrying a batch whose fold
  *    fence-aborted (the streaming replay semantics: wipe + redo);
  *  - a STEALER thread polls for the fold lock and, whenever a fold is
  *    live, overwrites the lease (ttl 0 = everything is stale), holds it
  *    briefly, and releases — the live fold must detect the loss at its
  *    next fence (token read-back) and ABORT before its install/delete;
  *  - because the interleave is timing-dependent, the loop keeps driving
  *    extra batches until at least one fence abort was observed (bounded
  *    by a hard cap) rather than hard-failing a correct-but-unlucky run;
  *  - INTEGRITY: the resolved standing index (committed read set,
  *    distinct rows) and the match classifications after the soak must
  *    equal a clean same-arrival-sequence run on the local store with no
  *    stealing — zero lost keys, zero phantom or lost classifications.
  *
  * Usage: `runMain graft.tools.FoldSteal [nBatches] [docsPerBatch]
  * [maxIndexFiles]`. Prints one JSON line.
  */
object FoldSteal {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(40)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(150)
    val maxFiles = args.lift(2).map(_.toInt).getOrElse(4)
    val hardCap = nBatches * 4
    val spark = GraftSession.local(8)
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.naf.impl", classOf[NonAtomicFileSystem].getName)
    hc.set("fs.naf.impl.disable.cache", "true")
    hc.set("graft.lock.provider.naf", "lease")
    hc.set("graft.lock.lease.settle.ms", "20")

    def batchDf(b: Int) = spark.range(perBatch)
      .select((lit(b.toLong * 1000000L) + col("id")).as("doc_id"),
        concat(lit(s"document batch $b row "), col("id"),
          // every 7th row repeats batch-0's text → steady exact dups
          lit(" about topic "),
          when(col("id") % 7 === 0, lit(0L)).otherwise(col("id") % 13),
          lit(" with deterministic filler text for shingles")).as("text"))
    val seed = Seq((1L, "seed document about the standing corpus"))
      .toDF("doc_id", "text")

    // ---- steal arm on naf ------------------------------------------------
    val root = java.nio.file.Files
      .createTempDirectory("graft_foldsteal").toString
    val idx = s"naf://$root/idx"
    val out = s"naf://$root/out"
    StreamingDedup.seedIndex(seed, "doc_id", "text", 3, idx)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val steals = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenceAborts = new java.util.concurrent.atomic.AtomicInteger(0)
    val stealErrors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stealer = new Thread(() => {
      val lockPath = new org.apache.hadoop.fs.Path(
        s"$idx/_maintenance/fold.lock")
      val fs = lockPath.getFileSystem(hc)
      while (!stop.get()) {
        try {
          if (fs.exists(lockPath)) { // a fold is live RIGHT NOW — steal it
            val rival = new graft.core.LockProvider.Lease(
              hc.getLong("graft.lock.lease.settle.ms", 20L))
            if (rival.tryAcquire(fs, lockPath, 0L)) {
              steals.incrementAndGet()
              Thread.sleep(40)
              rival.release(fs, lockPath)
              // back off after a successful steal so the victim's RETRY
              // fold can complete — steal every fold and the driver
              // livelocks, which tests nothing
              Thread.sleep(1500)
            }
          }
        } catch { case e: Throwable => stealErrors.add(e); () }
        Thread.sleep(2)
      }
    }, "fold-stealer")
    stealer.setDaemon(true)
    stealer.start()

    var b = 0
    var applied = 0
    var retries = 0
    val t0 = System.nanoTime()
    // keep driving batches until the planned count is done AND at least
    // one fence abort interleaved (bounded by the hard cap)
    while (b < nBatches || (fenceAborts.get() == 0 && b < hardCap)) {
      var done = false
      while (!done) {
        try {
          StreamingDedup.applyIncrementalBatch(batchDf(b), b.toLong,
            "doc_id", "text", 3, idx, out, maxIndexFiles = maxFiles)
          done = true
        } catch {
          case e: IllegalStateException
              if e.getMessage.contains("lost mid-") ||
                e.getMessage.contains("newer writer") =>
            fenceAborts.incrementAndGet()
            retries += 1 // replay semantics: wipe + redo the same batch
        }
      }
      applied += 1
      b += 1
    }
    stop.set(true)
    stealer.join()
    val wallSec = (System.nanoTime() - t0) / 1e9

    // ---- clean reference arm: same arrivals, local store, no stealing ---
    val refRoot = java.nio.file.Files
      .createTempDirectory("graft_foldsteal_ref").toString
    StreamingDedup.seedIndex(seed, "doc_id", "text", 3, s"$refRoot/idx")
    (0 until b).foreach { i =>
      StreamingDedup.applyIncrementalBatch(batchDf(i), i.toLong,
        "doc_id", "text", 3, s"$refRoot/idx", s"$refRoot/out",
        maxIndexFiles = maxFiles)
    }

    def indexRows(dir: String): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(hc)
      val files = StreamingDedup.committedIndexFiles(fs, p)._1
      spark.read.option("mergeSchema", "true")
        .parquet(files.map(_.toString): _*)
        .select(col("old_id"), col("key"), col("tier")).distinct()
        .collect().map(_.mkString("|")).toSet
    }
    def matchRows(dir: String): Set[String] =
      spark.read.parquet(dir)
        .select(col("id"), col("old_id"), col("tier")).distinct()
        .collect().map(_.mkString("|")).toSet

    val stolenIdx = indexRows(idx)
    val cleanIdx = indexRows(s"$refRoot/idx")
    val stolenMatches = matchRows(out)
    val cleanMatches = matchRows(s"$refRoot/out")
    require(stealErrors.isEmpty,
      s"stealer thread failed: ${stealErrors.toArray.toSeq}")
    val lostKeys = cleanIdx.diff(stolenIdx).size
    val phantomKeys = stolenIdx.diff(cleanIdx).size
    require(lostKeys == 0 && phantomKeys == 0,
      s"standing-index divergence under steal: $lostKeys lost, " +
        s"$phantomKeys phantom keys vs the clean run")
    require(stolenMatches == cleanMatches,
      s"classification divergence under steal: " +
        s"${cleanMatches.diff(stolenMatches).size} lost, " +
        s"${stolenMatches.diff(cleanMatches).size} phantom matches")
    val interleaved = fenceAborts.get() > 0
    if (!interleaved)
      System.err.println("[fold_steal] WARNING: no fold fence-abort " +
        "observed within the hard cap — the steal never interleaved a " +
        "live fold (timing-dependent); integrity still verified")

    println(s"""{"tool":"fold_steal","n_batches":$b,""" +
      s""""docs_per_batch":$perBatch,"max_index_files":$maxFiles,""" +
      s""""wall_sec":${math.round(wallSec * 10) / 10.0},""" +
      s""""steals":${steals.get()},"fence_aborts":${fenceAborts.get()},""" +
      s""""batch_retries":$retries,"steal_interleaved":$interleaved,""" +
      s""""index_rows":${stolenIdx.size},"match_rows":${stolenMatches.size},""" +
      s""""lost_keys":0,"phantom_keys":0,"classification_identical":true}""")
    spark.stop()
  }
}
