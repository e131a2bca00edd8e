package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one `runPipeline`/`runPerIndex` invocation.
  *
  * `writtenPaths` is what the sink reported DURING THIS INVOCATION (empty
  * on a full skip); `outputPaths` is the run's full recorded artifact set —
  * the ledger's `output_files` rows after this invocation, (idx, seq)-
  * ordered — so a resumed run returns the crashed run's recorded paths the
  * way the reference's `is_completed` cache does (`pipeline_store.py:
  * 1035-1058`).
  */
final case class RunResult(
    runId: String,
    nTotal: Long,
    nSkipped: Long,
    nExecuted: Long,
    writtenPaths: Seq[String],
    outputPaths: Seq[String] = Nil)

/** Distributed pipeline execution with resume (reference
  * `run/__init__.py:169-315` + `core/base.py:508-689`, re-expressed on
  * Spark's scheduler):
  *
  *  - the *index* is a partition-key column of the source DataFrame (one
  *    curator index == one group of rows), not a Python worker unit;
  *  - checkpoint skip is a ledger anti-join BEFORE the action, so skipped
  *    indices are never read past the scan (partition pruning applies when
  *    the source is partitioned by the index column). A batch run probes
  *    twice: first the SOURCE's index column, before any filter is called
  *    (a completed run never builds its chain), then, only if that finds
  *    work, the post-filter index column (a source index that every row of
  *    was filtered out is never recorded, so only this probe skips it).
  *    Both rest on one invariant: filters carry the source's index values
  *    and never invent new ones;
  *  - the reference's per-worker shard files + `gather_pipeline` merge are
  *    replaced by Spark's partial+final aggregation and its all-or-nothing
  *    file commit protocol — per-index isolation survives as per-partition
  *    task retry.
  */
object Runner {

  private def hostname: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Throwable => "unknown" }

  private def pid: Long = ProcessHandle.current().pid()

  /** Record each filter's artifact report for one work unit
    * (reference: "the framework calls this after each index",
    * `core/base.py:244-262` → `record_filter_artifacts`).
    */
  private def recordArtifacts(spark: SparkSession, ledger: Ledger,
                              runId: String, idx: Long,
                              pipeline: Pipeline): Unit =
    pipeline.filters.zipWithIndex.foreach { case (f, order) =>
      val a = f.artifacts()
      if (a.nonEmpty)
        ledger.recordFilterArtifacts(spark, runId, idx, f.name, order, a)
    }

  /** Batch execution: the whole filter chain as one plan, one sink action,
    * one all-or-nothing ledger commit of the executed index set.
    *
    * With `resume`, a full skip is decided from the source's index column
    * before any `PFilter.transform` is called. This is sound because every
    * successful invocation records its post-filter index set as completed,
    * and filters carry the source's index values without inventing new
    * ones: once every source index is completed, so is every post-filter
    * index. A reset index (`Ledger.resetIndex`) leaves `completed`, so the
    * source probe misses and the index runs again. When the source probe
    * finds work, the chain is built and the post-filter probe decides: it
    * still skips a run whose only uncompleted source indices were filtered
    * out entirely, without calling the sink. A source without `idxCol`
    * (a filter adds it) goes straight to the post-filter probe.
    */
  def runPipeline(spark: SparkSession, pipeline: Pipeline, idxCol: String,
                  ledgerDir: String, resume: Boolean = true): RunResult = {
    val ledger = new Ledger(ledgerDir)
    val runId = pipeline.configHash.take(16)
    val t0 = System.nanoTime()

    val src = pipeline.source.load(spark)
    // one snapshot of the run's completed set serves every probe, skip and
    // count below; on a ledger within the driver tier it is a local
    // relation, so counting it and the recorded paths run no Spark job
    lazy val completed = ledger.completedIndices(spark, runId)

    def fullSkip(): RunResult = {
      val done = Ledger.count(completed)
      RunResult(runId, done, done, 0, Nil, ledger.recordedPaths(spark, runId))
    }

    // Source probe (index column only), before any transform runs: a
    // transform may run jobs while the plan is built (the CC loops do).
    if (resume && src.columns.contains(idxCol) &&
        src.select(col(idxCol).cast("long").as("idx"))
          .join(completed, Seq("idx"), "left_anti").isEmpty)
      return fullSkip()

    val full = pipeline.filters.foldLeft(src)((d, f) => f.transform(d))
    val work =
      if (resume) full.join(completed.withColumnRenamed("idx", idxCol),
        Seq(idxCol), "left_anti")
      else full

    // Post-filter probe on the INDEX COLUMN only (column-pruned anti-join
    // scan): decides the skip when a filter dropped every row of some
    // source index (never recorded, so the source probe misses) — the sink
    // must not see an empty frame, an overwrite sink would erase its output.
    if (resume && work.select(idxCol).isEmpty) return fullSkip()

    // run_dir = the sink's declared artifact root (relative filter
    // artifacts resolve against it); batch mode records no total_indices —
    // the work-unit count is derivable from the ledger, and the dashboard's
    // summary falls back to touched-index accounting (reference parity)
    ledger.recordRunStart(spark, runId, pipeline.canonicalConfig,
      pipeline.sink.flatMap(_.params.get("path")), None)
    // `observe` piggybacks the row count on the sink's single action —
    // the source is scanned exactly ONCE at full width.
    val obs = org.apache.spark.sql.Observation(s"graft_$runId")
    val observed = work.observe(obs, count(lit(1)).as("n_rows"))
    // per-scheduler-stage wall time for the ledger's stage_metrics table,
    // scoped to THIS run's job group so concurrent jobs in the same session
    // don't pollute stage_metrics
    val group = s"graft_run_$runId"
    val stages = StageListener.attach(spark, Some(group))
    val paths =
      try {
        spark.sparkContext.setJobGroup(group, s"graft pipeline $runId")
        val p = pipeline.sink match {
          case Some(s) => s.write(observed)
          case None => observed.count(); Nil // metrics-only run
        }
        stages.awaitQuiesce() // async bus: drain before detaching
        p
      } finally {
        spark.sparkContext.clearJobGroup()
        StageListener.detach(spark, stages)
      }
    val nRows = obs.get("n_rows").asInstanceOf[Long]
    ledger.recordStageMetrics(spark, runId, stages.records)

    // Accounting AFTER the action succeeded, fully distributed: the executed
    // index set (= full minus previously-completed) is written straight to
    // the ledger — never collected to the driver — and costs one pruned scan
    // of the index column only (partition listing when idx partitions the
    // source). Its count rides on the ledger write's own observe.
    val executedIdx0 = full.select(col(idxCol).cast("long").as("idx")).distinct()
    val executedIdx =
      if (resume) executedIdx0.join(completed, Seq("idx"), "left_anti")
      else executedIdx0
    // nBefore MUST be materialized before recordCompleted appends this run's
    // indices to the same index_results path — counting afterwards would rely
    // on the stale file-index snapshot staying stale (fragile under cache
    // invalidation or a concurrent writer). A driver-tier `completed` holds
    // its rows from when it was built.
    val nBefore = if (resume) Ledger.count(completed) else 0L
    // run-level peak executor memory = the hungriest stage's summed task
    // peak (reference index_results.peak_memory_bytes parity,
    // core/pipeline_store.py:550-563)
    val peakMem = stages.records.map(_.peakMemoryBytes).maxOption.getOrElse(0L)
    val nExecuted = ledger.recordCompleted(spark, runId, executedIdx,
      System.nanoTime() - t0, nRows, peakMem, None, "driver")
    // Provenance: the batch sink commits ONCE for every index, so its paths
    // are run-scoped — recorded under idx = −1 (documented divergence from
    // the reference's per-index grain; the per-index mode matches exactly).
    // Only paths not yet recorded for this run are appended, preserving the
    // reference's (path, run_id) primary key on output_files.
    val already = ledger.recordedPaths(spark, runId).toSet
    ledger.recordOutputFiles(spark, runId, -1L,
      paths.distinct.filterNot(already))
    recordArtifacts(spark, ledger, runId, -1L, pipeline)
    RunResult(runId, nBefore + nExecuted, nBefore, nExecuted, paths,
      ledger.recordedPaths(spark, runId))
  }

  /** Per-index execution: one Spark job per curator index, each COMMITTED
    * TO THE LEDGER AS IT COMPLETES — the reference's actual work-unit model
    * (`core/base.py:595-602`, one artifact + one checkpoint row per index),
    * where a crash mid-run leaves the completed prefix durable and a resume
    * executes exactly the remainder. `runPipeline` (one batch action,
    * all-or-nothing commit) is the scale path when the sink is a single
    * artifact; this mode is for per-index sinks and for the
    * partial-failure resume contract (`test_checkpoint.py`).
    *
    * The index list is collected to the driver — bounded by the curator
    * index domain (work units, not rows; the reference enumerates the same
    * list). Indices run in sorted order for deterministic failure
    * prefixes. `beforeIndex` is a driver-side hook (fault injection in
    * tests, progress callbacks); an exception from the hook or the index's
    * own job records an `errors` ledger row for that index and RETHROWS —
    * the completed prefix stays recorded, the failed index is retried on
    * the next run (error status does not mark completion).
    *
    * MULTI-WORKER operation (`workerId`/`invocationId`): concurrent
    * sessions (or threads) sharing one ledger cooperate by passing the
    * SAME `invocationId` — each index is then claimed exactly once via an
    * atomic create of `<ledger>/claims/<runId>/<invocationId>/<idx>`
    * (Hadoop `createNewFile`: atomic on local FS and HDFS), so no index
    * runs twice within the invocation and no index is lost (completion is
    * still what the resume contract reads — a crashed claimant's index is
    * simply re-run by the NEXT invocation, whose fresh claim namespace
    * ignores stale claims). Every commit appends a worker heartbeat row
    * (identity + liveness for the `workers` table — heartbeat-on-commit,
    * no daemon). Per-index scheduler-stage rows are batched and flushed
    * once per invocation (and on crash), keyed (idx, run_id, stage_order)
    * exactly like the reference's stage_metrics.
    *
    * `heartbeatIntervalMs` throttles the STAGE-GRAIN heartbeat refresh:
    * commit-grained heartbeats alone would let a long-running index read
    * as a stall (`Ledger.stalledWorkersDf`), so every scheduler-stage
    * completion inside an index also refreshes the heartbeat — but only
    * when the last one is older than this interval, so cheap indices
    * (1-2 sub-second stages) never pay an extra ledger append.
    */
  def runPerIndex(spark: SparkSession, pipeline: Pipeline, idxCol: String,
                  ledgerDir: String, resume: Boolean = true,
                  beforeIndex: Long => Unit = _ => (),
                  workerId: String = "driver",
                  invocationId: Option[String] = None,
                  heartbeatIntervalMs: Long = 10000L): RunResult = {
    val ledger = new Ledger(ledgerDir)
    val runId = pipeline.configHash.take(16)

    // Index enumeration reads the SOURCE (the reference enumerates
    // len(source) work units, `core/base.py:595-602`); the filter chain is
    // applied PER SLICE below — each index passes through the filters as
    // its own unit, exactly the reference's execution model, which is also
    // what lets a filter's per-call artifact report attribute per index.
    val src = pipeline.source.load(spark)
    val allIdx = src.select(col(idxCol).cast("long").as("idx")).distinct()
      .collect().map(_.getLong(0)).sorted
    val done: Set[Long] =
      if (resume) ledger.completedIndices(spark, runId)
        .collect().map(_.getLong(0)).toSet
      else Set.empty
    val todo = allIdx.filterNot(done)

    if (todo.isEmpty)
      return RunResult(runId, allIdx.length, allIdx.length, 0, Nil,
        ledger.recordedPaths(spark, runId))

    // claim namespace for cooperating concurrent workers (same invocation)
    val claimDir = invocationId.map { inv =>
      val p = new org.apache.hadoop.fs.Path(s"$ledgerDir/claims/$runId/$inv")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(p)
      (fs, p)
    }
    // Per-store exclusion primitive (LockProvider). The default is atomic
    // create-exclusive per scheme: Hadoop's FileSystem.createNewFile is
    // CHECK-THEN-CREATE on the local filesystem (a TOCTOU hole the
    // WorkerRace soak hit at 80 indices: racing claimants both passed the
    // exists() check and both "won"); java.nio's createFile is O_EXCL —
    // genuinely atomic — so local claims go through NIO, while HDFS-class
    // schemes use create(overwrite = false), enforced atomically
    // server-side. Object stores WITHOUT atomic create-exclusive route
    // through the fencing-token lease (`graft.lock.provider.<scheme>=
    // lease` — see LockProvider's safety argument); claims never expire,
    // hence the MaxValue TTL.
    val claimProvider = claimDir.map { case (fs, _) => LockProvider.forFs(fs) }
    def claim(idx: Long): Boolean = claimDir.forall { case (fs, p) =>
      claimProvider.get.tryAcquire(fs,
        new org.apache.hadoop.fs.Path(p, s"idx_$idx"), Long.MaxValue)
    }

    ledger.recordRunStart(spark, runId, pipeline.canonicalConfig,
      pipeline.sink.flatMap(_.params.get("path")), Some(allIdx.length.toLong))
    ledger.recordWorkerHeartbeat(spark, runId, workerId, pid, hostname,
      invocationId.getOrElse(runId), None, 0L)
    val paths = Seq.newBuilder[String]
    // (path, run_id) primary-key discipline for output_files: record only
    // paths not yet recorded for the run (sinks that report cumulative
    // listings — e.g. partition-dir sinks — then attribute each path to the
    // first index that produced it)
    var recorded = ledger.recordedPaths(spark, runId).toSet
    val stageRecs = Seq.newBuilder[(Long, StageListener#StageRec)]
    var executed = 0
    // shared by the commit path and the stage-grain refresh callbacks
    val lastBeat =
      new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())
    try {
      todo.foreach { idx =>
        if (claim(idx)) {
          val t0 = System.nanoTime()
          val group = s"graft_run_${runId}_idx_$idx"
          // stage-grain heartbeat: a long index refreshes liveness on each
          // completed scheduler stage (throttled), so the stall detector
          // only fires on genuinely-stopped progress
          val stages = StageListener.attach(spark, Some(group), onStage = () => {
            val now = System.currentTimeMillis()
            val prev = lastBeat.get()
            if (now - prev >= heartbeatIntervalMs &&
                lastBeat.compareAndSet(prev, now))
              ledger.recordWorkerHeartbeat(spark, runId, workerId, pid,
                hostname, invocationId.getOrElse(runId), Some(idx),
                executed.toLong, now)
          })
          try {
            beforeIndex(idx)
            spark.sparkContext.setJobGroup(group, s"graft pipeline $runId idx $idx")
            val slice = pipeline.filters.foldLeft(
              src.filter(col(idxCol).cast("long") === idx))((d, f) => f.transform(d))
            val obs = org.apache.spark.sql.Observation()
            val observed = slice.observe(obs, count(lit(1)).as("n_rows"))
            val p = pipeline.sink match {
              case Some(s) => s.write(observed)
              case None => observed.count(); Nil
            }
            // per-index jobs are tiny (1-2 stages): a 50 ms stability window
            // keeps the per-index overhead bounded while still requiring at
            // least one delivered stage event before returning early
            stages.awaitQuiesce(stableMs = 50L)
            val nRows = obs.get("n_rows").asInstanceOf[Long]
            val peakMem = stages.records.map(_.peakMemoryBytes)
              .maxOption.getOrElse(0L)
            ledger.recordCompleted(spark, runId, Seq(idx),
              System.nanoTime() - t0, nRows, peakMem, None, workerId)
            val fresh = p.distinct.filterNot(recorded)
            ledger.recordOutputFiles(spark, runId, idx, fresh)
            recorded ++= fresh
            recordArtifacts(spark, ledger, runId, idx, pipeline)
            stageRecs ++= stages.records.map(idx -> _)
            paths ++= p
            executed += 1
            lastBeat.set(System.currentTimeMillis())
            ledger.recordWorkerHeartbeat(spark, runId, workerId, pid,
              hostname, invocationId.getOrElse(runId), Some(idx),
              executed.toLong)
          } catch {
            case e: Throwable =>
              ledger.recordError(spark, runId, idx,
                String.valueOf(e.getMessage), workerId)
              throw e
          } finally {
            spark.sparkContext.clearJobGroup()
            StageListener.detach(spark, stages)
          }
        }
      }
    } finally {
      // one batched flush per invocation — also on the crash path, so the
      // completed prefix keeps its stage rows (reference grain:
      // (idx, run_id, stage_order), pipeline_store.py:565-572)
      ledger.recordStageMetricsIdx(spark, runId, stageRecs.result())
    }
    ledger.recordWorkerHeartbeat(spark, runId, workerId, pid, hostname,
      invocationId.getOrElse(runId), None, executed.toLong)
    RunResult(runId, done.size + executed, done.size, executed,
      paths.result(), ledger.recordedPaths(spark, runId))
  }
}
