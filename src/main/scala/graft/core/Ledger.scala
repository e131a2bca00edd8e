package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint + metrics ledger as partitioned Parquet (replaces the
  * reference's SQLite store, schema `core/pipeline_store.py:540-620`).
  *
  * Layout: `<dir>/index_results/` rows `(run_id, idx, status, wall_ns,
  * n_rows, finished_at)`; `<dir>/runs/` rows `(run_id, config_json,
  * started_at)`. Appends are per-run-partition files, so concurrent runs of
  * different pipelines never collide. Resume = anti-join of the work list
  * against completed indices (`core/base.py:595-602` → SURVEY §2.5) — a
  * broadcastable join when the remaining-run ledger is small, a shuffled
  * anti-join at 100 TB, both picked by Catalyst. A table whose files fit
  * [[DriverBound]] is read on the driver instead of by a Spark job (see
  * [[readTable]]), as the reference's resume reads its SQLite store.
  */
final class Ledger(dir: String) {
  /** The ledger root, for callers reading a table directly. */
  def path: String = dir

  /** Canonical column contract of every ledger table, and the only place
    * the columns are stated: the driver-side appends write it, every read
    * requests it, a table not yet written reads as an empty frame of it,
    * and the reset rewrites pad legacy files up to it. The tables gained
    * columns across rounds (runs: run_dir/total_indices, logs: worker_id,
    * stage_metrics: idx) and mixed old+new ledgers are an explicitly
    * supported back-compat case. The first fix (r13) read with
    * `mergeSchema`, which is CORRECT but pays a footer parse per file —
    * O(committed indices) before compaction runs, exactly the probe cost
    * the compaction work exists to bound (measured: the most
    * ledger-read-heavy fixture regressed 2.9 → 3.9 s). A ledger table's
    * schema isn't data-dependent — it is a versioned contract this map
    * states once — so reads request it explicitly: O(1) in file count,
    * old files surface missing columns as null (the same semantics merge
    * gave), and unknown extra columns are ignored on the hot path.
    * `compact()` keeps a mergeSchema read (it is a maintenance pass that
    * already opens every footer) so columns beyond this contract survive
    * rewrites.
    */
  private val tableSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def t(cols: (String, DataType)*): StructType =
      StructType(cols.map { case (n, dt) => StructField(n, dt, nullable = true) })
    Map(
      "runs" -> t("run_id" -> StringType, "config_json" -> StringType,
        "started_at" -> LongType, "run_dir" -> StringType,
        "total_indices" -> LongType),
      "index_results" -> t("idx" -> LongType, "run_id" -> StringType,
        "status" -> StringType, "wall_ns" -> LongType, "n_rows" -> LongType,
        "peak_memory_bytes" -> LongType, "gpu_memory_bytes" -> LongType,
        "worker_id" -> StringType, "finished_at" -> LongType),
      "errors" -> t("idx" -> LongType, "run_id" -> StringType,
        "status" -> StringType, "wall_ns" -> LongType, "n_rows" -> LongType,
        "worker_id" -> StringType, "finished_at" -> LongType,
        "error" -> StringType),
      "stage_metrics" -> t("run_id" -> StringType, "idx" -> LongType,
        "stage_order" -> IntegerType, "stage_id" -> IntegerType,
        "stage_name" -> StringType, "wall_ns" -> LongType,
        "executor_run_ns" -> LongType, "n_tasks" -> IntegerType,
        "peak_memory_bytes" -> LongType),
      "output_files" -> t("path" -> StringType, "idx" -> LongType,
        "run_id" -> StringType, "seq" -> IntegerType),
      "filter_artifacts" -> t("path" -> StringType, "idx" -> LongType,
        "run_id" -> StringType, "filter_name" -> StringType,
        "filter_order" -> IntegerType),
      "workers" -> t("worker_id" -> StringType, "run_id" -> StringType,
        "pid" -> LongType, "hostname" -> StringType,
        "invocation_id" -> StringType, "current_index" -> LongType,
        "completed_count" -> LongType, "ts" -> LongType),
      "logs" -> t("level" -> StringType, "logger_name" -> StringType,
        "message" -> StringType, "idx" -> LongType, "run_id" -> StringType,
        "ts" -> LongType, "worker_id" -> StringType))
  }

  /** Run-scoped commit-file prefix: every per-commit append tags its
    * installed file `r<md5(run_id)[0,8)>_<uuid>.parquet`. The prefix is a
    * pure function of run_id and every append carries exactly one run's
    * rows, so a single-run read can PRUNE other runs' uncompacted tail
    * files by NAME — no footer, no open, no bytes. Pruning is an
    * optimization only: the `run_id` filter stays on every read, so a
    * prefix collision (8 hex chars) merely reads extra files it then
    * filters out. Compacted bins and pre-prefix legacy commits mix runs
    * and keep non-matching names ([[tailFileRe]] can't match a UUID — 'r'
    * is not a hex digit), so they land in the always-read shared bucket;
    * post-compaction that bucket is small by construction, which is why
    * pruning only needs to cover the tail.
    */
  private[graft] def runPrefix(runId: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(runId.getBytes("UTF-8"))
    "r" + h.take(4).map(b => f"$b%02x").mkString + "_"
  }

  private val tailFileRe = java.util.regex.Pattern.compile("r[0-9a-f]{8}_.*")

  /** A table's parquet files, and whether `forRun` pruned any: the run's
    * own tail files plus every shared (compacted/legacy) file, or every
    * file without `forRun`. A missing table lists as no files. None = a
    * nested directory appeared (not a layout this ledger writes), which
    * only the whole-directory Spark read handles.
    */
  private type Listing = Option[(Seq[org.apache.hadoop.fs.FileStatus], Boolean)]

  private def listTable(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path,
                        forRun: Option[String]): Listing = {
    val entries =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    if (entries.exists(_.isDirectory)) None
    else {
      val parquet = entries.toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      val kept = forRun.map(runPrefix).fold(parquet)(pre => parquet.filter { f =>
        val n = f.getPath.getName
        !tailFileRe.matcher(n).matches() || n.startsWith(pre)
      })
      Some((kept, kept.size < parquet.size))
    }
  }

  /** The files a single-run read must touch (see [[listTable]]). None =
    * prune nothing: a nested directory, or the selection kept every file
    * anyway (reading the directory plans one LIST instead of N per-path
    * statuses — the cheaper shape on an object store).
    */
  private[graft] def prunedFiles(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path,
                                runId: String): Option[Seq[String]] =
    listTable(fs, p, Some(runId)).collect { case (kept, true) =>
      kept.map(_.getPath.toString)
    }

  /** EVERY ledger-table read goes through here with the table's canonical
    * schema (see [[tableSchemas]]): all runs' rows, or with `forRun` that
    * run's rows only, its other runs' tail files pruned by name (see
    * [[runPrefix]]) — a shared multi-run ledger's resume probe then costs
    * O(this run's uncompacted commits + compacted bins), not O(every run's
    * history). Driver tier: when the kept files total within
    * [[DriverBound]], the table is a local relation of the rows read here
    * (see [[read]]), snapshotted when the frame is built. A table not yet
    * written (or a run with no file left after pruning) reads as an empty
    * local relation of the same schema, so no reader special-cases a fresh
    * ledger and no empty job is planned.
    */
  private[graft] def readTable(spark: SparkSession, table: String,
                              forRun: Option[String] = None): DataFrame =
    frame(spark, tableSchemas(table), read(spark, table, forRun))

  /** A read of one ledger table or view: `Right` = its rows, read on the
    * driver; `Left` = its Spark plan.
    */
  private type View = Either[DataFrame, Seq[Row]]

  private def frame(spark: SparkSession,
                    schema: org.apache.spark.sql.types.StructType,
                    v: View): DataFrame =
    v.fold(identity, rows => spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema))

  /** One table read (see [[readTable]]). Within [[DriverBound]] the kept
    * files are read through [[DriverParquet.readRows]] and filtered on
    * `run_id` here, with no Spark job; above it, or with the bound off
    * (-1), the Spark parquet scan.
    */
  private def read(spark: SparkSession, table: String,
                   forRun: Option[String]): View = {
    val schema = tableSchemas(table)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(conf)
    def driverRows(listing: Listing) =
      listing.collect { case (files, _)
          if DriverBound.fits(spark, files.map(_.getLen).sum) =>
        DriverParquet.readRows(conf, files.map(_.getPath), schema)
      }
    // A tail file compact() re-binned and deleted after the listing: list
    // again and read the post-compaction state. A second miss goes to the
    // Spark read, which skips a vanished file (ignoreMissingFiles below).
    val first = listTable(fs, p, forRun)
    val (rows, listing) =
      try (driverRows(first), first)
      catch {
        case _: java.io.FileNotFoundException =>
          val again = listTable(fs, p, forRun)
          try (driverRows(again), again)
          catch { case _: java.io.FileNotFoundException => (None, again) }
      }
    rows match {
      case Some(all) =>
        val at = schema.fieldIndex("run_id")
        Right(forRun.fold(all)(runId => all.filter(_.get(at) == runId)))
      case None => Left(scan(spark, schema, p, listing, forRun))
    }
  }

  /** The Spark parquet scan of table dir `p` over `listing`'s files. */
  private def scan(spark: SparkSession,
                   schema: org.apache.spark.sql.types.StructType,
                   p: org.apache.hadoop.fs.Path,
                   listing: Listing, forRun: Option[String]): DataFrame = {
    // ignoreMissingFiles, scoped to ledger reads: a reader whose plan
    // listed a tail file that compact() then re-binned and DELETED would
    // otherwise crash at execution (seen under the naf soak; the window
    // exists on every store). Skipping the vanished file under-reads from
    // a stale plan, which this design tolerates by construction: resume
    // decisions are at-least-once over idempotent per-index installs (a
    // missed completed row re-runs an index, never loses data) and every
    // duplicate-sensitive view resolves at read. The maintenance paths
    // that must NOT under-read (compact/reset rewrites) read their own
    // explicit snapshots under the maintenance lock, not this path.
    val rd = spark.read.schema(schema).option("ignoreMissingFiles", "true")
    val df = listing match {
      case Some((Nil, _)) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      case Some((kept, true)) =>
        // explicit roots are STATTED at planning — a root compact() just
        // deleted throws there, where ignoreMissingFiles does not apply;
        // fall back to the directory read (one LIST, sees the
        // post-compaction state)
        try rd.parquet(kept.map(_.getPath.toString): _*)
        catch {
          case _: org.apache.spark.sql.AnalysisException |
              _: java.io.FileNotFoundException => rd.parquet(p.toString)
        }
      case _ => rd.parquet(p.toString)
    }
    forRun.fold(df)(runId => df.filter(col("run_id") === runId))
  }

  /** MULTI-WRITER-safe append: stage the rows under a UUID dir, then move
    * each part file into the table under a unique name. A plain
    * `write.mode(Append)` is NOT safe under concurrent writers — every
    * Spark job committing into the same directory shares the
    * `_temporary/0` staging tree, so the first committer's cleanup deletes
    * the second's in-flight task files (the reference leans on SQLite's
    * WAL + busy_timeout for exactly this, `pipeline_store.py:758-777`).
    * Staging + rename gives each commit its own tree and an atomic (per
    * file) install — also the object-store-friendly pattern at 100 TB
    * (unique keys, no directory-level commit protocol).
    *
    * STAGE-FILE NAMING CONTRACT (shared with [[appendLocal]] and
    * [[compact]]): staged bytes live ONLY under `<dir>/_staging/<uuid>`,
    * never inside a table directory, and installs are single renames of
    * COMPLETE files to `<dir>/<table>/<uuid>.parquet`. A writer killed
    * between stage and rename therefore leaves nothing a reader or
    * `compact()` can see or trip over — only an orphan under `_staging/`,
    * which [[clean]] janitors by age.
    */
  private def appendRows(df: DataFrame, table: String, runId: String,
                         singleFile: Boolean = true): Unit = {
    val spark = df.sparkSession
    val staging = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/${java.util.UUID.randomUUID()}")
    (if (singleFile) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dest = new org.apache.hadoop.fs.Path(s"$dir/$table")
    fs.mkdirs(dest)
    Ledger.install(fs, staging, dest, runPrefix(runId))
  }

  /** DRIVER-SIDE commit fast path: ledger rows the driver already holds
    * (one index's metrics, a heartbeat, a handful of artifact paths) are
    * written under the table's [[tableSchemas]] entry by
    * [[DriverParquet.writeFile]] — no Spark job — then installed by the
    * same stage-then-rename protocol as [[appendRows]]. This is what keeps
    * per-index commit latency in the reference's SQLite class (~ms)
    * instead of paying a full job-scheduling round-trip (~80 ms) per table
    * per index; at 10⁴ indices × 3 tables that difference is the run. Goes
    * through the Hadoop FileSystem API, so it works against HDFS/S3
    * exactly like the Spark path. The distributed variant of
    * recordCompleted keeps the Spark path — its index set never lands on
    * the driver.
    */
  private def appendLocal(spark: SparkSession, table: String, runId: String,
                          rows: Seq[Seq[Any]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/${java.util.UUID.randomUUID()}.parquet")
    val fs = staging.getFileSystem(conf)
    fs.mkdirs(staging.getParent)
    DriverParquet.writeFile(conf, staging, tableSchemas(table), rows)
    val dest = new org.apache.hadoop.fs.Path(s"$dir/$table")
    fs.mkdirs(dest)
    require(fs.rename(staging, new org.apache.hadoop.fs.Path(dest,
      s"${runPrefix(runId)}${java.util.UUID.randomUUID()}.parquet")),
      s"ledger append: rename into $dest failed")
  }

  /** `run_dir` and `total_indices` mirror the reference's pipeline_runs
    * columns (`pipeline_store.py:540-548`): the artifact root relative
    * artifact paths resolve against, and the run's work-unit count (known
    * upfront in per-index mode; None in batch mode, where the dashboard
    * falls back to touched-index accounting exactly like
    * `dashboard/data.py:178-189`).
    */
  def recordRunStart(spark: SparkSession, runId: String, configJson: String,
                     runDir: Option[String] = None,
                     totalIndices: Option[Long] = None): Unit =
    appendLocal(spark, "runs", runId,
      Seq(Seq(runId, configJson, System.currentTimeMillis(), runDir,
        totalIndices)))

  /** The run's recorded metadata row, latest-start wins (reruns of the
    * same config append a fresh row; the newest carries current values).
    * Returns (run_dir, total_indices) — either may be absent.
    */
  def runMeta(spark: SparkSession, runId: String): (Option[String], Option[Long]) = {
    val r = readTable(spark, "runs", Some(runId))
      .agg(max(struct(col("started_at"), col("run_dir"),
        col("total_indices"))).as("m"))
      .select(col("m.run_dir"), col("m.total_indices")).first()
    (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }

  /** `is_completed` parity (`pipeline_store.py:1035-1058`): the cached
    * output paths of a completed index, None when the index has not
    * completed — the reference's skip-with-cached-outputs probe. An index
    * completed by a BATCH `runPipeline` run has its paths recorded
    * run-scoped under idx = −1 (the sink commits once for all indices), so
    * an empty per-index lookup falls back to the run-scoped set — the
    * reference contract of returning the cached outputs, not an empty list.
    */
  def isCompleted(spark: SparkSession, runId: String, idx: Long): Option[Seq[String]] = {
    val done = completedIndices(spark, runId).filter(col("idx") === idx)
      .limit(1).count() > 0
    if (!done) None
    else {
      def pathsAt(i: Long): Seq[String] = outputPathsDf(spark, runId, i)
        .select("path").collect().map(_.getString(0)).toSeq
      val perIdx = pathsAt(idx)
      Some(if (perIdx.nonEmpty) perIdx else pathsAt(-1L))
    }
  }

  /** `resolve_artifact` parity (`pipeline_store.py:1011-1033`): absolute
    * paths pass through; relative ones resolve against the recorded
    * run_dir (falling back to the path itself when no run_dir exists).
    */
  def resolveArtifact(spark: SparkSession, runId: String, p: String): String =
    if (p.startsWith("/") || p.contains("://")) p
    else runMeta(spark, runId)._1.map(d => s"$d/$p").getOrElse(p)

  /** `gpuMemoryBytes` mirrors the reference's nullable `gpu_memory_bytes`
    * (`core/pipeline_store.py:550-563`): always None on CPU runs — Spark
    * here schedules no GPUs — but the column exists so schema-compatible
    * artifact readers see the reference's full index_results shape.
    * `workerId` is the reference's `worker_id` claim column: here the
    * claiming process is always the Spark DRIVER (executors are fungible
    * task slots under one claim, not per-index workers), so the default
    * identifies the submitting session.
    */
  def recordCompleted(spark: SparkSession, runId: String, indices: Seq[Long],
                      wallNs: Long, nRows: Long, peakMemoryBytes: Long = 0L,
                      gpuMemoryBytes: Option[Long] = None,
                      workerId: String = "driver"): Unit = {
    if (indices.isEmpty) return
    val now = System.currentTimeMillis()
    appendLocal(spark, "index_results", runId,
      indices.map(i => Seq(i, runId, "completed", wallNs, nRows,
        peakMemoryBytes, gpuMemoryBytes, workerId, now)))
  }

  /** Distributed variant: `indices` is a single-column (`idx`, long)
    * DataFrame written straight to the ledger — the index set never lands
    * on the driver (at 100 TB a run can have millions of indices). Returns
    * the recorded count, piggybacked on the write via `observe`.
    *
    * The commit's own values (wall time, row count, finished_at, …) reach
    * the plan as DATA, a one-row table broadcast against the index set,
    * not as literals: Spark inlines a long literal into the generated
    * source, so each commit's new values compiled 2 new classes.
    */
  def recordCompleted(spark: SparkSession, runId: String, indices: DataFrame,
                      wallNs: Long, nRows: Long, peakMemoryBytes: Long,
                      gpuMemoryBytes: Option[Long], workerId: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    val values = Row(runId, "completed", wallNs, nRows, peakMemoryBytes,
      gpuMemoryBytes.map(Long.box).orNull, workerId, System.currentTimeMillis())
    val valueCols = tableSchemas("index_results").filterNot(_.name == "idx")
    appendRows(indices.select(col("idx").cast("long"))
      .crossJoin(broadcast(spark.createDataFrame(java.util.List.of(values),
        org.apache.spark.sql.types.StructType(valueCols))))
      .observe(obs, count(lit(1)).as("n")),
      "index_results", runId, singleFile = false)
    obs.get("n").asInstanceOf[Long]
  }

  /** Per-scheduler-stage wall-time rows for a run — the reference's
    * `stage_metrics` table (`pipeline_store.py:565-572`, keyed (idx,
    * run_id, stage_order); stage_name ↔ Spark's stage callsite name).
    * Batch `runPipeline` records run-scoped rows under idx = −1 (one
    * action spans every index — the documented grain divergence);
    * `runPerIndex` records the reference's exact per-index grain (each
    * index runs in its own job group, so attribution is free).
    */
  def recordStageMetrics(spark: SparkSession, runId: String,
                         stages: Seq[StageListener#StageRec]): Unit =
    recordStageMetricsIdx(spark, runId,
      stages.map(s => (-1L, s)))

  /** (idx, stage) rows batched into ONE append — `runPerIndex` collects the
    * whole run's per-index stage rows and flushes once (plus once on a
    * crash), so stage accounting never multiplies the per-index commit
    * count. stage_order restarts from 0 within each index, matching the
    * reference's per-index enumeration.
    */
  def recordStageMetricsIdx(spark: SparkSession, runId: String,
                            stages: Seq[(Long, StageListener#StageRec)]): Unit = {
    if (stages.isEmpty) return
    appendLocal(spark, "stage_metrics", runId,
      stages.groupBy(_._1).toSeq.flatMap { case (idx, recs) =>
        recs.map(_._2).sortBy(_.stageId).zipWithIndex.map { case (s, ord) =>
          Seq[Any](runId, idx, ord, s.stageId, s.name, s.wallNs,
            s.executorRunNs, s.nTasks, s.peakMemoryBytes)
        }
      })
  }

  /** Stage rows for a run. */
  def stageMetrics(spark: SparkSession, runId: String): DataFrame =
    readTable(spark, "stage_metrics", Some(runId))

  // ------------------------------------------------ provenance tables
  // The reference's `output_files(path, idx, run_id, seq)` and
  // `filter_artifacts(path, idx, run_id, filter_name, filter_order)`
  // (`core/pipeline_store.py:540-620`): which files did index i produce,
  // and which side artifacts did each filter write. Append-only parquet
  // mirrors; the (path, run_id) primary key of output_files holds because
  // the Runner records only paths not yet recorded for the run.

  /** One row per (path, seq) an index produced. Batch runs record their
    * run-scoped artifact set under idx = −1 (the sink commits once for
    * every index — documented divergence from the per-index reference).
    */
  def recordOutputFiles(spark: SparkSession, runId: String, idx: Long,
                        paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    appendLocal(spark, "output_files", runId,
      paths.zipWithIndex.map { case (p, seq) => Seq[Any](p, idx, runId, seq) })
  }

  /** Side files a filter reported for an index (reference
    * `record_filter_artifacts`, `pipeline_store.py:1558-1590`).
    */
  def recordFilterArtifacts(spark: SparkSession, runId: String, idx: Long,
                            filterName: String, filterOrder: Int,
                            paths: Seq[String]): Unit = {
    if (paths.isEmpty) return
    appendLocal(spark, "filter_artifacts", runId,
      paths.map(p => Seq[Any](p, idx, runId, filterName, filterOrder)))
  }

  /** Raw output_files rows for a run.
    *
    * The (path, run_id) PRIMARY KEY resolves at read, first-writer-wins:
    * the Runner appends only paths absent from its recorded-set snapshot,
    * but two CONCURRENT workers whose sink reports cumulative listings can
    * both pass that stale-snapshot check and append the same path — so the
    * view keeps the earliest (idx, seq) attribution per path (the "first
    * index that produced it" rule the Runner documents) instead of
    * surfacing duplicates. Single-worker ledgers are unaffected (the
    * groupBy is a no-op on already-unique paths).
    */
  def outputFiles(spark: SparkSession, runId: String): DataFrame =
    frame(spark, Ledger.OutputFilesSchema, outputFilesView(spark, runId))

  /** The run's recorded artifact paths, (idx, seq)-ordered: what
    * [[Runner]] returns as `outputPaths` and what it checks a sink's new
    * paths against. No Spark job when the table fits the driver tier.
    */
  def recordedPaths(spark: SparkSession, runId: String): Seq[String] =
    outputFilesView(spark, runId) match {
      case Right(rows) => rows.map(_.getString(0))
      case Left(df) => df.orderBy("idx", "seq").select("path").collect()
        .map(_.getString(0)).toSeq
    }

  /** [[outputFiles]]' rows; on the driver tier already (idx, seq, path)-
    * ordered, nulls first, as Spark orders them.
    */
  private def outputFilesView(spark: SparkSession, runId: String): View =
    read(spark, "output_files", Some(runId)) match {
      case Left(df) => Left(df.groupBy(col("path"))
        .agg(min(struct(col("idx"), col("seq"))).as("_m"))
        .select(col("path"), col("_m.idx").as("idx"),
          lit(runId).as("run_id"), col("_m.seq").as("seq")))
      case Right(rows) =>
        val t = tableSchemas("output_files")
        val (pathAt, idxAt, seqAt) =
          (t.fieldIndex("path"), t.fieldIndex("idx"), t.fieldIndex("seq"))
        def key(r: Row) = (Option(r.get(idxAt)).map(_.asInstanceOf[Long]),
          Option(r.get(seqAt)).map(_.asInstanceOf[Int]))
        Right(rows.groupBy(r => Option(r.getString(pathAt))).values
          .map(_.minBy(key)).toSeq
          .sortBy(r => (key(r), Option(r.getString(pathAt))))
          .map(r => Row(r.get(pathAt), r.get(idxAt), runId, r.get(seqAt))))
    }

  /** Raw filter_artifacts rows for a run. */
  def filterArtifacts(spark: SparkSession, runId: String): DataFrame =
    readTable(spark, "filter_artifacts", Some(runId))

  /** `output_paths` view (`dashboard/data.py:247-262` over
    * `output_paths_for_index`): the files one index produced, seq-ordered.
    */
  def outputPathsDf(spark: SparkSession, runId: String, idx: Long): DataFrame =
    outputFiles(spark, runId).filter(col("idx") === idx)
      .select(col("seq"), col("path")).orderBy("seq")

  /** `artifacts` view (`dashboard/data.py:264-274`): one index's filter
    * artifacts, (filter_order, path)-ordered within each filter.
    */
  def artifactsDf(spark: SparkSession, runId: String, idx: Long): DataFrame =
    filterArtifacts(spark, runId).filter(col("idx") === idx)
      .select(col("filter_name"), col("filter_order"), col("path"))
      .orderBy("filter_order", "path")

  /** `all_artifacts` view (`dashboard/data.py:276-288`): every filter
    * artifact of the run, (filter_order, idx, path)-ordered.
    */
  def allArtifactsDf(spark: SparkSession, runId: String): DataFrame =
    filterArtifacts(spark, runId)
      .select(col("filter_name"), col("filter_order"), col("idx"), col("path"))
      .orderBy("filter_order", "idx", "path")

  // --------------------------------------------------- worker registry
  // The reference's `workers` table (`pipeline_store.py:540-620`,
  // register_worker/worker_start_index/worker_finish_index) as append-only
  // heartbeat rows: registration writes the first row, every commit
  // appends a refreshed one (heartbeat-on-commit — no daemon), and the
  // view resolves latest-row-wins per worker.

  /** Append one worker heartbeat row. `currentIndex` is the index whose
    * commit carries this heartbeat (None at registration / run end —
    * matching the reference's NULL between indices); `completedCount` is
    * this worker's own running commit counter (the VIEW recomputes
    * authoritative counts from index_results, like the reference's
    * `workers_df` does, so this column is informational). Monitors compare
    * heartbeat ages against their own clock, so writers that already read
    * the clock (the Runner's throttled stage-grain refresh) pass `tsMs`
    * through, and tests/oracles can pin deterministic liveness states.
    */
  def recordWorkerHeartbeat(spark: SparkSession, runId: String,
                            workerId: String, pid: Long, hostname: String,
                            invocationId: String,
                            currentIndex: Option[Long],
                            completedCount: Long,
                            tsMs: Long = System.currentTimeMillis()): Unit =
    appendLocal(spark, "workers", runId,
      Seq(Seq(workerId, runId, pid, hostname, invocationId,
        currentIndex, completedCount, tsMs)))

  /** Raw workers rows for a run. */
  def workers(spark: SparkSession, runId: String): DataFrame =
    readTable(spark, "workers", Some(runId))

  def recordError(spark: SparkSession, runId: String, idx: Long, error: String,
                  workerId: String = "driver"): Unit =
    appendLocal(spark, "errors", runId,
      Seq(Seq(idx, runId, "error", 0L, 0L, workerId,
        System.currentTimeMillis(), error)))

  /** Structured run logs — the reference's `logs` table
    * (`pipeline_store.py:592-604`): (run_id, ts, level, logger, message,
    * idx). Batched appends: collect log rows, write once per flush, so
    * logging never becomes one-file-per-message at scale. `workerId` tags
    * each log row with its emitting worker (the reference's
    * `logs.worker_id` — its dashboard renders NULL as "Main"; here the
    * driver session claims by name, so the default is explicit).
    */
  def recordLogs(spark: SparkSession, runId: String,
                 entries: Seq[(String, String, String, Long)],
                 workerId: String = "driver"): Unit = {
    if (entries.isEmpty) return
    val now = System.currentTimeMillis()
    appendLocal(spark, "logs", runId,
      entries.map { case (lv, lg, msg, idx) =>
        Seq[Any](lv, lg, msg, idx, runId, now, workerId) })
  }

  /** Log rows for a run. Ledgers written before the worker_id column read
    * as "driver": the static table schema always injects the column
    * (pre-column files surface NULL), so the back-compat shim is per-ROW,
    * not per-schema — recordLogs never writes a null worker_id, so NULL ⇔
    * legacy row.
    */
  def logs(spark: SparkSession, runId: String): DataFrame =
    readTable(spark, "logs", Some(runId))
      .withColumn("worker_id", coalesce(col("worker_id"), lit("driver")))

  /** Completed indices for a run, distinct; on the driver tier a local
    * relation (its `collect()` and [[Ledger.count]] run no Spark job).
    */
  def completedIndices(spark: SparkSession, runId: String): DataFrame =
    frame(spark, Ledger.IdxSchema,
      read(spark, "index_results", Some(runId)) match {
        case Left(df) =>
          Left(df.filter(col("status") === "completed").select("idx").distinct())
        case Right(rows) =>
          val t = tableSchemas("index_results")
          val (idxAt, statusAt) = (t.fieldIndex("idx"), t.fieldIndex("status"))
          Right(rows.filter(_.get(statusAt) == "completed")
            .map(r => Row(r.get(idxAt))).distinct)
      })

  /** Failed indices for a run (`core/base.py:858-951` failed_indices). */
  def failedIndices(spark: SparkSession, runId: String): DataFrame =
    readTable(spark, "errors", Some(runId)).select("idx").distinct()

  /** Per-run summary over the metrics rows (dashboard query layer,
    * `dashboard/data.py:49-321`, as one grouped aggregation).
    */
  def runSummary(spark: SparkSession): DataFrame =
    readTable(spark, "index_results")
      .groupBy("run_id", "status")
      .agg(count(lit(1)).as("n_indices"),
        sum("n_rows").as("total_rows"),
        avg("wall_ns").as("mean_wall_ns"),
        max("finished_at").as("last_finished_at"))

  // ------------------------------------------------- DashboardStore views
  // The reference's dashboard read layer (`dashboard/data.py:86-321`)
  // re-expressed as DataFrames over the ledger parquet. One divergence,
  // by design: the reference REPLACES an index's error row when a retry
  // completes (PRIMARY KEY (idx, run_id)); this ledger is append-only, so
  // the views resolve retry-wins at read time (a completed row beats any
  // earlier error for `status`, but the error message still rides along —
  // exactly what `index_df` shows after a retry).

  /** `index_df` parity (`dashboard/data.py:86-135`): one row per index the
    * run has touched — completed indices carry their metrics (latest
    * completion wins), failed-only indices merge in with zero metrics;
    * `error` is the (latest) recorded message, empty for never-failed.
    */
  def indexDf(spark: SparkSession, runId: String): DataFrame = {
    val comp = readTable(spark, "index_results", Some(runId))
      .filter(col("status") === "completed")
      .groupBy("idx")
      .agg(max(struct(col("finished_at"), col("wall_ns"),
        col("peak_memory_bytes"), col("gpu_memory_bytes"))).as("m"))
      .select(col("idx"), col("m.wall_ns").as("_wall"),
        col("m.peak_memory_bytes").as("_peak"),
        col("m.gpu_memory_bytes").as("_gpu"), lit(1).as("_done"))
    val errs = readTable(spark, "errors", Some(runId))
      .groupBy("idx")
      .agg(max(struct(col("finished_at"), col("error"))).as("e"))
      .select(col("idx"), col("e.error").as("_err"))
    comp.join(errs, Seq("idx"), "full_outer")
      .select(col("idx"),
        when(col("_done").isNotNull, "completed").otherwise("error").as("status"),
        (coalesce(col("_wall"), lit(0L)) / 1e9).as("wall_time_s"),
        (coalesce(col("_peak"), lit(0L)) / lit(1048576.0)).as("peak_memory_mb"),
        (coalesce(col("_gpu"), lit(0L)) / lit(1048576.0)).as("gpu_memory_mb"),
        coalesce(col("_err"), lit("")).as("error"))
  }

  /** `stage_df` parity (`dashboard/data.py:137-167`): per-stage timing for
    * the run. The reference breaks stages down per INDEX (its work unit);
    * Spark's scheduler stages span the whole run, so the breakdown is
    * per-run — same columns, coarser grain, documented in SURVEY §3.2.
    */
  def stageDf(spark: SparkSession, runId: String): DataFrame =
    stageMetrics(spark, runId)
      .select(col("stage_order"), col("stage_name"),
        (col("wall_ns") / 1e9).as("wall_time_s"),
        (col("executor_run_ns") / 1e9).as("executor_run_s"),
        col("n_tasks"))

  /** `summary` without a caller-supplied total: reads the run's recorded
    * `total_indices` (per-index runs store it at start), falling back to
    * touched-index accounting exactly like `dashboard/data.py:178-189`
    * when a batch run recorded none.
    */
  def summaryDf(spark: SparkSession, runId: String): DataFrame = {
    val total = runMeta(spark, runId)._2
      .getOrElse(indexDf(spark, runId).count())
    summaryDf(spark, runId, total)
  }

  /** `summary` parity (`pipeline_store.py:1248-1295` via
    * `dashboard/data.py:169-190`): one row of run-state counters. `failed`
    * counts CURRENTLY-failed indices (errored, never completed) so
    * `remaining = total - completed - failed` matches the reference's
    * retry-replaces-error accounting.
    */
  def summaryDf(spark: SparkSession, runId: String, total: Long): DataFrame = {
    val idxView = indexDf(spark, runId)
    idxView.agg(
      lit(total).as("total"),
      sum(when(col("status") === "completed", 1).otherwise(0)).as("completed"),
      sum(when(col("status") === "error", 1).otherwise(0)).as("failed"),
      (lit(total) - count(lit(1))).as("remaining"),
      sum(when(col("status") === "completed", col("wall_time_s"))
        .otherwise(0.0)).as("total_elapsed_s"))
  }

  /** The run's (worker_id, idx) completion rows, and its failure rows that
    * no completion retried — retry-wins, matching the reference's
    * REPLACE-on-retry rows (an index another worker later completed no
    * longer counts as a failure).
    */
  private def workerIndexRows(spark: SparkSession,
                              runId: String): (DataFrame, DataFrame) = {
    val comp = readTable(spark, "index_results", Some(runId))
      .filter(col("status") === "completed")
      .select(col("worker_id"), col("idx"))
    val errs = readTable(spark, "errors", Some(runId))
      .select(col("worker_id"), col("idx"))
      .join(comp.select("idx").distinct(), Seq("idx"), "left_anti")
    (comp, errs)
  }

  /** `indices_by_worker` parity (`pipeline_store.py:1200-1246`): the
    * sorted completed and failed index lists one worker owns, with the
    * same retry-wins rule as [[workersDf]].
    */
  def indicesByWorker(spark: SparkSession, runId: String,
                      workerId: String): DataFrame = {
    val (comp, errs) = workerIndexRows(spark, runId)
    comp.filter(col("worker_id") === workerId)
      .select(col("idx"), lit("completed").as("status"))
      .unionByName(errs.filter(col("worker_id") === workerId)
        .select(col("idx"), lit("failed").as("status")))
      .distinct().orderBy("status", "idx")
  }

  /** Janitor for orphaned staging artifacts: a writer killed between stage
    * and rename leaves its file (or a Spark job's staged dir, possibly with
    * a `_temporary` tree inside) under `_staging/` — invisible to every
    * reader (tables read `<dir>/<table>` only, see the naming contract at
    * [[appendRows]]) but accreting forever. Removes `_staging` entries
    * older than `olderThanMs` (default 1 h — anything still mid-commit is
    * milliseconds old, so age separates orphans from in-flight commits).
    * Returns the number of entries removed. [[compact]] runs this
    * implicitly under its maintenance lock.
    */
  def clean(spark: SparkSession, olderThanMs: Long = 60L * 60 * 1000): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_staging")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val cutoff = System.currentTimeMillis() - olderThanMs
      fs.listStatus(p).iterator
        .filter(_.getModificationTime < cutoff)
        .count(f => fs.delete(f.getPath, true))
    }
  }

  /** DRIVER-SIDE compaction fast path: a fragmented ledger table is huge
    * in FILE COUNT but tiny in BYTES (one row per commit), so a Spark
    * rewrite pays ~20k task schedulings to move ~20 MB — measured
    * 113–138 s per 20k-file table at the 10⁵ decade. Reading the
    * snapshot with parquet-mr ([[DriverParquet.readFiles]]) and writing one
    * merged file (through [[DriverParquet.open]]) is pure I/O. Schemas are
    * UNION-merged across footers (tables gain columns across versions;
    * every ledger field is a flat optional primitive) with values copied
    * field-by-field, so the fast path preserves added columns exactly like
    * the mergeSchema read path. Rows buffer in memory — callers gate this
    * on total BYTES, which for these one-row-per-commit tables is
    * megabytes at 10⁵ commits.
    *
    * The read pass is PARALLEL across a bounded driver pool — measured at
    * 20k single-row files: sequential merge 233 s (open cost serializes),
    * Spark rewrite ~130 s, 16-thread parquet-mr merge **101 s**. The floor
    * is per-file footer-parse CPU (~80 ms·core/file in BOTH engines), so
    * the fast path's win is the removed job-scheduling overhead and
    * jitter, not I/O; the cadence knob (compact more often, fewer files
    * per pass) is the bigger lever against total maintenance cost.
    */
  private def compactLocal(conf: org.apache.hadoop.conf.Configuration,
                           files: Seq[org.apache.hadoop.fs.Path],
                           out: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Types
    // pass 1: read every file on a bounded pool (open cost dominates)
    val perFile = DriverParquet.readFiles(conf, files)
    val fieldOrder = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.parquet.schema.PrimitiveType]
    val rows = Seq.newBuilder[Group]
    perFile.foreach { fileRows =>
      fileRows.headOption.foreach { g =>
        g.getType.getFields.forEach { fld =>
          require(fld.isPrimitive,
            s"ledger compaction fast path: non-primitive field $fld")
          if (!fieldOrder.contains(fld.getName))
            fieldOrder += fld.getName -> fld.asPrimitiveType()
        }
      }
      rows ++= fileRows
    }
    val b = Types.buildMessage()
    fieldOrder.foreach { case (n, pt) =>
      b.addField(Types.optional(pt.getPrimitiveTypeName)
        .as(pt.getLogicalTypeAnnotation).named(n))
    }
    val schema = b.named("spark_schema")
    val writer = DriverParquet.open(conf, out, schema)
    try rows.result().foreach { g =>
      val o = new SimpleGroup(schema)
      fieldOrder.foreach { case (n, pt) =>
        val has = g.getType.containsField(n) &&
          g.getFieldRepetitionCount(n) > 0
        if (has) pt.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => o.add(n, g.getLong(n, 0))
          case PrimitiveTypeName.INT32 => o.add(n, g.getInteger(n, 0))
          case PrimitiveTypeName.BINARY |
               PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
            o.add(n, g.getBinary(n, 0))
          case PrimitiveTypeName.DOUBLE => o.add(n, g.getDouble(n, 0))
          case PrimitiveTypeName.FLOAT => o.add(n, g.getFloat(n, 0))
          case PrimitiveTypeName.BOOLEAN => o.add(n, g.getBoolean(n, 0))
          case other =>
            throw new IllegalStateException(
              s"ledger compaction fast path: unsupported type $other for $n")
        }
      }
      writer.write(o)
    } finally writer.close()
  }

  /** ONE maintenance lock serializes every destructive table rewrite —
    * compact() AND the reset family — against each other (two concurrent
    * rewrites could re-install each other's deleted snapshots), held
    * through [[LockProvider.withLease]]; None = refused. Stale-lock break
    * is CRASH-RECOVERY and best-effort: two processes both breaking a
    * stale lock in the same instant can at worst DUPLICATE rows (both
    * install their rewritten copy), never lose them — and every
    * resolve-at-read view tolerates duplicates.
    */
  private def maintenanceLease[A](spark: SparkSession, lockTtlMs: Long)(
      body: LockProvider.Fence => A): Option[A] =
    LockProvider.withLease(
      maintenanceLock.getFileSystem(spark.sparkContext.hadoopConfiguration),
      maintenanceLock, lockTtlMs, "maintenance lock", "clean()")(body)

  private def maintenanceLock =
    new org.apache.hadoop.fs.Path(s"$dir/_maintenance/compact.lock")

  /** [[maintenanceLease]] for a public maintenance call: a refusal throws. */
  private[graft] def withMaintenanceLock[A](spark: SparkSession, what: String,
                                            lockTtlMs: Long)(
      body: LockProvider.Fence => A): A =
    maintenanceLease(spark, lockTtlMs)(body).getOrElse(
      throw new IllegalStateException(
        s"ledger maintenance already in progress — $what refused " +
          s"(maintenance lock $maintenanceLock; locks older than " +
          s"$lockTtlMs ms are broken as stale)"))

  /** The ledger's table directories, the compaction/maintenance universe. */
  private def allTables = tableSchemas.keys

  /** Auto-compaction policy: compact ONLY when some table's file count
    * exceeds `maxFilesPerTable`, checked with one LIST per table BEFORE
    * taking any lock — the steady-state call (nothing over threshold) is
    * lock-free and job-free, so a runner can invoke this on every commit
    * boundary without contending with live maintainers. When a rewrite is
    * due it runs the normal [[compact]] under the maintenance lock,
    * REFUSING (None) rather than blocking or throwing if another
    * maintainer holds it — whoever holds the lock is doing the work this
    * call wanted done.
    *
    * Returns None = refused (locked); Some(empty) = nothing over
    * threshold; Some(report) = compacted.
    */
  def maintainIfNeeded(spark: SparkSession, maxFilesPerTable: Int = 64,
                       lockTtlMs: Long = 60L * 60 * 1000)
      : Option[Map[String, (Int, Int)]] = {
    val fsConf = spark.sparkContext.hadoopConfiguration
    val over = allTables.exists { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val fs = p.getFileSystem(fsConf)
      fs.exists(p) && fs.listStatus(p).count { s =>
        s.isFile && s.getPath.getName.endsWith(".parquet")
      } > maxFilesPerTable
    }
    if (!over) Some(Map.empty)
    else maintenanceLease(spark, lockTtlMs)(
      compactTables(spark, maxFilesPerTable, 64L << 20))
  }

  /** Ledger small-files compaction — the scale discipline the ledger's OWN
    * metadata needs: per-index commits append one tiny parquet file each,
    * so a 10⁴–10⁵-index `runPerIndex` run turns every resume probe into a
    * 10⁴–10⁵-footer listing (the reference's SQLite WAL has no analogue of
    * this cost). `compact` rewrites any table whose file count exceeds
    * `maxFilesPerTable` into size-targeted files (64 MB apiece, minimum
    * one). Contents are unchanged — the tables are append-only row logs,
    * so a rewrite is a pure physical re-bin.
    *
    * CONCURRENCY CONTRACT (r13 — the r12 form documented "quiesce first"
    * without enforcing it; the reference dedicates WAL + busy_timeout to
    * exactly this class, `pipeline_store.py:758-777`):
    *
    *  - ONE COMPACTOR AT A TIME, enforced: the maintenance lock at
    *    `<dir>/_maintenance/compact.lock` ([[withMaintenanceLock]]). A
    *    second concurrent `compact` throws `IllegalStateException`. A lock
    *    older than `lockTtlMs` is treated as a crashed compactor's and
    *    broken.
    *  - RACING COMMITTERS LOSE NOTHING, structurally: each table's rewrite
    *    SNAPSHOTS the exact parquet file set, reads only those files,
    *    installs the compacted files INTO the live table dir under fresh
    *    UUID names, then deletes exactly the snapshot. Commits are pure
    *    file ADDS (see [[appendRows]]), so there is no retired directory a
    *    racing stage-then-rename commit could land in — a concurrent
    *    commit's file is neither read nor deleted and simply survives.
    *  - Readers overlapping the install→delete window may transiently see
    *    a row both in its original file and in the compacted one. Every
    *    resolve-at-read view tolerates duplicates by construction
    *    (`completedIndices` is distinct, `indexDf`/`workersDf`/`runMeta`
    *    resolve latest-wins via max-struct, `outputFiles` first-wins);
    *    only raw-count dashboards can transiently over-count during an
    *    overlapping maintenance window.
    *
    * `smallTableBytes` gates the DRIVER-SIDE rewrite ([[compactLocal]]):
    * a table whose snapshot totals at most this many bytes is merged
    * sequentially with parquet-mr into one file (rows buffer in memory —
    * these are one-row-per-commit tables, megabytes at 10⁵ commits)
    * instead of paying one Spark task per tiny file; measured 113–138 s →
    * single-digit seconds per 20k-file table. Pass 0 to force the Spark
    * path (large or externally-written tables take it automatically).
    *
    * Returns table → (files before, files after) for every table present.
    */
  def compact(spark: SparkSession, maxFilesPerTable: Int = 64,
              lockTtlMs: Long = 60L * 60 * 1000,
              smallTableBytes: Long = 64L << 20): Map[String, (Int, Int)] =
    withMaintenanceLock(spark, "compact", lockTtlMs)(
      compactTables(spark, maxFilesPerTable, smallTableBytes))

  /** [[compact]]'s rewrite; the caller holds the maintenance lock. */
  private def compactTables(spark: SparkSession, maxFilesPerTable: Int,
                            smallTableBytes: Long)(
      fence: LockProvider.Fence): Map[String, (Int, Int)] = {
    val fsConf = spark.sparkContext.hadoopConfiguration
    clean(spark) // janitor staging orphans while we hold the lock
    allTables.flatMap { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val fs = p.getFileSystem(fsConf)
      def parquetFiles() = {
        val it = fs.listFiles(p, true)
        val b = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) b += f
        }
        b.result()
      }
      if (!fs.exists(p)) None
      else {
        // SNAPSHOT: the rewrite reads exactly these files and later
        // deletes exactly these files — nothing else
        val snap = parquetFiles()
        val nFiles = snap.size
        if (nFiles <= maxFilesPerTable) Some(t -> (nFiles, nFiles))
        else {
          val nBytes = snap.map(_.getLen).sum
          val target = math.max(1L, nBytes / (64L << 20)).toInt
          val tmp = new org.apache.hadoop.fs.Path(
            s"$dir/_staging/compact_${java.util.UUID.randomUUID()}")
          if (nBytes <= smallTableBytes) {
            // driver fast path: sequential parquet-mr merge, one file
            fs.mkdirs(tmp)
            compactLocal(fsConf, snap.map(_.getPath),
              new org.apache.hadoop.fs.Path(tmp, "merged.parquet"))
          } else spark.read.option("mergeSchema", "true")
            .parquet(snap.map(_.getPath.toString): _*)
            .coalesce(target)
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          // install compacted files into the LIVE dir, then drop the
          // snapshot; concurrent commits are adds and survive both steps.
          fence("compact")
          Ledger.install(fs, tmp, p, "")
          fence("compact") // again before the snapshot unlinks
          snap.foreach(f => fs.delete(f.getPath, false))
          Some(t -> (nFiles, parquetFiles().size))
        }
      }
    }.toMap
  }

  // ------------------------------------------------------- reset family
  // The reference's destructive store edits (`pipeline_store.py:1455-1508`):
  // `reset()` clears every record of a run (filter_artifacts, output_files,
  // stage_metrics, index_results, workers, pipeline_runs — logs are KEPT,
  // matching the reference), `reset_index(i)` clears one index's records so
  // a resume re-runs it from scratch. In an append-only parquet ledger a
  // row delete is a rewrite — but the per-run commit-file prefix makes the
  // common case cheap: a run's own TAIL files contain only that run's rows,
  // so resetRun deletes them outright; only SHARED files (compacted bins,
  // legacy names) need the read-filter-rewrite, and only when they actually
  // hold the run's rows. Both take the maintenance lock (they are
  // destructive rewrites racing compact() and each other) and clear the
  // run's claim namespaces so a resumed invocation re-claims reset indices.

  /** Names of the candidate files whose parquet footer statistics PROVE
    * every row belongs to `runId`: each `run_id` column chunk must show
    * min = max = runId with zero nulls. The proof needs no registration
    * assumption (any writer's file speaks for itself through its own
    * footer) and costs footer-sized IO per file. Missing, truncated, or
    * unreadable stats fail the proof and fall to the read-filter-rewrite
    * path — never wrong, at worst slower; run_id strings sit far below
    * parquet's 64-byte stat-truncation threshold in every entry point.
    * Large tails fan the footer reads out as one Spark job (the 10⁴-commit
    * reset shape); small ones stay a driver loop.
    */
  private def provablyExclusive(spark: SparkSession,
                                fs: org.apache.hadoop.fs.FileSystem,
                                files: Seq[org.apache.hadoop.fs.Path],
                                runId: String): Set[String] = {
    def proof(pfs: org.apache.hadoop.fs.FileSystem,
              f: org.apache.hadoop.fs.Path): Boolean =
      try {
        val chunks = graft.sources.ParquetFooter.parseFooter(
          graft.sources.ParquetFooter.readFooterBytes(pfs, f))
          .filter(_.column == "run_id")
        chunks.nonEmpty && chunks.forall(c =>
          c.nullCount.contains(0L) && c.minV.contains(runId) &&
            c.maxV.contains(runId))
      } catch { case _: Exception => false }
    if (files.size <= 64)
      files.iterator.filter(proof(fs, _)).map(_.getName).toSet
    else {
      import org.apache.spark.sql.Encoders
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      spark.createDataset(files.map(_.toString))(Encoders.STRING)
        .mapPartitions { it =>
          it.filter { s =>
            val p = new org.apache.hadoop.fs.Path(s)
            proof(p.getFileSystem(conf.value), p)
          }.map(s => new org.apache.hadoop.fs.Path(s).getName)
        }(Encoders.STRING)
        .collect().toSet // names only — bounded by the candidate tail
    }
  }

  /** Snapshot of a table's parquet files split into (this run's tail files,
    * shared files); other runs' tail files are never touched.
    */
  private def splitSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path, runId: String)
      : (Seq[org.apache.hadoop.fs.Path], Seq[org.apache.hadoop.fs.Path]) = {
    val pre = runPrefix(runId)
    val all = fs.listStatus(p).iterator.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    (all.filter(_.getName.startsWith(pre)),
      all.filter(q => !tailFileRe.matcher(q.getName).matches()))
  }

  /** Rewrite `files` of table dir `p` without the rows matching `drop`,
    * installing the kept rows as `<prefix><uuid>.parquet`; no-op when no
    * file holds such rows. mergeSchema read — a maintenance pass, like
    * compact's. Caller holds the maintenance lock; `fence` is its fence.
    *
    * NULL discipline: legacy mixed-ledger rows may lack a column the
    * predicate references (e.g. pre-idx stage_metrics), making `drop`
    * evaluate to NULL — or the whole selected file set may lack the
    * column, making the predicate unresolvable. A destructive rewrite
    * must treat both as "not dropped": missing canonical columns are
    * padded with NULL so the predicate resolves, `!NULL` is NULL and a
    * bare `filter(!drop)` would silently delete those rows, so the
    * trigger check and the kept set both coalesce the predicate, and the
    * kept rows are written back with their ORIGINAL columns only.
    */
  private def rewriteWithout(spark: SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path,
                             files: Seq[org.apache.hadoop.fs.Path],
                             drop: Column, prefix: String,
                             fence: LockProvider.Fence): Unit = {
    if (files.isEmpty) return
    val raw = spark.read.option("mergeSchema", "true")
      .parquet(files.map(_.toString): _*)
    val df = tableSchemas(p.getName).fields.foldLeft(raw)((d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, lit(null).cast(f.dataType)))
    if (df.filter(coalesce(drop, lit(false))).isEmpty) return
    val keep = df.filter(coalesce(!drop, lit(true)))
      .select(raw.columns.map(col).toIndexedSeq: _*)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/reset_${java.util.UUID.randomUUID()}")
    keep.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fence("rewrite")
    Ledger.install(fs, tmp, p, prefix)
    files.foreach(f => fs.delete(f, false))
  }

  /** Reference `reset()` (`pipeline_store.py:1455-1477`): clear every
    * record of `runId` (logs kept). Divergence, documented: the reference
    * re-registers the run inside reset; here registration happens at the
    * next `recordRunStart`, which every Runner entry point already calls.
    * Returns table → files deleted outright (the run's own tail).
    */
  def resetRun(spark: SparkSession, runId: String,
               lockTtlMs: Long = 60L * 60 * 1000): Map[String, Int] =
    withMaintenanceLock(spark, s"resetRun($runId)", lockTtlMs) { fence =>
      val fsConf = spark.sparkContext.hadoopConfiguration
      val tables = Seq("filter_artifacts", "output_files", "stage_metrics",
        "index_results", "errors", "workers", "runs")
      val report = tables.map { t =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
        val fs = p.getFileSystem(fsConf)
        if (!fs.exists(p)) t -> 0
        else {
          val (mine, shared) = splitSnapshot(fs, p, runId)
          // The name-prefix match is only 8 hex chars of MD5 — fine on the
          // read path (the run_id filter stays on), but an outright unlink
          // must not trust it: a prefix COLLISION between two run_ids would
          // delete another run's commits. Exclusivity is proven per file
          // from PARQUET FOOTER STATISTICS (see [[provablyExclusive]]) —
          // no registration assumption at all (the r14 runs-table check
          // was blind to writers that never called recordRunStart), at
          // footer-sized IO per candidate tail file.
          val provable = provablyExclusive(spark, fs, mine, runId)
          val (clean, dirty) =
            mine.partition(f => provable.contains(f.getName))
          fence(s"resetRun($runId)")
          clean.foreach(f => fs.delete(f, false)) // provably only this run's rows
          Seq(dirty, shared).foreach(rewriteWithout(spark, fs, p, _,
            col("run_id") === runId, "", fence))
          t -> clean.size
        }
      }.toMap
      val claims = new org.apache.hadoop.fs.Path(s"$dir/claims/$runId")
      val cfs = claims.getFileSystem(fsConf)
      if (cfs.exists(claims)) cfs.delete(claims, true)
      report
    }

  /** [[rewriteWithout]] over one table, touching only `runId`'s own tail
    * files and the shared bucket: surviving tail rows are re-installed
    * UNDER THE RUN'S PREFIX (so per-run pruning keeps working after the
    * rewrite); other runs' tail files are never read. Caller holds the
    * maintenance lock; `fence` is its fence.
    */
  private def dropRows(spark: SparkSession, table: String, runId: String,
                       drop: Column, fence: LockProvider.Fence): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val (mine, shared) = splitSnapshot(fs, p, runId)
      rewriteWithout(spark, fs, p, mine, drop, runPrefix(runId), fence)
      rewriteWithout(spark, fs, p, shared, drop, "", fence)
    }
  }

  /** Reference `reset_index(i)` (`pipeline_store.py:1478-1508`): clear one
    * index's records (filter_artifacts, output_files, stage_metrics,
    * index_results — plus our split-out errors table, whose rows live in
    * index_results in the reference) so a resume re-runs exactly that
    * index.
    */
  def resetIndex(spark: SparkSession, runId: String, idx: Long,
                 lockTtlMs: Long = 60L * 60 * 1000): Unit =
    withMaintenanceLock(spark, s"resetIndex($runId, $idx)",
        lockTtlMs) { fence =>
      val drop = col("run_id") === runId && col("idx") === idx
      Seq("filter_artifacts", "output_files", "stage_metrics",
        "index_results", "errors")
        .foreach(dropRows(spark, _, runId, drop, fence))
      // drop the index's claim files in every invocation namespace, so a
      // resumed invocation re-claims it
      val claims = new org.apache.hadoop.fs.Path(s"$dir/claims/$runId")
      val cfs = claims.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (cfs.exists(claims)) {
        cfs.listStatus(claims).iterator.filter(_.isDirectory).foreach { inv =>
          val c = new org.apache.hadoop.fs.Path(inv.getPath, s"idx_$idx")
          if (cfs.exists(c)) cfs.delete(c, false)
        }
      }
    }

  /** Reference `index_for_path` (`pipeline_store.py:1510-1531`): which
    * source index produced this output file — the reverse lookup over the
    * (path, run_id)-resolved output_files view.
    */
  def indexForPath(spark: SparkSession, runId: String,
                   path: String): Option[Long] =
    outputFiles(spark, runId).filter(col("path") === path)
      .select("idx").collect().headOption.map(_.getLong(0))

  /** Reference `replace_filter_artifacts` (`pipeline_store.py:1593-1635`):
    * after a shard-merge (`gather_pipeline`), drop the shard artifact rows
    * and record ONE merged row at the reference's representative idx = 0 —
    * the dashboard then points at the final merged file. Both steps run
    * INSIDE one maintenance-lock hold, insert-first: the reference does
    * delete+insert in a single SQLite transaction, and the closest
    * crash-safe analogue here is append-then-rewrite — a crash between
    * the steps leaves shard rows AND the merged row (a recoverable
    * superset a re-invocation collapses), never the neither-state a
    * delete-then-unlocked-insert ordering would expose to concurrent
    * readers.
    */
  def replaceFilterArtifacts(spark: SparkSession, runId: String,
                             filterName: String, filterOrder: Int,
                             oldPaths: Seq[String], mergedPath: String,
                             lockTtlMs: Long = 60L * 60 * 1000): Unit =
    withMaintenanceLock(spark, s"replaceFilterArtifacts($runId)",
        lockTtlMs) { fence =>
      // insert-if-absent keeps a retry of the same merge (after a crash
      // between the two steps) from stacking duplicate merged rows
      val already = filterArtifacts(spark, runId)
        .filter(col("path") === mergedPath &&
          col("filter_name") === filterName)
        .limit(1).count() > 0
      if (!already)
        recordFilterArtifacts(spark, runId, 0L, filterName, filterOrder,
          Seq(mergedPath))
      if (oldPaths.nonEmpty)
        dropRows(spark, "filter_artifacts", runId,
          col("run_id") === runId && col("path").isin(oldPaths: _*) &&
            col("path") =!= mergedPath, fence)
    }

  /** `logs_df` parity (`dashboard/data.py:283-321` over
    * `pipeline_store.get_logs`): the leveled, bounded log tail. Level
    * names map onto Python logging's numeric scale (DEBUG 10 / INFO 20 /
    * WARNING 30 / ERROR 40 — unknown names read as INFO), rows below
    * `minLevel` drop, and the newest `limit` rows survive (the
    * dashboard's tail view; at 100 TB the ledger's logs table is
    * partition-pruned by run_id before any of this runs).
    */
  def logsDf(spark: SparkSession, runId: String, limit: Int = 500,
             minLevel: Int = 0): DataFrame =
    logs(spark, runId)
      .withColumn("level_num",
        when(col("level") === "DEBUG", 10)
          .when(col("level") === "INFO", 20)
          .when(col("level") === "WARNING", 30)
          .when(col("level") === "ERROR", 40)
          .otherwise(20))
      .filter(col("level_num") >= minLevel)
      .orderBy(col("ts").desc, col("idx").desc)
      .limit(limit)
      .select(col("ts"), col("level"), col("level_num"), col("worker_id"),
        col("idx"), col("logger_name"), col("message"))

  /** `workers_df` parity (`dashboard/data.py:192-246` +
    * `indices_by_worker`/`active_workers`, `pipeline_store.py:1200-1246,
    * 1760-1810`): one row per claiming worker with the reference's full
    * column set — identity (`pid`, `hostname`, `invocation_id`), liveness
    * (`started_at` = first heartbeat, `last_heartbeat` = latest,
    * `current_index` from the latest row), and completed/failed counts
    * recomputed from index_results exactly as the reference's view does
    * (it drops the workers table's stale `completed_count` in favor of the
    * authoritative per-index rows). Workers that committed index rows
    * before the heartbeat registry existed (or the batch driver claim)
    * still surface, with null identity fields. Concurrent sessions sharing
    * a ledger each appear as their own worker row.
    */
  def workersDf(spark: SparkSession, runId: String): DataFrame = {
    val (compRows, errRows) = workerIndexRows(spark, runId)
    val comp = compRows.groupBy("worker_id")
      .agg(countDistinct("idx").as("completed"))
    val errs = errRows.groupBy("worker_id")
      .agg(countDistinct("idx").as("failed"))
    // latest-row-wins identity/liveness from the heartbeat registry
    val reg = workers(spark, runId)
      .groupBy("worker_id")
      .agg(min(col("ts")).as("started_at"),
        max(col("ts")).as("last_heartbeat"),
        max(struct(col("ts"), col("pid"), col("hostname"),
          col("current_index"), col("invocation_id"))).as("w"))
      .select(col("worker_id"), col("w.pid").as("pid"),
        col("w.hostname").as("hostname"), col("started_at"),
        col("last_heartbeat"), col("w.current_index").as("current_index"),
        col("w.invocation_id").as("invocation_id"))
    comp.join(errs, Seq("worker_id"), "full_outer")
      .join(reg, Seq("worker_id"), "full_outer")
      .select(col("worker_id"), col("pid"), col("hostname"),
        col("started_at"), col("last_heartbeat"), col("current_index"),
        col("invocation_id"),
        coalesce(col("completed"), lit(0L)).as("completed"),
        coalesce(col("failed"), lit(0L)).as("failed"))
  }

  /** STALL DETECTOR (the data core of the reference's live progress
    * monitor, `run/progress_monitor.py`): workers whose LATEST heartbeat
    * carries a `current_index` — i.e. they hold a claim mid-index — but is
    * older than `stallThresholdMs` at `nowMs`. A worker that finished
    * cleanly heartbeats with current_index = NULL at run end, so it never
    * surfaces here no matter how old its last row; a crashed or hung
    * claimant keeps its index attached to a heartbeat that stops
    * refreshing, which is exactly the signature this filters for. `nowMs`
    * is a parameter (no wall-clock read inside the view) so monitors
    * evaluate staleness against their own clock and tests stay
    * deterministic.
    */
  def stalledWorkersDf(spark: SparkSession, runId: String,
                       stallThresholdMs: Long, nowMs: Long): DataFrame =
    workersDf(spark, runId)
      .filter(col("current_index").isNotNull &&
        col("last_heartbeat") < lit(nowMs - stallThresholdMs))
      .select(col("worker_id"), col("current_index"), col("last_heartbeat"),
        (lit(nowMs) - col("last_heartbeat")).as("stalled_ms"))

  /** `progress` view — one row of run liveness (the numbers
    * `run/progress_monitor.py` / `run/progress_app.py` poll from the
    * store): the summary counters, per-run THROUGHPUT in indices/min
    * (completed count over the span from the run's recorded `started_at`
    * to the newest completion — both ledger timestamps, so the view is a
    * pure function of the tables), an ETA for the remainder at that rate
    * (null until throughput exists), and the stall detector's counts.
    * Heartbeats refresh on every commit AND — throttled — on every
    * scheduler-stage completion inside a long-running index (the Runner's
    * stage-grain refresh), so a stalled worker means genuinely no forward
    * progress, not just a slow index.
    */
  def progressDf(spark: SparkSession, runId: String,
                 stallThresholdMs: Long, nowMs: Long): DataFrame = {
    val sm = summaryDf(spark, runId).collect()(0)
    val (total, completed, failed, remaining) =
      (sm.getAs[Long]("total"), sm.getAs[Long]("completed"),
        sm.getAs[Long]("failed"), sm.getAs[Long]("remaining"))
    def one(df: DataFrame): Option[Long] =
      Option(df.first()).filterNot(_.isNullAt(0)).map(_.getLong(0))
    val startedAt = one(readTable(spark, "runs", Some(runId))
      .agg(min("started_at")))
    val lastFinished = one(readTable(spark, "index_results", Some(runId))
      .filter(col("status") === "completed").agg(max("finished_at")))
    val throughputPerMin: Option[Double] = for {
      s <- startedAt; f <- lastFinished if completed > 0
    } yield completed * 60000.0 / math.max(f - s, 1L)
    val etaS: Option[Double] =
      throughputPerMin.filter(_ > 0).map(t => remaining * 60.0 / t)
    val st = stalledWorkersDf(spark, runId, stallThresholdMs, nowMs)
      .agg(count(lit(1)).as("n"), min("worker_id").as("w")).collect()(0)
    val nWorkers = workersDf(spark, runId).count()
    import spark.implicits._
    Seq((total, completed, failed, remaining,
      throughputPerMin.getOrElse(Double.NaN), etaS.getOrElse(Double.NaN),
      nWorkers, st.getLong(0), Option(st.getString(1)).getOrElse("")))
      .toDF("total", "completed", "failed", "remaining",
        "throughput_per_min", "eta_s", "n_workers", "n_stalled",
        "first_stalled_worker")
  }
}

object Ledger {
  import org.apache.spark.sql.types._

  /** [[Ledger.completedIndices]]' shape. */
  private val IdxSchema = StructType(Seq(StructField("idx", LongType)))

  /** [[Ledger.outputFiles]]' shape; `run_id` is the read's own run. */
  private val OutputFilesSchema = StructType(Seq(
    StructField("path", StringType), StructField("idx", LongType),
    StructField("run_id", StringType, nullable = false),
    StructField("seq", IntegerType)))

  /** `df.count()`, answered without a Spark job when `df` is a local
    * relation (a driver-tier ledger read).
    */
  private[graft] def count(df: DataFrame): Long =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.size.toLong
      case _ => df.count()
    }

  /** Stage-then-rename install: move every staged `*.parquet` under
    * `staging` into `dest` as `<prefix><uuid>.parquet`, then drop the
    * staging dir. Each rename installs one COMPLETE file, so a reader of
    * `dest` never sees a partial write (the ledger's commits and rewrites,
    * the standing dedup index's batch installs).
    */
  private[graft] def install(fs: org.apache.hadoop.fs.FileSystem,
                             staging: org.apache.hadoop.fs.Path,
                             dest: org.apache.hadoop.fs.Path,
                             prefix: String): Unit = {
    fs.listStatus(staging).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach { f =>
        require(fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dest,
          s"$prefix${java.util.UUID.randomUUID()}.parquet")),
          s"install into $dest failed")
      }
    fs.delete(staging, true)
  }
}
