package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.Tables

/** Pipeline and ledger queries: `Pipeline`/`Runner` compositions, partial
  * failure and resume, and the ledger and dashboard views over a run.
  */
object PipelineQueries extends Family("ledger/pipeline") {
  import QuerySupport._

  /** The ledger-oracle pipeline: STATIC name/params (only the load closure
    * touches `dir`), so `canonicalConfig`/`configHash` — the §2.5 config
    * identity — are compile-time-known and the oracle can assert the exact
    * run_id and config length as literals.
    */
  private def ledgerPipelineFor(dir: String): graft.core.Pipeline =
    graft.core.Pipeline(
      graft.core.PSource("orders_by_mod8", Map("table" -> "orders", "mod" -> "8"),
        sp => Tables.orders(sp, dir).withColumn("idx", col("o_orderkey") % 8)),
      Vector(graft.core.PFilter("open_orders", Map("status" -> "O"),
        df => df.filter(col("o_orderstatus") === "O"))),
      None) // metrics-only run: the count action drives execution

  /** Ledger-as-data (§2.5: checkpoint/resume, run identity, stage metrics,
    * DB schema — reference `core/pipeline_store.py:540-620`): run the static
    * pipeline twice on a fresh ledger — first executes, second resumes to a
    * full skip — then summarize the ledger PARQUET itself. Every emitted
    * value is deterministic: counts come from the orders table, the run id
    * and config length from the byte-stable canonical config.
    */
  q("q_ledger_summary", {
      // config identity is dir-independent by construction, so the expected
      // run id / config length are LITERALS — the oracle pins the exact hash
      val p = ledgerPipelineFor("")
      val runId = p.configHash.take(16)
      val cfgLen = p.canonicalConfig.length
      s"""WITH i AS (SELECT DISTINCT o_orderkey % 8 AS idx FROM orders)
         |SELECT CAST(count(*) AS BIGINT) AS n_index_rows,
         |  CAST(count(*) AS BIGINT) AS n_indices,
         |  CAST(min(idx) AS BIGINT) AS min_idx,
         |  CAST(max(idx) AS BIGINT) AS max_idx,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders
         |     WHERE o_orderstatus = 'O') AS observed_rows,
         |  1 AS wall_positive,
         |  CAST(1 AS BIGINT) AS n_runs,
         |  '$runId' AS run_id,
         |  CAST($cfgLen AS BIGINT) AS config_len,
         |  1 AS has_stage_metrics, 1 AS stage_wall_nonneg,
         |  CAST(0 AS BIGINT) AS run2_executed,
         |  CAST(count(*) AS BIGINT) AS run2_skipped
         |FROM i""".stripMargin
    }) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_ledger_rt", dir)
    val pipe = ledgerPipelineFor(dir)
    graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val r2 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val runId = pipe.configHash.take(16)
    val idxRes = s.read.parquet(s"$ledgerDir/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
    val runs = s.read.parquet(s"$ledgerDir/runs").filter(col("run_id") === runId)
    val stages = new graft.core.Ledger(ledgerDir).stageMetrics(s, runId)
    idxRes
      .agg(count(lit(1)).as("n_index_rows"),
        countDistinct(col("idx")).as("n_indices"),
        min(col("idx")).as("min_idx"), max(col("idx")).as("max_idx"),
        max(col("n_rows")).as("observed_rows"),
        (min(col("wall_ns")) > 0).cast("int").as("wall_positive"))
      .crossJoin(runs.agg(count(lit(1)).as("n_runs"),
        max(col("run_id")).as("run_id"),
        max(length(col("config_json"))).cast("long").as("config_len")))
      .crossJoin(stages.agg(
        (count(lit(1)) > 0).cast("int").as("has_stage_metrics"),
        (min(col("wall_ns")) >= 0).cast("int").as("stage_wall_nonneg")))
      .withColumn("run2_executed", lit(r2.nExecuted))
      .withColumn("run2_skipped", lit(r2.nSkipped))
  }

  /** §2.5 row-level detail (serialization `core/serialization.py:108-345`,
    * registry `core/registry.py:26-257`, DB logging
    * `core/pipeline_store.py:592-604`): run the ledger pipeline, write one
    * structured log row per executed index with a message DERIVED FROM THE
    * DATA (per-index row count), then emit one output row per index by
    * joining index_results ⋈ logs over the ledger parquet — the stricter
    * row-level variant of q_ledger_summary's aggregate gating. The
    * serialization round trip (save → load through a registry of stage
    * factories) is gated as configHash equality; the registry inventory
    * rides along as name lists.
    */
  q("q_ledger_detail",
    // Row-level ledger mirror: the executed index set and the per-index log
    // messages are both reconstructible from orders; serde/registry gates
    // are deterministic once correct.
      """WITH i AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT idx, 'completed' AS status, 1 AS peak_mem_nonneg,
        |  'INFO' AS log_level,
        |  'completed idx ' || idx || ' with ' || n || ' rows' AS log_message,
        |  1 AS serde_hash_equal,
        |  'orders_by_mod8' AS registry_sources,
        |  'open_orders' AS registry_filters
        |FROM i ORDER BY idx""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_ledger_dt", dir)
    val pipe = ledgerPipelineFor(dir)

    val reg = new graft.core.Registry
    reg.registerSource("orders_by_mod8")(ps => graft.core.PSource(
      "orders_by_mod8", ps,
      sp => Tables.orders(sp, dir).withColumn("idx", col("o_orderkey") % ps("mod").toInt)))
    reg.registerFilter("open_orders")(ps => graft.core.PFilter(
      "open_orders", ps, df => df.filter(col("o_orderstatus") === ps("status"))))
    val yml = s"$ledgerDir/pipeline.yaml"
    graft.core.Serialization.save(pipe, yml)
    val loaded = graft.core.Serialization.load(yml, reg)
    val serdeOk = loaded.configHash == pipe.configHash

    val res = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val ledger = new graft.core.Ledger(ledgerDir)
    // one log row per executed index — the collect is bounded by the
    // 8-value index domain (idx = o_orderkey % 8)
    val perIdx = pipe.dataFrame(s).groupBy(col("idx")).count()
      .collect().map(r => ("INFO", "graft.runner",
        s"completed idx ${r.getLong(0)} with ${r.getLong(1)} rows", r.getLong(0)))
    ledger.recordLogs(s, res.runId, perIdx.toSeq)

    val idxRes = s.read.parquet(s"$ledgerDir/index_results")
      .filter(col("run_id") === res.runId && col("status") === "completed")
      // peak_memory_bytes is runtime-dependent (executor task peaks), so
      // the gate pins presence + sanity, not the value
      .select(col("idx"), col("status"),
        (col("peak_memory_bytes").isNotNull &&
          col("peak_memory_bytes") >= 0).cast("int").as("peak_mem_nonneg"))
    val logs = ledger.logs(s, res.runId)
      .select(col("idx"), col("level").as("log_level"), col("message").as("log_message"))
    idxRes.join(logs, "idx")
      .withColumn("serde_hash_equal", lit(if (serdeOk) 1 else 0))
      .withColumn("registry_sources", lit(reg.sourceNames.mkString(",")))
      .withColumn("registry_filters", lit(reg.filterNames.mkString(",")))
      .orderBy("idx")
  }

  /** §2.5 end-to-end composition gate: the ACTUAL Pipeline builder drives
    * source → FieldSelectFilter → PrecisionFilter → per-index stats into a
    * parquet artifact through Runner's ledger (run 1 executes and writes;
    * run 2 resumes to a full skip, leaving the artifact untouched). The
    * emitted rows are read back from the SINK ARTIFACT, not the in-session
    * DataFrame — proving the §2.2/2.3 operators compose through the public
    * API and the resume contract holds around a real sink (reference
    * `run/__init__.py:169-315` driving the `core/base.py:448-502` chain).
    */
  q("q_pipeline_e2e",
      """SELECT CAST(l_orderkey % 8 AS BIGINT) AS idx,
        |  l_returnflag AS return_flag,
        |  count(*) AS n_rows,
        |  round(sum(CAST(CAST(l_quantity AS REAL) AS DOUBLE)) + 1e-9, 4) AS sum_qty,
        |  min(CAST(l_extendedprice AS REAL)) AS min_price,
        |  max(CAST(l_extendedprice AS REAL)) AS max_price,
        |  round(avg(CAST(CAST(l_extendedprice AS REAL) AS DOUBLE)) + 1e-9, 4) AS avg_price,
        |  CAST(8 AS BIGINT) AS run1_executed,
        |  CAST(0 AS BIGINT) AS run2_executed,
        |  CAST(8 AS BIGINT) AS run2_skipped,
        |  1 AS artifact_written
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_pipe_e2e", dir)
    val artDir = s"$ledgerDir/artifact"
    val pipe = graft.core.Pipeline(
      graft.core.PSource("lineitem_by_mod8", Map("table" -> "lineitem", "mod" -> "8"),
        sp => Tables.lineitem(sp, dir).withColumn("idx", col("l_orderkey") % 8)),
      Vector(
        graft.core.PFilter("field_select",
          Map("include" -> "l_returnflag,l_quantity,l_extendedprice"),
          df => graft.operators.FieldOps.fieldSelect(df, keep = Seq("idx"),
            include = Seq("l_returnflag", "l_quantity", "l_extendedprice"))),
        graft.core.PFilter("precision_f32", Map("target" -> "float"),
          df => graft.operators.FieldOps.precisionCast(df)),
        graft.core.PFilter("stats_by_idx_flag", Map("groups" -> "idx,l_returnflag"),
          df => df.groupBy(col("idx"), col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("l_quantity").cast("double")).as("sum_qty"),
              min(col("l_extendedprice")).as("min_price"),
              max(col("l_extendedprice")).as("max_price"),
              avg(col("l_extendedprice").cast("double")).as("avg_price")))),
      Some(graft.core.PSink("parquet_artifact", Map("path" -> "artifact"),
        df => { df.write.mode("overwrite").parquet(artDir); Seq(artDir) })))
    val r1 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val r2 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    s.read.parquet(artDir)
      .select(col("idx"), col("l_returnflag").as("return_flag"),
        col("n_rows"),
        rnd("sum_qty", 4).as("sum_qty"),
        col("min_price"), col("max_price"),
        rnd("avg_price", 4).as("avg_price"))
      .withColumn("run1_executed", lit(r1.nExecuted))
      .withColumn("run2_executed", lit(r2.nExecuted))
      .withColumn("run2_skipped", lit(r2.nSkipped))
      .withColumn("artifact_written", lit(if (r1.writtenPaths.nonEmpty) 1 else 0))
      .orderBy("idx", "return_flag")
  }

  /** §2.5 PARTIAL-failure resume — the case the ledger exists for
    * (reference `core/base.py:595-602`, `test_checkpoint.py`): run 1
    * executes per-index (one committed artifact partition + one ledger row
    * per index) and CRASHES at index 5 via an injected driver-side fault,
    * leaving indices 0-4 durable and an errors row for 5; run 2 resumes and
    * executes exactly the remaining 3 (the errored index retries). The
    * output reads the SINK ARTIFACT (all 8 partitions, identical to a
    * clean run) and pins run1_completed=5 / run1_failed=1 /
    * run2_executed=3 / run2_skipped=5 as literals the oracle re-asserts.
    */
  q("q_pipeline_partial",
      """SELECT CAST(l_orderkey % 8 AS BIGINT) AS idx,
        |  l_returnflag AS return_flag,
        |  count(*) AS n_rows,
        |  round(sum(l_quantity) + 1e-9, 4) AS sum_qty,
        |  1 AS run1_crashed,
        |  CAST(5 AS BIGINT) AS run1_completed,
        |  CAST(1 AS BIGINT) AS run1_failed,
        |  CAST(5 AS BIGINT) AS run1_recorded_paths,
        |  CAST(3 AS BIGINT) AS run2_executed,
        |  CAST(5 AS BIGINT) AS run2_skipped,
        |  1 AS run2_returns_crashed_paths,
        |  CAST(8 AS BIGINT) AS run2_total_paths
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_pipe_part", dir)
    val artDir = s"$ledgerDir/artifact"
    val pipe = graft.core.Pipeline(
      graft.core.PSource("lineitem_by_mod8", Map("table" -> "lineitem", "mod" -> "8"),
        sp => Tables.lineitem(sp, dir).withColumn("idx", col("l_orderkey") % 8)),
      Vector(
        graft.core.PFilter("stats_by_idx_flag", Map("groups" -> "idx,l_returnflag"),
          df => df.groupBy(col("idx"), col("l_returnflag"))
            .agg(count(lit(1)).as("n_rows"),
              rnd(sum(col("l_quantity")), 4).as("sum_qty")))),
      Some(graft.core.PSink("parquet_partitioned", Map("path" -> "artifact"),
        df => graft.sinks.Sinks.partitionedParquet(df, artDir, Seq("idx")))))
    val crashed =
      try {
        graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir,
          beforeIndex = i => if (i == 5L) throw new RuntimeException("injected fault"))
        false
      } catch { case e: RuntimeException if e.getMessage == "injected fault" => true }
    val runId = pipe.configHash.take(16)
    val ledger = new graft.core.Ledger(ledgerDir)
    val run1Completed = ledger.completedIndices(s, runId).count()
    val run1Failed = ledger.failedIndices(s, runId).count()
    // output_files provenance recorded by the crashed run: one partition
    // dir per completed index (0-4)
    val crashedPaths = ledger.outputFiles(s, runId)
      .select("path").collect().map(_.getString(0)).toSet
    val r2 = graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir)
    // the resumed run returns the crashed run's recorded paths (reference
    // is_completed cache contract) plus its own three
    val resumedPaths = crashedPaths.subsetOf(r2.outputPaths.toSet)
    s.read.parquet(artDir)
      .select(col("idx").cast("long").as("idx"),
        col("l_returnflag").as("return_flag"), col("n_rows"), col("sum_qty"))
      .withColumn("run1_crashed", lit(if (crashed) 1 else 0))
      .withColumn("run1_completed", lit(run1Completed))
      .withColumn("run1_failed", lit(run1Failed))
      .withColumn("run1_recorded_paths", lit(crashedPaths.size.toLong))
      .withColumn("run2_executed", lit(r2.nExecuted))
      .withColumn("run2_skipped", lit(r2.nSkipped))
      .withColumn("run2_returns_crashed_paths", lit(if (resumedPaths) 1 else 0))
      .withColumn("run2_total_paths", lit(r2.outputPaths.size.toLong))
      .orderBy("idx", "return_flag")
  }

  /** Shared fixture for the DashboardStore parity gates: the static orders
    * pipeline run PER-INDEX with an injected fault at idx 5 — leaving the
    * ledger in the dashboard's most interesting state: 5 completed indices
    * (0-4, each with its real row count), 1 failed (5, with its message),
    * 2 untouched (6-7). Returns (ledger, runId).
    */
  private def dashboardLedgerFor(s: SparkSession, dir: String,
                                 tag: String): (graft.core.Ledger, String) = {
    val ledgerDir = freshTmpDir(tag, dir)
    val pipe = ledgerPipelineFor(dir)
    try graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir,
      beforeIndex = i => if (i == 5L) throw new RuntimeException("injected fault"))
    catch { case e: RuntimeException if e.getMessage == "injected fault" => () }
    (new graft.core.Ledger(ledgerDir), pipe.configHash.take(16))
  }

  /** DashboardStore `index_df` (`dashboard/data.py:86-135`): the per-index
    * drill-down view — status resolves retry-wins, failed-only indices
    * merge in, the error message rides along. Row counts come from the
    * real orders data (per-residue 'O' counts), so the oracle replays
    * them; wall/peak/gpu are runtime-dependent and gate as booleans (gpu
    * must be EXACTLY zero on a CPU run — `gpu_memory_bytes` is null).
    */
  q("q_dashboard_index",
    // Dashboard index_df mirror: completed residues 0-4 carry their real
    // per-index 'O'-order counts; the faulted idx 5 shows as error with
    // its message and zero rows; 6-7 were never touched. gpu memory is
    // pinned EXACTLY zero (CPU run, null gpu_memory_bytes column).
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT CAST(idx AS BIGINT) AS idx, 'completed' AS status,
        |  '' AS error, CAST(n AS BIGINT) AS n_rows,
        |  1 AS gpu_mb_zero, 1 AS wall_nonneg
        |FROM c WHERE idx <= 4
        |UNION ALL
        |SELECT 5, 'error', 'injected fault', 0, 1, 1
        |ORDER BY idx""".stripMargin) { (s, dir) =>
    val (ledger, runId) = dashboardLedgerFor(s, dir, "graft_dash_idx")
    val nRows = s.read.parquet(s"${ledger.path}/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(max("n_rows").as("n_rows"))
    ledger.indexDf(s, runId)
      .join(nRows, Seq("idx"), "left")
      .select(col("idx"), col("status"), col("error"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        (col("gpu_memory_mb") === 0.0).cast("int").as("gpu_mb_zero"),
        (col("wall_time_s") >= 0.0).cast("int").as("wall_nonneg"))
      .orderBy("idx")
  }

  /** DashboardStore `summary` (`pipeline_store.py:1248-1295` via
    * `dashboard/data.py:169-190`): total/completed/failed/remaining
    * counters with retry-wins failed accounting, plus the completed row
    * total tied back to the orders data.
    */
  q("q_dashboard_summary",
    // Dashboard summary mirror (retry-wins accounting): 8 total indices,
    // 5 completed / 1 failed / 2 remaining, with the completed row total
    // tied to the orders data.
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT CAST(8 AS BIGINT) AS total, CAST(5 AS BIGINT) AS completed,
        |  CAST(1 AS BIGINT) AS failed, CAST(2 AS BIGINT) AS remaining,
        |  1 AS elapsed_nonneg,
        |  CAST((SELECT sum(n) FROM c WHERE idx <= 4) AS BIGINT) AS completed_rows
        |""".stripMargin) { (s, dir) =>
    val (ledger, runId) = dashboardLedgerFor(s, dir, "graft_dash_sum")
    val completedRows = s.read.parquet(s"${ledger.path}/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("idx")).agg(max("n_rows").as("n"))
      .agg(sum("n").as("completed_rows"))
    // no caller-supplied total: the per-index run recorded total_indices=8
    // at start (pipeline_runs parity), and the view reads it back
    ledger.summaryDf(s, runId)
      .crossJoin(completedRows)
      .select(col("total"), col("completed"), col("failed"), col("remaining"),
        (col("total_elapsed_s") >= 0.0).cast("int").as("elapsed_nonneg"),
        col("completed_rows"))
  }

  /** DashboardStore `workers_df` (`dashboard/data.py:192-231` +
    * `indices_by_worker`): per-worker completed/failed counts. Spark's
    * claiming worker is the driver session (executors are task slots, not
    * index claimants), so this single-session run pins exactly one worker
    * row — with its row throughput tied to the orders data.
    */
  q("q_dashboard_workers",
    // Dashboard workers_df mirror: one claiming worker (the driver
    // session), 5 completed / 1 failed indices, its throughput tied to
    // the orders data.
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT 'driver' AS worker_id, CAST(5 AS BIGINT) AS completed,
        |  CAST(1 AS BIGINT) AS failed,
        |  CAST((SELECT sum(n) FROM c WHERE idx <= 4) AS BIGINT) AS worker_rows
        |""".stripMargin) { (s, dir) =>
    val (ledger, runId) = dashboardLedgerFor(s, dir, "graft_dash_wrk")
    val workerRows = s.read.parquet(s"${ledger.path}/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("worker_id"), col("idx")).agg(max("n_rows").as("n"))
      .groupBy("worker_id").agg(sum("n").as("worker_rows"))
    ledger.workersDf(s, runId)
      .join(workerRows, Seq("worker_id"), "left")
      .select(col("worker_id"), col("completed"), col("failed"),
        coalesce(col("worker_rows"), lit(0L)).as("worker_rows"))
      .orderBy("worker_id")
  }

  /** DashboardStore `logs_df` (`dashboard/data.py:283-321`): the leveled,
    * bounded log tail. One log row per index is written with a
    * data-derived message (per-index 'O'-order row counts) at
    * idx-dependent levels (even → INFO, odd → WARNING), then the view is
    * read back at minLevel=WARNING — pinning the numeric level mapping,
    * the level gate, and the message content against the orders data.
    */
  q("q_dashboard_logs",
    // Dashboard logs_df mirror: WARNING-gated tail over per-index log rows
    // whose messages carry the real per-residue 'O'-order counts (odd
    // indices log at WARNING; the minLevel=30 gate drops the INFO evens).
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT CAST(idx AS BIGINT) AS idx, 'WARNING' AS level,
        |  30 AS level_num, 'graft.runner' AS logger_name,
        |  'idx ' || idx || ' completed ' || n || ' rows' AS message
        |FROM c WHERE idx % 2 = 1 ORDER BY idx""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_dash_log", dir)
    val pipe = ledgerPipelineFor(dir)
    graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val runId = pipe.configHash.take(16)
    val ledger = new graft.core.Ledger(ledgerDir)
    // bounded collect: the 8-value index domain (idx = o_orderkey % 8)
    val perIdx = pipe.dataFrame(s).groupBy(col("idx")).count()
      .collect().map { r =>
        val idx = r.getLong(0)
        (if (idx % 2 == 0) "INFO" else "WARNING", "graft.runner",
          s"idx $idx completed ${r.getLong(1)} rows", idx)
      }
    ledger.recordLogs(s, runId, perIdx.toSeq)
    ledger.logsDf(s, runId, limit = 500, minLevel = 30)
      .select(col("idx"), col("level"), col("level_num"), col("logger_name"),
        col("message"))
      .orderBy("idx")
  }

  /** DashboardStore `stage_df` (`dashboard/data.py:137-167`): the per-stage
    * time-breakdown view over a batch `runPipeline` (which records scheduler
    * stage metrics; stage timings are runtime values, so the gate pins the
    * view's STRUCTURE — rows exist, stage_order is contiguous from 0, walls
    * and task counts are sane — plus the deterministic run accounting).
    */
  q("q_dashboard_stages",
    // Dashboard stage_df mirror: stage timings are runtime values, so the
    // gate pins the view's structure (rows exist, contiguous distinct
    // stage_order from 0, sane walls/tasks) plus the deterministic run
    // accounting (all 8 indices executed in run 1).
      """SELECT 1 AS has_stages, 1 AS order_from_zero, 1 AS order_distinct,
        |  1 AS wall_nonneg, 1 AS exec_nonneg, 1 AS tasks_pos,
        |  CAST(8 AS BIGINT) AS run_executed""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_dash_stg", dir)
    val pipe = ledgerPipelineFor(dir)
    val r1 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val runId = pipe.configHash.take(16)
    new graft.core.Ledger(ledgerDir).stageDf(s, runId)
      .agg(
        (count(lit(1)) > 0).cast("int").as("has_stages"),
        (min(col("stage_order")) === 0).cast("int").as("order_from_zero"),
        (countDistinct(col("stage_order")) === count(lit(1)))
          .cast("int").as("order_distinct"),
        (min(col("wall_time_s")) >= 0.0).cast("int").as("wall_nonneg"),
        (min(col("executor_run_s")) >= 0.0).cast("int").as("exec_nonneg"),
        (min(col("n_tasks")) > 0).cast("int").as("tasks_pos"))
      .withColumn("run_executed", lit(r1.nExecuted))
  }

  /** Provenance tables + artifact views (`pipeline_store.py:540-620`
    * output_files/filter_artifacts; `dashboard/data.py:247-288`
    * output_paths/artifacts/all_artifacts): a per-index run whose sink
    * writes one artifact per index and whose second filter reports one
    * side file per index through the `PFilter.artifacts()` contract. The
    * emitted row set ties every count back to the orders data (per-residue
    * 'O'-order row counts ride along from index_results) and pins the view
    * shapes: one seq-0 output path per index named by its index, one
    * artifact per index at filter_order 1, eight artifacts total, and the
    * resumed run returning all eight recorded paths with zero executions.
    */
  q("q_dashboard_artifacts",
    // Provenance mirror: every index records exactly one seq-0 output path
    // named by its index, one stats_probe artifact at filter_order 1,
    // eight artifacts total; per-index row counts replay from orders; the
    // resumed run executes nothing yet returns all eight recorded paths.
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT CAST(idx AS BIGINT) AS idx,
        |  CAST(1 AS BIGINT) AS n_output_files,
        |  CAST(1 AS BIGINT) AS path_named_by_idx,
        |  0 AS max_seq,
        |  CAST(1 AS BIGINT) AS n_artifacts,
        |  'stats_probe' AS filter_name,
        |  1 AS filter_order,
        |  CAST(n AS BIGINT) AS n_rows,
        |  CAST(8 AS BIGINT) AS total_artifacts,
        |  CAST(0 AS BIGINT) AS run2_executed,
        |  CAST(8 AS BIGINT) AS run2_recorded_paths
        |FROM c ORDER BY idx""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_dash_art", dir)
    val artRoot = s"$ledgerDir/filter_art"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(artRoot))
    val pendingArts =
      new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val pipe = graft.core.Pipeline(
      graft.core.PSource("orders_by_mod8", Map("table" -> "orders", "mod" -> "8"),
        sp => Tables.orders(sp, dir).withColumn("idx", col("o_orderkey") % 8)),
      Vector(
        graft.core.PFilter("open_orders", Map("status" -> "O"),
          df => df.filter(col("o_orderstatus") === "O")),
        graft.core.PFilter("stats_probe", Map("kind" -> "marker"),
          df => {
            // one side file per transform call — runPerIndex applies the
            // chain per slice, so each index gets exactly one
            val p = s"$artRoot/probe_${pendingArts.get().size}_${sinkCalls.get()}.txt"
            java.nio.file.Files.write(java.nio.file.Paths.get(p), "ok".getBytes)
            pendingArts.set(pendingArts.get() :+ p)
            df
          },
          artifacts = () => { val a = pendingArts.get(); pendingArts.set(Nil); a }),
      ),
      Some(graft.core.PSink("per_idx_parquet", Map("path" -> "artifact"),
        df => {
          val p = s"$ledgerDir/artifact/part_${sinkCalls.getAndIncrement()}"
          df.write.mode("overwrite").parquet(p)
          Seq(p)
        })))
    val r1 = graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir)
    val r2 = graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir)
    val ledger = new graft.core.Ledger(ledgerDir)
    val runId = r1.runId
    val nRows = s.read.parquet(s"$ledgerDir/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(max("n_rows").as("n_rows"))
    // indices run in sorted order, so sink call k serves index k — the
    // output path suffix pins that attribution
    val outs = ledger.outputFiles(s, runId)
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(count(lit(1)).as("n_output_files"),
        sum(when(col("path") === concat(lit(s"$ledgerDir/artifact/part_"),
          col("idx")), 1).otherwise(0)).as("path_named_by_idx"),
        max("seq").as("max_seq"))
    val arts = ledger.filterArtifacts(s, runId)
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(count(lit(1)).as("n_artifacts"),
        max("filter_name").as("filter_name"),
        max("filter_order").as("filter_order"))
    val allArts = ledger.allArtifactsDf(s, runId)
      .agg(count(lit(1)).as("total_artifacts"))
    outs.join(arts, Seq("idx")).join(nRows, Seq("idx"))
      .crossJoin(allArts)
      .withColumn("run2_executed", lit(r2.nExecuted))
      .withColumn("run2_recorded_paths", lit(r2.outputPaths.size.toLong))
      .orderBy("idx")
  }

  /** Two claiming workers through one ledger (reference workers table +
    * `indices_by_worker`, `pipeline_store.py:1200-1246,1687-1810`): w_1
    * runs per-index and crashes at index 5 (completing 0–4), w_2 resumes
    * under a fresh invocation and completes the rest (the errored index
    * retried by the OTHER worker). `workersDf` must show both claimants
    * with their own completed counts, retry-wins failed accounting (w_1's
    * error row is superseded by w_2's completion), identity columns
    * populated, and per-worker row throughput tied to the orders data.
    */
  q("q_dashboard_workers_multi",
    // Two-worker ledger mirror: w_1 completed residues 0-4 then crashed at
    // 5 (its error row superseded by w_2's completion — retry-wins, so
    // failed=0), w_2 completed 5-7 under a fresh invocation; per-worker
    // row throughput replays from orders.
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT 'w_1' AS worker_id, CAST(5 AS BIGINT) AS completed,
        |  CAST(0 AS BIGINT) AS failed,
        |  CAST((SELECT sum(n) FROM c WHERE idx <= 4) AS BIGINT) AS worker_rows,
        |  1 AS pid_positive, 1 AS hostname_nonempty, 1 AS heartbeat_ordered,
        |  'inv_1' AS invocation_id, CAST(3 AS BIGINT) AS run2_executed
        |UNION ALL
        |SELECT 'w_2', CAST(3 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST((SELECT sum(n) FROM c WHERE idx >= 5) AS BIGINT),
        |  1, 1, 1, 'inv_2', CAST(3 AS BIGINT)
        |ORDER BY worker_id""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_dash_mw", dir)
    val pipe = ledgerPipelineFor(dir)
    try graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir,
      beforeIndex = i => if (i == 5L) throw new RuntimeException("injected fault"),
      workerId = "w_1", invocationId = Some("inv_1"))
    catch { case e: RuntimeException if e.getMessage == "injected fault" => () }
    val r2 = graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir,
      workerId = "w_2", invocationId = Some("inv_2"))
    val runId = pipe.configHash.take(16)
    val ledger = new graft.core.Ledger(ledgerDir)
    val workerRows = s.read.parquet(s"$ledgerDir/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("worker_id"), col("idx")).agg(max("n_rows").as("n"))
      .groupBy("worker_id").agg(sum("n").as("worker_rows"))
    ledger.workersDf(s, runId)
      .join(workerRows, Seq("worker_id"), "left")
      .select(col("worker_id"), col("completed"), col("failed"),
        coalesce(col("worker_rows"), lit(0L)).as("worker_rows"),
        (col("pid") > 0).cast("int").as("pid_positive"),
        (length(col("hostname")) > 0).cast("int").as("hostname_nonempty"),
        (col("last_heartbeat") >= col("started_at")).cast("int")
          .as("heartbeat_ordered"),
        col("invocation_id"))
      .withColumn("run2_executed", lit(r2.nExecuted))
      .orderBy("worker_id")
  }

  /** Per-index stage-metrics grain (`pipeline_store.py:565-572` keys stage
    * rows (idx, run_id, stage_order)): a clean per-index run must leave,
    * for EVERY index, at least one stage row whose stage_order numbering
    * restarts from zero and stays distinct within the index — the exact
    * reference grain, available in this mode because each index runs in
    * its own job group.
    */
  q("q_dashboard_stages_idx",
    // Per-index stage grain mirror: every executed index owns stage rows
    // whose ordering restarts at zero (reference (idx, run_id,
    // stage_order) key); timings are runtime values, gated as booleans.
      """WITH i AS (SELECT DISTINCT o_orderkey % 8 AS idx FROM orders)
        |SELECT CAST(idx AS BIGINT) AS idx, 1 AS has_stages,
        |  1 AS order_from_zero, 1 AS order_distinct, 1 AS wall_nonneg,
        |  CAST(8 AS BIGINT) AS run_executed
        |FROM i ORDER BY idx""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_dash_sgi", dir)
    val pipe = ledgerPipelineFor(dir)
    val r1 = graft.core.Runner.runPerIndex(s, pipe, "idx", ledgerDir)
    val runId = pipe.configHash.take(16)
    new graft.core.Ledger(ledgerDir).stageMetrics(s, runId)
      .groupBy(col("idx").cast("long").as("idx"))
      .agg((count(lit(1)) > 0).cast("int").as("has_stages"),
        (min(col("stage_order")) === 0).cast("int").as("order_from_zero"),
        (countDistinct(col("stage_order")) === count(lit(1)))
          .cast("int").as("order_distinct"),
        (min(col("wall_ns")) >= 0).cast("int").as("wall_nonneg"))
      .withColumn("run_executed", lit(r1.nExecuted))
      .orderBy("idx")
  }

  /** Progress/stall view (`run/progress_monitor.py` + `run/progress_app
    * .py` — the reference's live monitor polls exactly these numbers from
    * the store): over the crashed-at-5 dashboard fixture, the run-level
    * counters (8 total / 5 completed / 1 failed / 2 remaining), the worker
    * census, and the STALL DETECTOR — a second session's claimant is
    * injected holding idx 6 with a heartbeat ten minutes older than `now`,
    * and must surface as the one stalled worker (the driver's own
    * heartbeat is fresh, so its held index does not). Throughput and ETA
    * are wall-clock-dependent and gate as booleans; completed row totals
    * tie back to the orders data.
    */
  q("q_dashboard_progress",
    // Progress/stall-view mirror: crashed-at-5 counters, a two-worker
    // census, exactly one stalled claimant (the injected w_stuck holding
    // idx 6 on a 10-minute-old heartbeat; the driver's heartbeat is
    // fresh); throughput/ETA gate as booleans; completed rows replay from
    // the per-residue 'O'-order counts.
      """WITH c AS (SELECT o_orderkey % 8 AS idx, count(*) AS n
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT CAST(8 AS BIGINT) AS total, CAST(5 AS BIGINT) AS completed,
        |  CAST(1 AS BIGINT) AS failed, CAST(2 AS BIGINT) AS remaining,
        |  CAST(2 AS BIGINT) AS n_workers, CAST(1 AS BIGINT) AS n_stalled,
        |  'w_stuck' AS first_stalled_worker, 1 AS throughput_pos,
        |  1 AS eta_nonneg, CAST(6 AS BIGINT) AS stalled_index,
        |  CAST((SELECT sum(n) FROM c WHERE idx <= 4) AS BIGINT) AS completed_rows
        |""".stripMargin) { (s, dir) =>
    val (ledger, runId) = dashboardLedgerFor(s, dir, "graft_dash_prg")
    val now = System.currentTimeMillis()
    ledger.recordWorkerHeartbeat(s, runId, "w_stuck", 77L, "otherhost",
      "inv_x", Some(6L), 0L, now - 600000L)
    val stalledIdx = ledger.stalledWorkersDf(s, runId, 60000L, now)
      .select("current_index").collect().map(_.getLong(0)).headOption
      .getOrElse(-1L)
    val completedRows = s.read.parquet(s"${ledger.path}/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
      .groupBy(col("idx")).agg(max("n_rows").as("n"))
      .agg(sum("n").as("completed_rows"))
    ledger.progressDf(s, runId, stallThresholdMs = 60000L, nowMs = now)
      .select(col("total"), col("completed"), col("failed"), col("remaining"),
        col("n_workers"), col("n_stalled"), col("first_stalled_worker"),
        (col("throughput_per_min") > 0.0).cast("int").as("throughput_pos"),
        (col("eta_s") >= 0.0).cast("int").as("eta_nonneg"))
      .withColumn("stalled_index", lit(stalledIdx))
      .crossJoin(completedRows)
  }

  /** Destructive store edits — the reference's `reset_index(i)` /
    * `reset()` (`pipeline_store.py:1455-1508`): run A completes per-index,
    * `resetIndex(3)` clears exactly index 3's records so the resume
    * re-runs it alone; a SECOND pipeline (run B) sharing the ledger is
    * then `resetRun`-cleared while run A's records survive untouched. The
    * oracle replays run A's per-index accounting from orders and pins the
    * reset counters analytically.
    */
  q("q_ledger_reset",
    // Reset-family mirror (reference reset()/reset_index()): run A's
    // per-index completed counts replay from orders; the reset counters
    // are analytic — resetIndex(3) leaves 5 completed and the resume
    // re-runs exactly 1; resetRun(B) zeroes B's records and its run meta.
      """SELECT CAST(o_orderkey % 6 AS BIGINT) AS idx,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(5 AS BIGINT) AS a_completed_after_reset,
        |  CAST(1 AS BIGINT) AS resume_executed,
        |  CAST(5 AS BIGINT) AS resume_skipped,
        |  CAST(0 AS BIGINT) AS b_completed_after_reset,
        |  1 AS b_meta_cleared
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_reset", dir)
    val sinkA = new java.util.concurrent.atomic.AtomicInteger(0)
    val pipeA = graft.core.Pipeline(
      graft.core.PSource("orders_by_mod6", Map("table" -> "orders", "mod" -> "6"),
        sp => Tables.orders(sp, dir).withColumn("idx", col("o_orderkey") % 6)),
      Vector(graft.core.PFilter("open_orders", Map("status" -> "O"),
        df => df.filter(col("o_orderstatus") === "O"))),
      Some(graft.core.PSink("per_idx_parquet", Map("path" -> "art_a"),
        df => {
          val p = s"$ledgerDir/art_a/part_${sinkA.getAndIncrement()}"
          df.write.mode("overwrite").parquet(p)
          Seq(p)
        })))
    val pipeB = graft.core.Pipeline(
      graft.core.PSource("orders_by_mod4", Map("table" -> "orders", "mod" -> "4"),
        sp => Tables.orders(sp, dir).withColumn("idx", col("o_orderkey") % 4)),
      Vector.empty,
      Some(graft.core.PSink("noop_count", Map.empty,
        df => { df.count(); Nil })))
    val rA = graft.core.Runner.runPerIndex(s, pipeA, "idx", ledgerDir)
    val rB = graft.core.Runner.runPerIndex(s, pipeB, "idx", ledgerDir)
    val ledger = new graft.core.Ledger(ledgerDir)
    ledger.resetIndex(s, rA.runId, 3L)
    val afterReset = ledger.completedIndices(s, rA.runId).count() // 5
    val rA2 = graft.core.Runner.runPerIndex(s, pipeA, "idx", ledgerDir)
    ledger.resetRun(s, rB.runId)
    val bCompleted = ledger.completedIndices(s, rB.runId).count() // 0
    val bMetaCleared =
      if (ledger.runMeta(s, rB.runId) == (None, None)) 1 else 0
    s.read.parquet(s"${ledger.path}/index_results")
      .filter(col("run_id") === rA.runId && col("status") === "completed")
      .groupBy(col("idx").cast("long").as("idx"))
      .agg(max("n_rows").as("n_rows"))
      .withColumn("a_completed_after_reset", lit(afterReset))
      .withColumn("resume_executed", lit(rA2.nExecuted.toLong))
      .withColumn("resume_skipped", lit(rA2.nSkipped.toLong))
      .withColumn("b_completed_after_reset", lit(bCompleted))
      .withColumn("b_meta_cleared", lit(bMetaCleared))
      .orderBy("idx")
  }

  /** Config-file-driven execution END TO END (`core/serialization.py:
    * 301-345` → `run_pipeline`, SURVEY §3.3's third entry point): the
    * pipeline spec is SAVED to YAML, loaded back through a registry of
    * stage factories in a separate code path, and the LOADED pipeline runs
    * through the public Runner into a parquet artifact. The oracle replays
    * the artifact values from orders; hash_equal pins `load(save(p))`
    * reproducing the exact config identity that names the checkpoint
    * store, and the run accounting pins that the loaded pipeline actually
    * executed (not the directly-built twin).
    */
  q("q_pipeline_from_config",
    // Config-file-driven run mirror: the loaded pipeline's artifact values
    // replay from orders; hash_equal pins load(save(p)) == p's identity.
      """SELECT CAST(o_orderkey % 8 AS BIGINT) AS idx, count(*) AS n_open,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  1 AS hash_equal, CAST(8 AS BIGINT) AS run_executed,
        |  CAST(1 AS BIGINT) AS artifact_recorded
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_pipe_cfg", dir)
    val artDir = s"$ledgerDir/artifact"
    val reg = new graft.core.Registry
    reg.registerSource("orders_by_mod8")(ps => graft.core.PSource(
      "orders_by_mod8", ps,
      sp => Tables.orders(sp, dir)
        .withColumn("idx", col("o_orderkey") % ps("mod").toInt)))
    reg.registerFilter("open_orders")(ps => graft.core.PFilter(
      "open_orders", ps, df => df.filter(col("o_orderstatus") === ps("status"))))
    reg.registerFilter("count_by_idx")(ps => graft.core.PFilter(
      "count_by_idx", ps,
      df => df.groupBy(col("idx"))
        .agg(count(lit(1)).as("n_open"), sum(col("o_custkey")).as("sum_cust"))))
    reg.registerSink("parquet_artifact")(ps => graft.core.PSink(
      "parquet_artifact", ps,
      df => { df.write.mode("overwrite").parquet(artDir); Seq(artDir) }))

    val direct = graft.core.Pipeline(
      reg.source("orders_by_mod8", Map("table" -> "orders", "mod" -> "8")),
      Vector(reg.filter("open_orders", Map("status" -> "O")),
        reg.filter("count_by_idx", Map("groups" -> "idx"))),
      Some(reg.sink("parquet_artifact", Map("path" -> "artifact"))))
    val yml = s"$ledgerDir/pipeline.yaml"
    graft.core.Serialization.save(direct, yml)
    val loaded = graft.core.Serialization.load(yml, reg)
    val hashEqual = loaded.configHash == direct.configHash
    val r1 = graft.core.Runner.runPipeline(s, loaded, "idx", ledgerDir)
    s.read.parquet(artDir)
      .select(col("idx"), col("n_open"), col("sum_cust"))
      .withColumn("hash_equal", lit(if (hashEqual) 1 else 0))
      .withColumn("run_executed", lit(r1.nExecuted))
      .withColumn("artifact_recorded", lit(r1.outputPaths.size.toLong))
      .orderBy("idx")
  }

  /** The text-curation flagship composition through the SAME public
    * Pipeline/Runner machinery as the mesh e2e: documents → token-count
    * gate → exact dedup keep-first → blocklist gate → per-(idx, lang)
    * token accounting → parquet artifact, with run 2 resuming to a full
    * ledger skip. Every stage is a public operator (`Text.tokens`,
    * `DedupOps.dedupKeepFirst`, `TextOps.blocklistScan`) and every
    * number in the artifact is integer-exact, so the oracle replays the
    * whole chain — gates, survivor set, and accounting — with zero
    * rounding anywhere.
    */
  q("q_text_pipeline_e2e",
    // Text-pipeline mirror: the full gate chain replayed — token count
    // on the canonical form, keep-first dedup via (md5 fp, min doc_id),
    // blocklist hits under RE2 — then the identical integer accounting;
    // run literals pin the 4-index execute/skip contract.
      s"""WITH base AS (SELECT doc_id, doc_id % 4 AS idx, lang,
         |    $NormSql AS nt FROM documents),
         |tok AS (SELECT doc_id, idx, lang, nt,
         |    CAST(len(string_split(nt, ' ')) AS BIGINT) AS n_tokens
         |  FROM base),
         |g1 AS (SELECT * FROM tok WHERE n_tokens >= 20),
         |kp AS (SELECT md5(nt) AS fp, min(doc_id) AS keep_id
         |  FROM g1 GROUP BY 1),
         |g2 AS (SELECT g1.* FROM g1
         |  JOIN kp ON md5(g1.nt) = kp.fp AND g1.doc_id = kp.keep_id),
         |g3 AS (SELECT * FROM g2 WHERE
         |  len(regexp_extract_all(nt, '\\b(slow|dup|stream)\\b', 1)) <= 2)
         |SELECT CAST(idx AS BIGINT) AS idx, lang, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(4 AS BIGINT) AS run1_executed,
         |  CAST(0 AS BIGINT) AS run2_executed,
         |  CAST(4 AS BIGINT) AS run2_skipped
         |FROM g3 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val ledgerDir = freshTmpDir("graft_pipe_text", dir)
    val artDir = s"$ledgerDir/artifact"
    val pipe = graft.core.Pipeline(
      graft.core.PSource("documents_by_mod4",
        Map("table" -> "documents", "mod" -> "4"),
        sp => Tables.documents(sp, dir).withColumn("idx", col("doc_id") % 4)),
      Vector(
        graft.core.PFilter("token_gate", Map("minTokens" -> "20"),
          df => df.filter(
            size(graft.functions.Text.tokens(col("text"))) >= 20)),
        graft.core.PFilter("exact_dedup_keep_first", Map("key" -> "norm_md5"),
          df => graft.operators.DedupOps.dedupKeepFirst(df, "doc_id", "text")),
        graft.core.PFilter("blocklist_gate",
          Map("terms" -> "slow,dup,stream", "maxHits" -> "2"),
          // row-local gate form (r17): the old join(blocklistScan(df)…,
          // left_semi) duplicated the token-gate+dedup subtree into both
          // join sides; same row set (see TextOps.blocklistGate)
          df => TextOps.blocklistGate(df, "text",
            Seq("slow", "dup", "stream"), maxHits = 2)),
        graft.core.PFilter("stats_by_idx_lang", Map("groups" -> "idx,lang"),
          df => df.groupBy(col("idx"), col("lang"))
            .agg(count(lit(1)).as("n_docs"),
              sum(size(graft.functions.Text.tokens(col("text"))).cast("long"))
                .as("sum_tokens")))),
      Some(graft.core.PSink("parquet_artifact", Map("path" -> "artifact"),
        df => { df.write.mode("overwrite").parquet(artDir); Seq(artDir) })))
    val r1 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    val r2 = graft.core.Runner.runPipeline(s, pipe, "idx", ledgerDir)
    s.read.parquet(artDir)
      .select(col("idx"), col("lang"), col("n_docs"), col("sum_tokens"))
      .withColumn("run1_executed", lit(r1.nExecuted))
      .withColumn("run2_executed", lit(r2.nExecuted))
      .withColumn("run2_skipped", lit(r2.nSkipped))
      .orderBy("idx", "lang")
  }

  /** §2.5 partition_indices co-location contract (`run/base.py:316-423`):
    * each curator index must land in EXACTLY ONE scan partition and each
    * partition must host exactly one index — that per-index isolation is
    * what makes skip/retry/intersect work. Surfaced as a query over the
    * DSv2 source with `spark_partition_id()`: n_partitions per mesh and
    * the worst-case meshes-per-partition, both pinned to 1.
    */
  q("q_partition_indices",
    // Pure generator oracle: the DSv2 source's structural contract
    // (dense per-mesh point ids); the value stream is spec-pinned.
    // Co-location gates: one partition per index, one index per partition.
      """SELECT CAST(m.range AS BIGINT) AS mesh_id, CAST(400 AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_partitions,
        |  CAST(1 AS BIGINT) AS max_meshes_per_partition
        |FROM range(0, 6) m ORDER BY mesh_id""".stripMargin) { (s, dir) =>
    val base = s.read.format("graft.sources.RandomMeshSource")
      .option("n_meshes", 6).option("points_per_mesh", 400).option("seed", 11)
      .load()
      .select(col("mesh_id"), spark_partition_id().as("pid"))
    val perMesh = base.groupBy("mesh_id")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("pid")).as("n_partitions"))
    val worst = base.groupBy("pid")
      .agg(countDistinct(col("mesh_id")).as("m"))
      .agg(max(col("m")).as("max_meshes_per_partition"))
    perMesh.crossJoin(worst).orderBy("mesh_id")
  }
}
