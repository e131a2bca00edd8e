package graft

import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.{DriverParquet, Ledger, PSource, Pipeline, Runner, StageListener}
import graft.sinks.Sinks

/** Local filesystem under the `cofs:` scheme whose first `open` of a
  * parquet file runs [[CompactOnOpenFileSystem.hook]] before opening: the
  * window in which `compact()` deletes a file a reader has just listed.
  */
class CompactOnOpenFileSystem extends graft.tools.CountingFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("cofs:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName.endsWith(".parquet") &&
        CompactOnOpenFileSystem.armed.compareAndSet(true, false))
      CompactOnOpenFileSystem.hook()
    super.open(f, bufferSize)
  }
}

object CompactOnOpenFileSystem {
  val armed = new AtomicBoolean(false)
  @volatile var hook: () => Unit = () => ()
}

/** The ledger's outward contracts: the parquet schema its commits put on
  * disk (other readers — the DuckDB oracle, older engines — open these
  * files directly), the shape every reader answers before anything was
  * written, and the driver tier's reads answering exactly what the Spark
  * read answers.
  */
class LedgerContractSpec extends SparkSpec {

  private def footer(file: String): String = {
    val in = HadoopInputFile.fromPath(new Path(file),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
  }

  private def onlyFile(dir: String): String = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"$dir: ${files.map(_.getName).mkString(", ")}")
    files(0).getPath
  }

  private def msg(fields: String*): String =
    fields.map(f => s"  $f;\n").mkString("message spark_schema {\n", "", "}\n")

  test("each ledger table's commit file keeps its parquet schema") {
    val dir = Files.createTempDirectory("graft-ledger-schema").toString
    val led = new Ledger(dir)
    val sl = new StageListener(None)
    led.recordRunStart(spark, "r", "{}", Some("/out"), Some(3L))
    led.recordCompleted(spark, "r", Seq(0L), 1L, 2L)
    led.recordError(spark, "r", 1L, "boom")
    led.recordStageMetricsIdx(spark, "r",
      Seq((0L, sl.StageRec(1, "s0", 10L, 10L, 1, 0L))))
    led.recordOutputFiles(spark, "r", 0L, Seq("part-0.parquet"))
    led.recordFilterArtifacts(spark, "r", 0L, "f", 0, Seq("side.bin"))
    led.recordWorkerHeartbeat(spark, "r", "w", 1L, "host", "inv", None, 0L)
    led.recordLogs(spark, "r", Seq(("INFO", "lg", "m", 0L)))
    def str(n: String) = s"optional binary $n (STRING)"
    def i64(n: String) = s"optional int64 $n"
    def i32(n: String) = s"optional int32 $n"
    val expected = Map(
      "runs" -> msg(str("run_id"), str("config_json"), i64("started_at"),
        str("run_dir"), i64("total_indices")),
      "index_results" -> msg(i64("idx"), str("run_id"), str("status"),
        i64("wall_ns"), i64("n_rows"), i64("peak_memory_bytes"),
        i64("gpu_memory_bytes"), str("worker_id"), i64("finished_at")),
      "errors" -> msg(i64("idx"), str("run_id"), str("status"),
        i64("wall_ns"), i64("n_rows"), str("worker_id"), i64("finished_at"),
        str("error")),
      "stage_metrics" -> msg(str("run_id"), i64("idx"), i32("stage_order"),
        i32("stage_id"), str("stage_name"), i64("wall_ns"),
        i64("executor_run_ns"), i32("n_tasks"), i64("peak_memory_bytes")),
      "output_files" -> msg(str("path"), i64("idx"), str("run_id"),
        i32("seq")),
      "filter_artifacts" -> msg(str("path"), i64("idx"), str("run_id"),
        str("filter_name"), i32("filter_order")),
      "workers" -> msg(str("worker_id"), str("run_id"), i64("pid"),
        str("hostname"), str("invocation_id"), i64("current_index"),
        i64("completed_count"), i64("ts")),
      "logs" -> msg(str("level"), str("logger_name"), str("message"),
        i64("idx"), str("run_id"), i64("ts"), str("worker_id")))
    expected.foreach { case (table, schema) =>
      assert(footer(onlyFile(s"$dir/$table")) == schema, table)
    }
  }

  test("a DriverParquet dump keeps its parquet schema") {
    val dir = Files.createTempDirectory("graft-dump-schema").toString + "/d"
    DriverParquet.write(spark, dir,
      StructType.fromDDL("k INT, w ARRAY<DOUBLE>, name STRING"),
      Seq(Seq(1, Seq(0.5, -1.0), "a"), Seq(2, Seq.empty[Double], "b")))
    assert(footer(onlyFile(dir)) ==
      """message spark_schema {
        |  optional int32 k;
        |  optional group w (LIST) {
        |    repeated group list {
        |      optional double element;
        |    }
        |  }
        |  optional binary name (STRING);
        |}
        |""".stripMargin)
    val back = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getString(2)))
    assert(back.toSeq == Seq((1, Seq(0.5, -1.0), "a"), (2, Seq(), "b")))
  }

  test("every ledger reader answers a fresh ledger dir with its empty shape") {
    val dir = Files.createTempDirectory("graft-ledger-fresh").toString + "/l"
    val led = new Ledger(dir)
    val (s, r) = (spark, "r")
    def cols(ts: (String, DataType)*) = ts
    val L = LongType; val S = StringType; val I = IntegerType
    val D = DoubleType
    val readers: Seq[(String, DataFrame, Int, Seq[(String, DataType)])] = Seq(
      ("completedIndices", led.completedIndices(s, r), 0, cols("idx" -> L)),
      ("failedIndices", led.failedIndices(s, r), 0, cols("idx" -> L)),
      ("outputFiles", led.outputFiles(s, r), 0,
        cols("path" -> S, "idx" -> L, "run_id" -> S, "seq" -> I)),
      ("filterArtifacts", led.filterArtifacts(s, r), 0,
        cols("path" -> S, "idx" -> L, "run_id" -> S, "filter_name" -> S,
          "filter_order" -> I)),
      ("stageMetrics", led.stageMetrics(s, r), 0,
        cols("run_id" -> S, "idx" -> L, "stage_order" -> I, "stage_id" -> I,
          "stage_name" -> S, "wall_ns" -> L, "executor_run_ns" -> L,
          "n_tasks" -> I, "peak_memory_bytes" -> L)),
      ("workers", led.workers(s, r), 0,
        cols("worker_id" -> S, "run_id" -> S, "pid" -> L, "hostname" -> S,
          "invocation_id" -> S, "current_index" -> L,
          "completed_count" -> L, "ts" -> L)),
      ("logs", led.logs(s, r), 0,
        cols("level" -> S, "logger_name" -> S, "message" -> S, "idx" -> L,
          "run_id" -> S, "ts" -> L, "worker_id" -> S)),
      ("indexDf", led.indexDf(s, r), 0,
        cols("idx" -> L, "status" -> S, "wall_time_s" -> D,
          "peak_memory_mb" -> D, "gpu_memory_mb" -> D, "error" -> S)),
      ("workersDf", led.workersDf(s, r), 0,
        cols("worker_id" -> S, "pid" -> L, "hostname" -> S,
          "started_at" -> L, "last_heartbeat" -> L, "current_index" -> L,
          "invocation_id" -> S, "completed" -> L, "failed" -> L)),
      ("indicesByWorker", led.indicesByWorker(s, r, "w"), 0,
        cols("idx" -> L, "status" -> S)),
      ("summaryDf", led.summaryDf(s, r, 0L), 1,
        cols("total" -> L, "completed" -> L, "failed" -> L,
          "remaining" -> L, "total_elapsed_s" -> D)),
      ("progressDf", led.progressDf(s, r, 60000L, 0L), 1,
        cols("total" -> L, "completed" -> L, "failed" -> L,
          "remaining" -> L, "throughput_per_min" -> D, "eta_s" -> D,
          "n_workers" -> L, "n_stalled" -> L, "first_stalled_worker" -> S)))
    readers.foreach { case (name, df, nRows, shape) =>
      assert(df.schema.fields.toSeq.map(f => f.name -> f.dataType) == shape,
        name)
      assert(df.collect().length == nRows, name)
    }
    assert(led.runMeta(s, r) == ((None, None)))
  }

  test("a second distributed commit with new values compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ledger-codegen").toString
    val led = new Ledger(dir)
    val idx = spark.range(0, 8).toDF("idx")
    def commit(run: String, v: Long): (Long, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val n = led.recordCompleted(spark, run, idx, v, 2 * v, 3 * v, None, s"w$v")
      (n, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    assert(commit("r1", 10L)._1 == 8L) // warms the plan shape
    Thread.sleep(2) // a new finished_at too
    assert(commit("r2", 11L) == ((8L, 0L)), "(observed rows, new classes)")
    val got = spark.read.parquet(s"$dir/index_results")
      .filter(col("run_id") === "r2")
      .select("status", "wall_ns", "n_rows", "peak_memory_bytes", "worker_id")
      .distinct().collect().map(_.toSeq)
    assert(got.toSeq == Seq(Seq("completed", 11L, 22L, 33L, "w11")))
  }

  // ------------------------------------------------ driver-tier reads

  /** `body` with Spark's broadcast threshold, the driver tier's bound, set
    * to `v` ("-1" turns the tier off).
    */
  private def withBound[A](v: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The Spark jobs `body` starts, counted by a listener. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val a = body
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def local(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private val tables = Seq("runs", "index_results", "errors", "stage_metrics",
    "output_files", "filter_artifacts", "workers", "logs")

  /** A two-run ledger with a row in every table, plus, in each table, a
    * Spark-written file lacking one contract column (the column the table
    * gained last where there is one) and one carrying a column the
    * contract does not name.
    */
  private def mixedLedger(): (String, Ledger) = {
    val dir = Files.createTempDirectory("graft-ledger-tier").toString
    val led = new Ledger(dir)
    val sl = new StageListener(None)
    Seq("r", "o").foreach { r =>
      led.recordRunStart(spark, r, "{}", Some("/out"), Some(3L))
      led.recordCompleted(spark, r, Seq(0L, 1L, 1L), 1L, 2L)
      led.recordError(spark, r, 2L, "boom")
      led.recordStageMetricsIdx(spark, r,
        Seq((0L, sl.StageRec(1, "s0", 10L, 10L, 1, 0L))))
      led.recordOutputFiles(spark, r, 1L, Seq("b.parquet", "a.parquet"))
      led.recordOutputFiles(spark, r, 0L, Seq("a.parquet"))
      led.recordFilterArtifacts(spark, r, 0L, "f", 0, Seq("side.bin"))
      led.recordWorkerHeartbeat(spark, r, "w", 1L, "host", "inv", None, 0L)
      led.recordLogs(spark, r, Seq(("INFO", "lg", "m", 0L)))
    }
    val dropped = Map("runs" -> "run_dir", "logs" -> "worker_id",
      "stage_metrics" -> "idx", "workers" -> "worker_id",
      "index_results" -> "worker_id", "errors" -> "worker_id",
      "output_files" -> "seq", "filter_artifacts" -> "filter_order")
    val schemas = tables.map(t => t -> withBound("-1")(
      led.readTable(spark, t).schema)).toMap
    def value(f: StructField, k: Int): Any = f.dataType match {
      case _ if f.name == "run_id" => "r"
      case _ if f.name == "status" => "completed"
      case LongType => 40L + k
      case IntegerType => 7 + k
      case _ => s"${f.name}_$k"
    }
    tables.foreach { t =>
      val legacy = StructType(schemas(t).filterNot(_.name == dropped(t)))
      val extra = schemas(t).add(StructField("x_extra", StringType))
      Seq(legacy -> 1, extra -> 2).foreach { case (sch, k) =>
        spark.createDataFrame(java.util.List.of(Row.fromSeq(sch.map(value(_, k)))), sch)
          .coalesce(1).write.mode("append").parquet(s"$dir/$t")
      }
    }
    (dir, led)
  }

  test("driver tier and Spark read return identical schemas and rows for every table") {
    val (_, led) = mixedLedger()
    def both(name: String, read: => DataFrame): Unit = {
      val tier = read
      val scan = withBound("-1")(read)
      assert(local(tier), s"$name: driver tier")
      assert(!local(scan), s"$name: Spark read with the tier off")
      assert(tier.schema == scan.schema, name)
      val rows = sorted(scan)
      assert(rows.nonEmpty, name)
      assert(sorted(tier) == rows, name)
    }
    tables.foreach { t =>
      both(t, led.readTable(spark, t))
      both(s"$t r", led.readTable(spark, t, Some("r")))
    }
    both("completedIndices", led.completedIndices(spark, "r"))
    both("outputFiles", led.outputFiles(spark, "r"))
    // legacy columns read as null, the extra column is not read
    val runs = led.readTable(spark, "runs", Some("r"))
    assert(runs.filter(col("run_dir").isNull).count() == 1)
    assert(!runs.columns.contains("x_extra"))
    // first writer wins per path, in (idx, seq) order: a.parquet is
    // (0, 0), not (1, 1); the legacy file's row has a null seq
    val paths = Seq("a.parquet", "b.parquet", "path_1", "path_2")
    assert(led.recordedPaths(spark, "r") == paths)
    assert(withBound("-1")(led.recordedPaths(spark, "r")) == paths)
    assert(led.completedIndices(spark, "r").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L, 41L, 42L))
  }

  test("a full-skip resume runs no job beyond the source's own enumeration or probe") {
    val dir = Files.createTempDirectory("graft-tier-skip").toString
    val out = Files.createTempDirectory("graft-tier-skip-out").toString
    val src = PSource("range6", Map.empty,
      s => s.range(6).toDF("idx").withColumn("v", col("idx") * 2))
    val per = Pipeline(src).write(Sinks.parquetSink(s"$out/per", Seq("idx")))
    val batch = Pipeline(src).write(Sinks.parquetSink(s"$out/batch", Seq("idx")))
    val led = new Ledger(dir)
    val r1 = Runner.runPerIndex(spark, per, "idx", dir)
    val b1 = Runner.runPipeline(spark, batch, "idx", dir)
    def enumerate() = src.load(spark).select(col("idx").cast("long").as("idx"))
      .distinct().collect()
    def probe() = src.load(spark).select(col("idx").cast("long").as("idx"))
      .join(led.completedIndices(spark, b1.runId), Seq("idx"), "left_anti")
      .isEmpty
    def skipPer() = Runner.runPerIndex(spark, per, "idx", dir)
    def skipBatch() = Runner.runPipeline(spark, batch, "idx", dir)
    skipPer(); skipBatch(); enumerate(); probe() // warm
    val (r2, nPer) = jobs(skipPer())
    assert(r2.nSkipped == 6 && r2.nExecuted == 0)
    assert(r2.outputPaths == r1.outputPaths && r2.outputPaths.size == 6)
    assert(nPer == jobs(enumerate())._2)
    val (b2, nBatch) = jobs(skipBatch())
    assert(b2.nSkipped == 6 && b2.nExecuted == 0 && b2.outputPaths == b1.outputPaths)
    assert(nBatch == jobs(probe())._2)
    // the same skips over today's Spark reads start more jobs
    withBound("-1") {
      skipPer(); skipBatch()
      assert(jobs(skipPer())._2 > nPer)
      assert(jobs(skipBatch())._2 > nBatch)
    }
    // the resume's values on a small ledger: no job at all
    assert(jobs(led.completedIndices(spark, r1.runId).collect())._2 == 0)
    assert(jobs(led.recordedPaths(spark, r1.runId))._2 == 0)
    assert(jobs(Ledger.count(led.completedIndices(spark, b1.runId)))._2 == 0)
  }

  test("a file compact() deletes between listing and read gives the post-compaction rows") {
    val dir = Files.createTempDirectory("graft-tier-race").toString
    val led = new Ledger(dir)
    (0L until 6L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
    val before = sorted(led.readTable(spark, "index_results", Some("r")))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cofs.impl", classOf[CompactOnOpenFileSystem].getName)
    conf.set("fs.cofs.impl.disable.cache", "true")
    val tail = new java.io.File(s"$dir/index_results").listFiles()
      .count(_.getName.endsWith(".parquet"))
    CompactOnOpenFileSystem.hook = () => led.compact(spark, maxFilesPerTable = 1)
    CompactOnOpenFileSystem.armed.set(true)
    val raced = new Ledger(s"cofs:$dir")
    try {
      val rows = raced.readTable(spark, "index_results", Some("r"))
      assert(!CompactOnOpenFileSystem.armed.get, "the hook ran")
      assert(new java.io.File(s"$dir/index_results").listFiles()
        .count(_.getName.endsWith(".parquet")) < tail)
      assert(local(rows))
      assert(sorted(rows) == before)
    } finally CompactOnOpenFileSystem.armed.set(false)
  }
}
