package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.{DriverParquet, Ledger, StageListener}

/** The ledger's two outward contracts: the parquet schema its commits put
  * on disk (other readers — the DuckDB oracle, older engines — open these
  * files directly), and the shape every reader answers before anything
  * was written.
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
}
