package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.queries.Q
import graft.sinks.Sinks

/** Pipeline algebra, config identity, serialization round-trip, and
  * ledger-resume semantics (reference `core/base.py`, `core/serialization.py`,
  * `core/pipeline_store.py`, `run/__init__.py`).
  */
class CoreSpec extends SparkSpec {

  private def mkSource(n: Int = 10): PSource =
    PSource("range", Map("n" -> n.toString), s => {
      s.range(n).withColumnRenamed("id", "idx")
        .withColumn("value", col("idx") * 2)
    })

  private val doubleFilter: PFilter =
    PFilter("double", Map("factor" -> "2"), df => df.withColumn("value", col("value") * 2))

  test("builder is immutable: filter/write return new pipelines") {
    val p0 = Pipeline(mkSource())
    val p1 = p0.filter(doubleFilter)
    val p2 = p1.write(PSink("noop", Map.empty, _ => Nil))
    assert(p0.filters.isEmpty && p1.filters.length == 1)
    assert(p0.sink.isEmpty && p1.sink.isEmpty && p2.sink.nonEmpty)
  }

  test("configHash is stable and param-order independent") {
    val a = Pipeline(mkSource()).filter(
      PFilter("f", Map("x" -> "1", "y" -> "2"), identity[DataFrame]))
    val b = Pipeline(mkSource()).filter(
      PFilter("f", Map("y" -> "2", "x" -> "1"), identity[DataFrame]))
    assert(a.configHash == b.configHash)
    val c = a.filter(doubleFilter)
    assert(a.configHash != c.configHash)
  }

  test("serialization round-trip preserves config identity") {
    val reg = new Registry
    reg.registerSource("range")(ps => mkSource(ps("n").toInt))
    reg.registerFilter("double")(_ => doubleFilter)
    reg.registerSink("noop")(_ => PSink("noop", Map.empty, _ => Nil))
    val p = Pipeline(mkSource()).filter(doubleFilter)
      .write(PSink("noop", Map.empty, _ => Nil))
    val path = Files.createTempDirectory("graft").resolve("pipe.yaml").toString
    Serialization.save(p, path)
    val loaded = Serialization.load(path, reg)
    assert(loaded.configHash == p.configHash)
    assert(loaded.filters.map(_.name) == p.filters.map(_.name))
    // loaded pipeline is executable
    assert(loaded.dataFrame(spark).count() == 10)
  }

  test("runner resume: completed indices are skipped; rerun is a no-op") {
    val dir = Files.createTempDirectory("graft-ledger").toString
    val out = Files.createTempDirectory("graft-out").toString
    val p = Pipeline(mkSource(10))
      .filter(doubleFilter)
      .write(Sinks.parquetSink(s"$out/data", Seq("idx")))

    // Pre-mark indices 0-4 completed (simulates a killed earlier run).
    val runId = p.configHash.take(16)
    new Ledger(dir).recordCompleted(spark, runId, Seq(0L, 1L, 2L, 3L, 4L), 0L, 0L)

    val r1 = Runner.runPipeline(spark, p, "idx", dir)
    assert(r1.nTotal == 10 && r1.nSkipped == 5 && r1.nExecuted == 5)
    // only the 5 remaining indices were written
    // partition-dir columns read back type-inferred (int) → cast
    val written = spark.read.parquet(s"$out/data")
      .select(col("idx").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(written == Set(5L, 6L, 7L, 8L, 9L))

    val r2 = Runner.runPipeline(spark, p, "idx", dir)
    assert(r2.nExecuted == 0 && r2.nSkipped == 10)

    // ledger summary sees the completed run
    val summary = new Ledger(dir).runSummary(spark)
      .filter(col("run_id") === runId && col("status") === "completed").collect()
    assert(summary.nonEmpty)

    // index_results schema parity with the reference's SQLite table
    // (pipeline_store.py:550-563): the nullable gpu_memory_bytes column
    // exists (always NULL on CPU runs) alongside the metric columns.
    val idxRows = spark.read.parquet(s"$dir/index_results")
    val names = idxRows.schema.fieldNames.toSet
    assert(Set("idx", "run_id", "status", "wall_ns", "n_rows",
      "peak_memory_bytes", "gpu_memory_bytes", "finished_at").subsetOf(names),
      s"index_results schema missing columns: $names")
    assert(idxRows.schema("gpu_memory_bytes").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(idxRows.filter(col("gpu_memory_bytes").isNotNull).count() == 0)
  }

  /** A pipeline over `mkSource(n)` whose one filter (`doubleFilter`, then
    * dropping the rows of each index `drop` selects) and whose sink count
    * their calls: the transform is called when the chain is built, the
    * sink once per write. */
  private def countingPipeline(n: Int, sink: PSink,
                               drop: Column => Column = _ => lit(false))
      : (Pipeline, AtomicInteger, AtomicInteger) = {
    val transforms = new AtomicInteger
    val writes = new AtomicInteger
    val p = Pipeline(mkSource(n))
      .filter(PFilter("double_dropping", Map("factor" -> "2"), df => {
        transforms.incrementAndGet()
        doubleFilter.transform(df).filter(!drop(col("idx")))
      }))
      .write(sink.copy(write = df => { writes.incrementAndGet(); sink.write(df) }))
    (p, transforms, writes)
  }

  test("runPipeline: a completed run is skipped from the source index, no filter or sink call") {
    val dir = Files.createTempDirectory("graft-srcskip").toString
    val out = Files.createTempDirectory("graft-srcskip-out").toString
    val (p, transforms, writes) =
      countingPipeline(10, Sinks.parquetSink(s"$out/data", Seq("idx")))
    val r1 = Runner.runPipeline(spark, p, "idx", dir)
    assert(r1.nExecuted == 10 && transforms.get == 1 && writes.get == 1)
    val r2 = Runner.runPipeline(spark, p, "idx", dir)
    assert(transforms.get == 1 && writes.get == 1)
    assert(r2.nExecuted == 0 && r2.nSkipped == 10 && r2.nTotal == 10)
    assert(r2.outputPaths == r1.outputPaths && r2.writtenPaths.isEmpty)
  }

  test("runPipeline: an index the filters drop entirely is skipped by the post-filter probe") {
    val dir = Files.createTempDirectory("graft-fbskip").toString
    val out = Files.createTempDirectory("graft-fbskip-out").toString.concat("/data")
    // an overwrite sink: called with an empty frame it would erase its output
    val overwrite = PSink("parquet_overwrite", Map("path" -> out),
      df => { df.write.mode("overwrite").parquet(out); Seq(out) })
    val (p, transforms, writes) = countingPipeline(5, overwrite, _ === 4L)
    val r1 = Runner.runPipeline(spark, p, "idx", dir)
    assert(r1.nExecuted == 4 && writes.get == 1)
    def rows() = spark.read.parquet(out).orderBy("idx").collect()
      .map(r => (r.getAs[Long]("idx"), r.getAs[Long]("value"))).toSeq
    val before = rows()
    assert(before == (0L until 4L).map(i => (i, i * 4)))
    // index 4 is never recorded, so the source probe finds work and the
    // chain is built; the post-filter probe finds none and skips the sink
    val r2 = Runner.runPipeline(spark, p, "idx", dir)
    assert(transforms.get == 2 && writes.get == 1)
    assert(r2.nExecuted == 0 && r2.nSkipped == 4)
    assert(rows() == before)
  }

  test("runPipeline: after resetIndex a rerun executes exactly that index") {
    val dir = Files.createTempDirectory("graft-rsskip").toString
    val out = Files.createTempDirectory("graft-rsskip-out").toString
    val (p, transforms, writes) =
      countingPipeline(10, Sinks.parquetSink(s"$out/data", Seq("idx")))
    val r1 = Runner.runPipeline(spark, p, "idx", dir)
    val led = new Ledger(dir)
    led.resetIndex(spark, r1.runId, 2L)
    val r2 = Runner.runPipeline(spark, p, "idx", dir)
    assert(transforms.get == 2 && writes.get == 2)
    assert(r2.nExecuted == 1 && r2.nSkipped == 9 && r2.nTotal == 10)
    assert(led.completedIndices(spark, r1.runId).count() == 10)
    // the append sink got index 2's row a second time and nothing else
    val perIdx = spark.read.parquet(s"$out/data").groupBy(col("idx").cast("long"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perIdx == (0L until 10L).map(i => i -> (if (i == 2L) 2L else 1L)).toMap)
  }

  test("runPerIndex: injected failure leaves completed prefix durable; resume runs exactly the rest") {
    val dir = Files.createTempDirectory("graft-ledger-pi").toString
    val out = Files.createTempDirectory("graft-out-pi").toString
    val p = Pipeline(mkSource(8)).filter(doubleFilter)
      .write(Sinks.parquetSink(s"$out/data", Seq("idx")))
    // run 1 crashes at index 5 (driver-side fault injection): indices 0-4
    // are already committed per-index, 5 gets an errors row, 6-7 never ran
    val boom = intercept[RuntimeException] {
      Runner.runPerIndex(spark, p, "idx", dir,
        beforeIndex = i => if (i == 5L) throw new RuntimeException("injected"))
    }
    assert(boom.getMessage == "injected")
    val runId = p.configHash.take(16)
    val led = new Ledger(dir)
    assert(led.completedIndices(spark, runId).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 4L))
    assert(led.failedIndices(spark, runId).collect().map(_.getLong(0)).toSet == Set(5L))
    // run 2 executes exactly the remaining 3 (the errored index is retried)
    val r2 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r2.nExecuted == 3 && r2.nSkipped == 5 && r2.nTotal == 8)
    // artifact now identical to a clean run: every partition present, rows complete
    val written = spark.read.parquet(s"$out/data")
    assert(written.select(col("idx").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet == (0L until 8L).toSet)
    assert(written.count() == 8)
    // run 3 is a full skip
    val r3 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r3.nExecuted == 0 && r3.nSkipped == 8 && r3.writtenPaths.isEmpty)
  }

  test("resetIndex: one index's records clear; resume re-runs exactly it") {
    val dir = Files.createTempDirectory("graft-reset-idx").toString
    val out = Files.createTempDirectory("graft-reset-out").toString
    val p = Pipeline(mkSource(6)).filter(doubleFilter)
      .write(Sinks.parquetSink(s"$out/data", Seq("idx")))
    val r1 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r1.nExecuted == 6)
    val runId = r1.runId
    val led = new Ledger(dir)
    assert(led.stageMetrics(spark, runId).filter(col("idx") === 3L).count() > 0)
    led.resetIndex(spark, runId, 3L)
    // exactly index 3's records are gone, everywhere the reference clears
    assert(led.completedIndices(spark, runId).collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 4L, 5L))
    assert(led.outputPathsDf(spark, runId, 3L).count() == 0)
    assert(led.stageMetrics(spark, runId).filter(col("idx") === 3L).count() == 0)
    assert(led.isCompleted(spark, runId, 3L).isEmpty)
    // neighbours untouched
    assert(led.isCompleted(spark, runId, 2L).nonEmpty)
    assert(led.outputPathsDf(spark, runId, 4L).count() > 0)
    // resume re-runs exactly the reset index
    val r2 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r2.nExecuted == 1 && r2.nSkipped == 5)
    assert(led.completedIndices(spark, runId).count() == 6)
  }

  test("replaceFilterArtifacts merges shard rows; indexForPath reverse lookup") {
    val dir = Files.createTempDirectory("graft-replart").toString
    val led = new Ledger(dir)
    led.recordOutputFiles(spark, "r", 2L, Seq("/out/a", "/out/b"))
    assert(led.indexForPath(spark, "r", "/out/b").contains(2L))
    assert(led.indexForPath(spark, "r", "/nope").isEmpty)
    led.recordFilterArtifacts(spark, "r", 0L, "stats", 1, Seq("/s/shard0"))
    led.recordFilterArtifacts(spark, "r", 1L, "stats", 1, Seq("/s/shard1"))
    led.recordFilterArtifacts(spark, "r", 0L, "other", 2, Seq("/o/keep"))
    led.replaceFilterArtifacts(spark, "r", "stats", 1,
      Seq("/s/shard0", "/s/shard1"), "/s/merged")
    // shard rows replaced by ONE merged row at the representative idx 0;
    // unrelated filters' artifacts untouched
    val rows = led.filterArtifacts(spark, "r")
      .collect().map(r => (r.getAs[String]("path"), r.getAs[Long]("idx"),
        r.getAs[String]("filter_name"))).toSet
    assert(rows == Set(("/s/merged", 0L, "stats"), ("/o/keep", 0L, "other")))
  }

  test("resetRun clears one run from a shared ledger; other runs untouched") {
    val dir = Files.createTempDirectory("graft-reset-run").toString
    val led = new Ledger(dir)
    // two runs interleave; compact folds the early tail into SHARED bins,
    // later commits rebuild per-run tails — reset must handle both shapes
    (0L until 10L).foreach { i =>
      led.recordCompleted(spark, "run_a", Seq(i), 1L, 1L)
      led.recordCompleted(spark, "run_b", Seq(i), 1L, 1L)
    }
    led.recordRunStart(spark, "run_a", "{}", None, Some(10L))
    led.recordRunStart(spark, "run_b", "{}", None, Some(10L))
    led.recordWorkerHeartbeat(spark, "run_a", "w1", 1L, "h", "inv", None, 0L,
      System.currentTimeMillis())
    led.compact(spark, maxFilesPerTable = 1)
    (10L until 15L).foreach { i =>
      led.recordCompleted(spark, "run_a", Seq(i), 1L, 1L)
      led.recordCompleted(spark, "run_b", Seq(i), 1L, 1L)
    }
    val bBefore = led.indexDf(spark, "run_b").collect().map(_.toString).sorted
    led.resetRun(spark, "run_a")
    // every run_a record is gone (tails deleted, shared bins rewritten)
    assert(led.completedIndices(spark, "run_a").count() == 0)
    assert(led.workers(spark, "run_a").count() == 0)
    assert(led.runMeta(spark, "run_a") == (None, None))
    // run_b is bit-identical, including its compacted-bin rows
    assert(led.completedIndices(spark, "run_b").count() == 15)
    assert(led.indexDf(spark, "run_b").collect().map(_.toString).sorted
      .sameElements(bBefore))
  }

  test("reset rewrites keep NULL-predicate legacy rows (mixed-ledger schemas)") {
    // A legacy stage_metrics file WITHOUT the idx column sits in the shared
    // bucket (pre-prefix ledgers are a documented supported shape). For its
    // rows (run_id === r && idx === 3) evaluates to NULL — a destructive
    // rewrite must treat that as "keep", not silently delete them.
    val dir = Files.createTempDirectory("graft-reset-null").toString
    val led = new Ledger(dir)
    val sl = new StageListener(None)
    val rec = sl.StageRec(1, "s0", 10L, 10L, 1, 0L)
    led.recordStageMetricsIdx(spark, "r", Seq((3L, rec), (4L, rec)))
    // legacy file: same table, no idx column, non-tail (shared-bucket) name
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-legacy").toString
    Seq(("r", 0, 7, "legacy_stage", 5L, 5L, 1, 0L))
      .toDF("run_id", "stage_order", "stage_id", "stage_name", "wall_ns",
        "executor_run_ns", "n_tasks", "peak_memory_bytes")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/legacy")
    val part = new java.io.File(s"$tmp/legacy").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(s"$dir/stage_metrics/legacy.parquet"))
    assert(led.stageMetrics(spark, "r").count() == 3)
    led.resetIndex(spark, "r", 3L)
    val after = led.stageMetrics(spark, "r")
      .select("stage_name").collect().map(_.getString(0)).toSet
    // idx 3's row gone; idx 4 AND the NULL-idx legacy row both survive
    assert(after == Set("legacy_stage", "s0"))
    assert(led.stageMetrics(spark, "r").count() == 2)
  }

  test("resetRun survives a run-prefix collision: foreign rows rewritten, not unlinked") {
    // Brute-force a REAL pair of run ids whose 8-hex MD5 prefixes collide
    // (birthday bound over 32 bits: ~2^16 hashes, deterministic order so
    // the pair is stable across runs). Both runs then share commit-file
    // prefixes, so resetRun's name-prefix match selects the other run's
    // tail files too — the verify-before-unlink pass must rewrite them
    // (dropping only the target run's rows) instead of deleting.
    val dir = Files.createTempDirectory("graft-reset-coll").toString
    val led = new Ledger(dir)
    val seen = scala.collection.mutable.Map.empty[String, String]
    var pair: Option[(String, String)] = None
    var i = 0
    while (pair.isEmpty) {
      val id = s"collide_$i"
      val pre = led.runPrefix(id)
      seen.get(pre) match {
        case Some(prev) => pair = Some((prev, id))
        case None => seen(pre) = id
      }
      i += 1
    }
    val (runX, runA) = pair.get
    assert(led.runPrefix(runX) == led.runPrefix(runA) && runX != runA)
    // runX is deliberately NOT registered (no recordRunStart): the r14
    // fast path trusted the runs table and was blind to unregistered
    // prefix-colliding writers — its tail files were unlinked. The footer-
    // statistics proof reads exclusivity off each candidate file itself,
    // so registration no longer matters.
    led.recordRunStart(spark, runA, "{}", None, Some(1L))
    led.recordCompleted(spark, runX, Seq(7L), 1L, 1L)
    led.recordCompleted(spark, runA, Seq(1L), 1L, 1L)
    led.resetRun(spark, runA)
    assert(led.completedIndices(spark, runA).count() == 0)
    // runX's commit file carried runA's prefix too; its footer stats fail
    // the min=max=runA proof, so it was rewritten (or left intact when it
    // held no runA rows), never unlinked
    assert(led.completedIndices(spark, runX)
      .collect().map(_.getLong(0)).toSet == Set(7L))
  }

  test("logs: pre-worker_id legacy rows read as driver; tagged rows keep their tag") {
    val dir = Files.createTempDirectory("graft-logs-legacy").toString
    val led = new Ledger(dir)
    led.recordLogs(spark, "r", Seq(("INFO", "lg", "tagged", 0L)), "w9")
    // legacy logs file without the worker_id column, shared-bucket name
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-logs-tmp").toString
    Seq(("INFO", "lg", "legacy", 0L, "r", 1L))
      .toDF("level", "logger_name", "message", "idx", "run_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/legacy")
    val part = new java.io.File(s"$tmp/legacy").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, Paths.get(s"$dir/logs/legacy.parquet"))
    val rows = led.logs(spark, "r")
      .select("message", "worker_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("tagged", "w9"), ("legacy", "driver")))
  }

  test("replaceFilterArtifacts refuses under a held lock; superset collapses on retry") {
    val dir = Files.createTempDirectory("graft-replock").toString
    val led = new Ledger(dir)
    led.recordFilterArtifacts(spark, "r", 0L, "stats", 1, Seq("/s/shard0"))
    val lock = Paths.get(s"$dir/_maintenance/compact.lock")
    Files.createDirectories(lock.getParent)
    Files.createFile(lock)
    // the whole insert+rewrite runs under the shared maintenance lock
    assert(intercept[IllegalStateException] {
      led.replaceFilterArtifacts(spark, "r", "stats", 1,
        Seq("/s/shard0"), "/s/merged")
    }.getMessage.contains("already in progress"))
    assert(led.filterArtifacts(spark, "r").collect()
      .map(_.getAs[String]("path")).toSet == Set("/s/shard0")) // untouched
    Files.delete(lock)
    // crash-between-steps leaves {shards, merged}; a re-invocation of the
    // same merge collapses the superset back to exactly the merged row
    led.recordFilterArtifacts(spark, "r", 0L, "stats", 1, Seq("/s/merged"))
    led.replaceFilterArtifacts(spark, "r", "stats", 1,
      Seq("/s/shard0"), "/s/merged")
    assert(led.filterArtifacts(spark, "r").collect()
      .map(_.getAs[String]("path")).toSet == Set("/s/merged"))
  }

  test("runner without resume executes everything") {
    val dir = Files.createTempDirectory("graft-ledger2").toString
    val p = Pipeline(mkSource(6)).filter(doubleFilter)
    val r = Runner.runPipeline(spark, p, "idx", dir, resume = false)
    assert(r.nExecuted == 6 && r.nSkipped == 0)
    assert(new Ledger(dir).completedIndices(spark, r.runId).count() == 6)
  }

  test("run records per-stage wall-time rows (stage_metrics parity)") {
    val dir = Files.createTempDirectory("graft-ledger3").toString
    val p = Pipeline(mkSource(8))
      .filter(doubleFilter)
      .filter(PFilter("agg", Map.empty,
        df => df.groupBy(col("idx") % 2).agg(sum(col("value")).as("value"))
          .withColumnRenamed("(idx % 2)", "idx")))
    val r = Runner.runPipeline(spark, p, "idx", dir, resume = false)
    val stages = new Ledger(dir).stageMetrics(spark, r.runId)
    // the groupBy forces ≥2 scheduler stages; rows carry ordered names+times
    assert(stages.count() >= 2)
    val rows = stages.orderBy("stage_order").collect()
    assert(rows.map(_.getAs[Int]("stage_order")).toSeq == rows.indices.toSeq)
    assert(rows.forall(_.getAs[Long]("wall_ns") >= 0L))
    assert(rows.forall(_.getAs[String]("stage_name").nonEmpty))
  }

  test("ledger logs table: batched append + per-run read-back") {
    val dir = Files.createTempDirectory("graft-logs").toString
    val led = new Ledger(dir)
    led.recordLogs(spark, "run_a", Seq(
      ("INFO", "graft.runner", "started", -1L),
      ("ERROR", "graft.sink", "index 4 failed", 4L)))
    led.recordLogs(spark, "run_b", Seq(("INFO", "graft.runner", "other run", -1L)))
    val a = led.logs(spark, "run_a")
    assert(a.count() == 2)
    assert(a.filter(col("level") === "ERROR").select("idx").collect()(0).getLong(0) == 4L)
    assert(led.logs(spark, "run_b").count() == 1)
  }

  test("LedgerCatalog: list/inspect/remove/removeOlderThan over a cache root") {
    val root = Files.createTempDirectory("graft-cache").toString
    // two real pipeline runs into distinct ledger dirs under the root
    val pa = Pipeline(mkSource(6)).filter(doubleFilter)
    val pb = Pipeline(mkSource(9))
    Runner.runPipeline(spark, pa, "idx", s"$root/store_a")
    Thread.sleep(5) // distinct started_at ordering
    Runner.runPipeline(spark, pb, "idx", s"$root/store_b")
    // a non-ledger dir and a corrupt store must be skipped silently
    Files.createDirectories(Paths.get(root, "not_a_ledger"))
    Files.createDirectories(Paths.get(root, "corrupt/runs"))
    Files.write(Paths.get(root, "corrupt/runs/junk.parquet"), Array[Byte](1, 2, 3))

    val infos = LedgerCatalog.list(spark, root)
    assert(infos.map(_.name) == Seq("store_b", "store_a")) // newest first
    val a = infos.find(_.name == "store_a").get
    assert(a.sourceName == "range" && a.filterNames == Seq("double"))
    assert(a.total == 6 && a.completed == 6 && a.failed == 0)
    assert(a.runIds == Seq(pa.configHash.take(16)))
    assert(a.sizeBytes > 0)
    assert(LedgerCatalog.totalSize(spark, root) >= a.sizeBytes)

    // ambiguous prefix refuses; exact and unique-prefix remove work
    intercept[IllegalArgumentException] {
      LedgerCatalog.remove(spark, root, Seq("store_"))
    }
    assert(LedgerCatalog.remove(spark, root, Seq("store_a")) == 1)
    assert(LedgerCatalog.list(spark, root).map(_.name) == Seq("store_b"))
    assert(LedgerCatalog.removeOlderThan(spark, root, System.currentTimeMillis() + 1000) == 1)
    assert(LedgerCatalog.list(spark, root).isEmpty)
  }

  test("LedgerCatalog: names with quotes/backslashes survive config extraction") {
    val root = Files.createTempDirectory("graft-cache-esc").toString
    val p = Pipeline(mkSource(4)).filter(
      PFilter("""say "hi" \now""", Map.empty, identity[DataFrame]))
    Runner.runPipeline(spark, p, "idx", s"$root/store_q")
    val info = LedgerCatalog.inspect(spark, s"$root/store_q").get
    assert(info.filterNames == Seq("""say "hi" \now"""))
    assert(info.sourceName == "range")
  }

  test("CacheStore: compute once, read through thereafter, invalidate works") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-cache").toString
    var computes = 0
    def compute = { computes += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val a = CacheStore.readThrough(spark, dir, "k1")(compute)
    val b = CacheStore.readThrough(spark, dir, "k1")(compute)
    assert(computes == 1)
    assert(a.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2)))
    assert(b.count() == 2)
    CacheStore.invalidate(spark, dir, "k1")
    CacheStore.readThrough(spark, dir, "k1")(compute)
    assert(computes == 2)
  }

  /** A per-index sink + an artifact-reporting filter: the provenance
    * fixture (reference `record_success` output_paths + filter
    * `artifacts()`, `pipeline_store.py:1060-1130,1558-1590`).
    */
  private def provenancePipeline(out: String, artRoot: String): Pipeline = {
    val counter = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    val statsFilter = PFilter("stats_writer", Map("suffix" -> "txt"),
      df => {
        // a side-effect file per transform call, reported via artifacts()
        val p = s"$artRoot/stats_${counter.get().size}.txt"
        Files.createDirectories(Paths.get(artRoot))
        Files.write(Paths.get(p), "ok".getBytes)
        counter.set(counter.get() :+ p)
        df
      },
      artifacts = () => { val a = counter.get(); counter.set(Nil); a })
    Pipeline(mkSource(4)).filter(doubleFilter).filter(statsFilter)
      .write(PSink("per_idx_parquet", Map("path" -> "out"), df => {
        // one artifact dir per work unit — the slice's single idx names it
        val idx = df.select(min(col("idx"))).first().getLong(0)
        val p = s"$out/part_$idx"
        df.write.mode("overwrite").parquet(p)
        Seq(p)
      }))
  }

  test("output_files + filter_artifacts: per-index provenance and views") {
    val dir = Files.createTempDirectory("graft-prov").toString
    val out = Files.createTempDirectory("graft-prov-out").toString
    val art = Files.createTempDirectory("graft-prov-art").toString
    val p = provenancePipeline(out, s"$art/a")
    val r1 = Runner.runPerIndex(spark, p, "idx", dir)
    val led = new Ledger(dir)

    // output_files: one row per (path, idx), seq-ordered, (path, run_id) PK
    val of = led.outputFiles(spark, r1.runId)
      .orderBy("idx").collect()
    assert(of.length == 4)
    assert(of.map(_.getAs[Long]("idx")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(of.forall(_.getAs[Int]("seq") == 0))
    assert(of.map(_.getAs[String]("path")).distinct.length == 4)
    assert(r1.outputPaths.toSet == of.map(_.getAs[String]("path")).toSet)

    // per-index output_paths view
    val op = led.outputPathsDf(spark, r1.runId, 2L).collect()
    assert(op.length == 1 && op.head.getAs[String]("path").endsWith("part_2"))

    // filter_artifacts: the stats filter reported one file per index at
    // its pipeline position (order 1, after the stateless double filter)
    val fa = led.allArtifactsDf(spark, r1.runId).collect()
    assert(fa.length == 4)
    assert(fa.forall(_.getAs[String]("filter_name") == "stats_writer"))
    assert(fa.forall(_.getAs[Int]("filter_order") == 1))
    val one = led.artifactsDf(spark, r1.runId, 1L).collect()
    assert(one.length == 1 && one.head.getAs[String]("path").contains("stats_"))

    // a resumed (fully-skipped) run still returns the recorded paths —
    // the reference's is_completed cache contract
    val r2 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r2.nExecuted == 0 && r2.writtenPaths.isEmpty)
    assert(r2.outputPaths.toSet == r1.outputPaths.toSet && r2.outputPaths.size == 4)
  }

  test("workers table: identity/liveness parity + per-index stage grain") {
    val dir = Files.createTempDirectory("graft-wrk").toString
    val p = Pipeline(mkSource(4)).filter(doubleFilter)
    val r = Runner.runPerIndex(spark, p, "idx", dir, workerId = "w_test")
    val led = new Ledger(dir)
    val w = led.workersDf(spark, r.runId).collect()
    assert(w.length == 1)
    val row = w.head
    // reference workers_df column set (dashboard/data.py:193-246)
    for (c <- Seq("worker_id", "pid", "hostname", "started_at",
      "last_heartbeat", "current_index", "completed", "failed"))
      assert(row.schema.fieldNames.contains(c), s"missing column $c")
    assert(row.getAs[String]("worker_id") == "w_test")
    assert(row.getAs[Long]("pid") == ProcessHandle.current().pid())
    assert(row.getAs[String]("hostname").nonEmpty)
    assert(row.getAs[Long]("completed") == 4 && row.getAs[Long]("failed") == 0)
    // heartbeat-on-commit: last_heartbeat advanced past registration
    assert(row.getAs[Long]("last_heartbeat") >= row.getAs[Long]("started_at"))

    // per-index stage metrics: rows keyed (idx, stage_order), order
    // restarting from 0 within each index (pipeline_store.py:565-572)
    val sm = led.stageMetrics(spark, r.runId)
    val perIdx = sm.groupBy("idx")
      .agg(min("stage_order").as("mn"), countDistinct("stage_order").as("d"),
        count(lit(1)).as("n")).collect()
    assert(perIdx.map(_.getAs[Long]("idx")).toSet == Set(0L, 1L, 2L, 3L))
    assert(perIdx.forall(r => r.getAs[Int]("mn") == 0 &&
      r.getAs[Long]("d") == r.getAs[Long]("n")))
  }

  test("concurrent workers share one ledger: claims partition, no lost updates") {
    val dir = Files.createTempDirectory("graft-mw").toString
    val out = Files.createTempDirectory("graft-mw-out").toString
    // one artifact dir PER SINK CALL: concurrent workers must not append
    // into a single parquet directory (Spark's commit protocol shares the
    // _temporary tree across jobs on one path — same reason the ledger
    // itself appends via stage-then-rename)
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = Pipeline(mkSource(8)).filter(doubleFilter)
      .write(PSink("per_call_parquet", Map("path" -> "out"), df => {
        val d = s"$out/p_${sinkCalls.getAndIncrement()}"
        df.write.mode("overwrite").parquet(d)
        Seq(d)
      }))
    val inv = Some("inv_1")
    // two claimants racing through the SAME invocation's claim namespace;
    // results land via exceptions-or-RunResult per thread
    val results = new java.util.concurrent.ConcurrentHashMap[String, RunResult]()
    val threads = Seq("w_a", "w_b").map { wid =>
      new Thread(() => {
        val r = Runner.runPerIndex(spark, p, "idx", dir,
          workerId = wid, invocationId = inv)
        results.put(wid, r); ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    val ra = results.get("w_a"); val rb = results.get("w_b")
    assert(ra != null && rb != null, "a worker thread died")
    // no lost updates: every index completed exactly once across workers
    assert(ra.nExecuted + rb.nExecuted == 8)
    val led = new Ledger(dir)
    assert(led.completedIndices(spark, ra.runId).count() == 8)
    // per-worker attribution sums correctly in the dashboard view, and any
    // worker that claimed indices appears as its own row
    val w = led.workersDf(spark, ra.runId).collect()
    assert(w.map(_.getAs[String]("worker_id")).toSet == Set("w_a", "w_b"))
    assert(w.map(_.getAs[Long]("completed")).sum == 8)
    // artifact complete and exactly-once: 8 rows, one per index, across
    // the per-call artifact dirs
    val written = spark.read.parquet(s"$out/p_*")
    assert(written.count() == 8)
    assert(written.select(col("idx").cast("long")).distinct().count() == 8)
    // a fresh invocation resumes to a full skip (stale claims ignored)
    val r3 = Runner.runPerIndex(spark, p, "idx", dir,
      workerId = "w_c", invocationId = Some("inv_2"))
    assert(r3.nExecuted == 0 && r3.nSkipped == 8)
  }

  test("crashed claimant's indices are re-run by the next invocation") {
    val dir = Files.createTempDirectory("graft-mw2").toString
    val p = Pipeline(mkSource(8)).filter(doubleFilter)
    val boom = intercept[RuntimeException] {
      Runner.runPerIndex(spark, p, "idx", dir, workerId = "w_a",
        invocationId = Some("inv_1"),
        beforeIndex = i => if (i == 5L) throw new RuntimeException("injected"))
    }
    assert(boom.getMessage == "injected")
    // idx 5 holds a stale claim under inv_1 and an errors row — a NEW
    // invocation must re-run exactly 5, 6, 7
    val r2 = Runner.runPerIndex(spark, p, "idx", dir, workerId = "w_b",
      invocationId = Some("inv_2"))
    assert(r2.nExecuted == 3 && r2.nSkipped == 5 && r2.nTotal == 8)
    val led = new Ledger(dir)
    val w = led.workersDf(spark, r2.runId)
      .orderBy("worker_id").collect()
    assert(w.map(r => (r.getAs[String]("worker_id"),
      r.getAs[Long]("completed"), r.getAs[Long]("failed"))).toSeq ==
      Seq(("w_a", 5L, 0L), ("w_b", 3L, 0L)))
  }

  test("pipeline_runs parity: run_dir + total_indices; is_completed cache; resolve_artifact") {
    val dir = Files.createTempDirectory("graft-runmeta").toString
    val out = Files.createTempDirectory("graft-runmeta-out").toString
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val p = Pipeline(mkSource(4)).filter(doubleFilter)
      .write(PSink("per_call_parquet", Map("path" -> s"$out/art"), df => {
        val d = s"$out/art/p_${sinkCalls.getAndIncrement()}"
        df.write.mode("overwrite").parquet(d)
        Seq(d)
      }))
    val r = Runner.runPerIndex(spark, p, "idx", dir)
    val led = new Ledger(dir)
    // pipeline_runs columns (pipeline_store.py:540-548)
    val (runDir, total) = led.runMeta(spark, r.runId)
    assert(runDir.contains(s"$out/art") && total.contains(4L))
    // summary reads the STORED total — no caller-supplied count
    val sm = led.summaryDf(spark, r.runId).collect().head
    assert(sm.getAs[Long]("total") == 4 && sm.getAs[Long]("completed") == 4 &&
      sm.getAs[Long]("remaining") == 0)
    // is_completed returns the cached output paths; un-run index → None
    val cached = led.isCompleted(spark, r.runId, 2L)
    assert(cached.exists(ps => ps.length == 1 && ps.head.startsWith(s"$out/art/p_")))
    assert(led.isCompleted(spark, r.runId, 99L).isEmpty)
    // resolve_artifact: absolute passes through, relative joins run_dir
    assert(led.resolveArtifact(spark, r.runId, "/abs/x.txt") == "/abs/x.txt")
    assert(led.resolveArtifact(spark, r.runId, "rel/y.txt") == s"$out/art/rel/y.txt")
  }

  test("indices_by_worker + logs worker_id parity") {
    val dir = Files.createTempDirectory("graft-ibw").toString
    val led = new Ledger(dir)
    led.recordCompleted(spark, "r", Seq(0L, 1L), 1L, 1L, 0L, None, "w_a")
    led.recordCompleted(spark, "r", Seq(2L), 1L, 1L, 0L, None, "w_b")
    led.recordError(spark, "r", 3L, "boom", "w_a")
    led.recordError(spark, "r", 2L, "later completed elsewhere", "w_a")
    val a = led.indicesByWorker(spark, "r", "w_a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // idx 2's error does NOT count against w_a — w_b completed it
    // (retry-wins, pipeline_store.py:1200-1246)
    assert(a == Seq((0L, "completed"), (1L, "completed"), (3L, "failed")))
    val b = led.indicesByWorker(spark, "r", "w_b").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(b == Seq((2L, "completed")))
    // logs rows carry worker_id; logsDf surfaces it (reference logs_df
    // columns, dashboard/data.py:283-321)
    led.recordLogs(spark, "r", Seq(("INFO", "t", "m", 0L)), "w_a")
    val lg = led.logsDf(spark, "r").collect()
    assert(lg.length == 1 && lg.head.getAs[String]("worker_id") == "w_a")
  }

  test("output_files (path, run_id) PK resolves first-writer-wins at read") {
    val dir = Files.createTempDirectory("graft-ofpk").toString
    val led = new Ledger(dir)
    led.recordOutputFiles(spark, "r", 1L, Seq("/out/a", "/out/b"))
    // a racing worker whose recorded-set snapshot was stale re-records
    // /out/b under a later index (cumulative-listing sink)
    led.recordOutputFiles(spark, "r", 4L, Seq("/out/b", "/out/c"))
    val rows = led.outputFiles(spark, "r").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    // /out/b surfaces ONCE, attributed to the first index that produced it
    assert(rows == Set(("/out/a", 1L, 0), ("/out/b", 1L, 1), ("/out/c", 4L, 1)))
    val p4 = led.outputPathsDf(spark, "r", 4L)
      .select("path").collect().map(_.getString(0)).toSeq
    assert(p4 == Seq("/out/c"))
  }

  test("is_completed falls back to run-scoped paths for batch-completed indices") {
    val dir = Files.createTempDirectory("graft-iscb").toString
    val out = Files.createTempDirectory("graft-iscb-out").toString
    val art = s"$out/artifact"
    val p = Pipeline(mkSource(3)).filter(doubleFilter)
      .write(PSink("parquet", Map("path" -> art), df => {
        df.write.mode("overwrite").parquet(art); Seq(art)
      }))
    val r = Runner.runPipeline(spark, p, "idx", dir)
    val led = new Ledger(dir)
    // batch run records paths under idx = -1; per-idx probe must return
    // the run-scoped cached outputs, not Some(empty)
    assert(led.isCompleted(spark, r.runId, 1L).contains(Seq(art)))
    assert(led.isCompleted(spark, r.runId, 99L).isEmpty)
  }

  test("mixed old+new ledger schemas: mergeSchema reads + compact keeps new columns") {
    val dir = Files.createTempDirectory("graft-mrgsch").toString
    val led = new Ledger(dir)
    // an OLD-era runs file without run_dir/total_indices (pre-r12 ledger)
    val s = spark
    import s.implicits._
    Seq(("old_run", "{}", 1L)).toDF("run_id", "config_json", "started_at")
      .coalesce(1).write.mode("append").parquet(s"$dir/runs")
    led.recordRunStart(spark, "new_run", "{}", Some("/art/root"), Some(7L))
    // without mergeSchema the inferred schema can come from the OLD footer,
    // silently blanking the new columns
    assert(led.runMeta(spark, "new_run") == (Some("/art/root"), Some(7L)))
    assert(led.runMeta(spark, "old_run") == (None, None))
    // compact's rewrite must carry the merged schema, not a partial one —
    // via the DRIVER fast path (default: tiny table, parquet-mr merge)...
    led.compact(spark, maxFilesPerTable = 1)
    assert(led.runMeta(spark, "new_run") == (Some("/art/root"), Some(7L)))
    assert(led.runMeta(spark, "old_run") == (None, None))
    // ...and via the SPARK path (smallTableBytes = 0 forces it), over a
    // re-fragmented mixed-schema table
    Seq(("old_run2", "{}", 2L)).toDF("run_id", "config_json", "started_at")
      .coalesce(1).write.mode("append").parquet(s"$dir/runs")
    led.compact(spark, maxFilesPerTable = 1, smallTableBytes = 0L)
    assert(led.runMeta(spark, "new_run") == (Some("/art/root"), Some(7L)))
    assert(led.runMeta(spark, "old_run2") == (None, None))
  }

  test("per-run tail pruning: one run's read skips other runs' commit files") {
    val dir = Files.createTempDirectory("graft-prune").toString
    val led = new Ledger(dir)
    val s = spark
    import s.implicits._
    // two runs interleave per-index commits into ONE shared ledger
    (0L until 30L).foreach(i => led.recordCompleted(spark, "run_a", Seq(i), 1L, 1L))
    (0L until 50L).foreach(i => led.recordCompleted(spark, "run_b", Seq(i), 1L, 1L))
    val idxDir = new org.apache.hadoop.fs.Path(s"$dir/index_results")
    val fs = idxDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // selection level: run_a's read plans exactly its own 30 tail files —
    // run_b's 50 are pruned by NAME, never opened
    val sel = led.prunedFiles(fs, idxDir, "run_a").get
    assert(sel.size == 30)
    assert(sel.forall(_.contains(led.runPrefix("run_a"))))
    // result level: both runs' probes stay correct
    assert(led.completedIndices(spark, "run_a").count() == 30)
    assert(led.completedIndices(spark, "run_b").count() == 50)
    // a LEGACY (pre-prefix) commit file is in the always-read shared
    // bucket: raw part-file append of one more run_a completion
    Seq((99L, "run_a", "completed", 1L, 1L))
      .toDF("idx", "run_id", "status", "wall_ns", "n_rows")
      .coalesce(1).write.mode("append").parquet(idxDir.toString)
    assert(led.prunedFiles(fs, idxDir, "run_a").get.size == 31)
    assert(led.completedIndices(spark, "run_a").count() == 31)
    // compaction folds the tails into shared bins; reads stay correct and
    // new tail commits resume pruning on top of the compacted base
    led.compact(spark, maxFilesPerTable = 1)
    assert(led.completedIndices(spark, "run_a").count() == 31)
    assert(led.completedIndices(spark, "run_b").count() == 50)
    led.recordCompleted(spark, "run_b", Seq(50L), 1L, 1L)
    val selB = led.prunedFiles(fs, idxDir, "run_a").get
    // run_a sees the compacted shared bin but NOT run_b's fresh tail file
    assert(!selB.exists(_.contains(led.runPrefix("run_b"))))
    assert(led.completedIndices(spark, "run_a").count() == 31)
    assert(led.completedIndices(spark, "run_b").count() == 51)
  }

  test("ledger compaction: many per-index commits re-bin; contents unchanged") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val led = new Ledger(dir)
    // simulate a long per-index run: one tiny commit file per index
    (0L until 120L).foreach { i =>
      led.recordCompleted(spark, "run_c", Seq(i), 1000L, 10L)
    }
    def files(t: String): Int = {
      val d = new java.io.File(s"$dir/$t")
      if (!d.exists()) 0
      else {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(d)
      }
    }
    val before = files("index_results")
    assert(before >= 120)
    val idxBefore = led.completedIndices(spark, "run_c")
      .collect().map(_.getLong(0)).toSet
    val report = led.compact(spark, maxFilesPerTable = 16)
    assert(report("index_results")._1 == before)
    assert(report("index_results")._2 < 16)
    assert(files("index_results") == report("index_results")._2)
    // contents identical: same completed set, resume probe still correct
    val idxAfter = led.completedIndices(spark, "run_c")
      .collect().map(_.getLong(0)).toSet
    assert(idxAfter == idxBefore && idxAfter.size == 120)
  }

  test("compact refuses under a held maintenance lock; breaks a stale one") {
    val dir = Files.createTempDirectory("graft-cmplock").toString
    val led = new Ledger(dir)
    (0L until 20L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
    val lock = Paths.get(s"$dir/_maintenance/compact.lock")
    Files.createDirectories(lock.getParent)
    Files.createFile(lock)
    // fresh lock → another compactor is live → refuse
    val e = intercept[IllegalStateException] {
      led.compact(spark, maxFilesPerTable = 4)
    }
    assert(e.getMessage.contains("already in progress"))
    // stale lock (older than the TTL) → crashed compactor → break and run
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10000))
    val rep = led.compact(spark, maxFilesPerTable = 4, lockTtlMs = 5000)
    assert(rep("index_results")._2 < rep("index_results")._1)
    // lock released on exit
    assert(!Files.exists(lock))
    assert(led.completedIndices(spark, "r").count() == 20)
    // the reset family shares the SAME lock: all destructive rewrites
    // serialize against each other, not just compact-vs-compact
    Files.createFile(lock)
    assert(intercept[IllegalStateException] {
      led.resetRun(spark, "r")
    }.getMessage.contains("already in progress"))
    assert(intercept[IllegalStateException] {
      led.resetIndex(spark, "r", 3L)
    }.getMessage.contains("already in progress"))
    Files.delete(lock)
    assert(led.completedIndices(spark, "r").count() == 20) // refused = untouched
  }

  test("maintenance lock renewal: a live slow holder is never stale-broken") {
    val dir = Files.createTempDirectory("graft-renew").toString
    val led = new Ledger(dir)
    (0L until 6L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
    val holderDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val holder = new Thread(() =>
      led.withMaintenanceLock(spark, "slow-holder", lockTtlMs = 1000L) { _ =>
        Thread.sleep(2600); holderDone.set(true)
      })
    holder.start()
    Thread.sleep(1500) // well past the 1 s TTL — renewal (TTL/4) keeps it live
    // a rival with the SAME short TTL must refuse, not stale-break
    assert(intercept[IllegalStateException] {
      led.compact(spark, lockTtlMs = 1000L)
    }.getMessage.contains("already in progress"))
    assert(!holderDone.get(), "holder finished early; the refusal proved nothing")
    holder.join()
    assert(holderDone.get())
    // released on exit: the rival now acquires normally
    led.compact(spark, lockTtlMs = 1000L)
    assert(led.completedIndices(spark, "r").count() == 6)
  }

  test("maintainIfNeeded: threshold-gated, lock-free under threshold, refuses when locked") {
    val dir = Files.createTempDirectory("graft-maintain").toString
    val led = new Ledger(dir)
    (0L until 10L).foreach(i => led.recordCompleted(spark, "r", Seq(i), 1L, 1L))
    // under threshold: no work, Some(empty) — and it never takes the lock,
    // so it succeeds even while another maintainer holds it
    val lock = Paths.get(s"$dir/_maintenance/compact.lock")
    Files.createDirectories(lock.getParent)
    Files.createFile(lock)
    assert(led.maintainIfNeeded(spark, maxFilesPerTable = 64)
      .contains(Map.empty[String, (Int, Int)]))
    // over threshold while locked: refuse with None, touch nothing
    assert(led.maintainIfNeeded(spark, maxFilesPerTable = 4).isEmpty)
    assert(new java.io.File(s"$dir/index_results")
      .listFiles().count(_.getName.endsWith(".parquet")) == 10)
    Files.delete(lock)
    // over threshold, unlocked: compacts exactly the offending table
    val rep = led.maintainIfNeeded(spark, maxFilesPerTable = 4).get
    assert(rep("index_results")._1 == 10 && rep("index_results")._2 <= 4)
    assert(led.completedIndices(spark, "r").count() == 10)
    // idempotent steady state after the rewrite
    assert(led.maintainIfNeeded(spark, maxFilesPerTable = 4)
      .contains(Map.empty[String, (Int, Int)]))
  }

  test("compact racing live committers loses zero rows") {
    val dir = Files.createTempDirectory("graft-cmprace").toString
    val led = new Ledger(dir)
    val nThreads = 4
    val per = 50
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() => {
      while (!stop.get()) {
        try led.compact(spark, maxFilesPerTable = 8)
        catch { case e: Throwable => errs.add(e) }
        Thread.sleep(10)
      }
    })
    val committers = (0 until nThreads).map { t =>
      new Thread(() => {
        try (0 until per).foreach { i =>
          led.recordCompleted(spark, "soak", Seq((t * per + i).toLong), 1L, 1L)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    compactor.start(); committers.foreach(_.start())
    committers.foreach(_.join()); stop.set(true); compactor.join()
    assert(errs.isEmpty, s"racing threads failed: ${errs.toArray.toSeq}")
    // zero lost updates AND zero duplicated rows, by exact count + content
    val rows = spark.read.parquet(s"$dir/index_results")
      .filter(col("run_id") === "soak")
    assert(rows.count() == nThreads * per)
    val hashBefore = rows.orderBy("idx").collect()
      .map(_.mkString("|")).mkString("\n").hashCode
    led.compact(spark, maxFilesPerTable = 1)
    val after = spark.read.parquet(s"$dir/index_results")
      .filter(col("run_id") === "soak")
    val hashAfter = after.orderBy("idx").collect()
      .map(_.mkString("|")).mkString("\n").hashCode
    assert(after.count() == nThreads * per && hashAfter == hashBefore)
    assert(led.completedIndices(spark, "soak").count() == nThreads * per)
  }

  test("crash-mid-stage hygiene: staging orphans invisible to readers, janitored by clean") {
    val dir = Files.createTempDirectory("graft-stgorphan").toString
    val led = new Ledger(dir)
    led.recordCompleted(spark, "r", Seq(0L, 1L), 1L, 1L)
    // a writer killed between stage and rename leaves bytes ONLY under
    // _staging (naming contract at appendRows) — fake one per shape:
    // a parquet-named file (appendLocal) and a staged job dir (appendRows)
    val stg = Paths.get(s"$dir/_staging")
    Files.write(stg.resolve("dead-beef.parquet"), Array[Byte](1, 2, 3))
    val deadDir = stg.resolve("dead-job-dir")
    Files.createDirectories(deadDir.resolve("_temporary"))
    Files.write(deadDir.resolve("part-0.parquet"), Array[Byte](4, 5))
    // readers see exactly the committed rows — orphans are invisible
    assert(led.completedIndices(spark, "r").count() == 2)
    // fresh orphans are NOT removed (could be an in-flight commit)...
    assert(led.clean(spark, olderThanMs = 60000) == 0)
    // ...aged ones are
    Seq(stg.resolve("dead-beef.parquet"), deadDir).foreach { p =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000))
    }
    assert(led.clean(spark, olderThanMs = 60000) == 2)
    assert(!Files.exists(stg.resolve("dead-beef.parquet")) &&
      !Files.exists(deadDir))
    // ledger contents untouched by the janitor
    assert(led.completedIndices(spark, "r").count() == 2)
  }

  test("resume across a compaction boundary re-runs exactly the remainder") {
    val dir = Files.createTempDirectory("graft-rescmp").toString
    val p = Pipeline(mkSource(8)).filter(doubleFilter)
    val crashed = try {
      Runner.runPerIndex(spark, p, "idx", dir,
        beforeIndex = i => if (i == 5L) throw new RuntimeException("boom"))
      false
    } catch { case e: RuntimeException if e.getMessage == "boom" => true }
    assert(crashed)
    val led = new Ledger(dir)
    // compact the crashed run's ledger (force a rewrite of every table)
    led.compact(spark, maxFilesPerTable = 1)
    // the resumed run must execute exactly the remaining 3 indices
    val r2 = Runner.runPerIndex(spark, p, "idx", dir)
    assert(r2.nSkipped == 5 && r2.nExecuted == 3 && r2.nTotal == 8)
    assert(led.completedIndices(spark, r2.runId).count() == 8)
  }

  test("progress view: stall detector + throughput; stage-grain heartbeat refresh") {
    val dir = Files.createTempDirectory("graft-progress").toString
    val led = new Ledger(dir)
    val now = System.currentTimeMillis()
    led.recordRunStart(spark, "r", "{}", None, Some(4L))
    led.recordCompleted(spark, "r", Seq(0L, 1L), 1L, 5L, 0L, None, "w_live")
    led.recordWorkerHeartbeat(spark, "r", "w_live", 1L, "h", "inv", None, 2L, now)
    // a claimant that went silent mid-index: holds idx 3, 10 min stale
    led.recordWorkerHeartbeat(spark, "r", "w_stuck", 2L, "h", "inv",
      Some(3L), 0L, now - 600000L)
    val st = led.stalledWorkersDf(spark, "r", 60000L, now).collect()
    assert(st.length == 1 && st.head.getString(0) == "w_stuck" &&
      st.head.getLong(1) == 3L && st.head.getLong(3) >= 600000L)
    // a cleanly-finished worker (NULL current_index) never reads as
    // stalled, no matter how old its last heartbeat
    val stLater = led.stalledWorkersDf(spark, "r", 60000L, now + 3600000L)
      .collect().map(_.getString(0)).toSeq
    assert(stLater == Seq("w_stuck"))
    val pg = led.progressDf(spark, "r", 60000L, now).collect().head
    assert(pg.getAs[Long]("total") == 4 && pg.getAs[Long]("completed") == 2 &&
      pg.getAs[Long]("remaining") == 2 && pg.getAs[Long]("n_workers") == 2)
    assert(pg.getAs[Long]("n_stalled") == 1 &&
      pg.getAs[String]("first_stalled_worker") == "w_stuck")
    assert(pg.getAs[Double]("throughput_per_min") > 0.0 &&
      pg.getAs[Double]("eta_s") >= 0.0)

    // stage-grain refresh: with a zero throttle interval every completed
    // scheduler stage writes a mid-index heartbeat carrying that index
    val dir2 = Files.createTempDirectory("graft-hb").toString
    val p = Pipeline(mkSource(3)).filter(doubleFilter)
    val r = Runner.runPerIndex(spark, p, "idx", dir2,
      heartbeatIntervalMs = 0L)
    val hb = new Ledger(dir2).workers(spark, r.runId)
    // commit-grain alone: 1 registration + 3 commits + 1 final = 5 rows;
    // stage refreshes add at least one per index beyond that
    assert(hb.count() > 5, s"expected stage-grain refreshes, got ${hb.count()}")
    assert(hb.filter(col("current_index").isNotNull).count() > 3)
  }

  test("year-split sink writes (variable, year) partition layout") {
    val s = spark
    import s.implicits._
    val out = Files.createTempDirectory("graft-yr").toString
    val df = Seq(
      ("t2m", "2023-03-01 00:00:00", 1.0),
      ("t2m", "2024-07-01 00:00:00", 2.0),
      ("u10", "2023-05-01 00:00:00", 3.0)
    ).toDF("variable", "ts", "value")
      .withColumn("ts", to_timestamp(col("ts")))
    Sinks.byVariableYear(df, s"$out/nc", "variable", "ts")
    val dirs = new java.io.File(s"$out/nc").listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("variable=t2m", "variable=u10"))
    val years = new java.io.File(s"$out/nc/variable=t2m").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(years == Set("year=2023", "year=2024"))
  }

  test("AdaptiveWidth: rows-derived, floored at min(4, session), capped at session") {
    import graft.core.AdaptiveWidth
    val s = spark
    val old = s.conf.get("spark.sql.shuffle.partitions")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "32")
      // small loop state: the min(4, session) floor governs
      assert(AdaptiveWidth.forRows(s, 10000L) === 4)
      // size governs between floor and cap: 16M rows / 2M = 8
      assert(AdaptiveWidth.forRows(s, 16000000L) === 8)
      // huge state: capped by the session's configured parallelism
      assert(AdaptiveWidth.forRows(s, Long.MaxValue / 4) === 32)
      // the rows-per-partition knob rescales the derivation
      s.conf.set(AdaptiveWidth.RowsPerPartitionKey, "1000")
      assert(AdaptiveWidth.forRows(s, 6000L) === 6)
      // scaled() restores the session value even on failure
      intercept[RuntimeException] {
        AdaptiveWidth.scaled(s, 10L) { throw new RuntimeException("x") }
      }
      assert(s.conf.get("spark.sql.shuffle.partitions") === "32")
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", old)
      s.conf.unset(AdaptiveWidth.RowsPerPartitionKey)
    }
  }

  test("GraftSession.local(3): master local[3], 3 shuffle partitions, UTC, no UI") {
    // Probed in a fresh JVM on a non-UTC host zone, since this JVM's
    // session already exists.
    import scala.jdk.CollectionConverters._
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m",
      "-Duser.timezone=America/Los_Angeles") ++ opens ++
      Seq("-cp", sys.props("java.class.path"),
        GraftSessionProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd: _*)
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() === 0)
    assert(out.linesIterator.toSeq.last === "local[3] 3 UTC false")
  }

  test("query registry: 243 distinct q_ names, non-blank oracles, no empty family") {
    val all = SparkEntry.families.flatMap(_.queries)
    assert(all.size === 243 && SparkEntry.registry.size === 243)
    assert(all.map(_.name).distinct.size === all.size)
    all.foreach(q => assert(q.name.matches("q_[a-z0-9_]+"), q.name))
    all.foreach(q => assert(q.oracle.trim.nonEmpty, q.name))
    SparkEntry.families.foreach(f => assert(f.queries.nonEmpty, f.name))
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    val run: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException](Q.index(Seq(
      new Q("q_a", "f", run, "SELECT 1"),
      new Q("q_b", "f", run, "SELECT 2"),
      new Q("q_a", "g", run, "SELECT 3"))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
  }

  test("oracle_sql.json escaping round-trips every oracle and control chars") {
    val sql = SparkEntry.oracleSql + ("q_ctrl" -> "a\tb\r\nc\u0001\"d\\e")
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
    import scala.jdk.CollectionConverters._
    assert(parsed.asScala.toMap === sql)
  }

  test("Bench compact line stays under 1,500 chars with all 243 queries failed") {
    val names = SparkEntry.registry.keys.toSeq.sorted
    val fams = SparkEntry.families.map(f => f.name -> 123456.789012345)
    val line = Bench.compactLine(0.0, names.size, names, fams, loaded = true,
      cpus = 32, reps = 3, sf = "/data/graft/testdata/sf0.1",
      artifact = "/home/user/physicsnemocuratorspark/bench_full_latest.json.loaded.json")
    assert(line.length < 1500, s"${line.length} chars")
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(m.get("n").asInt === 243 && m.get("n_errors").asInt === 243)
    assert(m.get("errors").size === 10 && m.get("families").size === fams.size)
    assert(m.get("artifact").asText.endsWith(".loaded.json"))
  }
}

/** Prints the policy a fresh `GraftSession.local(3)` reports: master,
  * shuffle partitions, session time zone, and whether a UI is bound.
  */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local(3)
    try println(Seq(s.sparkContext.master, s.conf.get("spark.sql.shuffle.partitions"),
      s.conf.get("spark.sql.session.timeZone"), s.sparkContext.uiWebUrl.nonEmpty)
      .mkString(" "))
    finally s.stop()
  }
}
