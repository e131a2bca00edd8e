package graft
import graft.core.GraftSession

/** Benchmark main: one JSON line with per-query wall times at
  * SPARK_GRAFT_SF_DIR. Queries run in sorted name order (stable across
  * rounds for the driver's BENCH_r{N} comparison) and the cache is cleared
  * between queries so persisted subplans from one query can't skew the next.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and reports the
  * median, so one loaded run on a shared VM can't fail the 2× gate. A query
  * that throws is recorded as -1 with its name in "errors" (never its
  * time-to-failure as a wall time) and is not retried.
  *
  * SPARK_GRAFT_QUERIES (comma-separated names, optional) restricts the run
  * to the named queries, so a single suspicious timing can be re-measured
  * without paying for the whole suite.
  *
  * SPARK_GRAFT_CONF (optional, "key=value,key=value") passes extra Spark
  * confs into the session — e.g. a smaller
  * spark.sql.files.maxPartitionBytes when a scale-up table compresses so
  * well (1000x replicated text dictionary-encodes into a few MB) that the
  * default 128 MB split puts the whole table in one input partition.
  */
object Bench {
  /** 1-minute load average, or -1 where /proc/loadavg doesn't exist.
    * Embedded in every artifact so a reader can adjudicate "slow query or
    * loaded machine?" from the artifact alone instead of re-measuring.
    */
  private def loadavg1m(): Double =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      s.trim.split("\\s+")(0).toDouble
    } catch { case _: Throwable => -1.0 }

  /** A run whose 1-minute loadavg starts above this is marked "loaded":
    * its timings measure the machine, not the engine (BASELINE.md's
    * standing quiet-machine rule, machine-enforced since round 11).
    */
  private val LoadedThreshold = 1.0

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // CPU convention, machine-enforced (the r14 quiet run burned one
    // 32-cpu attempt on a smaller box — loadavg 7.5, artifact discarded):
    // local[n] above the actual core count measures the oversubscription,
    // not the engine. Warn loudly and stamp both numbers in the artifact
    // so every round's class is readable without archaeology.
    val cpusAvailable = Runtime.getRuntime.availableProcessors()
    // `*` and other non-numeric values mean every available core, as
    // local[*] does — the guard and the artifact field must not choke on them
    val cpusNum = scala.util.Try(cpus.toInt).toOption
    if (cpusNum.exists(_ > cpusAvailable))
      System.err.println(s"[bench] WARNING: local[$cpus] exceeds the " +
        s"$cpusAvailable available cores — timings will measure " +
        "oversubscription; rerun with SPARK_GRAFT_CPUS<=" + cpusAvailable)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(
      _.split(",").map(_.trim).filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      })
    val spark = GraftSession.local(cpusNum.getOrElse(cpusAvailable), conf: _*)

    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    var failed = List.empty[String]
    // SPARK_GRAFT_TIMES=1 adds the raw per-rep walls to the JSON — the
    // noise-triage channel: a flagged median is adjudicated from its own
    // rep spread (scheduling noise reads as a wide spread around a stable
    // floor; a code regression moves the floor).
    val emitTimes = sys.env.get("SPARK_GRAFT_TIMES").contains("1")
    var repTimes = List.empty[(String, Seq[Double])]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var ok = true
      var i = 0
      while (ok && i < reps) {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          times += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            ok = false
        }
        spark.catalog.clearCache()
        i += 1
      }
      // Any rep failure marks the query failed — a query that succeeds on
      // rep 1 but OOMs on rep 2 must not report a healthy-looking median.
      val med =
        if (!ok) { failed ::= name; -1.0 }
        else times.sorted.apply(times.size / 2)
      if (emitTimes) repTimes ::= ((name, times.toSeq))
      name -> med
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadEnd = loadavg1m()
    // "loaded" judges only the STARTING load: by the end of a full suite the
    // 1-minute average reflects this benchmark's own 32 busy cores, which is
    // expected, not contention.
    val loaded = loadStart > LoadedThreshold
    val timesJson =
      if (!emitTimes) ""
      else repTimes.reverse.map { case (n, ts) =>
        s""""$n":[${ts.mkString(",")}]"""
      }.mkString(""","times":{""", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","cpus":${cpusNum.getOrElse(-1)},"cpus_master":"$cpus","cpus_available":$cpusAvailable,"reps":$reps,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"loaded":$loaded$timesJson}"""
    println(line)
    // Full per-query artifact on disk: the driver's BENCH_r{N}.json keeps
    // only a truncated tail of stdout, which hides most of the suite from
    // round-over-round comparison — this file carries every median.
    // Skipped for partial runs (SPARK_GRAFT_QUERIES) so a one-query
    // re-measure never masquerades as a full suite.
    if (only.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
      val p = java.nio.file.Paths.get(outPath)
      // Quiet-machine rule, machine-enforced: a loaded run must not replace
      // a quiet artifact — it lands beside it as <name>.loaded.json so the
      // numbers are still recorded but can never be mistaken for the
      // engine's quiet-machine medians.
      val dest =
        if (loaded && java.nio.file.Files.exists(p) &&
            !new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
              .contains("\"loaded\":true")) {
          System.err.println(s"[bench] loadavg_start $loadStart > $LoadedThreshold: " +
            s"keeping quiet artifact $outPath, writing $outPath.loaded.json")
          java.nio.file.Paths.get(outPath + ".loaded.json")
        } else p
      java.nio.file.Files.write(dest, (line + "\n").getBytes("UTF-8"))
    }
    // Driver-parse channel (VERDICT r16 item 2): the one-line JSON printed
    // above is followed by Spark shutdown chatter and sbt's [success]
    // trailer, so a parser that takes the LAST stdout line has returned
    // null since round 10. Mirror the line to a fixed filename at the cwd
    // (repo root under `sbt runMain`) and re-print it after spark.stop()
    // so it is the last line THIS process emits.
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
    println(line)
  }
}
