package graft
import graft.core.GraftSession

/** Benchmark main: per-query wall times at SPARK_GRAFT_SF_DIR. The full
  * JSON line (medians and per-rep `times`) goes to an artifact file; the
  * last stdout line is a compact summary that names it. Queries run in
  * sorted name order (stable across rounds for the driver's BENCH_r{N}
  * comparison) and the cache is cleared between queries so persisted
  * subplans from one query can't skew the next.
  *
  * Each query runs SPARK_GRAFT_REPS times (default 3) and reports the
  * median, so one loaded run on a shared VM can't fail the 2× gate. A query
  * that throws is recorded as -1 with its name in "errors" (never its
  * time-to-failure as a wall time) and is not retried.
  *
  * SPARK_GRAFT_QUERIES (comma-separated names, optional) restricts the run
  * to the named queries, so a single suspicious timing can be re-measured
  * without paying for the whole suite; unknown names are reported on
  * stderr.
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

    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_QUERIES"), "bench")
    var failed = List.empty[String]
    // raw per-rep walls — the noise-triage channel: a flagged median is
    // adjudicated from its own rep spread (scheduling noise reads as a wide
    // spread around a stable floor; a code regression moves the floor)
    var repTimes = List.empty[(String, Seq[Double])]
    val results = selected.map { q =>
      val name = q.name
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var ok = true
      var i = 0
      while (ok && i < reps) {
        val t0 = System.nanoTime()
        try {
          q.run(spark, sfDir).count()
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
      repTimes ::= ((name, times.toSeq))
      q -> med
    }
    val qs = results.map { case (q, v) => s"\"" + q.name + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadEnd = loadavg1m()
    // "loaded" judges only the STARTING load: by the end of a full suite the
    // 1-minute average reflects this benchmark's own 32 busy cores, which is
    // expected, not contention.
    val loaded = loadStart > LoadedThreshold
    val timesJson = repTimes.reverse.map { case (n, ts) =>
      s""""$n":[${ts.mkString(",")}]"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir","cpus":${cpusNum.getOrElse(-1)},"cpus_master":"$cpus","cpus_available":$cpusAvailable,"reps":$reps,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"loaded":$loaded,"times":$timesJson}"""
    // The full line goes to a file only: the driver keeps a truncated tail
    // of stdout, so stdout gets the compact line below, which names it.
    // A partial run (SPARK_GRAFT_QUERIES) writes bench_last.json, so a
    // one-query re-measure never masquerades as a full suite.
    val full = selected.size == SparkEntry.registry.size
    val outPath =
      if (full) sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
      else "bench_last.json"
    val p = java.nio.file.Paths.get(outPath)
    // Quiet-machine rule, machine-enforced: a loaded run must not replace
    // a quiet artifact — it lands beside it as <name>.loaded.json so the
    // numbers are still recorded but can never be mistaken for the
    // engine's quiet-machine medians.
    val dest =
      if (full && loaded && java.nio.file.Files.exists(p) &&
          !new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            .contains("\"loaded\":true")) {
        System.err.println(s"[bench] loadavg_start $loadStart > $LoadedThreshold: " +
          s"keeping quiet artifact $outPath, writing $outPath.loaded.json")
        java.nio.file.Paths.get(outPath + ".loaded.json")
      } else p
    java.nio.file.Files.write(dest, (line + "\n").getBytes("UTF-8"))
    val families = results.groupBy(_._1.family).toSeq.sortBy(_._1)
      .map { case (f, rs) => f -> rs.map(_._2).filter(_ >= 0).sum }
    spark.stop()
    println(compactLine(total, results.size, failed.sorted, families, loaded,
      cpusNum.getOrElse(-1), reps, sfDir, dest.toAbsolutePath.toString))
  }

  /** The one stdout line the driver parses: the suite total, counts, the
    * first errors, per-family totals and the run stamp, plus the path of
    * the artifact that holds the full line. At most 10 error names are
    * listed, so the line stays well under the driver's 2,000-character
    * stdout tail whatever the number of queries.
    */
  def compactLine(total: Double, n: Int, errors: Seq[String],
      families: Seq[(String, Double)], loaded: Boolean, cpus: Int, reps: Int,
      sf: String, artifact: String): String = {
    def str(s: String) = Verify.jsonString(s)
    val errs = errors.take(10).map(str).mkString("[", ",", "]")
    val fams = families.map { case (f, t) => s"${str(f)}:$t" }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","n":$n,""" +
      s""""n_errors":${errors.size},"errors":$errs,"families":$fams,""" +
      s""""loaded":$loaded,"cpus":$cpus,"reps":$reps,"sf":${str(sf)},""" +
      s""""artifact":${str(artifact)}}"""
  }
}
