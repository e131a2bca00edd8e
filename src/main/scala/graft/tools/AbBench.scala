package graft.tools

/** A/B bench adjudication pipeline as ONE tool (VERDICT r15 item 6): the
  * credible protocol that took round 15's 1.21× suite-total scare down to
  * parity — previously BASELINE.md prose plus manual shell work — now a
  * single run emitting a single artifact.
  *
  * Protocol (the bench-noise findings, machine-encoded):
  *  1. SUITE PASSES IN BOTH ORDERS — `graft.Bench` as a plain quiet
  *     `java` child (never sbt: its compile burst inflates loadavg and
  *     falsely marks artifacts loaded), per-rep walls read from the
  *     artifact each child names, order A,B then B,A. Single-pass totals on a
  *     shared box are a weak instrument (identical-code wobble ±12%,
  *     single queries up to 4×) — so nothing is concluded from them.
  *  2. PER-QUERY BEST-OF FLOORS across every rep of every pass: noise is
  *     a wide spread over a stable floor; a code regression MOVES the
  *     floor. Ratio = floorB / floorA.
  *  3. SURVIVOR PROBES — queries whose floor ratio exceeds the threshold
  *     (and whose floor is big enough to matter) get alternating-
  *     classpath single-query probes (reps ≥ 5, interleaved A/B/A/B), the
  *     instrument that actually separates code factor from scheduling.
  *
  * Verdict per survivor: `code_regression` iff the PROBE floor ratio
  * still exceeds the threshold; otherwise `noise`. The artifact carries
  * floors for every query, suite metadata (loadavg, cpus), survivor
  * probe traces, and the final verdict list.
  *
  * Usage: `runMain graft.tools.AbBench <classesA> <classesB> [sfDir]
  * [ratioThreshold] [minFloorSec] [suiteReps] [probeReps]`
  * `classesA/B` are compiled-classes dirs (e.g. the current build and a
  * worktree build of the old commit). Writes `abbench_latest.json`.
  */
object AbBench {

  private def loadavg1m(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Spark jars dir: a classpath entry's parent qualifies only if it
    * holds the FULL distribution (spark-core present too — sbt's
    * bg-jobs staging copies single jars into one-jar dirs, which must
    * not win); else the conventional /opt/spark/jars.
    */
  private def sparkJars(): String =
    sys.props("java.class.path").split(java.io.File.pathSeparator)
      .find(_.matches(".*/spark-sql_[^/]*\\.jar"))
      .map(p => new java.io.File(p).getParentFile)
      .filter(d => Option(d.list()).exists(
        _.exists(_.matches("spark-core_[^/]*\\.jar"))))
      .map(_.getPath)
      .getOrElse("/opt/spark/jars")

  private def runBench(classes: String, sfDir: String, reps: Int,
                       queries: Option[String], cpus: Int): String = {
    // the Spark distribution ships the Scala library too
    val cp = s"$classes:${sparkJars()}/*"
    val cmd = new java.util.ArrayList[String]()
    Seq("java", "-Xmx16g", "-cp", cp, "graft.Bench").foreach(cmd.add)
    if (sys.env.contains("GRAFT_ABBENCH_DEBUG"))
      System.err.println(s"[abbench] child cp: $cp")
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_REPS", reps.toString)
    pb.environment().put("SPARK_GRAFT_CPUS", cpus.toString)
    // child must not clobber this repo's standing quiet artifact
    pb.environment().put("SPARK_GRAFT_BENCH_OUT",
      java.nio.file.Files.createTempFile("abbench_child", ".json").toString)
    queries.foreach(pb.environment().put("SPARK_GRAFT_QUERIES", _))
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val outReader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    // keep the tail of the child's stderr so a failure is diagnosable
    // from the orchestrator's own error
    val errTail = new java.util.concurrent.ConcurrentLinkedDeque[String]()
    val errDrain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getErrorStream))
      var l: String = null
      while ({ l = r.readLine(); l != null }) {
        errTail.addLast(l)
        while (errTail.size > 15) errTail.pollFirst()
      }
    })
    errDrain.setDaemon(true); errDrain.start()
    var line: String = null
    var compact: String = null
    while ({ line = outReader.readLine(); line != null })
      if (line.contains("\"metric\":\"total\"")) compact = line
    val code = proc.waitFor()
    errDrain.join(2000)
    require(code == 0 && compact != null,
      s"bench child on $classes exited $code (json ${compact != null}); " +
        s"stderr tail:\n${errTail.toArray.mkString("\n")}")
    // the compact stdout line names the artifact holding the full line
    val artifact = "\"artifact\":\"([^\"]+)\"".r.findFirstMatchIn(compact)
      .getOrElse(sys.error(s"bench child named no artifact: $compact")).group(1)
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(artifact)), "UTF-8")
  }

  /** Pull per-rep walls per query out of a full Bench line (its "times"
    * object: `"name":[t1,t2,...]`). No JSON library in scope — the shape
    * is regular and self-emitted.
    */
  private def repTimes(json: String): Map[String, Seq[Double]] = {
    val start = json.indexOf("\"times\":{")
    require(start >= 0, "bench artifact has no times object")
    val body = json.substring(start + 9, json.indexOf("}", start))
    val re = "\"([^\"]+)\":\\[([^\\]]*)\\]".r
    re.findAllMatchIn(body).map { m =>
      m.group(1) -> m.group(2).split(",").filter(_.nonEmpty)
        .map(_.toDouble).toSeq
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AbBench <classesA> <classesB> [sfDir] [ratioThreshold] " +
        "[minFloorSec] [suiteReps] [probeReps]")
    val Seq(cpA, cpB) = args.take(2).toSeq
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
    val threshold = args.lift(3).map(_.toDouble).getOrElse(1.3)
    val minFloor = args.lift(4).map(_.toDouble).getOrElse(0.15)
    val suiteReps = args.lift(5).map(_.toInt).getOrElse(3)
    val probeReps = args.lift(6).map(_.toInt).getOrElse(5)
    // optional comma list restricting the suite phase — family-scoped
    // A/B runs (and cheap mechanics smokes) without paying the full suite
    val onlyQueries = args.lift(7).filter(_.nonEmpty)
    val cpus = math.min(16, Runtime.getRuntime.availableProcessors())

    val load0 = loadavg1m()
    if (load0 > 1.0)
      System.err.println(s"[abbench] WARNING: loadavg $load0 > 1.0 at " +
        "start — floors are still the right instrument, but prefer a " +
        "quiet box")

    // phase 1: suite passes in both orders
    def floors(cp: String, passes: Seq[String]): Map[String, Double] =
      passes.flatMap(repTimes(_).toSeq)
        .groupBy(_._1)
        .map { case (q, rs) => q -> rs.flatMap(_._2).min }
    System.err.println("[abbench] suite pass 1 (A then B)")
    val p1a = runBench(cpA, sfDir, suiteReps, onlyQueries, cpus)
    val p1b = runBench(cpB, sfDir, suiteReps, onlyQueries, cpus)
    System.err.println("[abbench] suite pass 2 (B then A)")
    val p2b = runBench(cpB, sfDir, suiteReps, onlyQueries, cpus)
    val p2a = runBench(cpA, sfDir, suiteReps, onlyQueries, cpus)
    val fA = floors(cpA, Seq(p1a, p2a))
    val fB = floors(cpB, Seq(p1b, p2b))
    val shared = (fA.keySet & fB.keySet).toSeq.sorted
    val ratios = shared.map(q => q -> fB(q) / math.max(fA(q), 1e-9)).toMap

    // phase 2: alternating-classpath probes for floor-ratio survivors
    val survivors = shared.filter(q =>
      ratios(q) > threshold && fB(q) >= minFloor)
    System.err.println(s"[abbench] ${survivors.size} survivors: " +
      survivors.mkString(", "))
    val probeRows = survivors.map { q =>
      // A/B/A/B interleave, each a fresh JVM — scheduling decorrelates
      val pa = scala.collection.mutable.ArrayBuffer.empty[Double]
      val pb2 = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until 2).foreach { _ =>
        pa ++= repTimes(runBench(cpA, sfDir, probeReps, Some(q), cpus))
          .getOrElse(q, Seq.empty)
        pb2 ++= repTimes(runBench(cpB, sfDir, probeReps, Some(q), cpus))
          .getOrElse(q, Seq.empty)
      }
      val pr = pb2.min / math.max(pa.min, 1e-9)
      val verdict = if (pr > threshold) "code_regression" else "noise"
      System.err.println(f"[abbench] $q: suite-floor ${ratios(q)}%.2f, " +
        f"probe-floor $pr%.2f -> $verdict")
      s"""{"query":"$q","suite_floor_ratio":${f"${ratios(q)}%.4f"},""" +
        s""""probe_floor_ratio":${f"$pr%.4f"},""" +
        s""""probe_a":[${pa.mkString(",")}],""" +
        s""""probe_b":[${pb2.mkString(",")}],"verdict":"$verdict"}"""
    }
    val regressions = probeRows.count(_.contains("code_regression"))

    val floorJson = shared.map(q =>
      s""""$q":{"a":${fA(q)},"b":${fB(q)},"ratio":${f"${ratios(q)}%.4f"}}""")
      .mkString("{", ",", "}")
    val sumA = shared.map(fA).sum
    val sumB = shared.map(fB).sum
    val line = s"""{"tool":"ab_bench","sf_dir":"$sfDir","cpus":$cpus,""" +
      s""""threshold":$threshold,"min_floor_sec":$minFloor,""" +
      s""""suite_reps":$suiteReps,"probe_reps":$probeReps,""" +
      s""""loadavg_start":$load0,"loadavg_end":${loadavg1m()},""" +
      s""""n_queries":${shared.size},""" +
      s""""floor_sum_a":${f"$sumA%.2f"},"floor_sum_b":${f"$sumB%.2f"},""" +
      s""""floor_sum_ratio":${f"${sumB / sumA}%.4f"},""" +
      s""""survivors":[${probeRows.mkString(",")}],""" +
      s""""code_regressions":$regressions,""" +
      s""""floors":$floorJson}"""
    println(line)
    java.nio.file.Files.write(java.nio.file.Paths.get("abbench_latest.json"),
      (line + "\n").getBytes("UTF-8"))
  }
}
