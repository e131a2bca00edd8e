package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one pass of a workload reports. `unitS` holds the wall of each
  * closed-loop unit (an index, a query, a micro-batch; the whole pass for
  * the batch workload); `failures` holds one line per output that did not
  * match its independent check; `counts` holds workload counters for the
  * artifact.
  */
final case class PassResult(wallS: Double, items: Long, unitS: Seq[Double],
                            resumeS: Double, attempted: Long,
                            failures: Seq[String],
                            counts: Map[String, Double] = Map.empty)

/** A workload: inputs made once from the seed, then any number of passes,
  * each in a fresh directory, each checked before it returns.
  */
trait Workload {
  /** Input size and why the workload exists, for the artifact. */
  def describe: Map[String, String]
  /** One pass; without `full` only its timed part runs, over one unit of
    * each closed loop (no resume, no checks): the warm-up.
    */
  def pass(tr: Tracer, dir: String, full: Boolean): PassResult
}

trait WorkloadFactory {
  val name: String
  /** Write the inputs under `dir` and return the workload over them. */
  def generate(spark: SparkSession, dir: String, seed: Long): Workload
}

/** Benchmark driver, one workload per JVM.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cpus <n> --work <dir> --out <file>`
  *
  * Set-up (session start, the seeded input generation, the timed part of
  * one warm-up pass) is timed apart from the measured passes, which repeat
  * until `--seconds` have passed and are each checked. With `--trace 1` the
  * first half of the time runs untraced and the second half traced, so the
  * artifact carries both pass walls and their difference
  * (`trace.overhead_s`).
  */
object Main {
  val Workloads: Seq[WorkloadFactory] = Seq(TextCurate, MeshPerIndex)

  private val MinPasses = 1

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def arg(k: String): String =
      args.getOrElse(k, sys.error(s"missing --$k"))
    val factory = Workloads.find(_.name == arg("workload"))
      .getOrElse(sys.error(s"unknown workload ${arg("workload")}"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cpus = arg("cpus").toInt
    val work = new File(arg("work")).getAbsoluteFile
    val out = new File(arg("out"))
    val available = Runtime.getRuntime.availableProcessors()
    require(cpus >= 1 && cpus <= available,
      s"local[$cpus] exceeds the $available available cores")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${factory.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count() // the first job's one-time cost belongs to the session
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val artifact = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var describe = Map.empty[String, String]
    try {
      // --- set-up: inputs, then one warm-up pass
      val tg = System.nanoTime()
      val workload = factory.generate(spark, new File(work, "input").getPath, seed)
      val genS = (System.nanoTime() - tg) / 1e9
      describe = workload.describe

      val counters = new Counters
      val untraced = new Tracer(spark, enabled = false)
      def runPass(tr: Tracer, n: Int, full: Boolean = true): PassResult = {
        tr.pass = n
        val dir = new File(work, s"pass$n")
        try {
          val r = workload.pass(tr, dir.getPath, full)
          attempted += r.attempted
          failures ++= r.failures.map(f => s"pass $n: $f")
          r
        } finally { tr.release(); rmrf(dir) }
      }
      val tw = System.nanoTime()
      runPass(untraced, 0, full = false)
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + genS + warmS

      // --- measured passes
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1e9
      val plain = mutable.ArrayBuffer.empty[PassResult]
      val budget = if (trace) seconds / 2 else seconds
      while (plain.size < MinPasses || elapsed < budget)
        plain += runPass(untraced, plain.size + 1)

      val e2e = endToEnd(plain.toSeq, setupS)
      artifact("end_to_end") = e2e
      artifact("setup") = Map("session_s" -> sessionS, "gen_s" -> genS,
        "warmup_s" -> warmS)
      artifact("passes") = plain.map(p => Map("wall_s" -> p.wallS,
        "resume_s" -> p.resumeS, "unit_s" -> p.unitS, "counts" -> p.counts)).toSeq

      if (trace) {
        val traced = new Tracer(spark, enabled = true)
        spark.sparkContext.addSparkListener(counters)
        spark.listenerManager.register(counters)
        val passes = mutable.ArrayBuffer.empty[(PassResult, PlanDelta)]
        val t1 = System.nanoTime()
        while (passes.size < MinPasses || (System.nanoTime() - t1) / 1e9 < seconds / 2) {
          counters.quiesce()
          val before = planSnapshot(counters)
          val r = runPass(traced, 1000 + passes.size)
          counters.quiesce()
          passes += ((r, planSnapshot(counters) - before))
        }
        spark.sparkContext.removeSparkListener(counters)
        spark.listenerManager.unregister(counters)
        val layers = Layers.summarize(traced.spans, counters.jobs,
          passes.toSeq, e2e("pass_s"))
        artifact("per_layer") = layers.line
        artifact("layers") = layers.detail
        artifact("spans") = layers.spanTable
      }
    } catch {
      case e: Throwable =>
        failures += s"workload threw: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      artifact("attempted") = math.max(attempted, 1L)
      artifact("failed") = failures.size.toLong
      artifact("failures") = failures.take(50).toSeq
      artifact("workload") = describe
      artifact("peak_rss_mb") = peakRssMb()
      Files.write(out.toPath, Json.render(artifact).getBytes(UTF_8))
      spark.stop()
    }
  }

  /** Cumulative planning and codegen counters. */
  private def planSnapshot(c: Counters): PlanDelta = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    PlanDelta(c.actionCount, c.planSeconds, h.getCount, h.getSnapshot.getMean / 1e3)
  }

  private def endToEnd(ps: Seq[PassResult], setupS: Double): Map[String, Double] = {
    val units = ps.flatMap(_.unitS)
    val passS = median(ps.map(_.wallS))
    Map(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "items_per_s" -> ps.map(_.items).sum / ps.map(_.wallS).sum,
      "unit_s_p50" -> percentile(units, 0.5),
      "resume_s" -> median(ps.map(_.resumeS)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Double.NaN
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Total size and count of the files under `dir`. */
  def dirStats(dir: File): (Long, Long) =
    if (!dir.exists()) (0L, 0L)
    else if (dir.isFile) (1L, dir.length())
    else Option(dir.listFiles()).toSeq.flatten.map(dirStats)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
