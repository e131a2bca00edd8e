package perfbench

/** Planning and codegen counters of one pass (differences of cumulative
  * snapshots). Spark's compile-time histogram keeps no running sum, so
  * compile seconds are estimated as compiles x the mean of its reservoir.
  */
final case class PlanDelta(actions: Long, planS: Double, compiles: Long,
                           compileMeanS: Double) {
  def -(o: PlanDelta): PlanDelta = PlanDelta(actions - o.actions,
    planS - o.planS, compiles - o.compiles, compileMeanS)
  def codegenS: Double = compiles * compileMeanS
}

/** Turns the spans and job records of the traced passes into per-layer
  * metrics. Every value is computed per pass and reported as the median
  * over the traced passes.
  *
  * A pass's window is its `wall` span (the timed part, checks excluded).
  * Jobs are attributed by start time to the pass window, and by the span id
  * the submitting thread carried to the innermost layer call.
  */
object Layers {
  final case class Summary(line: Map[String, Double],
                           detail: Map[String, Double],
                           spanTable: Seq[Map[String, Any]])

  private val IndexGroup = """graft_run_.*_idx_(\d+)""".r

  /** Workload counters reported with the per-layer metrics; a workload
    * without the step reports 0.
    */
  val StepCounters: Seq[String] = Seq(
    "operators.dedup.candidates", "operators.dedup.cc_rounds",
    "operators.dedup.planted_recall",
    "streaming.add_batch_s", "streaming.overhead_s", "streaming.index_bytes",
    "operators.similarity.train_s", "operators.similarity.lists_s",
    "operators.similarity.query_s_p50", "operators.similarity.recall_at_10")

  def summarize(spans: Seq[Span], jobs: Seq[JobRec],
                passes: Seq[(PassResult, PlanDelta)],
                untracedPassS: Double): Summary = {
    val self = Tracer.selfNs(spans)
    val perPass = passes.zipWithIndex.map { case ((r, plan), n) =>
      val pass = 1000 + n
      val ps = spans.filter(_.pass == pass)
      val wall = ps.find(_.name == "wall").getOrElse(
        sys.error(s"pass $pass recorded no wall span"))
      val js = jobs.filter(j => j.startNs >= wall.startNs && j.startNs <= wall.endNs)
      val jobS = Tracer.unionNs(js.map(j => (j.startNs, j.endNs))) / 1e9
      def sumL(f: JobRec => Long) = js.map(f).sum.toDouble

      // per-index overhead: the index's wall minus the union of the jobs the
      // Runner ran under that index's job group
      val idxJobs = js.flatMap(j => j.group match {
        case IndexGroup(i) => Some(i.toLong -> j)
        case _ => None
      }).groupMap(_._1)(_._2)
      val indexSpans = ps.filter(_.name.startsWith("core.runner.index#"))
      val overheads = indexSpans.map { s =>
        val i = s.name.stripPrefix("core.runner.index#").toLong
        val u = Tracer.unionNs(idxJobs.getOrElse(i, Nil).map(j => (j.startNs, j.endNs)))
        (s.durNs - u) / 1e9
      }

      val byName = ps.filterNot(_.name.startsWith("core.runner.index#"))
        .groupBy(_.name)
      val spanMetrics = byName.flatMap { case (name, ss) =>
        val ids = ss.map(_.id).toSet
        val own = js.filter(j => ids(j.span))
        Seq(
          s"$name.self_s" -> ss.map(s => self(s.id)).sum / 1e9,
          s"$name.total_s" -> ss.map(_.durNs).sum / 1e9,
          s"$name.calls" -> ss.size.toDouble,
          s"$name.jobs" -> own.size.toDouble,
          s"$name.tasks" -> own.map(_.tasks).sum.toDouble,
          s"$name.shuffle_bytes" -> own.map(j => j.shuffleWrite + j.shuffleRead).sum.toDouble)
      }
      val wallS = wall.durNs / 1e9
      val units = math.max(1, r.unitS.size)
      val line = Map(
        "spark.plan_s" -> plan.planS,
        "spark.actions" -> plan.actions.toDouble,
        "spark.codegen_s" -> plan.codegenS,
        "spark.codegen_compiles" -> plan.compiles.toDouble,
        "spark.jobs" -> js.size.toDouble,
        "spark.jobs_per_unit" -> js.size.toDouble / units,
        "spark.stages" -> sumL(_.stages),
        "spark.tasks" -> sumL(_.tasks),
        "spark.job_s" -> jobS,
        "spark.task_s" -> sumL(_.taskNs) / 1e9,
        "spark.shuffle_write_bytes" -> sumL(_.shuffleWrite),
        "spark.shuffle_read_bytes" -> sumL(_.shuffleRead),
        "spark.spill_bytes" -> sumL(_.spill),
        "spark.input_bytes" -> sumL(_.input),
        "spark.output_bytes" -> sumL(_.output),
        "driver.residual_s" -> (wallS - jobS),
        "core.ledger.read_s" -> byName.get("core.ledger.read")
          .map(_.map(_.durNs).sum / 1e9).getOrElse(0.0),
        "core.runner.resume_s" -> byName.get("core.runner.resume")
          .map(_.map(_.durNs).sum / 1e9).getOrElse(0.0),
        "core.ledger.files" -> r.counts.getOrElse("core.ledger.files", 0.0),
        "core.ledger.bytes" -> r.counts.getOrElse("core.ledger.bytes", 0.0),
        "trace.pass_s" -> r.wallS,
        "core.runner.index_overhead_s" ->
          (if (overheads.isEmpty) 0.0 else Main.median(overheads))) ++
        StepCounters.map(k => k -> r.counts.getOrElse(k, 0.0))
      val detail = spanMetrics ++ r.counts ++ Map(
        "core.runner.index_overhead_s_p50" -> Main.median(overheads),
        "core.runner.index_overhead_s_p90" -> Main.percentile(overheads, 0.9))
      (line, detail.filterNot(_._2.isNaN))
    }
    def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
      ms.flatMap(_.keys).distinct.map(k =>
        k -> Main.median(ms.flatMap(_.get(k)))).toMap
    val line = medians(perPass.map(_._1))
    val tracedPassS = line("trace.pass_s")
    val lineOut = line + ("trace.overhead_s" -> (tracedPassS - untracedPassS))

    val spanTable = spans.map(s => Map[String, Any]("id" -> s.id,
      "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    Summary(lineOut, medians(perPass.map(_._2)), spanTable)
  }
}
