package graft.perfbench

/** Per-layer numbers of one traced pass, from the benchmark's spans and
  * the Spark events [[Tracer]] attributed to them. Layers: construct
  * (`SparkEntry.queries` calls), exec (`collect()` or
  * `MapReduceRunner.run`), scan, shuffle, and one block per MapReduce job.
  * Cache, jvm, host and check numbers are per pass and come from
  * [[PerfBench]] directly. */
object Layers {
  private val MB = 1e6

  def of(plan: PerfBench.Plan, tracer: Tracer, spans: Seq[Span],
      items: Seq[PerfBench.ItemRun], loopS: Double): Map[String, Double] = {
    val attr = tracer.attribute(spans)
    val allIntervals = tracer.allTasks.map(t => (t.launchMs, t.finishMs))
    def phase(p: String) = spans.filter(_.phase == p)
    def tasksOf(p: String) = phase(p).flatMap(s => attr((s.item, s.phase)).tasks)
    def jobsOf(p: String) = phase(p).map(s => attr((s.item, s.phase)).jobs).sum
    // time inside the spans with no task of any job running
    def idleS(p: String) = phase(p).map { s =>
      s.sec - Tracer.unionMs(allIntervals, s.startMs, s.endMs) / 1e3
    }.sum

    val constructS = phase("construct").map(_.sec).sum
    val execS = phase("materialize").map(_.sec).sum
    val execTasks = tasksOf("materialize")
    val execTaskS = execTasks.map(_.sec).sum
    val work = tasksOf("construct") ++ execTasks
    val base = Map(
      "construct.s" -> constructS,
      "construct.jobs" -> jobsOf("construct").toDouble,
      "construct.driver_s" -> idleS("construct"),
      "construct.share" -> (if (constructS + execS > 0) constructS / (constructS + execS) else 0.0),
      "construct.eager_items" ->
        phase("construct").count(s => attr((s.item, s.phase)).jobs > 0).toDouble,
      "exec.s" -> execS,
      "exec.jobs" -> jobsOf("materialize").toDouble,
      "exec.stages" -> execTasks.map(_.stageId).distinct.size.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.task_s" -> execTaskS,
      "exec.idle_s" -> idleS("materialize"),
      "exec.core_util" -> (if (execS > 0) execTaskS / (execS * plan.cores) else 0.0),
      "exec.task_skew" -> Tracer.skew(execTasks.groupBy(_.stageId).values.map(_.toSeq)),
      "scan.input_mb" -> work.map(_.inputBytes).sum / MB,
      "scan.records" -> work.map(_.inputRecords).sum.toDouble,
      "shuffle.write_mb" -> work.map(_.shuffleWriteBytes).sum / MB,
      "shuffle.read_mb" -> work.map(_.shuffleReadBytes).sum / MB,
      "shuffle.records" -> work.map(_.shuffleWriteRecords).sum.toDouble,
      "spill.mb" -> work.map(_.diskSpill).sum / MB,
      "check.s" -> items.map(_.checkS).sum,
      "trace.span_coverage" -> (if (loopS > 0) (constructS + execS) / loopS else 0.0))
    base ++ (if (plan.isMr) phase("materialize").flatMap(s => mrJob(s, attr((s.item, s.phase))))
             else Nil)
  }

  /** Per item of one traced pass (kept in `result.json`, not printed): the
    * jobs of its construct and materialize calls, and what their tasks did. */
  def perItem(tracer: Tracer, spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val attr = tracer.attribute(spans)
    val none = Attributed(0, Nil, Map.empty)
    spans.map(_.item).distinct.map { item =>
      val (c, m) = (attr.getOrElse((item, "construct"), none), attr.getOrElse((item, "materialize"), none))
      val tasks = c.tasks ++ m.tasks
      item -> Map(
        "construct_jobs" -> c.jobs.toDouble,
        "exec_jobs" -> m.jobs.toDouble,
        "tasks" -> tasks.size.toDouble,
        "task_s" -> tasks.map(_.sec).sum,
        "scan_records" -> tasks.map(_.inputRecords).sum.toDouble,
        "shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / MB,
        "spill_mb" -> tasks.map(_.diskSpill).sum / MB)
    }.toMap
  }

  /** One MapReduce job: its map stage writes the shuffle, its reduce stage
    * (the last one) reads it and writes the part files. */
  private def mrJob(s: Span, a: Attributed): Seq[(String, Double)] = {
    val byStage = a.stageTasks
    val reduce = if (byStage.isEmpty) -1 else byStage.keys.max
    val mapTasks = byStage.collect { case (st, ts) if st != reduce => ts }.flatten.toSeq
    val redTasks = byStage.getOrElse(reduce, Nil)
    def stageS(st: Iterable[Int]) = st.flatMap(a.stageTimes.get).map { case (b, e) => (e - b) / 1e3 }.sum
    val p = s"mr.${s.item}."
    Seq(
      p + "s" -> s.sec,
      p + "map_task_s" -> mapTasks.map(_.sec).sum,
      p + "reduce_task_s" -> redTasks.map(_.sec).sum,
      p + "map_stage_s" -> stageS(byStage.keys.filter(_ != reduce)),
      p + "reduce_stage_s" -> stageS(Seq(reduce)),
      p + "shuffle_mb" -> mapTasks.map(_.shuffleWriteBytes).sum / MB,
      p + "shuffle_records" -> mapTasks.map(_.shuffleWriteRecords).sum.toDouble,
      p + "reduce_skew" -> Tracer.skew(Seq(redTasks)),
      p + "output_mb" -> redTasks.map(_.outputBytes).sum / MB,
      p + "spill_mb" -> a.tasks.map(_.diskSpill).sum / MB)
  }
}
