package graftbench

/** Per-layer metrics of one traced unit, from its spans and the
  * listener's per-span accumulators. Layer names are the engine's module
  * names. The `<layer>.self_s` metrics and `trace.unattributed_s` (the
  * self time of every span whose layer has no such metric: the unit's
  * root span `run`) together add up to the unit's traced wall time. */
object Layers {
  val TextModules = Seq("TextAnalysis", "Profile", "Dedup", "Curation")

  /** Every per-layer metric, in report order, with its unit. */
  val names: Seq[(String, String)] = Seq(
    "Orchestration.self_s" -> "s",
    "Queries.build_s" -> "s", "Queries.self_s" -> "s", "Queries.expr_p50_s" -> "s",
    "Ops.self_s" -> "s", "Ops.query_p50_s" -> "s", "Qa.query_p50_s" -> "s",
    "Tables.self_s" -> "s", "Sources.self_s" -> "s", "io.read_bytes" -> "bytes", "io.read_rows" -> "count",
    "Pipeline.self_s" -> "s", "Pipeline.run_table_s" -> "s", "Pipeline.cached_bytes" -> "bytes",
    "Pipeline.jobs" -> "count",
    "Qa.self_s" -> "s", "Qa.reject_rows" -> "count",
    "Sinks.self_s" -> "s", "Sinks.write_bytes" -> "bytes", "Sinks.write_files" -> "count", "Sinks.swap_s" -> "s",
  ) ++ TextModules.flatMap(m => Seq(s"$m.self_s" -> "s", s"$m.jobs" -> "count",
    s"$m.shuffle_bytes" -> "bytes", s"$m.rows_out" -> "count")) ++ Seq(
    "Dedup.pair_rows" -> "count", "Dedup.survivor_ratio" -> "ratio", "Dedup.driver_gap_s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.planning_s" -> "s", "plan.executions" -> "count",
    "codegen.compile_s" -> "s", "codegen.compiles" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count", "sched.driver_gap_s" -> "s",
    "sched.task_wait_s" -> "s", "sched.task_failures" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s", "exec.busy_share" -> "ratio",
    "exec.stage_skew_max" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.fetch_wait_s" -> "s",
    "spill.disk_bytes" -> "bytes",
    "storage.checkpoint_blocks" -> "count", "storage.blocks_left" -> "count",
    "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  /** The layers whose self time a `<layer>.self_s` metric reports. */
  val selfLayers: Set[String] = names.map(_._1).collect {
    case n if n.endsWith(".self_s") => n.stripSuffix(".self_s")
  }.toSet

  /** Stages whose tasks ran less than this in total are too small for a
    * meaningful skew ratio. */
  private val SkewMinStageMs = 200L

  def unitMetrics(t: Tracer, cores: Int, wallNs: Long, extras: Map[String, Double]): Map[String, Double] = {
    val spans = t.spans.toSeq
    val self = Span.selfTimes(spans)
    val layerOf = spans.map(s => s.id -> s.layer).toMap
    def accsOf(layer: String): Seq[Acc] =
      t.accs.toSeq.collect { case (id, a) if layerOf.get(id).contains(layer) => a }
    val all = t.accs.values.toSeq
    def selfOf(layer: String): Double =
      spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1e9
    def durOf(name: String): Double =
      spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e9
    def rowsOf(name: String): Double = spans.filter(_.name == name).map(_.rowsOut.toDouble).sum
    /** Self time of `s` during which none of its own jobs ran. */
    def gapNs(s: Span): Long = {
      val selfIv = Span.selfIntervals(s, spans)
      val jobs = t.accs.get(s.id).map(_.jobIntervals.toSeq).getOrElse(Nil)
      Intervals.length(selfIv) - Intervals.overlap(selfIv, jobs)
    }
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    Seq("Orchestration", "Queries", "Ops", "Pipeline", "Tables", "Sources", "Qa", "Sinks")
      .foreach(l => m(s"$l.self_s") = selfOf(l))
    m("Queries.build_s") = durOf("Queries.build")
    m("io.read_bytes") = all.map(_.readBytes).sum.toDouble
    m("io.read_rows") = all.map(_.readRows).sum.toDouble
    m("Pipeline.run_table_s") = durOf("Pipeline.runTable")
    m("Pipeline.jobs") = accsOf("Pipeline").map(_.jobs).sum.toDouble
    m("Sinks.write_bytes") = accsOf("Sinks").map(_.writeBytes).sum.toDouble
    m("Sinks.swap_s") = spans.filter(_.layer == "Sinks").map { s =>
      val ends = t.accs.get(s.id).map(_.jobIntervals.map(_._2)).getOrElse(Nil)
      if (ends.isEmpty) 0L else math.max(0L, s.end - ends.max)
    }.sum / 1e9
    TextModules.foreach { mod =>
      m(s"$mod.self_s") = selfOf(mod)
      m(s"$mod.jobs") = accsOf(mod).map(_.jobs).sum.toDouble
      m(s"$mod.shuffle_bytes") = accsOf(mod).map(_.shuffleWrite).sum.toDouble
      m(s"$mod.rows_out") = spans.filter(_.layer == mod).map(s => math.max(0L, s.rowsOut).toDouble).sum
    }
    m("Dedup.pair_rows") = rowsOf("Dedup.ngramJaccardPairs")
    val into = rowsOf("Dedup.dedupLines")
    m("Dedup.survivor_ratio") = if (into > 0) rowsOf("Dedup.keepClusterSurvivorsBy") / into else 0.0
    m("Dedup.driver_gap_s") = spans.filter(_.layer == "Dedup").map(gapNs).sum / 1e9
    m("plan.analysis_s") = t.analysisMs / 1e3
    m("plan.optimization_s") = t.optimizationMs / 1e3
    m("plan.planning_s") = t.planningMs / 1e3
    m("plan.executions") = t.executions.toDouble
    m("codegen.compile_s") = t.compileMs / 1e3
    m("codegen.compiles") = t.compiles.toDouble
    m("sched.jobs") = all.map(_.jobs).sum.toDouble
    m("sched.stages") = all.map(_.stages).sum.toDouble
    m("sched.tasks") = all.map(_.tasks).sum.toDouble
    m("sched.driver_gap_s") = spans.map(gapNs).sum / 1e9
    m("sched.task_wait_s") = all.map(_.taskWaitMs).sum / 1e3
    m("sched.task_failures") = all.map(_.taskFailures).sum.toDouble
    val taskS = all.map(_.taskNs).sum / 1e9
    m("exec.task_s") = taskS
    m("exec.cpu_s") = all.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") = all.map(_.gcMs).sum / 1e3
    m("exec.busy_share") = taskS / (wallNs / 1e9 * cores)
    m("exec.stage_skew_max") = t.stageTasks.values.collect {
      case (n, sum, mx) if n > 1 && sum >= SkewMinStageMs => mx.toDouble / (sum.toDouble / n)
    }.maxOption.getOrElse(1.0)
    m("shuffle.write_bytes") = all.map(_.shuffleWrite).sum.toDouble
    m("shuffle.read_bytes") = all.map(_.shuffleRead).sum.toDouble
    m("shuffle.fetch_wait_s") = all.map(_.fetchWaitMs).sum / 1e3
    m("spill.disk_bytes") = all.map(_.spillDisk).sum.toDouble
    m("storage.checkpoint_blocks") = t.engineBlocks.size.toDouble
    m("storage.blocks_left") = t.engineBlocksHeld()._1.toDouble
    m("trace.unattributed_s") = spans.filterNot(s => selfLayers(s.layer)).map(s => self(s.id)).sum / 1e9
    (m ++ extras).toMap
  }
}
