package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Half-open [start, end) intervals in nanoseconds. */
object Intervals {
  type I = (Long, Long)

  /** Sorted, non-overlapping union of the non-empty intervals. */
  def union(xs: Iterable[I]): Seq[I] = {
    val out = mutable.ArrayBuffer[I]()
    xs.filter(i => i._2 > i._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(xs: Iterable[I]): Long = union(xs).map(i => i._2 - i._1).sum

  /** `a` minus the union of `bs`. */
  def minus(a: I, bs: Iterable[I]): Seq[I] = {
    var cur = a._1
    val out = mutable.ArrayBuffer[I]()
    union(bs.map(b => (math.max(b._1, a._1), math.min(b._2, a._2)))).foreach { case (s, e) =>
      if (s > cur) out += ((cur, s))
      cur = math.max(cur, e)
    }
    if (a._2 > cur) out += ((cur, a._2))
    out.toSeq
  }

  /** Length of the intersection of two interval sets. */
  def overlap(as: Iterable[I], bs: Iterable[I]): Long = {
    val ub = union(bs)
    union(as).map { a =>
      ub.map(b => math.max(0L, math.min(a._2, b._2) - math.max(a._1, b._1))).sum
    }.sum
  }
}

/** One traced call: `layer` is the module the call enters. */
final case class Span(
    id: Long, name: String, layer: String, parent: Long,
    start: Long, end: Long, runId: String, rowsOut: Long)

object Span {
  /** Self time of every span: its duration minus the MERGED intervals of
    * its children (children that overlap each other count once). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - Intervals.length(covered))
    }.toMap
  }

  /** The parts of a span's interval its children do not cover. */
  def selfIntervals(s: Span, spans: Seq[Span]): Seq[Intervals.I] =
    Intervals.minus((s.start, s.end), spans.filter(_.parent == s.id).map(c => (c.start, c.end)))
}

/** What the listener saw for the jobs of one span. */
final class Acc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillDisk = 0L
  var readBytes = 0L
  var readRows = 0L
  var writeBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[Intervals.I]()
}

/** Span recorder plus the Spark listeners that attribute executor work
  * to the innermost open span.
  *
  * Attribution rides the job group: entering a span sets the calling
  * thread's job group to the span id, so every job Spark submits for it —
  * also from pool threads that inherit the caller's local properties —
  * carries the id to the [[SparkListener]]. Planning time comes from a
  * [[QueryExecutionListener]], codegen from Spark's codegen log lines.
  *
  * When disabled, [[span]] and [[frame]] only run their bodies, so the
  * untraced run executes exactly the calls a user would make. When
  * enabled, [[frame]] materialises each lazy output at its span boundary
  * (a local checkpoint at a serialized level the engine never uses, so
  * its blocks are told apart from the engine's own), which puts the work
  * in the span that defined it; the cost is reported as the tracing
  * overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Long, String, String, Long)]() // id, name, layer, start
  private var nextId = 1L
  private var runId = ""
  private val held = mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
  /** Millisecond wall clock of nanoTime 0, for listener timestamps. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  val MarkLevel: StorageLevel = StorageLevel(true, true, false, false, 1)

  // ------------------------------------------------------------ listener
  val accs = mutable.Map[Long, Acc]()
  private val jobSpan = mutable.Map[Int, Long]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val stageSubmit = mutable.Map[Int, Long]()
  /** Per stage: (tasks, summed run ms, max run ms). */
  val stageTasks = mutable.Map[(Int, Int), (Long, Long, Long)]()
  val engineBlocks = mutable.Set[String]()
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var executions = 0L
  var compileMs = 0.0
  var compiles = 0L

  private def acc(span: Long): Acc = accs.getOrElseUpdate(span, new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = g.filter(_.startsWith("pb-")).map(_.drop(3).toLong).getOrElse(0L)
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = span)
      acc(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.get(e.jobId).foreach { span =>
        val s = (jobStart(e.jobId) - epochOffsetMs) * 1000000L
        acc(span).jobIntervals += ((s, (e.time - epochOffsetMs) * 1000000L))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageSubmit(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(stageSpan.getOrElse(e.stageId, 0L))
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.taskFailures += 1
      val info = e.taskInfo
      a.taskWaitMs += math.max(0L, info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime))
      val m = e.taskMetrics
      if (m != null) {
        a.taskNs += m.executorRunTime * 1000000L
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled
        a.readBytes += m.inputMetrics.bytesRead
        a.readRows += m.inputMetrics.recordsRead
        a.writeBytes += m.outputMetrics.bytesWritten
        val k = (e.stageId, e.stageAttemptId)
        val (n, sum, mx) = stageTasks.getOrElse(k, (0L, 0L, 0L))
        stageTasks(k) = (n + 1, sum + m.executorRunTime, math.max(mx, m.executorRunTime))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid && b.storageLevel.deserialized)
        engineBlocks += b.blockId.name
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordPlan(qe)
  }

  /** Add one execution's planning phases (the listener calls this for
    * actions; callers add executions that bypass Dataset actions). */
  def recordPlan(qe: QueryExecution): Unit = Tracer.this.synchronized {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    executions += 1
  }

  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CodegenLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private lazy val codegenAppender = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val app = new AbstractAppender("pipebench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
        case CodegenLine(ms) => Tracer.this.synchronized { compileMs += ms.toDouble; compiles += 1 }
        case _ =>
      }
    }
    app.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = new LoggerConfig(codegenLogger, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(app, org.apache.logging.log4j.Level.INFO, null)
    ctx.getConfiguration.addLogger(codegenLogger, lc)
    ctx.updateLoggers()
    app
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    codegenAppender
  }

  def close(): Unit = if (enabled) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Drain the listener bus so every event of finished jobs is counted. */
  def settle(): Unit = if (enabled) org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)

  // --------------------------------------------------------------- spans
  private def setGroup(): Unit =
    if (stack.isEmpty) sc.clearJobGroup()
    else sc.setJobGroup(s"pb-${stack.top._1}", stack.top._2, interruptOnCancel = false)

  private def open(name: String, layer: String): Unit = {
    stack.push((nextId, name, layer, System.nanoTime()))
    nextId += 1
    setGroup()
  }

  private def finish(rows: Long): Unit = {
    val (id, name, layer, start) = stack.pop()
    val parent = if (stack.isEmpty) 0L else stack.top._1
    spans += Span(id, name, layer, parent, start, System.nanoTime(), runId, rows)
    setGroup()
  }

  /** Run one unit of work as the root span `run` of a new run id. */
  def root[A](id: String)(body: => A): A =
    if (!enabled) body
    else {
      runId = id
      open("run", "run")
      try body finally finish(-1L)
    }

  /** Record a span around a call into `layer`. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      open(name, layer)
      try body finally finish(-1L)
    }

  /** A span whose lazy output is materialised at the boundary. */
  def frame(name: String, layer: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      open(name, layer)
      var rows = -1L
      try {
        val (df, n) = materialize(body)
        rows = n
        df
      } finally finish(rows)
    }

  /** Checkpoint and count `df` when tracing; returns it with its row
    * count (-1 when disabled). */
  def materialize(df: DataFrame): (DataFrame, Long) =
    if (!enabled) (df, -1L)
    else { val c = barrier(df); (c, c.count()) }

  /** Checkpoint `df` in every mode: a stage boundary of the workload
    * itself, released with the traced frames by [[release]]. A local
    * checkpoint rather than a cache, so later plans see a leaf instead of
    * nesting the whole cached plan. */
  def barrier(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true, storageLevel = MarkLevel)
    c.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(held += _)
    c
  }

  /** Release every checkpoint taken by [[barrier]] (outside any span). */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  /** Blocks of engine-persisted RDDs (not this tracer's) currently held. */
  def engineBlocksHeld(): (Long, Long) = {
    val infos = sc.getRDDStorageInfo.filter(_.storageLevel.deserialized)
    (infos.map(_.numCachedPartitions.toLong).sum, infos.map(i => i.memSize + i.diskSize).sum)
  }

  def reset(): Unit = Tracer.this.synchronized {
    spans.clear(); accs.clear(); jobSpan.clear(); jobStart.clear()
    stageSpan.clear(); stageSubmit.clear(); stageTasks.clear(); engineBlocks.clear()
    analysisMs = 0; optimizationMs = 0; planningMs = 0; executions = 0
    compileMs = 0; compiles = 0
  }
}
