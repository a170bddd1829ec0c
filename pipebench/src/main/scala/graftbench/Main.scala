package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one benchmark invocation is given. */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    work: String, fixture: String, cores: Int)

/** One workload: inputs it generates, one timed unit of work, and the
  * checks on that unit's outputs. Counts of attempted and failed
  * operations accumulate in `attempted` / `failed`. */
abstract class Workload(val ctx: Ctx) {
  var attempted = 0L
  var failed = 0L
  /** Per-unit values the per-layer report needs from the workload. */
  val extras = mutable.Map[String, Double]()
  /** Human-readable figures printed beside the metrics. */
  val info = mutable.LinkedHashMap[String, Any]()

  /** Write the inputs under the work dir from the seed. */
  def generate(): Unit
  def inputRows: Long
  /** Untimed warm-up, part of the set-up. A batch runs one unit: the
    * first unit in a fresh JVM pays for class loading, JIT and codegen. */
  def warmUp(): Unit = { unit(new Tracer(ctx.spark, enabled = false), -1); checkUnit(-1) }
  /** One unit of work. */
  def unit(t: Tracer, i: Int): Unit
  /** Untimed check of the unit just run. */
  def checkUnit(i: Int): Unit = ()
  /** Untimed checks once the timed units are done. */
  def finalChecks(): Unit = ()
  /** Per-layer latencies the workload measures itself, from traced units. */
  def layerLatencies: Seq[(String, Double)] = Nil

  protected def expect(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[pipebench] CHECK FAILED: $what") }
  }
}

/** Peak heap in use after a collection, over a measured window. */
object HeapWatch {
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: javax.management.NotificationEmitter =>
      em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
      }, null, null)
    case _ =>
  }
  /** Start a window from a collected heap, so garbage left by set-up
    * does not ride into the window's after-collection figures. */
  def reset(): Unit = {
    System.gc()
    synchronized { peak = 0L }
  }
  /** Peak after-collection heap; a final collection closes the window so
    * a window without any collection still reports its live heap. */
  def peakMb(): Double = {
    System.gc()
    Thread.sleep(200)
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val seen: Long = synchronized(peak)
    math.max(seen, now).toDouble / (1024.0 * 1024.0)
  }
}

object Main {
  /** The end-to-end metrics of an untraced run, with their units. */
  val endToEnd: Seq[(String, String)] =
    Seq("setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "rows/s")

  private def arg(args: Array[String], name: String, default: String): String = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else default
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val workload = arg(args, "workload", "")
    val seed = arg(args, "seed", "1").toLong
    val seconds = arg(args, "seconds", "10").toDouble
    val trace = arg(args, "trace", "0") == "1"
    val work = arg(args, "work", "pipebench/.work")
    val out = arg(args, "out", s"$work/result.json")
    val fixture = arg(args, "fixture", "pipebench/data/sf0.01")
    val cores = arg(args, "cores", Runtime.getRuntime.availableProcessors.toString).toInt
    HeapWatch.install()
    Files.createDirectories(Paths.get(work))
    val spark = graft.tools.LocalSession.build(cores.toString)
    val sessionS = secs(entry)
    val ctx = Ctx(spark, seed, seconds, trace, Paths.get(work).toAbsolutePath.toString,
      Paths.get(fixture).toAbsolutePath.toString, cores)
    val wl: Workload = workload match {
      case "wins_stage" => new WinsStage(ctx)
      case "pretrain_recipe" => new PretrainRecipe(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val result =
      try run(wl, sessionS)
      finally spark.stop()
    Files.writeString(Paths.get(out), result)
    System.err.println(f"[pipebench] main: ${secs(entry)}%.2f s")
  }

  /** Set up (inputs generated three times, median kept; an untimed
    * warm-up), then measure warm units for `--seconds` and report
    * their median; with tracing, measure an untraced and a traced half. */
  def run(wl: Workload, sessionS: Double): String = {
    val ctx = wl.ctx
    val genS = (1 to 3).map { _ => val t = System.nanoTime(); wl.generate(); secs(t) }
    val w0 = System.nanoTime()
    wl.warmUp()
    val warmS = secs(w0)
    val setupS = sessionS + Stats.median(genS) + warmS
    System.err.println(f"[pipebench] setup: session $sessionS%.2f s, generate ${genS.mkString(" ")}, warm $warmS%.2f s")
    wl.info ++= Seq("session_s" -> sessionS, "generate_s" -> Stats.median(genS), "warm_s" -> warmS)

    val off = new Tracer(ctx.spark, enabled = false)
    // a phase runs units until `budget` seconds have passed, at least one
    def phase(t: Tracer, budget: Double)(after: Long => Unit): Seq[Double] = {
      val walls = mutable.ArrayBuffer[Double]()
      val start = System.nanoTime()
      var i = 0
      while (walls.isEmpty || secs(start) < budget) {
        if (t.enabled) t.reset()
        val u0 = System.nanoTime()
        t.root(s"unit-$i")(wl.unit(t, i))
        val wallNs = System.nanoTime() - u0
        walls += wallNs / 1e9
        System.err.println(f"[pipebench] unit $i${if (t.enabled) " (traced)" else ""}: ${wallNs / 1e9}%.3f s")
        t.release()
        t.settle()
        after(wallNs)
        wl.checkUnit(i)
        i += 1
      }
      walls.toSeq
    }

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    if (!ctx.trace) {
      HeapWatch.reset()
      val walls = phase(off, ctx.seconds)(_ => ())
      val heap = HeapWatch.peakMb()
      val wall = Stats.median(walls)
      val value = Map("setup_s" -> setupS, "wall_s" -> wall, "rows_per_s" -> wl.inputRows / wall)
      metrics ++= endToEnd.map { case (n, u) => n -> (value(n), u) }
      wl.info ++= Seq("peak_heap_mb" -> heap, "units" -> walls.size,
        "unit_walls_s" -> walls.map(w => f"$w%.4f").mkString(" "))
    } else {
      val untraced = phase(off, ctx.seconds / 2)(_ => ())
      val on = new Tracer(ctx.spark, enabled = true)
      val perUnit = mutable.ArrayBuffer[Map[String, Double]]()
      val allSpans = mutable.ArrayBuffer[Span]()
      val traced = phase(on, ctx.seconds / 2) { wallNs =>
        perUnit += Layers.unitMetrics(on, ctx.cores, wallNs, wl.extras.toMap)
        allSpans ++= on.spans
        wl.extras.clear()
      }
      on.close()
      Layers.names.foreach { case (n, u) =>
        metrics(n) = (Stats.median(perUnit.map(_.getOrElse(n, 0.0)).toSeq), u)
      }
      metrics("trace.overhead_s") = (Stats.median(traced) - Stats.median(untraced), "s")
      wl.layerLatencies.foreach { case (n, v) => metrics(n) = (v, "s") }
      Files.writeString(Paths.get(ctx.work, "spans.json"), Json.spans(allSpans.toSeq))
      wl.info ++= Seq("untraced_wall_s" -> Stats.median(untraced), "traced_wall_s" -> Stats.median(traced),
        "spans_file" -> Paths.get(ctx.work, "spans.json").toString)
    }
    val c0 = System.nanoTime()
    wl.finalChecks()
    System.err.println(f"[pipebench] final checks: ${secs(c0)}%.2f s")
    Json.result(wl.failed == 0, wl.attempted, wl.failed, metrics.toSeq, wl.info.toSeq)
  }
}

/** The regular files under a directory tree. */
object Dirs {
  def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }
  def parquetBytes(dir: String): Long =
    files(dir).filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
  def partFiles(dir: String): Long = files(dir).count(_.getFileName.toString.startsWith("part-")).toLong
  def delete(dir: String): Unit = if (Files.exists(Paths.get(dir))) {
    val s = Files.walk(Paths.get(dir))
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

/** Minimal JSON output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case other => str(String.valueOf(other))
  }
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))], info: Seq[(String, Any)]): String = {
    val ms = metrics.map { case (n, (v, u)) => s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "info": ${value(info.toMap)}}"""
  }
  def spans(xs: Seq[Span]): String = xs.map { s =>
    s"""{"id": ${s.id}, "name": ${str(s.name)}, "layer": ${str(s.layer)}, "parent": ${s.parent}, """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}, "run": ${str(s.runId)}, "rows_out": ${s.rowsOut}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
