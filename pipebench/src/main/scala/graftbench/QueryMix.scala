package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** A closed loop with one client, like an analyst waiting for each
  * answer: every unit is one pass over the 44 keys of `Queries.all` (the
  * reference operator surface) over the sf0.01 fixture, in an order the
  * seed shuffles, each key run the way `graft.Bench` runs it
  * (`queryExecution.toRdd.count()`). The untimed warm-up dumps every
  * key's result for the DuckDB oracle comparison. */
final class QueryMix(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark

  private val dir = ctx.fixture
  private val oracleDir = s"${ctx.work}/oracle"
  val keys: Seq[String] = graft.Queries.all.keys.toSeq.sorted

  /** The layer each key exercises: `Tables` scans, the `Ops` row, join
    * and frequency operators (R1-R6, J1-J5, A1-A2, merges), the `Qa`
    * splits (Q1-Q3), and the expression/aggregate/window surface that
    * only the registry itself owns. */
  val group: Map[String, String] = keys.map { k =>
    k -> (
      if (k.startsWith("scan_")) "Tables"
      else if (k.startsWith("qa_")) "Qa"
      else if (Seq("expr_", "agg_", "window_").exists(k.startsWith) ||
        Set("topk", "set_ops", "pivot_status", "unpivot_melt")(k)) "Queries"
      else "Ops")
  }.toMap

  /** (key, seconds, traced) per timed query. */
  val samples = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val runs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var rows = 0L

  /** The input is the fixture itself (the seed only orders the keys), so
    * set-up only reads its row counts from the parquet footers. */
  def generate(): Unit = rows = QueryMix.Tables.map { n =>
    val in = HadoopInputFile.fromPath(new HadoopPath(s"$dir/$n.parquet"), spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }.sum
  def inputRows: Long = rows

  /** Warm-up: a pass that dumps every key's result for the oracle,
    * `ctx.cores` keys at a time, then a pass run as the timed passes run
    * (one after another, each counted): after the dump pass alone the
    * first timed pass ran 10-50% slower than the passes after it, over
    * all keys alike. */
  override def warmUp(): Unit = {
    Dirs.delete(oracleDir)
    Par.run(keys.map(k => () =>
      graft.Queries.all(k)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$k")),
      ctx.cores)
    unit(new Tracer(spark, enabled = false), -1)
    samples.clear()
    Files.writeString(Paths.get(oracleDir, "oracle_sql.json"),
      keys.map(k => s"${Json.str(k)}: ${Json.str(graft.Queries.oracles(k))}").mkString("{", ",\n", "}\n"))
  }

  def unit(t: Tracer, i: Int): Unit = QueryMix.order(ctx.seed, i, keys).foreach { k =>
    val g = group(k)
    val t0 = System.nanoTime()
    try {
      val df = t.span("Queries.build", "Queries")(graft.Queries.all(k)(spark, dir))
      t.span(s"$g.exec", g) {
        df.queryExecution.toRdd.count()
        if (t.enabled) t.recordPlan(df.queryExecution)
      }
      samples += ((k, (System.nanoTime() - t0) / 1e9, t.enabled))
      runs(k) += 1
      attempted += 1
    } catch {
      case scala.util.control.NonFatal(e) =>
        attempted += 1; failed += 1
        System.err.println(s"[pipebench] query $k failed: $e")
    }
  }

  /** Median latency of each key group in the traced passes. */
  override def layerLatencies: Seq[(String, Double)] = {
    val traced = samples.filter(_._3)
    Seq("Queries.expr_p50_s" -> "Queries", "Ops.query_p50_s" -> "Ops", "Qa.query_p50_s" -> "Qa").map {
      case (name, g) =>
        val xs = traced.filter(s => group(s._1) == g).map(_._2).toSeq
        name -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
    }
  }

  override def finalChecks(): Unit = {
    val timed = samples.filterNot(_._3).map(_._2).toSeq
    if (timed.nonEmpty) {
      info("queries_timed") = timed.size
      info("query_p50_s") = Stats.median(timed)
      // the highest percentile with ten samples beyond it: p90 from 100
      // timed queries on
      val p = math.min(0.9, (timed.size - 10).toDouble / timed.size)
      if (p > 0) info(s"query_p${math.floor(p * 100).toInt}_s") = Stats.tailPercentile(timed, p)
      info("queries_per_s") = timed.size / timed.sum
    }
    info("input_digest") = Digest.ofTables(spark, QueryMix.Tables.map(n => s"$dir/$n.parquet"))
    info("order_digest") = f"${QueryMix.order(ctx.seed, 0, keys).mkString(",").hashCode}%08x"
    info("oracle_dir") = oracleDir
    info("fixture_dir") = dir
    info("key_runs") = runs.toMap
  }
}

object QueryMix {
  /** The fixture tables the 44 keys read. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents")

  /** Pass `i`'s key order: a Fisher-Yates shuffle drawn from the seed. */
  def order(seed: Long, i: Int, keys: Seq[String]): Seq[String] = {
    val a = keys.toArray
    val r = Rng.of(seed, 80, i)
    for (j <- a.indices.reverse) {
      val k = r.nextInt(j + 1)
      val x = a(j); a(j) = a(k); a(k) = x
    }
    a.toSeq
  }
}
