package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each selected query's result to `outDir/<name>` parquet; returns
    * the per-query error map (empty = all wrote cleanly).
    *
    * Queries run `par`-wide in CHUNKS with a storage sweep at each chunk
    * barrier: registered queries read the operators' `.df` and never close
    * the [[graft.engine.Materialized]] handle, so their internal
    * `localCheckpoint` RDDs (resolveClusters, the substring family,
    * pipeline staging) otherwise accumulate across the ~200-query dump
    * until the JVM GCs the RDD handles — latent executor-storage growth at
    * larger SFs (the Bench between-sample sweep precedent). The sweep MUST
    * NOT run while queries are in flight: unpersisting a localCheckpointed
    * RDD another thread still reads breaks its (truncated) lineage, so the
    * sweep sits strictly between chunks, where nothing is live.
    *
    * The sweep is SCOPED to storage the dump itself created: the
    * persistent-RDD registry is snapshotted at dump entry and each chunk
    * barrier unpersists only ids that appeared since — a caller's
    * pre-existing cached table or localCheckpointed frame survives the
    * dump structurally (previously an ownership doc-contract; a caller
    * holding a truncated-lineage localCheckpoint across dump() would have
    * hit an unrecoverable failure on its next action). Diffing the global
    * registry is safe HERE because the diff runs strictly at the barrier
    * with nothing in flight; mid-query it would race lazy cache
    * registration (see Materialized.checkpoint's capture-from-plan
    * rationale). Queries launched DURING the dump by someone else are
    * still outside the contract — the barrier cannot tell their new RDDs
    * from the chunk's. */
  private[graft] def dump(
      spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
      selected: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame],
      par: Int): java.util.concurrent.ConcurrentHashMap[String, String] = {
    new java.io.File(outDir).mkdirs()
    // failures land in the returned map, not just stderr: a throwing query
    // leaves no output dir, and a dir-driven compare would otherwise
    // silently report one fewer query instead of a failure
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    // sweep scope: everything persisted before the dump belongs to the
    // caller and must survive; everything that appears during it is
    // dump-created leakage (registered queries never persist anything
    // they expect to keep past their own write)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    try {
      // Modest query-level parallelism: at sf0.01 most queries are
      // dominated by per-job scheduling latency, not CPU, so a few in
      // flight roughly halves the wall clock of the driver's correctness
      // gate. Queries are independent (own output dirs, no temp views, no
      // shared caches; the one shared conf write is an idempotent latch),
      // and Spark schedules concurrent actions from one session safely.
      // Tune with SPARK_GRAFT_VERIFY_PAR=1 to serialize when debugging.
      selected.toSeq.sortBy(_._1).grouped(math.max(par * 2, 2)).foreach { chunk =>
        val tasks = chunk.map { case (name, fn) =>
          pool.submit(new Runnable {
            def run(): Unit =
              try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              catch { case e: Throwable =>
                System.err.println(s"[verify] $name failed: ${e.getMessage}")
                errors.put(name,
                  s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
              }
          })
        }
        tasks.foreach(_.get())
        // chunk barrier: nothing in flight — sweep checkpoint RDDs leaked
        // SINCE dump entry only (the caller's storage survives; a global
        // clearCache here would evict the caller's cached tables too).
        // Blocking: the barrier must not start the next chunk until the
        // blocks are actually gone, or executor storage pressure from
        // chunk N overlaps chunk N+1's working set at larger SFs (and a
        // caller checking the registry right after dump() must see a
        // settled state, not an in-flight async removal).
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!preexisting.contains(id)) rdd.unpersist(blocking = true)
          }
      }
    } finally pool.shutdown()
    errors
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args = subset of query names (local iteration);
    // driver invokes with exactly two args = full dump
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.view.filterKeys(only).toMap
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.tools.LocalSession.build(cpus)
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt)
    val errors = dump(spark, sfDir, outDir, selected, par)
    import scala.jdk.CollectionConverters._
    // MERGE with any existing manifest rather than overwrite: a subset
    // re-run into the same outDir must not erase the failure records of
    // queries OUTSIDE the subset (their dirs are still missing, and a
    // wiped manifest would let the compare read "one query fewer" as
    // success — the exact hidden-failure mode the manifest exists for).
    // Keys in THIS run's selection are redetermined (success removes them).
    val errPath = Paths.get(s"$outDir/errors.json")
    // real JSON parse of the prior manifest (values come back unescaped and
    // re-quote uniformly below) — the old regex scrape mis-tokenized values
    // containing escaped-quote-then-colon shapes and silently corrupted the
    // manifest the compare gate reads. A malformed manifest now throws.
    val prior: Map[String, String] =
      if (Files.exists(errPath)) JsonStr.parseFlatObject(Files.readString(errPath))
      else Map.empty
    val entries = (prior -- selected.keySet) ++ errors.asScala
    Files.writeString(errPath,
      entries.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${JsonStr.quote(k)}: ${JsonStr.quote(v)}" }
        .mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonStr.quote(k)}: ${JsonStr.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
