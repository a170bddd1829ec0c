package graft.tools

import org.apache.spark.sql.SparkSession

/** The ONE local session configuration every entrypoint (Bench, Verify,
  * Smoke, Plans, Doctor, ProfileKey, pipebench) and the spec suite's
  * shared session build from. Round 8's bench-timezone bug was exactly the
  * drift this prevents: the UTC line existed in three mains and not the
  * fourth, so bench numbers silently came from a differently-configured
  * engine than verify results. Add session confs HERE, never in one main.
  *
  * UTC is load-bearing, not cosmetic: `Tables.loadEvents` casts the
  * fixture's TIMESTAMP_NTZ event times through the session timezone, and
  * the DuckDB oracles assume UTC semantics.
  *
  * The generated-class cache holds [[CodegenCacheEntries]] classes, not
  * Spark's default 100: see the constant for the measured working set.
  * `spark.sql.codegen.cache.maxEntries` is a static conf read once per
  * JVM, at the first codegen, so a spark-submit deployment sets the same
  * value in `spark-defaults.conf`; `SparkEntry` receives the driver's
  * session and cannot set it.
  */
object LocalSession {

  /** Size of Spark's JVM-global generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * least-recently-used, so a working set larger than it evicts every
    * class before its reuse and each re-run of a plan compiles again: a
    * traced warm 44-key `query_mix` pass compiled 411 classes, 4.3 s of a
    * 17.4 s pass, and with this size compiles none.
    *
    * Measured working set, as the count of
    * `CodegenMetrics.METRIC_COMPILATION_TIME` across one `Verify` dump of
    * all 249 keys at sf0.001 (4 wide) with an effectively unbounded
    * cache: 3,464 distinct classes. Per pipebench workload, seed 1, by the
    * end of its warm-up: 390 (`query_mix`), 250 (`pretrain_recipe`) and
    * 102 (`wins_stage`). 4,096 holds all of them. Spark still bounds the
    * cache, and an evicted class can be unloaded. */
  val CodegenCacheEntries = 4096

  /** The shared configuration, for callers that add confs of their own
    * before `getOrCreate()`. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)

  def build(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
