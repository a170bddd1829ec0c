package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source connectors (SURVEY §2.1 S2/S6).
  *
  * The reference ingests feature classes by server-side FGDB export + download
  * (/root/reference/src/wins_transform_staging.py:118-135) and snapshots an SDE
  * (Oracle) view locally before joining (:55-58,174). Here both become columnar
  * Parquet scans: Catalyst pushes predicates and prunes columns into the scan,
  * which is the 100 TB-scale replacement for the reference's manual local
  * snapshot + attribute indexes (:156-161).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** S2: scan one fixture table. `dir` is an sf directory like
    * /root/testdata/sf0.01.
    *
    * The `events.ts` fixture encoding has changed across regenerations:
    * currently TIMESTAMP(MICROS, tz=false) (Spark reads TIMESTAMP_NTZ);
    * historically TIMESTAMP(NANOS), which Spark 4 rejects outright
    * (PARQUET_TYPE_ILLEGAL) unless `nanosAsLong` reads it as epoch-nanos
    * int64. [[loadEvents]] normalizes whichever encoding arrives to a µs
    * TimestampType so downstream operators and oracle comparisons never
    * depend on how the fixture was last written.
    */
  // Schema memo per fixture path — METADATA only, never data or results
  // (optimization round 22). Spark infers a parquet schema by launching a
  // footer-reading JOB on every `spark.read.parquet` call; each declared
  // query constructs its scans freshly (per bench repeat, per verify dump),
  // so the suite paid one ~20-50 ms inference job per table reference —
  // a pure planning constant, ~tens of seconds across 249 keys × repeats.
  // A production reader declares its schemas (a catalog / table format,
  // guide §6); this memo is the local stand-in: the schema is inferred
  // from the file ONCE per JVM and then passed explicitly, which skips the
  // inference job but changes NOTHING about what the query computes — the
  // supplied schema is byte-identical to what inference would return,
  // every row is still read from parquet by every invocation, and no
  // query result or intermediate is ever memoized. The memo is keyed on
  // the file's IDENTITY — (path, modification time, length) — so a path
  // rewritten with another schema is inferred afresh instead of read
  // through a stale schema; a path that cannot be stat'ed is not memoized
  // (the plain read reports it as Spark always has).
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), StructType)]()

  private def memoSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      .toOption.map { st =>
        val id = (st.getModificationTime, st.getLen)
        schemaMemo.compute(path, (_, old) =>
          if (old != null && old._1 == id) old else (id, spark.read.parquet(path).schema))._2
      }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level by necessity (the flag is consulted at scan execution,
    // so a set-and-restore around the read would break the later action),
    // but scoped to the one table that needs it: reading any OTHER fixture
    // table never flips it. NOTE the flag is a one-way latch: once events
    // has been loaded it stays set for the session, so a LATER direct read
    // of an external nanos-typed parquet silently gets long columns instead
    // of PARQUET_TYPE_ILLEGAL — load-order dependent, unavoidable short of
    // a per-read flag Spark doesn't offer; the flag only affects
    // nanos-typed columns, which the current micros-typed fixture doesn't
    // even have (it's a no-op there, kept so a regeneration back to nanos
    // degrades to a working read instead of an analysis error).
    // (The flag is set BEFORE the memo's one inference, so a nanos-typed
    // events fixture infers the same long-typed schema either way.)
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    memoSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** `events` with `ts` normalized to a µs TimestampType column regardless
    * of the fixture's on-disk encoding (see [[load]]): epoch-nanos int64 →
    * truncating div (matching DuckDB), TIMESTAMP_NTZ/TIMESTAMP → cast
    * (value-preserving under the UTC session timezone all entrypoints set).
    */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other (expected int64 epoch-nanos or a timestamp)")
    }
  }
}
