package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sinks / publish (SURVEY §2.1 S4/S7/S8).
  *
  * The reference deletes-then-recreates every output (`Exists` +
  * `Delete_management`, wins_transform_staging.py:137-140,241-242) and
  * publishes by copying the whole upload gdb over the staging gdb
  * (:280-286) — one copy step, so readers never observe a half-published
  * set. `publish` reproduces that: every table is written to a temp
  * directory first, and only after all writes succeed is the temp dir
  * swapped into place with filesystem renames.
  */
object Sinks {

  /** S4/S7 — idempotent materialize. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Restore `live` from `<live>.old` if a previous [[swapInto]] crashed
    * between its two renames (live missing, `.old` holding the only copy).
    * Any caller that READS `live` before staging a rewrite must call this
    * first — otherwise a replay after such a crash reads an absent table
    * as empty and the subsequent swap deletes the `.old` survivor. */
  def recoverSwap(fs: FileSystem, live: Path): Unit = {
    val old = new Path(live.toString + ".old")
    if (!fs.exists(live) && fs.exists(old))
      require(fs.rename(old, live), s"swap recovery: rename $old -> $live failed")
  }

  /** Swap a fully-materialized `<live>.tmp` into `live`: recover any
    * half-finished prior swap, then rename live -> `.old`, `.tmp` -> live,
    * and drop `.old`. Each rename is a single atomic metadata op on
    * HDFS/posix, but a crash CAN land between the two — the previous
    * contents then survive at `.old`, and the next recoverSwap/swapInto
    * restores them. So the table is never lost, though readers see a
    * missing path until recovery runs; the window is two metadata ops,
    * independent of table size. Shared by publish / compact / the
    * streaming upsert sink so the discipline cannot drift. */
  def swapInto(fs: FileSystem, live: Path): Unit = {
    val tmp = new Path(live.toString + ".tmp")
    val old = new Path(live.toString + ".old")
    recoverSwap(fs, live)
    require(fs.exists(tmp), s"swapInto: staged dir $tmp missing")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live))
      require(fs.rename(live, old), s"swapInto: rename $live -> $old failed")
    require(fs.rename(tmp, live), s"swapInto: rename $tmp -> $live failed")
    fs.delete(old, true): Unit
  }

  /** Publish a MULTI-TABLE artifact root atomically AT REST: `stage`
    * writes every table under the handed staging directory, then the
    * root is swapped in with ONE rename — so tables that are only
    * meaningful together (PQ codes ↔ their codebooks, NB counts ↔ their
    * hash width, IVF cells ↔ their centroids) are never PERSISTED torn:
    * any crash leaves either the whole previous artifact or the whole
    * new one recoverable, never a mix. This is the ONE implementation
    * of the staging+swap discipline every model-artifact writer shares
    * (five hand-rolled copies drifted in r17 review: trailing-slash
    * staging paths that missed `swapInto`'s normalized derivation, and
    * staged debris left behind by mid-write failures).
    *
    * Honest limit (r17 review pass 2): the rename is atomic, a READER
    * is not — a reader holding lazy frames over the root's tables
    * resolves each table's file listing at its own action time, and a
    * republish completing between two actions can pair tables across
    * versions (or hit a vanished `.old`). Readers that must be
    * republish-proof should materialize both tables in one action or
    * re-read on failure; the single-process batch/test callers here do
    * not republish concurrently.
    *
    * The staging path derives from the NORMALIZED root (`new Path`
    * strips trailing slashes), exactly as [[swapInto]] derives it — a
    * caller passing `"/idx/pq/"` stages and swaps the same directory.
    * Any PRE-EXISTING staging dir (debris from a SIGKILLed writer —
    * possibly a DIFFERENT artifact shape at the same path) is cleared
    * first, so stale tables can never ride along into the publish. If
    * `stage` or the swap throws, the previous artifact is restored if
    * the failure left it at `.old` ([[recoverSwap]]) and the staging
    * debris is deleted best-effort — a failed republish leaves the
    * previous artifact serving and no orphaned corpus-sized debris. */
  def publishRoot(fs: FileSystem, path: String)(stage: String => Unit): Unit = {
    val root = new Path(path)
    val tmp = new Path(root.toString + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    try {
      stage(tmp.toString)
      swapInto(fs, root)
    } catch {
      case e: Throwable =>
        // a swap that died between its two renames stranded the previous
        // artifact at .old with the live path absent — put it back before
        // dropping the staged (never-installed) new copy
        try recoverSwap(fs, root)
        catch { case scala.util.control.NonFatal(_) => () }
        try fs.delete(tmp, true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Hive-style partitioned layout: readers filtering on `cols` prune
    * whole directories (PartitionFilters in the scan) — the at-rest
    * analog of the reference's attribute indexes (:156-161), but one that
    * scales: a 100 TB table partitioned by day/tag reads only the
    * partitions a query names. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** [[writePartitioned]] plus a zone-map sidecar: alongside the
    * partitioned table, write `<path>.zonemap` holding per-partition
    * (min, max, count) statistics for `statsCols` — the index that lets a
    * reader prune partitions by a SECONDARY column's range, which plain
    * partition pruning cannot do (it only prunes on the partition column
    * itself). On an ingest-ordered table this is the classic win: data
    * partitioned by batch/file id, queries filtering on event time — the
    * time ranges per partition are tight, so most partitions prune on
    * statistics alone ([[graft.operators.Sources]]-side:
    * `readZonePruned`). Sidecar columns: `<c>_min`, `<c>_max` per stats
    * column plus `n_rows`.
    *
    * Consistency: the sidecar is aggregated FROM THE PARQUET JUST
    * WRITTEN — never from re-evaluating `df`, whose lineage could be
    * nondeterministic or read a source that changed between the two
    * evaluations (stats disagreeing with the table turn "conservative
    * skip" into silent wrong results; reading back is also cheaper — a
    * columnar min/max scan instead of the whole upstream pipeline
    * twice). The sidecar publishes via the shared write-then-swap
    * ([[swapInto]]), so sidecar readers never see a missing or
    * half-written file. The TABLE overwrite itself is the engine's
    * ordinary non-staged write (readers during the rewrite see a partial
    * table, zone-pruned or not) — route the table through [[publish]]
    * staging when in-place rewrites race readers; the sidecar then
    * re-derives from whatever table directory is current.
    *
    * The streaming-maintained twin is
    * [[graft.streaming.EventStreams.zoneMapSink]] (single stats column,
    * `v_min`/`v_max` names) — point it at `<table>.zonemap` and
    * `readZonePruned` consumes it identically: the reader's predicate is
    * over whatever columns the sidecar carries. */
  def writeZoneMapped(
      df: DataFrame, path: String, zoneCol: String,
      statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "writeZoneMapped needs at least one stats column")
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    writePartitioned(df, path, Seq(zoneCol))
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))) :+
      count(lit(1)).as("n_rows")
    val spark = df.sparkSession
    val sidecar = new Path(path + ".zonemap")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(path)
      .groupBy(col(zoneCol))
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(path + ".zonemap.tmp")
    swapInto(fs, sidecar)
  }

  /** Incremental partition refresh: overwrite ONLY the partitions present
    * in `df`, leaving every other partition of the table untouched — the
    * steady-state daily-ETL write (reprocess yesterday, keep years of
    * history in place). Plain `mode("overwrite")` + `partitionBy` in
    * STATIC mode (the Spark default) deletes the ENTIRE table first: a
    * one-day backfill would silently destroy every other day. The mode is
    * passed as a PER-WRITE DataFrameWriter option, never by mutating the
    * session conf — a set→write→restore around a shared SparkSession
    * would race concurrent writers in other threads into the wrong
    * overwrite semantics for the duration of this write.
    *
    * At 100 TB this is also the cheap idempotent retry: re-running a
    * failed daily batch rewrites only that day's directories. Crash
    * mid-write leaves other partitions intact (each partition directory
    * swaps independently); for all-or-nothing multi-table publishes use
    * [[publish]]. */
  def overwritePartitions(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(cols: _*).parquet(path)

  /** Retention sweep over a partitioned table: delete (or, by default,
    * just REPORT) the `col=value` partition directories whose value sorts
    * strictly below `keepFrom` — the time-partitioned lake's expiry job
    * (regulatory retention, cost control). Comparison is LEXICAL on the
    * partition value string, which is exactly right for the ISO dates /
    * zero-padded hours partition columns are written with; numeric-but-
    * unpadded values would mis-sort, so the caller owns the format, and
    * `dryRun = true` (the DEFAULT — deleting data is the one
    * irreversible act in this file) lets the sweep be reviewed first.
    * Returns the affected partition values, sorted.
    *
    * Scale notes: the sweep is a pure driver-side directory listing (one
    * level, |partitions| entries — never a data scan) plus per-directory
    * recursive deletes the filesystem performs; concurrent readers of a
    * deleted partition fail as they would under any external delete —
    * run it against dynamic-partition-overwrite tables
    * ([[overwritePartitions]]) whose readers pin partitions by filter. */
  def vacuumPartitions(
      spark: SparkSession, path: String, col: String, keepFrom: String,
      dryRun: Boolean = true): Seq[String] = {
    require(keepFrom.nonEmpty, "keepFrom must be non-empty")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$col="
    if (!fs.exists(root)) return Seq.empty
    // directory names carry Spark's %XX path escaping (':' in a timestamp
    // partition becomes %3A): compare and report the DECODED value —
    // comparing raw names would sort "10%3A00" below "10:00" and delete
    // the partition that exactly equals keepFrom
    def unescape(s: String): String =
      "%([0-9A-Fa-f]{2})".r.replaceAllIn(s,
        m => java.util.regex.Matcher.quoteReplacement(
          Integer.parseInt(m.group(1), 16).toChar.toString))
    val expired = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => (s.getPath, unescape(s.getPath.getName.stripPrefix(prefix))))
      .filter { case (_, v) => v < keepFrom }
      .sortBy(_._2)
    if (!dryRun) {
      // an FS that REPORTS failure instead of throwing (object stores do)
      // must not let the sweep claim the partition was purged — but
      // delete also returns false for an ALREADY-GONE path (a concurrent
      // sweep won the race), which IS the desired end state, not a failure
      val failed = expired.filterNot { case (p, _) =>
        fs.delete(p, true) || !fs.exists(p)
      }
      require(failed.isEmpty,
        s"vacuumPartitions: deletes failed for ${failed.map(_._2).mkString(", ")}")
    }
    expired.map(_._2)
  }

  /** Bucketed + sorted table for co-located joins: two tables bucketed on
    * the same key join WITHOUT a shuffle (no Exchange in the plan —
    * pinned in SinksSpec). This is the Spark answer to the reference's
    * secondary indexes for its repeated tag-key joins: pay the
    * partitioning once at write, reuse it across every downstream join.
    * Requires a catalog table (bucket metadata lives in the metastore). */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table) // managed: under warehouse dir

  /** Z-order clustered layout: rows sorted by the interleaved-bit value of
    * TWO normalized key columns, so per-file min/max ranges stay narrow on
    * BOTH dimensions at once — parquet row-group/file skipping then prunes
    * point and range filters on either column. A plain single-column sort
    * gives the second column full-range stats in every file; partitioning
    * by both columns explodes into small files. Z-order is the standard
    * middle path for 100 TB multi-dimension scan pruning.
    *
    * Mechanics: each key is min/max-normalized to `bits` bits in one
    * 1-row aggregate (broadcast back, no collect), the z-value interleaves
    * the bit positions as a pure column expression (codegen'd shifts/ORs,
    * no UDF), and `repartitionByRange(nFiles, zv)` + in-partition sort
    * lays files out along the curve. The z column itself is dropped from
    * the written schema — it is a layout device, not data.
    *
    * NULL keys normalize to bucket 0 (they cluster together in the first
    * files rather than scattering everywhere). Narrow-range proof is in
    * SinksSpec: per-file ranges of BOTH columns, vs a one-column sort. */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      nFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    require(nFiles > 0 && bits > 0 && bits <= 31, s"bad nFiles=$nFiles bits=$bits")
    val maxVal = (1L << bits) - 1
    def norm(c: String, lo: String, hi: String) = {
      val x = col(c).cast("double")
      coalesce(
        when(col(hi) === col(lo), lit(0L)).otherwise(
          floor((x - col(lo)) * maxVal / (col(hi) - col(lo))).cast("long")),
        lit(0L))
    }
    val bounds = df.agg(
      min(col(colA).cast("double")).as("__loA"), max(col(colA).cast("double")).as("__hiA"),
      min(col(colB).cast("double")).as("__loB"), max(col(colB).cast("double")).as("__hiB"))
    val a = norm(colA, "__loA", "__hiA")
    val b = norm(colB, "__loB", "__hiB")
    val zv = (0 until bits).map { i =>
      shiftleft(shiftrightunsigned(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
    df.crossJoin(broadcast(bounds))
      .withColumn("__zv", zv)
      .repartitionByRange(nFiles, col("__zv"))
      .sortWithinPartitions("__zv")
      .drop("__zv", "__loA", "__hiA", "__loB", "__hiB")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * [[sizedForWrite]]'s ⌈bytes ÷ split size⌉ files. Streaming sinks,
    * frequent small upserts, and over-parallel writes all accrete
    * thousands of tiny files whose open/footer costs eventually dominate
    * scans (the operational "small files problem"); periodic compaction
    * is the standard fix.
    *
    * The rewrite fully materializes into a `.tmp` sibling first, then
    * swaps via [[swapInto]] — readers see the old layout or the new one,
    * never a partial directory (a crash between the swap's two renames
    * leaves the path briefly absent, with the data intact at `.old` and
    * restored by the next compact/[[recoverSwap]]). Round-trip equality
    * and file-count reduction pinned in SinksSpec.
    *
    * Refuses Hive-partitioned directories (`k=v` subdirs): a flat rewrite
    * would silently demote the partition columns from prunable directory
    * structure to plain data columns. Compact those per-partition. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, new Path(path)) // we read `path` below; restore a half-swapped table first
    val partitioned = fs.listStatus(new Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.contains("="))
    require(partitioned.isEmpty,
      s"compact: $path is Hive-partitioned (${partitioned.take(3).mkString(", ")}…) — " +
        "a flat rewrite would lose the partition layout; compact each partition dir instead")
    val tmp = new Path(path + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(sizedForWrite(spark.read.parquet(path)), tmp.toString)
    swapInto(fs, new Path(path))
  }

  /** JDBC write-back — the push side of the reference's staging-database
    * flow (`Sources.jdbc` is the pull side): each partition writes through
    * one connection with `batchSize`-row executeBatch round trips, so
    * `numPartitions` IS the concurrent-connection count — cap it to what
    * the database tolerates rather than letting a 2000-partition corpus
    * open 2000 cursors. `overwrite` TRUNCATEs instead of drop/recreate
    * (Spark's `truncate` option), preserving grants and indexes the DBA
    * defined on the target — the reference's delete-then-reload pattern
    * without destroying the table. Round-trip + append + re-overwrite
    * pinned in SinksSpec against embedded Derby. */
  def jdbc(
      df: DataFrame, url: String, table: String,
      mode: String = "overwrite",
      numPartitions: Option[Int] = None,
      batchSize: Int = 10000,
      options: Map[String, String] = Map.empty): Unit = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(numPartitions.forall(_ > 0), s"numPartitions must be positive: $numPartitions")
    val out = numPartitions.map(df.repartition(_)).getOrElse(df)
    out.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("truncate", "true")
      .options(options)
      .mode(mode)
      .save()
  }

  /** The one output-size rule of [[publish]] and [[compact]]: `df`
    * coalesced to ⌈bytes ÷ `spark.sql.files.maxPartitionBytes`⌉
    * partitions (at least one), so one written file is one read split of
    * the session that reads it back. `bytes` is the optimized plan's
    * `sizeInBytes`: the files' size for a parquet read, the measured size
    * for a materialized cache. `coalesce` is narrow — it never shuffles
    * and never adds partitions — and it also merges the TASKS back to the
    * last shuffle or cache, so it suits frames that are staged already
    * (what both callers write). A frame whose size Spark does not know
    * (an RDD-backed plan reports `spark.sql.defaultSizeInBytes`) keeps
    * its partitioning. */
  private def sizedForWrite(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = conf.filesMaxPartitionBytes
    val n = ((bytes + target - 1) / target).max(1)
    if (bytes >= conf.defaultSizeInBytes || !n.isValidInt) df else df.coalesce(n.toInt)
  }

  /** S8 — staged publish of a set of named tables into a staging dir.
    * All-or-nothing via [[publishRoot]] (one discipline, not two: the
    * hand-rolled version here built its staging path by raw string
    * concat, so a trailing-slash `stagingDir` staged INSIDE the live
    * root and then failed `swapInto`'s exists-check after writing every
    * table — and it left that debris behind).
    *
    * Each table is written as [[sizedForWrite]] files: ⌈bytes ÷ split
    * size⌉, not one per partition of the frame. The file count is what
    * costs time at this scale: every file is a write task, and on the
    * local filesystem Hadoop (without its native library) sets each
    * file's and its checksum's permissions by forking a `chmod` process.
    * A WINS night of five tables on 4 cores forked 146 processes as one
    * file per partition, 56 as sized files.
    *
    * The per-table writes are independent jobs, so they are submitted
    * together through [[Overlap.all]] — each alone is a few small stages
    * that never fill the cluster. `Overlap.all` awaits EVERY arm before
    * rethrowing, so no write is still filling the staging dir when
    * `publishRoot` swaps it in or deletes it. */
  def publish(tables: Map[String, DataFrame], stagingDir: String): Unit = {
    require(tables.nonEmpty, "publish: no tables")
    val spark = tables.head._2.sparkSession
    val fs = new Path(stagingDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    publishRoot(fs, stagingDir) { tmp =>
      Overlap.all(tables.toSeq.map { case (name, df) =>
        () => write(sizedForWrite(df), s"$tmp/$name")
      })
    }
  }
}
