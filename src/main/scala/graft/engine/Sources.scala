package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Source connectors with schema validation (SURVEY §2.1 S2/S6, §3.2).
  *
  * The reference's ingest contract is (catalog-id -> local table) with the
  * schema fixed by a template, asserted at download time
  * (/root/reference/src/wins_transform_staging.py:118-135). Here: a parquet
  * scan validated against the declared StructType — fail fast at plan time
  * (the reference's `assert` behavior), never silently coerce.
  *
  * In production the same contract backs `spark.read.jdbc` (the SDE view
  * pull, :55-58) — swap the format, keep the validation.
  */
object Sources {

  final case class SchemaMismatch(table: String, problems: Seq[String])
    extends RuntimeException(
      s"schema mismatch for '$table':\n  ${problems.mkString("\n  ")}")

  /** Name+type normalization shared by every schema comparison here:
    * lowercase names, nullability and array-element nullability ignored —
    * parquet writers vary on those; name+type is the contract. */
  private def norm(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case a: ArrayType => s"array<${norm(a.elementType)}>"
    case other => other.simpleString
  }

  /** Compare via [[norm]]'s contract. */
  private def diff(expected: StructType, actual: StructType): Seq[String] = {
    val exp = expected.fields.map(f => f.name.toLowerCase -> norm(f.dataType)).toMap
    val act = actual.fields.map(f => f.name.toLowerCase -> norm(f.dataType)).toMap
    val missing = (exp.keySet -- act.keySet).toSeq.sorted.map(c => s"missing column: $c")
    val extra = (act.keySet -- exp.keySet).toSeq.sorted.map(c => s"unexpected column: $c")
    val wrong = exp.keySet.intersect(act.keySet).toSeq.sorted.collect {
      case c if exp(c) != act(c) => s"column $c: expected ${exp(c)}, found ${act(c)}"
    }
    missing ++ extra ++ wrong
  }

  /** S2/S6 — validated scan: read `dir/name.parquet`, require the declared
    * schema (if one is registered). */
  def loadValidated(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = Tables.load(spark, dir, name)
    Schemas.fixtureSchemas.get(name).foreach { expected =>
      val problems = diff(expected, df.schema)
      // a table may also match a registered alternative encoding (fixture
      // regenerations have changed events.ts across rounds; the loader
      // normalizes, the validator just needs to not reject a known shape)
      val altOk = Schemas.fixtureAlternatives.getOrElse(name, Nil)
        .exists(alt => diff(alt, df.schema).isEmpty)
      if (problems.nonEmpty && !altOk) throw SchemaMismatch(name, problems)
    }
    df
  }

  /** S6 — the production SDE/BCGW view pull
    * (/root/reference/src/wins_transform_staging.py:55-58,174: an Oracle
    * view snapshot over an SDE connection file) as a partitioned JDBC read
    * with the same schema validation as the parquet path.
    *
    * Scale notes:
    *  - `partitionColumn` + `bounds` + `numPartitions` split the pull into
    *    range-strided concurrent reads (one DB cursor per partition) — the
    *    difference between a single-threaded snapshot and saturating the
    *    DB's read capacity. Skip them for genuinely small dimension views.
    *  - Catalyst pushes filters and column pruning into the generated SQL
    *    (`PushedFilters` on the JDBC scan — spec-asserted), so a downstream
    *    `.filter`/`.select` never transfers dead rows/columns.
    *  - `fetchsize` defaults to 10k rows per round trip (driver defaults
    *    are 10 for Oracle — pathological for bulk pulls).
    *
    * `options` passes through any other DataSource option (`driver`,
    * `sessionInitStatement`, `queryTimeout`, ...). */
  def jdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[String] = None,
      bounds: Option[(Long, Long)] = None,
      numPartitions: Int = 1,
      options: Map[String, String] = Map.empty,
      expected: Option[StructType] = None): DataFrame = {
    require(partitionColumn.isDefined == bounds.isDefined,
      "partitionColumn and bounds must be supplied together")
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    // a parallelism request without a partition column would silently run a
    // single-cursor pull — exactly what the caller asked to avoid
    require(numPartitions == 1 || partitionColumn.isDefined,
      s"numPartitions=$numPartitions requires partitionColumn + bounds (a JDBC " +
        "read cannot be split without a stride column)")
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("fetchsize", options.getOrElse("fetchsize", "10000"))
      .options(options)
    val reader = (partitionColumn, bounds) match {
      case (Some(col), Some((lo, hi))) =>
        base.option("partitionColumn", col)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", numPartitions)
      case _ => base
    }
    val df = reader.load()
    expected.foreach { e =>
      val problems = diff(e, df.schema)
      if (problems.nonEmpty) throw SchemaMismatch(table, problems)
    }
    df
  }

  /** Delimited-text source with a REQUIRED schema: at scale, schema
    * inference is a full extra pass over the data before the real read —
    * the fixed-schema contract (reference template semantics, S5) makes it
    * both safe and single-pass. `mode=FAILFAST` surfaces malformed rows as
    * errors instead of silent nulls, matching the reference's assert-based
    * ingest (/root/reference/src/wins_transform_staging.py:121,129). */
  def csv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ",",
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema)
      .option("header", header).option("delimiter", delimiter)
      .option("mode", options.getOrElse("mode", "FAILFAST"))
      .options(options)
      .csv(path)

  /** JSON-lines source with a REQUIRED schema (same rationale as [[csv]]:
    * no inference pass, malformed rows fail fast). */
  def json(
      spark: SparkSession,
      path: String,
      schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.schema(schema)
      .option("mode", options.getOrElse("mode", "FAILFAST"))
      .options(options)
      .json(path)

  /** ORC source with the same declared-schema validation as [[parquet]]:
    * the file's footer schema must contain every expected column at the
    * expected type, surfaced as one aggregated SchemaMismatch instead of a
    * mid-job cast failure. ORC carries the same columnar pushdown/pruning
    * contract as parquet (PushedFilters asserted in SourcesSpec), so
    * corpora arriving in ORC read through an identical plan shape. */
  def orc(
      spark: SparkSession,
      path: String,
      expected: Option[StructType] = None,
      table: String = "orc"): DataFrame = {
    val df = spark.read.orc(path)
    expected.foreach { e =>
      val problems = diff(e, df.schema)
      if (problems.nonEmpty) throw SchemaMismatch(table, problems)
    }
    df
  }

  /** Schema-evolution parquet read: a long-lived corpus directory holds
    * files written at different pipeline vintages — early files lack the
    * columns later ones added. A plain `spark.read.parquet` takes ONE
    * file's footer as the schema (which subset you get depends on
    * listing order), silently dropping newer columns or failing on older
    * files at scan time. This reader pins the DECLARED schema instead:
    * every file's columns must be a subset of it at matching types
    * (verified once from the mergeSchema union, not per-row mid-job), and
    * columns a vintage lacks read as NULL of the declared type — so a
    * query over the directory always sees exactly the declared shape,
    * whichever vintage each partition came from.
    *
    * Scale notes: `mergeSchema` reads FOOTERS (a driver-side metadata
    * pass, parallelized by Spark over a small job), never data; the
    * per-file scan then prunes/pushes down against the declared columns as
    * usual. Genuinely conflicting vintages (same column, different type)
    * fail fast with the aggregated column-level report — the alternative
    * is a mid-job cast error on whichever task hits the old file first. */
  def evolvingParquet(
      spark: SparkSession,
      path: String,
      declared: StructType,
      table: String = "parquet"): DataFrame = {
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    // the same name+type contract as every other validated source ([[norm]]:
    // lowercase names, nullability-insensitive) — a raw DataType compare
    // would reject files differing only in array-element nullability or
    // column case, which the plain parquet path accepts
    val act = merged.schema.fields.map(f => f.name.toLowerCase -> norm(f.dataType)).toMap
    val dec = declared.fields.map(f => f.name.toLowerCase -> norm(f.dataType)).toMap
    val problems =
      act.keys.filterNot(dec.contains).toSeq.sorted
        .map(c => s"unexpected column: $c") ++
      dec.keys.filter(c => act.contains(c) && act(c) != dec(c)).toSeq.sorted
        .map(c => s"column $c: expected ${dec(c)}, found ${act(c)}")
    if (problems.nonEmpty) throw SchemaMismatch(table, problems)
    // declared-but-absent columns (no file has them yet): NULL of the
    // declared type, same contract as a vintage that predates the column
    val cols = declared.fields.map { f =>
      if (act.contains(f.name.toLowerCase)) org.apache.spark.sql.functions.col(f.name)
      else org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
    }
    merged.select(cols.toSeq: _*)
  }

  /** Raw media files as opaque binary rows — the ingest mouth of the
    * multimodal path ([[graft.operators.MultiModal]]): Spark's built-in
    * `binaryFile` source lists the directory distributed-ly and each task
    * reads its files' bytes, so a million images never touch the driver.
    * Returns (path, mod_time, n_bytes, content BINARY); compose with
    * `MultiModal.extractFeatures` after mapping to the Media shape.
    *
    * `pathGlobFilter` prunes at LISTING time (e.g. "*.png" never opens
    * non-matching files); `maxBytes` guards against a single giant file
    * OOMing an executor (binaryFile materializes one file per row —
    * whole-file rows are the contract; streams belong to a chunking
    * ingest, not this source). The cap is enforced IN THE PLAN with a
    * raise_error on the file length — a session-conf cap
    * (`binaryFile.maxLength`) is read lazily at action time, so two reads
    * built with different caps would both execute under whichever
    * construction ran last, and the mutation would leak to every later
    * binaryFile read in the session. The in-plan check is per-read,
    * races nothing, and fails LOUDLY on the offending path (damage bounded
    * to the one oversized file's buffer) instead of silently truncating. */
  def binaryFiles(
      spark: SparkSession,
      path: String,
      glob: Option[String] = None,
      maxBytes: Long = 64L * 1024 * 1024): DataFrame = {
    require(maxBytes > 0, s"maxBytes must be positive, got $maxBytes")
    import org.apache.spark.sql.functions.{col, format_string, lit, raise_error, when}
    val r = spark.read.format("binaryFile")
    glob.foreach(g => r.option("pathGlobFilter", g))
    // the guard must gate CONTENT, not a sibling column: column pruning
    // deletes an unreferenced n_bytes along with any raise_error riding in
    // it, and select("content") — the one projection that can OOM — would
    // run unguarded (a conf-based cap had the opposite flaw: lazily read,
    // last-constructed-reader-wins, session-leaking)
    def capped(c: org.apache.spark.sql.Column) =
      when(col("length") > maxBytes,
        raise_error(format_string(
          s"binaryFiles: %s is %d bytes, over the $maxBytes-byte cap — " +
            "oversized media belongs to a chunking ingest, not whole-file rows",
          col("path"), col("length"))).cast("binary"))
        .otherwise(c)
    r.load(path)
      .select(
        col("path"),
        col("modificationTime").as("mod_time"),
        col("length").as("n_bytes"),
        capped(col("content")).as("content"))
  }

  /** One incremental-ingest batch: the not-yet-processed files' rows, the
    * file list itself, and a `commit` that records them in the manifest.
    * Call `commit()` only after the batch's OUTPUT is durably written —
    * a crash before commit re-delivers the same files next run
    * (at-least-once; pair with an idempotent merge like [[Ops.upsert]]
    * for effective exactly-once). */
  final case class IncrementalBatch(
      df: DataFrame, newFiles: Seq[String], commit: () => Unit)

  /** Manifest-based incremental parquet ingest — the batch-side file-
    * tailing pattern (the batch twin of a streaming file source, for
    * pipelines that run on a schedule instead of continuously): list the
    * data files under `dir`, subtract the manifest of already-processed
    * paths, and read ONLY the new files.
    *
    * Contract: lake files are immutable (path = identity — rewriting a
    * file in place is not detected; publish new files instead, the
    * [[Sinks]] discipline). Hidden/metadata files (`_`/`.` prefixes) are
    * ignored, like Spark's own listing. The manifest is a parquet table of
    * processed paths; `commit()` APPENDS the batch's paths — duplicate
    * manifest rows from a crashed commit are harmless (membership is a
    * set), and the listing itself is a driver-side metadata pass, no data
    * is read until the returned frame is consumed.
    *
    * Scale note: the manifest anti-join happens driver-side over the
    * listing (file COUNTS are driver-scale — millions, not billions; the
    * same assumption Spark's own file index makes). */
  def incrementalParquet(
      spark: SparkSession, dir: String, manifestPath: String): IncrementalBatch = {
    import org.apache.hadoop.fs.Path
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dirPath),
      s"incrementalParquet: $dir does not exist — check the path before " +
        "wiring a schedule to it")
    val listed = scala.collection.mutable.ArrayBuffer.empty[String]
    val rootUri = fs.makeQualified(dirPath).toUri
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val f = it.next()
      // EVERY path segment below the root must be visible, not just the
      // leaf: an in-flight writer stages under _temporary/.staging dirs
      // whose leaf part files have ordinary names — treating those as data
      // reads torn files and manifests paths that vanish on task commit
      // (the rows then re-deliver under their final name). This mirrors
      // Spark's own InMemoryFileIndex, which filters hidden DIRECTORIES
      // during recursion.
      val rel = rootUri.relativize(fs.makeQualified(f.getPath).toUri).getPath
      val hiddenSegment = rel.split('/')
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (f.isFile && !hiddenSegment)
        listed += f.getPath.toString
    }
    require(listed.nonEmpty,
      s"incrementalParquet: no data files under $dir — nothing to infer a " +
        "schema from; check the path before wiring a schedule to it")
    val manifest = new Path(manifestPath)
    // the manifest may live on a DIFFERENT filesystem than the lake
    // (s3 lake, hdfs manifest) — every manifest op must use its own FS or
    // hadoop throws Wrong FS
    val mfs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a compaction (below) may have crashed between its two swap renames,
    // leaving the only manifest copy at `.old` — reading a MISSING
    // manifest as empty would re-deliver the entire lake. SINGLE-RUNNER
    // CONTRACT: one scheduled pipeline owns a manifest; two concurrent
    // runners could race this recover/read against the other's compaction
    // swap and re-deliver (at-least-once still holds, exactly-once does
    // not — serialize the schedule).
    Sinks.recoverSwap(mfs, manifest)
    val seen: Set[String] =
      if (mfs.exists(manifest))
        spark.read.parquet(manifestPath).select("path")
          .collect().map(_.getString(0)).toSet
      else Set.empty
    val fresh = listed.filterNot(seen).sorted.toSeq
    val df =
      if (fresh.isEmpty)
        // steady-state empty batch: schema comes from any already-seen leaf
        // file (reading the parent dir would miss nested table layouts)
        spark.read.parquet(listed.head).limit(0)
      else spark.read.parquet(fresh: _*)
    val commit = () => {
      if (fresh.nonEmpty) {
        spark.createDataset(fresh)(Encoders.STRING).toDF("path")
          .write.mode("append").parquet(manifestPath)
        // the append adds one small file per batch; unchecked, a manifest
        // ingesting for a year holds hundreds of tiny parquet files and
        // every run's listing-plus-read slows with it. Past the threshold,
        // delegate to the ONE write-then-swap compaction implementation
        // (Sinks.compact — same recover/tmp/swap discipline as every
        // other table rewrite; it derives the manifest's own FS itself).
        val parts = mfs.listStatus(manifest)
          .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
        if (parts > 64) Sinks.compact(spark, manifestPath)
      }
    }
    IncrementalBatch(df, fresh, commit)
  }

  /** Zone-pruned read over a [[Sinks.writeZoneMapped]] layout: evaluate
    * `zonePred` against the `<path>.zonemap` sidecar's per-partition
    * statistics (`<c>_min` / `<c>_max` / `n_rows` columns), collect the
    * QUALIFYING zone values, and read the table filtered to those zones —
    * which compiles to directory-level PartitionFilters, so disqualified
    * partitions are never listed, opened, or scanned. This is how a range
    * predicate on a SECONDARY column (event time on a batch-id-partitioned
    * ingest table) becomes real skipped I/O instead of a post-scan filter.
    *
    * The zone list crosses the driver — sound because it is bounded by
    * the LAYOUT's partition count (a write-time choice, like bucket
    * counts), not by data volume; same driver-bounded pattern as the IVF
    * centroid fetch. Statistics-based skipping is conservative by
    * construction: `zonePred` must be TRUE for a zone that may contain
    * matching rows (e.g. `col("ts_max") >= cutoff` for a
    * `ts >= cutoff` row filter) — the caller still applies the exact row
    * predicate to the returned frame; this function only bounds what is
    * read. Fails loudly if the sidecar is missing (a silent full scan
    * would defeat the point unnoticed). */
  def readZonePruned(
      spark: SparkSession, path: String, zoneCol: String,
      zonePred: org.apache.spark.sql.Column): DataFrame = {
    val sidecar = path + ".zonemap"
    val sidecarPath = new org.apache.hadoop.fs.Path(sidecar)
    val fs = sidecarPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the sidecar publishes via write-then-swap; a crash between the two
    // renames leaves it only at `.old` — recover before the existence gate
    Sinks.recoverSwap(fs, sidecarPath)
    require(fs.exists(sidecarPath),
      s"readZonePruned: no zone-map sidecar at $sidecar — write the table " +
        "with Sinks.writeZoneMapped, or read it unpruned with spark.read")
    val zones = spark.read.parquet(sidecar)
      .filter(zonePred)
      .select(org.apache.spark.sql.functions.col(zoneCol))
      .collect().map(_.get(0))
    spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col(zoneCol).isin(zones: _*))
  }
}
