package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.{Events, Profile, TextAnalysis}

/** Corpus doctor: one command, one health report — the operator library
  * packaged as the check a user runs before trusting a fixture directory
  * (and, with a second directory, before trusting an upgrade of it).
  *
  * `runMain graft.tools.Doctor <sfDir> [refDir]`
  *
  * Single-dir sections: the one-row dataset card, language-composition
  * entropy per source, Zipf rank-frequency fit, per-table as-executed
  * partition skew, the events seasonality peak, the near-dup cluster-size
  * histogram, and the zone-map pruning audit. With `refDir`, the drift
  * battery runs against it: PSI + KS on document lengths, categorical PSI
  * on the language mix, per-source length quantile drift, and the
  * row-level snapshot diff tally. Every number comes from the SAME
  * registered operators the driver verifies against DuckDB — the doctor
  * adds packaging, not new arithmetic. The section builders are public so
  * DoctorSpec can pin each section's row shape (and the zone section's
  * pruning claim) without parsing console output. */
object Doctor {

  /** Zone-map pruning audit at the median event time: would a `ts >= p50`
    * predicate skip whole ingest-order zones on statistics alone?
    * Returns [[Profile.zoneSkipAudit]]'s (zone, n_rows, v_min, v_max,
    * skippable) — on a time-ordered ingest roughly half the zones should
    * be skippable at the median cutoff; ~0 says the table is shuffled and
    * zone-mapping it buys nothing until it is re-clustered
    * ([[graft.engine.Sinks.writeZoneMapped]]).
    *
    * `zoneSize` is the rows-per-zone stand-in for a physical skip unit
    * (file / row group); 2000 keeps tens of zones at the fixture scales.
    * EAGER at construction: the median cutoff is a one-row collect (see
    * [[sections]]). Fails with a named diagnostic when `events` has no
    * non-NULL `ts` — a NULL median would otherwise NPE out of `getLong`. */
  def zonePruningAudit(
      spark: SparkSession, dir: String, zoneSize: Long = 2000L): DataFrame = {
    require(zoneSize > 0, s"zoneSize must be positive, got $zoneSize")
    val ev = Tables.loadEvents(spark, dir)
    // exact median of the event time, computed once on the tiny aggregate
    val med = ev.agg(
      percentile(unix_micros(col("ts")), lit(0.5)).cast("long").as("c")).head
    require(!med.isNullAt(0),
      s"zonePruningAudit: events at $dir has no non-NULL ts — cannot pick " +
        "a median cutoff; load a non-empty events table or audit a " +
        "different column")
    Profile.zoneSkipAudit(ev,
      floor(col("event_id") / zoneSize).cast("long"), "ts",
      lo = timestamp_micros(lit(med.getLong(0))))
  }

  /** The single-dir report as (title, frame) pairs — the testable core
    * `main` prints. Frames are lazy plans — EXCEPT the zone section,
    * whose median cutoff is a one-row collect at construction
    * ([[zonePruningAudit]]); `main` shows them, specs collect them. */
  def sections(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    val docs = Tables.load(spark, dir, "documents")
    val skew = Seq("documents", "events", "orders", "lineitem")
      .map { t =>
        Profile.skewReport(Tables.load(spark, dir, t))
          .withColumn("table", lit(t))
          .select("table", "n_partitions", "min_rows", "max_rows", "avg_rows", "skew")
      }
      .reduce(_ unionAll _)
    Seq(
      s"dataset card ($dir)" ->
        Profile.datasetCard(docs, "doc_id", "text", "lang", "source"),
      "language composition per source (entropy/evenness)" ->
        Profile.groupEntropy(docs, "source", "lang").orderBy("source"),
      "Zipf rank-frequency fit (natural text ~ -1)" ->
        TextAnalysis.zipfSlope(docs, "text"),
      "as-executed partition skew per table" -> skew,
      "events seasonality: top traffic cells" ->
        Events.seasonalityProfile(Tables.loadEvents(spark, dir), "ts")
          .orderBy(col("n").desc).limit(5),
      // the REGISTERED query, not a re-implementation — the doctor's
      // header contract is packaging over DuckDB-verified arithmetic
      "duplication shape: near-dup cluster-size histogram (ngram jaccard >= 0.5)" ->
        graft.SparkEntry.queries("dedup_cluster_sizes")(spark, dir),
      "ingest-order zone map: does a ts >= median cutoff prune? (event_id zones)" ->
        zonePruningAudit(spark, dir).orderBy("zone"))
  }

  /** Stored vector index health (either codec) as a doctor section — the
    * [[graft.operators.Similarity.ivfPqIndexHealth]] dashboard plus the
    * one-line operational verdict, so "rebuild yet?" is answerable from
    * the same command that audits the corpus the index serves. */
  def indexSection(
      spark: SparkSession, indexPath: String): Seq[(String, DataFrame)] =
    Seq(s"stored vector index health ($indexPath)" ->
      graft.operators.Similarity.ivfPqIndexHealth(spark, indexPath))

  /** The operational verdict over a health row — thresholds are advisory
    * heuristics, surfaced (not hidden) so an operator can overrule:
    * structural corruption always wins; a delta share past 25% means a
    * quarter of the index was encoded by a model that never saw it
    * (compact = [[graft.operators.Similarity.compactIvfPqIndex]] over the
    * grown corpus); imbalance past 4x mean means probe cost and recall
    * are hostage to a few fat cells (retrain, possibly with more lists).
    * Pure function of the row, so DoctorSpec pins every branch. */
  def indexVerdict(h: org.apache.spark.sql.Row): String = {
    val total = h.getAs[Long]("total_indexed")
    val delta = h.getAs[Long]("delta_rows")
    val share = if (total > 0) delta.toDouble / total else 0.0
    if (h.getAs[Long]("bad_codebook") != 0L)
      "CORRUPT: codebooks table disagrees with the publish record — " +
        "restore from a good publish or rebuild (writeIvfPqIndex with " +
        "the recorded config and codec; compactIvfPqIndex replays them)"
    else if (h.getAs[Long]("bad_rotation") != 0L)
      "CORRUPT: OPQ rotation is missing, torn, non-orthonormal, or " +
        "foreign to the publish record — codes are meaningless without " +
        "it; restore from a good publish or rebuild (writeIvfPqIndex " +
        "with the recorded config and codec)"
    else if (h.getAs[Long]("bad_codes") != 0L)
      s"CORRUPT: ${h.getAs[Long]("bad_codes")} structurally invalid " +
        "index rows (PQ codes outside the codebook, or raw vectors not " +
        "centroid-wide) — rebuild (writeIvfPqIndex with the recorded " +
        "codec); audit the corpus with embed_integrity first"
    else if (share > 0.25)
      f"COMPACT: ${share * 100}%.0f%% of the index is ingest delta " +
        "encoded by a model that never saw it — compactIvfPqIndex over " +
        "the grown corpus"
    else if (total > 0 &&
      h.getAs[Long]("dead_rows").toDouble / total > 0.25)
      f"COMPACT: ${h.getAs[Long]("dead_rows").toDouble / total * 100}%.0f%% " +
        "of stored rows are tombstoned — they still cost probe scans; " +
        "compactIvfPqIndex drops them (deletion stays durable)"
    else if (total > 0 && h.getAs[Double]("imbalance") > 4.0)
      f"RETRAIN: cell imbalance ${h.getAs[Double]("imbalance")}%.1fx " +
        "mean — probe cost and recall are hostage to fat cells; rebuild, " +
        "possibly with more lists"
    else "OK: serve as-is"
  }

  /** Benchmark-leakage sections vs an eval set at `benchPath` (a parquet
    * table carrying the same (doc_id, text) shape as `documents`): the
    * shingle-contamination survey ([[graft.operators.Curation
    * .contamination]] rolled up to threshold shares) and the span
    * DECONTAMINATION plan ([[graft.operators.Curation.decontaminate]]
    * rolled up to docs-touched / chars-removed / docs-gated-out) — what
    * running the repair stage would actually do, answered before running
    * it. Same packaging contract as [[sections]]: registered,
    * DuckDB-verified arithmetic under the hood, one-row summaries on
    * top. */
  def benchmarkSections(
      spark: SparkSession, dir: String,
      benchPath: String): Seq[(String, DataFrame)] = {
    val docs = Tables.load(spark, dir, "documents")
    val bench = spark.read.parquet(benchPath)
    require(Seq("doc_id", "text").forall(bench.columns.contains),
      s"benchmark at $benchPath must carry (doc_id, text) — " +
        s"got (${bench.columns.mkString(", ")})")
    val scores = graft.operators.Curation.contamination(
      docs, bench, "doc_id", "text")
    // EAGER: each section is collected once into a local relation — the
    // --index precedent's single-evaluation property came for free from
    // ivfPqIndexHealth's localFrame; these aggregates are lazy plans over
    // a corpus winnowing pass, so show() + a later verdict head() would
    // otherwise run the heaviest frame in the report TWICE
    def local1(df: DataFrame): DataFrame =
      graft.operators.Similarity.localFrame(
        df.sparkSession, Array(df.head()), df.schema)
    val survey = local1(scores.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("contamination") >= 0.1, 1L).otherwise(0L)).as("n_c10"),
      sum(when(col("contamination") >= 0.5, 1L).otherwise(0L)).as("n_c50"),
      sum(when(col("contamination") >= 0.9, 1L).otherwise(0L)).as("n_c90"),
      round(avg(col("contamination")), 4).as("mean_contamination")))
    // docs_gated_out counts docs the gate drops BECAUSE stripping hollowed
    // them (kept = 0 AND touched) — an untouched document under the length
    // gate is a quality-filter concern, not leakage, and attributing it
    // here would inflate the verdict on any corpus with short docs
    val plan = local1(graft.operators.Curation.decontaminate(
        docs, bench, "doc_id", "text")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L)).as("docs_touched"),
        sum(col("n_removed")).as("chars_removed"),
        sum(when(col("kept") === 0 && col("n_removed") > 0, 1L).otherwise(0L))
          .as("docs_gated_out")))
    Seq(
      s"benchmark contamination survey ($benchPath; shingle-overlap shares)" ->
        survey,
      "span decontamination plan (what Curation.decontaminate would remove)" ->
        plan)
  }

  /** The operational verdict over the decontamination-plan row — the
    * [[indexVerdict]] discipline applied to eval leakage: advisory
    * thresholds, surfaced so an operator can overrule. Any doc the gate
    * would drop, or more than 1% of documents span-touched, says run the
    * stage; a trickle of touched docs is normal shared-boilerplate
    * background. Pure function of the row, so DoctorSpec pins every
    * branch. */
  def benchmarkVerdict(p: org.apache.spark.sql.Row): String = {
    val n = p.getAs[Long]("n_docs")
    val touched = p.getAs[Long]("docs_touched")
    val gated = p.getAs[Long]("docs_gated_out")
    if (n == 0L) "EMPTY: no corpus documents to audit"
    else if (gated > 0L)
      s"DECONTAMINATE: $gated document(s) are substantially the benchmark " +
        "(stripped below the keep gate) — run Curation.decontaminate and " +
        "route kept = 0 out before training"
    else if (touched.toDouble / n > 0.01)
      // Locale.ROOT pins the decimal separator: under e.g. a German
      // default locale the f interpolator prints "1,2%" and any
      // downstream parse of the verdict line breaks
      String.format(java.util.Locale.ROOT,
        "DECONTAMINATE: %.1f%% of documents share spans with the " +
          "benchmark — run Curation.decontaminate (strip repairs them " +
          "in place)", touched.toDouble / n * 100)
    else if (touched > 0L)
      s"OK: $touched document(s) share trace spans with the benchmark — " +
        "background boilerplate; decontaminate if eval hygiene demands zero"
    else "OK: no span overlap with the benchmark"
  }

  /** The drift battery vs a reference snapshot, same (title, frame)
    * contract as [[sections]]. */
  def driftSections(
      spark: SparkSession, dir: String, refDir: String): Seq[(String, DataFrame)] = {
    val docs = Tables.load(spark, dir, "documents")
    val refDocs = Tables.load(spark, refDir, "documents")
    Seq(
      s"drift vs $refDir: document length PSI (>0.25 = retrain-worthy)" ->
        Profile.psiDrift(refDocs, docs, "n_chars")
          .agg(round(sum(col("psi_term")), 4).as("psi")),
      "drift: document length KS (max cumulative gap)" ->
        Profile.ksDrift(refDocs, docs, "n_chars")
          .agg(max(col("ks_term")).as("ks")),
      "drift: language mix (categorical PSI terms)" ->
        Profile.psiDriftCategorical(refDocs, docs, "lang").orderBy("lang"),
      "drift: per-source length quantiles" ->
        Profile.quantileDrift(refDocs, docs, "source", "n_chars", Seq(0.5, 0.95))
          .orderBy("source"),
      "row-level snapshot diff" ->
        graft.operators.Curation.snapshotDiff(refDocs, docs, "doc_id", Seq("text"))
          .groupBy("status").count().orderBy("status"))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Doctor <sfDir> [refDir] [--index <ivfPqIndexPath>] " +
        "[--benchmark <benchParquet>]")
    // flag pairs can sit anywhere after sfDir; positional parsing
    // ignores them
    def flagValue(flag: String): (Option[String], Set[Int]) = {
      val at = args.indexOf(flag)
      require(at != 0,
        "usage: Doctor <sfDir> [refDir] [--index <path>] [--benchmark <path>]")
      if (at > 0) {
        val v = args.lift(at + 1).getOrElse(
          throw new IllegalArgumentException(s"$flag needs a path"))
        // a following flag token is a MISSING value, not a path — failing
        // here beats deferring to a confusing parquet-read error on a
        // "--benchmark"-named file
        if (v.startsWith("--"))
          throw new IllegalArgumentException(s"$flag needs a path, got '$v'")
        (Some(v), Set(at, at + 1))
      } else (None, Set.empty)
    }
    val (indexPath, idxIdx) = flagValue("--index")
    val (benchPath, benchIdx) = flagValue("--benchmark")
    val excluded = idxIdx ++ benchIdx
    val positional = args.zipWithIndex.collect {
      case (a, i) if !excluded.contains(i) => a
    }
    val dir = positional(0)
    val refDir = positional.lift(1)
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    def show(title: String, df: DataFrame): Unit = {
      println(s"\n===== $title =====")
      df.show(50, truncate = false)
    }
    sections(spark, dir).foreach((show _).tupled)
    val ev = Tables.loadEvents(spark, dir)
    val span = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    println(s"[doctor] ts span ${span.get(0)} .. ${span.get(1)} — skippable=1 " +
      "zones drop whole-zone I/O for the median-time predicate on statistics " +
      "alone (Sinks.writeZoneMapped / Sources.readZonePruned); ~0 skippable " +
      "on a time-ordered feed means the table needs re-clustering first")
    refDir.foreach(ref => driftSections(spark, dir, ref).foreach((show _).tupled))
    indexPath.foreach { p =>
      val secs = indexSection(spark, p)
      secs.foreach((show _).tupled)
      // the verdict reads the SAME frame the section just showed — the
      // health audit (full index scan) must not run twice per report
      println(s"[doctor] index verdict: ${indexVerdict(secs.head._2.head())}")
    }
    benchPath.foreach { p =>
      val secs = benchmarkSections(spark, dir, p)
      secs.foreach((show _).tupled)
      // same single-evaluation discipline: the plan frame (a winnowing
      // pass over the corpus) feeds the verdict it just showed
      println(s"[doctor] benchmark verdict: ${benchmarkVerdict(secs.last._2.head())}")
    }
    spark.stop()
  }
}
