package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Per-table pipeline composition (SURVEY §3.3): the reference's ~15 eager
  * arcpy statements per feature class
  * (/root/reference/src/wins_transform_staging.py:143-273) become ONE lazy
  * Catalyst plan per output table — append, ordered field calculations,
  * blank normalization, join enrichment, QA classification — with one
  * count action per table and the sink writes.
  */
object Pipeline {

  /** One conditional assignment (R3+R4): set `field` to `value` where
    * `pred`; order matters — later rules see earlier rules' output. */
  final case class CalcRule(field: String, pred: Column, value: Column)

  /** J1/J2 enrichment config. */
  final case class Enrich(
      dim: DataFrame, leftKey: String, rightKey: String,
      rightOrder: Seq[Column], copies: Map[String, String])

  /** The two reference QA rules, parameterized (SURVEY §2.5). */
  final case class QaRules(
      dupKeys: Seq[String], dupReason: String,
      refDim: DataFrame, refLeftKey: String, refRightKey: String,
      refReason: String)

  /** As-executed physical layout of the staged (classified, persisted)
    * frame the sinks read — the straggler predictor surfaced where users
    * look (the run report): `skew` = max/avg partition rows; 1.0 is
    * perfectly balanced, 10 means the slowest task did 10x the average
    * work and the stage ran at its pace. Counts NON-EMPTY partitions, as
    * [[graft.operators.Profile.partitionStats]] does. It describes the
    * staged frame, not the write: [[Sinks.publish]] coalesces each table
    * to its byte-sized file count, so the write may run fewer tasks. */
  final case class LayoutStats(
      nPartitions: Int, minRows: Long, maxRows: Long, avgRows: Double, skew: Double)

  /** What the reference logs per table (:253,263) plus the final counts
    * and the staged frame's partition-skew diagnostics (None only for an
    * empty input, which has no non-empty partitions to describe). */
  final case class RunReport(
      table: String, inputRows: Long, keptRows: Long,
      rejectsByReason: Map[String, Long],
      layout: Option[LayoutStats] = None)

  final case class TableResult(
      keep: DataFrame, rejects: DataFrame, report: RunReport,
      private val staged: Option[DataFrame] = None) {
    /** Release the classified frame cached by [[runTable]] once
      * keep/rejects have been written to their sinks. */
    def unpersist(): Unit = staged.foreach(_.unpersist())
  }

  /** Run the full §3.3 trace for one table. `template` fixes the output
    * schema (S5 — NO_TEST append into the template's column set).
    *
    * Each row's QA outcome is decided ONCE: the enriched rows plus
    * [[Qa.FlagCol]] (the first failing rule's reason, or NULL) form one
    * CLASSIFIED frame ([[Qa.classify]]), and keep/rejects are two filters
    * over it ([[Qa.split]]). One action per table — one job, a pass that
    * counts each partition's flags in its own task, with no exchange —
    * materializes the cache and yields the input count, the rejects by
    * reason and the layout of the staged frame the sinks read.
    *
    * CACHE CONTRACT: the returned [[TableResult]] holds the classified
    * frame persisted at MEMORY_AND_DISK because the count and both sink
    * writes read it — with it, the writes neither shuffle nor broadcast.
    * Callers that use `runTable` directly MUST call
    * `TableResult.unpersist()` after writing keep/rejects (or after
    * reading the report alone), or route through [[runAndPublish]], which
    * releases it. */
  def runTable(
      name: String,
      download: DataFrame,
      template: DataFrame,
      calcRules: Seq[CalcRule],
      blankToNullFields: Seq[String],
      enrich: Option[Enrich],
      qa: Option[QaRules]): TableResult = {

    // R1: land the download in the template schema
    val appended = Ops.appendNoTest(template, download)
    // R3+R4: ordered conditional calcs
    val calced = calcRules.foldLeft(appended) { (df, r) =>
      Ops.calcWhen(df, r.field, r.pred, r.value)
    }
    // R5: '' -> NULL
    val blanked = blankToNullFields.foldLeft(calced)(Ops.blankToNull)
    // J1/J2: first-match enrichment
    val enriched = enrich.fold(blanked) { e =>
      Ops.joinEnrich(blanked, e.dim, e.leftKey, e.rightKey, e.rightOrder, e.copies)
    }
    // Q1+Q2: the classified frame, persisted (see the cache contract) so
    // the dup window and both broadcasts run once, not once per consumer.
    // Single evaluation is pinned by PipelineSpec accumulator tests.
    val classified = Qa.classify(enriched, qa.toSeq.flatMap(q => Seq[DataFrame => DataFrame](
      Qa.dupFlag(_, q.dupKeys, q.dupReason),
      Qa.refFlag(_, q.refDim, q.refLeftKey, q.refRightKey, q.refReason))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A2-style forced count — the engine's only action besides the sinks.
    // append/calc/blank/enrich/QA are all row-preserving (first-match and
    // the distinct-key ref join never multiply), so one pass over the
    // classified frame materializes the cache and yields, per (partition,
    // flag): the input count, the rejects by reason and the layout. Each
    // task counts its own partition's flags, so the pass is one job with
    // no exchange. The encoders are spelled out: deriving them from type
    // tags loads Scala reflection, about a second in a fresh JVM.
    val counts = classified.select(col(Qa.FlagCol)).as(Encoders.STRING)
      .mapPartitions { flags =>
        val byFlag = scala.collection.mutable.HashMap.empty[String, Long]
        flags.foreach(f => byFlag(f) = byFlag.getOrElse(f, 0L) + 1L)
        val pid = org.apache.spark.TaskContext.getPartitionId()
        byFlag.iterator.map { case (f, n) => (pid, f, n) }
      }(Encoders.tuple(Encoders.scalaInt, Encoders.STRING, Encoders.scalaLong))
      .collect()
    val perPartition = counts.groupMapReduce(_._1)(_._3)(_ + _).values
    val inputRows = perPartition.sum
    val layout =
      if (perPartition.isEmpty) None
      else {
        val avg = inputRows.toDouble / perPartition.size
        def r2(x: Double) = math.round(x * 100) / 100.0
        Some(LayoutStats(perPartition.size, perPartition.min, perPartition.max,
          r2(avg), r2(perPartition.max / avg)))
      }
    val rejectCounts = counts.filter(_._2 != null)
      .groupMapReduce(_._2)(_._3)(_ + _)
    val report = RunReport(name, inputRows, inputRows - rejectCounts.values.sum,
      rejectCounts, layout)
    val split = Qa.split(classified)
    TableResult(split.keep, split.rejects, report, staged = Some(classified))
  }

  /** Run many tables and publish keeps + one merged reject table atomically
    * (S8); [[Sinks.publish]] writes the tables concurrently. The merged
    * reject schema is the UNION of all reject schemas (missing columns
    * null-filled) — appendNoTest would project onto the first table's
    * columns and silently drop later tables' payloads. */
  def runAndPublish(
      tables: Seq[(String, TableResult)], stagingDir: String): Seq[RunReport] = {
    // both collisions below would otherwise SILENTLY drop a table's keep
    // output (Map overwrite): duplicate names collapse to one entry, and
    // "rejects" is claimed by the merged reject frame
    val names = tables.map(_._1)
    val dups = names.diff(names.distinct).distinct
    require(dups.isEmpty, s"runAndPublish: duplicate table names: ${dups.mkString(", ")}")
    require(!names.contains("rejects"),
      "runAndPublish: 'rejects' is reserved for the merged reject table")
    val keeps = tables.map { case (n, t) => n -> t.keep }.toMap
    val rejects = tables.map(_._2.rejects)
      .reduceLeft((a, b) => a.unionByName(b, allowMissingColumns = true))
    try Sinks.publish(keeps + ("rejects" -> rejects), stagingDir)
    finally tables.foreach(_._2.unpersist()) // release runTable's QA caches
    tables.map(_._2.report)
  }
}
