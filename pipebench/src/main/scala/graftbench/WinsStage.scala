package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.{Orchestration, Pipeline, Qa, Schemas, Tables}
import graft.engine.Pipeline.{CalcRule, Enrich, QaRules, TableResult}

/** The reference's own nightly job, one batch with one submission: five
  * `Pipeline.runTable` calls inside `Orchestration.reportedRun`, each
  * report logged, then one `Pipeline.runAndPublish` into the SAME staging
  * dir every unit, so each swap replaces the previous night's output. */
final class WinsStage(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark

  val specs: Seq[WinsGen.Spec] = WinsGen.specs(0.25)
  private val in = s"${ctx.work}/wins_in"
  private val staging = s"${ctx.work}/wins_staging"
  private val dumpSink = new Orchestration.Notifier {
    def notify(success: Boolean, subject: String, body: String): Unit = ()
  }
  private var lastLog = ""

  private def reason(kind: String, tagCol: String) = kind match {
    case "dup" => s"Duplicate $tagCol"
    case _ => s"$tagCol not found in Water POD Table"
  }

  private val templates: Map[String, org.apache.spark.sql.types.StructType] = Map(
    "RESERVES_AND_RESTRICTIONS" -> Schemas.reservesAndRestrictions,
    "NON_TRIM_HYDROGRAPHY" -> Schemas.nonTrimHydrography,
    "WATER_LICENSED_WORKS_POINTS" -> Schemas.waterLicensedWorksPoints,
    "WATER_LICENSED_WORKS_LINES" -> Schemas.waterLicensedWorksLines,
    "FLOODED_AREA_LINES" -> Schemas.floodedAreaLines)

  private def template(name: String): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), templates(name))

  /** The reference's per-table rules (SURVEY §3.3). */
  private def runTable(s: WinsGen.Spec, download: DataFrame, pod: DataFrame): TableResult = {
    val (calc, blanks, enrich) = s.name match {
      case "RESERVES_AND_RESTRICTIONS" => (Seq(
          CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RV%"), lit("EA83030000")),
          CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RS%"), lit("EA83040000"))),
        Seq("TRRR_TAG"),
        Some(Enrich(pod, "TRRR_TAG", "PNTS_CODE", Seq(col("OBJECTID")), Map("DESCRIPTION" -> "PNTS_DESCR"))))
      case "NON_TRIM_HYDROGRAPHY" => (Seq(CalcRule("FEATURE_CODE", lit(true), lit("GA24850000"))),
        Seq("TNTH_TAG"),
        Some(Enrich(pod, "TNTH_TAG", "PNTS_CODE", Seq(col("OBJECTID")), Map("STREAM_NAME" -> "SRCE_GAZETTED"))))
      case "FLOODED_AREA_LINES" => (Seq(CalcRule("FEATURE_CODE", lit(true), lit("WA24111110"))), Nil, None)
      case _ => (Nil, Seq(s.tagCol.get, "FEATURE_CODE"), None)
    }
    val qa = s.tagCol.map(tc => QaRules(Seq(tc), reason("dup", tc), pod, tc, "PNTS_CODE", reason("miss", tc)))
    Pipeline.runTable(s.name, download, template(s.name), calc, blanks, enrich, qa)
  }

  def generate(): Unit = WinsGen.write(spark, ctx.seed, specs, in, ctx.cores * 2)

  lazy val inputRows: Long = specs.map(_.rows.toLong).sum + WinsGen.podRows(ctx.seed, specs).size

  def unit(t: Tracer, i: Int): Unit = {
    val (ok, log) = t.span("Orchestration.reportedRun", "Orchestration") {
      Orchestration.reportedRun(dumpSink, "WINS STAGING") { log =>
        val pod = t.frame("Tables.load", "Tables")(Tables.load(spark, in, WinsGen.PodName))
        val results = specs.map { s =>
          val download = t.frame("Tables.load", "Tables")(Tables.load(spark, in, s.name))
          val r = t.span("Pipeline.runTable", "Pipeline") {
            val r = runTable(s, download, pod)
            if (t.enabled) {
              extras("Pipeline.cached_bytes") = math.max(extras.getOrElse("Pipeline.cached_bytes", 0.0),
                t.engineBlocksHeld()._2.toDouble)
              r.copy(keep = t.materialize(r.keep)._1, rejects = t.materialize(r.rejects)._1)
            } else r
          }
          t.span("Orchestration.logReport", "Orchestration")(Orchestration.logReport(log, r.report))
          s.name -> r
        }
        // runAndPublish is Sinks.publish of the keeps and the merged
        // rejects plus a union and the cache release, so its span is
        // counted as the Sinks layer
        val reports = t.span("Pipeline.runAndPublish", "Sinks")(Pipeline.runAndPublish(results, staging))
        if (t.enabled) {
          extras("Qa.reject_rows") = reports.map(_.rejectsByReason.values.sum).sum.toDouble
          extras("Sinks.write_files") = Dirs.partFiles(staging).toDouble
        }
      }
    }
    lastLog = log
    if (!ok) System.err.println(s"[pipebench] wins run failed:\n$log")
    expect(ok, "reportedRun succeeded")
  }

  /** Expected (input, kept, dup rejects, miss rejects) of a table. */
  private def expected(s: WinsGen.Spec): (Long, Long, Long, Long) = s.tagCol match {
    case Some(_) => val p = WinsGen.plan(s.rows); (p.n, p.kept, p.dupRejects, p.missRejects)
    case None => (s.rows, s.rows, 0L, 0L)
  }

  /** The run log must state every table's closed-form counts. */
  override def checkUnit(i: Int): Unit = specs.foreach { s =>
    val (n, kept, dup, miss) = expected(s)
    val lines = lastLog.split("\n").toSet
    val want = Seq(s"INFO ${s.name}: input=$n kept=$kept") ++
      s.tagCol.toSeq.flatMap(tc => Seq(s"INFO ${s.name}: rejected $dup (${reason("dup", tc)})",
        s"INFO ${s.name}: rejected $miss (${reason("miss", tc)})"))
    expect(want.forall(lines), s"run log counts for ${s.name}: want ${want.mkString("; ")}")
  }

  /** The published tables, read back, hold the closed-form counts, the
    * calc rules' codes, first-match descriptions and no blank tags. */
  override def finalChecks(): Unit = {
    specs.foreach { s =>
      val (_, kept, _, _) = expected(s)
      def n(pred: org.apache.spark.sql.Column) = sum(when(pred, 1L).otherwise(0L))
      val tagBlank = s.tagCol.map(tc => col(tc).isNull || col(tc) === "").getOrElse(lit(false))
      val descr = s.copyCol.filter(_ == "DESCRIPTION").map(c => col(c).isNull || col(c).startsWith("alt "))
        .getOrElse(lit(false))
      val r = spark.read.parquet(s"$staging/${s.name}").agg(count(lit(1)), n(tagBlank),
        n(col("FEATURE_CODE") === "EA83030000"), n(col("FEATURE_CODE") === "EA83040000"),
        n(descr), n(col("FEATURE_CODE") === "")).head()
      expect(r.getLong(0) == kept, s"${s.name} published ${r.getLong(0)} rows, want $kept")
      expect(r.getLong(1) == 0, s"${s.name} published ${r.getLong(1)} blank tags")
      if (s.name != "RESERVES_AND_RESTRICTIONS") // its TG-coded rows keep the download's code
        expect(r.getLong(5) == 0, s"${s.name} published ${r.getLong(5)} blank FEATURE_CODEs")
      else {
        val p = WinsGen.plan(s.rows)
        expect(r.getLong(2) == p.rv && r.getLong(3) == p.rs,
          s"calc rules: RV=${r.getLong(2)} want ${p.rv}, RS=${r.getLong(3)} want ${p.rs}")
        expect(r.getLong(4) == 0, s"first-match enrichment: ${r.getLong(4)} kept rows lack their first POD description")
      }
    }
    val rejects = spark.read.parquet(s"$staging/rejects")
      .groupBy(Qa.FlagCol).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = specs.flatMap(s => s.tagCol.toSeq.flatMap { tc =>
      val (_, _, dup, miss) = expected(s)
      Seq(reason("dup", tc) -> dup, reason("miss", tc) -> miss)
    }).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }.filter(_._2 > 0)
    expect(rejects == want, s"published rejects by reason $rejects, want $want")
    val outBytes = Dirs.parquetBytes(staging)
    info("output_bytes") = outBytes
    info("out_bytes_per_in_byte") = outBytes.toDouble / Dirs.parquetBytes(in)
    info("output_digest") = Digest.of(spark.read.parquet(s"$staging/RESERVES_AND_RESTRICTIONS"))
    info("input_digest") = Digest.ofTables(spark,
      (specs.map(_.name) :+ WinsGen.PodName).map(n => s"$in/$n.parquet"))
  }
}
