package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.{Ops, Pipeline, Qa, Sinks}
import graft.engine.Pipeline.{CalcRule, Enrich, QaRules}

/** End-to-end golden test mirroring the reference trace for
  * RESERVES_AND_RESTRICTIONS (SURVEY §3.3; FIXTURES.md §B edge rows):
  * every required edge case rides through one pipeline run. */
class PipelineSpec extends SparkSpec {
  import sqlContext.implicits._

  // FIXTURES §B: tags '' vs populated; RV%/RS%/neither; duplicate TRRR_TAG
  // group; tags with 0, 1, 2+ POD matches; a row hit by both QA rules.
  private def download = Seq(
    ("RV01", "appended", "none"),  // RV rule, 1 POD match
    ("RS02", "appended", "none"),  // RS rule, 2 POD matches (first-match)
    ("XX03", "appended", "none"),  // no calc rule, 1 POD match
    ("DUP4", "appended", "none"),  // duplicate pair -> rule 1...
    ("DUP4", "appended", "none"),  //   ...both rows rejected
    ("MISS", "appended", "none"),  // 1 POD match? no -> rule 2 reject
    ("", "appended", "none")       // blank -> NULL -> no POD match -> rule 2
  ).toDF("TRRR_TAG", "FEATURE_CODE", "extra_col")

  private def template =
    Seq.empty[(String, String, String)].toDF("TRRR_TAG", "FEATURE_CODE", "DESCRIPTION")

  private def pod = Seq(
    ("RV01", "rv descr", 1), ("RS02", "rs descr A", 2), ("RS02", "rs descr B", 3),
    ("XX03", "xx descr", 4), ("DUP4", "dup descr", 5), ("UNUSED", "no tag", 6)
  ).toDF("PNTS_CODE", "PNTS_DESCR", "OID")

  private def run() = Pipeline.runTable(
    name = "RESERVES_AND_RESTRICTIONS",
    download = download,
    template = template,
    calcRules = Seq(
      CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RV%"), lit("EA83030000")),
      CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RS%"), lit("EA83040000"))),
    blankToNullFields = Seq("TRRR_TAG"),
    enrich = Some(Enrich(pod, "TRRR_TAG", "PNTS_CODE", Seq(col("OID")),
      Map("DESCRIPTION" -> "PNTS_DESCR"))),
    qa = Some(QaRules(
      Seq("TRRR_TAG"), "Duplicate TRRR_TAG",
      pod, "TRRR_TAG", "PNTS_CODE", "TRRR_TAG not found in Water POD Table")))

  test("e2e golden: counts, calc rules, first-match enrichment, QA routing") {
    val r = run()
    assert(r.report.inputRows == 7)
    assert(r.report.keptRows == 3) // RV01, RS02, XX03
    assert(r.report.rejectsByReason == Map(
      "Duplicate TRRR_TAG" -> 2,
      "TRRR_TAG not found in Water POD Table" -> 2)) // MISS + blank->NULL

    val keep = r.keep.select("TRRR_TAG", "FEATURE_CODE", "DESCRIPTION")
      .collect().map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet
    assert(keep == Set(
      ("RV01", "EA83030000", "rv descr"),
      ("RS02", "EA83040000", "rs descr A"), // first match by OID, row never multiplied
      ("XX03", "appended", "xx descr")))    // untouched by calc rules
    // extra_col dropped by NO_TEST append; template schema + flag on rejects
    assert(r.keep.columns.toSeq == Seq("TRRR_TAG", "FEATURE_CODE", "DESCRIPTION"))
    assert(r.rejects.columns.contains(Qa.FlagCol))
    // dup rows rejected by rule 1 carry rule 1's reason even though DUP4
    // also has a POD match state (reason precedence, reference :268)
    val dupReasons = r.rejects.filter(col("TRRR_TAG") === "DUP4")
      .select(Qa.FlagCol).as[String].collect().toSet
    assert(dupReasons == Set("Duplicate TRRR_TAG"))
  }

  test("runTable: the report carries as-executed layout stats (straggler predictor where users look)") {
    val r = run()
    val ls = r.report.layout.getOrElse(fail("layout stats missing from the run report"))
    assert(ls.nPartitions > 0)
    assert(ls.minRows >= 1 && ls.minRows <= ls.maxRows) // non-empty partitions only
    // the layout describes exactly the counted input: rows distribute over
    // partitions, and skew is max over average (>= 1 by construction)
    assert(ls.nPartitions * ls.maxRows >= r.report.inputRows)
    assert(ls.skew >= 1.0)
    assert(math.abs(ls.avgRows * ls.nPartitions - r.report.inputRows) < 0.01 * ls.nPartitions + 1e-9)
    r.unpersist()

    // empty input: no non-empty partitions to describe -> None, loudly typed
    val empty = Pipeline.runTable(
      name = "empty", download = template, template = template,
      calcRules = Nil, blankToNullFields = Nil, enrich = None, qa = None)
    assert(empty.report.inputRows == 0 && empty.report.layout.isEmpty)
    empty.unpersist()
  }

  test("runTable: the QA input is evaluated once across counts and both sink reads (persisted split)") {
    val acc = spark.sparkContext.longAccumulator("source-evals")
    // the fence (asNondeterministic) stops Catalyst duplicating the tick
    // into each downstream reference; with the persist in runTable the
    // column is then evaluated exactly once per source row regardless of
    // how many consumers read the split
    val tick = udf { (s: String) => acc.add(1L); s }.asNondeterministic()
    val r = Pipeline.runTable(
      name = "tick",
      download = download.withColumn("TRRR_TAG", tick(col("TRRR_TAG"))),
      template = template,
      calcRules = Seq(CalcRule("FEATURE_CODE", col("TRRR_TAG").like("RV%"), lit("X"))),
      blankToNullFields = Seq("TRRR_TAG"),
      enrich = Some(Enrich(pod, "TRRR_TAG", "PNTS_CODE", Seq(col("OID")),
        Map("DESCRIPTION" -> "PNTS_DESCR"))),
      qa = Some(QaRules(
        Seq("TRRR_TAG"), "dup", pod, "TRRR_TAG", "PNTS_CODE", "ref")))
    r.keep.count()    // sink read 1
    r.rejects.count() // sink read 2
    assert(acc.value == 7) // one evaluation per source row, total — not 3x
    r.unpersist()
  }

  test("runAndPublish: merged reject table keeps the UNION of all reject schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staging2").toString + "/staged"
    val r1 = Pipeline.TableResult(
      Seq("a1").toDF("TRRR_TAG"),
      Seq(("a1", "colA", "dup")).toDF("TRRR_TAG", "only_in_t1", Qa.FlagCol),
      Pipeline.RunReport("t1", 2, 1, Map("dup" -> 1)))
    val r2 = Pipeline.TableResult(
      Seq("b1").toDF("TNTH_TAG"),
      Seq(("b1", "colB", "ref")).toDF("TNTH_TAG", "only_in_t2", Qa.FlagCol),
      Pipeline.RunReport("t2", 2, 1, Map("ref" -> 1)))
    Pipeline.runAndPublish(Seq("t1" -> r1, "t2" -> r2), dir)
    val rejects = spark.read.parquet(s"$dir/rejects")
    assert(rejects.columns.toSet ==
      Set("TRRR_TAG", "only_in_t1", Qa.FlagCol, "TNTH_TAG", "only_in_t2"))
    assert(rejects.count() == 2) // neither table's payload dropped
  }

  test("publish: atomic staging swap; failed run leaves previous staging intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staging").toString + "/staged"
    val r = run()
    Pipeline.runAndPublish(Seq("RRR" -> r), dir)
    val published = spark.read.parquet(s"$dir/RRR")
    assert(published.count() == 3)
    assert(spark.read.parquet(s"$dir/rejects").count() == 4)

    // second publish with a poisoned table: staging must keep version 1
    val boom = udf { (s: String) =>
      if (s != null) throw new RuntimeException("decode failure"); s
    }
    val poisoned = r.keep.withColumn("TRRR_TAG", boom(col("TRRR_TAG")))
    intercept[Exception] {
      Sinks.publish(Map("RRR" -> poisoned), dir)
    }
    assert(spark.read.parquet(s"$dir/RRR").count() == 3) // old version intact
  }

  test("runTable: classified keep/rejects/report equal the sequential runRules reference") {
    // generated tags mix NULL, blank (-> NULL), matched, unmatched and
    // duplicated values, so some rows are both duplicated and unmatched
    // (the dup reason must win) and NULL tags are both duplicated and
    // unmatched
    val tags = Gen.listOfN(25, Gen.oneOf(
      Some("A"), Some("B"), Some("C"), Some("ZZ"), Some("YY"), Some(""), None))
    val dim = Seq("A", "B", "X").toDF("CODE")
    val tmpl = Seq.empty[(String, Int)].toDF("TRRR_TAG", "ROW_ID")
    (1 to 8).foreach { i =>
      val rows = tags.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val df = rows.zipWithIndex.toDF("TRRR_TAG", "ROW_ID")
      val r = Pipeline.runTable(
        name = s"gen$i", download = df, template = tmpl,
        calcRules = Nil, blankToNullFields = Seq("TRRR_TAG"), enrich = None,
        qa = Some(QaRules(Seq("TRRR_TAG"), "dup", dim, "TRRR_TAG", "CODE", "ref")))
      val blanked = Ops.blankToNull(Ops.appendNoTest(tmpl, df), "TRRR_TAG")
      val ref = Qa.runRules(blanked, blanked.limit(0).withColumn(Qa.FlagCol, lit("")), Seq(
        d => Qa.dupSplit(d, Seq("TRRR_TAG"), "dup"),
        d => Qa.refSplit(d, dim, "TRRR_TAG", "CODE", "ref")))
      def ids(d: org.apache.spark.sql.DataFrame) = d.select("ROW_ID").as[Int].collect().toSet
      def flags(d: org.apache.spark.sql.DataFrame) =
        d.select("ROW_ID", Qa.FlagCol).as[(Int, String)].collect().toMap
      assert(ids(r.keep) == ids(ref.keep), s"seed $i keep")
      assert(flags(r.rejects) == flags(ref.rejects), s"seed $i rejects")
      assert(r.keep.columns.toSeq == ref.keep.columns.toSeq)
      assert(r.rejects.columns.toSeq == ref.rejects.columns.toSeq)
      val refReasons = flags(ref.rejects).values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(r.report == Pipeline.RunReport(s"gen$i", rows.size,
        ids(ref.keep).size, refReasons, r.report.layout), s"seed $i report")
      r.unpersist()
    }
  }

  test("runTable: one action per table — a single collect yields counts, reasons and layout") {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName): Unit
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = actions.add(s"failed $funcName"): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)
    spark.listenerManager.register(listener)
    val r =
      try { val r = run(); org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc); r }
      finally spark.listenerManager.unregister(listener)
    assert(actions.toArray.toSeq == Seq("collect"))
    r.unpersist()
  }

  test("runTable: the report is one job whose plan holds no Exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    def listened[A](body: => A): A = {
      org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)
      plans.clear(); jobs.set(0)
      spark.listenerManager.register(qeListener)
      sc.addSparkListener(jobListener)
      try { val a = body; org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc); a }
      finally { spark.listenerManager.unregister(qeListener); sc.removeSparkListener(jobListener) }
    }
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan) =
      helper.collect(p) { case e: org.apache.spark.sql.execution.exchange.Exchange => e }

    // no QA and no enrichment: building the cache needs no job of its
    // own, so every job counted is the report's
    val plain = listened(Pipeline.runTable(
      name = "plain", download = download, template = template,
      calcRules = Nil, blankToNullFields = Nil, enrich = None, qa = None))
    assert(jobs.get == 1, s"report ran ${jobs.get} jobs")
    assert(plans.size == 1 && exchanges(plans.peek).isEmpty, plans.peek.toString)
    assert(plain.report.inputRows == 7 && plain.report.layout.nonEmpty)
    plain.unpersist()

    // with both QA rules the cache's own plan shuffles, the report's does not
    val r = listened(run())
    assert(plans.size == 1 && exchanges(plans.peek).isEmpty, plans.peek.toString)
    r.unpersist()
  }

  test("runAndPublish: the source is evaluated once across the count and every published write") {
    val acc = spark.sparkContext.longAccumulator("source-evals-publish")
    val tick = udf { (s: String) => acc.add(1L); s }.asNondeterministic()
    val dir = java.nio.file.Files.createTempDirectory("graft-staging3").toString + "/staged"
    val r = Pipeline.runTable(
      name = "tick",
      download = download.withColumn("TRRR_TAG", tick(col("TRRR_TAG"))),
      template = template,
      calcRules = Nil,
      blankToNullFields = Seq("TRRR_TAG"),
      enrich = Some(Enrich(pod, "TRRR_TAG", "PNTS_CODE", Seq(col("OID")),
        Map("DESCRIPTION" -> "PNTS_DESCR"))),
      qa = Some(QaRules(
        Seq("TRRR_TAG"), "dup", pod, "TRRR_TAG", "PNTS_CODE", "ref")))
    val plain = Pipeline.runTable(
      name = "plain", download = download, template = template,
      calcRules = Nil, blankToNullFields = Nil, enrich = None, qa = None)
    Pipeline.runAndPublish(Seq("tick" -> r, "plain" -> plain), dir)
    assert(acc.value == 7) // count + keep write + merged-rejects write: one evaluation
    assert(spark.read.parquet(s"$dir/tick").count() == 3)
    assert(spark.read.parquet(s"$dir/plain").count() == 7)
    assert(spark.read.parquet(s"$dir/rejects").count() == 4)
  }

  test("publish: one poisoned table among several leaves the previous staging, no .tmp, no running write") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staging4").toString + "/staged"
    Pipeline.runAndPublish(Seq("RRR" -> run()), dir)
    val sc = spark.sparkContext
    val slowRows = sc.longAccumulator("slow-rows")
    val slow = udf { (x: Int) => Thread.sleep(100); slowRows.add(1L); x }
    val boom = udf { (s: String) =>
      if (s != null) throw new RuntimeException("decode failure"); s
    }
    val group = "publish-poison-probe"
    sc.setJobGroup(group, "poisoned publish")
    try intercept[Exception] {
      Sinks.publish(Map(
        "RRR" -> download.withColumn("TRRR_TAG", boom(col("TRRR_TAG"))),
        "SLOW" -> (1 to 8).toDF("x").repartition(2).withColumn("x", slow(col("x"))),
        "OK" -> download), dir)
    } finally sc.clearJobGroup()
    // the failure surfaced only after the slow sibling wrote every row
    assert(slowRows.value == 8)
    org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)
    val running = sc.statusTracker.getJobIdsForGroup(group).toSeq
      .flatMap(sc.statusTracker.getJobInfo)
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    assert(running.isEmpty, s"jobs still running after publish failed: ${running.map(_.jobId)}")
    assert(!new java.io.File(dir + ".tmp").exists(), "staging debris left behind")
    assert(new java.io.File(dir).list().toSet == Set("RRR", "rejects"))
    assert(spark.read.parquet(s"$dir/RRR").count() == 3) // previous version intact
  }
}
