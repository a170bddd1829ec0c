package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Dataset-curation semantics: hash-stable splits, packing indices. */
class CurationSpec extends SparkSpec {
  import sqlContext.implicits._

  test("assignSplits: deterministic under reordering/partitioning; proportions near the cuts") {
    val ids = (1L to 1000L).toDF("doc_id")
    val a = Curation.assignSplits(ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // same assignment regardless of row order and partition count
    val b = Curation.assignSplits(ids.orderBy(rand(7)).repartition(13), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    val bySplit = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bySplit("train") > 750 && bySplit("train") < 850) // ~80% of 1000
    assert(bySplit("val") > 60 && bySplit("val") < 140)
    assert(bySplit("test") > 60 && bySplit("test") < 140)
    // hash stability: growing the corpus never migrates existing ids
    val grown = Curation.assignSplits((1L to 2000L).toDF("doc_id"), "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.forall { case (id, s) => grown(id) == s })
  }

  test("assignSplits: percents must sum to 100") {
    intercept[IllegalArgumentException](
      Curation.assignSplits(Seq(1L).toDF("doc_id"), "doc_id", Seq("a" -> 50, "b" -> 40)))
  }

  test("null ids: assignSplits gives NULL split (not the last cut); stratifiedSample drops them") {
    val docs = Seq(Some(1L), None, Some(2L)).toDF("doc_id")
    val splits = Curation.assignSplits(docs, "doc_id")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        Option(r.getString(1))).toMap
    assert(splits(None).isEmpty)         // null id -> null split, row kept
    assert(splits(Some(1L)).nonEmpty && splits(Some(2L)).nonEmpty)
    val sampled = Curation.stratifiedSample(
      docs.withColumn("lang", lit("en")), "doc_id", "lang", Map("en" -> 1.0))
      .collect().map(_.getLong(0)).toSet
    assert(sampled == Set(1L, 2L))       // null id never passes the draw
  }

  test("stratifiedSample: rates just below 1.0 keep ~everything (rounding to 65536 is all-pass)") {
    // 0.999995 * 65536 rounds to 65536; formatting that as "10000" would
    // string-sort below most draws and silently keep ~6%
    val docs = (1L to 2000L).map(i => (i, "en")).toDF("doc_id", "lang")
    assert(Curation.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 0.999995))
      .count() == 2000L)
  }

  test("stratifiedSample: per-stratum rates hold; membership hash-stable; 0 and 1 are exact") {
    val docs = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val kept = Curation.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byLang = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLang("en") > 850 && byLang("en") < 1150)  // ~50% of 2000
    assert(byLang("de") > 120 && byLang("de") < 280)   // ~10% of 2000
    // hash-stable: growing the corpus never flips existing membership
    val grownIds = Curation.stratifiedSample(
      (1L to 8000L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.1))
      .collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).toSet == grownIds.filter(_ <= 4000L))
    // boundary rates are exact, including the 1.0 sentinel above 'ffff'
    assert(Curation.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 1.0, "de" -> 0.0))
      .collect().map(r => r.getString(1)).toSet == Set("en"))
    assert(Curation.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 1.0), defaultRate = 1.0)
      .count() == 4000L)
    intercept[IllegalArgumentException](
      Curation.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 1.5)))
  }

  test("contamination: fraction of distinct doc shingles present in the benchmark set") {
    val corpus = Seq(
      (1L, "a b c d e"),     // shingles {abc,bcd,cde}
      (2L, "x y z w v"),     // disjoint from benchmark
      (3L, "a b c q r s"),   // {abc,bcq,cqr,qrs}: 1 of 4 in benchmark
      (4L, "too short")      // no 3-gram shingles -> 0.0
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val out = Curation.contamination(corpus, benchmark, "doc_id", "text", shingleN = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 1.0, 2L -> 0.0, 3L -> 0.25, 4L -> 0.0))
  }

  test("mixPlan: hand-computed plan — binding stratum, rates, planned mass; off-recipe strata absent") {
    val docs = ((1 to 100).map(i => (i.toLong, "en")) ++
      (101 to 130).map(i => (i.toLong, "de")) ++
      (131 to 140).map(i => (i.toLong, "zh"))) // off-recipe
      .toDF("doc_id", "lang")
    val plan = Curation.mixPlan(docs, "lang", Map("en" -> 0.5, "de" -> 0.3))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getInt(5)))).toMap
    // perw: en 100/0.5 = 200, de 30/0.3 = 100 -> scale 100, de binds
    assert(plan.keySet == Set("en", "de")) // zh is off-recipe
    assert(plan("en") == ((100L, 0.5, 50.0, 0.5, 0)))
    assert(plan("de") == ((30L, 0.3, 30.0, 1.0, 1)))
  }

  test("mixPlan: sizeCol weighs by mass (NULL sizes carry none); ties flag every binding stratum") {
    val docs = Seq(
      (1L, "en", Some(60L)), (2L, "en", Some(40L)), (3L, "en", None),
      (4L, "de", Some(50L))).toDF("doc_id", "lang", "n_tok")
    val plan = Curation.mixPlan(docs, "lang", Map("en" -> 0.5, "de" -> 0.25),
      sizeCol = Some("n_tok"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(5)))).toMap
    // available: en 100, de 50; perw: en 200, de 200 -> a tie, BOTH bind
    assert(plan == Map("en" -> ((100L, 1)), "de" -> ((50L, 1))))
  }

  test("mixPlan: a recipe stratum with no rows (or all-NULL sizes) fails loudly, never a truncated plan") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val docs = Seq((1L, "en", Some(10L))).toDF("doc_id", "lang", "n_tok")
    val absent = intercept[Exception](
      Curation.mixPlan(docs, "lang", Map("en" -> 0.5, "de" -> 0.5)).collect())
    assert(msgs(absent).exists(_.contains("recipe strata with no rows")),
      msgs(absent).mkString("\n"))
    val allNull = intercept[Exception](
      Curation.mixPlan(
        Seq((1L, "en", Some(10L)), (2L, "de", Option.empty[Long]))
          .toDF("doc_id", "lang", "n_tok"),
        "lang", Map("en" -> 0.5, "de" -> 0.5), sizeCol = Some("n_tok"))
        .collect())
    assert(msgs(allNull).exists(_.contains("recipe strata with no rows")),
      msgs(allNull).mkString("\n"))
    // EVERY stratum absent (mistyped table/column) must raise too — an
    // in-plan guard has no row to ride on an empty aggregate, and a
    // silently empty plan is the exact failure the guard exists for
    val allAbsent = intercept[Exception](
      Curation.mixPlan(docs, "lang", Map("xx" -> 0.5, "yy" -> 0.5)))
    assert(msgs(allAbsent).exists(m =>
      m.contains("recipe strata with no rows") && m.contains("xx")),
      msgs(allAbsent).mkString("\n"))
    intercept[IllegalArgumentException](
      Curation.mixPlan(docs, "lang", Map.empty[String, Double]))
    intercept[IllegalArgumentException](
      Curation.mixPlan(docs, "lang", Map("en" -> -1.0)))
  }

  test("decontaminate: benchmark spans stripped exactly, clean docs byte-identical, gate routes hollow docs") {
    // deterministic distinct texts: seeded Random, alphanumeric — flanks and
    // span share no 16-gram by construction (distinct random content)
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      Iterator.continually(r.nextPrintableChar()).filter(_.isLetterOrDigit)
        .take(n).mkString
    }
    val span = rnd(1, 80)
    val clean = rnd(2, 120)
    val corpus = Seq(
      (1L, rnd(11, 32) + span + rnd(12, 32)), // planted 80-char benchmark span
      (2L, clean),                            // shares nothing
      (3L, null.asInstanceOf[String])         // nothing trainable
    ).toDF("doc_id", "text")
    val benchmark = Seq((100L, rnd(21, 32) + span + rnd(22, 32)))
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, benchmark, "doc_id", "text",
      k = 16, w = 8, minShared = 1, maxFingerprintDf = 20, minCharsAfter = 60)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)), r.getLong(2), r.getInt(3)))
      .toMap
    // the planted span is removed char-exactly; the flanks survive intact
    assert(out(1L) == (rnd(11, 32) + rnd(12, 32), 80L, 1))
    // an untouched document passes byte-identical and keeps
    assert(out(2L) == (clean, 0L, 1))
    // NULL text: passthrough, nothing removed, nothing trainable -> routed out
    assert(out(3L) == (null, 0L, 0))
    // only corpus rows come back; the benchmark is read-only
    assert(out.keySet == Set(1L, 2L, 3L))
    // a corpus already carrying `kept` is an upstream routing decision
    // this gate must not silently overwrite
    val clash = intercept[IllegalArgumentException](
      Curation.decontaminate(
        corpus.withColumn("kept", org.apache.spark.sql.functions.lit(1)),
        benchmark, "doc_id", "text"))
    assert(clash.getMessage.contains("kept"), clash.getMessage)
  }

  test("decontaminate releases the benchmark fingerprints: only the partner-pair checkpoint stays pinned") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      Iterator.continually(r.nextPrintableChar()).filter(_.isLetterOrDigit)
        .take(n).mkString
    }
    val span = rnd(1, 80)
    val corpus = Seq((1L, rnd(11, 32) + span + rnd(12, 32)), (2L, rnd(2, 120)))
      .toDF("doc_id", "text")
    val benchmark = Seq((100L, rnd(21, 32) + span + rnd(22, 32)))
      .toDF("doc_id", "text")
    val (one, added) = persistedBy(Curation.decontaminate(corpus, benchmark,
      "doc_id", "text", minShared = 1, minCharsAfter = 60))
    assert(added.size == 1, s"persisted RDDs left by decontaminate: $added")
    val (multi, addedMulti) = persistedBy(Curation.decontaminateMulti(corpus,
      Seq("a" -> benchmark, "b" -> benchmark), "doc_id", "text",
      minShared = 1, minCharsAfter = 60))
    assert(addedMulti.size == 1, s"persisted RDDs left by decontaminateMulti: $addedMulti")
    // the returned frames read only the partner checkpoint: they still collect
    val stripped = rnd(11, 32) + rnd(12, 32)
    for (out <- Seq(one, multi)) {
      val text = out.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(text == Map(1L -> stripped, 2L -> rnd(2, 120)))
    }
  }

  test("decontaminateMulti: union strip with per-benchmark attribution; shared spans count toward both; cross-benchmark id collisions don't alias") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      Iterator.continually(r.nextPrintableChar()).filter(_.isLetterOrDigit)
        .take(n).mkString
    }
    // corpus flanks carry non-alphanumeric BOUNDARY chars so no k-gram
    // crossing a span edge can collide with a benchmark gram by a
    // 1-in-62 boundary-char coincidence (the planted coverage must be
    // char-exact for the attribution assertions)
    def flank(seed: Int) = "(" + rnd(seed, 30) + ")"
    val spanA = rnd(41, 80); val spanB = rnd(42, 80); val shared = rnd(43, 80)
    val corpus = Seq(
      (1L, flank(51) + spanA + flank(52)),  // leaks benchmark a only
      (2L, flank(53) + spanB + flank(54)),  // leaks benchmark b only
      (3L, flank(55) + spanA + flank(56) + spanB + flank(57)), // both
      (4L, flank(58) + shared + flank(59)), // a span BOTH benchmarks hold
      (5L, rnd(60, 120))                    // clean
    ).toDF("doc_id", "text")
    // both benchmarks reuse id 100 — the per-benchmark namespacing must
    // keep their fingerprint counts apart
    val bA = Seq((100L, rnd(61, 32) + spanA + rnd(62, 32)),
      (101L, rnd(63, 32) + shared + rnd(64, 32))).toDF("doc_id", "text")
    val bB = Seq((100L, rnd(65, 32) + spanB + rnd(66, 32)),
      (102L, rnd(67, 32) + shared + rnd(68, 32))).toDF("doc_id", "text")
    val out = Curation.decontaminateMulti(corpus,
      Seq("a" -> bA, "b" -> bB), "doc_id", "text",
      k = 16, w = 8, minShared = 1, maxFingerprintDf = 20, minCharsAfter = 60)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_removed_a"), r.getAs[Long]("n_removed_b"),
          r.getAs[Int]("kept")))).toMap
    assert(out(1L) == ((flank(51) + flank(52), 80L, 80L, 0L, 1)), out(1L))
    assert(out(2L) == ((flank(53) + flank(54), 80L, 0L, 80L, 1)), out(2L))
    // disjoint spans from two benchmarks: union = sum
    assert(out(3L) ==
      ((flank(55) + flank(56) + flank(57), 160L, 80L, 80L, 1)), out(3L))
    // the SAME span held by both: removed once, attributed to both
    // (Σ n_removed_<b> > n_removed is the documented overlap semantics)
    assert(out(4L) == ((flank(58) + flank(59), 80L, 80L, 80L, 1)), out(4L))
    assert(out(5L) == ((rnd(60, 120), 0L, 0L, 0L, 1)), out(5L))
    intercept[IllegalArgumentException](
      Curation.decontaminateMulti(corpus, Seq.empty, "doc_id", "text"))
    intercept[IllegalArgumentException](
      Curation.decontaminateMulti(corpus,
        Seq("a" -> bA, "a" -> bB), "doc_id", "text"))
    intercept[IllegalArgumentException](
      Curation.decontaminateMulti(corpus,
        Seq("a-b" -> bA), "doc_id", "text"))
    // feeding a prior pass's output back through must not silently
    // overwrite its per-benchmark attribution columns
    val rePass = intercept[IllegalArgumentException](
      Curation.decontaminateMulti(
        corpus.withColumn("n_removed_a", org.apache.spark.sql.functions.lit(0L)),
        Seq("a" -> bA), "doc_id", "text"))
    assert(rePass.getMessage.contains("n_removed_a"), rePass.getMessage)
  }

  test("decontaminate: an id collision across the two datasets must NOT suppress the strip (the leak case)") {
    // the corpus re-contains a benchmark document under the SAME id — the
    // exact eval leakage decontamination exists to catch; an incremental-
    // style same-id guard would silently keep it
    val leaked = {
      val r = new scala.util.Random(31)
      Iterator.continually(r.nextPrintableChar()).filter(_.isLetterOrDigit)
        .take(150).mkString
    }
    val corpus = Seq((7L, leaked)).toDF("doc_id", "text")
    val benchmark = Seq((7L, leaked)).toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, benchmark, "doc_id", "text",
      k = 16, w = 8, minShared = 1, maxFingerprintDf = 20, minCharsAfter = 60)
      .collect()
    assert(out.length == 1)
    val r = out.head
    // fully stripped: the whole document was the benchmark
    assert(r.getString(1) == "" && r.getLong(2) == 150L && r.getInt(3) == 0)
  }

  test("decontaminate: gate boundary is >= minCharsAfter; df cap is computed on the BENCHMARK index side") {
    def rnd(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      Iterator.continually(r.nextPrintableChar()).filter(_.isLetterOrDigit)
        .take(n).mkString
    }
    val atCut = rnd(41, 60)
    val below = rnd(42, 59)
    val gate = Curation.decontaminate(
      Seq((1L, atCut), (2L, below)).toDF("doc_id", "text"),
      Seq((100L, rnd(43, 40))).toDF("doc_id", "text"),
      "doc_id", "text", minCharsAfter = 60)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(gate == Map(1L -> 1, 2L -> 0))
    // a span present in MORE than maxFingerprintDf benchmark docs is
    // benchmark boilerplate: its fingerprints drop from the index before
    // pairing, so the corpus doc survives unstripped (three byte-identical
    // benchmark docs -> every index fingerprint has df = 3 > cap 2)
    val span = rnd(44, 80)
    val benchText = rnd(47, 32) + span + rnd(48, 32)
    val bench = (100L to 102L).map(i => (i, benchText)).toDF("doc_id", "text")
    val corpusDoc = rnd(45, 32) + span + rnd(46, 32)
    val capped = Curation.decontaminate(
      Seq((1L, corpusDoc)).toDF("doc_id", "text"), bench,
      "doc_id", "text", k = 16, w = 8, minShared = 1,
      maxFingerprintDf = 2, minCharsAfter = 10)
      .collect().head
    assert(capped.getString(1) == corpusDoc && capped.getLong(2) == 0L)
  }

  test("temperatureSample: head stratum shrinks toward n^alpha, min stratum keeps all, deterministic, NULL stratum survives") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val counts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    val out = Curation.temperatureSample(docs, "doc_id", "lang", alpha = 0.5)
    val kept = out.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (lang, n) =>
      val expected = n * math.sqrt(nMin.toDouble / n)
      // md5 buckets are a uniform draw: allow 5 binomial standard deviations
      val p = math.sqrt(nMin.toDouble / n)
      val tol = 5 * math.sqrt(n * p * (1 - p)) + 1
      assert(math.abs(kept.getOrElse(lang, 0L) - expected) <= tol,
        s"$lang: kept ${kept.getOrElse(lang, 0L)}, expected ~$expected ± $tol")
    }
    // the smallest stratum's rate is exactly 1 -> every row kept
    assert(kept(counts.minBy(_._2)._1) == nMin)
    // hash-stable: a second evaluation selects the identical row set
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Curation.temperatureSample(docs, "doc_id", "lang", alpha = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // alpha = 1 is the identity (rate 1 for every stratum)
    assert(Curation.temperatureSample(docs, "doc_id", "lang", alpha = 1.0).count()
      == docs.count())
    // a NULL stratum is a group, not a silent drop: as the smallest stratum
    // here it keeps all its rows even at full flattening
    val withNull = Seq((1L, Some("en")), (2L, Some("en")), (3L, Some("en")),
      (4L, None), (5L, None)).toDF("doc_id", "lang")
    val gotNull = Curation.temperatureSample(withNull, "doc_id", "lang", alpha = 0.0)
      .filter(col("lang").isNull).count()
    assert(gotNull == 2L, s"NULL-stratum rows dropped: kept $gotNull of 2")
  }

  test("mixStrata: kept counts hit the target ratios, binding stratum keeps all, off-recipe strata drop") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val weights = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2)
    val counts = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scale = weights.map { case (l, w) => counts(l) / w }.min
    val kept = Curation.mixStrata(docs, "doc_id", "lang", weights)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // only recipe strata appear
    assert(kept.keySet == weights.keySet)
    // the binding stratum (min n/w) keeps everything; others hit S*w
    // within 5 binomial standard deviations of the md5 draw
    weights.foreach { case (l, w) =>
      val expected = scale * w
      val p = expected / counts(l)
      val tol = 5 * math.sqrt(counts(l) * p * (1 - p)) + 1
      assert(math.abs(kept(l) - expected) <= tol,
        s"$l: kept ${kept(l)}, expected ~$expected ± $tol")
    }
    val binding = weights.minBy { case (l, w) => counts(l) / w }._1
    assert(kept(binding) == counts(binding))
    // resulting shares match the recipe to sampling noise
    val total = kept.values.sum.toDouble
    weights.foreach { case (l, w) =>
      assert(math.abs(kept(l) / total - w / weights.values.sum) < 0.05,
        s"$l share ${kept(l) / total}")
    }
    intercept[IllegalArgumentException](
      Curation.mixStrata(docs, "doc_id", "lang", Map.empty))
    intercept[IllegalArgumentException](
      Curation.mixStrata(docs, "doc_id", "lang", Map("en" -> 0.0)))
    // non-finite weights would make scale 0 and silently empty the output
    intercept[IllegalArgumentException](
      Curation.mixStrata(docs, "doc_id", "lang",
        Map("en" -> Double.PositiveInfinity, "de" -> 0.3)))
    // a recipe stratum absent from the data fails loudly instead of
    // silently renormalizing the mixture over the present strata
    val eAbsent = intercept[IllegalArgumentException](
      Curation.mixStrata(docs, "doc_id", "lang",
        Map("en" -> 0.5, "xx" -> 0.5)))
    assert(eAbsent.getMessage.contains("xx"))
  }

  test("mixApply: exact per-stratum counts, binding kept whole, deterministic under relayout") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val weights = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2)
    val counts = docs.filter(col("lang").isin("en", "de", "es"))
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val perW = weights.map { case (l, w) => l -> counts(l) / w }
    val scale = perW.values.min
    val expected = weights.map { case (l, w) =>
      l -> (if (perW(l) == scale) counts(l)
            else math.min(counts(l), math.floor(scale * w).toLong))
    }
    val kept = Curation.mixApply(docs, "doc_id", "lang", weights)
    val keptCounts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // EXACT counts — not mixStrata's expectation-with-jitter
    assert(keptCounts == expected, s"got $keptCounts, want $expected")
    val binding = perW.minBy(_._2)._1
    assert(keptCounts(binding) == counts(binding), "binding stratum not kept whole")
    // membership is identical under a hostile relayout
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Curation.mixApply(
        docs.repartition(13, col("n_chars")).sortWithinPartitions(col("text")),
        "doc_id", "lang", weights)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2, "selection not layout-stable")
    intercept[IllegalArgumentException](
      Curation.mixApply(docs, "doc_id", "lang", Map.empty))
    intercept[IllegalArgumentException](
      Curation.mixApply(docs, "doc_id", "lang", Map("en" -> 0.0)))
    val eAbsent = intercept[IllegalArgumentException](
      Curation.mixApply(docs, "doc_id", "lang", Map("en" -> 0.5, "xx" -> 0.5)))
    assert(eAbsent.getMessage.contains("xx"))
  }

  test("mixStrataFromPlan: stored plan applies identically to mixStrata; frozen rates don't re-plan on a grown batch") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val weights = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2)
    val plan = Curation.mixPlan(docs, "lang", weights)
    val viaPlan = Curation.mixStrataFromPlan(docs, "doc_id", "lang", plan)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val direct = Curation.mixStrata(docs, "doc_id", "lang", weights)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaPlan == direct, "plan->apply must equal the direct mix")
    // frozen rates: applying the SAME plan to a half-sized batch keeps
    // exactly the intersection (a re-plan would change every rate)
    val half = docs.filter(col("doc_id") % 2 === 0)
    val onHalf = Curation.mixStrataFromPlan(half, "doc_id", "lang", plan)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(onHalf == direct.filter(_ % 2 == 0), "rates re-planned?")
    intercept[IllegalArgumentException](
      Curation.mixStrataFromPlan(docs, "doc_id", "lang", plan.drop("rate")))
    intercept[IllegalArgumentException](
      Curation.mixStrataFromPlan(docs, "doc_id", "lang", plan.limit(0)))
  }

  test("mixApplyBudget: greedy prefix within the mass budget, binding stratum whole, NULL sizes excluded") {
    // en mass 40 (4×10), de mass 10 (2×5); weights .5/.5 → perW en 80,
    // de 20 → de binds (scale 20): budget en = 10.0, de = 10 exact.
    // Greedy prefix: en keeps exactly ONE 10-char row, de keeps both.
    val docs = Seq(
      (Some(1L), "en", Some(10L)), (Some(2L), "en", Some(10L)),
      (Some(3L), "en", Some(10L)), (Some(4L), "en", Some(10L)),
      (Some(5L), "en", None),      // NULL size: unselectable mass
      (None, "en", Some(10L)),     // NULL id: no stable draw
      (Some(10L), "de", Some(5L)), (Some(11L), "de", Some(5L)),
      (Some(20L), "zh", Some(9L))) // off-recipe
      .toDF("doc_id", "lang", "sz")
    val kept = Curation.mixApplyBudget(docs, "doc_id", "lang", "sz",
      Map("en" -> 0.5, "de" -> 0.5))
    val byLang = kept.groupBy("lang").agg(
        count(lit(1)).as("n"), sum("sz").as("m"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byLang == Map("en" -> ((1L, 10L)), "de" -> ((2L, 10L))),
      byLang.toString)
    assert(kept.filter(col("doc_id").isNull || col("sz").isNull).count() == 0)
    // deterministic under relayout
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Curation.mixApplyBudget(
        docs.repartition(7, col("sz")), "doc_id", "lang", "sz",
        Map("en" -> 0.5, "de" -> 0.5))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 == ids2, "budget carve not layout-stable")
    val eAbsent = intercept[IllegalArgumentException](
      Curation.mixApplyBudget(docs, "doc_id", "lang", "sz",
        Map("en" -> 0.5, "xx" -> 0.5)))
    assert(eAbsent.getMessage.contains("xx"))
    intercept[IllegalArgumentException](
      Curation.mixApplyBudget(docs, "doc_id", "lang", "sz", Map.empty))
    // a negative size makes the cumulative cut non-monotone (the carve
    // would no longer be a prefix) — loud, naming the stratum
    val neg = docs.union(Seq((Some(99L), "de", Some(-7L)))
      .toDF("doc_id", "lang", "sz"))
    val eNeg = intercept[IllegalArgumentException](
      Curation.mixApplyBudget(neg, "doc_id", "lang", "sz",
        Map("en" -> 0.5, "de" -> 0.5)))
    assert(eNeg.getMessage.contains("negative") &&
      eNeg.getMessage.contains("de"), eNeg.getMessage)
  }

  test("mixApply: NULL ids are excluded from availability and carve; binding stays exact over selectable rows") {
    // en: 4 selectable (+1 NULL id), de: 2 — weights 0.5/0.5 make de bind
    // (2/0.5 = 4 < 8); en takes floor(4*0.5) = 2. The NULL-id row must
    // not inflate en's availability (it can never be carved).
    val docs = Seq(
      (Some(1L), "en"), (Some(2L), "en"), (Some(3L), "en"), (Some(4L), "en"),
      (None, "en"), (Some(10L), "de"), (Some(11L), "de"))
      .toDF("doc_id", "lang")
    val kept = Curation.mixApply(docs, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.5))
    val keptCounts = kept.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptCounts == Map("en" -> 2L, "de" -> 2L), keptCounts.toString)
    assert(kept.filter(col("doc_id").isNull).count() == 0L)
  }

  test("mixing verbs share one recipe: mixApplyBudget over unit sizes is mixApply; mixPlan's binding and rates are what mixApply and mixStrata apply") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val weights = Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val applied = Curation.mixApply(docs, "doc_id", "lang", weights)
    // unit sizes turn the mass budget into the row take, row for row
    assert(ids(Curation.mixApplyBudget(docs.withColumn("one", lit(1L)),
      "doc_id", "lang", "one", weights)) == ids(applied))
    val plan = Curation.mixPlan(docs, "lang", weights).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(4), r.getInt(5))))
      .toMap
    val keptCounts = applied.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // mixApply keeps whole exactly the strata the plan flags binding,
    // and a binding stratum's rate is 1
    plan.foreach { case (l, (avail, rate, binding)) =>
      assert((keptCounts(l) == avail) == (binding == 1), s"$l: ${plan(l)} kept ${keptCounts(l)}")
      if (binding == 1) assert(rate == 1.0, s"$l binds at rate $rate")
    }
    assert(plan.values.count(_._3 == 1) == 1)
    // mixStrata's membership is the "mix"-salted draw under the plan's rates
    val thr = plan.foldLeft(lit(null).cast("string")) { case (rest, (l, (_, r, _))) =>
      val v = math.round(r * 65536).toInt
      when(col("lang") === l, lit(if (v >= 65536) "g000" else f"$v%04x")).otherwise(rest)
    }
    val byRates = docs.filter(
      substring(md5(concat(col("doc_id").cast("string"), lit("|mix"))), 1, 4) < thr)
    assert(ids(Curation.mixStrata(docs, "doc_id", "lang", weights)) == ids(byRates))
    // every verb names itself when a recipe stratum carries no mass
    Seq[(String, () => Any)](
      "mixStrata" -> (() => Curation.mixStrata(docs, "doc_id", "lang", Map("xx" -> 1.0))),
      "mixPlan" -> (() => Curation.mixPlan(docs, "lang", Map("xx" -> 1.0))),
      "mixApply" -> (() => Curation.mixApply(docs, "doc_id", "lang", Map("xx" -> 1.0))),
      "mixApplyBudget" -> (() => Curation.mixApplyBudget(docs.withColumn("z", lit(0L)),
        "doc_id", "lang", "z", Map("en" -> 1.0)))
    ).foreach { case (verb, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$verb: recipe strata with no rows"), e.getMessage)
    }
  }

  test("mixStrata composes with assignSplits: the salted draw keeps recipe ratios inside a split") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val weights = Map("en" -> 0.5, "de" -> 0.5)
    // split first (unsalted draw keeps h < 0xcccc), then mix the train
    // split — an UNSALTED mix draw would nest thresholds: the binding
    // stratum would keep 100% while the other kept min(r, 0.8)/0.8 > r,
    // skewing the 50/50 recipe
    val train = Curation.assignSplits(docs, "doc_id")
      .filter(col("split") === "train").drop("split")
    val kept = Curation.mixStrata(train, "doc_id", "lang", weights)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = kept.values.sum.toDouble
    weights.keys.foreach { l =>
      assert(math.abs(kept(l) / total - 0.5) < 0.06,
        s"$l share ${kept(l) / total} after split+mix")
    }
  }

  test("packIndex: bins by starting token offset per partition; partitions restart at 0") {
    val docs = Seq(
      (1L, "en", 1000L), (2L, "en", 1000L), (3L, "en", 1000L),
      (4L, "en", 1000L), (5L, "en", 1000L),
      (10L, "de", 3000L), (11L, "de", 100L))
      .toDF("doc_id", "lang", "n_tok")
    val packs = Curation.packIndex(docs, "doc_id", "n_tok", 2048L, Seq("lang"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // en start offsets 0,1000,2000,3000,4000 -> bins 0,0,0,1,1
    assert(packs == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L,
      10L -> 0L, 11L -> 1L)) // de restarts: offsets 0, 3000
    intercept[IllegalArgumentException](
      Curation.packIndex(docs, "doc_id", "n_tok", 0L, Seq("lang")))
  }

  test("tokenBudget: shares sum to 1, cumulative walks largest-first, counts exact") {
    val docs = Seq(
      (1L, "en", "a b c d"),   // 4 tokens
      (2L, "en", "a b"),       // 2
      (3L, "de", "x y z"),     // 3
      (4L, "fr", "q")          // 1
    ).toDF("doc_id", "lang", "text")
    val rows = Curation.tokenBudget(docs, "lang", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq("en", "de", "fr")) // largest-first
    assert(rows.map(t => t._1 -> (t._2, t._3)).toMap ==
      Map("en" -> (2L, 6L), "de" -> (1L, 3L), "fr" -> (1L, 1L)))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9) // rounded shares, FP sum
    assert(rows.last._5 == 1.0) // cumulative share terminates at exactly 1
    assert(rows.map(_._5).toSeq == rows.map(_._5).toSeq.sorted) // monotone
  }

  test("capPerStratum: exact cap per stratum, hash-stable selection across partitionings") {
    val docs = (1L to 100L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val capped = Curation.capPerStratum(docs, "doc_id", "source", maxRows = 10)
    val bySrc = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.values.forall(_ == 10L), bySrc.toString)
    // selection is a function of the ids, not the physical layout
    val a = capped.collect().map(_.getLong(0)).toSet
    val b = Curation.capPerStratum(docs.repartition(7), "doc_id", "source", 10)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    // a stratum under the cap keeps everything
    val small = Curation.capPerStratum(docs.limit(5), "doc_id", "source", 10)
    assert(small.count() == 5)
    intercept[IllegalArgumentException](
      Curation.capPerStratum(docs, "doc_id", "source", 0))
  }

  test("sampleFixed: exact size, layout-stable, mostly-stable under corpus growth, TakeOrdered plan") {
    val docs = (1L to 200L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val s1 = Curation.sampleFixed(docs, "doc_id", 20).collect().map(_.getLong(0)).toSet
    assert(s1.size == 20)
    val s2 = Curation.sampleFixed(docs.repartition(9), "doc_id", 20)
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // physical layout never changes the carve
    // growth: new ids displace members only by winning the draw — the new
    // sample is the global top-20, so overlap is whatever survives, and
    // every displaced member lost to a smaller draw (no churn beyond that)
    val grown = (1L to 300L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val s3 = Curation.sampleFixed(grown, "doc_id", 20).collect().map(_.getLong(0)).toSet
    assert(s3.size == 20 && s1.intersect(s3).nonEmpty)
    // TakeOrdered, not a global sort stage
    val plan = Curation.sampleFixed(docs, "doc_id", 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    intercept[IllegalArgumentException](Curation.sampleFixed(docs, "doc_id", 0))
    // NULL ids sort LAST (null draw + null tie-break): they never displace
    // a real id from the carve, entering only when too few real ids exist
    val withNulls = docs.select(
      when(col("doc_id") <= 190, col("doc_id")).as("doc_id"), col("text"))
    val s4 = Curation.sampleFixed(withNulls, "doc_id", 20)
      .collect().map(r => Option(r.get(0)))
    assert(s4.forall(_.nonEmpty), "NULL id entered a carve with enough real ids")
  }

  test("snapshotDiff: all four statuses; column boundaries cannot alias") {
    val ref = Seq((1L, "a", "b"), (2L, "keep", "x"), (3L, "gone", "y"), (5L, "ab", "c"))
      .toDF("id", "t1", "t2")
    val cmp = Seq((1L, "a", "B"), (2L, "keep", "x"), (4L, "new", "z"), (5L, "a", "bc"))
      .toDF("id", "t1", "t2")
    val statuses = Curation.snapshotDiff(ref, cmp, "id", Seq("t1", "t2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses == Map(
      1L -> "changed", 2L -> "unchanged", 3L -> "removed", 4L -> "added",
      // ("ab","c") vs ("a","bc") concatenate identically WITHOUT the
      // separator byte — the hash must keep them distinct
      5L -> "changed"))
    intercept[IllegalArgumentException](
      Curation.snapshotDiff(ref, cmp, "id", Nil))

    // NULL columns must not re-open the aliasing: concat_ws would SKIP a
    // NULL together with its separator, making ("a", NULL) and (NULL, "a")
    // hash identically — the per-column coalesce keeps them distinct
    val refN = Seq((1L, "a", null.asInstanceOf[String])).toDF("id", "t1", "t2")
    val cmpN = Seq((1L, null.asInstanceOf[String], "a")).toDF("id", "t1", "t2")
    val moved = Curation.snapshotDiff(refN, cmpN, "id", Seq("t1", "t2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(moved == Map(1L -> "changed"), moved.toString)
  }

  test("splitLeakage: identical texts across splits surface; same-split dups and uniques don't") {
    val df = Seq(
      (1L, "dup text", "train"), (2L, "dup text", "test"),   // leaky: 2 splits
      (3L, "same side", "train"), (4L, "same side", "train"), // dup but one split
      (5L, "unique", "val"),
      (6L, null.asInstanceOf[String], "train"))
      .toDF("id", "text", "split")
    val out = Curation.splitLeakage(df, "text", "split").collect()
    assert(out.length == 1, out.mkString(";"))
    assert(out.head.getLong(1) == 2 && out.head.getLong(2) == 2, out.head.toString)
    assert(out.head.getString(3) == "test,train", out.head.toString)
  }

  test("packEfficiency: bins/tokens/waste from the greedy packing; oversize docs counted") {
    // budget 10, group g: toks 6,6,6 -> cumulative starts 0,6,12: packs
    // {0,0,1} = 2 bins, 18 tokens, eff 18/20; group h has a 25-token doc
    val df = Seq(
      (1L, "g", 6L), (2L, "g", 6L), (3L, "g", 6L),
      (10L, "h", 25L), (11L, "h", 2L))
      .toDF("id", "grp", "tok")
    val out = Curation.packEfficiency(df, "id", "tok", 10L, Seq("grp"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out("g") == (2L, 3L, 18L, 0L, 0.9), out.toString)
    // h: starts 0,25 -> packs {0,2}: 2 bins, 27 tokens, one oversize doc
    assert(out("h") == (2L, 2L, 27L, 1L, 1.35), out.toString)
    intercept[IllegalArgumentException](
      Curation.packEfficiency(df, "id", "tok", 10L, Seq.empty))
  }

  test("shardManifest: shards cover [0,n), rows conserved, assignment survives repartitioning") {
    val df = (1L to 400L).map(i => (i, 10L + i % 7)).toDF("id", "sz")
    val m = Curation.shardManifest(df, "id", "sz", nShards = 8).collect()
    val byShard = m.map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byShard.keySet.forall(s => s >= 0 && s < 8), byShard.keySet.toString)
    assert(byShard.values.sum == 400L)
    assert(m.map(_.getLong(2)).sum == (1L to 400L).map(i => 10L + i % 7).sum)
    // load_ratio averages 1 by construction; every shard within sane bounds
    // for a uniform draw over 400 ids
    m.foreach(r => assert(r.getDouble(3) > 0.3 && r.getDouble(3) < 3.0, r.toString))
    val re = Curation.shardManifest(df.repartition(13), "id", "sz", 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(re == byShard)
  }

  test("shardManifest: NULL ids surface as their own manifest row, not dropped") {
    val df = Seq((Some(1L), 5L), (None, 7L), (None, 9L))
      .toDF("id", "sz")
    val m = Curation.shardManifest(df, "id", "sz", nShards = 4).collect()
    val nullRow = m.find(_.isNullAt(0))
    assert(nullRow.exists(_.getLong(1) == 2L), m.mkString(";"))
    assert(m.map(_.getLong(1)).sum == 3L)
  }

  test("interleaveOrder: total injective order that round-robins across shards") {
    val df = (1L to 300L).toDF("id")
    val ord = Curation.interleaveOrder(df, "id", nShards = 16).collect()
    assert(ord.length == 300)
    val positions = ord.map(_.getLong(2))
    assert(positions.distinct.length == 300, "global_ord must be collision-free")
    // the round-robin invariant: a row's global position is congruent to
    // its shard id mod nShards
    ord.foreach(r => assert(r.getLong(2) % 16 == r.getInt(1), r.toString))
    // determinism across physical layout
    val re = Curation.interleaveOrder(df.repartition(7), "id", 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re == ord.map(r => r.getLong(0) -> r.getLong(2)).toMap)
  }

  test("interleaveOrder: NULL ids are excluded; window partitions by shard, never globally") {
    val df = Seq(Some(1L), None, Some(2L)).toDF("id")
    val ord = Curation.interleaveOrder(df, "id", nShards = 4)
    assert(ord.count() == 2)
    // scale guard: the ranking window must be partitioned (no move-all-
    // data-to-one-partition WindowExec)
    val plan = ord.queryExecution.optimizedPlan.toString
    assert(plan.contains("windowspecdefinition(shard_id"), plan)
  }

  test("dsirWeights: target-like documents outscore off-target ones; token accounting exact") {
    import org.apache.spark.sql.functions.col
    // target population (is_t) speaks vocabulary A; the raw corpus also
    // contains vocabulary B. A doc written in A must score strictly above
    // a doc written in B — that ordering is the whole point of importance
    // resampling. Words chosen hash-distinct at 3 hex chars (verified by
    // the distinct-feature assertion below, so a collision can't silently
    // weaken the ordering claim).
    val docs = Seq(
      (1L, true, "alpha beta gamma alpha beta"),
      (2L, true, "beta gamma alpha gamma"),
      (3L, false, "zebra quokka wombat zebra"),
      (4L, false, "alpha beta gamma"),   // target-LIKE text, off-target label
      (5L, false, "  "),                 // only empty tokens: no row
      (6L, false, null.asInstanceOf[String]))
      .toDF("doc_id", "is_t", "text")
    val feats = docs.filter(col("text").isNotNull)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5(col("w")), 1, 3).as("f"))
    assert(feats.distinct().count() == 6L, "fixture words must hash-collide-free")
    val got = Curation.dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), got.toString)
    assert(got(1L)._1 == 5L && got(3L)._1 == 4L)
    // A-vocab docs outscore the B-vocab doc regardless of their own label
    // (the LMs are population-level, scoring is per-doc content)
    assert(got(1L)._2 > got(3L)._2, got.toString)
    assert(got(4L)._2 > got(3L)._2, got.toString)
    intercept[IllegalArgumentException](
      Curation.dsirWeights(docs, "doc_id", "text", col("is_t"), hexChars = 0))
  }

  test("dsirWeightsAgainst: stored-LM scoring matches in-corpus for subset batches; OOV features smooth, never drop") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, true, "alpha beta gamma alpha beta"),
      (2L, true, "beta gamma alpha gamma"),
      (3L, false, "zebra quokka wombat zebra"),
      (4L, false, "alpha beta gamma"))
      .toDF("doc_id", "is_t", "text")
    val lm = Curation.dsirLm(docs, "text", col("is_t"))
    // a corpus-subset batch scores exactly as it did in-corpus (the
    // dsir_weights_incr differential, bit-level)
    val inCorpus = Curation.dsirWeights(docs, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val incr = Curation.dsirWeightsAgainst(
        docs.filter(col("doc_id") <= 2), "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(incr == inCorpus.filter(_._1 <= 2), s"$incr vs $inCorpus")
    // a fully-OOV batch still scores: Laplace smoothing gives unseen
    // features the zero-count ratio; rows are counted, never dropped
    val oov = Curation.dsirWeightsAgainst(
        Seq((9L, "jabberwock vorpal")).toDF("doc_id", "text"),
        "doc_id", "text", lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(oov.length == 1 && oov.head._1 == 9L && oov.head._2 == 2L,
      oov.mkString(","))
    assert(!oov.head._3.isNaN && !oov.head._3.isInfinite, oov.head.toString)
    // the zero-count ratio is log((0+1)/(nt+4096)) - log((0+1)/(nq+4096)):
    // nq=16 raw tokens (5+4+4+3), nt=9 target tokens (5+4) -> round-4
    val expected = BigDecimal(
        math.log(1.0 / (9 + 4096)) - math.log(1.0 / (16 + 4096)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(oov.head._3 == expected, s"${oov.head._3} != $expected")
    // schema contract is checked loudly
    intercept[IllegalArgumentException](
      Curation.dsirWeightsAgainst(docs, "doc_id", "text",
        lm.withColumnRenamed("n_raw", "wrong")))
  }
}
