package graftbench

import org.apache.spark.sql.functions._

import graft.engine.{Qa, Sinks, Sources}
import graft.engine.Qa.Expect
import graft.operators.{Curation, Dedup, Profile, TextAnalysis}

/** README "Recipe" steps 1-8 as written, one batch per unit: ingest the
  * lake through an EMPTY manifest, clean / lang-id / unigram NLL, the
  * per-source quality gate, the dedup cascade, decontamination, caps,
  * mixture, splits and packing, the expectation gate, publish, commit.
  *
  * Each numbered step's output passes a [[Tracer.barrier]] (a local
  * checkpoint, released after the unit). The recipe joins several steps'
  * outputs back onto their own inputs, so the fully lazy chain's plan
  * doubles per step; planning it did not finish within five minutes even
  * at 4,000 docs, so every run of this workload stages the steps. */
final class PretrainRecipe(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark

  val docs: Long = 3000L
  val vocab: Int = 20000
  val files: Int = 8
  val TokenBudget = 4096L
  private val lake = s"${ctx.work}/lake"
  private val manifest = s"${ctx.work}/manifest"
  private val staging = s"${ctx.work}/corpus_staging"
  private lazy val benchmarks = CorpusGen.benchmarkFrame(spark, ctx.seed).cache()
  private var digests = Vector.empty[String]

  def generate(): Unit = {
    CorpusGen.write(spark, ctx.seed, docs, vocab, lake, files)
    Dirs.delete(manifest)
  }
  def inputRows: Long = docs

  private def lakeFiles: Set[String] = Dirs.files(lake).map(_.getFileName.toString)
    .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet

  def unit(t: Tracer, i: Int): Unit = {
    // 1. ingest only new lake files; commit the manifest AFTER publish
    val batch = t.span("Sources.incrementalParquet", "Sources") {
      val b = Sources.incrementalParquet(spark, lake, manifest)
      b.copy(df = t.barrier(b.df))
    }
    // 2. canonicalize text, identify language, keep confident English
    val clean = t.frame("TextAnalysis.withCleanText", "TextAnalysis")(
      TextAnalysis.withCleanText(batch.df, "text"))
    val langed = t.frame("TextAnalysis.withLangId", "TextAnalysis")(
      TextAnalysis.withLangId(clean, "clean_text").filter(col("lang_pred") === "en"))
    val step2 = t.barrier(langed)
    // 3. quality: LM perplexity proxy, gated per stratum (median cut)
    val scored = t.frame("TextAnalysis.withUnigramNll", "TextAnalysis")(step2.join(
      TextAnalysis.withUnigramNll(step2, "doc_id", "clean_text"), "doc_id"))
    val gated = t.frame("Profile.filterByGroupQuantile", "Profile")(
      Profile.filterByGroupQuantile(scored, "source", "nll", q = 0.5))
    val step3 = t.barrier(gated)
    // 4. strip corpus boilerplate lines, then rejoin the metadata columns
    val unlined = t.frame("Dedup.dedupLines", "Dedup")(
      Dedup.dedupLines(step3, "doc_id", "clean_text", "\n", maxDocFreq = 1000)
        .join(step3.drop("clean_text"), "doc_id"))
    val step4 = t.barrier(unlined)
    // 5. dedup cascade: exact survivors -> near-dup survivors by length
    val exact = t.frame("Dedup.exactGroups", "Dedup")(step4.join(
      Dedup.exactGroups(step4, "doc_id", "clean_text")
        .select(col("keep_id").as("doc_id")).distinct(), "doc_id"))
    val pairs = t.frame("Dedup.ngramJaccardPairs", "Dedup")(
      Dedup.ngramJaccardPairs(exact, "doc_id", "clean_text"))
    val deduped = t.frame("Dedup.keepClusterSurvivorsBy", "Dedup")(
      Dedup.keepClusterSurvivorsBy(exact, "doc_id", pairs, "n_chars"))
    val step5 = t.barrier(deduped)
    // 6. decontaminate: strip benchmark-matching spans, re-gate hollow docs
    val decon = t.frame("Curation.decontaminate", "Curation")(
      Curation.decontaminate(step5, benchmarks, "doc_id", "clean_text")
        .filter(col("kept") === 1).drop("n_removed", "kept"))
    val step6 = t.barrier(decon)
    // 7. caps, target mixture, splits, packing
    val capped = t.frame("Curation.capPerStratum", "Curation")(
      Curation.capPerStratum(step6, "doc_id", "source", maxRows = 100000))
    val mixed = t.frame("Curation.mixStrata", "Curation")(
      Curation.mixStrata(capped, "doc_id", "source", Map("web" -> 0.5, "code" -> 0.3, "academic" -> 0.2)))
    val split = t.frame("Curation.assignSplits", "Curation")(Curation.assignSplits(mixed, "doc_id"))
    val toks = t.frame("TextAnalysis.withTokenStats", "TextAnalysis")(
      TextAnalysis.withTokenStats(split, "clean_text"))
    val packed = t.frame("Curation.packIndex", "Curation")(
      Curation.packIndex(toks, "doc_id", "n_tok", TokenBudget, Seq("split")))
    val step7 = t.barrier(packed)
    // 8. gate, publish atomically, then advance the ingest manifest
    t.span("Qa.requireExpectations", "Qa")(Qa.requireExpectations(step7, Seq(
      Expect.notNull("clean_text"), Expect.unique("doc_id"))))
    t.span("Sinks.publish", "Sinks")(Sinks.publish(Map("corpus" -> step7), staging))
    t.span("Sources.commit", "Sources")(batch.commit())
    if (t.enabled) extras("Sinks.write_files") = Dirs.partFiles(s"$staging/corpus").toDouble
  }

  /** Each unit publishes the same corpus (compared here between the units
    * of one run, and by run.py with the stored digest of the development
    * and held-out seeds) and commits exactly the lake's files; the next
    * unit starts from an empty manifest. */
  override def checkUnit(i: Int): Unit = {
    val d = Digest.of(spark.read.parquet(s"$staging/corpus").select("doc_id", "clean_text", "split", "pack_id"))
    digests.lastOption.foreach(prev => expect(prev == d, s"unit $i output digest $d differs from $prev"))
    digests :+= d
    val committed = spark.read.parquet(manifest).collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    expect(committed == lakeFiles, s"manifest holds ${committed.size} files, lake has ${lakeFiles.size}")
    Dirs.delete(manifest)
  }

  override def finalChecks(): Unit = {
    val out = spark.read.parquet(s"$staging/corpus").cache()
    val n = out.count()
    expect(n > 0, "published corpus is empty")
    val ids = out.select("doc_id").filter(col("doc_id").isNotNull).distinct().count()
    expect(ids == n, s"doc_id unique and non-null: $ids distinct of $n")
    // every doc starts inside its pack's window, so each packed sequence
    // [4096·pack_id, 4096·(pack_id+1)) holds at most 4096 tokens
    val rows = out.select("split", "doc_id", "n_tok", "pack_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bad = rows.groupBy(_._1).values.flatMap { xs =>
      var start = 0L
      xs.sortBy(_._2).filter { case (_, _, tok, pack) =>
        val wrong = pack != start / TokenBudget
        start += tok
        wrong
      }
    }
    expect(bad.isEmpty, s"${bad.size} docs outside their ${TokenBudget}-token pack window")
    val copies = CorpusGen.exactCopyIds(ctx.seed, docs).toSet
    val survivors = rows.count(r => copies(r._2))
    expect(survivors == 0, s"$survivors planted exact copies survived")
    out.unpersist()
    info("output_rows") = n
    info("output_digest") = digests.lastOption.getOrElse("")
    info("input_digest") = Digest.of(spark.read.parquet(lake))
    info("out_bytes_per_in_byte") = Dirs.parquetBytes(staging).toDouble / Dirs.parquetBytes(lake)
  }
}
