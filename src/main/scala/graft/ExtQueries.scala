package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.operators.{Classify, Curation, Dedup, Events, Fuzzy, MultiModal, Privacy, Similarity, Temporal, TextAnalysis}

/** Training-data-pipeline extension queries (SURVEY §7.6): dedup family,
  * similarity search, text analysis, multimodal plumbing, event windows.
  * Same conventions as [[Queries]]. Operators whose result set has no SQL
  * mirror (simhash / the LSH variants — the hash or the hyperplanes ARE the
  * operator) register a DIFFERENTIAL query instead: the Spark side compares
  * the operator against an exact baseline and emits flags plus a value
  * DuckDB recomputes independently, so a regression flips a driver-visible
  * pass rather than hiding behind a rows-only check. Unit-level guarantees
  * stay in DedupSpec/SimilaritySpec.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  type Q = (SparkSession, String) => DataFrame

  /** Build-once stored-index fixtures shared across the IVF/PQ family's
    * registered keys (r19, the `*FromPairs` precedent applied to index
    * builds): before this, the five stored-index keys each trained and
    * published a fresh index INSIDE their own lambda — ~27 s of the
    * sf0.1 bench re-paying identical deterministic builds the artifact
    * discipline exists to avoid. A fixture is keyed by (sfDir, spec)
    * and built at most once per JVM; READ-ONLY consumers (stored
    * search, sweeps, filtered search, the compact key's reference
    * rebuild) share the artifact directly, while MUTATING consumers
    * (append/ingest/delete/compact) work on a byte-copy [[cloneOf]] —
    * builds are deterministic, so a clone is bit-identical to the
    * fresh build the key used to make and per-key OUTPUT is unchanged.
    * Fixture roots live until JVM exit (shutdown hook deletes them);
    * clones are per-call and deleted by their key's own finally. */
  private object IndexFixtures {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    // java.nio, NOT the Hadoop FileSystem cache: Hadoop's own shutdown
    // hook may have closed the cached FS before ours runs ("FileSystem
    // closed" → silently leaked fixture dirs). The fixtures are always
    // local temp dirs, so a plain recursive delete needs no FS layer.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      cache.values.forEach { p =>
        try {
          import java.nio.file.{Files, Paths}
          import scala.jdk.CollectionConverters._
          val root = Paths.get(p)
          if (Files.exists(root))
            Files.walk(root).iterator().asScala.toSeq.reverseIterator
              .foreach(f => Files.deleteIfExists(f): Unit)
        } catch { case _: Throwable => () }
      }
    }))
    /** The shared artifact for `key`, built by `build(path)` on first
      * use (computeIfAbsent: concurrent Verify workers asking for the
      * same fixture block until the one build finishes). */
    def shared(dir: String, key: String)(build: String => Unit): String =
      cache.computeIfAbsent(s"$dir|$key", _ => {
        val p = java.nio.file.Files
          .createTempDirectory(s"graft-fx-$key").toString
        build(p)
        p
      })
    /** A byte-copy of a fixture for a key that MUTATES the artifact. */
    def cloneOf(s: SparkSession, src: String, prefix: String): String = {
      val dst = java.nio.file.Files.createTempDirectory(prefix).toString
      val conf = s.sparkContext.hadoopConfiguration
      val sp = new org.apache.hadoop.fs.Path(src)
      val dp = new org.apache.hadoop.fs.Path(dst)
      val fs = sp.getFileSystem(conf)
      fs.listStatus(sp).foreach(st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(dp, st.getPath.getName),
          false, conf): Unit)
      dst
    }
  }

  // ------------------------------------------------------------------ dedup

  val dedupExact: Q = (s, d) =>
    Dedup.exactGroups(t(s, d, "documents"), "doc_id", "text").orderBy("keep_id")

  /** MinHash LSH candidates with the md5 hash family (DuckDB-mirrorable);
    * production default is xxhash64 (DedupSpec pins identical candidates). */
  val dedupMinhash: Q = (s, d) =>
    Dedup.minhashCandidates(t(s, d, "documents"), "doc_id", "text",
      numHashes = 4, bands = 2, shingleN = 3, family = Dedup.Md5Family)
      .orderBy("a_id", "b_id")

  /** SimHash candidates (fnv64 bit votes). The candidate SET has no SQL
    * mirror (the signature is a Scala hash), so the REGISTERED query is a
    * completeness differential the driver can hash-adjudicate: compare the
    * multi-table candidates against a brute-force all-pairs Hamming scan
    * over the same signatures and emit one row with flags for the two
    * theorems the operator rests on — pigeonhole recall (every pair within
    * maxHamming is a candidate) and exact-verify precision (no pair beyond
    * it survives). DuckDB recomputes n_docs from the fixture and pins both
    * flags. The brute-force side is fixture-scale harness code (O(n²) on a
    * cheap bit_count expression, distributed cartesian); the operator under
    * test stays the equi-join multi-table plan. maxHamming = 3 is the
    * distance the default 8-block scheme guarantees 100% recall for
    * (pigeonhole over C(8,5) block-subset tables); DedupSpec pins the same
    * guarantee at the unit level. */
  val dedupSimhash: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val cand = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id")
    val sigs = Dedup.simhash(docs, "text").select(col("doc_id"), col("simhash"))
    val exact = sigs.toDF("a_id", "a_sim").crossJoin(sigs.toDF("b_id", "b_sim"))
      .filter(col("a_id") < col("b_id"))
      .filter(bit_count(col("a_sim").bitwiseXOR(col("b_sim"))) <= 3)
      .select("a_id", "b_id")
    // ONE full-outer join + one aggregate (the dedupEmbedLsh shape): the
    // earlier except/except/agg formulation re-executed the O(n²) Hamming
    // cartesian AND the 56-table candidate plan twice each
    val joined = exact.withColumn("in_exact", lit(1))
      .join(cand.withColumn("in_cand", lit(1)), Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("in_cand").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_missed"),
        coalesce(sum(when(col("in_exact").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_extra"))
    docs.agg(count(lit(1)).as("n_docs")).crossJoin(joined)
      .select(col("n_docs"),
        when(col("n_missed") === 0, 1).otherwise(0).as("recall_complete"),
        when(col("n_extra") === 0, 1).otherwise(0).as("precision_ok"))
  }

  /** Incremental ingest shape: odd doc_ids play the NEW daily batch, even
    * ids the stored corpus band index — candidates cross the boundary only,
    * corpus text never re-hashed. md5 family for the DuckDB mirror. */
  val dedupMinhashIncr: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val newBands = Dedup.minhashBands(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", numHashes = 4, bands = 2, shingleN = 3, family = Dedup.Md5Family)
    val corpusBands = Dedup.minhashBands(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", numHashes = 4, bands = 2, shingleN = 3, family = Dedup.Md5Family)
    Dedup.minhashCandidatesAgainst(newBands, corpusBands)
      .orderBy("new_id", "corpus_id")
  }

  /** Incremental winnowing candidates: odd-id docs play the arriving
    * batch, even-id docs the stored (df-capped) fingerprint index — the
    * dedup_minhash_incr split convention for the exact-substring
    * family. */
  val dedupSubstringIncr: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val corpusFps = Dedup.capFingerprintIndex(
      Dedup.winnowFingerprints(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", k = 16, w = 8),
      maxFingerprintDf = 20)
    Dedup.substringDupPairsAgainst(docs.filter(col("doc_id") % 2 === 1),
      corpusFps, "doc_id", "text", k = 16, w = 8, minShared = 3)
      .orderBy("new_id", "corpus_id")
  }

  /** Exact-substring duplication via winnowing fingerprints — pairs of
    * documents sharing ≥3 locally-minimal 16-char-gram hashes (window 8):
    * any copied span of ≥ 23 chars is guaranteed at least one shared
    * fingerprint. Pure integer output, full hash-match oracle (DuckDB
    * mirrors the k-gram md5s, the per-doc window minimum, the df≤20
    * boilerplate cap, and the pair counts token-for-token). */
  val dedupSubstring: Q = (s, d) =>
    Dedup.substringDupPairs(t(s, d, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20)
      .orderBy("a_id", "b_id")

  /** Copied-span extent distribution per candidate pair: merged contiguous
    * span count, longest span, and exact union char mass — all BIGINTs. */
  val substringSpansQ: Q = (s, d) =>
    Dedup.substringSpans(t(s, d, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20).df
      .orderBy("a_id", "b_id")

  /** minShared threshold sweep for the winnowing family (the dedup_sweep
    * read): pair counts by shared-fingerprint count with the cumulative
    * at-or-above each floor, from ONE fingerprint pass — the histogram
    * that turns the minShared knob from folklore into a data read. The
    * cumulative window runs over the ≤ max-shared-fps distinct counts
    * (a handful of rows), never the pair set. */
  val substringSweep: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    Dedup.substringDupPairs(t(s, d, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 1, maxFingerprintDf = 20)
      .groupBy("n_shared").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above",
        sum(col("n_pairs")).over(
          Window.orderBy(col("n_shared").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .orderBy("n_shared")
  }

  /** Corpus-wide copied-span LENGTH DISTRIBUTION (pair-level): how long
    * are the duplicated regions — the histogram read before choosing
    * removal thresholds (one 500-char quote and fifty 20-char collisions
    * produce the same total mass but opposite decisions). */
  val spansHist: Q = (s, d) =>
    Dedup.substringSpanLengths(t(s, d, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20).df
      .groupBy("span_chars").agg(count(lit(1)).as("n_spans"))
      .orderBy("span_chars")

  /** Copied-span removal over the winnowing candidates: later docs lose
    * every character covered by a k-gram an earlier partner also has —
    * full-corpus output, byte-exact text compare against the oracle's
    * per-character reassembly. */
  val dedupSubstringStrip: Q = (s, d) =>
    Dedup.stripCopiedSpans(t(s, d, "documents"), "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20).df
      .select(col("doc_id").as("id"), col("text"), col("n_removed"))
      .orderBy("id")

  /** Benchmark decontamination as the routed pipeline stage
    * ([[graft.operators.Curation.decontaminate]]): a 10%-of-ids
    * benchmark slice is stripped OUT of the other 90% span-wise (shared
    * winnowing fingerprints pair, matched k-gram coverage removed), then
    * survivors re-gate at 100 remaining chars — [[contaminationQ]] flags
    * the leak, this REPAIRS it. Cross-dataset contract under oracle: the
    * fingerprint-df cap is computed on the BENCHMARK index side, and
    * there is NO same-id pair guard (independent id namespaces — an id
    * collision must never suppress a strip). Stripped text, removal
    * counts, and the kept gate are all exact — full hash-match oracle
    * mirroring the winnowing chain on both sides. */
  val decontamStripQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Curation.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", k = 16, w = 8, minShared = 3,
      maxFingerprintDf = 20, minCharsAfter = 100)
      .select(col("doc_id").as("id"), col("text"), col("n_removed"),
        col("kept"))
      .orderBy("id")
  }

  /** Multi-benchmark decontamination
    * ([[Curation.decontaminateMulti]]): two disjoint benchmark slices in
    * ONE corpus pass, the strip against the union, and per-benchmark
    * coverage attribution (`n_removed_<name>`). The oracle re-implements
    * the whole chain — per-benchmark winnowing indexes and df caps,
    * per-pair minShared, coverage counts per benchmark, union strip,
    * kept gate — in SQL. */
  val decontamMultiQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Curation.decontaminateMulti(
      docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5),
      Seq(
        "benchA" -> docs.filter(col("doc_id") % 10 === 0),
        "benchB" -> docs.filter(col("doc_id") % 10 === 5)),
      "doc_id", "text", k = 16, w = 8, minShared = 3,
      maxFingerprintDf = 20, minCharsAfter = 100)
      .select(col("doc_id").as("id"), col("text"), col("n_removed"),
        col("n_removed_benchA"), col("n_removed_benchB"), col("kept"))
      .orderBy("id")
  }

  /** The stored-plan apply path ([[Curation.mixStrataFromPlan]]): plan
    * the mixture once, apply its frozen rates as a map-side filter —
    * on the same corpus the result is IDENTICAL to [[Curation
    * .mixStrata]] with the recipe (both round rates to 6 before
    * bucketing, same salted draw), so this key shares sample_mix's
    * oracle arithmetic and pins the plan→apply equivalence. */
  val mixPlanApplyQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val plan = Curation.mixPlan(docs, "lang",
      Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2))
    Curation.mixStrataFromPlan(docs, "doc_id", "lang", plan)
      .select("doc_id", "lang").orderBy("doc_id")
  }

  /** Token-budget mixture carve ([[Curation.mixApplyBudget]]): the same
    * en/de/es recipe delivered by CHAR MASS — per stratum the greedy
    * draw-order prefix within the maximal plan's budget, binding
    * stratum kept whole. Oracle recomputes the mass plan and the
    * cumulative-sum cut row for row. */
  val mixApplyBudgetQ: Q = (s, d) =>
    Curation.mixApplyBudget(t(s, d, "documents"), "doc_id", "lang",
      "n_chars", Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2))
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")

  /** The recall side of the winnowing tuning read: per window size w ∈
    * {4, 8, 12} (k fixed at 16), the guaranteed detection floor w+k−1
    * and the corpus pair/doc yield from one fingerprint pass each —
    * [[substringSweep]] tunes precision (minShared), this shows what a
    * chosen w can still SEE before a destructive strip commits to it. */
  val substringFloorSweep: Q = (s, d) =>
    Dedup.substringFloorSweep(t(s, d, "documents"), "doc_id", "text",
      k = 16, ws = Seq(4, 8, 12), minShared = 3, maxFingerprintDf = 20)
      .orderBy("w")

  /** MEASURED sub-floor recall on planted spans — the empirical
    * companion to [[substringFloorSweep]]'s closed-form floor: for span
    * lengths L ∈ {16, 18, 20, 23, 30} (k=16, w=8 ⇒ guarantee floor 23),
    * every eligible doc contributes one PAIR of synthetic documents that
    * share exactly an L-char span of its text, each flanked by
    * pair-unique md5-hex contexts (32 chars ≥ k−1 on every side, so the
    * span's grams are the only shared complete k-grams). The report is
    * per L: planted pairs vs pairs the winnowing detector actually found
    * (minShared=1, cap effectively off) — at or above the floor
    * detection is guaranteed (n_detected = n_planted); below it the
    * measured fraction realizes the ~(s/w)² decay the
    * [[Dedup.winnowFingerprints]] docstring states. All exact integers;
    * the oracle reconstructs the identical planted table and selection. */
  val substringFloorRecall: Q = (s, d) => {
    import s.implicits._
    val Ls = Seq(16, 18, 20, 23, 30)
    // doc_id < 10^7 keeps the (L·10^7 + doc_id)·2 + side id packing
    // injective — beyond it two L-buckets would alias onto one planted id
    // and silently corrupt the per-L counts on BOTH engines (the oracle
    // mirrors the bound, so the measurement stays sound, merely excluding
    // the out-of-range tail at hypothetical 10M-doc fixtures)
    val src = t(s, d, "documents")
      .filter(col("text").isNotNull && length(col("text")) >= 60 &&
        col("doc_id") < 10000000L)
      .select(col("doc_id"), col("text"))
    val planted = Ls.map { l =>
      def ctx(tag: String) =
        md5(concat(col("doc_id").cast("string"), lit(s"-$l-$tag")))
      val span = col("text").substr(lit(11), lit(l))
      val a = src.select(
        ((lit(l) * lit(10000000L) + col("doc_id")) * 2).as("id"),
        concat(ctx("a1"), span, ctx("a2")).as("t"))
      val b = src.select(
        ((lit(l) * lit(10000000L) + col("doc_id")) * 2 + 1).as("id"),
        concat(ctx("b1"), span, ctx("b2")).as("t"))
      a.unionByName(b)
    }.reduce(_.unionByName(_))
    val det = Dedup.substringDupPairs(planted, "id", "t",
        k = 16, w = 8, minShared = 1, maxFingerprintDf = 1000000)
      .filter(col("b_id") === col("a_id") + 1 && col("a_id") % 2 === 0)
      .withColumn("L", floor(col("a_id") / 20000000.0d).cast("int"))
      .groupBy("L").agg(count(lit(1)).as("n_detected"))
    Ls.toDF("L")
      .crossJoin(src.agg(count(lit(1)).as("n_planted")))
      .join(det, Seq("L"), "left")
      .select(col("L"), lit(23L).as("floor_chars"), col("n_planted"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"))
      .orderBy("L")
  }

  /** The pairs-reuse composition (the shape a real threshold-picking
    * corpus run takes): ONE winnow+pair stage, its candidate frame
    * materialized once, then BOTH the extent verify and the span-extent
    * measurement read from it ([[Dedup.substringExtentFromPairs]] /
    * [[Dedup.substringSpanLengthsFromPairs]]) — per pair the sampled
    * fingerprint count, exact gram overlap, span count, longest span, and
    * copied char mass in one frame. Running the standalone keys instead
    * pays the pair stage once per consumer. All exact BIGINTs. */
  val substringReport: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.substringDupPairs(docs, "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20).localCheckpoint()
    // the fused report ([[Dedup.substringReportFromPairs]], optimization
    // round 21): extent and span rollup from ONE shared matched-gram
    // join — 2 corpus gram scans instead of 4 and one exchange of the
    // matched frame; row-identical to the extent ⋈ spans composition
    // this key previously built (DedupSpec pins the equality; the oracle
    // SQL is unchanged)
    Dedup.substringReportFromPairs(docs, pairs, "doc_id", "text", k = 16)
      .orderBy("a_id", "b_id")
  }

  /** Blocking-scheme evaluation: minhash banding's candidates judged
    * against the exact ngram-Jaccard≥0.5 truth set — pairs completeness
    * (blocking recall) and reduction ratio (pruned share of all pairs),
    * each one exact-integer division. */
  val blockingQualityQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Dedup.blockingQuality(docs, "doc_id",
      Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 4, bands = 2, shingleN = 3, family = Dedup.Md5Family),
      Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5).select("a_id", "b_id")).df
  }

  /** The learned-tokenizer table: 8 BPE merges induced from the corpus's
    * word-frequency table ([[TextAnalysis.bpeMerges]]) — exact merge
    * sequence with pair counts, hash-matched against a DuckDB oracle
    * that unrolls the same 8 iterations (sentinel-framed symbol strings,
    * identical greedy replace semantics, identical (count desc, pair
    * asc) tie-break). */
  val bpeMergesQ: Q = (s, d) =>
    TextAnalysis.bpeMerges(t(s, d, "documents"), "text", nMerges = 8)
      .orderBy("rank")

  /** Tokenizer apply: the 8 learned merges applied back to the corpus —
    * per-doc whitespace word count and post-merge BPE token count, exact
    * integers against an oracle sharing bpe_merges' derivation CTEs. */
  val bpeEncodeQ: Q = (s, d) =>
    TextAnalysis.bpeEncode(t(s, d, "documents"), "doc_id", "text", nMerges = 8)
      .orderBy("doc_id")

  /** The learned BPE vocabulary after 8 merges: every post-merge symbol
    * with its frequency-weighted occurrence count — the token inventory
    * companion to bpe_merges/bpe_encode. */
  val bpeVocabQ: Q = (s, d) =>
    TextAnalysis.bpeVocab(t(s, d, "documents"), "text", nMerges = 8)
      .orderBy("symbol")

  /** Unigram-LM (SentencePiece-style) vocabulary induction
    * ([[TextAnalysis.unigramVocab]], Kudo ACL'18 hard-EM variant):
    * candidate seeding from substring frequencies (chars + top-60
    * multi-char pieces ≤ 4 chars), 2 EM rounds of Viterbi-segment /
    * usage-count / prune-to-40 / Laplace re-estimate, all decisions in
    * exact integer micro-nats. The generated oracle replays the WHOLE
    * induction in SQL — the unrolled Viterbi DP included (the
    * bpe_merges precedent for learned-artifact keys). */
  val unigramVocabQ: Q = (s, d) =>
    TextAnalysis.unigramVocab(t(s, d, "documents"), "text",
      vocabSize = 40, iters = 2, maxPieceLen = 4, maxCandidates = 60)
      .orderBy("piece")

  /** Tokenize the corpus against the induced unigram vocabulary —
    * per-doc whitespace word count and Viterbi piece count, exact
    * integers against an oracle sharing unigram_vocab's induction
    * CTEs. */
  val unigramEncodeQ: Q = (s, d) =>
    TextAnalysis.unigramEncode(t(s, d, "documents"), "doc_id", "text",
      vocabSize = 40, iters = 2, maxPieceLen = 4, maxCandidates = 60)
      .orderBy("doc_id")

  /** Tokenizer-selection read: corpus-level FERTILITY (tokens per
    * whitespace word) of the two induced tokenizer families side by
    * side — BPE at 8 merges vs unigram-LM at vocab 40, each summed over
    * its own encode path ([[TextAnalysis.bpeEncode]] /
    * [[TextAnalysis.unigramEncode]]). Fertility is THE number a
    * pretraining budget converts corpora with (tokens = words ×
    * fertility), and comparing the two learners on the same corpus is
    * the read taken before committing a tokenizer. Scope note, mirrored
    * by the oracle: each tokenizer counts the words ITS family counts
    * (BPE excludes sentinel-bearing words by contract; unigram counts
    * every non-empty word). The oracle concatenates both families'
    * generated derivation CTEs (names are disjoint by construction)
    * and reduces each to one corpus row. */
  val tokenizerCompareQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    def tot(df: DataFrame, name: String) = df
      .agg(sum(col("n_words")).as("__w"), sum(col("n_tokens")).as("__t"))
      .select(lit(name).as("tokenizer"),
        col("__w").cast("long").as("n_words"),
        col("__t").cast("long").as("n_tokens"),
        round(col("__t").cast("double") / col("__w"), 6).as("fertility"))
    tot(TextAnalysis.bpeEncode(docs, "doc_id", "text", nMerges = 8), "bpe_8")
      .unionByName(tot(TextAnalysis.unigramEncode(docs, "doc_id", "text",
        vocabSize = 40, iters = 2, maxPieceLen = 4, maxCandidates = 60),
        "unigram_40"))
      .orderBy("tokenizer")
  }

  /** Stored unigram tokenizer applied to a HELD-OUT slice: the model
    * induced from the even-doc_id half only ([[TextAnalysis
    * .unigramModel]]), then [[TextAnalysis.unigramApply]] tokenizes the
    * odd half against that frozen (piece, cost) table with the
    * single-character unk fallback — the learn-once/apply-many contract
    * (bpe_apply's shape for the lattice model). Oracle shares the
    * induction CTEs trained on the same even slice and runs one more
    * unrolled Viterbi pass over the odd slice's own word types. */
  val unigramApplyQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val vocab = TextAnalysis.unigramModel(
      docs.filter(col("doc_id") % 2 === 0), "text",
      vocabSize = 40, iters = 2, maxPieceLen = 4, maxCandidates = 60)
    TextAnalysis.unigramApply(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", vocab, maxPieceLen = 4)
      .orderBy("doc_id")
  }

  /** Stored-tokenizer apply on a HELD-OUT slice: 8 merges learned from
    * the even-doc_id half only, then [[TextAnalysis.bpeApply]] tokenizes
    * the odd half against that frozen table — the learn-once/apply-many
    * contract, with genuine OOV words in the batch (odd-half words the
    * even half never saw char-init and keep unfused symbols instead of
    * being dropped). Oracle shares bpe_merges' derivation CTEs trained
    * on the same even slice and unrolls the same 8 replaces over the
    * odd slice's word types. */
  val bpeApplyQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val merges = TextAnalysis.bpeMerges(
      docs.filter(col("doc_id") % 2 === 0), "text", nMerges = 8)
    TextAnalysis.bpeApply(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  /** Lexical diversity by length bucket (pooled TTR, 20-token buckets). */
  val ttrCurveQ: Q = (s, d) =>
    TextAnalysis.ttrCurve(t(s, d, "documents"), "text", bucketTokens = 20)
      .orderBy("bucket")

  /** Compression-ratio quality signal. The DEFLATE byte count has no SQL
    * mirror, so the registered shape is per-doc bound flags: DuckDB
    * recomputes doc_id and raw byte length and pins ratio_in_bounds = 1.
    * The bound is zlib's worst case (stored blocks + stream framing:
    * output ≤ input + 11 bytes at fixture sizes — a short incompressible
    * doc legitimately EXPANDS, so a ratio-≤-1 gate would misfire), as an
    * exact integer comparison. A UDF regression — truncated stream,
    * charset drift — flips it. Discrimination properties (repetitive ≪
    * random) live in the spec. */
  val compressionRatioQ: Q = (s, d) =>
    TextAnalysis.withCompressionRatio(
        t(s, d, "documents").filter(col("text").isNotNull), "text")
      .select(col("doc_id"), col("n_bytes"),
        when(col("deflate_bytes") > 0 &&
            col("deflate_bytes") <= col("n_bytes") + 11, 1)
          .otherwise(0).as("ratio_in_bounds"))
      .orderBy("doc_id")

  /** The winnowing verify stage: exact k-gram overlap for every
    * fingerprint-candidate pair (LSH two-phase shape). */
  val substringExtentQ: Q = (s, d) =>
    Dedup.substringExtent(t(s, d, "documents"), "doc_id", "text").df
      .orderBy("a_id", "b_id")

  /** Per-document shingle novelty vs everything earlier in id order —
    * the corpus-redundancy growth curve. */
  val ngramNoveltyQ: Q = (s, d) =>
    TextAnalysis.ngramNovelty(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3)
      .orderBy("id")

  /** Skew guard (maxShingleDf) is ON via its default: no fixture shingle
    * reaches the cap, so the exact-Jaccard oracle still matches, while a
    * 100 TB stop-shingle can no longer create a quadratic hot key. */
  val dedupNgram: Q = (s, d) =>
    Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5)
      .withColumn("jaccard", round(col("jaccard"), 4))
      .orderBy("a_id", "b_id")

  /** Dedup threshold sweep: candidate pairs bucketed by Jaccard in 0.1
    * bands with a cumulative at-or-above count — the tuning curve read
    * BEFORE committing a minJaccard to a destructive dedup (how many
    * pairs does each threshold keep?). The cumulative window runs over
    * the ≤11 bucket rows only (buckets 0..10; exact-dup pairs land in
    * bucket 10). */
  val dedupSweep: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.05)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").desc)
      .rowsBetween(Long.MinValue, 0)
    pairs
      .withColumn("bucket", floor(round(col("jaccard"), 4) * 10).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_at_or_above", sum(col("n_pairs")).over(w))
      .orderBy("bucket")
  }

  /** Exact pair scan — distributed cartesian (every partition-pair task
    * scores independently; no single-reducer key). Kept exact because the
    * fixture pairs sit at cos 0.45-0.51, the regime where any LSH blocking
    * is lossy (see [[Dedup.cosinePairsLsh]] scaladoc). */
  val dedupEmbed: Q = (s, d) =>
    Dedup.cosinePairs(t(s, d, "embeddings"), "vec_id", "embedding", minCosine = 0.45)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("a_id", "b_id")

  /** The 100 TB candidate path: OR-amplified multi-table LSH + exact
    * verify. The candidate set is sampling-dependent (the hyperplanes are
    * the operator), so the REGISTERED query is a differential against the
    * exact pair scan — the same plan whose full result `dedup_embed`
    * hash-verifies against DuckDB: emit n_exact (DuckDB recomputes it from
    * the fixture), subset_ok (exact verify ⇒ every LSH pair is a true
    * pair), and floor_met (recall ≥ 0.5 as integer arithmetic,
    * 2·hits ≥ n_exact). Measured recall 0.857/0.857/0.917 at
    * sf0.001/0.01/0.1 — the 0.5 floor keeps ≥ 70% margin; the fixture
    * threshold 0.45 is the
    * near-boundary regime where sign-LSH is weakest (see
    * [[Dedup.cosinePairsLsh]] scaladoc), so the floor is deliberately
    * loose. Tighter planted-dup recall floors stay in DedupSpec. */
  val dedupEmbedLsh: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", minCosine = 0.45)
      .select(col("a_id"), col("b_id"), lit(1).as("in_exact"))
    val lsh = Dedup.cosinePairsLsh(e, "vec_id", "embedding",
      minCosine = 0.45, numTables = 12, planesPerTable = 4)
      .select(col("a_id"), col("b_id"), lit(1).as("in_lsh"))
    // ONE full-outer join + one aggregate: the previous three-branch shape
    // (hits join, anti join, count agg) re-executed the exact O(n²) pair
    // scan three times and the 12-table LSH twice — it was the slowest
    // bench query (7.5 s at sf0.1) for plan-shape reasons alone. Here each
    // side is scanned exactly once.
    exact.join(lsh, Seq("a_id", "b_id"), "full_outer")
      .agg(
        // coalesce: over an EMPTY pair set every sum is NULL, which would
        // turn the vacuously-true invariants into (NULL, 0, 0) vs the
        // oracle's (0, 1, 1)
        coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
        coalesce(sum(when(col("in_exact").isNotNull && col("in_lsh").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hits"),
        coalesce(sum(when(col("in_exact").isNull, 1L).otherwise(0L)), lit(0L)).as("n_extra"))
      .select(col("n_exact"),
        when(col("n_extra") === 0, 1).otherwise(0).as("subset_ok"),
        when(col("n_hits") * 2 >= col("n_exact"), 1).otherwise(0).as("floor_met"))
  }

  /** Banding S-curve sweep for the minhash family
    * ([[graft.operators.Dedup.minhashBandSweep]]): true-pair yield of
    * band configurations b ∈ {1,2,4,8} at numHashes = 16 (r = 16,8,4,2
    * rows per band) against exact n-gram-jaccard ≥ 0.5 truth — the
    * (b, r) S-curve read before committing `dedup_minhash`'s banding.
    * Differential convention (the embed_lsh_sweep precedent): the
    * hash-dependent yields stay out of the output; the oracle recomputes
    * `n_exact` (the dedup_ngram pair arithmetic at the same threshold)
    * and pins the spine plus `monotone_ok` (the divisibility-chain
    * nesting theorem — a 0 is a bug) and `final_floor_met` (r = 2
    * recall ≥ 0.8: a jaccard-0.5 pair matches a 2-row band with
    * prob s² = 0.25, so eight bands miss with prob 0.75⁸ ≈ 0.1, and the
    * fixture's true pairs sit well above the threshold). */
  val minhashBandSweepQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // checkpointed: consumed by the sweep intersection AND counted for
    // the flags — without it the exact jaccard join re-executes
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
      .select("a_id", "b_id").localCheckpoint()
    // the banding sweep and the truth count are independent reads of the
    // checkpointed truth frame — overlap them (guide §2.6)
    val (sweepRows, nExact) = graft.engine.Overlap.par(
      Dedup.minhashBandSweep(docs, "doc_id", "text", truth,
        numHashes = 16, bandConfigs = Seq(1, 2, 4, 8), shingleN = 3)
        .collect(),
      truth.count())
    val sweep = sweepRows.map(r => (r.getInt(0), r.getInt(1), r.getLong(3)))
    val trues = sweep.map(_._3)
    def ok(b: Boolean) = if (b) 1 else 0
    val monotone = ok(trues.zip(trues.tail).forall { case (x, y) => x <= y })
    val floorMet = ok(trues.last * 5 >= nExact * 4)
    Similarity.localFrame(s, sweep.map { case (bb, r, _) =>
      org.apache.spark.sql.Row(bb, r, nExact, monotone, floorMet) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bands",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("rows_per_band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_exact",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("monotone_ok",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("final_floor_met",
          org.apache.spark.sql.types.IntegerType))))
      .orderBy("bands")
  }

  /** OR-amplification tuning curve for the embedding LSH
    * ([[graft.operators.Dedup.cosineLshTableSweep]]): true-pair yield of
    * the first T ∈ {1,2,4,8,12} hash tables from ONE bucketing pass —
    * the table-count read taken before committing `dedup_embed_lsh`'s
    * configuration at scale. Differential convention (the ann sweep
    * precedent): raw per-budget yields stay OUT of the output (they are
    * hyperplane internals no SQL can mirror); the oracle pins the spine,
    * `n_exact` (recomputed independently), and three flags —
    * `monotone_ok` (yields non-decreasing in T: a theorem of the
    * first-table algebra, so a 0 is a bug, not a tuning outcome) and
    * `final_floor_met` (max-budget recall ≥ 0.5, `dedup_embed_lsh`'s
    * floor at the same config). The max-budget identity with an
    * independent [[graft.operators.Dedup.cosinePairsLsh]] run is
    * spec-pinned per budget (DedupSpec) rather than re-verified here —
    * an in-key identity flag would re-pay a FULL second LSH pass on
    * every bench run for a deterministic algebraic fact (the build-once
    * lesson applied to a differential). */
  val embedLshSweepQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val ts = Seq(1, 2, 4, 8, 12)
    // the LSH sweep and the exact O(N²) baseline are independent job
    // chains — overlap them (guide §2.6)
    val (sweepRows, nExact) = graft.engine.Overlap.par(
      Dedup.cosineLshTableSweep(e, "vec_id", "embedding",
        minCosine = 0.45, tables = ts, planesPerTable = 4).collect(),
      Dedup.cosinePairs(e, "vec_id", "embedding",
        minCosine = 0.45).count())
    val sweep = sweepRows.map(r => (r.getInt(0), r.getLong(2)))
    val trues = sweep.map(_._2)
    def ok(b: Boolean) = if (b) 1 else 0
    val monotone = ok(trues.zip(trues.tail).forall { case (a, b) => a <= b })
    val floorMet = ok(trues.last * 2 >= nExact)
    Similarity.localFrame(s, sweep.map { case (tt, _) =>
      org.apache.spark.sql.Row(tt, nExact, monotone, floorMet) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_tables",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_exact",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("monotone_ok",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("final_floor_met",
          org.apache.spark.sql.types.IntegerType))))
      .orderBy("n_tables")
  }

  /** SemDeDup differential: cluster-blocked semantic pairs (spherical
    * k-means k=8, top-3 soft cell assignment) vs the exact O(n²) scan at
    * the same threshold. Exactness of the within-block dot product makes
    * the blocked set a SUBSET of exact by construction; soft blocking is
    * what buys the recall (hard blocking measured 0.30-0.43 on this
    * boundary-heavy fixture; p=3 measured 0.86 at sf0.001 and 0.97-1.0
    * at sf0.01/sf0.1 — the fixture's pairs sit AT the 0.45 decision
    * boundary, ~63° apart, the hardest regime for any blocking;
    * production SemDeDup thresholds (cos ≥ 0.9) recall far higher).
    * Flags and the SF-aware recall floor live in
    * [[semanticDifferential]] (shared with `dedup_semantic_incr` so the
    * bars cannot diverge); lowering k would trivially raise recall but
    * collapse the blocking toward the all-pairs scan it exists to avoid.
    * DuckDB recomputes n_exact independently and pins the flags. */
  val dedupSemantic: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", minCosine = 0.45)
      .select(col("a_id"), col("b_id"), lit(1).as("in_exact"))
    val sem = Dedup.semanticPairs(e, "vec_id", "embedding", minCosine = 0.45,
        k = 8, lloydIters = 1, probeCells = 3)
      .select(col("a_id"), col("b_id"), lit(1).as("in_sem"))
    semanticDifferential(exact, sem)
  }

  /** Shared scaffold of the two SemDeDup differentials (`dedup_semantic`,
    * `dedup_semantic_incr`): ONE full-outer join of the exact truth pairs
    * (a_id, b_id, in_exact=1) against the blocked pairs (a_id, b_id,
    * in_sem=1) and one aggregate → (n_exact, subset_ok, floor_met). The
    * SF-aware recall floor lives HERE so the two keys cannot silently
    * diverge: 0.9 where the pair population supports it (sf0.01: 14
    * pairs, sf0.1: 144 — measured 0.97-1.0), relaxed to 0.8 only for
    * single-digit pair counts (sf0.001, where ONE lost boundary pair is
    * 0.857 and a 0.9 bar would measure fixture granularity, not the
    * operator). Coalesces guard the empty-pair-set case (sums over an
    * empty frame are NULL; the oracle's vacuous truth is (0, 1, 1)). */
  private def semanticDifferential(exact: DataFrame, sem: DataFrame): DataFrame =
    exact.join(sem, Seq("a_id", "b_id"), "full_outer")
      .agg(
        coalesce(sum(col("in_exact")), lit(0L)).as("n_exact"),
        coalesce(sum(when(col("in_exact").isNotNull && col("in_sem").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_hits"),
        coalesce(sum(when(col("in_exact").isNull, 1L).otherwise(0L)), lit(0L)).as("n_extra"))
      .select(col("n_exact"),
        when(col("n_extra") === 0, 1).otherwise(0).as("subset_ok"),
        when(col("n_exact") >= 10,
            when(col("n_hits") * 10 >= col("n_exact") * 9, 1).otherwise(0))
          .otherwise(
            when(col("n_hits") * 5 >= col("n_exact") * 4, 1).otherwise(0))
          .as("floor_met"))

  /** Incremental SemDeDup differential: even vec_ids play the STORED
    * clustered corpus (centroids + hard cell assignments materialized
    * once — the dedup_minhash_incr split convention), odd ids the
    * arriving batch, soft-probing the stored centroids. Compared against
    * the exact cross-boundary pair scan at the same threshold: blocked
    * pairs are exact-verified (subset by construction) and recall
    * carries the dedup_semantic SF-aware floor. Probing is ONE-SIDED
    * here (the stored corpus is hard-assigned; only the batch probes),
    * which is strictly weaker than the batch operator's both-sides-soft
    * blocking — at this fixture's deliberately boundary-hard threshold
    * (pairs AT cos 0.45, ~63°) the measured probe sweep was p=3: 0.75/
    * 0.60/0.76, p=5: 0.75/1.0/0.94, p=6: 1.0/1.0/0.97 across
    * sf0.001/0.01/0.1 — p=6 of k=8 holds the 0.9 floor everywhere;
    * production SemDeDup thresholds (cos ≥ 0.9) need far fewer probes
    * for the same recall. DuckDB recomputes n_exact independently and
    * pins the flags. */
  val dedupSemanticIncr: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val batch = e.filter(col("vec_id") % 2 === 1)
    val centroids = Similarity.kmeansCentroids(corpus, "vec_id", "embedding",
      k = 8, iters = 1)
    val assigned = Similarity.assignCell(corpus, "vec_id", "embedding", centroids)
    val sem = Dedup.semanticPairsAgainst(batch, centroids, assigned,
        "vec_id", "embedding", minCosine = 0.45, probeCells = 6)
      .select(least(col("new_id"), col("corpus_id")).as("a_id"),
        greatest(col("new_id"), col("corpus_id")).as("b_id"),
        lit(1).as("in_sem"))
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", minCosine = 0.45)
      .filter(col("a_id") % 2 =!= col("b_id") % 2)
      .select(col("a_id"), col("b_id"), lit(1).as("in_exact"))
    semanticDifferential(exact, sem)
  }

  /** Quality-first survivor selection over the same ngram-Jaccard cluster
    * graph as `dedup_resolve`: each duplicate cluster keeps its
    * longest member (`n_chars` max, ties → min doc_id) instead of the
    * arbitrary min-id copy; unpaired documents pass through. Oracle:
    * recursive-CTE clusters + window argmax in DuckDB. */
  val dedupSurvivor: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.5)
    Dedup.keepClusterSurvivorsBy(docs, "doc_id", pairs, "n_chars")
      .select("doc_id", "n_chars").orderBy("doc_id")
  }

  /** Overlapping 200-char chunks with 40-char overlap — the pre-embedding
    * window split (see [[TextAnalysis.chunkDocs]]); DuckDB mirrors the
    * chunk-count and substring arithmetic exactly. */
  val chunkDocsQ: Q = (s, d) =>
    TextAnalysis.chunkDocs(t(s, d, "documents"), "doc_id", "text",
      chunkChars = 200, overlapChars = 40)
      .orderBy("doc_id", "chunk_idx")

  /** Target-proportion mixture: en/de/es at 50/30/20 (see
    * [[Curation.mixStrata]]); zh/fr are outside the recipe and drop. */
  val sampleMix: Q = (s, d) =>
    Curation.mixStrata(t(s, d, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2))
      .select("doc_id", "lang").orderBy("doc_id")

  /** The PLANNING read for [[sampleMix]]'s recipe, char-weighted
    * ([[Curation.mixPlan]]): per stratum, available mass, the maximal
    * plan `S·w` at `S = min(available/w)`, the take rate, and the
    * BINDING stratum — what a mixture job reads before paying for the
    * sample. All arithmetic is one IEEE division per stratum compared
    * exactly against the window min; DuckDB mirrors it term for term. */
  val mixPlanQ: Q = (s, d) =>
    Curation.mixPlan(t(s, d, "documents"), "lang",
      Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2), sizeCol = Some("n_chars"))
      .orderBy("stratum")

  /** EXACT-COUNT materialization of the same recipe
    * ([[Curation.mixApply]]): exactly floor(S·w) rows per stratum (the
    * binding stratum kept whole), smallest-salted-md5 selection,
    * deterministic under relayout. The oracle recomputes the take
    * arithmetic and the per-stratum rank cut row for row. */
  val mixApplyQ: Q = (s, d) =>
    Curation.mixApply(t(s, d, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.3, "es" -> 0.2))
      .select("doc_id", "lang").orderBy("doc_id")

  /** Temperature-balanced language downsampling (alpha = 0.5) — see
    * [[Curation.temperatureSample]]. Deterministic md5-bucket membership
    * with data-derived per-language rates, so DuckDB replicates the exact
    * row set from the same arithmetic. */
  val sampleTemperature: Q = (s, d) =>
    Curation.temperatureSample(t(s, d, "documents"), "doc_id", "lang", alpha = 0.5)
      .select("doc_id", "lang").orderBy("doc_id")

  /** Candidate pairs → duplicate clusters: connected components by min-label
    * propagation over the ngram-Jaccard pair graph. cluster_id = min
    * reachable doc_id; survivor of each cluster is id == cluster_id.
    * Oracle: DuckDB recursive CTE over the same pair edges. */
  val dedupResolve: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
      shingleN = 3, minJaccard = 0.5)
    Dedup.resolveClusters(pairs).df
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Duplication profile: histogram of resolved cluster sizes, singletons
    * (docs in no near-dup pair) included as the size-1 row — the one-look
    * answer to "how duplicated is this corpus, and in what shape?" (many
    * pairs vs a few large clusters drive very different dedup decisions).
    * Rides the same resolve labels as [[dedupResolve]]; the histogram and
    * the singleton tally are aggregates over the label table and one
    * anti-join — no second resolve, no extra corpus pass beyond it. */
  val dedupClusterSizes: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleN = 3, minJaccard = 0.5)
    val labels = Dedup.resolveClusters(pairs).df
    val hist = labels.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = docs
      .join(labels.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    hist.unionByName(singles)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")
  }

  // ------------------------------------------------------------- similarity

  /** Exact cosine top-10 for the first 5 vectors as queries.
    *
    * Scale note: the `row_number() <= k` window is NOT a full per-query
    * reducer sort — Spark's InferWindowGroupLimit inserts a partial
    * WindowGroupLimit before the exchange, so each map task forwards only
    * k rows per query (PlanSpec asserts the node is present). The
    * [[topkSimAgg]] twin keeps the explicitly-bounded Aggregator shape;
    * both are scale-safe. */
  val topkSim: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("q_id", "rank")
  }

  /** Retrieval-quality differential of int8 scalar quantization
    * ([[graft.operators.Similarity.retrievalMetrics]] over
    * [[graft.operators.Similarity.dequantizeInt8]]): per query,
    * recall/MRR/nDCG@10 of the SQ8-reconstructed search against the
    * exact float top-k — the measured answer to "what does the 4×
    * embedding shrink cost at serving time", the companion read to
    * [[quantizeEmbed]]'s reconstruction-error audit (an MSE says
    * nothing about RANKINGS; this does). Both runs are exact brute
    * force — the quantization is the ONLY variable — so the whole
    * chain is SQL-expressible and the oracle recomputes it end to end:
    * quantize, re-unitize, re-rank, and the metric arithmetic. */
  val retrievalMetricsQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    // checkpointed: retrievalMetrics consumes truth twice (idcg stats +
    // hit flagging) — without it the exact scorer's product re-executes
    // (PlanSpec pins the product count)
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
      .localCheckpoint()
    val dq = Similarity.dequantizeInt8(e, "vec_id", "embedding")
    val results = Similarity.bruteForceTopK(dq, "vec_id", "embedding",
      dq.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
    Similarity.retrievalMetrics(results, truth, k = 10).orderBy("q_id")
  }

  /** GRADED-relevance twin of `retrieval_metrics`
    * ([[graft.operators.Similarity.retrievalMetricsGraded]]): the same
    * SQ8-vs-exact differential, with the exact top-10 carrying graded
    * gains derived from its own rank (rel 3 for ranks 1–3, 2 for 4–6,
    * 1 below) — graded nDCG (gain = level, IDCG over the rel-desc
    * re-sort) and AP join the binary metrics. 30 queries (vs the binary
    * key's 50) keep the added bench cost sub-linear; the whole chain is
    * SQL-expressible and the oracle recomputes it end to end. */
  val retrievalMetricsGradedQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 30), "vec_id", "embedding", k = 10)
      .withColumn("rel",
        when(col("rank") <= 3, 3).when(col("rank") <= 6, 2).otherwise(1))
      .localCheckpoint()
    val dq = Similarity.dequantizeInt8(e, "vec_id", "embedding")
    val results = Similarity.bruteForceTopK(dq, "vec_id", "embedding",
      dq.filter(col("vec_id") < 30), "vec_id", "embedding", k = 10)
    Similarity.retrievalMetricsGraded(results, truth, k = 10).orderBy("q_id")
  }

  /** Same contract as topk_sim through the bounded TopKAggregator — the
    * physical shape that survives a billion-row corpus (partial top-k
    * map-side instead of a per-query candidate sort). Shares topk_sim's
    * oracle: identical results required. */
  val topkSimAgg: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    graft.operators.TopK.bruteForceTopKAgg(e, "vec_id", "embedding",
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      .withColumn("cos", round(col("cos"), 4))
      .orderBy("q_id", "rank")
  }

  /** ANN result sets cannot be SQL-mirrored (the bucketing is the
    * operator), so the REGISTERED query is a recall differential the
    * driver CAN adjudicate by hash: run the ANN, intersect with the exact
    * top-k from the same plan that `topk_sim` hash-verifies against
    * DuckDB, and emit one row pinning (n_queries, k, the hits floor, and
    * whether deterministic total recall clears it). The DuckDB oracle
    * recomputes n_queries from the fixture and expects floor_met = 1 —
    * so a recall regression (or a query that silently matches nothing)
    * flips a driver-visible pass to fail, instead of hiding behind
    * `no_oracle`. Floors: total hits over 5 queries × k=10, measured
    * 18-27 (LSH) and 23-28 (IVF) across sf0.001/0.01/0.1; floor 15
    * (recall 0.3) keeps ≥ 17% margin everywhere. Tighter per-variant
    * recall floors stay in SimilaritySpec. */
  private def annRecallCheck(
      ann: DataFrame, exact: DataFrame, k: Int, hitsFloor: Int): DataFrame =
    // single pass over ONE execution of the exact brute-force plan: a
    // left join carries the hit flag, and one aggregate reads both the
    // query count and the hit total (the earlier hits-join + countDistinct
    // crossJoin shape executed the corpus-wide exact top-k twice per run)
    exact.join(ann.withColumn("__hit", lit(1)), Seq("q_id", "n_id"), "left")
      .agg(countDistinct(col("q_id")).as("n_queries"),
        coalesce(sum(col("__hit")), lit(0L)).as("total_hits"))
      .select(col("n_queries"), lit(k).as("k"), lit(hitsFloor).as("hits_floor"),
        when(col("total_hits") >= hitsFloor, 1).otherwise(0).as("floor_met"))

  val annTopk: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    annRecallCheck(
      Similarity.annLsh(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, numPlanes = 4, probeBits = 4).select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 15)
  }

  val annIvfTopk: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    annRecallCheck(
      Similarity.annIvf(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, nLists = 16, nProbe = 4).select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 15)
  }

  /** [[annRecallCheck]] for FILTERED search: the exact baseline is the
    * brute-force top-k over the SAME filtered corpus, and the result is
    * additionally audited for eligibility — `ineligible_hits` counts
    * result rows whose id fails the predicate (`bad` = the ids the
    * predicate excludes), pinned to exactly 0: a post-filter-shaped
    * regression would leak ineligible neighbors here before it ever
    * moved the recall floor. */
  private def annFilteredRecallCheck(
      res: DataFrame, exact: DataFrame, bad: DataFrame,
      k: Int, hitsFloor: Int): DataFrame = {
    val flags = exact
      .join(res.withColumn("__hit", lit(1)), Seq("q_id", "n_id"), "left")
      .agg(countDistinct(col("q_id")).as("n_queries"),
        coalesce(sum(col("__hit")), lit(0L)).as("total_hits"))
    val inel = res.join(bad, Seq("n_id"), "left_semi")
      .agg(count(lit(1)).as("ineligible_hits"))
    flags.crossJoin(inel) // two 1-row frames
      .select(col("n_queries"), lit(k).as("k"),
        lit(hitsFloor).as("hits_floor"),
        when(col("total_hits") >= hitsFloor, 1).otherwise(0).as("floor_met"),
        col("ineligible_hits"))
  }

  /** FILTERED plain-IVF search ([[Similarity.annIvfFiltered]]) — top-k
    * within a stratum (`label` even), the selection-set idiom
    * (reference: wins_transform_staging.py:168-171 — act on a filtered
    * view) lifted to the vector index: the coarse quantizer trains on
    * the FULL corpus (one shared index per corpus, not per stratum),
    * the predicate lands on the corpus SCAN (PushedFilters — PlanSpec
    * pins it below the probe join), and only eligible rows are
    * assigned/probed/ranked — never a recall-losing post-filter of an
    * unfiltered top-k. Judged against the exact brute force over the
    * SAME filtered corpus; measured hits, 5 queries × k=10 at
    * nProbe=4: 22 / 26 / 25 across sf0.001 / 0.01 / 0.1 — the same
    * weak-cluster cell-coverage ceiling as ann_ivf (its floor 15,
    * shared here, keeps ≥ 32% margin at the weakest SF);
    * `ineligible_hits` pinned to exactly 0. */
  val annFilteredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val w = col("label") % 2 === 0
    annFilteredRecallCheck(
      Similarity.annIvfFiltered(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10, where = w, nLists = 16, nProbe = 4)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e.filter(w), "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10).select("q_id", "n_id"),
      bad = e.filter(!w).select(col("vec_id").as("n_id")),
      k = 10, hitsFloor = 15)
  }

  /** FILTERED search against the STORED composed index
    * ([[Similarity.ivfPqStoredTopKFiltered]]) — the production shape of
    * the most common real vector-search query: the index is built ONCE
    * with `label` recorded as a payload column
    * ([[Similarity.writeIvfPqIndex]]'s r19 payload support), and the
    * stratum predicate is pushed into the stored code scan BEFORE the
    * probe join and the ADC kernel, so the shortlist fills with
    * eligible candidates only (post-filtering the top-k would silently
    * lose recall in exactly the proportion the stratum is rare).
    * Judged against the exact brute force over the SAME filtered
    * corpus; measured hits, 5 queries × k=10, shortlist 80 / nProbe 8:
    * 43 / 39 / 35 across sf0.001 / 0.01 / 0.1 (the gap to
    * ivf_pq_stored's 43/43/39 is the thinner per-cell eligible
    * population — fewer eligible rows inside the probed cells); floor
    * 28 keeps ≥ 20% margin at the weakest SF. `ineligible_hits` pinned
    * to exactly 0. EAGER + self-cleaning like ann_ivf_stored. */
  val ivfPqFilteredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val w = col("label") % 2 === 0
    // read-only consumer of the shared payload-bearing heavy fixture
    val idx = fullHeavyLabelIvfPq(s, d)
    val check = annFilteredRecallCheck(
      Similarity.ivfPqStoredTopKFiltered(s, idx, e, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 10, shortlist = 80,
        where = w, nProbe = 8).select("q_id", "n_id"),
      Similarity.bruteForceTopK(e.filter(w), "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10).select("q_id", "n_id"),
      bad = e.filter(!w).select(col("vec_id").as("n_id")),
      k = 10, hitsFloor = 28)
    Similarity.localFrame(s, check.collect(), check.schema)
  }

  /** Product-quantization top-k (ADC shortlist + exact re-rank — the
    * production shape) through the exact recall harness: codebooks
    * trained on the corpus (m=16 subspaces × ksub=64 L2 codewords over
    * the 64-dim unitized embeddings), the corpus encoded to 16 small
    * ints per vector (16× memory vs the float vectors), an 80-deep ADC
    * shortlist per query, then ONLY shortlisted rows' full vectors
    * re-ranked exactly. Measured total hits, 5 queries × k=10:
    * 50 / 50 / 48 across sf0.001 / 0.01 / 0.1 (pure ADC without re-rank
    * measures 32 / — / 25 — the shortlist+re-rank is what makes PQ
    * production-grade, pinned in SimilaritySpec); floor 40 keeps ≥ 20%
    * margin at the weakest SF. */
  val pqTopkQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    annRecallCheck(
      Similarity.pqTopKRerank(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10, shortlist = 80, m = 16, ksub = 64, iters = 3)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 40)
  }

  /** Embedding-space anisotropy probe: flags over the deterministic
    * power-iteration top component of the first-16-dim covariance —
    * the loadings themselves are driver-side FP with no SQL mirror, so
    * DuckDB pins the invariants (dimension count, unit norm, PSD
    * eigenvalue, explained share in (0, 1]). A broken covariance
    * aggregate, a sign/normalization regression, or a divergent
    * iteration flips a flag. Loadings and the residual identity are
    * pinned in SimilaritySpec. */
  /** OPQ-rotated PQ ([[Similarity.pqTopKOpq]] — Ge et al. 2013,
    * parametric variant): one learned orthonormal rotation (covariance
    * eigenbasis + balanced eigenvalue allocation across the m
    * subspaces) applied to corpus and queries before the standard
    * codebook-train / encode / ADC / exact-re-rank pipeline, at the
    * SAME m/ksub as pq_topk. Orthonormality preserves every dot
    * product, so the harness and floor are directly comparable:
    * measured hits, 5 queries × k=10, shortlist 80: 50 / 50 / 50
    * across sf0.001 / 0.01 / 0.1 vs pq_topk's 50 / 50 / 48 — the
    * rotation recovers the plain quantizer's sf0.1 misses; shared
    * floor 40. `rotation_ok` pins R·Rᵀ = I within 1e-8 (driver-side,
    * the rotation is a bounded model table). */
  val pqOpqQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val dim = 64
    val cU = e.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val r = Similarity.opqRotation(cU, "n_v", dim, m = 16)
    var maxErr = 0.0
    for (i <- 0 until dim; j <- 0 until dim) {
      var dot = 0.0
      var p = 0
      while (p < dim) { dot += r(i * dim + p) * r(j * dim + p); p += 1 }
      maxErr = math.max(maxErr, math.abs(dot - (if (i == j) 1.0 else 0.0)))
    }
    annRecallCheck(
      Similarity.pqTopKOpq(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10, shortlist = 80, dim = dim, m = 16,
        ksub = 64, iters = 3, rotation = Some(r)).select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 40)
      .withColumn("rotation_ok", lit(if (maxErr < 1e-8) 1 else 0))
  }

  /** Top-r PCA ([[Similarity.pcaComponents]] — power iteration with
    * deflation + per-step re-orthogonalization over the one bounded
    * covariance pass): the multi-component extension of embed_pca,
    * feeding whitening/rotation diagnostics beyond the single dominant
    * direction. Differential convention: loadings are driver-math with
    * no SQL mirror, so the oracle pins the INVARIANTS — every
    * component unit-norm, pairwise orthogonal (max |dot| < 1e-6),
    * eigenvalues non-increasing in component order, per-component and
    * cumulative explained shares inside (0, 1]. */
  val embedPcaRQ: Q = (s, d) => {
    val pc = Similarity.pcaComponents(t(s, d, "embeddings"), "embedding",
      k = 16, r = 4)
    val per = pc.groupBy("component").agg(
      sum(col("loading") * col("loading")).as("__nrm"),
      first(col("lambda")).as("__lam"),
      first(col("explained")).as("__exp"),
      first(col("cum_explained")).as("__cum"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("component")
    val flags = per
      .withColumn("__lam_prev", lag(col("__lam"), 1).over(w))
      .agg(
        count(lit(1)).as("n_components"),
        when(max(abs(col("__nrm") - 1.0)) < 1e-9, 1).otherwise(0)
          .as("unit_ok"),
        when(min(when(col("__lam_prev").isNull, 1)
          .otherwise((col("__lam") <= col("__lam_prev") + 1e-9)
            .cast("int"))) === 1, 1).otherwise(0).as("lambda_desc_ok"),
        when(min(col("__exp")) > 0 && max(col("__cum")) <= 1.000001, 1)
          .otherwise(0).as("explained_ok"))
    val ortho = pc.as("a")
      .join(pc.as("b"), col("a.pos") === col("b.pos") &&
        col("a.component") < col("b.component"))
      .groupBy(col("a.component"), col("b.component"))
      .agg(abs(sum(col("a.loading") * col("b.loading"))).as("__dot"))
      .agg(when(max(col("__dot")) < 1e-6, 1).otherwise(0)
        .as("orthogonal_ok"))
    flags.crossJoin(ortho) // two 1-row frames
  }

  /** All-but-the-top whitening ([[Similarity.abttWhiten]] — Mu &
    * Viswanath 2018): mean-subtract + remove the top-r principal
    * directions, the standard repair for anisotropic embedding spaces,
    * as ONE map-side affine kernel fed by one bounded stats pass.
    * Differential convention (driver math, no SQL mirror): the oracle
    * pins the algebraic INVARIANTS, each recomputed Spark-side from an
    * independent stats pass over the whitened output — the post-whitening
    * mean is ~0 (`post_mean_ok`), the removed directions carry ~zero
    * residual variance (`removed_var_ok`: uᵀC′u over the original top-r
    * eigenvectors), and the whitened spectrum's top eigenvalue equals
    * the ORIGINAL (r+1)-th (`top_matches_next`: P·C·P keeps exactly the
    * non-removed eigenvalues — an identity, not a heuristic). */
  val embedAbttQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val dim = 64
    val r = 2
    // the operator RETURNS the basis it removed — auditing against a
    // recomputed one is both a redundant corpus scan and fragile
    // (task-completion merge order can flip round-6 covariance digits
    // and rotate eigenvectors inside small-gap eigenspaces); the
    // independence of the check comes from the SECOND stats pass over
    // the whitened OUTPUT, not from re-deriving the model
    val (white, _, lam0, vec0, top) =
      Similarity.abttWhitenWithBasis(e, "vec_id", "embedding", dim, r)
    val order0 = (0 until dim).sortBy(i => (-lam0(i), i))
    val (n1, mean1, cov1) = Similarity.gramStats(white, "vec", dim)
    val (lam1, _) = Similarity.jacobiEigen(cov1)
    val removedVar = top.map { ei =>
      var s0 = 0.0
      for (i <- 0 until dim; j <- 0 until dim)
        s0 += vec0(i)(ei) * vec0(j)(ei) * cov1(i)(j)
      math.abs(s0)
    }.max
    val nextLam = lam0(order0(r))
    def ok(b: Boolean) = if (b) 1 else 0
    Similarity.localFrame(s, Array(org.apache.spark.sql.Row(
      n1, r,
      ok(mean1.map(math.abs).max < 1e-5),
      ok(removedVar < 1e-4),
      ok(math.abs(lam1.max - nextLam) < 1e-3))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_vectors",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("r_removed",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("post_mean_ok",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("removed_var_ok",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("top_matches_next",
          org.apache.spark.sql.types.IntegerType))))
  }

  val embedPcaQ: Q = (s, d) =>
    Similarity.pcaTopComponent(t(s, d, "embeddings"), "embedding", k = 16)
      .agg(count(lit(1)).as("n_dims"),
        when(abs(sum(col("loading") * col("loading")) - 1.0) < 1e-9, 1)
          .otherwise(0).as("unit_ok"),
        when(min(col("lambda")) > 0, 1).otherwise(0).as("lambda_pos"),
        when(max(col("explained")) > 0 && max(col("explained")) <= 1.000001, 1)
          .otherwise(0).as("explained_ok"))

  /** The STORED-index path through ann_ivf's exact harness: build the IVF
    * index, publish it to disk (write-then-swap), reload, and answer the
    * same queries from the stored tables — the build-once / query-many
    * production shape. Same floor as ann_ivf because the stored index is
    * bit-identical to the in-memory one (deterministic hash-seeded
    * k-means + exact double round-trip through parquet; SimilaritySpec
    * pins result equality). EAGER + self-cleaning: the 1-row recall
    * aggregate is collected and re-wrapped so the temp index directory
    * can be deleted before returning (a lazy plan would dangle on it). */
  val annIvfStoredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    // read-only consumer of the shared plain-IVF fixture (r19 build-once)
    val idx = IndexFixtures.shared(d, "ivf-full-16x1")(p =>
      Similarity.writeIvfIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 1))
    val check = annRecallCheck(
      Similarity.annIvfStored(s, idx, q, "vec_id", "embedding",
        k = 10, nProbe = 4).select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 15)
    Similarity.localFrame(s, check.collect(), check.schema)
  }

  /** IVF-pruned PQ through the exact harness — both levers composed:
    * nProbe=8 of 16 cells scanned per query (pruning), candidates
    * contribute 16 small ints each (compression), shortlist-80 exact
    * re-rank repairs both. Measured total hits 5 queries × k=10:
    * 43 / 43 / 39 across sf0.001 / 0.01 / 0.1 — the gap to pq_topk's
    * 50/50/48 is the IVF cell misses (this fixture clusters weakly; the
    * same reason ann_ivf carries floor 15 at nProbe=4). Floor 30 keeps
    * ≥ 23% margin at the weakest SF. */
  val ivfPqTopkQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    annRecallCheck(
      Similarity.ivfPqTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10, shortlist = 80, nLists = 16, nProbe = 8,
        m = 16, ksub = 64, iters = 3)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 30)
  }

  /** The stored-PQ path through pq_topk's exact harness: codebooks
    * trained and the corpus encoded ONCE, published to disk
    * (write-then-swap), reloaded, and the same queries answered from the
    * persisted codes with only the shortlisted ids' full vectors read
    * back for the re-rank. Same floor as pq_topk: the stored codes are
    * bit-identical to the in-memory encode (deterministic seeds, exact
    * int/double round-trip; SimilaritySpec pins equality). EAGER +
    * self-cleaning like ann_ivf_stored. */
  val pqStoredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    // read-only consumer of the shared PQ fixture (r19 build-once)
    val idx = IndexFixtures.shared(d, "pq-full-16x64x3")(p =>
      Similarity.writePqIndex(e, "vec_id", "embedding", p,
        m = 16, ksub = 64, iters = 3))
    val check = annRecallCheck(
      Similarity.pqTopKStored(s, idx, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, shortlist = 80)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 40)
    Similarity.localFrame(s, check.collect(), check.schema)
  }

  /** The COMPOSED stored-index path — the one family member a real user
    * deploys for repeated queries: one [[Similarity.writeIvfPqIndex]]
    * build (coarse centroids + PQ codebooks + per-vector cell/codes,
    * published as one atomic root swap), then every query answered from
    * the stored tables with ZERO training/encoding — probe, compressed
    * cell scan, shortlist-80 exact re-rank. Plain (non-residual) codes:
    * measured 43/43/39 hits across sf0.001/0.01/0.1, identical to the
    * in-memory ivf_pq_topk (deterministic seeds + exact parquet
    * round-trip; SimilaritySpec pins equality), so it shares floor 30.
    * The residual IVFADC variant is implemented and measured in the
    * writeIvfPqIndex scaladoc — on this weakly-clustered fixture it
    * buys nothing at shortlist 80 and loses at tight shortlists, so the
    * registered production default stays plain. EAGER + self-cleaning
    * like ann_ivf_stored. */
  /** The shared full-corpus heavy composed index (the ivf_pq_stored
    * configuration) — read-only home of `ivf_pq_stored` and
    * `ivf_pq_probe_sweep`. */
  private def fullHeavyIvfPq(s: SparkSession, d: String): String = {
    val e = t(s, d, "embeddings")
    IndexFixtures.shared(d, "ivfpq-full-16x3-16x64x3")(p =>
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 3, m = 16, ksub = 64, pqIters = 3,
        residual = false))
  }

  /** The shared full-corpus CHEAP composed index (1 Lloyd / 1 PQ iter) —
    * `ivf_pq_compact`'s reference rebuild reads it; `ivf_pq_delete`
    * clones it. */
  private def fullCheapIvfPq(s: SparkSession, d: String): String = {
    val e = t(s, d, "embeddings")
    IndexFixtures.shared(d, "ivfpq-full-16x1-8x16x1")(p =>
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 1, m = 8, ksub = 16, pqIters = 1))
  }

  /** The shared payload-bearing heavy composed index — read-only home
    * of `ivf_pq_filtered` and `ivf_pq_filtered_sweep` (single-sourced:
    * the fixture cache is keyed by STRING, so two inline copies of the
    * build could silently drift apart in parameters with first-run-wins
    * semantics). */
  private def fullHeavyLabelIvfPq(s: SparkSession, d: String): String = {
    val e = t(s, d, "embeddings")
    IndexFixtures.shared(d, "ivfpq-full-16x3-16x64x3-label")(p =>
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 3, m = 16, ksub = 64, pqIters = 3,
        residual = false, payload = Seq("label")))
  }

  /** The shared even-half CHEAP composed index — the grow-story
    * prestate `ivf_pq_health` and `ivf_pq_compact` clone before
    * ingesting the odd half. */
  private def evenCheapIvfPq(s: SparkSession, d: String): String = {
    val e = t(s, d, "embeddings")
    IndexFixtures.shared(d, "ivfpq-even-16x1-8x16x1")(p =>
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p,
        nLists = 16, lloydIters = 1, m = 8, ksub = 16, pqIters = 1))
  }

  /** The STORED composed index with the OPQ rotation baked into the
    * artifact ([[Similarity.writeIvfPqIndex]] `opq = true`) — the full
    * production shape of r19's rotation work: cells, codebooks, and
    * codes all live in the learned rotated basis, the rotation is a
    * first-class published table (`rotation.parquet`, audited by
    * `ivf_pq_health`'s `bad_rotation`), queries rotate against the
    * STORED matrix at probe time, and every grow path (append / ingest /
    * streaming sink) rotates arrivals automatically — while the exact
    * re-rank stays in the ORIGINAL space (orthonormality preserves
    * dots). Same config and harness as ivf_pq_stored; measured hits,
    * 5 queries × k=10, shortlist 80 / nProbe 8: 43 / 43 / 41 across
    * sf0.001 / 0.01 / 0.1 vs plain 43 / 43 / 39 — equal-or-better,
    * with the gain small on this weakly-clustered fixture because
    * composed recall is cell-coverage-bound rather than quantizer-bound
    * (the rotation's clear win shows on the pure-PQ path: pq_opq
    * 50/50/50 vs pq_topk 50/50/48); shared floor 30, ≥ 36% margin at
    * the weakest SF. EAGER + read-only on the shared OPQ fixture. */
  val ivfPqOpqStoredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val idx = IndexFixtures.shared(d, "ivfpq-full-opq-16x3-16x64x3")(p =>
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 3, m = 16, ksub = 64, pqIters = 3,
        residual = false, opq = true))
    val check = annRecallCheck(
      Similarity.ivfPqStoredTopK(s, idx, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, shortlist = 80, nProbe = 8)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 30)
    Similarity.localFrame(s, check.collect(), check.schema)
  }

  /** The OPQ COVERAGE READ the r19 verdict prescribed: plain-vs-rotated
    * probe curves at fixed compute from ONE sweep scan per arm
    * ([[Similarity.ivfPqStoredProbeSweep]] on the two shared stored
    * fixtures — same nLists/m/ksub/shortlist, the rotation is the ONLY
    * variable), so the OPQ config is committed from a measurement
    * rather than faith. Measured hits (5 queries × k=10, shortlist 80,
    * probes 1/2/4/8/16) across sf0.001 / 0.01 / 0.1:
    * plain 9-17-29-43-50 / 10-16-25-43-50 / 17-24-30-39-48,
    * OPQ   9-17-29-43-50 / 10-16-25-43-50 / 17-24-30-41-50 —
    * the two arms are IDENTICAL while coarse-cell coverage binds (every
    * probe at the small SFs; probes ≤ 4 at sf0.1) and the rotation's
    * gain appears exactly where coverage stops binding (sf0.1: +2 at
    * probe 8, +2 and PERFECT 50/50 at full probe) — quantitatively the
    * r19 hypothesis that composed recall was coverage-bound, not
    * quantizer-bound. Differential convention: raw hit counts stay out
    * (probe-dependent sketch internals); the oracle pins the spine,
    * `full_opq_ge_plain` (rotation never loses once every cell is
    * probed — the Ge et al. claim at the measurable operating point),
    * `full_floor_met` (both arms ≥ 30 at full probe, the composed
    * family's floor), and `max_equals_stored` (the OPQ sweep's
    * max-budget arm is IDENTICAL to an independent
    * [[Similarity.ivfPqStoredTopK]] run on the OPQ index — the
    * one-scan algebra holds on the rotated path too). EAGER +
    * read-only on the two shared build-once fixtures. */
  val ivfPqOpqSweepQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val plainIdx = fullHeavyIvfPq(s, d)
    val opqIdx = IndexFixtures.shared(d, "ivfpq-full-opq-16x3-16x64x3")(p =>
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", p,
        nLists = 16, lloydIters = 3, m = 16, ksub = 64, pqIters = 3,
        residual = false, opq = true))
    val probes = Seq(1, 2, 4, 8, 16)
    def sweep(idx: String) = Similarity.ivfPqStoredProbeSweep(s, idx, e,
      "vec_id", "embedding", q, "vec_id", "embedding", k = 10,
      shortlist = 80, probes = probes)
      .select("n_probe", "q_id", "n_id").localCheckpoint()
    // the four arms (exact truth, the two sweep scans, the independent
    // stored-topk run) are independent job chains of small stages —
    // previously ~83 driver-sequential jobs; overlap them (guide §2.6)
    val (exact, sp, so, storedMaxO) = graft.engine.Overlap.par4(
      Similarity.bruteForceTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
        .select("q_id", "n_id").localCheckpoint(),
      sweep(plainIdx),
      sweep(opqIdx),
      Similarity.ivfPqStoredTopK(s, opqIdx, e, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 10, shortlist = 80,
        nProbe = probes.max).select("q_id", "n_id").localCheckpoint())
    // ONE collect answers BOTH arms' probe curves (the tagged union of
    // the two per-arm joins — identical counts, half the action count)
    val hitRows = sp.withColumn("__arm", lit("p"))
      .unionByName(so.withColumn("__arm", lit("o")))
      .join(exact, Seq("q_id", "n_id"))
      .groupBy("__arm", "n_probe").count().collect()
    def armHits(a: String) = hitRows.collect {
      case r if r.getString(0) == a => r.getInt(1) -> r.getLong(2)
    }.toMap
    val hp = armHits("p")
    val ho = armHits("o")
    val maxSweepO = so.filter(col("n_probe") === probes.max)
      .select("q_id", "n_id")
    // symmetric-difference emptiness in ONE action (A\B ∪ B\A = ∅ iff
    // both are — the two serial exceptAll jobs computed exactly this)
    val idOk = maxSweepO.exceptAll(storedMaxO)
      .unionAll(storedMaxO.exceptAll(maxSweepO)).isEmpty
    val nq = q.count()
    def ok(b: Boolean) = if (b) 1 else 0
    val fullGe = ok(ho.getOrElse(probes.max, 0L) >=
      hp.getOrElse(probes.max, 0L))
    val floorMet = ok(ho.getOrElse(probes.max, 0L) >= 30L &&
      hp.getOrElse(probes.max, 0L) >= 30L)
    Similarity.localFrame(s, probes.sorted.map(p =>
      org.apache.spark.sql.Row(p, nq, 10, fullGe, floorMet,
        ok(idOk))).toArray,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_probe",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_queries",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("full_opq_ge_plain",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("full_floor_met",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("max_equals_stored",
          org.apache.spark.sql.types.IntegerType))))
  }

  val ivfPqStoredQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val idx = fullHeavyIvfPq(s, d) // read-only (r19 build-once)
    val check = annRecallCheck(
      Similarity.ivfPqStoredTopK(s, idx, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, shortlist = 80, nProbe = 8)
        .select("q_id", "n_id"),
      Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 10).select("q_id", "n_id"),
      k = 10, hitsFloor = 30)
    Similarity.localFrame(s, check.collect(), check.schema)
  }

  /** The GROWING-corpus path through the composed stored index: train
    * centroids+codebooks and build the index on the even-vec_id half
    * only, [[Similarity.appendIvfPqIndex]] the odd half against the
    * STORED model (one map pass over the new batch — assign + encode,
    * zero re-training, corpus never re-read), then answer queries over
    * the FULL corpus from the grown index. This measures the real
    * incremental contract: the odd half is indexed with a model that
    * never saw it (the drift story every *_incr key tells). Measured
    * hits, 5 queries × k=10, shortlist 80 / nProbe 8:
    * 42 / 40 / 39 across sf0.001 / 0.01 / 0.1 vs 43/43/39 for the
    * rebuild — the half-corpus model costs ≤ 3 hits at this scale;
    * floor 30 keeps ≥ 23% margin at the weakest SF. EAGER +
    * self-cleaning like ann_ivf_stored. */
  val ivfPqIncrQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    // the append MUTATES the artifact — clone the shared even-half build
    // (byte-identical to the fresh build this key used to train itself)
    val src = IndexFixtures.shared(d, "ivfpq-even-16x3-16x64x3")(p =>
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, nLists = 16, lloydIters = 3,
        m = 16, ksub = 64, pqIters = 3, residual = false))
    val idx = IndexFixtures.cloneOf(s, src, "graft-ivfpq-incr")
    try {
      // the exact truth never reads the index — overlap it with the
      // append + grown-index search chain (guide §2.6); both arms are
      // checkpointed so the recall aggregate below reads them once
      val (exact, ann) = graft.engine.Overlap.par(
        Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id",
          "embedding", k = 10).select("q_id", "n_id").localCheckpoint(),
        {
          Similarity.appendIvfPqIndex(s, idx,
            e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
          Similarity.ivfPqStoredTopK(s, idx, e, "vec_id", "embedding",
            q, "vec_id", "embedding", k = 10, shortlist = 80, nProbe = 8)
            .select("q_id", "n_id").localCheckpoint()
        })
      val check = annRecallCheck(ann, exact, k = 10, hitsFloor = 30)
      Similarity.localFrame(s, check.collect(), check.schema)
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Index-health dashboard over a stored composed IVF+PQ index
    * ([[Similarity.ivfPqIndexHealth]]) — the operational "rebuild yet?"
    * read the append/ingest contracts defer to, exercised over the
    * OPERATIONAL shape it exists for: the index is built on the
    * even-vec_id half and the odd half arrives through the ingest-delta
    * path ([[Similarity.ingestIvfPqBatch]] — the batch form of the
    * streaming sink's per-micro-batch write), so the base/delta split
    * the dashboard reports is non-trivial and the oracle pins the real
    * arithmetic: `delta_rows` = the odd count, `total_indexed` = the
    * full corpus, every row indexed exactly once across the two paths.
    * Exact totals (row coverage, delta split, structural code AND
    * codebook validity) are oracle-checked directly; the cell-balance
    * stats reduce to invariant flags because k-means populations are
    * data-dependent (cells_used ∈ [1, nLists]; populations ∈
    * [1, total]; imbalance = max/mean ≥ 1 by construction). Cheap
    * training config (1 Lloyd / 1 PQ iter): health reads the artifact's
    * SHAPE, not its recall — the recall keys own that. EAGER +
    * self-cleaning like ann_ivf_stored. */
  val ivfPqHealthQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    // the ingest MUTATES the artifact — clone the shared grow prestate
    val idx = IndexFixtures.cloneOf(s, evenCheapIvfPq(s, d),
      "graft-ivfpq-hl")
    try {
      Similarity.ingestIvfPqBatch(s, idx,
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        batchId = 0L)
      val h = Similarity.ivfPqIndexHealth(s, idx).head()
      def ok(b: Boolean) = if (b) 1 else 0
      val total = h.getAs[Long]("total_indexed")
      Similarity.localFrame(s, Array(org.apache.spark.sql.Row(
        total, h.getAs[Long]("delta_rows"), h.getAs[Long]("bad_codes"),
        h.getAs[Long]("bad_codebook"),
        ok(h.getAs[Long]("cells_used") >= 1 &&
          h.getAs[Long]("cells_used") <= h.getAs[Long]("n_lists")),
        ok(h.getAs[Long]("min_pop") >= 1 &&
          h.getAs[Long]("max_pop") <= total),
        ok(h.getAs[Double]("imbalance") >= 1.0))),
        org.apache.spark.sql.types.StructType(
          Seq("total_indexed", "delta_rows", "bad_codes", "bad_codebook")
            .map(n => org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType)) ++
          Seq("cells_bounded", "pop_bounded", "imbalance_ok").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.IntegerType))))
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Compaction of the composed index's ingest delta
    * ([[Similarity.compactIvfPqIndex]]) — the third act of the ingest
    * story, E2E: build on the even half, land the odd half as an
    * ingest-delta batch, then compact against the FULL corpus (the
    * grown source of truth). Oracle-pinned outcomes: the pre-compaction
    * delta equals the odd count and the post-compaction delta is ZERO
    * (the root swap dropped `ingest.parquet`); every corpus row stays
    * indexed exactly once; the publish epoch BUMPED (so any in-flight
    * append racing the swap would fail its epoch guard instead of
    * landing stale codes); and the compacted artifact's index table is
    * row-identical to a fresh [[Similarity.writeIvfPqIndex]] over the
    * same grown corpus with the same config — compaction is a rebuild,
    * not a new code path (deterministic seeds + deterministic
    * partitioning make the two builds bit-equal). EAGER +
    * self-cleaning like ann_ivf_stored. */
  val ivfPqCompactQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    // the ingest+compact MUTATE the artifact — clone the shared grow
    // prestate; the reference rebuild is the shared full-corpus cheap
    // fixture (read-only compare: same grown corpus, same config)
    val idx = IndexFixtures.cloneOf(s, evenCheapIvfPq(s, d),
      "graft-ivfpq-cp")
    def cleanup(p: String) =
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      } catch { case scala.util.control.NonFatal(_) => () }
    try {
      Similarity.ingestIvfPqBatch(s, idx,
        e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
        batchId = 0L)
      // pre-compaction reads are independent of each other — overlap
      // (guide §2.6)
      val (preH, epochBefore) = graft.engine.Overlap.par(
        Similarity.ivfPqIndexHealth(s, idx).head(),
        Similarity.readIvfPqEpoch(s, idx))
      val preDelta = preH.getAs[Long]("delta_rows")
      Similarity.compactIvfPqIndex(s, idx, e, "vec_id", "embedding")
      // reference rebuild: same grown corpus, same config — the compacted
      // index table must match it row for row. The three post-compaction
      // reads (health, epoch, the table compare) are independent; the
      // compare runs as ONE symmetric-difference action (A\B ∪ B\A = ∅
      // iff both are — the two serial exceptAll jobs computed exactly
      // this)
      val fresh = fullCheapIvfPq(s, d)
      val (h, epochAfter, matches) = graft.engine.Overlap.par3(
        Similarity.ivfPqIndexHealth(s, idx).head(),
        Similarity.readIvfPqEpoch(s, idx),
        {
          val a = s.read.parquet(s"$idx/index.parquet")
          val b = s.read.parquet(s"$fresh/index.parquet")
          a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty
        })
      def ok(bb: Boolean) = if (bb) 1 else 0
      Similarity.localFrame(s, Array(org.apache.spark.sql.Row(
        h.getAs[Long]("total_indexed"), preDelta,
        h.getAs[Long]("delta_rows"), h.getAs[Long]("bad_codes"),
        ok(epochAfter == epochBefore + 1), ok(matches))),
        org.apache.spark.sql.types.StructType(
          Seq("total_indexed", "pre_delta_rows", "post_delta_rows",
            "bad_codes").map(n => org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.LongType)) ++
          Seq("epoch_bumped", "matches_rebuild").map(n =>
            org.apache.spark.sql.types.StructField(n,
              org.apache.spark.sql.types.IntegerType))))
    } finally cleanup(idx)
  }

  /** Index DELETION ([[Similarity.deleteFromIvfPqIndex]]) — the fourth
    * lifecycle verb (grow / observe / compact / DELETE), exercised on
    * its sharpest fixture: the QUERIES' OWN ids are deleted, so every
    * query's previous rank-1 hit (itself, cosine 1) must vanish from
    * the top-k immediately — no rebuild, no re-encode, just the
    * tombstone anti-join in the serving path. Oracle-pinned outcomes:
    * zero deleted ids in any top-k while every query still fills its k
    * from survivors (exhaustive probes + deep shortlist make the row
    * count deterministic) and health reports the tombstone arithmetic
    * exactly (5 tombstoned ids suppressing 5 stored rows,
    * total_indexed unchanged — dead rows still occupy cells until
    * compaction). The key ends at post-delete SERVING by design (the
    * r19 verdict's bench-hygiene item): durability-through-compaction
    * is spec-pinned in SimilaritySpec's tombstone battery, and the
    * compaction cost is `ivf_pq_compact`'s to measure — paying it
    * twice made this the slowest key in the registry. Cheap training
    * config — deletion is structural, recall keys own recall. EAGER +
    * self-cleaning like ann_ivf_stored. */
  val ivfPqDeleteQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val del = q.select("vec_id")
    // the delete MUTATES the artifact — clone the shared full-corpus
    // cheap fixture (r19 build-once)
    val idx = IndexFixtures.cloneOf(s, fullCheapIvfPq(s, d),
      "graft-ivfpq-del")
    try {
      Similarity.deleteFromIvfPqIndex(s, idx, del, "vec_id")
      // the three post-delete reads (health dashboard, the tombstone-aware
      // search, the query count) are independent job chains — overlap
      // them (guide §2.6)
      val (h0, post, nQueries) = graft.engine.Overlap.par3(
        Similarity.ivfPqIndexHealth(s, idx).head(),
        Similarity.ivfPqStoredTopK(s, idx, e, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 10, shortlist = 80,
          nProbe = 16).select("q_id", "n_id").localCheckpoint(),
        q.count())
      // result rows and deleted-id hits from ONE aggregation job (del's
      // ids are unique, so the left join cannot fan out a result row —
      // the two serial counts read exactly these numbers)
      val cRow = post.join(del.withColumnRenamed("vec_id", "n_id")
          .withColumn("__d", lit(1)), Seq("n_id"), "left")
        .agg(count(lit(1)).as("rr"), count(col("__d")).as("dit")).head()
      val resultRows = cRow.getLong(0)
      val deletedInTopk = cRow.getLong(1)
      Similarity.localFrame(s, Array(org.apache.spark.sql.Row(
        nQueries, resultRows, deletedInTopk,
        h0.getAs[Long]("total_indexed"),
        h0.getAs[Long]("tombstone_rows"), h0.getAs[Long]("dead_rows"))),
        org.apache.spark.sql.types.StructType(
          Seq("n_queries", "result_rows", "deleted_in_topk", "total",
            "tombstone_rows", "dead_rows").map(n =>
              org.apache.spark.sql.types.StructField(n,
                org.apache.spark.sql.types.LongType))))
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** nProbe tuning curve of the STORED composed index
    * ([[Similarity.ivfPqStoredProbeSweep]]) — the operational read a
    * user takes BEFORE pinning the production probe budget, answered
    * from one scan at the deepest budget (the shortlist sweep's
    * machinery with the probe dimension added). Differential
    * convention: raw hit counts stay OUT (probe- and fixture-dependent
    * sketch internals; recall is NOT provably monotone in nProbe at a
    * fixed shortlist, which is the point of measuring); the oracle pins
    * the spine, `final_floor_met` (the max-budget row meets the
    * composed-index floor 30 — it is ivf_pq_stored's exact
    * configuration), and `max_equals_stored` (the sweep's max-budget
    * result set is IDENTICAL to an independent [[Similarity
    * .ivfPqStoredTopK]] run — the one-scan algebra is an identity, not
    * an approximation). EAGER + self-cleaning like ann_ivf_stored. */
  val ivfPqProbeSweepQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    // read-only consumer of the shared heavy fixture (r19 build-once) —
    // the sweep only ever reads the published tables
    val idx = fullHeavyIvfPq(s, d)
    locally {
      val probes = Seq(1, 2, 4, 8)
      // three independent job chains (exact truth, the sweep scan, the
      // independent stored-topk run) — overlap them (guide §2.6); the
      // stored arm is checkpointed so the symmetric-difference check
      // below executes the search once, not once per exceptAll side
      val (exact, sweep, storedMax) = graft.engine.Overlap.par3(
        Similarity.bruteForceTopK(
          e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
          .select("q_id", "n_id").localCheckpoint(),
        Similarity.ivfPqStoredProbeSweep(s, idx, e, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 10, shortlist = 80,
          probes = probes)
          .select("n_probe", "q_id", "n_id").localCheckpoint(),
        Similarity.ivfPqStoredTopK(s, idx, e, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 10, shortlist = 80,
          nProbe = probes.max).select("q_id", "n_id").localCheckpoint())
      val maxSweep = sweep.filter(col("n_probe") === probes.max)
        .select("q_id", "n_id")
      // symmetric-difference emptiness in ONE action (A\B ∪ B\A = ∅ iff
      // both are — the two serial exceptAll jobs computed exactly this)
      val idOk = maxSweep.exceptAll(storedMax)
        .unionAll(storedMax.exceptAll(maxSweep)).isEmpty
      val hits = sweep.join(exact, Seq("q_id", "n_id"))
        .groupBy("n_probe").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nq = q.count()
      def ok(b: Boolean) = if (b) 1 else 0
      // the floor is the MAX budget's (keyed, not hardcoded: an edited
      // sweep must not silently read a missing bucket as zero hits)
      val floorMet = ok(hits.getOrElse(probes.max, 0L) >= 30L)
      Similarity.localFrame(s, probes.map(p =>
        org.apache.spark.sql.Row(p, nq, 10, floorMet, ok(idOk))).toArray,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_probe",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("n_queries",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("final_floor_met",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("max_equals_stored",
            org.apache.spark.sql.types.IntegerType))))
    }
  }

  /** The probe tuning curve UNDER A STRATUM PREDICATE
    * ([[Similarity.ivfPqStoredProbeSweepFiltered]]) — r19's two
    * flagship features composed: filtered search needs MORE probes than
    * unfiltered at the same recall (eligible candidates are thinner per
    * cell), and this is the one-scan read that measures exactly that
    * before an operator pins the budget for a filtered workload. Same
    * differential conventions as ivf_pq_probe_sweep (spine +
    * `max_equals_filtered`: the max-budget slice is IDENTICAL to an
    * independent [[Similarity.ivfPqStoredTopKFiltered]] run — the
    * one-scan algebra is an identity under the filter too) plus the
    * filtered family's eligibility audit (`ineligible_hits` pinned 0)
    * and ivf_pq_filtered's floor 28 at the max budget. Read-only on the
    * shared payload fixture. */
  val ivfPqFilteredSweepQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val w = col("label") % 2 === 0
    val idx = fullHeavyLabelIvfPq(s, d)
    val probes = Seq(1, 2, 4, 8)
    // three independent job chains (exact filtered truth, the filtered
    // sweep scan, the independent filtered stored-topk run) — overlap
    // them (guide §2.6); each checkpointed so the downstream checks
    // execute each arm once
    val (exact, sweep, storedMax) = graft.engine.Overlap.par3(
      Similarity.bruteForceTopK(e.filter(w), "vec_id",
          "embedding", q, "vec_id", "embedding", k = 10)
        .select("q_id", "n_id").localCheckpoint(),
      Similarity.ivfPqStoredProbeSweepFiltered(s, idx, e,
          "vec_id", "embedding", q, "vec_id", "embedding", k = 10,
          shortlist = 80, probes = probes, where = w)
        .select("n_probe", "q_id", "n_id").localCheckpoint(),
      Similarity.ivfPqStoredTopKFiltered(s, idx, e,
        "vec_id", "embedding", q, "vec_id", "embedding", k = 10,
        shortlist = 80, where = w, nProbe = probes.max)
        .select("q_id", "n_id").localCheckpoint())
    val maxSweep = sweep.filter(col("n_probe") === probes.max)
      .select("q_id", "n_id")
    // symmetric-difference emptiness in ONE action (A\B ∪ B\A = ∅ iff
    // both are — the two serial exceptAll jobs computed exactly this)
    val idOk = maxSweep.exceptAll(storedMax)
      .unionAll(storedMax.exceptAll(maxSweep)).isEmpty
    // the three residual reads are tiny independent jobs over the
    // checkpointed arms — overlap those too
    val (hitRows, inel, nq) = graft.engine.Overlap.par3(
      sweep.join(exact, Seq("q_id", "n_id"))
        .groupBy("n_probe").count().collect(),
      sweep.join(e.filter(!w).select(col("vec_id").as("n_id")),
        Seq("n_id"), "left_semi").count(),
      q.count())
    val hits = hitRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    def ok(b: Boolean) = if (b) 1 else 0
    val floorMet = ok(hits.getOrElse(probes.max, 0L) >= 28L)
    Similarity.localFrame(s, probes.map(p =>
      org.apache.spark.sql.Row(p, nq, 10, floorMet, ok(idOk), inel))
      .toArray,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_probe",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_queries",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("final_floor_met",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("max_equals_filtered",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("ineligible_hits",
          org.apache.spark.sql.types.LongType))))
  }

  /** PQ shortlist tuning curve — the re-rank sibling of ann_probe_sweep:
    * hits vs the exact top-k at shortlist 10/20/40/80, codebooks trained
    * and the corpus encoded ONCE (the stored index), and — since r18 —
    * every cut derived from ONE compressed scan
    * ([[Similarity.pqStoredShortlistSweep]]: the cut-sl candidate set is
    * the ADC ranks ≤ sl, so one deepest-shortlist pass + per-cut rank
    * filters answers all four; the diagnostic previously re-scanned the
    * corpus once per cut, 4× the work for identical numbers — the
    * equality is spec-pinned). Monotonicity here is a THEOREM, not an
    * observation: a larger shortlist is a superset of candidates, and
    * any exact-top-k member in the candidate set always survives the
    * true-cosine re-rank (at most rank−1 < k candidates beat it), so
    * hits are non-decreasing — `monotone_ok` pins the proof holds in the
    * implementation. `final_floor_met` holds shortlist-80 to pq_topk's
    * measured floor. */
  val pqShortlistSweepQ: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      .select("q_id", "n_id").localCheckpoint()
    // read-only consumer of pq_stored's shared fixture (r19 build-once)
    val idx = IndexFixtures.shared(d, "pq-full-16x64x3")(p =>
      Similarity.writePqIndex(e, "vec_id", "embedding", p,
        m = 16, ksub = 64, iters = 3))
    locally {
      val hitRows = Similarity.pqStoredShortlistSweep(s, idx,
          e, "vec_id", "embedding", q, "vec_id", "embedding",
          k = 10, shortlists = Seq(10, 20, 40, 80))
        .join(exact.withColumn("__e", lit(1L)), Seq("q_id", "n_id"), "left")
        .groupBy("shortlist")
        .agg(sum(coalesce(col("__e"), lit(0L))).as("__hits"))
      val ord = org.apache.spark.sql.expressions.Window.orderBy("shortlist")
      val all = org.apache.spark.sql.expressions.Window
        .orderBy("shortlist").rowsBetween(Long.MinValue, Long.MaxValue)
      val nq = q.agg(count(lit(1)).as("n_queries"))
      val out = hitRows // 4 rows: the windows below touch nothing larger
        .withColumn("__prev", lag(col("__hits"), 1).over(ord))
        .withColumn("monotone_ok",
          when(col("__prev").isNull || col("__hits") >= col("__prev"), 1)
            .otherwise(0))
        .withColumn("final_floor_met",
          when(max(when(col("shortlist") === 80, col("__hits"))).over(all)
            >= 40, 1).otherwise(0))
        .crossJoin(broadcast(nq))
        .select(col("shortlist"), col("n_queries"), lit(10).as("k"),
          col("monotone_ok"), col("final_floor_met"))
        .orderBy("shortlist")
      Similarity.localFrame(s, out.collect(), out.schema)
    }
  }

  /** IVF probe-count tuning curve: exact-topk hit counts at nProbe
    * 1..4 — the recall/latency trade read BEFORE pinning a probe budget
    * (the ANN sibling of dedup_sweep's threshold curve). Differential
    * convention: raw hit counts stay OUT of the output (probe-dependent
    * sketch internals); DuckDB recomputes n_queries/k and pins
    * `monotone_ok` (more probes can only widen the searched cells — hits
    * must be non-decreasing) and `final_floor_met` (the full-probe row
    * meets ann_ivf's established floor). A recall regression at any
    * probe count flips a flag and fails the driver compare. */
  val annProbeSweep: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    // the exact baseline and the IVF index are each built ONCE and
    // checkpointed: the sweep varies only the cheap query-side probe
    // plan — without this, every probe branch re-ran the O(n²) exact
    // top-k AND the eager kmeans clustering (4x each per evaluation)
    // the exact truth and the train+assign chain are independent job
    // chains — overlap them (guide §2.6); each arm's own plan (including
    // the kmeans collects) is exactly the serial one
    val (exact, assignedWithCentroids) = graft.engine.Overlap.par(
      Similarity.bruteForceTopK(
        e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
        .select("q_id", "n_id").localCheckpoint(),
      {
        val c = e.select(col("vec_id").as("n_id"),
          graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
        val cents = Similarity.kmeansCentroids(c, "n_id", "n_v",
          k = 16, iters = 1, assumeUnit = true)
        (cents, Similarity.assignCell(c, "n_id", "n_v", cents)
          .localCheckpoint())
      })
    val (centroids, assigned) = assignedWithCentroids
    // r18: the whole curve from ONE probe pass (annIvfProbeSweep — per-
    // budget output identical to annIvfWithIndex per cut, spec-pinned);
    // previously each budget re-ran its own probe join over the corpus
    val hitRows = Similarity.annIvfProbeSweep(centroids, assigned,
        q, "vec_id", "embedding", k = 10, probes = (1 to 4))
      .join(exact.withColumn("__e", lit(1L)), Seq("q_id", "n_id"), "left")
      .groupBy("n_probe")
      .agg(sum(coalesce(col("__e"), lit(0L))).as("__hits"))
    val ord = org.apache.spark.sql.expressions.Window.orderBy("n_probe")
    val all = org.apache.spark.sql.expressions.Window
      .orderBy("n_probe").rowsBetween(Long.MinValue, Long.MaxValue)
    val nq = q.agg(count(lit(1)).as("n_queries"))
    hitRows // 4 rows: the windows below touch nothing larger
      .withColumn("__prev", lag(col("__hits"), 1).over(ord))
      .withColumn("monotone_ok",
        when(col("__prev").isNull || col("__hits") >= col("__prev"), 1)
          .otherwise(0))
      .withColumn("final_floor_met",
        when(max(when(col("n_probe") === 4, col("__hits"))).over(all) >= 15, 1)
          .otherwise(0))
      .crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_queries"), lit(10).as("k"),
        col("monotone_ok"), col("final_floor_met"))
      .orderBy("n_probe")
  }

  // ---------------------------------------------------------- text analysis

  // (r21) sort the SOURCE and compute above it: a map-only projection
  // below a global orderBy is executed twice (the range partitioner's
  // sampling job re-runs the scan+compute child) — sorting first computes
  // each expensive kernel once, after the exchange; same rows, same order.
  val langId: Q = (s, d) =>
    TextAnalysis.withLangId(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "lang", "lang_pred")

  val textQuality: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.withQualityScore(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "quality_score")

  val textTokens: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.withTokenStats(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "n_tok", "n_distinct", "n_bpeish")

  val textFingerprint: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.withFingerprint(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "fingerprint")

  // ------------------------------------------------------------- multimodal

  /** Binary-column plumbing: text bytes stand in for media payloads; the
    * real header codec (PNG/JPEG/GIF/WAV) runs in mapPartitions and decodes
    * these honestly as format "unknown", and the oracle checks the
    * SQL-expressible output columns. */
  val multimodalMeta: Q = (s, d) => {
    val media = MultiModal.fromText(s, t(s, d, "documents"), "doc_id", "text")
    MultiModal.extractFeatures(media).toDF()
      .select("media_id", "modality", "n_bytes").orderBy("media_id")
  }

  /** Exact payload dedup over the media table (text bytes as payloads —
    * md5 over the utf-8 bytes mirrors DuckDB's md5 over the text). */
  val mediaDedupQ: Q = (s, d) => {
    val media = MultiModal.fromText(s, t(s, d, "documents"), "doc_id", "text")
    MultiModal.mediaDedup(media.toDF(), "media_id", "content")
      .orderBy("keep_id")
  }

  /** Shared planted-population builder for the two CTPH differentials:
    * (docs, base payloads, re-encoded twins at +10M, disjoint junk at
    * +20M) — populations the oracle can count independently from the
    * fixture. Twins are planted only for texts UNIQUE in the corpus
    * (window count over md5(text) = 1, oracle-mirrored): a text exactly
    * duplicated in more than maxGramDf/2 documents would push every
    * interior signature gram over the boilerplate cap and make the
    * recall_complete pin fail on a FIXTURE property (how duplicated the
    * corpus is) instead of an operator regression. The returned `docs`
    * carries a single `__plantable` column holding the whole plant rule
    * so the count side of each differential reads the identical
    * predicate by construction. */
  private def mediaPopulations(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").filter(col("text").isNotNull)
      .withColumn("__textdup",
        count(lit(1)).over(Window.partitionBy(md5(col("text")))))
      // the ONE plant rule — both differentials' n_planted counts read
      // this column, so editing the rule cannot desynchronize the plant
      // set from its count (recall_complete is an exact-equality pin)
      .withColumn("__plantable",
        length(col("text")) >= 200 && col("__textdup") === 1)
    val base = docs.select(col("doc_id").as("media_id"),
      col("text").cast("binary").as("content"))
    val planted = docs
      .filter(col("__plantable"))
      .select((col("doc_id") + 10000000L).as("media_id"),
        concat(lit("RIFFHDRv2|"), col("text"), lit("|ENDTRAILER"))
          .cast("binary").as("content"))
    val junk = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 20000000L).as("media_id"),
        concat((0 until 16).map(i =>
          md5(concat(col("doc_id"), lit(s"-$i")))): _*)
          .cast("binary").as("content"))
    (docs, base, planted, junk)
  }

  /** Fuzzy media near-dup differential (the dedup_simhash reference-free
    * pattern — the CTPH signature IS the operator, so there is no SQL
    * mirror): the media table is the documents payloads PLUS the two
    * [[mediaPopulations]] plants the oracle can count independently — a
    * RE-ENCODED twin per unique ≥200-char doc (container header +
    * trailer wrapped around the same bytes, the duplication mode exact
    * md5 [[MultiModal.mediaDedup]] provably misses) and a deterministic
    * high-entropy junk payload per doc_id % 7 == 0 (md5-chain bytes,
    * pairwise disjoint). Flags: every planted twin pairs with its base
    * (recall_complete — CTPH shares all interior piece characters, so
    * ≥200-char payloads give far more than minShared shared grams), and
    * NO pair touches a junk payload (random_clean — disjoint bytes share
    * no signature run). Base-corpus pairs among the real near-dup
    * documents are expected and not constrained here. */
  val mediaNearDupQ: Q = (s, d) => {
    val (docs, base, planted, junk) = mediaPopulations(s, d)
    val media = base.unionByName(planted).unionByName(junk)
    val cand = MultiModal.mediaNearDup(media, "media_id", "content",
      blockSize = 8, gramLen = 7, minShared = 2, maxGramDf = 20)
      .localCheckpoint()
    val counts = docs.agg(
      count(lit(1)).cast("long").as("n_base"),
      coalesce(sum(when(col("__plantable"), 1L).otherwise(0L)), lit(0L))
        .as("n_planted"),
      coalesce(sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_random"))
    val plantHits = cand
      .filter(col("a_id") < lit(10000000L) &&
        col("b_id") === col("a_id") + lit(10000000L))
      .agg(count(lit(1)).cast("long").as("n_plant_hits"))
    val junkPairs = cand.filter(col("b_id") >= lit(20000000L))
      .agg(count(lit(1)).cast("long").as("n_junk_pairs"))
    counts.crossJoin(plantHits).crossJoin(junkPairs)
      .select(col("n_base"), col("n_planted"), col("n_random"),
        when(col("n_plant_hits") === col("n_planted"), 1).otherwise(0)
          .as("recall_complete"),
        when(col("n_junk_pairs") === 0, 1).otherwise(0).as("random_clean"))
  }

  /** Incremental CTPH differential: the base payloads become the STORED
    * signature-gram index ([[MultiModal.mediaSignatureIndex]], built
    * once); the re-encoded twins and the junk payloads ARRIVE as a batch
    * and pair against the index only ([[MultiModal.mediaNearDupAgainst]])
    * — every twin must find exactly its base in the store
    * (recall_complete) and junk must find nothing (random_clean), with
    * the populations recounted independently by DuckDB. */
  val mediaNearDupIncrQ: Q = (s, d) => {
    val (docs, base, planted, junk) = mediaPopulations(s, d)
    val index = MultiModal.mediaSignatureIndex(base, "media_id", "content",
      blockSize = 8, gramLen = 7, maxGramDf = 20)
    val cand = MultiModal.mediaNearDupAgainst(
      planted.unionByName(junk), index, "media_id", "content",
      blockSize = 8, gramLen = 7, minShared = 2).localCheckpoint()
    val counts = docs.agg(
      coalesce(sum(when(col("__plantable"), 1L).otherwise(0L)), lit(0L))
        .as("n_planted"),
      coalesce(sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_random"))
    val plantHits = cand
      .filter(col("new_id") < lit(20000000L) &&
        col("corpus_id") === col("new_id") - lit(10000000L))
      .agg(count(lit(1)).cast("long").as("n_plant_hits"))
    val junkPairs = cand.filter(col("new_id") >= lit(20000000L))
      .agg(count(lit(1)).cast("long").as("n_junk_pairs"))
    counts.crossJoin(plantHits).crossJoin(junkPairs)
      .select(col("n_planted"), col("n_random"),
        when(col("n_plant_hits") === col("n_planted"), 1).otherwise(0)
          .as("recall_complete"),
        when(col("n_junk_pairs") === 0, 1).otherwise(0).as("random_clean"))
  }

  /** Exact-verify payoff differential for the CTPH candidate stage: the
    * planted re-encodings' candidate pairs join their PAYLOADS back
    * through [[MultiModal.mediaNearDupVerify]] and must certify at
    * overlap_ratio ≥ 0.5 (interior content-defined pieces are identical
    * under full 32-bit hashes; only the wrapper's boundary pieces
    * differ, so real re-encodings land near 1.0) — while CONTROL pairs,
    * each junk payload forced against its base doc (pairs the candidate
    * stage never emits, injected precisely because they must FAIL
    * verification), certify below (disjoint bytes share ~no full-hash
    * piece). DuckDB recounts both populations and pins both flags. */
  val mediaNearDupVerifyQ: Q = (s, d) => {
    val (docs, base, planted, junk) = mediaPopulations(s, d)
    val media = base.unionByName(planted).unionByName(junk)
    val cand = MultiModal.mediaNearDup(media, "media_id", "content",
      blockSize = 8, gramLen = 7, minShared = 2, maxGramDf = 20)
    val plantPairs = cand
      .filter(col("a_id") < lit(10000000L) &&
        col("b_id") === col("a_id") + lit(10000000L))
      .select("a_id", "b_id")
    val controlPairs = junk.select(
      (col("media_id") - lit(20000000L)).as("a_id"),
      col("media_id").as("b_id"))
    // checkpoint the pair frame: the verify consumes it three times (two
    // id-union branches + the final join), and plantPairs carries the
    // whole CTPH candidate stage — without the boundary that stage would
    // re-run per consumer (the pipeline_pretrain lesson)
    val pairs = plantPairs.unionByName(controlPairs).localCheckpoint()
    val ver = MultiModal.mediaNearDupVerify(media, "media_id", "content",
      pairs, blockSize = 8)
      .localCheckpoint()
    val counts = docs.agg(
      coalesce(sum(when(col("__plantable"), 1L).otherwise(0L)), lit(0L))
        .as("n_planted"),
      coalesce(sum(when(col("doc_id") % 7 === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_random"))
    val verified = ver.agg(
      coalesce(sum(when(col("b_id") < lit(20000000L) &&
        col("overlap_ratio") >= 0.5, 1L).otherwise(0L)), lit(0L))
        .as("n_plants_verified"),
      // NULL ratio (a piece-less side) is a REJECTION for a control:
      // nothing could be certified — without the isNull arm a token-free
      // fixture doc would flip the pinned flag on a fixture property
      coalesce(sum(when(col("b_id") >= lit(20000000L) &&
        (col("overlap_ratio").isNull || col("overlap_ratio") < 0.5), 1L)
        .otherwise(0L)), lit(0L))
        .as("n_controls_rejected"))
    counts.crossJoin(verified)
      .select(col("n_planted"), col("n_random"),
        when(col("n_plants_verified") === col("n_planted"), 1).otherwise(0)
          .as("plants_verified"),
        when(col("n_controls_rejected") === col("n_random"), 1).otherwise(0)
          .as("controls_rejected"))
  }

  /** The training-data pipeline showcase: language filter -> quality gate
    * -> exact dedup (keep min id per content hash) -> n-gram near-dup
    * CLUSTER resolution (connected components over candidate pairs, keep
    * the min-id survivor per cluster). Dropping the b_id of each pair —
    * the naive alternative — over-deletes on transitive chains (A~B, B~C,
    * A≁C would lose both B and C); component resolution keeps exactly one
    * survivor per chain. */
  /** The shared front of the corpus-pipeline keys: English lang-ID →
    * quality gate → exact dedup (first doc per content hash) → near-dup
    * cluster survivors. Returns the survivor frame with (doc_id, lang,
    * text) intact so downstream stages can keep processing. */
  private def englishSurvivors(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    // fan the small single-split scan out before the per-row lang-id +
    // quality kernels (graft.engine.Fan — identity at production sizes;
    // all downstream decisions here are exact/per-row deterministic)
    val docs = graft.engine.Fan.out(t(s, d, "documents"))
    // the computed gate columns are FENCED (graft.plans.EvalOnce): without
    // the fence the optimizer substitutes each filter's alias with its
    // defining expression and pushes the filter below the fan repartition
    // into the indivisible single-split scan task — the lang-id + quality
    // kernels then run serially on one core AND run a second time in the
    // surviving projection (guide §4.4's duplicated-evaluation shape).
    // Fenced, each kernel evaluates exactly once, above the fan-out.
    def fence(df: DataFrame, c: String) =
      df.withColumn(c, graft.plans.EvalOnce.once(col(c)))
    val en = fence(TextAnalysis.withLangId(docs, "text"), "lang_pred")
      .filter(col("lang_pred") === "en")
    val good = fence(TextAnalysis.withQualityScore(en, "text"), "quality_score")
      .filter(col("quality_score") >= 0.5)
    // staged once before the multi-pass dedup: both the pair generation and
    // the final anti-join consume it — the standard staging point a
    // production corpus pipeline would also materialize. localCheckpoint
    // (not persist): a registered query function has no unpersist hook, and
    // checkpoint blocks are reclaimed by the ContextCleaner once the
    // returned plan is unreferenced, where a CacheManager entry would pin
    // the session's memory for good.
    // Fan BEFORE the checkpoint: the md5-dedup window's exchange is
    // AQE-coalesced to ~one partition at this byte size, so without the
    // re-fan the checkpointed RDD has one partition and every downstream
    // CPU-dense pass (shingle explode, winnow kernels) runs single-task;
    // an explicit-N repartition is preserved by AQE and is the identity
    // at production sizes (the Fan guard).
    val exact = graft.engine.Fan.out(good
      .withColumn("__rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn"))
      .localCheckpoint()
    val pairs = Dedup.ngramJaccardPairs(exact, "doc_id", "text",
      shingleN = 3, minJaccard = 0.5)
    Dedup.keepClusterSurvivors(exact, "doc_id", pairs)
  }

  val pipelineDocs: Q = (s, d) =>
    englishSurvivors(s, d).select("doc_id", "lang").orderBy("doc_id")

  /** The full pretraining-corpus recipe (Lee et al., ACL'22 composed
    * end-to-end): the [[englishSurvivors]] chain, then copied-span
    * removal over the SURVIVOR corpus — near-dup dedup keeps one doc per
    * cluster, the strip then deletes the residual quoted/boilerplate
    * spans between the KEEPERS that document-level dedup cannot see.
    * Reports per surviving doc the characters stripped and the final
    * size — exact integers, full hash-match oracle (the oracle counts
    * covered characters instead of reassembling text: n_removed =
    * |union coverage| is the same number by the strip contract). */
  val pipelinePretrain: Q = (s, d) => {
    // barrier the survivor chain: the strip consumes its input df three
    // times (fingerprint scan, partner-gram scan, final join) — without
    // this the whole lang-id/quality/dedup pipeline re-executes 3x (the
    // englishSurvivors-internal `exact` checkpoint rationale).
    // Fan BEFORE the checkpoint (the englishSurvivors `exact` rationale):
    // the survivor anti-join's exchange is AQE-coalesced to ~one partition
    // at this byte size, and the strip's three consumers would otherwise
    // all read a single-partition RDD single-task.
    val survivors = graft.engine.Fan.out(
        englishSurvivors(s, d).select("doc_id", "lang", "text"))
      .localCheckpoint()
    // pairs-reuse wiring: the winnow+pair stage runs ONCE and the
    // materialized candidate frame feeds the strip (and would feed the
    // span/extent reads of a threshold-picking run for free — the
    // substring_report shape); stripCopiedSpans' internal checkpoint
    // would compute exactly this frame, so the output is identical
    val pairs = Dedup.substringDupPairs(survivors, "doc_id", "text",
      k = 16, w = 8, minShared = 3, maxFingerprintDf = 20)
      .select("a_id", "b_id").localCheckpoint()
    Dedup.stripCopiedSpansFromPairs(survivors, pairs, "doc_id", "text", k = 16).df
      .select(col("doc_id"), col("lang"), col("n_removed"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- curation

  /** DSIR importance scores against the fixture's English subpopulation
    * as the target: per doc, the mean hashed-unigram log importance
    * ratio (target LM vs raw-corpus LM, Laplace-smoothed) — high scorers
    * are the documents importance resampling keeps. Exact-rational LMs,
    * one rounded mean per doc (the score_unigram settlement). */
  val dsirWeightsQ: Q = (s, d) =>
    Curation.dsirWeights(t(s, d, "documents"), "doc_id", "text",
      targetPred = col("lang") === "en", hexChars = 3)
      .orderBy("doc_id")

  /** DSIR incremental differential: the LM trained ONCE over the full
    * corpus ([[Curation.dsirLm]] — the persistable artifact), then an
    * arriving batch (every fifth doc) scored against the STORED table
    * with [[Curation.dsirWeightsAgainst]] — no corpus rescan. For a
    * corpus-subset batch the incremental scores are exactly the
    * in-corpus scores, so the oracle is dsir_weights' LM CTEs with the
    * scoring pass restricted to the batch ids. */
  val dsirWeightsIncrQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val lm = Curation.dsirLm(docs, "text", col("lang") === "en",
      hexChars = 3)
    Curation.dsirWeightsAgainst(docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", lm, hexChars = 3)
      .orderBy("doc_id")
  }

  /** The persistable NB model artifact, trained on the even-doc_id half
    * with the language as the label: per (label, hashed-unigram feature)
    * token counts, each row carrying its label's doc count — exact
    * integers, fully SQL-mirrored. */
  val nbTrainQ: Q = (s, d) =>
    Classify.nbTrain(
      t(s, d, "documents").filter(col("doc_id") % 2 === 0), "lang", "text",
      hexChars = 3)
      .orderBy("label", "feature")

  /** Stored-model classification of the held-out odd half: per doc the
    * argmax language under the even-half NB model — Laplace-smoothed
    * log-posteriors rounded to 4, ties on the lexicographic label, OOV
    * features smoothing to the zero-count ratio instead of dropping the
    * doc. The learn-once/apply-many differential for the supervised
    * family. */
  val nbClassifyQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val model = Classify.nbTrain(
      docs.filter(col("doc_id") % 2 === 0), "lang", "text", hexChars = 3)
    Classify.nbClassify(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model,
      hexChars = 3)
      .orderBy("doc_id")
  }

  /** Deterministic content-hash train/val/test split (80/10/10). */
  val curateSplit: Q = (s, d) =>
    Curation.assignSplits(t(s, d, "documents"), "doc_id")
      .select("doc_id", "split").orderBy("doc_id")

  /** Sequence-packing index: per-language token-budget bins of 2048. */
  val packIndexQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    Curation.packIndex(docs, "doc_id", "n_tok", 2048L, Seq("lang"))
      .select("doc_id", "lang", "pack_id").orderBy("doc_id")
  }

  /** PII redaction. The fixture corpus is a PII-free word bag, so the query
    * plants one email, one phone, and one IP per row DETERMINISTICALLY from
    * doc_id (the oracle builds the identical string), making the
    * differential exercise real matches — substitution behavior, counts,
    * and non-matches over the surrounding words — not just a no-op pass. */
  val piiRedact: Q = (s, d) => {
    val id = col("doc_id").cast("string")
    val planted = concat(
      lit("u"), id, lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com "),
      col("text"),
      lit(" call "), (col("doc_id") % 900 + 100).cast("string"),
      lit("-555-"), (col("doc_id") % 9000 + 1000).cast("string"),
      lit(" from 10."), (col("doc_id") % 256).cast("string"),
      lit(".0."), ((col("doc_id") * 7) % 256).cast("string"))
    // sort-first: the langId rationale (three regex passes below a sort
    // would run twice via the range sampler)
    val withPii = t(s, d, "documents").orderBy("doc_id")
      .select(col("doc_id"), planted.as("pii_text"))
    Privacy.redactPii(withPii, "pii_text")
      .select(col("doc_id"), col("pii_text_redacted").as("red"),
        col("n_email"), col("n_ip"), col("n_phone"))
  }

  /** Per-source PII exposure: every third document gets a planted email
    * (the fixture corpus is PII-free), so rates differentiate and the
    * rollup arithmetic is pinned end to end. */
  val piiRatesQ: Q = (s, d) => {
    val planted = when(col("doc_id") % 3 === 0,
      concat(lit("u"), col("doc_id").cast("string"), lit("@mail.com "), col("text")))
      .otherwise(col("text"))
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), planted.as("ptext"))
    Privacy.piiRates(docs, "ptext", "source").orderBy("source")
  }

  /** Intra-document repetition ratios (boilerplate/spam signal). */
  val textRepetition: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.withRepetition(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "dup_token_ratio", "dup_bigram_ratio")

  /** Benchmark-contamination sweep: every 100th document plays the held-out
    * benchmark; contamination = fraction of each doc's distinct 3-gram
    * shingles that appear anywhere in the benchmark set. */
  val contaminationQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
    Curation.contamination(docs, docs.filter(col("doc_id") % 100 === 0),
      "doc_id", "text", shingleN = 3)
      .orderBy("doc_id")
  }

  /** Hash-stable stratified sample: 50% of en, 25% of de, 10% elsewhere. */
  val curateSample: Q = (s, d) =>
    Curation.stratifiedSample(t(s, d, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
      .select("doc_id", "lang").orderBy("doc_id")

  // ----------------------------------------------------------------- events

  val jsonExtract: Q = (s, d) => // sort-first: the langId rationale
    t(s, d, "events").orderBy("event_id").select(
      col("event_id"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k"))

  val tumblingCounts: Q = (s, d) =>
    Events.tumblingCounts(Tables.loadEvents(s, d), "ts", "event_type", "hour")
      .orderBy("win", "event_type")

  val sessionizeQ: Q = (s, d) =>
    Events.sessionize(Tables.loadEvents(s, d), "user_id", "ts", "event_id")
      .select("event_id", "user_id", "session_id").orderBy("event_id")

  /** Shared prep for the as-of pair: purchases, plus clicks deduped to
    * min-event_id per (user, ts) — asofJoin's contract requires the right
    * side unique per (key, ts), and pinning the pick means a fixture
    * regeneration landing two same-microsecond clicks degrades to a
    * deterministic choice on both engines instead of a flaky hash
    * mismatch (current fixtures have no such tie; regeneration-proofing,
    * same spirit as the events encoding alternatives). One definition so
    * the backward and forward queries cannot desynchronize. */
  private def asofInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.loadEvents(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clickW = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "ts").orderBy("event_id")
    val clicks = ev.filter(col("event_type") === "click")
      .withColumn("__rn", row_number().over(clickW)).filter(col("__rn") === 1)
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"), col("value"))
    (purchases, clicks)
  }

  /** As-of join: each purchase picks up its user's latest prior-or-equal
    * click (union + running-window implementation, no range explosion).
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  val joinAsof: Q = (s, d) => {
    val (purchases, clicks) = asofInputs(s, d)
    Temporal.asofJoin(purchases, clicks, "user_id", "ts",
      Map("click_id" -> "click_id", "click_value" -> "value"))
      .select(col("event_id"), col("click_id"), round(col("click_value"), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Forward as-of with a 1-hour tolerance: each purchase picks up its
    * user's EARLIEST at-or-after click, and matches farther than an hour
    * ahead null out — the label-after-event join with a bounded
    * lookahead. Oracle: DuckDB ASOF with the inequality reversed plus the
    * same tolerance projection. */
  val joinAsofFwd: Q = (s, d) => {
    val (purchases, clicks) = asofInputs(s, d)
    Temporal.asofJoin(purchases, clicks, "user_id", "ts",
      Map("click_id" -> "click_id", "click_value" -> "value"),
      direction = "forward", tolerance = Some("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("click_id"), round(col("click_value"), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Nearest as-of with a 1-hour bound each way: each purchase copies
    * from whichever of its latest-prior / earliest-later click is closer
    * (ties backward) — the two directed passes composed. */
  val joinAsofNear: Q = (s, d) => {
    val (purchases, clicks) = asofInputs(s, d)
    Temporal.asofJoinNearest(purchases, clicks, "user_id", "ts",
      Map("click_id" -> "click_id", "click_value" -> "value"),
      tolerance = Some("INTERVAL 1 HOUR"))
      .select(col("event_id"), col("click_id"),
        round(col("click_value"), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Range join: click -> purchases of the same user within 5 minutes. */
  val joinRange: Q = (s, d) => {
    val ev = Tables.loadEvents(s, d)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
    Temporal.rangeJoin(clicks, purchases, "user_id", "ts", "INTERVAL 5 MINUTES")
      .select(col("l_event_id").as("a_id"), col("r_event_id").as("b_id"))
      .orderBy("a_id", "b_id")
  }

  val sessionStats: Q = (s, d) =>
    Events.sessionStats(
      Events.sessionize(Tables.loadEvents(s, d), "user_id", "ts", "event_id"),
      "user_id", "ts")
      .orderBy("user_id", "session_id")

  /** Interval-overlap join: concurrent session pairs between even- and
    * odd-numbered users (bucketized equi-join, never a theta cartesian —
    * see [[graft.operators.Temporal.intervalOverlapJoin]]). */
  val joinInterval: Q = (s, d) => {
    val sess = Events.sessionStats(
      Events.sessionize(Tables.loadEvents(s, d), "user_id", "ts", "event_id"),
      "user_id", "ts")
    graft.operators.Temporal.intervalOverlapJoin(
      sess.filter(col("user_id") % 2 === 0),
      sess.filter(col("user_id") % 2 === 1),
      Seq("user_id", "session_id"), Seq("user_id", "session_id"),
      "session_start", "session_end", "session_start", "session_end")
      .orderBy("a_user_id", "a_session_id", "b_user_id", "b_session_id")
  }

  /** Hourly session-concurrency profile (interval stabbing by hour
    * bucketization) over the sessionized fixture. */
  val sessionConcurrencyQ: Q = (s, d) =>
    Events.sessionConcurrency(
      Events.sessionStats(
        Events.sessionize(Tables.loadEvents(s, d), "user_id", "ts", "event_id"),
        "user_id", "ts"),
      "session_start", "session_end")
      .orderBy("hour")

  // --------------------------------------------------------------- registry

  /** Per-doc top-3 salient terms by TF-IDF (rounded-score ranking, term
    * tie-break — deterministic and engine-portable). */
  val tfidfTopTerms: Q = (s, d) =>
    TextAnalysis.tfIdfTopTerms(t(s, d, "documents"), "doc_id", "text", k = 3)
      .orderBy("doc_id", "rank")

  /** Per-doc character entropy — the compression-proxy quality signal. */
  val charEntropy: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.withCharEntropy(t(s, d, "documents").orderBy("doc_id"), "text")
      .select("doc_id", "char_entropy")

  /** Gopher-style rule audit with a word-count floor chosen to split the
    * fixture corpus (some docs under 35 words), so every flag column is
    * exercised on both values. */
  val gopherRulesQ: Q = (s, d) => // sort-first: the langId rationale
    TextAnalysis.gopherRules(t(s, d, "documents").orderBy("doc_id"), "doc_id",
      "text", minWords = 35, maxMeanLen = 4.8)

  /** Embedding-corpus alignment audit over deliberately mismatched slices
    * (docs under id 400 vs non-zero-label vectors), so doc-only and
    * vec-only counts are both nonzero and the differential is
    * non-degenerate. */
  val embedIntegrityQ: Q = (s, d) =>
    Similarity.embedIntegrity(
      t(s, d, "documents").filter(col("doc_id") < 400), "doc_id",
      t(s, d, "embeddings").filter(col("label") =!= 0), "vec_id", "embedding")

  /** Per-label centroid shift between the full embedding corpus and a
    * perturbed current snapshot (even vec_ids, label 7 removed) — every
    * label shows a measurable shift and the vanished label surfaces as
    * 0 current dims with a NULL shift. */
  val driftEmbed: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    Similarity.centroidShift(
      e, e.filter(col("vec_id") % 2 === 0 && col("label") =!= 7),
      "label", "embedding")
      .orderBy("grp")
  }

  /** Global top-30 by quality score with at most 7 docs per language —
    * the anti-monoculture selection (plain top-k would be one dominant
    * stratum's sliver); the cap leaves a 35-doc pool so the global cut
    * genuinely binds. */
  val topkDiverse: Q = (s, d) => {
    val scored = TextAnalysis.withQualityScore(t(s, d, "documents"), "text")
    graft.operators.TopK.diversifiedTopK(
      scored, "quality_score", "doc_id", "lang", k = 30, perLabel = 7)
      .select("doc_id", "lang", "quality_score")
      .orderBy(col("quality_score").desc, col("doc_id"))
  }

  /** Decile assignment of document length — the rank-based feature
    * transform, cuts broadcast and compared after the shared round-4
    * gate. */
  val quantileBinQ: Q = (s, d) =>
    graft.operators.Profile.withQuantileBin(t(s, d, "documents"), "n_chars", nBins = 10)
      .select("doc_id", "n_chars", "n_chars_bin").orderBy("doc_id")

  /** Eval-hygiene leakage audit: duplicate TEXTS whose id-hash splits
    * disagree — the contamination id-based splitting cannot prevent.
    * Every 50th document is additionally echoed under a new id (a scrape
    * re-ingesting the same page under a new URL) so the audit fires even
    * at the dup-free small fixtures; at sf0.1 the base corpus carries a
    * few natural duplicate-text groups of its own, which rightly join
    * the result alongside the planted echoes. */
  val splitLeakageQ: Q = (s, d) => {
    val base = t(s, d, "documents").select("doc_id", "text")
    val echoes = base.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val withSplit = Curation.assignSplits(base.unionByName(echoes), "doc_id")
    Curation.splitLeakage(withSplit, "text", "split").orderBy("content_hash")
  }

  /** The one-row corpus summary card. */
  val datasetCardQ: Q = (s, d) =>
    graft.operators.Profile.datasetCard(
      t(s, d, "documents"), "doc_id", "text", "lang", "source")

  /** Per-source Gini of document length — does one source carry its mass
    * in a few giant docs? Exact integer arithmetic until the final
    * quotient. */
  val groupGiniQ: Q = (s, d) =>
    graft.operators.Profile.groupGini(t(s, d, "documents"), "source", "n_chars", "doc_id")
      .orderBy("source")

  /** Column-level drift between the documents table and a perturbed
    * current snapshot (every fifth doc's lang nulled) — the null-rate
    * regression is the planted finding. */
  val schemaDriftQ: Q = (s, d) => {
    val ref = t(s, d, "documents")
    val cur = ref.withColumn("lang",
      when(col("doc_id") % 5 === 0, lit(null)).otherwise(col("lang")))
    graft.operators.Profile.schemaDrift(ref, cur, Seq("lang", "source"))
      .orderBy("col_name")
  }

  /** Interpolated bigram LM score over the corpus's own statistics. */
  val scoreBigram: Q = (s, d) =>
    TextAnalysis.withBigramNll(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Packing-waste audit of the per-language 2048-token greedy bins (the
    * pack_index query's exact configuration, rolled up). */
  val packEfficiencyQ: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    Curation.packEfficiency(docs, "doc_id", "n_tok", 2048L, Seq("lang"))
      .orderBy("lang")
  }

  /** Near-dup provenance: are minhash candidate pairs intra-source or
    * cross-source? Cross-source duplication is the syndication/scrape-echo
    * signal; intra-source is boilerplate. Same LSH configuration as
    * dedup_minhash, so the pair set is the already-verified one. */
  val dupProvenance: Q = (s, d) => {
    val docs = t(s, d, "documents").select(col("doc_id"), col("source"))
    val pairs = Dedup.minhashCandidates(t(s, d, "documents"), "doc_id", "text",
      numHashes = 4, bands = 2, shingleN = 3, family = Dedup.Md5Family)
    pairs
      .join(docs.toDF("a_id", "__sa"), "a_id")
      .join(docs.toDF("b_id", "__sb"), "b_id")
      .groupBy(when(col("__sa") === col("__sb"), "same_source")
        .otherwise("cross_source").as("provenance"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("provenance")
  }

  /** Per-user event-gap distribution in microseconds — cadence profiling
    * for session-threshold and anomaly tuning. */
  val interarrivalQ: Q = (s, d) =>
    Events.interarrivalStats(Tables.loadEvents(s, d), "ts", "user_id", "event_id")
      .orderBy("user_id")

  /** Hourly distinct users, exact + HLL sketch with a pinned 3-sigma
    * tolerance flag — the windowed-cardinality differential. */
  val windowDistinctQ: Q = (s, d) =>
    Events.windowDistinct(Tables.loadEvents(s, d), "ts", "user_id", "hour")
      .orderBy("win")

  /** Robust (median/MAD) per-language z-score of document length — the
    * heavy-tail-safe outlier signal next to the mean/std group_zscore. */
  val robustZQ: Q = (s, d) =>
    graft.operators.Profile.robustZ(t(s, d, "documents"), "lang", "n_chars")
      .select("doc_id", "lang", "n_chars_rz").orderBy("doc_id")

  /** Pairwise 3-gram Jaccard overlap between document sources — the
    * corpus-diversity / redundancy audit over the 20-source fixture. */
  val sourceOverlapQ: Q = (s, d) =>
    TextAnalysis.sourceOverlap(t(s, d, "documents"), "source", "text").df
      .orderBy("a", "b")

  /** Tokenizer fertility (BPE-ish subwords per whitespace word) by
    * language — the tokenizer-fit QA metric. */
  val tokenFertilityQ: Q = (s, d) =>
    TextAnalysis.tokenFertility(t(s, d, "documents"), "lang", "text")
      .orderBy("lang")

  /** Exact per-label mean pairwise cosine via the sum-vector identity —
    * never a pair join; the oracle recomputes the same identity in SQL. */
  val labelCohesionQ: Q = (s, d) =>
    Similarity.labelCohesion(t(s, d, "embeddings"), "label", "embedding")
      .orderBy("grp")

  /** Functional-dependency audit: does source determine lang on the
    * documents table? (It does not — the violation counts are the
    * finding.) */
  val fdAuditQ: Q = (s, d) =>
    graft.operators.Profile.fdAudit(t(s, d, "documents"), Seq("source"), "lang")
      .orderBy("source")

  /** BM25 top-25 for a 3-term query mixing a rare term ("dup", high idf)
    * with two common ones — ranked lexical retrieval next to the ANN
    * family. Rounded-score ranking with doc-id tie-break (engine-portable,
    * same discipline as tfidf_topterms). */
  val bm25Rank: Q = (s, d) =>
    TextAnalysis.bm25Rank(t(s, d, "documents"), "doc_id", "text",
      queryTerms = Seq("dup", "spark", "vector"), k = 25)
      .orderBy("rank")

  /** Edit-distance≤2 pairs over the corpus VOCABULARY (distinct tokens)
    * via the pigeonhole segment-blocked plan — never the all-pairs
    * product. d=2 (not 1) so the fixture vocabulary yields nonzero pairs
    * and the oracle check is non-degenerate. */
  val fuzzyJoin: Q = (s, d) => {
    val toks = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    Fuzzy.levenshteinPairs(toks, "tok", maxDist = 2)
      .orderBy("a", "b")
  }

  /** Gap-filled hourly event counts per user: empty hours inside each
    * user's active span appear with n = 0. */
  val resampleFill: Q = (s, d) =>
    Events.resampleHourly(Tables.loadEvents(s, d), "user_id", "ts")
      .orderBy("user_id", "hour")

  /** Per-label embedding centroids in long (label, pos, c) form. */
  val embedCentroids: Q = (s, d) =>
    Similarity.centroidsLong(t(s, d, "embeddings"), "label", "embedding")
      .orderBy("grp", "pos")

  // ------------------------------------------------- corpus curation, round 10

  /** Corpus-level boilerplate-segment removal at WORD granularity (the
    * fixture texts have no newline segments, so words stand in for lines;
    * the operator is granularity-agnostic via `sep`): words appearing in
    * more than 395 of the 500 documents strip from every document. */
  val dedupLinesQ: Q = (s, d) =>
    Dedup.dedupLines(t(s, d, "documents"), "doc_id", "text",
      sep = " ", maxDocFreq = 395).orderBy("doc_id")

  /** Unigram-LM perplexity-proxy quality score per document. */
  val scoreUnigram: Q = (s, d) =>
    TextAnalysis.withUnigramNll(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  /** Mixture-planning token budget per language. */
  val tokenBudgetQ: Q = (s, d) =>
    Curation.tokenBudget(t(s, d, "documents"), "lang", "text")

  /** Per-source document cap (anti-spam curation), hash-deterministic. */
  val capStratum: Q = (s, d) =>
    Curation.capPerStratum(t(s, d, "documents"), "doc_id", "source", maxRows = 20)
      .select("doc_id", "source").orderBy("doc_id")

  /** Snapshot diff: the comparison corpus is derived from the fixture with
    * deterministic deletions (id % 7), edits (id % 5), and additions
    * (id % 11 under shifted ids), mirrored exactly in the oracle. */
  val corpusDiff: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val cmp = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
    Curation.snapshotDiff(docs.select("doc_id", "text"), cmp, "doc_id", Seq("text"))
      .orderBy("doc_id")
  }

  /** Per-language median-length gate: keep each language's upper half —
    * the per-stratum quality cut (a global threshold would gut strata
    * whose distribution sits lower). */
  val qualityGate: Q = (s, d) =>
    graft.operators.Profile.filterByGroupQuantile(
      t(s, d, "documents"), "lang", "n_chars", q = 0.5)
      .select("doc_id", "lang", "n_chars").orderBy("doc_id")

  /** Content-defined chunking differential: the rolling-hash boundaries
    * have no SQL mirror, so the Spark side proves the two properties that
    * make CDC chunking USEFUL — exact coverage (chunks reassemble every
    * document byte-for-byte) and resynchronization (a prefix edit leaves
    * at least half the chunk hashes shared; fixed offsets would share
    * none) — and DuckDB independently recomputes the doc count and pins
    * the flags. */
  val chunkCdc: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
    val ch = TextAnalysis.cdcChunks(docs, "doc_id", "text")
    val rebuilt = ch.groupBy("doc_id").agg(
      array_join(
        transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
          x => x.getField("chunk_text")), "").as("__re"))
    val cov = docs.join(rebuilt, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("__re") <=> col("text"), 0).otherwise(1)), lit(0L)).as("__bad"))
    val pert = docs.withColumn("text", concat(lit("XX EDIT "), col("text")))
    val ch2 = TextAnalysis.cdcChunks(pert, "doc_id", "text")
      .select("doc_id", "chunk_hash")
    val tot = ch.agg(count(lit(1)).as("__tot"))
    val hit = ch.select("doc_id", "chunk_hash")
      .join(ch2, Seq("doc_id", "chunk_hash"), "left_semi")
      .agg(count(lit(1)).as("__hit"))
    cov.crossJoin(hit).crossJoin(tot)
      .select(col("n_docs"),
        when(col("__bad") === 0, 1).otherwise(0).as("coverage_ok"),
        when(col("__hit") * 2 >= col("__tot"), 1).otherwise(0).as("resync_ok"))
  }

  /** Declarative table-contract report (the pre-publish gate): five
    * expectations over the documents table in ONE aggregation pass. */
  val qaExpectations: Q = (s, d) => {
    import graft.engine.Qa.Expect
    graft.engine.Qa.expectations(t(s, d, "documents"), Seq(
      Expect.notNull("lang"),
      Expect.unique("doc_id"),
      Expect.inRange("n_chars", 1, 100000),
      Expect.matches("lang", "^[a-z]{2}$"),
      Expect.satisfies("text_nonempty", length(col("text")) > 0)))
  }

  /** Canonical cleanup over a DETERMINISTICALLY dirtied fixture (the real
    * texts carry no control chars, so the query injects them — mirrored
    * char-for-char in the oracle via chr()): control strip, space-run
    * collapse, trim. */
  val cleanText: Q = (s, d) => {
    val soh = 1.toChar.toString   // a stripped control char
    val del = 127.toChar.toString // DEL, also stripped
    // sort-first: the langId rationale
    val dirty = t(s, d, "documents").orderBy("doc_id").select(col("doc_id"),
      concat(lit("  " + soh),
        regexp_replace(col("text"), " ", "  "),
        lit("\t\t x " + del + "  ")).as("text"))
    TextAnalysis.withCleanText(dirty, "text")
      .select("doc_id", "clean_text")
  }

  /** Per-language z-score of document length. */
  val groupZscore: Q = (s, d) =>
    graft.operators.Profile.standardize(t(s, d, "documents"), "lang", "n_chars")
      .select("doc_id", "lang", "n_chars_z").orderBy("doc_id")

  /** Per-hour top-2 trending event types (deterministic rank). */
  val trendingKeysQ: Q = (s, d) =>
    Events.trendingKeys(Tables.loadEvents(s, d), "ts", "event_type", "hour", k = 2)
      .orderBy("win", "rank")

  /** Pre-flight size estimate for the lineitem ⋈ orders equi-join — on an
    * FK join the model is exact (d_b = n_b makes the estimate collapse to
    * n_a), which the oracle's independent recomputation confirms. */
  val joinEstimateQ: Q = (s, d) => {
    val li = t(s, d, "lineitem").select(col("l_orderkey").as("k"))
    val o = t(s, d, "orders").select(col("o_orderkey").as("k"))
    graft.operators.Profile.joinEstimate(li, o, Seq("k"))
  }

  /** Deterministic 64-row eval-set carve. */
  val sampleFixedQ: Q = (s, d) =>
    Curation.sampleFixed(t(s, d, "documents"), "doc_id", n = 64)
      .select("doc_id", "lang").orderBy("doc_id")

  val all: Map[String, Q] = Map(
    "trending_keys" -> trendingKeysQ,
    "join_estimate" -> joinEstimateQ,
    "clean_text" -> cleanText,
    "group_zscore" -> groupZscore,
    "qa_expectations" -> qaExpectations,
    "chunk_cdc" -> chunkCdc,
    "sample_fixed" -> sampleFixedQ,
    "quality_gate" -> qualityGate,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_incr" -> dedupSemanticIncr,
    "dedup_lines" -> dedupLinesQ,
    "score_unigram" -> scoreUnigram,
    "token_budget" -> tokenBudgetQ,
    "cap_stratum" -> capStratum,
    "corpus_diff" -> corpusDiff,
    "tfidf_topterms" -> tfidfTopTerms,
    "bm25_rank" -> bm25Rank,
    "char_entropy" -> charEntropy,
    "gopher_rules" -> gopherRulesQ,
    "embed_integrity" -> embedIntegrityQ,
    "drift_embed" -> driftEmbed,
    "fd_audit" -> fdAuditQ,
    "label_cohesion" -> labelCohesionQ,
    "source_overlap" -> sourceOverlapQ,
    "token_fertility" -> tokenFertilityQ,
    "robust_z" -> robustZQ,
    "window_distinct" -> windowDistinctQ,
    "interarrival" -> interarrivalQ,
    "score_bigram" -> scoreBigram,
    "pack_efficiency" -> packEfficiencyQ,
    "dup_provenance" -> dupProvenance,
    "schema_drift" -> schemaDriftQ,
    "topk_diverse" -> topkDiverse,
    "quantile_bin" -> quantileBinQ,
    "group_gini" -> groupGiniQ,
    "dataset_card" -> datasetCardQ,
    "split_leakage" -> splitLeakageQ,
    "fuzzy_join" -> fuzzyJoin,
    "resample_fill" -> resampleFill,
    "embed_centroids" -> embedCentroids,
    "dedup_exact" -> dedupExact,
    "dedup_minhash" -> dedupMinhash,
    "dedup_minhash_incr" -> dedupMinhashIncr,
    "dedup_simhash" -> dedupSimhash,
    "dedup_ngram" -> dedupNgram,
    "dedup_sweep" -> dedupSweep,
    "dedup_substring" -> dedupSubstring,
    "dedup_substring_incr" -> dedupSubstringIncr,
    "dedup_substring_strip" -> dedupSubstringStrip,
    "decontam_strip" -> decontamStripQ,
    "decontam_multi" -> decontamMultiQ,
    "substring_spans" -> substringSpansQ,
    "spans_hist" -> spansHist,
    "substring_sweep" -> substringSweep,
    "substring_report" -> substringReport,
    "substring_floor_sweep" -> substringFloorSweep,
    "substring_floor_recall" -> substringFloorRecall,
    "bpe_merges" -> bpeMergesQ,
    "unigram_vocab" -> unigramVocabQ,
    "unigram_encode" -> unigramEncodeQ,
    "unigram_apply" -> unigramApplyQ,
    "tokenizer_compare" -> tokenizerCompareQ,
    "bpe_encode" -> bpeEncodeQ,
    "bpe_vocab" -> bpeVocabQ,
    "bpe_apply" -> bpeApplyQ,
    "blocking_quality" -> blockingQualityQ,
    "ttr_curve" -> ttrCurveQ,
    "compression_ratio" -> compressionRatioQ,
    "media_dedup" -> mediaDedupQ,
    "media_neardup" -> mediaNearDupQ,
    "media_neardup_incr" -> mediaNearDupIncrQ,
    "media_neardup_verify" -> mediaNearDupVerifyQ,
    "substring_extent" -> substringExtentQ,
    "ngram_novelty" -> ngramNoveltyQ,
    "dedup_embed" -> dedupEmbed,
    "dedup_embed_lsh" -> dedupEmbedLsh,
    "embed_lsh_sweep" -> embedLshSweepQ,
    "minhash_band_sweep" -> minhashBandSweepQ,
    "dedup_resolve" -> dedupResolve,
    "dedup_cluster_sizes" -> dedupClusterSizes,
    "dedup_survivor" -> dedupSurvivor,
    "sample_temperature" -> sampleTemperature,
    "sample_mix" -> sampleMix,
    "mix_plan" -> mixPlanQ,
    "mix_apply" -> mixApplyQ,
    "mix_apply_budget" -> mixApplyBudgetQ,
    "mix_plan_apply" -> mixPlanApplyQ,
    "chunk_docs" -> chunkDocsQ,
    "topk_sim" -> topkSim,
    "retrieval_metrics" -> retrievalMetricsQ,
    "retrieval_metrics_graded" -> retrievalMetricsGradedQ,
    "topk_sim_agg" -> topkSimAgg,
    "ann_topk" -> annTopk,
    "ann_ivf" -> annIvfTopk,
    "ann_filtered" -> annFilteredQ,
    "ivf_pq_filtered" -> ivfPqFilteredQ,
    "pq_topk" -> pqTopkQ,
    "pq_stored" -> pqStoredQ,
    "ivf_pq_topk" -> ivfPqTopkQ,
    "ivf_pq_stored" -> ivfPqStoredQ,
    "ivf_pq_opq" -> ivfPqOpqStoredQ,
    "ivf_pq_incr" -> ivfPqIncrQ,
    "ivf_pq_health" -> ivfPqHealthQ,
    "ivf_pq_compact" -> ivfPqCompactQ,
    "ivf_pq_delete" -> ivfPqDeleteQ,
    "ivf_pq_probe_sweep" -> ivfPqProbeSweepQ,
    "ivf_pq_opq_sweep" -> ivfPqOpqSweepQ,
    "ivf_pq_filtered_sweep" -> ivfPqFilteredSweepQ,
    "pq_shortlist_sweep" -> pqShortlistSweepQ,
    "ann_ivf_stored" -> annIvfStoredQ,
    "pq_opq" -> pqOpqQ,
    "embed_pca" -> embedPcaQ,
    "embed_pca_r" -> embedPcaRQ,
    "embed_abtt" -> embedAbttQ,
    "ann_probe_sweep" -> annProbeSweep,
    "lang_id" -> langId,
    "text_quality" -> textQuality,
    "text_tokens" -> textTokens,
    "text_fingerprint" -> textFingerprint,
    "multimodal_meta" -> multimodalMeta,
    "curate_split" -> curateSplit,
    "dsir_weights" -> dsirWeightsQ,
    "dsir_weights_incr" -> dsirWeightsIncrQ,
    "nb_train" -> nbTrainQ,
    "nb_classify" -> nbClassifyQ,
    "curate_sample" -> curateSample,
    "pack_index" -> packIndexQ,
    "pii_redact" -> piiRedact,
    "pii_rates" -> piiRatesQ,
    "text_repetition" -> textRepetition,
    "contamination" -> contaminationQ,
    "pipeline_docs" -> pipelineDocs,
    "pipeline_pretrain" -> pipelinePretrain,
    "json_extract" -> jsonExtract,
    "tumbling_counts" -> tumblingCounts,
    "sessionize" -> sessionizeQ,
    "session_stats" -> sessionStats,
    "session_concurrency" -> sessionConcurrencyQ,
    "join_interval" -> joinInterval,
    "join_asof" -> joinAsof,
    "join_asof_fwd" -> joinAsofFwd,
    "join_asof_near" -> joinAsofNear,
    "join_range" -> joinRange,
  )

  /** Shingle → 4-hash minhash → 2-band CTE shared by the dedup_minhash /
    * dedup_minhash_incr oracles (use inside WITH) — one definition so a
    * hash-prefix or band-packing change cannot silently drift between the
    * two differentials. */
  private val minhashBandsCte =
    """sh AS (
      |  SELECT doc_id, [array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)] AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |hs AS (
      |  SELECT doc_id,
      |    list_min(list_transform(shingles, s -> md5(concat('0|', s)))) AS h0,
      |    list_min(list_transform(shingles, s -> md5(concat('1|', s)))) AS h1,
      |    list_min(list_transform(shingles, s -> md5(concat('2|', s)))) AS h2,
      |    list_min(list_transform(shingles, s -> md5(concat('3|', s)))) AS h3
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, 0 AS band_idx, concat_ws('|', h0, h1) AS band_val FROM hs
      |  UNION ALL
      |  SELECT doc_id, 1 AS band_idx, concat_ws('|', h2, h3) AS band_val FROM hs)""".stripMargin

  /** Unit-normalized corpus CTE + plain dot product — mirrors
    * VectorFns.unitizeNative + dotNative exactly (float→double widening
    * first, then the same sequential op order, so doubles match). */
  private val unitCte =
    """e AS (
      |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM (
      |    SELECT vec_id, v0, sqrt(list_sum([x * x for x in v0])) AS nrm FROM (
      |      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
      |      FROM embeddings)))""".stripMargin

  private val dotExpr =
    "list_sum([a.v[i]*b.v[i] for i in generate_series(1, len(a.v))])"

  /** The bpe oracles, GENERATED: the same 8 BPE iterations the operator
    * runs, unrolled as chained MATERIALIZED CTEs (DuckDB inlines plain
    * CTEs — the chain re-referenced would re-evaluate exponentially) —
    * per iteration the sentinel-framed symbol split, position-exploded
    * adjacent pair counts, the (count desc, pair asc) argmax, and a
    * greedy left-to-right `replace` merge apply (chr(1)/chr(2) mirror
    * the operator's U+0001/U+0002 framing; DuckDB's replace and Spark's
    * are both non-overlapping left-to-right, which IS the BPE merge
    * rule). One generator feeds BOTH the bpe_merges and bpe_encode
    * oracles so the per-iteration SQL cannot drift. */
  private def bpeCtes(n: Int, trainPred: String = ""): String = {
    val base =
      s"""WITH w AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents WHERE text IS NOT NULL$trainPred)
        |  WHERE word <> '' AND strpos(word, chr(1)) = 0
        |    AND strpos(word, chr(2)) = 0
        |  GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq, array_to_string(
        |    [chr(1) || substr(word, CAST(i AS INTEGER), 1) || chr(2)
        |     for i in generate_series(1, length(word))], '') AS seq FROM w)""".stripMargin
    val iters = (1 to n).map { i =>
      s""",
         |x$i AS MATERIALIZED (SELECT freq,
         |  string_split(substr(seq, 2, length(seq) - 2), chr(2) || chr(1)) AS syms
         |  FROM s${i - 1}),
         |p$i AS MATERIALIZED (SELECT freq, syms,
         |  unnest(generate_series(1, len(syms) - 1)) AS i
         |  FROM x$i WHERE len(syms) >= 2),
         |pc$i AS MATERIALIZED (SELECT syms[i] AS l, syms[i + 1] AS r,
         |  CAST(sum(freq) AS BIGINT) AS cnt FROM p$i GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM pc$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, freq, replace(seq,
         |  -- an empty m$i (corpus exhausted before iteration $i) must make
         |  -- this a NO-OP, not a NULL-poisoning replace: the scalar
         |  -- subqueries return NULL then, so the pattern coalesces to
         |  -- chr(1)||chr(1) — impossible inside a sentinel-framed seq
         |  -- (frames strictly alternate chr(1) x chr(2)) — and no match
         |  -- means the replacement arg is never used
         |  coalesce(chr(1) || (SELECT l FROM m$i) || chr(2) || chr(1) || (SELECT r FROM m$i) || chr(2),
         |           chr(1) || chr(1)),
         |  coalesce(chr(1) || (SELECT l FROM m$i) || (SELECT r FROM m$i) || chr(2), '')) AS seq
         |  FROM s${i - 1})""".stripMargin
    }.mkString
    base + iters
  }

  private val bpeOracleSql: String = {
    val n = 8
    val sel = (1 to n).map(i =>
      s"SELECT $i AS rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m$i")
      .mkString("\nUNION ALL\n")
    s"${bpeCtes(n)}\nSELECT * FROM (\n$sel)\nORDER BY rank"
  }

  private val bpeVocabOracleSql: String = {
    val n = 8
    bpeCtes(n) +
      s""",
         |v AS MATERIALIZED (SELECT freq,
         |  unnest(string_split(substr(seq, 2, length(seq) - 2),
         |    chr(2) || chr(1))) AS symbol FROM s$n)
         |SELECT symbol, CAST(sum(freq) AS BIGINT) AS n_occurrences
         |FROM v GROUP BY symbol ORDER BY symbol""".stripMargin
  }

  private val bpeEncodeOracleSql: String = {
    val n = 8
    bpeCtes(n) +
      s""",
         |tok AS MATERIALIZED (SELECT word,
         |  len(string_split(substr(seq, 2, length(seq) - 2), chr(2) || chr(1)))
         |    AS n_sym FROM s$n),
         |dw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE word <> '' AND strpos(word, chr(1)) = 0
         |    AND strpos(word, chr(2)) = 0)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |FROM dw JOIN tok USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** bpe_apply oracle: the merge-derivation CTEs trained on the even
    * doc_id slice, then the SAME 8 replaces unrolled over the odd
    * slice's own word types (char-init covers OOV — no training-table
    * join anywhere on the apply side). */
  private val bpeApplyOracleSql: String = {
    val n = 8
    val applies = (1 to n).map { i =>
      s""",
         |a$i AS MATERIALIZED (SELECT word, replace(seq,
         |  coalesce(chr(1) || (SELECT l FROM m$i) || chr(2) || chr(1) || (SELECT r FROM m$i) || chr(2),
         |           chr(1) || chr(1)),
         |  coalesce(chr(1) || (SELECT l FROM m$i) || (SELECT r FROM m$i) || chr(2), '')) AS seq
         |  FROM a${i - 1})""".stripMargin
    }.mkString
    bpeCtes(n, " AND doc_id % 2 = 0") +
      s""",
         |adw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
         |  WHERE word <> '' AND strpos(word, chr(1)) = 0
         |    AND strpos(word, chr(2)) = 0),
         |a0 AS MATERIALIZED (SELECT word, array_to_string(
         |  [chr(1) || substr(word, CAST(i AS INTEGER), 1) || chr(2)
         |   for i in generate_series(1, length(word))], '') AS seq
         |  FROM (SELECT DISTINCT word FROM adw))$applies,
         |atok AS MATERIALIZED (SELECT word,
         |  len(string_split(substr(seq, 2, length(seq) - 2), chr(2) || chr(1)))
         |    AS n_sym FROM a$n)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |FROM adw JOIN atok USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The unigram-LM oracles, GENERATED (the bpe precedent): the same
    * induction the operator runs — candidate seeding, then per EM round
    * an UNROLLED Viterbi DP (positions 1..16, lookback = maxPieceLen,
    * integer micro-nat costs, smallest-predecessor tie-break realized
    * as an ordered CASE over the candidate transitions), usage count,
    * prune (chars unconditional, used multi-char pieces ranked
    * usage desc / piece asc up to the vocab budget), Laplace
    * re-estimate — as chained MATERIALIZED CTEs. Words longer than 16
    * characters would fall outside the unroll (fs stays NULL); the
    * fixture's longest word is 8 at every SF, and the operator itself
    * has no such bound. */
  private val UniMaxP = 4
  private val UniMaxCand = 60
  private val UniVocab = 40
  private val UniIters = 2
  private val UniMaxW = 16
  private val UniBig = 1L << 60

  /** One unrolled Viterbi pass of every word type against vocab CTE
    * `vname`; emits `seg<tag>` (word, freq, seg VARCHAR[]). Each
    * position j carries only the last maxPieceLen−1 (d, s) columns plus
    * the new one, and `fs` latches the segmentation at the word's own
    * length. `typesCte` selects the word table (the apply oracle runs
    * over the batch's own types); `unk` is the serving-path fallback —
    * a single-character span absent from the vocab costs `unk` instead
    * of being unreachable (mirrors [[graft.plans.UnigramSegment]]'s
    * unkCost). */
  private def uniDpRound(
      vname: String, tag: String, typesCte: String = "types",
      unk: Option[Long] = None): String = {
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    parts += s"dp${tag}_0 AS MATERIALIZED (SELECT word, freq, " +
      "CAST(0 AS BIGINT) AS d0, CAST([] AS VARCHAR[]) AS s0, " +
      s"CAST(NULL AS VARCHAR[]) AS fs FROM $typesCte)"
    for (j <- 1 to UniMaxW) {
      val is = math.max(0, j - UniMaxP) until j
      val terms = is.map { i =>
        val pc = s"(SELECT cost FROM $vname WHERE piece = " +
          s"substr(w.word, ${i + 1}, ${j - i}))"
        val fallback =
          if (unk.isDefined && i == j - 1) unk.get.toString
          else UniBig.toString
        s"CASE WHEN length(w.word) >= $j THEN w.d$i + coalesce($pc, " +
          s"$fallback) ELSE NULL END AS t$i"
      }.mkString(", ")
      val least = "least(" +
        is.map(i => s"coalesce(t$i, $UniBig)").mkString(", ") + ")"
      val cases = is.map(i => s"WHEN t$i = d$j THEN list_append(s$i, " +
        s"substr(word, ${i + 1}, ${j - i}))").mkString(" ")
      val carry = (math.max(0, j - UniMaxP + 1) until j)
        .map(x => s"d$x, s$x").mkString(", ")
      val carryC = if (carry.isEmpty) "" else carry + ", "
      parts += s"dp${tag}_${j}a AS MATERIALIZED (SELECT w.*, $terms " +
        s"FROM dp${tag}_${j - 1} w),\n" +
        s"dp${tag}_${j}b AS MATERIALIZED (SELECT word, freq, fs, " +
        s"$carryC$least AS d$j, CASE $cases ELSE NULL END AS s$j " +
        s"FROM dp${tag}_${j}a),\n" +
        s"dp${tag}_$j AS MATERIALIZED (SELECT word, freq, ${carryC}d$j, " +
        s"s$j, coalesce(fs, CASE WHEN length(word) = $j THEN s$j END) " +
        s"AS fs FROM dp${tag}_${j}b)"
    }
    parts += s"seg$tag AS MATERIALIZED (SELECT word, freq, fs AS seg " +
      s"FROM dp${tag}_$UniMaxW)"
    parts.mkString(",\n")
  }

  /** Usage count + prune + Laplace re-estimate: seg<tag> × vocab
    * `vname` → vocab `nextv`. */
  private def uniUsagePrune(vname: String, tag: String, nextv: String): String =
    s"""use$tag AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS usage
       |  FROM (SELECT freq, unnest(seg) AS piece FROM seg$tag) GROUP BY 1),
       |keep$tag AS MATERIALIZED (
       |  SELECT piece FROM $vname WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece FROM (
       |    SELECT u.piece, row_number() OVER (ORDER BY u.usage DESC, u.piece) AS rn
       |    FROM use$tag u JOIN $vname v USING (piece)
       |    WHERE length(u.piece) > 1 AND u.usage > 0)
       |  WHERE rn <= $UniVocab -
       |    (SELECT count(*) FROM $vname WHERE length(piece) = 1)),
       |$nextv AS MATERIALIZED (
       |  SELECT k.piece,
       |    CAST(round(-ln((coalesce(u.usage, 0) + 1) /
       |      ((SELECT CAST(sum(coalesce(u2.usage, 0)) AS DOUBLE)
       |        FROM keep$tag k2 LEFT JOIN use$tag u2 USING (piece)) +
       |       (SELECT count(*) FROM keep$tag))) * 1000000) AS BIGINT) AS cost
       |  FROM keep$tag k LEFT JOIN use$tag u USING (piece))""".stripMargin

  /** The shared induction CTE chain: types → candidate seed → v0 →
    * (`UniIters` EM rounds) → v<iters> → segfin. `trainPred` narrows
    * the training slice (the bpeCtes convention — the apply oracle
    * trains on the even half). */
  private def uniCtes(trainPred: String = ""): String = {
    val head =
      s"""WITH types AS MATERIALIZED (
         |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |        FROM documents WHERE text IS NOT NULL$trainPred)
         |  WHERE w <> '' GROUP BY 1),
         |subs AS MATERIALIZED (
         |  SELECT substr(word, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM types,
         |    unnest(generate_series(1, length(word))) AS t1(i),
         |    unnest(generate_series(1, $UniMaxP)) AS t2(l)
         |  WHERE i + l - 1 <= length(word)
         |  GROUP BY 1),
         |cand AS MATERIALIZED (
         |  SELECT piece, cnt FROM subs WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM subs WHERE length(piece) > 1)
         |  WHERE rn <= $UniMaxCand),
         |v0 AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(round(-ln(cnt / (SELECT CAST(sum(cnt) AS DOUBLE) FROM cand))
         |      * 1000000) AS BIGINT) AS cost
         |  FROM cand)""".stripMargin
    val rounds = (0 until UniIters).map { r =>
      uniDpRound(s"v$r", s"r$r") + ",\n" +
        uniUsagePrune(s"v$r", s"r$r", s"v${r + 1}")
    }.mkString(",\n")
    s"$head,\n$rounds,\n${uniDpRound(s"v$UniIters", "fin")}"
  }

  private val unigramVocabOracleSql: String =
    uniCtes() +
      s""",
         |usefin AS (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS n_occurrences
         |  FROM (SELECT freq, unnest(seg) AS piece FROM segfin) GROUP BY 1)
         |SELECT v.piece,
         |  coalesce(u.n_occurrences, CAST(0 AS BIGINT)) AS n_occurrences
         |FROM v$UniIters v LEFT JOIN usefin u USING (piece)
         |ORDER BY v.piece""".stripMargin

  private val unigramEncodeOracleSql: String =
    uniCtes() +
      s""",
         |nsym AS MATERIALIZED (
         |  SELECT word, CAST(len(seg) AS BIGINT) AS n_sym FROM segfin),
         |dw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE word <> '')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |FROM dw JOIN nsym USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** unigram_apply oracle: induction trained on the EVEN doc_id slice,
    * then ONE more unrolled Viterbi pass over the ODD slice's own word
    * types against the stored costs with the single-character unk
    * fallback (the final vocab CTE after UniIters rounds is
    * v<UniIters>; segfin — the training-side final pass — is unused
    * here but harmless). */
  private val unigramApplyOracleSql: String =
    uniCtes(" AND doc_id % 2 = 0") +
      s""",
         |atypes AS MATERIALIZED (
         |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w
         |        FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
         |  WHERE w <> '' GROUP BY 1),
         |""".stripMargin +
      uniDpRound(s"v$UniIters", "app", typesCte = "atypes",
        unk = Some(graft.operators.TextAnalysis.UnigramUnkCost)) +
      s""",
         |ansym AS MATERIALIZED (
         |  SELECT word, CAST(len(seg) AS BIGINT) AS n_sym FROM segapp),
         |adw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
         |  WHERE word <> '')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |FROM adw JOIN ansym USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin


  /** tokenizer_compare oracle: both families' derivation CTE chains
    * concatenated (bpeCtes names w, s0.., x.., p.., pc.., m..; uniCtes
    * names types, subs, cand, v.., dp.., seg.., use.., keep.. —
    * disjoint by construction), each reduced to one corpus fertility
    * row over its own word scope. */
  private val tokenizerCompareOracleSql: String =
    bpeCtes(8) + ",\n" + uniCtes().stripPrefix("WITH ") +
      s""",
         |btok AS MATERIALIZED (SELECT word,
         |  len(string_split(substr(seq, 2, length(seq) - 2), chr(2) || chr(1)))
         |    AS n_sym FROM s8),
         |bdw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE word <> '' AND strpos(word, chr(1)) = 0
         |    AND strpos(word, chr(2)) = 0),
         |bagg AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |  FROM bdw JOIN btok USING (word)),
         |utok AS MATERIALIZED (SELECT word, CAST(len(seg) AS BIGINT) AS n_sym
         |  FROM segfin),
         |udw AS MATERIALIZED (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents WHERE text IS NOT NULL)
         |  WHERE word <> ''),
         |uagg AS (SELECT CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |  FROM udw JOIN utok USING (word))
         |SELECT 'bpe_8' AS tokenizer, n_words, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility FROM bagg
         |UNION ALL
         |SELECT 'unigram_40' AS tokenizer, n_words, n_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility FROM uagg
         |ORDER BY tokenizer""".stripMargin

  /** The sample_mix membership arithmetic, shared verbatim by the
    * mix_plan_apply oracle — mixStrataFromPlan on a plan of the same
    * recipe must produce the IDENTICAL row set (both round rates to 6
    * before bucketing, same salted draw), so one oracle string pins
    * both keys and the arithmetic can never fork. */
  private val sampleMixOracleSql: String =
    """WITH c AS (
        |  SELECT lang, count(*) AS n,
        |    CASE lang WHEN 'en' THEN 0.5e0 WHEN 'de' THEN 0.3e0 WHEN 'es' THEN 0.2e0 END AS w
        |  FROM documents WHERE lang IN ('en', 'de', 'es') GROUP BY lang),
        |s AS (SELECT min(n / w) AS scale FROM c),
        |t AS (SELECT lang,
        |        CASE WHEN CAST(round(round(scale * w / n, 6) * 65536) AS BIGINT) >= 65536
        |             THEN 'g000'
        |             ELSE printf('%04x', CAST(round(round(scale * w / n, 6) * 65536) AS BIGINT))
        |        END AS thr
        |      FROM c CROSS JOIN s)
        |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || '|mix'), 1, 4) < thr
        |ORDER BY d.doc_id""".stripMargin

  /** ngram-Jaccard pair edges → transitive closure, shared by the
    * dedup_resolve / dedup_survivor oracles (use inside WITH RECURSIVE). */
  private val clusterWalkCte =
    """sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |pr AS (
      |  SELECT a_id, b_id FROM inter
      |  JOIN sz na ON na.doc_id = a_id
      |  JOIN sz nb ON nb.doc_id = b_id
      |  WHERE i / (na.n + nb.n - i) >= 0.5e0),
      |edges AS (SELECT a_id AS src, b_id AS dst FROM pr
      |          UNION SELECT b_id AS src, a_id AS dst FROM pr),
      |walk(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src)""".stripMargin

  /** Gap compare in integer MICROSECONDS (epoch_us), exactly mirroring the
    * Spark side's unix_micros — every fixture event has sub-second
    * components, so a seconds-truncated comparison would diverge near the
    * 30-minute boundary. */
  private val sessionizeSql =
    """SELECT event_id, user_id, ts,
      |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
      |FROM (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
      |         WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events)""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    // Weak differential for the ANN variants (the result SET has no SQL
    // mirror — the bucketing IS the operator): the Spark side computes
    // deterministic recall against the hash-verified exact top-k plan and
    // reports whether the measured floor holds; DuckDB pins n_queries from
    // the fixture plus the constants. See annRecallCheck.
    "ann_topk" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(15 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    "ann_ivf" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(15 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // filtered variants add the eligibility audit: ineligible_hits is
    // pinned to exactly 0 (a post-filter regression leaks here first)
    "ann_filtered" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(15 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met,
        |  CAST(0 AS BIGINT) AS ineligible_hits""".stripMargin,
    "ivf_pq_filtered" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(28 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met,
        |  CAST(0 AS BIGINT) AS ineligible_hits""".stripMargin,
    // PQ shares the recall-harness oracle shape: DuckDB recounts the
    // query population and pins the measured floor flag
    "pq_topk" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(40 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    "ivf_pq_topk" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(30 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // composed stored path shares ivf_pq_topk's floor: plain codes from
    // deterministic seeds round-trip parquet exactly, so recall is
    // identical to the in-memory build (measured 43/43/39)
    "ivf_pq_stored" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(30 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // incremental append shares the composed-index floor: the odd half
    // is indexed by a model trained on the even half only (measured
    // cost <= 3 hits vs the rebuild at these SFs)
    "ivf_pq_incr" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(30 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // the health totals are exact and DELTA-BEARING (base = even half,
    // ingest delta = odd half, every row indexed exactly once across the
    // two paths, structurally valid codes and codebook); balance reduces
    // to invariant flags because k-means cell populations are
    // data-dependent
    "ivf_pq_health" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_indexed,
        |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS delta_rows,
        |  CAST(0 AS BIGINT) AS bad_codes, CAST(0 AS BIGINT) AS bad_codebook,
        |  CAST(1 AS INTEGER) AS cells_bounded, CAST(1 AS INTEGER) AS pop_bounded,
        |  CAST(1 AS INTEGER) AS imbalance_ok
        |FROM embeddings""".stripMargin,
    // compaction: pre-delta = the ingested odd half, post-delta = 0 (the
    // root swap dropped ingest.parquet), totals exact, epoch bumped, and
    // the compacted index row-equals a fresh rebuild on the grown corpus
    "ivf_pq_compact" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_indexed,
        |  CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pre_delta_rows,
        |  CAST(0 AS BIGINT) AS post_delta_rows, CAST(0 AS BIGINT) AS bad_codes,
        |  CAST(1 AS INTEGER) AS epoch_bumped, CAST(1 AS INTEGER) AS matches_rebuild
        |FROM embeddings""".stripMargin,
    // stored-OPQ path shares the composed-index floor (the rotation
    // changes the quantizer's basis, not the search contract)
    "ivf_pq_opq" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(30 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // DELETE verb: DuckDB recomputes the query population and the
    // corpus totals; the tombstone arithmetic and absence flags are the
    // deterministic contract (exhaustive probes + deep shortlist).
    // Ends at post-delete serving — durability-through-compaction is
    // SimilaritySpec's tombstone battery's to pin, compaction cost is
    // ivf_pq_compact's to measure
    "ivf_pq_delete" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST((SELECT count(*) * 10 FROM embeddings WHERE vec_id < 5) AS BIGINT) AS result_rows,
        |  CAST(0 AS BIGINT) AS deleted_in_topk,
        |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS total,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS tombstone_rows,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS dead_rows""".stripMargin,
    // stored-PQ path shares pq_topk's floor: the persisted codes are
    // bit-identical to the in-memory encode
    "pq_stored" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(40 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    "embed_pca" ->
      """SELECT CAST(16 AS BIGINT) AS n_dims, CAST(1 AS INTEGER) AS unit_ok,
        |  CAST(1 AS INTEGER) AS lambda_pos, CAST(1 AS INTEGER) AS explained_ok
        |FROM (SELECT count(*) AS c FROM embeddings)""".stripMargin,
    // top-r PCA: the oracle pins the eigen-invariants (driver math has
    // no SQL mirror; a broken deflation flips a flag)
    "embed_pca_r" ->
      """SELECT CAST(4 AS BIGINT) AS n_components, CAST(1 AS INTEGER) AS unit_ok,
        |  CAST(1 AS INTEGER) AS lambda_desc_ok, CAST(1 AS INTEGER) AS explained_ok,
        |  CAST(1 AS INTEGER) AS orthogonal_ok
        |FROM (SELECT count(*) AS c FROM embeddings)""".stripMargin,
    // ABTT whitening: the oracle pins the algebraic invariants the
    // Spark side recomputes from an independent post-whitening stats
    // pass (removed-spectrum identity, zero mean, zero residual var)
    "embed_abtt" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(2 AS INTEGER) AS r_removed,
        |  CAST(1 AS INTEGER) AS post_mean_ok,
        |  CAST(1 AS INTEGER) AS removed_var_ok,
        |  CAST(1 AS INTEGER) AS top_matches_next
        |FROM embeddings""".stripMargin,
    // OPQ shares pq_topk's harness and floor at the same m/ksub; the
    // rotation's orthonormality is additionally pinned
    "pq_opq" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(40 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met,
        |  CAST(1 AS INTEGER) AS rotation_ok""".stripMargin,
    // stored-index path shares ann_ivf's floor: the persisted index is
    // bit-identical to the in-memory build (deterministic seeds, exact
    // double round-trip), so recall cannot differ
    "ann_ivf_stored" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k, CAST(15 AS INTEGER) AS hits_floor,
        |  CAST(1 AS INTEGER) AS floor_met""".stripMargin,
    // probe sweep: flags pinned (monotone hits, full-probe floor), the
    // hit counts themselves are sketch internals and stay out
    "ann_probe_sweep" ->
      """SELECT CAST(p AS INTEGER) AS n_probe,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k,
        |  CAST(1 AS INTEGER) AS monotone_ok,
        |  CAST(1 AS INTEGER) AS final_floor_met
        |FROM (SELECT unnest([1, 2, 3, 4]) AS p)
        |ORDER BY n_probe""".stripMargin,
    // stored-index probe sweep: spine + two pinned flags (max-budget
    // floor, one-scan identity vs the independent stored search); hit
    // counts stay out — recall is not provably monotone in nProbe at a
    // fixed shortlist, which is why the curve exists to be measured
    "ivf_pq_probe_sweep" ->
      """SELECT CAST(p AS INTEGER) AS n_probe,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k,
        |  CAST(1 AS INTEGER) AS final_floor_met,
        |  CAST(1 AS INTEGER) AS max_equals_stored
        |FROM (SELECT unnest([1, 2, 4, 8]) AS p)
        |ORDER BY n_probe""".stripMargin,
    // the OPQ coverage read: spine + the three stable flags (rotation
    // never loses at full probe, both arms clear the composed floor,
    // sweep max-arm identity on the rotated path); per-probe hit curves
    // are recorded in the operator doc, measured across all three SFs
    "ivf_pq_opq_sweep" ->
      """SELECT CAST(p AS INTEGER) AS n_probe,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k,
        |  CAST(1 AS INTEGER) AS full_opq_ge_plain,
        |  CAST(1 AS INTEGER) AS full_floor_met,
        |  CAST(1 AS INTEGER) AS max_equals_stored
        |FROM (SELECT unnest([1, 2, 4, 8, 16]) AS p)
        |ORDER BY n_probe""".stripMargin,
    // the filtered curve: same spine, the filtered family's floor and
    // eligibility audit
    "ivf_pq_filtered_sweep" ->
      """SELECT CAST(p AS INTEGER) AS n_probe,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k,
        |  CAST(1 AS INTEGER) AS final_floor_met,
        |  CAST(1 AS INTEGER) AS max_equals_filtered,
        |  CAST(0 AS BIGINT) AS ineligible_hits
        |FROM (SELECT unnest([1, 2, 4, 8]) AS p)
        |ORDER BY n_probe""".stripMargin,
    // shortlist sweep: same convention — flags pinned, hit counts out
    "pq_shortlist_sweep" ->
      """SELECT CAST(sl AS INTEGER) AS shortlist,
        |  CAST((SELECT count(*) FROM embeddings WHERE vec_id < 5) AS BIGINT) AS n_queries,
        |  CAST(10 AS INTEGER) AS k,
        |  CAST(1 AS INTEGER) AS monotone_ok,
        |  CAST(1 AS INTEGER) AS final_floor_met
        |FROM (SELECT unnest([10, 20, 40, 80]) AS sl)
        |ORDER BY shortlist""".stripMargin,
    // dedup_simhash: DuckDB pins n_docs plus the two structural flags
    // (pigeonhole recall, exact-verify precision) — see dedupSimhash.
    "dedup_simhash" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(1 AS INTEGER) AS recall_complete,
        |  CAST(1 AS INTEGER) AS precision_ok
        |FROM documents""".stripMargin,
    // dedup_embed_lsh: DuckDB recomputes the exact pair count with the
    // same unit-normalized dot-product SQL that dedup_embed hash-verifies,
    // and pins the subset/recall-floor flags — see dedupEmbedLsh.
    "dedup_embed_lsh" ->
      s"""WITH $unitCte,
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  JOIN (SELECT vec_id, v FROM e) b(vec_id, v) ON a.vec_id < b.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(1 AS INTEGER) AS subset_ok,
         |  CAST(1 AS INTEGER) AS floor_met
         |FROM p WHERE cos >= 0.45e0""".stripMargin,
    // the dedup_embed_lsh differential swept over table budgets: the
    // spine is literal, n_exact recomputed independently, both flags
    // pinned at 1 (monotonicity is a theorem of the one-scan algebra;
    // the floor is dedup_embed_lsh's; the max-budget identity with an
    // independent run is DedupSpec's, not re-paid per bench)
    "embed_lsh_sweep" ->
      s"""WITH $unitCte,
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  JOIN (SELECT vec_id, v FROM e) b(vec_id, v) ON a.vec_id < b.vec_id),
         |x AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM p
         |      WHERE cos >= 0.45e0)
         |SELECT t.n_tables, x.n_exact,
         |  CAST(1 AS INTEGER) AS monotone_ok,
         |  CAST(1 AS INTEGER) AS final_floor_met
         |FROM (VALUES (1), (2), (4), (8), (12)) t(n_tables) CROSS JOIN x
         |ORDER BY t.n_tables""".stripMargin,
    "tfidf_topterms" ->
      """WITH tfc AS (
        |  SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tfidf, rank FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        |  FROM s) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // entropy mirrored with the shared float discipline: chars via
    // 1..len substr (never engine-specific ''-split semantics), the
    // distinct alphabet SORTED before the n*ln(n) sum so both engines add
    // in identical order, round 6, empty/NULL -> NULL
    "char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NOT NULL AND len(text) > 0 THEN
        |      list_transform(range(len(text)), i -> substr(text, CAST(i + 1 AS INTEGER), 1))
        |    END AS ch
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN ch IS NOT NULL THEN
        |    round(ln(CAST(len(ch) AS DOUBLE)) -
        |      list_sum(list_transform(list_sort(list_distinct(ch)),
        |        d -> CAST(len(list_filter(ch, x -> x = d)) AS DOUBLE) *
        |             ln(CAST(len(list_filter(ch, x -> x = d)) AS DOUBLE))))
        |      / len(ch), 6)
        |  END AS char_entropy
        |FROM c ORDER BY doc_id""".stripMargin,
    // rule statistics mirrored definition-for-definition: mean word length
    // is (chars - separators)/words, symbol chars are outside
    // [A-Za-z0-9 ], alpha words contain a letter, stop hits count DISTINCT
    // stopwords; flags cast INTEGER to match when/otherwise
    "gopher_rules" ->
      """WITH f AS (
        |  SELECT doc_id, string_split(text, ' ') AS w, text
        |  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    round(CAST(len(text) - (len(w) - 1) AS DOUBLE) / len(w), 4) AS mean_word_len,
        |    round(CAST(len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |      / len(text), 4) AS symbol_ratio,
        |    round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / len(w), 4) AS alpha_ratio,
        |    CAST(len(list_filter(list_distinct(w),
        |      x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio, stop_hits,
        |  CAST(CASE WHEN n_words < 35 OR n_words > 100000 THEN 1 ELSE 0 END AS INTEGER) AS f_words,
        |  CAST(CASE WHEN mean_word_len < 3.0 OR mean_word_len > 4.8 THEN 1 ELSE 0 END AS INTEGER) AS f_mean_len,
        |  CAST(CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END AS INTEGER) AS f_symbol,
        |  CAST(CASE WHEN alpha_ratio < 0.8 THEN 1 ELSE 0 END AS INTEGER) AS f_alpha,
        |  CAST(CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS INTEGER) AS f_stop,
        |  CAST((CASE WHEN n_words < 35 OR n_words > 100000 THEN 1 ELSE 0 END)
        |    + (CASE WHEN mean_word_len < 3.0 OR mean_word_len > 4.8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN alpha_ratio < 0.8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END) AS INTEGER) AS n_failed,
        |  CAST(CASE WHEN (CASE WHEN n_words < 35 OR n_words > 100000 THEN 1 ELSE 0 END)
        |    + (CASE WHEN mean_word_len < 3.0 OR mean_word_len > 4.8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN alpha_ratio < 0.8 THEN 1 ELSE 0 END)
        |    + (CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END) = 0
        |    THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM s ORDER BY doc_id""".stripMargin,
    // alignment audit over the same deliberately mismatched slices; dims
    // cast INTEGER (duckdb len -> BIGINT, spark size -> INT), counts BIGINT
    "embed_integrity" ->
      """WITH d AS (
        |  SELECT doc_id AS id, 1 AS dd FROM documents WHERE doc_id < 400),
        |e AS (
        |  SELECT vec_id AS id, 1 AS ee,
        |    CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS null_v,
        |    CASE WHEN embedding IS NOT NULL AND len(embedding) = 0 THEN 1 ELSE 0 END AS empty_v,
        |    CASE WHEN COALESCE(len(list_filter(embedding,
        |        x -> isnan(x) OR isinf(x))) > 0, FALSE) THEN 1 ELSE 0 END AS bad_v,
        |    CASE WHEN embedding IS NOT NULL AND len(embedding) > 0
        |      THEN CAST(len(embedding) AS INTEGER) END AS dim
        |  FROM embeddings WHERE label <> 0)
        |SELECT
        |  CAST(sum(COALESCE(dd, 0)) AS BIGINT) AS n_docs,
        |  CAST(sum(COALESCE(ee, 0)) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN dd IS NOT NULL AND ee IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN dd IS NOT NULL AND ee IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_only,
        |  CAST(sum(CASE WHEN dd IS NULL AND ee IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vec_only,
        |  CAST(sum(COALESCE(null_v, 0)) AS BIGINT) AS n_null_vec,
        |  CAST(sum(COALESCE(empty_v, 0)) AS BIGINT) AS n_empty_vec,
        |  CAST(sum(COALESCE(bad_v, 0)) AS BIGINT) AS n_nonfinite,
        |  min(dim) AS min_dim, max(dim) AS max_dim
        |FROM d FULL OUTER JOIN e USING (id)""".stripMargin,
    // centroids per side via the embed_centroids arithmetic (round-6 avg),
    // then the shift over the full-outer (label, pos) join; (a-b)*(a-b)
    // mirrors the Spark multiplication (not pow)
    "drift_embed" ->
      """WITH r AS (
        |  SELECT label AS grp, pos, round(avg(x), 6) AS cr FROM (
        |    SELECT label, CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
        |           CAST(unnest(embedding) AS DOUBLE) AS x
        |    FROM embeddings) GROUP BY 1, 2),
        |c AS (
        |  SELECT label AS grp, pos, round(avg(x), 6) AS cc FROM (
        |    SELECT label, CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
        |           CAST(unnest(embedding) AS DOUBLE) AS x
        |    FROM embeddings WHERE vec_id % 2 = 0 AND label <> 7) GROUP BY 1, 2)
        |SELECT COALESCE(r.grp, c.grp) AS grp,
        |  CAST(count(cr) AS INTEGER) AS n_ref_dims,
        |  CAST(count(cc) AS INTEGER) AS n_cur_dims,
        |  round(sqrt(sum((cr - cc) * (cr - cc))), 6) AS l2_shift
        |FROM r FULL OUTER JOIN c ON r.grp = c.grp AND r.pos = c.pos
        |GROUP BY 1 ORDER BY grp""".stripMargin,
    // the curate_split draw joined to a content-hash rollup; leaky groups
    // = hashes spanning >1 split
    "split_leakage" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0),
        |s AS (
        |  SELECT doc_id, text,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM corpus WHERE text IS NOT NULL),
        |g AS (
        |  SELECT md5(text) AS content_hash, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
        |    array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
        |  FROM s GROUP BY 1)
        |SELECT content_hash, n_docs, n_splits, splits FROM g
        |WHERE n_splits > 1 ORDER BY content_hash""".stripMargin,
    // the card's scalar pass + the md5 duplicate tally; quantile_cont
    // mirrors percentile at the shared round-4 gate
    "dataset_card" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |    CAST(sum(CASE WHEN text IS NOT NULL
        |      THEN len(string_split(text, ' ')) ELSE 0 END) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    round(quantile_cont(CAST(len(text) AS DOUBLE), 0.5), 4) AS p50_len,
        |    round(quantile_cont(CAST(len(text) AS DOUBLE), 0.95), 4) AS p95_len
        |  FROM documents),
        |d AS (
        |  SELECT
        |    CAST(COALESCE(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_groups,
        |    CAST(COALESCE(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) AS BIGINT) AS n_dup_docs
        |  FROM (SELECT md5(text) AS h, count(*) AS n FROM documents
        |        WHERE text IS NOT NULL GROUP BY md5(text)))
        |SELECT s.*, d.n_dup_groups, d.n_dup_docs,
        |  CASE WHEN n_docs > 0
        |    THEN round(CAST(n_dup_docs AS DOUBLE) / n_docs, 6) END AS dup_rate
        |FROM s CROSS JOIN d""".stripMargin,
    // the rank identity with exact integer sums; round 6 on the final
    // quotient only
    "group_gini" ->
      """WITH r AS (
        |  SELECT source, n_chars,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS i
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CASE WHEN sum(n_chars) > 0 THEN
        |    round(2.0 * sum(i * n_chars) / (count(*) * sum(n_chars))
        |      - CAST(count(*) + 1 AS DOUBLE) / count(*), 6)
        |  END AS gini
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // the text_quality score expression, per-lang capped rank, then the
    // global cut — both cuts tie-break on doc_id over the ROUNDED score
    "topk_diverse" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    round(0.4e0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok)
        |        + 0.4e0 * least(n_tok / 100.0e0, 1.0e0)
        |        + 0.2e0 * (CASE WHEN (length(text) - (n_tok - 1)) / n_tok BETWEEN 3.0e0 AND 8.0e0
        |                        THEN 1.0e0 ELSE 0.5e0 END), 4) AS quality_score
        |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS toks,
        |               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        |        FROM documents)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS lr
        |  FROM q)
        |SELECT doc_id, lang, quality_score FROM r WHERE lr <= 7
        |ORDER BY quality_score DESC, doc_id LIMIT 30""".stripMargin,
    // decile cuts rounded 4 BEFORE the <= comparison on both sides (an
    // unrounded interpolated cut a ULP below an integer value would flip
    // that value's bin per engine)
    "quantile_bin" ->
      """WITH c AS (
        |  SELECT list_transform(
        |    quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 4)) AS cuts
        |  FROM documents WHERE n_chars IS NOT NULL)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars IS NOT NULL
        |    THEN CAST(len(list_filter(cuts, c -> c <= n_chars)) AS INTEGER) END
        |    AS n_chars_bin
        |FROM documents CROSS JOIN c ORDER BY doc_id""".stripMargin,
    // per-column profiles on each side (count / null-sum / distinct),
    // joined by column name; rates round 6, delta of the ROUNDED rates
    "schema_drift" ->
      """WITH cur AS (
        |  SELECT CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS lang, source
        |  FROM documents),
        |r AS (
        |  SELECT 'lang' AS col_name, count(*) AS n_ref,
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS nd_ref FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT) FROM documents),
        |c AS (
        |  SELECT 'lang' AS col_name, count(*) AS n_cur,
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS nd_cur FROM cur
        |  UNION ALL
        |  SELECT 'source', count(*),
        |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT source) AS BIGINT) FROM cur)
        |SELECT col_name, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
        |  round(CAST(r.nl AS DOUBLE) / n_ref, 6) AS null_rate_ref,
        |  round(CAST(c.nl AS DOUBLE) / n_cur, 6) AS null_rate_cur,
        |  round(round(CAST(c.nl AS DOUBLE) / n_cur, 6)
        |    - round(CAST(r.nl AS DOUBLE) / n_ref, 6), 6) AS null_rate_delta,
        |  nd_ref, nd_cur
        |FROM r JOIN c USING (col_name) ORDER BY col_name""".stripMargin,
    // bigram MLE backed off to the unigram with identical operation order:
    // 0.8*(c12/c1) + 0.2*(c2/N), -ln averaged per doc, round 4 after
    "score_bigram" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |pairs AS (
        |  SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2
        |  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
        |u AS (SELECT t, count(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY t),
        |n AS (SELECT CAST(sum(c) AS DOUBLE) AS nn FROM u)
        |SELECT doc_id,
        |  round(avg(-ln(0.8 * (CAST(c12 AS DOUBLE) / c1) + 0.2 * (c2 / nn))), 4) AS nll2
        |FROM pairs
        |JOIN big USING (w1, w2)
        |JOIN (SELECT t AS w1, c AS c1 FROM u) USING (w1)
        |JOIN (SELECT t AS w2, c AS c2 FROM u) USING (w2)
        |CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the pack_index window arithmetic rolled up per language; distinct
    // bins, token totals, efficiency = tokens/(bins*2048)
    "pack_efficiency" ->
      """WITH p AS (
        |  SELECT doc_id, lang, n,
        |    CAST(floor((sum(n) OVER (PARTITION BY lang ORDER BY doc_id) - n) / 2048.0e0) AS BIGINT) AS pack_id
        |  FROM (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |        FROM documents))
        |SELECT lang, CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN n > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
        |  round(CAST(sum(n) AS DOUBLE) / (count(DISTINCT pack_id) * 2048), 6) AS efficiency
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,
    // the dedup_minhash pair set (same bands CTE) labeled by source
    // provenance
    "dup_provenance" ->
      s"""WITH $minhashBandsCte,
         |prs AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |  WHERE a.band_val <> '')
         |SELECT CASE WHEN da.source = db.source THEN 'same_source'
         |  ELSE 'cross_source' END AS provenance,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM prs
         |JOIN documents da ON prs.a_id = da.doc_id
         |JOIN documents db ON prs.b_id = db.doc_id
         |GROUP BY 1 ORDER BY provenance""".stripMargin,
    // gaps in exact integer microseconds (epoch_us), lag ordered with the
    // same (ts, event_id) tie-break; the quantiles use the exact-integer
    // x20 doctrine (frac(p*(n-1)) = k/20, so quantile*20 is integral —
    // snap, then ONE division by 20000.0 is bit-identical cross-engine).
    // The previous /1000-then-round-4 gate was a built-in tie: every
    // interpolated value was a multiple of 0.00005, half the round step.
    "interarrival" ->
      """WITH g AS (
        |  SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(round(quantile_cont(gap, 0.5) * 20) AS BIGINT) / 20000.0 AS p50_gap_ms,
        |  CAST(round(quantile_cont(gap, 0.95) * 20) AS BIGINT) / 20000.0 AS p95_gap_ms,
        |  CAST(max(gap) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,
    // exact side mirrored; the sketch flag is pinned 1 (the differential
    // discipline: a sketch drifting past 3 sigma flips the compare)
    "window_distinct" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win,
        |  count(DISTINCT user_id) AS n_actors,
        |  CAST(1 AS INTEGER) AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // median/MAD via quantile_cont (the group_quantiles mirror), with the
    // same round-4 gates at each stage: median, MAD, then the z itself;
    // MAD = 0 -> NULL on both sides
    "robust_z" ->
      """WITH m AS (
        |  SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS med
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang),
        |a AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, m.med
        |  FROM documents d JOIN m USING (lang)),
        |md AS (
        |  SELECT lang, round(quantile_cont(abs(n_chars - med), 0.5), 4) AS mad
        |  FROM a WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT doc_id, a.lang,
        |  CASE WHEN mad > 0 THEN round(0.6745 * (n_chars - med) / mad, 4) END
        |    AS n_chars_rz
        |FROM a JOIN md USING (lang) ORDER BY doc_id""".stripMargin,
    // co-occurrence recomputed from scratch: distinct (group, shingle)
    // rows, string-keyed self-join, group sizes — the same 3-gram
    // comprehension the minhash oracles use
    "source_overlap" ->
      """WITH t AS (
        |  SELECT source AS g, string_split(text, ' ') AS toks FROM documents
        |  WHERE text IS NOT NULL AND source IS NOT NULL),
        |sh AS (SELECT DISTINCT g, s FROM (
        |  SELECT g, unnest([array_to_string(toks[i:i+2], ' ')
        |                    for i in generate_series(1, len(toks) - 2)]) AS s
        |  FROM t)),
        |sz AS (SELECT g, count(*) AS n FROM sh GROUP BY g),
        |co AS (SELECT a.g AS a, b.g AS b, count(*) AS n_common
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
        |       GROUP BY 1, 2)
        |SELECT a, b, CAST(n_common AS BIGINT) AS n_common,
        |  round(CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common), 6) AS jaccard
        |FROM co JOIN sz na ON co.a = na.g JOIN sz nb ON co.b = nb.g
        |ORDER BY a, b""".stripMargin,
    // fertility = the text_tokens bpeish mirror over the whitespace count,
    // averaged per language
    "token_fertility" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(text, '\W+'), x -> x <> ''))
        |      + length(regexp_replace(text, '[\w ]', '', 'g')) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS fert
        |  FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(fert), 6) AS mean_fertility
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    // the same sum-vector identity ((||S||^2 - n) / (n(n-1)) over unit
    // vectors), recomputed from scratch in SQL — the oracle never sees the
    // pair-free trick's Spark implementation, only its claimed result
    "label_cohesion" ->
      """WITH u AS (
        |  SELECT grp, list_transform(v0, x -> x / nrm) AS uv FROM (
        |    SELECT label AS grp, v0, sqrt(list_sum([x * x for x in v0])) AS nrm FROM (
        |      SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v0
        |      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0))
        |  WHERE nrm > 0 AND isfinite(nrm)),
        |s AS (
        |  SELECT grp, pos, sum(x) AS sc, count(*) AS cnt FROM (
        |    SELECT grp, CAST(unnest(range(len(uv))) AS INTEGER) AS pos,
        |           CAST(unnest(uv) AS DOUBLE) AS x
        |    FROM u) GROUP BY 1, 2)
        |SELECT grp, CAST(max(cnt) AS BIGINT) AS n,
        |  CASE WHEN max(cnt) >= 2 THEN
        |    round((sum(sc * sc) - max(cnt)) / (max(cnt) * (max(cnt) - 1)), 6)
        |  END AS mean_cos
        |FROM s GROUP BY grp ORDER BY grp""".stripMargin,
    "fd_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_dep,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_dep,
        |  CAST(CASE WHEN count(DISTINCT lang) > 1 THEN 1 ELSE 0 END AS INTEGER) AS violated
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // BM25 arithmetic mirrored with the shared discipline: avgdl is an
    // exact integer sum over N (never a float-accumulated avg),
    // contributions add in query-term order, score rounds at 6 BEFORE the
    // rank/limit, ties break on doc_id. Lucene idf (ln(1+(N-df+.5)/(df+.5)))
    // keeps every contribution non-negative, so score > 0 <=> any term hit.
    "bm25_rank" ->
      """WITH f AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |    len(list_filter(string_split(text, ' '), x -> x = 'dup')) AS tf0,
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf1,
        |    len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS tf2
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM f)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM (
        |  SELECT doc_id, round(
        |      ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        |    + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS score
        |  FROM f CROSS JOIN s)
        |WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    "fuzzy_join" ->
      """WITH v AS (
        |  SELECT DISTINCT unnest(string_split(text, ' ')) AS s FROM documents)
        |SELECT a.s AS a, b.s AS b,
        |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
        |FROM v a, v b
        |WHERE a.s < b.s AND levenshtein(a.s, b.s) <= 2
        |ORDER BY a, b""".stripMargin,
    "resample_fill" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |         date_trunc('hour', max(ts)) AS h1
        |  FROM events GROUP BY user_id),
        |h AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
        |c AS (SELECT user_id, date_trunc('hour', ts) AS hour, count(*) AS n
        |      FROM events GROUP BY user_id, date_trunc('hour', ts))
        |SELECT h.user_id, h.hour, COALESCE(c.n, 0) AS n
        |FROM h LEFT JOIN c ON h.user_id = c.user_id AND h.hour = c.hour
        |ORDER BY h.user_id, h.hour""".stripMargin,
    "embed_centroids" ->
      """SELECT label AS grp, pos, round(avg(x), 6) AS c FROM (
        |  SELECT label,
        |         CAST(unnest(range(len(embedding))) AS INTEGER) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings)
        |GROUP BY label, pos ORDER BY grp, pos""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $minhashBandsCte
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |WHERE a.band_val <> ''
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_incr" ->
      s"""WITH $minhashBandsCte
         |SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND a.band_val <> ''
         |ORDER BY new_id, corpus_id""".stripMargin,
    // the dedup_ngram pair arithmetic at the same 0.5 threshold, rolled
    // up to a count and crossed with the literal banding spine; flags
    // pinned 1 (monotonicity is the divisibility-chain nesting theorem;
    // the floor is the r=2 S-curve bound, fixture-measured at 3 SFs)
    "minhash_band_sweep" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |x AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_exact
        |  FROM inter
        |  JOIN sz na ON na.doc_id = a_id
        |  JOIN sz nb ON nb.doc_id = b_id
        |  WHERE i / (na.n + nb.n - i) >= 0.5e0)
        |SELECT t.bands, CAST(16 / t.bands AS INTEGER) AS rows_per_band,
        |  x.n_exact,
        |  CAST(1 AS INTEGER) AS monotone_ok,
        |  CAST(1 AS INTEGER) AS final_floor_met
        |FROM (VALUES (1), (2), (4), (8)) t(bands) CROSS JOIN x
        |ORDER BY t.bands""".stripMargin,
    "dedup_ngram" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id, round(i / (na.n + nb.n - i), 4) AS jaccard
        |FROM inter
        |JOIN sz na ON na.doc_id = a_id
        |JOIN sz nb ON nb.doc_id = b_id
        |WHERE i / (na.n + nb.n - i) >= 0.5e0
        |ORDER BY a_id, b_id""".stripMargin,
    // candidates = the dedup_minhash band CTE verbatim; truth = the
    // dedup_ngram jaccard>=0.5 CTE (shingle CTEs renamed past the band
    // CTE's `sh`); both ratios are single divisions of exact BIGINTs
    "blocking_quality" -> {
      s"""WITH $minhashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |  WHERE a.band_val <> ''),
         |tsh AS (
         |  SELECT DISTINCT doc_id,
         |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         |tsz AS (SELECT doc_id, count(*) AS n FROM tsh GROUP BY doc_id),
         |tinter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
         |  FROM tsh a JOIN tsh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |truth AS (
         |  SELECT a_id, b_id FROM tinter
         |  JOIN tsz na ON na.doc_id = a_id
         |  JOIN tsz nb ON nb.doc_id = b_id
         |  WHERE i / (na.n + nb.n - i) >= 0.5e0),
         |m AS (
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents
         |     WHERE doc_id IS NOT NULL) AS n_entities,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT)
         |     FROM cand JOIN truth USING (a_id, b_id)) AS n_caught)
         |SELECT n_entities,
         |  CAST((n_entities * (n_entities - 1)) // 2 AS BIGINT) AS total_pairs,
         |  n_candidates, n_truth, n_caught,
         |  CASE WHEN n_truth > 0 THEN
         |    CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE) END AS pairs_completeness,
         |  CASE WHEN (n_entities * (n_entities - 1)) // 2 > 0 THEN
         |    CAST((n_entities * (n_entities - 1)) // 2 - n_candidates AS DOUBLE)
         |      / CAST((n_entities * (n_entities - 1)) // 2 AS DOUBLE) END AS reduction_ratio
         |FROM m""".stripMargin
    },
    // token identity shared with text_tokens (split on single space);
    // pooled ratio is one division of two exact BIGINT sums
    "ttr_curve" ->
      """WITH per AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(floor(n_tok / 20) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_distinct) AS BIGINT) AS n_distinct_sum,
        |  CAST(sum(n_distinct) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE) AS ttr
        |FROM per GROUP BY 1 ORDER BY bucket""".stripMargin,
    // md5 over the payload bytes == md5 over the text for utf-8 fixtures
    "media_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS n_dups,
        |  CAST(min(strlen(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "bpe_merges" -> bpeOracleSql,
    "bpe_encode" -> bpeEncodeOracleSql,
    "bpe_vocab" -> bpeVocabOracleSql,
    "bpe_apply" -> bpeApplyOracleSql,
    "unigram_vocab" -> unigramVocabOracleSql,
    "unigram_encode" -> unigramEncodeOracleSql,
    "unigram_apply" -> unigramApplyOracleSql,
    "tokenizer_compare" -> tokenizerCompareOracleSql,
    // incremental CTPH: same fixture-recount + pinned flags as
    // media_neardup, batch-vs-stored-index populations — see mediaNearDupIncrQ
    "media_neardup_incr" ->
      """WITH d AS (SELECT doc_id, text,
        |    count(*) OVER (PARTITION BY md5(text)) AS textdup
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(count(*) FILTER (WHERE length(text) >= 200 AND textdup = 1)
        |    AS BIGINT) AS n_planted,
        |  CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_random,
        |  CAST(1 AS INTEGER) AS recall_complete,
        |  CAST(1 AS INTEGER) AS random_clean
        |FROM d""".stripMargin,
    // CTPH has no SQL mirror (the signature IS the operator): DuckDB
    // recomputes the three population counts from the fixture and pins
    // the planted-recall / junk-disjointness flags — see mediaNearDupQ
    "media_neardup" ->
      """WITH d AS (SELECT doc_id, text,
        |    count(*) OVER (PARTITION BY md5(text)) AS textdup
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n_base,
        |  CAST(count(*) FILTER (WHERE length(text) >= 200 AND textdup = 1)
        |    AS BIGINT) AS n_planted,
        |  CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_random,
        |  CAST(1 AS INTEGER) AS recall_complete,
        |  CAST(1 AS INTEGER) AS random_clean
        |FROM d""".stripMargin,
    // the CTPH exact-verify stage has no SQL mirror either (content-
    // defined chunking IS the operator): DuckDB recounts the planted and
    // control populations and pins both certification flags — every
    // planted re-encoding must verify >= 0.5 piece overlap against its
    // base, every forced junk-vs-base control must verify below
    "media_neardup_verify" ->
      """WITH d AS (SELECT doc_id, text,
        |    count(*) OVER (PARTITION BY md5(text)) AS textdup
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT CAST(count(*) FILTER (WHERE length(text) >= 200 AND textdup = 1)
        |    AS BIGINT) AS n_planted,
        |  CAST(count(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_random,
        |  CAST(1 AS INTEGER) AS plants_verified,
        |  CAST(1 AS INTEGER) AS controls_rejected
        |FROM d""".stripMargin,
    // deflate has no SQL mirror: DuckDB pins the raw byte length (strlen =
    // octet count) and the bound flag; NULL text filtered on BOTH sides
    // (a NULL row would flag 0 on the Spark side, 1 here)
    "compression_ratio" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(1 AS INTEGER) AS ratio_in_bounds
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    // dedup_substring's pair CTEs + the exact all-gram intersection per
    // candidate pair — still pure integers end to end
    "substring_extent" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS n_shared_fp
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg AS (SELECT DISTINCT doc_id, h FROM h)
        |SELECT c.a_id, c.b_id, c.n_shared_fp,
        |  CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM cand c
        |JOIN allg ga ON ga.doc_id = c.a_id
        |JOIN allg gb ON gb.doc_id = c.b_id AND gb.h = ga.h
        |GROUP BY 1, 2, 3 ORDER BY a_id, b_id""".stripMargin,
    // shingle first-occurrence by min doc id; novelty is one division of
    // exact BIGINTs
    "ngram_novelty" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id AS id,
        |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |        WHERE text IS NOT NULL AND doc_id IS NOT NULL)),
        |fs AS (SELECT s, min(id) AS first_id FROM sh GROUP BY s)
        |SELECT sh.id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN fs.first_id = sh.id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN fs.first_id = sh.id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM sh JOIN fs USING (s)
        |GROUP BY sh.id ORDER BY id""".stripMargin,
    // winnowing mirrored selection-for-selection: k-gram md5s at every
    // position, complete-window minima per doc (leading frame + tail cut,
    // matching Dedup.winnowFingerprints), distinct fingerprints, df cap,
    // pair counts — all exact integers/strings, no gate anywhere
    "dedup_substring" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY a_id, b_id""".stripMargin,
    // the winnowing fp CTEs split by id parity: even docs are the stored
    // index (df cap computed over the INDEX side only — the build-time
    // capFingerprintIndex contract), odd docs the arriving batch; the
    // <> predicate mirrors Spark's null-dropping =!=
    "dedup_substring_incr" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |cfp AS (SELECT doc_id, h FROM fp WHERE doc_id % 2 = 0),
        |dfreq AS (SELECT h, count(*) AS d FROM cfp GROUP BY h),
        |cfp2 AS (SELECT cfp.doc_id, cfp.h FROM cfp JOIN dfreq USING (h)
        |         WHERE d <= 20),
        |nfp AS (SELECT doc_id, h FROM fp WHERE doc_id % 2 = 1)
        |SELECT n.doc_id AS new_id, c.doc_id AS corpus_id,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM nfp n JOIN cfp2 c ON n.h = c.h AND n.doc_id <> c.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY new_id, corpus_id""".stripMargin,
    // the winnowing fp CTEs with NO pair floor (minShared = 1), bucketed
    // on shared-fp count with the dedup_sweep cumulative — exact BIGINTs
    "substring_sweep" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS ns
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |bkt AS (SELECT ns, CAST(count(*) AS BIGINT) AS n_pairs FROM p GROUP BY ns)
        |SELECT ns AS n_shared, n_pairs,
        |  CAST(sum(n_pairs) OVER (ORDER BY ns DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_at_or_above
        |FROM bkt ORDER BY n_shared""".stripMargin,
    // the substring_spans islands chain rolled up to the corpus-wide
    // span-length histogram — exact BIGINTs
    "spans_hist" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg AS (SELECT DISTINCT doc_id, h FROM h),
        |matched AS (
        |  SELECT DISTINCT p.a_id, p.b_id, hb.pos
        |  FROM pairs p
        |  JOIN allg ga ON ga.doc_id = p.a_id
        |  JOIN h hb ON hb.doc_id = p.b_id AND hb.h = ga.h),
        |runs AS (
        |  SELECT a_id, b_id, min(pos) AS cs, max(pos) + 15 AS ce
        |  FROM (SELECT a_id, b_id, pos,
        |          pos - row_number() OVER (PARTITION BY a_id, b_id ORDER BY pos) AS grp
        |        FROM matched)
        |  GROUP BY a_id, b_id, grp),
        |marks AS (
        |  SELECT a_id, b_id, cs, ce,
        |    CASE WHEN pmax IS NULL OR cs > pmax + 1 THEN 1 ELSE 0 END AS newg
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          max(ce) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM runs)),
        |spans AS (
        |  SELECT a_id, b_id, span_id, max(ce) - min(cs) + 1 AS len
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          sum(newg) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM marks)
        |  GROUP BY a_id, b_id, span_id)
        |SELECT CAST(len AS BIGINT) AS span_chars,
        |  CAST(count(*) AS BIGINT) AS n_spans
        |FROM spans GROUP BY len ORDER BY span_chars""".stripMargin,
    // the winnowing selection unrolled once per swept w (the per-doc
    // window frame and complete-window cut are the only w-dependent
    // parts), each branch the dedup_substring pair CTEs, rolled up to
    // (n_pairs, distinct paired docs) + the closed-form floor — all exact
    "substring_floor_sweep" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win4 AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn FROM h),
        |fpa AS (SELECT DISTINCT doc_id, mn AS h FROM win4
        |        WHERE pos <= greatest(n - 4, 0)),
        |dfa AS (SELECT h, count(*) AS d FROM fpa GROUP BY h),
        |f4 AS (SELECT fpa.doc_id, fpa.h FROM fpa JOIN dfa USING (h) WHERE d <= 20),
        |p4 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |       FROM f4 a JOIN f4 b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2 HAVING count(*) >= 3),
        |win8 AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fpb AS (SELECT DISTINCT doc_id, mn AS h FROM win8
        |        WHERE pos <= greatest(n - 8, 0)),
        |dfb AS (SELECT h, count(*) AS d FROM fpb GROUP BY h),
        |f8 AS (SELECT fpb.doc_id, fpb.h FROM fpb JOIN dfb USING (h) WHERE d <= 20),
        |p8 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |       FROM f8 a JOIN f8 b ON a.h = b.h AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2 HAVING count(*) >= 3),
        |win12 AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 11 FOLLOWING) AS mn FROM h),
        |fpc AS (SELECT DISTINCT doc_id, mn AS h FROM win12
        |        WHERE pos <= greatest(n - 12, 0)),
        |dfc AS (SELECT h, count(*) AS d FROM fpc GROUP BY h),
        |f12 AS (SELECT fpc.doc_id, fpc.h FROM fpc JOIN dfc USING (h) WHERE d <= 20),
        |p12 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |        FROM f12 a JOIN f12 b ON a.h = b.h AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT * FROM (
        |  SELECT 16 AS k, 4 AS w, CAST(19 AS BIGINT) AS floor_chars,
        |    (SELECT CAST(count(*) AS BIGINT) FROM p4) AS n_pairs,
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT a_id AS id FROM p4 UNION SELECT b_id FROM p4)) AS n_docs_paired
        |  UNION ALL
        |  SELECT 16, 8, CAST(23 AS BIGINT),
        |    (SELECT CAST(count(*) AS BIGINT) FROM p8),
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT a_id AS id FROM p8 UNION SELECT b_id FROM p8))
        |  UNION ALL
        |  SELECT 16, 12, CAST(27 AS BIGINT),
        |    (SELECT CAST(count(*) AS BIGINT) FROM p12),
        |    (SELECT CAST(count(*) AS BIGINT) FROM
        |      (SELECT a_id AS id FROM p12 UNION SELECT b_id FROM p12)))
        |ORDER BY w""".stripMargin,
    // the planted-span recall measurement: the oracle reconstructs the
    // identical synthetic pair table (md5-hex contexts, L-char span from
    // the source doc), runs the same winnowing selection at (k=16, w=8),
    // and counts detected planted pairs per L — all exact integers
    "substring_floor_recall" ->
      """WITH src AS MATERIALIZED (
        |  SELECT doc_id, text FROM documents
        |  WHERE text IS NOT NULL AND length(text) >= 60
        |    AND doc_id < 10000000),
        |pl AS MATERIALIZED (
        |  SELECT (L * 10000000 + doc_id) * 2 + side AS id,
        |    CASE WHEN side = 0 THEN
        |      md5(CAST(doc_id AS VARCHAR) || '-' || L || '-a1') ||
        |        substr(text, 11, L) ||
        |        md5(CAST(doc_id AS VARCHAR) || '-' || L || '-a2')
        |    ELSE
        |      md5(CAST(doc_id AS VARCHAR) || '-' || L || '-b1') ||
        |        substr(text, 11, L) ||
        |        md5(CAST(doc_id AS VARCHAR) || '-' || L || '-b2')
        |    END AS t
        |  FROM src,
        |    (VALUES (16), (18), (20), (23), (30)) ls(L),
        |    (VALUES (0), (1)) sides(side)),
        |g AS MATERIALIZED (
        |  SELECT id, unnest(generate_series(0, length(t)-16)) AS pos,
        |    length(t)-15 AS n, t
        |  FROM pl WHERE t IS NOT NULL AND length(t) >= 16),
        |h AS MATERIALIZED (
        |  SELECT id, pos, n, md5(substr(t, pos+1, 16)) AS h FROM g),
        |win AS MATERIALIZED (
        |  SELECT id, pos, n, min(h) OVER (PARTITION BY id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS MATERIALIZED (SELECT DISTINCT id, mn AS h FROM win
        |      WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS MATERIALIZED (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS MATERIALIZED (
        |  SELECT fp.id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 1000000),
        |pairs AS MATERIALIZED (
        |  SELECT a.id AS a_id, b.id AS b_id
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.id < b.id
        |  GROUP BY 1, 2 HAVING count(*) >= 1),
        |det AS MATERIALIZED (
        |  SELECT CAST(floor(a_id / 20000000.0) AS INTEGER) AS L,
        |    CAST(count(*) AS BIGINT) AS n_detected
        |  FROM pairs WHERE b_id = a_id + 1 AND a_id % 2 = 0 GROUP BY 1)
        |SELECT ls.L, CAST(23 AS BIGINT) AS floor_chars,
        |  (SELECT CAST(count(*) AS BIGINT) FROM src) AS n_planted,
        |  CAST(coalesce(det.n_detected, 0) AS BIGINT) AS n_detected
        |FROM (VALUES (16), (18), (20), (23), (30)) ls(L)
        |LEFT JOIN det ON ls.L = det.L
        |ORDER BY ls.L""".stripMargin,
    // the pairs-reuse composition: substring_extent's cand/extent CTEs and
    // substring_spans' islands chain over the SAME candidate set, joined
    // per pair — one pair derivation, two consumers, all exact BIGINTs
    "substring_report" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |cand AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(*) AS BIGINT) AS n_shared_fp
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg AS (SELECT DISTINCT doc_id, h FROM h),
        |extent AS (
        |  SELECT c.a_id, c.b_id, c.n_shared_fp,
        |    CAST(count(*) AS BIGINT) AS n_shared_grams
        |  FROM cand c
        |  JOIN allg ga ON ga.doc_id = c.a_id
        |  JOIN allg gb ON gb.doc_id = c.b_id AND gb.h = ga.h
        |  GROUP BY 1, 2, 3),
        |matched AS (
        |  SELECT DISTINCT p.a_id, p.b_id, hb.pos
        |  FROM cand p
        |  JOIN allg ga ON ga.doc_id = p.a_id
        |  JOIN h hb ON hb.doc_id = p.b_id AND hb.h = ga.h),
        |runs AS (
        |  SELECT a_id, b_id, min(pos) AS cs, max(pos) + 15 AS ce
        |  FROM (SELECT a_id, b_id, pos,
        |          pos - row_number() OVER (PARTITION BY a_id, b_id ORDER BY pos) AS grp
        |        FROM matched)
        |  GROUP BY a_id, b_id, grp),
        |marks AS (
        |  SELECT a_id, b_id, cs, ce,
        |    CASE WHEN pmax IS NULL OR cs > pmax + 1 THEN 1 ELSE 0 END AS newg
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          max(ce) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM runs)),
        |spans AS (
        |  SELECT a_id, b_id, span_id, max(ce) - min(cs) + 1 AS len
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          sum(newg) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM marks)
        |  GROUP BY a_id, b_id, span_id),
        |sp AS (
        |  SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(max(len) AS BIGINT) AS max_span_chars,
        |    CAST(sum(len) AS BIGINT) AS copied_chars
        |  FROM spans GROUP BY a_id, b_id)
        |SELECT e.a_id, e.b_id, e.n_shared_fp, e.n_shared_grams,
        |  s.n_spans, s.max_span_chars, s.copied_chars
        |FROM extent e JOIN sp s ON e.a_id = s.a_id AND e.b_id = s.b_id
        |ORDER BY e.a_id, e.b_id""".stripMargin,
    // dedup_substring's pair CTEs, then matched b-side positions, the
    // two-level gaps-and-islands (consecutive-position runs -> char
    // intervals -> merge overlap-or-touching) mirrored pass-for-pass —
    // every column an exact BIGINT
    "substring_spans" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg AS (SELECT DISTINCT doc_id, h FROM h),
        |matched AS (
        |  SELECT DISTINCT p.a_id, p.b_id, hb.pos
        |  FROM pairs p
        |  JOIN allg ga ON ga.doc_id = p.a_id
        |  JOIN h hb ON hb.doc_id = p.b_id AND hb.h = ga.h),
        |runs AS (
        |  SELECT a_id, b_id, min(pos) AS cs, max(pos) + 15 AS ce
        |  FROM (SELECT a_id, b_id, pos,
        |          pos - row_number() OVER (PARTITION BY a_id, b_id ORDER BY pos) AS grp
        |        FROM matched)
        |  GROUP BY a_id, b_id, grp),
        |marks AS (
        |  SELECT a_id, b_id, cs, ce,
        |    CASE WHEN pmax IS NULL OR cs > pmax + 1 THEN 1 ELSE 0 END AS newg
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          max(ce) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM runs)),
        |spans AS (
        |  SELECT a_id, b_id, span_id, max(ce) - min(cs) + 1 AS len
        |  FROM (SELECT a_id, b_id, cs, ce,
        |          sum(newg) OVER (PARTITION BY a_id, b_id ORDER BY cs
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM marks)
        |  GROUP BY a_id, b_id, span_id)
        |SELECT a_id, b_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(max(len) AS BIGINT) AS max_span_chars,
        |  CAST(sum(len) AS BIGINT) AS copied_chars
        |FROM spans GROUP BY a_id, b_id
        |ORDER BY a_id, b_id""".stripMargin,
    // dedup_substring's pair CTEs, then the strip mirrored coverage-for-
    // coverage: matched b-side gram starts (partner distinct grams), the
    // k chars each covers, and a per-character string_agg reassembly of
    // the survivors — byte-exact text, exact-BIGINT n_removed, no FP
    "dedup_substring_strip" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 16),
        |h AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g),
        |win AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h),
        |fp AS (SELECT DISTINCT doc_id, mn AS h FROM win
        |       WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fp GROUP BY h),
        |fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN dfreq USING (h) WHERE d <= 20),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg AS (SELECT DISTINCT doc_id, h FROM h),
        |pg AS (SELECT DISTINCT p.b_id, ga.h
        |       FROM pairs p JOIN allg ga ON ga.doc_id = p.a_id),
        |mpos AS (SELECT DISTINCT hh.doc_id AS b_id, hh.pos
        |         FROM h hh JOIN pg ON pg.b_id = hh.doc_id AND pg.h = hh.h),
        |cov AS (SELECT DISTINCT b_id,
        |          pos + unnest(generate_series(1, 16)) AS j FROM mpos),
        |chars AS (
        |  SELECT d.doc_id, unnest(generate_series(1, length(d.text))) AS j,
        |    d.text
        |  FROM documents d
        |  WHERE d.doc_id IN (SELECT b_id FROM pairs)),
        |strip AS (
        |  SELECT c.doc_id,
        |    coalesce(string_agg(
        |      CASE WHEN v.j IS NULL THEN substr(c.text, c.j, 1) END,
        |      '' ORDER BY c.j), '') AS stext
        |  FROM chars c LEFT JOIN cov v ON v.b_id = c.doc_id AND v.j = c.j
        |  GROUP BY c.doc_id)
        |SELECT d.doc_id AS id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END AS text,
        |  CAST(coalesce(length(d.text) -
        |    length(CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END),
        |    0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN strip s ON s.doc_id = d.doc_id
        |ORDER BY id""".stripMargin,
    // the strip chain with TWO sides: corpus fingerprints pair against the
    // df-capped BENCHMARK index (cap on the index side, NO id guard),
    // benchmark partner grams mark corpus coverage, plus the kept gate
    "decontam_strip" ->
      """WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |gc AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM corp WHERE text IS NOT NULL AND length(text) >= 16),
        |hc AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM gc),
        |gb AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM bench WHERE text IS NOT NULL AND length(text) >= 16),
        |hb AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM gb),
        |winc AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM hc),
        |fpc AS (SELECT DISTINCT doc_id, mn AS h FROM winc
        |        WHERE pos <= greatest(n - 8, 0)),
        |winb AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM hb),
        |fpb AS (SELECT DISTINCT doc_id, mn AS h FROM winb
        |        WHERE pos <= greatest(n - 8, 0)),
        |dfreq AS (SELECT h, count(*) AS d FROM fpb GROUP BY h),
        |fpb2 AS (SELECT fpb.doc_id, fpb.h FROM fpb JOIN dfreq USING (h)
        |         WHERE d <= 20),
        |pairs AS (
        |  SELECT c.doc_id AS c_id, b.doc_id AS b_id
        |  FROM fpc c JOIN fpb2 b ON c.h = b.h
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allgb AS (SELECT DISTINCT doc_id, h FROM hb),
        |pg AS (SELECT DISTINCT p.c_id, g.h
        |       FROM pairs p JOIN allgb g ON g.doc_id = p.b_id),
        |mpos AS (SELECT DISTINCT hh.doc_id AS c_id, hh.pos
        |         FROM hc hh JOIN pg ON pg.c_id = hh.doc_id AND pg.h = hh.h),
        |cov AS (SELECT DISTINCT c_id,
        |          pos + unnest(generate_series(1, 16)) AS j FROM mpos),
        |chars AS (
        |  SELECT d.doc_id, unnest(generate_series(1, length(d.text))) AS j,
        |    d.text
        |  FROM corp d
        |  WHERE d.doc_id IN (SELECT c_id FROM pairs)),
        |strip AS (
        |  SELECT c.doc_id,
        |    coalesce(string_agg(
        |      CASE WHEN v.j IS NULL THEN substr(c.text, c.j, 1) END,
        |      '' ORDER BY c.j), '') AS stext
        |  FROM chars c LEFT JOIN cov v ON v.c_id = c.doc_id AND v.j = c.j
        |  GROUP BY c.doc_id),
        |fin AS (
        |  SELECT d.doc_id AS id,
        |    CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END AS text,
        |    CAST(coalesce(length(d.text) -
        |      length(CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END),
        |      0) AS BIGINT) AS n_removed
        |  FROM corp d LEFT JOIN strip s ON s.doc_id = d.doc_id)
        |SELECT id, text, n_removed,
        |  CAST(CASE WHEN text IS NOT NULL AND length(text) >= 100
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM fin ORDER BY id""".stripMargin,
    // decontam_multi: the decontam_strip chain per benchmark (own df
    // cap, own pairs, own coverage) + the union strip; per-benchmark
    // n_removed = that benchmark's distinct covered positions
    "decontam_multi" ->
      """WITH corp AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id % 10 <> 0 AND doc_id % 10 <> 5),
        |ba AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |bb AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 5),
        |gc AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM corp WHERE text IS NOT NULL AND length(text) >= 16),
        |hc AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM gc),
        |winc AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM hc),
        |fpc AS (SELECT DISTINCT doc_id, mn AS h FROM winc
        |        WHERE pos <= greatest(n - 8, 0)),
        |ga AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM ba WHERE text IS NOT NULL AND length(text) >= 16),
        |ha AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM ga),
        |wina AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM ha),
        |fpa AS (SELECT DISTINCT doc_id, mn AS h FROM wina
        |        WHERE pos <= greatest(n - 8, 0)),
        |dfa AS (SELECT h, count(*) AS d FROM fpa GROUP BY h),
        |fpa2 AS (SELECT fpa.doc_id, fpa.h FROM fpa JOIN dfa USING (h)
        |         WHERE d <= 20),
        |pa AS (
        |  SELECT c.doc_id AS c_id, b.doc_id AS b_id
        |  FROM fpc c JOIN fpa2 b ON c.h = b.h
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allga AS (SELECT DISTINCT doc_id, h FROM ha),
        |pga AS (SELECT DISTINCT p.c_id, g.h
        |        FROM pa p JOIN allga g ON g.doc_id = p.b_id),
        |mposa AS (SELECT DISTINCT hh.doc_id AS c_id, hh.pos
        |          FROM hc hh JOIN pga ON pga.c_id = hh.doc_id AND pga.h = hh.h),
        |cova AS (SELECT DISTINCT c_id,
        |           pos + unnest(generate_series(1, 16)) AS j FROM mposa),
        |gb2 AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM bb WHERE text IS NOT NULL AND length(text) >= 16),
        |hb2 AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM gb2),
        |winb AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM hb2),
        |fpb AS (SELECT DISTINCT doc_id, mn AS h FROM winb
        |        WHERE pos <= greatest(n - 8, 0)),
        |dfb AS (SELECT h, count(*) AS d FROM fpb GROUP BY h),
        |fpb2 AS (SELECT fpb.doc_id, fpb.h FROM fpb JOIN dfb USING (h)
        |         WHERE d <= 20),
        |pb AS (
        |  SELECT c.doc_id AS c_id, b.doc_id AS b_id
        |  FROM fpc c JOIN fpb2 b ON c.h = b.h
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allgb AS (SELECT DISTINCT doc_id, h FROM hb2),
        |pgb AS (SELECT DISTINCT p.c_id, g.h
        |        FROM pb p JOIN allgb g ON g.doc_id = p.b_id),
        |mposb AS (SELECT DISTINCT hh.doc_id AS c_id, hh.pos
        |          FROM hc hh JOIN pgb ON pgb.c_id = hh.doc_id AND pgb.h = hh.h),
        |covb AS (SELECT DISTINCT c_id,
        |           pos + unnest(generate_series(1, 16)) AS j FROM mposb),
        |covu AS (SELECT c_id, j FROM cova UNION SELECT c_id, j FROM covb),
        |touched AS (SELECT DISTINCT c_id FROM covu),
        |chars AS (
        |  SELECT d.doc_id, unnest(generate_series(1, length(d.text))) AS j,
        |    d.text
        |  FROM corp d WHERE d.doc_id IN (SELECT c_id FROM touched)),
        |strip AS (
        |  SELECT c.doc_id,
        |    coalesce(string_agg(
        |      CASE WHEN v.j IS NULL THEN substr(c.text, c.j, 1) END,
        |      '' ORDER BY c.j), '') AS stext
        |  FROM chars c LEFT JOIN covu v ON v.c_id = c.doc_id AND v.j = c.j
        |  GROUP BY c.doc_id),
        |cnta AS (SELECT c_id, CAST(count(*) AS BIGINT) AS nr FROM cova GROUP BY c_id),
        |cntb AS (SELECT c_id, CAST(count(*) AS BIGINT) AS nr FROM covb GROUP BY c_id),
        |fin AS (
        |  SELECT d.doc_id AS id,
        |    CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END AS text,
        |    CAST(coalesce(length(d.text) -
        |      length(CASE WHEN s.doc_id IS NOT NULL THEN s.stext ELSE d.text END),
        |      0) AS BIGINT) AS n_removed,
        |    coalesce(ca.nr, CAST(0 AS BIGINT)) AS n_removed_benchA,
        |    coalesce(cb.nr, CAST(0 AS BIGINT)) AS n_removed_benchB
        |  FROM corp d
        |  LEFT JOIN strip s ON s.doc_id = d.doc_id
        |  LEFT JOIN cnta ca ON ca.c_id = d.doc_id
        |  LEFT JOIN cntb cb ON cb.c_id = d.doc_id)
        |SELECT id, text, n_removed, n_removed_benchA, n_removed_benchB,
        |  CAST(CASE WHEN text IS NOT NULL AND length(text) >= 100
        |    THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM fin ORDER BY id""".stripMargin,
    // the dedup_ngram pair arithmetic at a lower floor, bucketed on the
    // ROUNDED jaccard (same round-4 gate, identical IEEE floor(j*10) on
    // both engines) with a cumulative over the <= 10 bucket rows
    "dedup_sweep" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([array_to_string(toks[i:i+2], ' ') for i in generate_series(1, len(toks)-2)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |j AS (
        |  SELECT round(i / (na.n + nb.n - i), 4) AS jac
        |  FROM inter
        |  JOIN sz na ON na.doc_id = a_id
        |  JOIN sz nb ON nb.doc_id = b_id
        |  WHERE i / (na.n + nb.n - i) >= 0.05e0),
        |b AS (
        |  SELECT CAST(floor(jac * 10) AS INTEGER) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM j GROUP BY 1)
        |SELECT bucket, n_pairs,
        |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_at_or_above
        |FROM b ORDER BY bucket""".stripMargin,
    "dedup_embed" ->
      s"""WITH $unitCte,
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  JOIN (SELECT vec_id, v FROM e) b(vec_id, v) ON a.vec_id < b.vec_id)
         |SELECT a_id, b_id, round(cos, 4) AS cos FROM p WHERE cos >= 0.45e0
         |ORDER BY a_id, b_id""".stripMargin,
    "dedup_resolve" ->
      s"""WITH RECURSIVE $clusterWalkCte
         |SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |FROM walk GROUP BY src ORDER BY doc_id""".stripMargin,
    // same transitive closure, rolled up to the size histogram; singletons
    // counted from the complement of the label table
    "dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $clusterWalkCte,
         |labels AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM walk GROUP BY src),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM labels GROUP BY 1),
         |hist AS (
         |  SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |  FROM sizes GROUP BY 1),
         |singles AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size,
         |    CAST(count(*) AS BIGINT) AS n_clusters
         |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM labels))
         |SELECT cluster_size, n_clusters,
         |  cluster_size * n_clusters AS n_docs
         |FROM (SELECT * FROM hist UNION ALL SELECT * FROM singles)
         |ORDER BY cluster_size""".stripMargin,
    // dedup_survivor: same transitive-closure clusters, then the per-cluster
    // argmax (n_chars desc, doc_id asc) picks the survivor; documents in no
    // pair survive by definition.
    "dedup_survivor" ->
      s"""WITH RECURSIVE $clusterWalkCte,
         |labels AS (
         |  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
         |  FROM walk GROUP BY src),
         |rk AS (
         |  SELECT l.doc_id,
         |    row_number() OVER (PARTITION BY l.cluster_id
         |                       ORDER BY d.n_chars DESC, l.doc_id ASC) AS rn
         |  FROM labels l JOIN documents d ON d.doc_id = l.doc_id)
         |SELECT d.doc_id, d.n_chars FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM rk WHERE rn <> 1)
         |ORDER BY d.doc_id""".stripMargin,
    // chunk_docs: chunk count = ceil((len-overlap)/step) (1 below one
    // chunk), chunk i = substring at i*step+1, mirrored 1-based both sides
    "chunk_docs" ->
      """SELECT doc_id,
        |  CAST(i AS INTEGER) AS chunk_idx,
        |  substring(text, CAST(i AS INTEGER) * 160 + 1, 200) AS chunk_text
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CASE WHEN length(text) <= 200 THEN 0
        |           ELSE CAST(ceil(CAST(length(text) - 40 AS DOUBLE) / 160) AS BIGINT) - 1
        |      END)) AS i
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // mix_plan: the sample_mix scale arithmetic read as a REPORT —
    // char-weighted availability, S = min(available/w), planned = S*w,
    // rate = round(S*w/available, 6), binding = the argmin row(s) by
    // exact IEEE equality with the window min
    "mix_plan" ->
      """WITH avail AS (
        |  SELECT lang AS stratum, CAST(sum(n_chars) AS BIGINT) AS available,
        |    CASE lang WHEN 'en' THEN 0.5e0 WHEN 'de' THEN 0.3e0
        |      WHEN 'es' THEN 0.2e0 END AS weight
        |  FROM documents WHERE lang IN ('en', 'de', 'es') GROUP BY lang),
        |m AS (
        |  SELECT stratum, available, weight,
        |    CAST(available AS DOUBLE) / weight AS perw,
        |    min(CAST(available AS DOUBLE) / weight) OVER () AS scale
        |  FROM avail)
        |SELECT stratum, available, weight,
        |  round(scale * weight, 4) AS planned,
        |  round(scale * weight / available, 6) AS rate,
        |  CAST(CASE WHEN perw = scale THEN 1 ELSE 0 END AS INTEGER) AS binding
        |FROM m ORDER BY stratum""".stripMargin,
    // mix_apply: exact-count materialization — take_i = n_i on the
    // binding stratum (exact IEEE equality of n/w with the min), else
    // least(n_i, floor(scale*w_i)); selection is the smallest take_i
    // salted-md5 draws per stratum, ties by id. Same IEEE doubles both
    // engines, so the floor and the equality agree bit-for-bit.
    "mix_apply" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CASE lang WHEN 'en' THEN 0.5e0 WHEN 'de' THEN 0.3e0
        |      WHEN 'es' THEN 0.2e0 END AS w
        |  FROM documents WHERE lang IN ('en', 'de', 'es')
        |    AND doc_id IS NOT NULL GROUP BY lang),
        |s AS (SELECT min(n / w) AS scale FROM c),
        |tk AS (
        |  SELECT lang,
        |    CASE WHEN n / w = scale THEN n
        |         ELSE least(n, CAST(floor(scale * w) AS BIGINT)) END AS take
        |  FROM c CROSS JOIN s),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|mixapply'), doc_id) AS rn
        |  FROM documents WHERE lang IN ('en', 'de', 'es')
        |    AND doc_id IS NOT NULL)
        |SELECT doc_id, lang FROM r JOIN tk USING (lang)
        |WHERE rn <= take ORDER BY doc_id""".stripMargin,
    // mix_apply_budget: the mass plan (budget_i = S*w_i, binding = exact
    // integer mass) + the greedy cumulative-size prefix in salted draw
    // order; same IEEE doubles both engines, long-vs-double compare
    // promotes identically
    "mix_apply_budget" ->
      """WITH c AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS m,
        |    CASE lang WHEN 'en' THEN 0.5e0 WHEN 'de' THEN 0.3e0
        |      WHEN 'es' THEN 0.2e0 END AS w
        |  FROM documents WHERE lang IN ('en', 'de', 'es')
        |    AND doc_id IS NOT NULL AND n_chars IS NOT NULL GROUP BY lang),
        |s AS (SELECT min(m / w) AS scale FROM c),
        |tk AS (
        |  SELECT lang,
        |    CASE WHEN m / w = scale THEN CAST(m AS DOUBLE)
        |         ELSE scale * w END AS budget
        |  FROM c CROSS JOIN s),
        |r AS (
        |  SELECT doc_id, lang, n_chars, sum(n_chars) OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|mixapply'), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents WHERE lang IN ('en', 'de', 'es')
        |    AND doc_id IS NOT NULL AND n_chars IS NOT NULL)
        |SELECT doc_id, lang, n_chars FROM r JOIN tk USING (lang)
        |WHERE cum <= budget ORDER BY doc_id""".stripMargin,
    // mix_plan_apply: shares sample_mix's arithmetic exactly — the plan's
    // round-6 rate bucketed to the same threshold, same salted draw; the
    // key exists to pin the plan-then-apply path's equivalence
    "mix_plan_apply" -> sampleMixOracleSql,
    // sample_mix: scale S = min(n_i/w_i) maximizes the mixture; rate_i =
    // round(S*w_i/n_i, 6); same md5-bucket membership; zh/fr not in the
    // recipe and therefore absent
    "sample_mix" -> sampleMixOracleSql,
    // sample_temperature: per-language keep rate (nmin/n)^(1-alpha) rounded
    // to 6 decimals before bucketing (pow may differ in the last ulp across
    // engines; both land on the same integer threshold after rounding), then
    // the same md5-bucket membership draw as curate_split/curate_sample.
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        |m AS (SELECT min(n) AS nmin FROM c),
        |r AS (SELECT lang,
        |        round(pow(CAST(nmin AS DOUBLE) / n, 0.5e0), 6) AS rate
        |      FROM c CROSS JOIN m),
        |t AS (SELECT lang,
        |        CASE WHEN CAST(round(rate * 65536) AS BIGINT) >= 65536 THEN 'g000'
        |             ELSE printf('%04x', CAST(round(rate * 65536) AS BIGINT)) END AS thr
        |      FROM r)
        |SELECT d.doc_id, d.lang FROM documents d
        |JOIN t ON d.lang IS NOT DISTINCT FROM t.lang
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr
        |ORDER BY d.doc_id""".stripMargin,
    "topk_sim" ->
      s"""WITH $unitCte,
         |scored AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 5) b(vec_id, v)),
         |ranked AS (
         |  SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, CAST(rank AS INTEGER) AS rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // the whole SQ8 retrieval differential recomputed end to end: the
    // quantize_embed round-trip arithmetic (scale rounds to 6 BEFORE
    // quantizing, codes clamp at ±127), re-unitize, both exact rankings
    // under the shared round-6 tie gate, then the metric arithmetic —
    // ratios of exact counts / ≤10-term log2-discount sums, round 6 last
    "retrieval_metrics" ->
      s"""WITH $unitCte,
         |dq0 AS (
         |  SELECT vec_id, list_transform(e0, x ->
         |    greatest(least(round(x / scale, 0), CAST(127 AS DOUBLE)),
         |             CAST(-127 AS DOUBLE)) * scale) AS v0
         |  FROM (
         |    SELECT vec_id, e0,
         |      round(list_max(list_transform(e0, x -> abs(x))) / 127, 6) AS scale
         |    FROM (SELECT vec_id,
         |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |          FROM embeddings))),
         |d AS (
         |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM (
         |    SELECT vec_id, v0, sqrt(list_sum([x * x for x in v0])) AS nrm
         |    FROM dq0)),
         |tsc AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 50) b(vec_id, v)),
         |t10 AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
         |    FROM tsc) WHERE rank <= 10),
         |rsc AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM d) a(vec_id, v)
         |  CROSS JOIN (SELECT vec_id, v FROM d WHERE vec_id < 50) b(vec_id, v)),
         |r10 AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
         |    FROM rsc) WHERE rank <= 10),
         |ts AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_truth,
         |    sum(1.0 / log2(rank + 1)) AS idcg
         |  FROM t10 GROUP BY q_id),
         |rs AS (
         |  SELECT r.q_id, CAST(count(tt.n_id) AS BIGINT) AS n_hits,
         |    min(CASE WHEN tt.n_id IS NOT NULL THEN r.rank END) AS first_hit,
         |    coalesce(sum(CASE WHEN tt.n_id IS NOT NULL
         |      THEN 1.0 / log2(r.rank + 1) END), 0.0) AS dcg
         |  FROM r10 r LEFT JOIN t10 tt ON tt.q_id = r.q_id AND tt.n_id = r.n_id
         |  GROUP BY r.q_id)
         |SELECT ts.q_id, ts.n_truth,
         |  coalesce(rs.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |  round(coalesce(rs.n_hits, 0) / CAST(ts.n_truth AS DOUBLE), 6) AS recall,
         |  CASE WHEN rs.first_hit IS NULL THEN 0.0
         |       ELSE round(1.0 / rs.first_hit, 6) END AS mrr,
         |  round(coalesce(rs.dcg, 0.0) / ts.idcg, 6) AS ndcg
         |FROM ts LEFT JOIN rs ON rs.q_id = ts.q_id
         |ORDER BY ts.q_id""".stripMargin,
    // graded twin: same end-to-end recomputation with rank-derived gains
    // (3/2/1), IDCG over the rel-desc re-sort, and AP from the
    // cumulative-hit precision window; 30 queries
    "retrieval_metrics_graded" ->
      s"""WITH $unitCte,
         |dq0 AS (
         |  SELECT vec_id, list_transform(e0, x ->
         |    greatest(least(round(x / scale, 0), CAST(127 AS DOUBLE)),
         |             CAST(-127 AS DOUBLE)) * scale) AS v0
         |  FROM (
         |    SELECT vec_id, e0,
         |      round(list_max(list_transform(e0, x -> abs(x))) / 127, 6) AS scale
         |    FROM (SELECT vec_id,
         |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e0
         |          FROM embeddings))),
         |d AS (
         |  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v FROM (
         |    SELECT vec_id, v0, sqrt(list_sum([x * x for x in v0])) AS nrm
         |    FROM dq0)),
         |tsc AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 30) b(vec_id, v)),
         |t10 AS (
         |  SELECT q_id, n_id, rank,
         |    CAST(CASE WHEN rank <= 3 THEN 3 WHEN rank <= 6 THEN 2
         |         ELSE 1 END AS DOUBLE) AS rel
         |  FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
         |    FROM tsc) WHERE rank <= 10),
         |rsc AS (
         |  SELECT b.vec_id AS q_id, a.vec_id AS n_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM d) a(vec_id, v)
         |  CROSS JOIN (SELECT vec_id, v FROM d WHERE vec_id < 30) b(vec_id, v)),
         |r10 AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
         |    FROM rsc) WHERE rank <= 10),
         |ts AS (
         |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_truth,
         |    sum(rel / log2(ipos + 1)) AS idcg
         |  FROM (SELECT q_id, rel, row_number() OVER (
         |          PARTITION BY q_id ORDER BY rel DESC, rank, n_id) AS ipos
         |        FROM t10) GROUP BY q_id),
         |fl AS (
         |  SELECT r.q_id, r.rank, tt.rel,
         |    sum(CASE WHEN tt.rel IS NOT NULL THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY r.q_id ORDER BY r.rank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM r10 r LEFT JOIN t10 tt ON tt.q_id = r.q_id AND tt.n_id = r.n_id),
         |rs AS (
         |  SELECT q_id, CAST(count(rel) AS BIGINT) AS n_hits,
         |    min(CASE WHEN rel IS NOT NULL THEN rank END) AS first_hit,
         |    coalesce(sum(CASE WHEN rel IS NOT NULL
         |      THEN rel / log2(rank + 1) END), 0.0) AS dcg,
         |    coalesce(sum(CASE WHEN rel IS NOT NULL
         |      THEN CAST(cum AS DOUBLE) / rank END), 0.0) AS psum
         |  FROM fl GROUP BY q_id)
         |SELECT ts.q_id, ts.n_truth,
         |  coalesce(rs.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |  round(coalesce(rs.n_hits, 0) / CAST(ts.n_truth AS DOUBLE), 6) AS recall,
         |  CASE WHEN rs.first_hit IS NULL THEN 0.0
         |       ELSE round(1.0 / rs.first_hit, 6) END AS mrr,
         |  round(coalesce(rs.dcg, 0.0) / ts.idcg, 6) AS ndcg,
         |  round(coalesce(rs.psum, 0.0) / ts.n_truth, 6) AS ap
         |FROM ts LEFT JOIN rs ON rs.q_id = ts.q_id
         |ORDER BY ts.q_id""".stripMargin,
    // lang_id: NULL text classifies as NULL on BOTH engines (the CASE's
    // NULL counts would otherwise fall through every WHEN into ELSE 'zh'
    // while Spark returns NULL — regeneration-proofing, fixture has none)
    "lang_id" ->
      """SELECT doc_id, lang,
        |  CASE WHEN e IS NULL THEN NULL
        |       WHEN greatest(e, de, es, fr, zh) = 0 THEN 'und'
        |       WHEN e  = greatest(e, de, es, fr, zh) THEN 'en'
        |       WHEN de = greatest(e, de, es, fr, zh) THEN 'de'
        |       WHEN es = greatest(e, de, es, fr, zh) THEN 'es'
        |       WHEN fr = greatest(e, de, es, fr, zh) THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS e,
        |    len(list_filter(toks, t -> t IN ('der','die','und','das','ein'))) AS de,
        |    len(list_filter(toks, t -> t IN ('el','la','de','los','una'))) AS es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','des','une'))) AS fr,
        |    len(list_filter(toks, t -> t IN ('的','是','在','了','和'))) AS zh
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  round(0.4e0 * (CAST(len(list_distinct(toks)) AS DOUBLE) / n_tok)
        |      + 0.4e0 * least(n_tok / 100.0e0, 1.0e0)
        |      + 0.2e0 * (CASE WHEN (length(text) - (n_tok - 1)) / n_tok BETWEEN 3.0e0 AND 8.0e0
        |                      THEN 1.0e0 ELSE 0.5e0 END), 4) AS quality_score
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      // n_bpeish mirrors the Spark regex tokenizer exactly without RE2
      // lookarounds (Spark splits at every \w|\W boundary, isolating each
      // \W char, then drops whitespace tokens): token count = maximal \w
      // runs + non-space non-word characters.
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(string_split_regex(text, '\W+'), x -> x <> ''))
        |       + length(regexp_replace(text, '[\w ]', '', 'g')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "pipeline_docs" ->
      """WITH RECURSIVE d0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents),
        |sc AS (SELECT doc_id, lang, text, tk,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS e,
        |    len(list_filter(tk, t -> t IN ('der','die','und','das','ein'))) AS de,
        |    len(list_filter(tk, t -> t IN ('el','la','de','los','una'))) AS es,
        |    len(list_filter(tk, t -> t IN ('le','la','les','des','une'))) AS fr,
        |    len(list_filter(tk, t -> t IN ('的','是','在','了','和'))) AS zh,
        |    CAST(len(tk) AS DOUBLE) AS n_tok
        |  FROM d0),
        |en AS (SELECT doc_id, lang, text, tk, n_tok FROM sc
        |       WHERE greatest(e, de, es, fr, zh) > 0 AND e = greatest(e, de, es, fr, zh)),
        |qual AS (SELECT doc_id, lang, text, tk FROM en
        |  WHERE round(0.4e0 * (CAST(len(list_distinct(tk)) AS DOUBLE) / n_tok)
        |            + 0.4e0 * least(n_tok / 100.0e0, 1.0e0)
        |            + 0.2e0 * (CASE WHEN (length(text) - (n_tok - 1)) / n_tok BETWEEN 3.0e0 AND 8.0e0
        |                            THEN 1.0e0 ELSE 0.5e0 END), 4) >= 0.5e0),
        |exact AS (SELECT doc_id, lang, text, tk FROM (
        |    SELECT doc_id, lang, text, tk,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM qual
        |  ) WHERE rn = 1),
        |shn AS (SELECT DISTINCT doc_id,
        |    unnest([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS s
        |  FROM exact),
        |sz AS (SELECT doc_id,
        |    CAST(len(list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)])) AS DOUBLE) AS n
        |  FROM exact),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
        |  FROM shn a JOIN shn b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT a_id, b_id FROM inter
        |  JOIN sz na ON na.doc_id = a_id JOIN sz nb ON nb.doc_id = b_id
        |  WHERE i / (na.n + nb.n - i) >= 0.5e0),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pr
        |          UNION SELECT b_id AS src, a_id AS dst FROM pr),
        |walk(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src),
        |losers AS (SELECT src AS doc_id FROM walk GROUP BY src
        |           HAVING least(src, min(dst)) <> src)
        |SELECT doc_id, lang FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    // pipeline_docs' CTEs through the survivor set, then the
    // dedup_substring_strip coverage chain over `final` — but counting
    // covered characters instead of reassembling text (n_removed =
    // |union coverage| by the strip contract), so the oracle stays
    // integer-only end to end
    "pipeline_pretrain" ->
      """WITH RECURSIVE d0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents),
        |sc AS (SELECT doc_id, lang, text, tk,
        |    len(list_filter(tk, t -> t IN ('the','a','of','and','to'))) AS e,
        |    len(list_filter(tk, t -> t IN ('der','die','und','das','ein'))) AS de,
        |    len(list_filter(tk, t -> t IN ('el','la','de','los','una'))) AS es,
        |    len(list_filter(tk, t -> t IN ('le','la','les','des','une'))) AS fr,
        |    len(list_filter(tk, t -> t IN ('的','是','在','了','和'))) AS zh,
        |    CAST(len(tk) AS DOUBLE) AS n_tok
        |  FROM d0),
        |en AS (SELECT doc_id, lang, text, tk, n_tok FROM sc
        |       WHERE greatest(e, de, es, fr, zh) > 0 AND e = greatest(e, de, es, fr, zh)),
        |qual AS (SELECT doc_id, lang, text, tk FROM en
        |  WHERE round(0.4e0 * (CAST(len(list_distinct(tk)) AS DOUBLE) / n_tok)
        |            + 0.4e0 * least(n_tok / 100.0e0, 1.0e0)
        |            + 0.2e0 * (CASE WHEN (length(text) - (n_tok - 1)) / n_tok BETWEEN 3.0e0 AND 8.0e0
        |                            THEN 1.0e0 ELSE 0.5e0 END), 4) >= 0.5e0),
        |exact AS (SELECT doc_id, lang, text, tk FROM (
        |    SELECT doc_id, lang, text, tk,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM qual
        |  ) WHERE rn = 1),
        |shn AS (SELECT DISTINCT doc_id,
        |    unnest([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS s
        |  FROM exact),
        |sz AS (SELECT doc_id,
        |    CAST(len(list_distinct([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)])) AS DOUBLE) AS n
        |  FROM exact),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS DOUBLE) AS i
        |  FROM shn a JOIN shn b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT a_id, b_id FROM inter
        |  JOIN sz na ON na.doc_id = a_id JOIN sz nb ON nb.doc_id = b_id
        |  WHERE i / (na.n + nb.n - i) >= 0.5e0),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM pr
        |          UNION SELECT b_id AS src, a_id AS dst FROM pr),
        |walk(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT w.src, e.dst FROM walk w JOIN edges e ON w.dst = e.src),
        |losers AS (SELECT src AS doc_id FROM walk GROUP BY src
        |           HAVING least(src, min(dst)) <> src),
        |final AS (SELECT doc_id, lang, text FROM exact
        |          WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
        |g2 AS (
        |  SELECT doc_id, unnest(generate_series(0, length(text)-16)) AS pos,
        |    length(text)-15 AS n, text
        |  FROM final WHERE text IS NOT NULL AND length(text) >= 16),
        |h2 AS (SELECT doc_id, pos, n, md5(substr(text, pos+1, 16)) AS h FROM g2),
        |win2 AS (
        |  SELECT doc_id, pos, n, min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mn FROM h2),
        |fpx AS (SELECT DISTINCT doc_id, mn AS h FROM win2
        |        WHERE pos <= greatest(n - 8, 0)),
        |dfreq2 AS (SELECT h, count(*) AS dd FROM fpx GROUP BY h),
        |fpc AS (SELECT fpx.doc_id, fpx.h FROM fpx JOIN dfreq2 USING (h)
        |        WHERE dd <= 20),
        |pairs2 AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |allg2 AS (SELECT DISTINCT doc_id, h FROM h2),
        |pg2 AS (SELECT DISTINCT p.b_id, ga.h
        |        FROM pairs2 p JOIN allg2 ga ON ga.doc_id = p.a_id),
        |mpos2 AS (SELECT DISTINCT hh.doc_id AS b_id, hh.pos
        |          FROM h2 hh JOIN pg2 ON pg2.b_id = hh.doc_id AND pg2.h = hh.h),
        |cov2 AS (SELECT DISTINCT b_id,
        |           pos + unnest(generate_series(1, 16)) AS j FROM mpos2),
        |nrem AS (SELECT b_id AS doc_id, CAST(count(*) AS BIGINT) AS n_removed
        |         FROM cov2 GROUP BY b_id)
        |SELECT f.doc_id, f.lang,
        |  CAST(coalesce(nr.n_removed, 0) AS BIGINT) AS n_removed,
        |  CAST(length(f.text) - coalesce(nr.n_removed, 0) AS BIGINT) AS n_chars
        |FROM final f LEFT JOIN nrem nr USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,
    "pii_redact" ->
      // Same deterministic PII planting as the Spark side, then the same
      // RE2-safe pattern chain: emails replaced first, IP count measured on
      // the email-redacted text, phone count on the IP-redacted text —
      // mirroring Privacy.redactPii's running-text count semantics.
      """WITH p AS (
        |  SELECT doc_id,
        |    'u' || CAST(doc_id AS VARCHAR) || '@mail' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.com ' || text
        |      || ' call ' || CAST(doc_id % 900 + 100 AS VARCHAR)
        |      || '-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t0
        |  FROM documents),
        |r1 AS (SELECT doc_id, t0,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p),
        |r2 AS (SELECT doc_id, t0, t1,
        |    regexp_replace(t1, '\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b', '<IP>', 'g') AS t2
        |  FROM r1)
        |SELECT doc_id,
        |  regexp_replace(t2, '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b', '<PHONE>', 'g') AS red,
        |  CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t2, '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b')) AS BIGINT) AS n_phone
        |FROM r2 ORDER BY doc_id""".stripMargin,
    // the same running-text count chain as pii_redact, rolled up per
    // source over the planted corpus
    "pii_rates" ->
      """WITH p AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'u' || CAST(doc_id AS VARCHAR) || '@mail.com ' || text
        |      ELSE text END AS t0
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS e,
        |    CAST(len(regexp_extract_all(
        |      regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b')) AS BIGINT) AS i,
        |    CAST(len(regexp_extract_all(
        |      regexp_replace(
        |        regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(\.(25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b', '<IP>', 'g'),
        |      '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b')) AS BIGINT) AS ph
        |  FROM p)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(e) AS BIGINT) AS n_email,
        |  CAST(sum(i) AS BIGINT) AS n_ip,
        |  CAST(sum(ph) AS BIGINT) AS n_phone,
        |  CAST(sum(CASE WHEN e > 0 OR i > 0 OR ph > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_pii,
        |  round(CAST(sum(CASE WHEN e > 0 OR i > 0 OR ph > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS pii_rate
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "text_repetition" ->
      """SELECT doc_id,
        |  CASE WHEN len(tk) > 0
        |       THEN round(1.0e0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 4)
        |       ELSE 0.0e0 END AS dup_token_ratio,
        |  CASE WHEN len(bg) > 0
        |       THEN round(1.0e0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
        |       ELSE 0.0e0 END AS dup_bigram_ratio
        |FROM (SELECT doc_id, tk,
        |        [array_to_string(tk[i:i+1], ' ') for i in generate_series(1, len(tk)-1)] AS bg
        |      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "contamination" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk)-2)]) AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
        |b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
        |tot AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hit AS (SELECT sh.doc_id, count(*) AS h FROM sh JOIN b ON sh.s = b.s GROUP BY sh.doc_id)
        |SELECT d.doc_id,
        |  round(coalesce(CAST(h AS DOUBLE) / n, 0.0e0), 4) AS contamination
        |FROM documents d
        |LEFT JOIN tot ON tot.doc_id = d.doc_id
        |LEFT JOIN hit ON hit.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "curate_sample" ->
      // thresholds: round(rate * 65536) as 4 hex chars — en 50% -> '8000',
      // de 25% -> '4000', default 10% -> '199a'
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '8000'
        |       WHEN lang = 'de' THEN '4000'
        |       ELSE '199a' END
        |ORDER BY doc_id""".stripMargin,
    "curate_split" ->
      // thresholds: 80% -> 0xcccc, 90% -> 0xe666 of the 4-hex-char space
      """SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "pack_index" ->
      """SELECT doc_id, lang,
        |  CAST(floor((sum(n) OVER (PARTITION BY lang ORDER BY doc_id) - n) / 2048.0e0) AS BIGINT) AS pack_id
        |FROM (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    // join_asof: the click side is pre-deduped to min-event_id per
    // (user, ts), mirroring the Spark side — a same-microsecond click tie
    // would otherwise be an arbitrary pick on BOTH engines
    "join_asof" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value FROM (
        |  SELECT event_id, user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT p.event_id, c.click_id, round(c.value, 4) AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // forward ASOF (inequality reversed) + the tolerance projection:
    // matches beyond 1 hour ahead null out but the left row survives
    "join_asof_fwd" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value FROM (
        |  SELECT event_id, user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'click') WHERE rn = 1)
        |SELECT p.event_id,
        |  CASE WHEN c.ts <= p.ts + INTERVAL 1 HOUR THEN c.click_id END AS click_id,
        |  CASE WHEN c.ts <= p.ts + INTERVAL 1 HOUR THEN round(c.value, 4) END AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // two chained ASOF joins; validity (per-direction tolerance) applies
    // BEFORE the exact epoch-micros distance compare; ties pick backward
    "join_asof_near" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts, value FROM (
        |  SELECT event_id, user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
        |  FROM events WHERE event_type = 'click') WHERE rn = 1),
        |j AS (
        |  SELECT p.event_id, p.ts,
        |    CASE WHEN b.ts >= p.ts - INTERVAL 1 HOUR THEN b.click_id END AS b_id,
        |    CASE WHEN b.ts >= p.ts - INTERVAL 1 HOUR THEN b.value END AS b_val,
        |    CASE WHEN b.ts >= p.ts - INTERVAL 1 HOUR THEN b.ts END AS b_ts,
        |    CASE WHEN f.ts <= p.ts + INTERVAL 1 HOUR THEN f.click_id END AS f_id,
        |    CASE WHEN f.ts <= p.ts + INTERVAL 1 HOUR THEN f.value END AS f_val,
        |    CASE WHEN f.ts <= p.ts + INTERVAL 1 HOUR THEN f.ts END AS f_ts
        |  FROM p
        |  ASOF LEFT JOIN c b ON p.user_id = b.user_id AND p.ts >= b.ts
        |  ASOF LEFT JOIN c f ON p.user_id = f.user_id AND p.ts <= f.ts)
        |SELECT event_id,
        |  CASE WHEN pick THEN b_id ELSE f_id END AS click_id,
        |  round(CASE WHEN pick THEN b_val ELSE f_val END, 4) AS click_value
        |FROM (SELECT *,
        |  b_ts IS NOT NULL AND (f_ts IS NULL OR
        |    epoch_us(ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(ts)) AS pick
        |  FROM j)
        |ORDER BY event_id""".stripMargin,
    "join_range" ->
      """SELECT e.event_id AS a_id, f.event_id AS b_id FROM events e
        |JOIN events f ON e.user_id = f.user_id
        |  AND f.ts > e.ts AND f.ts <= e.ts + INTERVAL 5 MINUTE
        |WHERE e.event_type = 'click' AND f.event_type = 'purchase'
        |ORDER BY a_id, b_id""".stripMargin,
    "tumbling_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // session intervals explode into covered hour buckets (the same
    // bucketization the operator uses — no overlap self-join)
    "session_concurrency" ->
      s"""WITH sess AS (
         |  SELECT user_id, session_id,
         |    CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS h0,
         |    CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS h1
         |  FROM ($sessionizeSql) GROUP BY 1, 2),
         |e AS (
         |  SELECT h0, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM sess)
         |SELECT hour, CAST(count(*) AS BIGINT) AS n_active,
         |  CAST(sum(CASE WHEN h0 = hour THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_starting
         |FROM e GROUP BY 1 ORDER BY hour""".stripMargin,
    // the oracle is the direct quadratic overlap join (fixture-scale);
    // the operator's bucketized path must reproduce it exactly
    "join_interval" ->
      s"""WITH sess AS (
         |  SELECT user_id, session_id, min(ts) AS s0, max(ts) AS s1
         |  FROM ($sessionizeSql) GROUP BY 1, 2)
         |SELECT a.user_id AS a_user_id, a.session_id AS a_session_id,
         |  a.s0 AS a_start, a.s1 AS a_end,
         |  b.user_id AS b_user_id, b.session_id AS b_session_id,
         |  b.s0 AS b_start, b.s1 AS b_end
         |FROM sess a JOIN sess b
         |  ON a.user_id % 2 = 0 AND b.user_id % 2 = 1
         |  AND a.s0 <= b.s1 AND b.s0 <= a.s1
         |ORDER BY a_user_id, a_session_id, b_user_id, b_session_id""".stripMargin,
    "sessionize" ->
      s"""SELECT event_id, user_id, session_id FROM ($sessionizeSql)
         |ORDER BY event_id""".stripMargin,
    "session_stats" ->
      s"""SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
         |  count(*) AS n_events
         |FROM ($sessionizeSql)
         |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    // dedup_semantic: same independent n_exact recomputation as
    // dedup_embed_lsh (unit-normalized dot product in SQL), flags pinned —
    // see dedupSemantic.
    "dedup_semantic" ->
      s"""WITH $unitCte,
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  JOIN (SELECT vec_id, v FROM e) b(vec_id, v) ON a.vec_id < b.vec_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(1 AS INTEGER) AS subset_ok,
         |  CAST(1 AS INTEGER) AS floor_met
         |FROM p WHERE cos >= 0.45e0""".stripMargin,
    // the cross-parity exact pair scan (even corpus vs odd batch) — the
    // incremental operator's truth set; flags pinned as in dedup_semantic
    "dedup_semantic_incr" ->
      s"""WITH $unitCte,
         |p AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, $dotExpr AS cos
         |  FROM (SELECT vec_id, v FROM e) a(vec_id, v)
         |  JOIN (SELECT vec_id, v FROM e) b(vec_id, v)
         |    ON a.vec_id < b.vec_id AND a.vec_id % 2 <> b.vec_id % 2)
         |SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(1 AS INTEGER) AS subset_ok,
         |  CAST(1 AS INTEGER) AS floor_met
         |FROM p WHERE cos >= 0.45e0""".stripMargin,
    "trending_keys" ->
      """WITH c AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT win, event_type, n, rank FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY win ORDER BY n DESC, event_type) AS INTEGER) AS rank
        |  FROM c) WHERE rank <= 2 ORDER BY win, rank""".stripMargin,
    "join_estimate" ->
      """WITH a AS (SELECT
        |    CAST(count(*) FILTER (WHERE l_orderkey IS NOT NULL) AS BIGINT) AS n_a,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d_a FROM lineitem),
        |b AS (SELECT
        |    CAST(count(*) FILTER (WHERE o_orderkey IS NOT NULL) AS BIGINT) AS n_b,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_b FROM orders)
        |SELECT n_a, n_b, d_a, d_b,
        |  CAST(CASE WHEN greatest(d_a, d_b) > 0
        |    THEN floor(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / greatest(d_a, d_b))
        |    ELSE 0 END AS BIGINT) AS est_rows
        |FROM a CROSS JOIN b""".stripMargin,
    "clean_text" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    '  ' || chr(1) || replace(text, ' ', '  ') || chr(9) || chr(9)
        |      || ' x ' || chr(127) || '  ' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g'),
        |    '\n{2,}', '\n', 'g')) AS clean_text
        |FROM dirty ORDER BY doc_id""".stripMargin,
    "group_zscore" ->
      """WITH m AS (SELECT lang, avg(CAST(n_chars AS DOUBLE)) AS mu,
        |             stddev_samp(CAST(n_chars AS DOUBLE)) AS sigma
        |           FROM documents GROUP BY lang)
        |SELECT doc_id, lang,
        |  CASE WHEN n_chars IS NOT NULL AND sigma IS NOT NULL AND sigma <> 0
        |    THEN round((CAST(n_chars AS DOUBLE) - mu) / sigma, 4) END AS n_chars_z
        |FROM documents LEFT JOIN m USING (lang) ORDER BY doc_id""".stripMargin,
    "qa_expectations" ->
      """WITH t AS (SELECT count(*) AS total FROM documents),
        |v AS (
        |  SELECT 'not_null(lang)' AS expectation,
        |    CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT) AS violations
        |  FROM documents
        |  UNION ALL SELECT 'unique(doc_id)',
        |    CAST(count(*) FILTER (WHERE doc_id IS NOT NULL)
        |      - count(DISTINCT doc_id) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'in_range(n_chars,1.0,100000.0)',
        |    CAST(count(*) FILTER (WHERE n_chars IS NOT NULL
        |      AND (n_chars < 1 OR n_chars > 100000)) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'matches(lang)',
        |    CAST(count(*) FILTER (WHERE lang IS NOT NULL
        |      AND NOT regexp_matches(lang, '^[a-z]{2}$')) AS BIGINT) FROM documents
        |  UNION ALL SELECT 'text_nonempty',
        |    CAST(count(*) FILTER (WHERE NOT (length(text) > 0)) AS BIGINT)
        |  FROM documents)
        |SELECT expectation, violations, CAST(total AS BIGINT) AS total,
        |  CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS INTEGER) AS pass
        |FROM v CROSS JOIN t ORDER BY expectation""".stripMargin,
    // chunk_cdc: DuckDB recomputes the chunked-doc count; the coverage and
    // resync flags are pinned — see chunkCdc.
    "chunk_cdc" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(1 AS INTEGER) AS coverage_ok,
        |  CAST(1 AS INTEGER) AS resync_ok
        |FROM documents WHERE text IS NOT NULL AND length(text) > 0""".stripMargin,
    "sample_fixed" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64)
        |ORDER BY doc_id""".stripMargin,
    "quality_gate" ->
      """WITH cuts AS (SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS c
        |              FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT doc_id, lang, n_chars FROM documents JOIN cuts USING (lang)
        |WHERE n_chars >= c ORDER BY doc_id""".stripMargin,
    "dedup_lines" ->
      """WITH ls AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |lines AS (SELECT doc_id, g.i AS pos, l[g.i] AS line
        |          FROM ls, UNNEST(generate_series(1, len(l))) AS g(i)),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line),
        |kept AS (SELECT doc_id, pos, line FROM lines JOIN freq USING (line) WHERE df <= 395)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // both LMs from ONE token scan (target membership as a 0/1 sum),
    // Laplace-smoothed exact rationals, per-doc mean log-ratio round-4
    // AFTER the mean — the score_unigram settlement
    "dsir_weights" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
        |    substr(md5(w), 1, 3) AS f
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE w <> ''),
        |lm AS MATERIALIZED (
        |  SELECT f, count(*) AS cq, sum(is_t) AS ct FROM tok GROUP BY f),
        |tot AS (SELECT sum(cq) AS nq, sum(ct) AS nt FROM lm)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  round(avg(
        |    ln(CAST(ct + 1 AS DOUBLE) / (nt + 4096)) -
        |    ln(CAST(cq + 1 AS DOUBLE) / (nq + 4096))), 4) + 0.0 AS dsir_logratio
        |FROM tok JOIN lm USING (f) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // dsir_weights_incr: same LM CTEs (trained on the FULL corpus), the
    // scoring pass restricted to the batch slice — incremental scoring
    // of a corpus subset must equal its in-corpus scores
    "dsir_weights_incr" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
        |    substr(md5(w), 1, 3) AS f
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE w <> ''),
        |lm AS MATERIALIZED (
        |  SELECT f, count(*) AS cq, sum(is_t) AS ct FROM tok GROUP BY f),
        |tot AS (SELECT sum(cq) AS nq, sum(ct) AS nt FROM lm)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  round(avg(
        |    ln(CAST(ct + 1 AS DOUBLE) / (nt + 4096)) -
        |    ln(CAST(cq + 1 AS DOUBLE) / (nq + 4096))), 4) + 0.0 AS dsir_logratio
        |FROM tok JOIN lm USING (f) CROSS JOIN tot
        |WHERE doc_id % 5 = 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // nb_train: exact (label, feature) token counts over the even-half
    // training slice, each row carrying its label's doc count
    "nb_train" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id % 2 = 0
        |    AND len(list_filter(string_split(text, ' '), w -> w <> '')) > 0),
        |nd AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY 1),
        |tok AS (SELECT lang AS label, substr(md5(w), 1, 3) AS feature
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM d)
        |  WHERE w <> ''),
        |f AS (SELECT label, feature, CAST(count(*) AS BIGINT) AS n_feat
        |  FROM tok GROUP BY 1, 2)
        |SELECT label, feature, n_feat, n_docs FROM f JOIN nd USING (label)
        |ORDER BY label, feature""".stripMargin,
    // nb_classify: the same model CTEs, then per held-out doc and class
    // the Laplace-smoothed log-posterior (prior + token sum, round-4
    // with the +0.0 normalization) and the (score DESC, label) argmax
    "nb_classify" ->
      """WITH d AS (SELECT doc_id, lang, text FROM documents
        |  WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id % 2 = 0
        |    AND len(list_filter(string_split(text, ' '), w -> w <> '')) > 0),
        |nd AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY 1),
        |tok AS (SELECT lang AS label, substr(md5(w), 1, 3) AS feature
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM d)
        |  WHERE w <> ''),
        |f AS (SELECT label, feature, CAST(count(*) AS BIGINT) AS n_feat
        |  FROM tok GROUP BY 1, 2),
        |nl AS (SELECT label, CAST(sum(n_feat) AS BIGINT) AS nl
        |  FROM f GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS ndocs FROM nd),
        |btok AS (SELECT doc_id, substr(md5(w), 1, 3) AS feature
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 1)
        |  WHERE w <> ''),
        |sc AS (
        |  SELECT b.doc_id, c.label, CAST(count(*) AS BIGINT) AS n_tok,
        |    round(ln(CAST(c.n_docs AS DOUBLE) / ndocs) +
        |      sum(ln(CAST(coalesce(f.n_feat, 0) + 1 AS DOUBLE) / (nl.nl + 4096))),
        |      4) + 0.0 AS score
        |  FROM btok b
        |  CROSS JOIN nd c
        |  JOIN nl ON nl.label = c.label
        |  LEFT JOIN f ON f.label = c.label AND f.feature = b.feature
        |  CROSS JOIN tot
        |  GROUP BY b.doc_id, c.label, c.n_docs, nl.nl, ndocs)
        |SELECT doc_id, n_tok, label AS pred_label, score FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY score DESC, label) = 1
        |ORDER BY doc_id""".stripMargin,
    "score_unigram" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |lm AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS n FROM tok)
        |SELECT doc_id, round(avg(-ln(c / n)), 4) AS nll
        |FROM tok JOIN lm USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "token_budget" ->
      """WITH s AS (SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM s)
        |SELECT lang, n_docs, n_tokens, round(n_tokens / tot, 6) AS share,
        |  round(CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, lang) AS BIGINT) / tot, 6) AS cum_share
        |FROM s CROSS JOIN t ORDER BY n_tokens DESC, lang""".stripMargin,
    "cap_stratum" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "corpus_diff" ->
      """WITH cmp AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, 'new doc ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT coalesce(r.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN r.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN r.h <> c.h THEN 'changed' ELSE 'unchanged' END AS status
        |FROM (SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents) r
        |FULL OUTER JOIN (SELECT doc_id, md5(coalesce(text, '')) AS h FROM cmp) c
        |  ON r.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
  )

  /** The aggregator path shares topk_sim's oracle verbatim: identical
    * results are the contract. */
  val oracles: Map[String, String] =
    oraclesBase + ("topk_sim_agg" -> oraclesBase("topk_sim"))
}
