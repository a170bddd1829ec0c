package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Text-analysis operators over a document table (SURVEY §7.6): token
  * statistics, quality scoring, language ID, fingerprinting. All map-side
  * column expressions — a single pass over the corpus, no shuffle.
  */
object TextAnalysis {

  /** Token counting: whitespace tokens, distinct tokens, and a BPE-ish
    * regex token count (words + punctuation runs). */
  def withTokenStats(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    df.withColumn("n_tok", size(toks).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("long"))
      .withColumn("n_bpeish", size(TextFns.bpeishTokens(col(textCol))).cast("long"))
  }

  /** Quality scoring from cheap surface statistics: length band, lexical
    * diversity (type/token ratio), and mean token length band. Weights are
    * fixed, documented, and mirrored in the DuckDB oracle. */
  def withQualityScore(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    val nTok = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / nTok
    val avgLen = (length(col(textCol)) - (nTok - 1)) / nTok // chars minus separators
    val lenScore = least(nTok / lit(100.0), lit(1.0))
    val avgLenScore = when(avgLen.between(3.0, 8.0), 1.0).otherwise(0.5)
    df.withColumn("quality_score",
      round(lit(0.4) * diversity + lit(0.4) * lenScore + lit(0.2) * avgLenScore, 4))
  }

  /** Language-ID heuristic via stopword-profile voting. */
  def withLangId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", TextFns.langId(col(textCol), TextFns.defaultProfiles))

  /** Repetition scoring — the standard boilerplate/spam signal for corpus
    * filtering: `dup_token_ratio` = 1 - distinct/total tokens and
    * `dup_bigram_ratio` = 1 - distinct/total word 2-grams. Both are O(n)
    * map-side array expressions (no shuffle, no per-token self-scan), so
    * the cost per document is linear in its length — the shape that holds
    * at corpus scale. Documents with fewer than 1 token (resp. 2 tokens
    * for bigrams) score 0.0 by definition. */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFns.tokens(col(textCol))
    // the native codegen'd shingle expression (WordShingles) — identical
    // output to the reference UDF (WordShinglesSpec pins it byte-for-byte),
    // zero-copy byte windows instead of serde + split + per-token slices
    val bigrams = TextFns.shinglesFast(col(textCol), 2)
    def dupRatio(arr: org.apache.spark.sql.Column) = {
      val n = size(arr).cast("double")
      when(n > 0, round(lit(1.0) - size(array_distinct(arr)) / n, 4)).otherwise(0.0)
    }
    df.withColumn("dup_token_ratio", dupRatio(toks))
      .withColumn("dup_bigram_ratio", dupRatio(bigrams))
  }

  /** Canonical text normalization — the pass every text pipeline runs
    * before hashing, shingling, or tokenizing: Unicode NFC (composed and
    * decomposed forms of the same grapheme become byte-identical — via the
    * native [[graft.plans.NfcNormalize]] expression, since Spark has no
    * built-in normalizer), lowercase, whitespace runs collapsed to one
    * space, and trimmed. Pure map-side, fully codegen'd (the NFC step is a
    * native expression, not a UDF); NULL in → NULL out. Mirrored
    * step-for-step by DuckDB's nfc_normalize/lower/regexp_replace/trim in
    * the oracle. */
  def withNormalizedText(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("text_norm",
      trim(regexp_replace(lower(graft.plans.NfcNormalize.nfc(col(textCol))), "\\s+", " ")))

  /** Top-k collocations by pointwise mutual information over ADJACENT
    * token pairs — the standard corpus-level phrase/collocation miner
    * ("new york"-style units a tokenizer should learn as one piece).
    * PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with pair probability over the
    * bigram total and word probabilities over the token total; pairs
    * below `minPairCount` are dropped FIRST (PMI is notoriously noisy on
    * rare pairs, and the floor is also what bounds the join).
    *
    * Scale shape: unigram and bigram counts are two partial-aggregated
    * shuffles (bigrams via zip_with of the token array against its own
    * tail — map-side, never a self-join); the count floor prunes the
    * bigram side BEFORE its two equi-joins against the unigram counts;
    * the totals ride in as broadcast 1-row aggregates; the final top-k is
    * a TakeOrderedAndProject (bounded k, no global sort materialized).
    * The PMI double is computed with the exact same operation order as
    * the DuckDB oracle and ROUNDED to 4 decimals; ordering ties break on
    * (w1, w2), so the k selection is deterministic and engine-portable. */
  def pmiCollocations(
      df: DataFrame, textCol: String,
      minPairCount: Long = 25, k: Int = 50): DataFrame = {
    require(minPairCount >= 1 && k >= 1, s"bad minPairCount=$minPairCount k=$k")
    val toks = df.select(TextFns.tokens(col(textCol)).as("ts"))
    val words = toks.select(explode(col("ts")).as("w"))
    val uni = words.groupBy("w").agg(count(lit(1)).as("c"))
    val z = zip_with(
      slice(col("ts"), lit(1), size(col("ts")) - 1),
      slice(col("ts"), lit(2), size(col("ts")) - 1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val pairs = toks.filter(size(col("ts")) > 1)
      .select(explode(z).as("p")).select(col("p.w1"), col("p.w2"))
    val bigAll = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val n1 = uni.agg(sum(col("c")).cast("double").as("__n1"))
    val n2 = bigAll.agg(sum(col("c12")).cast("double").as("__n2"))
    bigAll.filter(col("c12") >= minPairCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .withColumn("pmi", round(log(
        (col("c12").cast("double") / col("__n2")) /
          ((col("c1").cast("double") / col("__n1")) *
            (col("c2").cast("double") / col("__n1")))), 4))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
      .select("w1", "w2", "c12", "pmi")
  }

  /** Unigram language-model quality score: train a unigram LM over the
    * corpus's own whitespace tokens and score each document by its average
    * token negative log-likelihood — the classic perplexity-proxy quality
    * filter (CCNet-style pipelines use a KenLM n-gram model; the unigram
    * degenerate case keeps the exact same contract — low nll ≈ typical
    * text, high nll ≈ rare-token noise — while staying engine-portable).
    * Returns (idCol, nll) with nll rounded to 4 decimals AFTER the
    * per-document average (the established cross-engine FP settlement).
    *
    * Scale shape: two passes over the exploded tokens — one partial-
    * aggregated groupBy builds the LM (|vocab| rows), one shuffle join
    * scores tokens against it; the corpus-token total is derived from the
    * LM aggregate (sum of counts), never a third corpus pass. For corpora
    * where even the vocab-keyed join is too hot, pre-prune the LM to a
    * top-K vocab broadcast with an OOV floor — see [[vocabCoverage]] for
    * the membership machinery. */
  def withUnigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
    val lm = tok.groupBy("__w").agg(count(lit(1)).as("__c"))
    val tot = lm.agg(sum(col("__c")).as("__n"))
    tok.join(lm, Seq("__w"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(avg(-log(col("__c") / col("__n"))), 4).as("nll"))
  }

  /** Vocabulary coverage per document: token count, out-of-vocabulary
    * count, and OOV rate against a reference vocabulary — the tokenizer/
    * vocab QA step run before committing to a tokenizer (a rising OOV rate
    * on new data means the vocab no longer fits the corpus).
    *
    * Scale shape: the corpus explodes to (doc, token) map-side; the vocab
    * collapses to a DISTINCT word set — vocabularies are ≤ a few hundred
    * thousand rows next to a corpus, so it broadcasts and membership is a
    * map-side left join; the per-doc rollup is one partial-aggregated
    * shuffle on doc id. The corpus is never self-joined. */
  def vocabCoverage(
      df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, wordCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(TextFns.tokens(col(textCol))).as("__w"))
    val v = vocab.select(col(wordCol).as("__w")).distinct()
      .withColumn("__in", lit(1))
    toks.join(broadcast(v), Seq("__w"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tok"), 4))
  }

  /** Canonical bag-of-words fingerprint + fast 64-bit content hash. */
  def withFingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextFns.fingerprint(col(textCol)))
      .withColumn("content_hash", TextFns.contentHash64(col(textCol)))

  /** Per-document top-k terms by TF-IDF (tf × ln(N/df)) — the standard
    * keyword/salience extraction over a corpus.
    *
    * Scale shape: term frequencies and document frequencies are two
    * partial-aggregated shuffles over (doc, term) / (term); the corpus
    * size joins in as a broadcast 1-row aggregate (never a driver-side
    * count baked into the plan); the per-doc top-k window benefits from
    * WindowGroupLimit, so map tasks forward at most k rows per doc.
    * Ranking is on the ROUNDED score with the term as tie-break, making
    * the selection deterministic and engine-portable. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol).as("doc_id"),
      explode(TextFns.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // tf already holds one row per (doc, term), so df(term) is a plain count
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__n"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("doc_id", "term", "tfidf", "rank")
  }

  /** BM25 ranked keyword retrieval — the lexical-search twin of the ANN
    * operators ([[graft.operators.Similarity]]): score every document
    * against a fixed bag of query terms with Okapi BM25
    * (`idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`, Lucene's
    * non-negative `idf = ln(1 + (N−df+0.5)/(df+0.5))`) and return the
    * top-k matches. Returns (idCol, score, rank); only documents matching
    * at least one query term appear (score > 0 — retrieval, not corpus
    * scoring).
    *
    * Scale shape: the query is a SMALL CONSTANT term set, so per-term
    * tf's are computed as map-side array-filter counts in ONE projection
    * — the corpus is never exploded to (doc, token) rows and never
    * shuffled. Corpus statistics (N, avgdl, per-term df) collapse to a
    * 1-row aggregate that broadcasts back; the final top-k is
    * `orderBy.limit(k)` — TakeOrdered ships at most k rows per partition,
    * never a global sort. One aggregate pass + one map pass, total.
    *
    * Determinism: avgdl is `sum(dl)/N` (exact integer sum, not a
    * float-accumulated avg), contributions add left-to-right in query
    * order, the score rounds at 6 BEFORE ranking, and ties break on the
    * id — rank is engine-portable. NULL texts are excluded (they can
    * match nothing and would poison N/avgdl with NULL). */
  private[graft] def bm25Require(queryTerms: Seq[String], k1: Double, b: Double): Unit = {
    require(queryTerms.nonEmpty, "BM25 requires at least one query term")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate query terms would double-count: $queryTerms")
    // tokens are whitespace-split, so a space-containing "term" can
    // never match anything (the __terms identity tag itself is
    // NUL-joined — see bm25TermsTag — so it stays unambiguous either
    // way; this guard is about the terms being matchable at all)
    require(queryTerms.forall(!_.contains(" ")),
      s"query terms are single whitespace tokens; these contain spaces: " +
        queryTerms.filter(_.contains(" ")).mkString("[", ", ", "]"))
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
  }

  /** The (doc length, per-term tf) column expressions BM25 scores from —
    * one array-filter count per query term, never a corpus explode. The
    * ONE definition of tf for both the batch ranker and the streaming
    * scorer ([[graft.streaming.DocStreams.scoreArrivals]]): a tokenization
    * or tf-counting change lands in both paths or neither, so the
    * StreamingSpec-pinned score parity cannot drift silently. */
  private[graft] def bm25TfColumns(
      textCol: String, queryTerms: Seq[String])
      : Seq[org.apache.spark.sql.Column] = {
    val toks = TextFns.tokens(col(textCol))
    size(toks).cast("long").as("__dl") +:
      queryTerms.zipWithIndex.map { case (q, i) =>
        size(filter(toks, t => t === q)).cast("long").as(s"__tf$i")
      }
  }

  /** [[bm25TfColumns]] as a bare (idCol, __dl, __tf*) projection. */
  private def bm25TfProjection(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol) +: bm25TfColumns(textCol, queryTerms): _*)

  /** BM25 corpus statistics for a fixed query-term set, as ONE row:
    * (__n, __avgdl, __df0..__df{n-1}). This is the stored "index" of the
    * streaming scorer ([[graft.streaming.DocStreams.scoreArrivals]]):
    * train it on the batch corpus, persist it, and score arriving
    * documents map-side against it — the same split as the stored
    * band/cut/segment indexes. avgdl is sum/count (exact integer sum),
    * so the stats — and any score computed from them — are reproducible
    * bit-for-bit across partitionings and engines. */
  /** The term-identity tag a bm25Stats row carries (`__terms`): scoring
    * against stats trained on different or reordered terms would apply one
    * term's df as another's idf with no visible error, so the consumer
    * checks this tag in-plan. NUL-joined (U+0000) — unambiguous, since
    * query terms are whitespace-split tokens and a NUL can never survive
    * tokenization into a term. */
  def bm25TermsTag(queryTerms: Seq[String]): String = queryTerms.mkString("\u0000")

  def bm25Stats(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    bm25Require(queryTerms, 1.2, 0.75)
    bm25TfProjection(df, idCol, textCol, queryTerms).agg(
      count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl") +:
        queryTerms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i")) :+
        lit(bm25TermsTag(queryTerms)).as("__terms"): _*)
  }

  /** The BM25 score expression over a frame carrying BOTH the tf
    * projection and the stats columns — shared verbatim by the batch
    * ranker and the streaming scorer so the two cannot diverge.
    * Contributions add left-to-right in query-term order (engine-portable
    * float summation); rounds at 6. */
  def bm25ScoreExpr(queryTerms: Seq[String], k1: Double, b: Double): org.apache.spark.sql.Column = {
    def contrib(i: Int): org.apache.spark.sql.Column = {
      val tf = col(s"__tf$i").cast("double")
      val dfq = col(s"__df$i").cast("double")
      val idf = log(lit(1.0) + (col("__n") - dfq + 0.5) / (dfq + 0.5))
      idf * tf * (k1 + 1) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl")))
    }
    round(queryTerms.indices.map(contrib).reduceLeft(_ + _), 6)
  }

  def bm25Rank(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Require(queryTerms, k1, b)
    require(k >= 1, s"k must be >= 1, got $k")
    val base = bm25TfProjection(df, idCol, textCol, queryTerms)
    val stats = bm25Stats(df, idCol, textCol, queryTerms)
    val hits = base.crossJoin(broadcast(stats))
      .select(col(idCol), bm25ScoreExpr(queryTerms, k1, b).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col(idCol)).limit(k)
    // rank over the <= k surviving rows only (a single-partition window is
    // fine AFTER the limit bounds it; never over the corpus)
    hits.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol))))
  }

  /** Interpolated bigram language-model quality score — one rung up from
    * [[withUnigramNll]] on the CCNet/KenLM ladder: each adjacent token
    * pair scores `λ·P(w2|w1) + (1−λ)·P(w2)` (maximum-likelihood bigram
    * backed off to the unigram, so unseen-context pairs never zero out),
    * and a document's score is its mean pair negative log-likelihood.
    * Catches what the unigram cannot: shuffled-word salad built from
    * individually common tokens scores high here and normal there.
    * Returns (idCol, nll2) rounded 4 after the mean; documents with
    * fewer than two tokens have no pairs and are excluded.
    *
    * Scale shape: same family as the unigram scorer — the pair explode,
    * one partial-aggregated bigram LM, vocabulary-keyed joins back, and
    * the corpus token total derived from the unigram LM aggregate. The
    * LMs are |vocab|/|bigram-vocab| rows, never per-document state. */
  def withBigramNll(
      df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.8): DataFrame = {
    require(lambda > 0 && lambda < 1, s"lambda must be in (0,1), got $lambda")
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__ts"))
    val z = zip_with(
      slice(col("__ts"), lit(1), size(col("__ts")) - 1),
      slice(col("__ts"), lit(2), size(col("__ts")) - 1),
      (x, y) => struct(x.as("w1"), y.as("w2")))
    val pairs = toks.filter(size(col("__ts")) > 1)
      .select(col(idCol), explode(z).as("p"))
      .select(col(idCol), col("p.w1").as("__w1"), col("p.w2").as("__w2"))
    val uni = df.select(explode(split(col(textCol), " ")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
    val big = pairs.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
    val tot = uni.agg(sum(col("__c")).cast("double").as("__n"))
    val p = lit(lambda) * (col("__c12").cast("double") / col("__c1")) +
      lit(1 - lambda) * (col("__c2") / col("__n"))
    pairs.join(big, Seq("__w1", "__w2"))
      .join(uni.select(col("__w").as("__w1"), col("__c").as("__c1")), "__w1")
      .join(uni.select(col("__w").as("__w2"), col("__c").as("__c2")), "__w2")
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(avg(-log(p)), 4).as("nll2"))
  }

  /** Language-ID confusion matrix against declared labels: one row per
    * (declared, predicted) pair with its count and a hit flag — the
    * classifier-QA cross-tab run before TRUSTING [[withLangId]] for
    * routing or mixture decisions (per-language recall = the hit row's n
    * over the declared label's total; off-diagonal mass localizes which
    * languages the stopword profiles confuse). One map-side
    * classification pass + one partial-aggregated groupBy; output is
    * |labels × predictions| rows. NULL declared labels and NULL
    * predictions (NULL text) form their own rows — missing-ness is part
    * of the audit. */
  def langConfusion(df: DataFrame, labelCol: String, textCol: String): DataFrame =
    withLangId(df, textCol)
      .groupBy(col(labelCol), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hit",
        when(col(labelCol) === col("lang_pred"), 1).otherwise(0))

  /** Pairwise n-gram Jaccard overlap BETWEEN corpus groups (sources,
    * snapshots, domains) — the corpus-diversity audit: two sources with
    * high shingle overlap contribute redundant text to a mixture, and a
    * benchmark-shaped source overlapping a train source is a contamination
    * lead. Returns (a, b, n_common, jaccard) for every UNORDERED group
    * pair that shares at least one shingle (zero-overlap pairs carry no
    * information and would make the output |groups|² regardless of data).
    *
    * Scale shape: documents collapse to DISTINCT (shingle, group) rows
    * first — the self-join is then keyed on the shingle, so its fan-out
    * per shingle is bounded by the number of GROUPS carrying it (≤ a few
    * dozen), never by document count: co-occurrence counting, not a doc
    * pair join. Group sizes broadcast back. Shingles join as strings for
    * exact cross-engine parity; a petabyte corpus would key the join on
    * xxhash64(shingle) to halve shuffle bytes at negligible collision
    * odds (the dedup_lines precedent).
    *
    * EAGER at construction (the barrier below is a localCheckpoint):
    * returned as a [[graft.engine.Materialized]] over those blocks, which
    * are pinned OUTSIDE the CacheManager until closed or GC'd — a driver
    * loop constructing this repeatedly should close each pass after
    * materializing it (the [[Dedup.resolveClusters]] precedent). */
  def sourceOverlap(
      df: DataFrame, groupCol: String, textCol: String,
      shingleN: Int = 3): graft.engine.Materialized = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    // `sg` feeds BOTH self-join sides and the size aggregate — without a
    // materialization barrier the corpus shingle explode executes three
    // times in one job. The distinct (group, shingle) set is small next to
    // the corpus (bounded by |groups| x vocabulary), so localCheckpoint it
    // once and let the join + sizes read the blocks.
    graft.engine.Materialized.checkpoint(
      df.filter(col(textCol).isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).as("g"),
          explode(TextFns.shinglesFast(col(textCol), shingleN)).as("sh"))
        .distinct())
      .map { sg =>
        val sizes = sg.groupBy("g").agg(count(lit(1)).as("n"))
        val co = sg.toDF("a", "sh").join(sg.toDF("b", "sh"), "sh")
          .filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
        co.join(broadcast(sizes.toDF("a", "__na")), "a")
          .join(broadcast(sizes.toDF("b", "__nb")), "b")
          .select(col("a"), col("b"), col("n_common"),
            round(col("n_common").cast("double") /
              (col("__na") + col("__nb") - col("n_common")), 6).as("jaccard"))
      }
  }

  /** Tokenizer fertility by group: the mean ratio of BPE-ish subword
    * tokens to whitespace words per language (or any group) — the
    * tokenizer-fit QA metric (a language whose fertility is far above the
    * corpus norm is poorly served by the tokenizer; its documents cost
    * proportionally more of the training budget per word). One map-side
    * projection + one partial-aggregated groupBy. Zero-word documents are
    * excluded (no ratio); NULL groups form their own row (missing lang is
    * a data fact). Returns (groupCol, n_docs, mean_fertility). */
  def tokenFertility(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val words = size(TextFns.tokens(col(textCol)))
    val bpe = size(TextFns.bpeishTokens(col(textCol)))
    df.filter(col(textCol).isNotNull && words > 0)
      .select(col(groupCol), (bpe.cast("double") / words).as("__f"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"), round(avg(col("__f")), 6).as("mean_fertility"))
  }

  /** Character-level Shannon entropy per document (nats) — the
    * compression-ratio proxy quality signal: near-zero entropy flags
    * degenerate repetition ("aaaa…", padding artifacts), unusually high
    * entropy flags binary-as-text/base64 blobs; both are standard corpus
    * rejects that token-level stats miss (a doc of one repeated WORD still
    * has many distinct chars; a base64 blob has a healthy type/token
    * ratio). `H = ln(n) − (Σ nᵢ·ln nᵢ)/n` over character counts nᵢ.
    *
    * Scale shape: pure map-side array expressions — chars via
    * sequence+substr (never a corpus explode; a per-CHAR explode is a
    * 100-1000× row blowup at corpus scale), counts via
    * distinct×filter (O(|alphabet|·n) per doc, |alphabet| ≤ ~100 for
    * natural text). No shuffle, no UDF.
    *
    * Determinism: the distinct-char array is SORTED before the count sum,
    * so both engines add nᵢ·ln nᵢ in identical order; entropy rounds at
    * 6. Empty and NULL texts yield NULL (no distribution to measure). */
  def withCharEntropy(df: DataFrame, textCol: String, as: String = "char_entropy"): DataFrame = {
    val n = length(col(textCol))
    // entropy through the native codegen'd [[graft.plans.CharEntropy]]
    // expression — the interpreted HOF chain (kept below as the
    // spec-pinned reference implementation) re-evaluates the whole char
    // array once per distinct character and measured 79 s at sf0.1;
    // rounding and the empty/NULL guard stay HERE, token-identical to
    // the oracle
    df.withColumn(as,
      when(n > 0, round(graft.plans.CharEntropy.entropy(col(textCol)), 6)))
  }

  /** The interpreted HOF reference implementation of [[withCharEntropy]]
    * — NEVER on the production path (O(|alphabet| · n) interpreted
    * lambda evals per doc, each rebuilding the n-element char array;
    * the [[graft.operators.Dedup.kgramHashes]] rationale). Kept because
    * an independently-derived second path IS the test: the parity spec
    * pins the native expression against this column bit-for-bit. */
  private[graft] def charEntropyRef(textCol: String): org.apache.spark.sql.Column = {
    val n = length(col(textCol))
    val chars = transform(sequence(lit(1), n), i => col(textCol).substr(i, lit(1)))
    val counts = transform(array_sort(array_distinct(chars)),
      c => size(filter(chars, x => x === c)).cast("double"))
    val sumNlogN = aggregate(counts, lit(0.0), (acc, c) => acc + c * log(c))
    when(n > 0, round(log(n.cast("double")) - sumNlogN / n, 6))
  }

  /** Gopher/C4-style rule-based quality audit — the standard heuristic
    * document filter (MassiveText §A1.1-style rules, public): word-count
    * bounds, mean-word-length band, symbol-character ratio cap, alphabetic
    * -word ratio floor, and a minimum number of DISTINCT stopwords (the
    * "is this prose at all" test). Returns one row per document with the
    * measured statistics, each rule's flag (1 = violated), the violation
    * count, and `pass` — callers filter on `pass = 1` or inspect per-rule
    * counts to tune thresholds before a destructive filter runs at scale.
    *
    * Statistic definitions (mirrored in the oracle): mean word length is
    * `(chars − separators)/words` ([[withQualityScore]]'s convention);
    * symbol_ratio is the fraction of characters outside `[A-Za-z0-9 ]`;
    * alpha_ratio is the fraction of words containing at least one letter;
    * stop_hits counts DISTINCT stopwords present (multiplicity is
    * [[graft.functions.TextFns.stopwordHits]]'s job). All map-side column
    * expressions — one projection, no shuffle, no UDF. NULL texts are
    * excluded (no statistics to audit — same stance as [[bm25Rank]]). */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.8,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to"),
      minStopHits: Int = 2): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"bad word bounds [$minWords, $maxWords]")
    require(stopwords.nonEmpty, "gopherRules requires a stopword list")
    val toks = TextFns.tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val meanLen = (length(col(textCol)) - (nWords - 1)).cast("double") / nWords
    val symbolRatio =
      length(regexp_replace(col(textCol), "[A-Za-z0-9 ]", "")).cast("double") /
        length(col(textCol))
    val alphaRatio =
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") / size(toks)
    // a single In expression, not an Or chain — with a realistic stopword
    // list (Gopher uses hundreds) a fold of ORs bloats the codegen'd tree
    val stopHits = size(filter(array_distinct(toks),
      t => t.isin(stopwords: _*))).cast("long")
    def flag(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol),
        nWords.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round(symbolRatio, 4).as("symbol_ratio"),
        round(alphaRatio, 4).as("alpha_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("f_words", flag(col("n_words") < minWords || col("n_words") > maxWords))
      .withColumn("f_mean_len",
        flag(col("mean_word_len") < minMeanLen || col("mean_word_len") > maxMeanLen))
      .withColumn("f_symbol", flag(col("symbol_ratio") > maxSymbolRatio))
      .withColumn("f_alpha", flag(col("alpha_ratio") < minAlphaRatio))
      .withColumn("f_stop", flag(col("stop_hits") < minStopHits))
      .withColumn("n_failed",
        (col("f_words") + col("f_mean_len") + col("f_symbol") +
          col("f_alpha") + col("f_stop")).cast("int"))
      .withColumn("pass", flag(col("n_failed") === 0))
  }

  /** Fixed-size overlapping character chunks — the pre-embedding window
    * split every retrieval/training pipeline runs before vectorizing long
    * documents. Chunk i covers `[i·step, i·step + chunkChars)` with
    * `step = chunkChars − overlapChars`; the chunk count is the minimum
    * that covers the text (`ceil((len − overlap) / step)`, 1 for texts at
    * or under one chunk), so the final chunk may be short but no suffix
    * is ever dropped. NULL or empty texts produce no chunks.
    *
    * Pure map-side built-ins (sequence → explode → substring): no UDF, no
    * shuffle, codegen throughout — at 100 TB chunking is a projection,
    * not a job. Returns (idCol, chunk_idx INT, chunk_text). Character
    * windows, deliberately: token-budgeted packing is [[graft.operators.Curation.packIndex]]'s
    * job, and byte-exact token splits belong to the tokenizer. */
  def chunkDocs(
      df: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlapChars: Int = 0): DataFrame = {
    require(chunkChars > 0, s"chunkChars must be positive, got $chunkChars")
    require(overlapChars >= 0 && overlapChars < chunkChars,
      s"overlapChars must be in [0, chunkChars), got $overlapChars")
    val step = chunkChars - overlapChars
    val len = length(col(textCol))
    val nChunks = when(len <= chunkChars, lit(1))
      .otherwise(ceil((len - overlapChars).cast("double") / step).cast("int"))
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        // Column-start substr (the 3-arg `substring` fn only takes Ints)
        col(textCol).substr(col("chunk_idx") * step + 1, lit(chunkChars))
          .as("chunk_text"))
  }

  /** Canonical text cleanup — the first transform of every ingest recipe:
    * strip control characters (except tab/newline, which carry structure),
    * collapse runs of spaces/tabs to one space, collapse blank-heavy
    * newline runs to a single newline, and trim. Pure codegen'd
    * regexp_replace chain (RE2-safe patterns, no backtracking blowups on
    * adversarial input — same discipline as [[Privacy]]'s redaction
    * chain); mirrors token-for-token in SQL, so the oracle pins it.
    * NULL stays NULL. */
  def withCleanText(df: DataFrame, textCol: String, as: String = "clean_text"): DataFrame =
    df.withColumn(as,
      trim(
        regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
            "[ \\t]+", " "),
          "\\n{2,}", "\n")))

  /** Content-defined chunking (Rabin-style rolling hash over a sliding
    * char window): a chunk boundary falls wherever the window hash
    * matches `(h & mask) == mask`, so expected chunk length ≈ mask+1 with
    * hard `[minLen, maxLen]` bounds (a chunk may run one code unit past
    * maxLen when the cut would split a UTF-16 surrogate pair). Unlike [[chunkDocs]]' fixed offsets,
    * boundaries are a function of LOCAL content — inserting or deleting a
    * prefix shifts only the chunks up to the next boundary, after which
    * the cut points RE-SYNCHRONIZE — which is what makes chunk-hash dedup
    * robust to near-identical documents with small edits (the classic CDC
    * property from dedup storage systems, applied to corpus text: compose
    * with an exact groupBy on `chunk_hash` for sub-document dedup).
    *
    * Map-side only (a per-row loop in a primitive UDF — the repo's
    * established pattern for sequential-state char loops that neither
    * built-ins nor a simple expression can express); emits
    * (idCol, chunk_idx, chunk_text, chunk_hash) with xxhash-strength
    * 64-bit FNV-1a chunk hashes computed in the same pass. Empty/NULL
    * texts emit nothing. */
  def cdcChunks(
      df: DataFrame, idCol: String, textCol: String,
      mask: Long = 0x3F, minLen: Int = 16, maxLen: Int = 256,
      window: Int = 16): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen, s"bad minLen=$minLen maxLen=$maxLen")
    require(window >= 2, s"window must be >= 2, got $window")
    // minLen >= window guarantees PHASE INDEPENDENCE: at every cut-eligible
    // position the rolling hash has already shed all pre-window chars, so
    // the boundary decision is a pure function of the trailing `window`
    // chars — independent of where the current chunk started. That is the
    // whole resynchronization argument; with minLen < window early cuts
    // would depend on the chunk's start and edits would never re-align.
    require(minLen >= window, s"minLen ($minLen) must be >= window ($window)")
    require(mask > 0, s"mask must be positive, got $mask")
    val outPow = powMod(257L, window)
    val chunker = udf { (text: String) =>
      if (text == null || text.isEmpty) Array.empty[String]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val n = text.length
        var start = 0
        var h = 0L
        var i = 0
        while (i < n) {
          // polynomial rolling hash over the trailing `window` chars: the
          // outgoing char's contribution is removed with the precomputed
          // power, so the hash depends ONLY on the window's content
          h = h * 257L + text.charAt(i)
          if (i - start + 1 > window) h -= outPow * text.charAt(i - window)
          val len = i - start + 1
          // a cut between the two halves of a UTF-16 surrogate pair would
          // leave lone surrogates that the engine's UTF-8 conversion mangles
          // (chunks then no longer reassemble the document) — defer one
          // char, so a chunk may exceed maxLen by exactly one code unit
          // defer ONLY on a genuine pair (high followed by low): an
          // unpaired high surrogate in mangled text must not defer, or a
          // run of them would defeat the maxLen bound unboundedly
          val cut = (len >= maxLen ||
            (len >= minLen && (h & mask) == mask)) &&
            !(Character.isHighSurrogate(text.charAt(i)) && i + 1 < n &&
              Character.isLowSurrogate(text.charAt(i + 1)))
          if (cut) { out += text.substring(start, i + 1); start = i + 1; h = 0L }
          i += 1
        }
        if (start < n) out += text.substring(start, n)
        out.toArray
      }
    }
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol), posexplode(chunker(col(textCol))).as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_hash", xxhash64(col("chunk_text")))
  }

  // 257^window with wraparound Long arithmetic (consistent with the rolling
  // update above — overflow is fine, both sides wrap identically)
  private def powMod(base: Long, exp: Int): Long = {
    var r = 1L
    var i = 0
    while (i < exp) { r *= base; i += 1 }
    r
  }

  /** Zipf rank-frequency fit over the corpus vocabulary: the least-squares
    * slope of ln(freq) against ln(rank) for the `topN` most frequent
    * whitespace tokens — natural text sits near −1; machine-generated or
    * template-heavy corpora flatten (the head repeats too evenly) and
    * boilerplate-free deduped corpora steepen. One of the cheapest
    * whole-corpus "does this read like language?" signals.
    *
    * Returns ONE row (n_terms, slope, intercept, r2). Ranking is
    * deterministic: frequency descending, term ascending on ties. Scale
    * shape: one partial-aggregated term count (the only corpus-wide
    * shuffle), TakeOrdered for the top-N (each partition forwards ≤ N
    * rows — no global sort), then the regression runs over the ≤ topN-row
    * set via regr_* aggregates; the window rank touches the same tiny set.
    * Fits with fewer than 2 distinct terms return NULL slope (a
    * single-point fit is undefined — surfacing NULL beats inventing 0). */
  def zipfSlope(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = df
      .select(explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topN)
    val ranked = counts.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("term"))))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(log(col("freq")), log(col("rank"))), 4).as("slope"),
      round(regr_intercept(log(col("freq")), log(col("rank"))), 4).as("intercept"),
      round(regr_r2(log(col("freq")), log(col("rank"))), 4).as("r2"))
  }

  /** Type-token-ratio curve by document-length bucket — the lexical-
    * diversity audit that controls for length (raw TTR falls with doc
    * length, so comparing it across lengths is meaningless; binning by
    * token count is the standard correction). Buckets are
    * `floor(n_tok / bucketTokens)`; per bucket the POOLED ratio
    * Σ n_distinct / Σ n_tok — a length-weighted mean of per-doc diversity.
    * A bucket whose ttr sits far below its neighbors is template/spam
    * shaped. Returns (bucket, n_docs, n_tokens, n_distinct_sum, ttr).
    * Token identity matches [[withTokenStats]] (split on single space).
    *
    * Scale shape: map-side token counts, one partial-aggregated groupBy
    * on the bucket; |buckets| output rows. Numeric contract: ttr is ONE
    * IEEE division of two exact BIGINT sums — bit-identical, no gate. */
  def ttrCurve(
      df: DataFrame, textCol: String, bucketTokens: Int = 20): DataFrame = {
    require(bucketTokens >= 1, s"bucketTokens must be >= 1, got $bucketTokens")
    val toks = split(col(textCol), " ")
    df.filter(col(textCol).isNotNull)
      .select(size(toks).cast("long").as("n_tok"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("bucket", floor(col("n_tok") / bucketTokens).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_distinct")).as("n_distinct_sum"))
      .withColumn("ttr",
        col("n_distinct_sum").cast("double") / col("n_tokens").cast("double"))
  }

  /** Per-document n-gram novelty against everything EARLIER in id order —
    * the corpus-redundancy growth curve: novelty = share of the document's
    * distinct shingles whose FIRST corpus occurrence is this document.
    * Early documents score ~1; as the corpus saturates its domain, novelty
    * decays — the curve read before deciding whether the next crawl batch
    * still adds information (and the curriculum signal for
    * ordered-training ablations). Returns
    * (id, n_shingles, n_novel, novelty); documents with no shingles drop.
    *
    * Scale shape: distinct (shingle, id) rows, one groupBy on the shingle
    * for the min-id first-occurrence table, joined back on the shingle
    * key (the shuffle the whole shingle family already pays), one groupBy
    * on the id. Novelty is ONE division of exact BIGINTs — no gate. */
  def ngramNovelty(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    val sh = df.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextFns.shinglesFast(col(textCol), shingleN)).as("sh"))
      .distinct()
    val firstSeen = sh.groupBy("sh").agg(min(col("id")).as("__first"))
    sh.join(firstSeen, Seq("sh"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles").cast("double"))
  }

  /** DEFLATE length of a string's UTF-8 bytes (zlib level 6). A JVM UDF by
    * necessity — Spark has no built-in compressor — kept out of hot paths:
    * the quality gate runs it once per document, map-side. Deterministic
    * for a given input on a given JVM (java.util.zip wraps zlib with fixed
    * strategy); the registered query therefore emits only BOUND flags,
    * never the raw byte count. */
  private val deflatedLen = udf { (s: String) =>
    if (s == null) null.asInstanceOf[java.lang.Integer]
    else {
      val in = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6, false)
      d.setInput(in)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      Int.box(total)
    }
  }

  /** Compression-ratio quality signal (the CCNet/RefinedWeb heuristic):
    * deflate-compressed size over raw UTF-8 size. Natural prose lands
    * ~0.4–0.8; near-0 says the document is massively repetitive (template
    * spam, keyword stuffing — compression is the cheapest repetition
    * detector there is, catching long-range copies that n-gram repetition
    * scores miss); ~1 says incompressible (random strings, base64 blobs,
    * minified/encrypted payloads). Appends `n_bytes`, `deflate_bytes`,
    * and `compression_ratio` (one division, NULL for empty/NULL text).
    * Map-side only — no shuffle. */
  def withCompressionRatio(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_bytes", octet_length(col(textCol)).cast("long"))
      .withColumn("deflate_bytes", deflatedLen(col(textCol)).cast("long"))
      .withColumn("compression_ratio",
        when(col("n_bytes") > 0,
          col("deflate_bytes").cast("double") / col("n_bytes").cast("double")))

  /** BPE merge-pair induction (Sennrich, Haddow & Birch, ACL 2016 — the
    * word-type byte-pair-encoding vocabulary learner): starting from
    * per-character symbols, repeat `nMerges` times: count every ADJACENT
    * symbol pair across the word-frequency table (each occurrence within
    * a word counts, weighted by the word's corpus frequency), merge the
    * most frequent pair into one symbol everywhere (ties broken by the
    * binary-lexicographic (left, right) pair — deterministic cross-engine),
    * record it. The returned merge table (rank, left_sym, right_sym,
    * pair_count) IS the learned tokenizer: applying the merges in rank
    * order to new text reproduces the vocabulary — the pretraining-prep
    * step the regex token counters ([[withTokenStats]]) stand in for.
    * Stops early (fewer than `nMerges` rows) if no adjacent pair remains.
    *
    * Merge application is greedy left-to-right non-overlapping (a word
    * "aaa" under merge (a,a) becomes [aa, a], never [a, aa]) — the
    * reference semantics, realized identically by `replace` in both
    * engines over a sentinel-framed symbol string (U+0001 sym U+0002 per
    * symbol, so a merge pattern can never match across or inside symbol
    * boundaries; words containing the sentinel codepoints are excluded,
    * oracle-mirrored).
    *
    * Scale shape: the corpus collapses to the word-TYPE frequency table
    * once (one shuffle, Zipf-bounded — types grow sublinearly in corpus
    * size); each ROUND is then one map-side pair explode over the vocab
    * + one partial-aggregated (l, r) shuffle + a small TakeOrdered to
    * the driver, and the merge apply is a map-side string replace. A
    * round takes up to `mergesPerRound` merges, not one: the ranked
    * pair list's longest prefix that is provably order-independent —
    * pairwise non-interacting (no shared left/right/merged symbol) and
    * strictly above the count of the first interacting pair (trimmed
    * pairs re-derive next round; see [[bpeLoop]] for why the guard makes
    * the batch EXACTLY the sequential merge sequence). The round saving
    * is corpus-dependent because the guard never speculates: measured on
    * the fixture corpus, 8 merges take 3 rounds and 64 take 54 (early
    * char-level top pairs share letters, so batches stay small), while
    * frequency-separated disjoint pair distributions — the shape of the
    * LATER merge tail, where symbols have specialized — batch at the
    * full mergesPerRound (spec-pinned). The seq table re-checkpoints every
    * `checkpointEvery` rounds so the replace chain's plan stays
    * bounded. The corpus text itself is scanned exactly once. */
  def bpeMerges(
      df: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 4, mergesPerRound: Int = 16): DataFrame = {
    val (merges, _) = bpeLoop(df, textCol, nMerges, checkpointEvery,
      mergesPerRound)
    import df.sparkSession.implicits._
    merges.toDF("rank", "left_sym", "right_sym", "pair_count")
      .select(col("rank").cast("int").as("rank"),
        col("left_sym"), col("right_sym"), col("pair_count"))
  }

  /** Publish a trained tokenizer: induce `nMerges` merges with
    * [[bpeMerges]] and write the merge table as a versioned on-disk
    * artifact with the write-then-swap discipline (one table, one
    * atomic root swap — the [[Classify.writeNbModel]] /
    * `Similarity.writePqIndex` contract, completing the
    * learn-once/apply-many story for the BPE family: train here once,
    * then [[bpeApply]] batches and `DocStreams.bpeCountArrivals`
    * streams against [[readBpeModel]]'s table across restarts, the
    * corpus never re-read). */
  def writeBpeModel(
      df: DataFrame, textCol: String, path: String, nMerges: Int,
      checkpointEvery: Int = 4, mergesPerRound: Int = 16): Unit = {
    val merges = bpeMerges(df, textCol, nMerges, checkpointEvery,
      mergesPerRound)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.publishRoot(fs, path) { tmp =>
      merges.write.mode("overwrite").parquet(s"$tmp/merges.parquet")
    }
  }

  /** Load a stored [[writeBpeModel]] merge table (recovering any
    * half-finished swap first) — feed to [[bpeApply]] /
    * `DocStreams.bpeCountArrivals`. */
  def readBpeModel(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.engine.Sinks.recoverSwap(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    spark.read.parquet(s"$path/merges.parquet")
  }

  /** Tokenizer APPLY — [[bpeMerges]]' payoff stage: learn `nMerges` BPE
    * merges from the corpus, apply them, and report per document the
    * whitespace word count and the resulting BPE token (symbol) count —
    * the real token accounting a pretraining budget reads (whitespace
    * counts over-estimate tokens for rare words the merges never fuse;
    * [[withTokenStats]]' `n_bpeish` regex is the stand-in this replaces).
    * Documents with no countable word (NULL/empty text; sentinel-bearing
    * words are excluded by the [[bpeMerges]] contract) emit no row.
    * Exact integers; the hash-match oracle shares the merge-derivation
    * CTEs with bpe_merges' oracle. SELF-REFERENTIAL by design: the apply
    * joins against the same corpus's word-type table the merges were
    * learned from, so no word can be OOV. To tokenize a DIFFERENT corpus
    * against a stored tokenizer use [[bpeApply]], whose char-init covers
    * unseen words — reusing this operator's inner join there would
    * silently drop them.
    *
    * Scale shape: the merge loop is [[bpeMerges]]' (vocab-sized rounds);
    * the apply is ONE equi-join of the corpus's (doc, word) pairs against
    * the |vocab|-row symbol-count table (AQE broadcasts it when small)
    * and one partial-aggregated per-doc rollup — the corpus text is
    * never rescanned per merge. */
  def bpeEncode(
      df: DataFrame, idCol: String, textCol: String, nMerges: Int,
      checkpointEvery: Int = 4, mergesPerRound: Int = 16): DataFrame = {
    val (_, seqs) = bpeLoop(df, textCol, nMerges, checkpointEvery,
      mergesPerRound)
    val tok = seqs.select(col("word"),
      size(split(col("seq").substr(lit(2), length(col("seq")) - 2), SymE + SymS))
        .cast("long").as("__nsym"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(SymS) && !col("word").contains(SymE))
      .join(tok, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__nsym")).as("n_tokens"))
  }

  /** The learned VOCABULARY under `nMerges` BPE merges: every distinct
    * post-merge symbol with its corpus occurrence count (word-type
    * occurrences weighted by word frequency) — the token inventory a
    * budget planner reads next to [[bpeEncode]]'s per-doc counts, and
    * the vocab-size-vs-merges curve when swept. Exact integers; oracle
    * shares the merge-derivation CTEs. Scale shape: [[bpeMerges]]' loop,
    * then one exploded-symbol partial-aggregated groupBy over the vocab
    * frame (symbols ≤ chars + nMerges — bounded). */
  def bpeVocab(
      df: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 4, mergesPerRound: Int = 16): DataFrame = {
    val (_, seqs) = bpeLoop(df, textCol, nMerges, checkpointEvery,
      mergesPerRound)
    seqs.select(col("freq"),
        explode(split(col("seq").substr(lit(2), length(col("seq")) - 2),
          SymE + SymS)).as("symbol"))
      .groupBy("symbol").agg(sum(col("freq")).as("n_occurrences"))
  }

  /** Stored-tokenizer apply — tokenize NEW text against a SAVED merge
    * table without re-running induction: the learn-once/apply-many
    * contract the other families already have (`dedup_minhash_incr`,
    * `dedup_substring_incr`, `semanticPairsAgainst`). `merges` is
    * [[bpeMerges]]' output (or a persisted copy): (rank, left_sym,
    * right_sym); ranks order the greedy replace chain exactly as
    * induction recorded it. Emits per batch document the whitespace
    * word count and the post-merge BPE token count — [[bpeEncode]]'s
    * shape, but against a FROZEN tokenizer.
    *
    * OOV contract: the batch's OWN word types are char-initialized and
    * the stored merges applied in rank order, so a word the training
    * corpus never saw keeps whatever symbols the merges fail to fuse —
    * per-character in the worst case — and is COUNTED, never dropped.
    * (The self-referential [[bpeEncode]] cannot see OOV by construction;
    * this is the operator to score a fresh corpus against a stored
    * tokenizer.)
    *
    * Scale shape: the merge table is a bounded MODEL ARTIFACT (32–64k
    * rows for production vocabularies), collected once driver-side —
    * never data-sized. The batch collapses to its word-TYPE table
    * (Zipf-bounded) and each word is tokenized by ONE fused per-row
    * kernel ([[graft.plans.BpeTokenCount]]): the merge table rides as a
    * plan reference object and per word only the merges whose pairs
    * actually occur are touched, so apply cost is FLAT in |merges| —
    * where the r16 replace-expression chain was ~2,000 checkpointed
    * projection stages at a production 64k vocabulary, this is one
    * projection at any vocabulary size (the chain survives as
    * [[bpeApplyChain]], the spec-pinned reference twin). The payoff is
    * ONE equi-join of the batch's (doc, word) pairs against the
    * |batch vocab|-row symbol-count table (AQE broadcasts it when
    * small) and one partial-aggregated per-doc rollup — zero passes
    * over the training corpus. */
  def bpeApply(
      batch: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val S = SymS
    val E = SymE
    val ms = collectMerges(merges)
    val words = batch.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(S) && !col("word").contains(E))
      .distinct()
    val tok = words.select(col("word"),
      graft.plans.BpeTokenCount.count(col("word"), ms).as("__nsym"))
    batch.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(S) && !col("word").contains(E))
      .join(tok, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__nsym")).as("n_tokens"))
  }

  /** The stored merge table collected rank-ascending — the bounded model
    * artifact both apply paths and the streaming twin share. */
  private[graft] def collectMerges(merges: DataFrame): Seq[(String, String)] =
    merges
      .select(col("rank").cast("long").as("rank"),
        col("left_sym"), col("right_sym"))
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** [[bpeApply]] through the per-merge `replace` expression chain — the
    * r16 implementation, retained as the independently derived reference
    * twin the parity spec pins [[graft.plans.BpeTokenCount]] against
    * (including OOV and merge-output collisions). One projection per
    * merge, localCheckpoint every `checkpointEvery` to bound expression
    * depth: correct, but O(|merges|) stages — do not use for production
    * vocabularies. */
  private[graft] def bpeApplyChain(
      batch: DataFrame, idCol: String, textCol: String, merges: DataFrame,
      checkpointEvery: Int = 32): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val S = SymS
    val E = SymE
    val ms = collectMerges(merges)
    val words = batch.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(S) && !col("word").contains(E))
      .distinct()
    var seqs = words.select(col("word"),
      concat_ws("", transform(sequence(lit(1), length(col("word"))),
        i => concat(lit(S), col("word").substr(i, lit(1)), lit(E)))).as("seq"))
    val groups = ms.grouped(checkpointEvery).toSeq
    groups.zipWithIndex.foreach { case (g, gi) =>
      val next = seqs.select(col("word"),
        g.foldLeft(col("seq")) { case (e, (l, r)) =>
          replace(e, lit(S + l + E + S + r + E), lit(S + l + r + E))
        }.as("seq"))
      seqs = if (gi < groups.length - 1) next.localCheckpoint() else next
    }
    val tok = seqs.select(col("word"),
      size(split(col("seq").substr(lit(2), length(col("seq")) - 2), E + S))
        .cast("long").as("__nsym"))
    batch.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(S) && !col("word").contains(E))
      .join(tok, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__nsym")).as("n_tokens"))
  }

  private[graft] val SymS = "\u0001"
  private[graft] val SymE = "\u0002"

  /** The shared BPE induction loop: word-frequency table → sentinel-framed
    * symbol strings → rounds of (pair count, ranked top, greedy replace)
    * until `nMerges` merges are recorded. Returns the merge sequence and
    * the post-merge vocab frame (word, freq, seq) — [[bpeMerges]] reports
    * the former, [[bpeEncode]] consumes the latter.
    *
    * Each round takes up to `mergesPerRound` merges while staying
    * EXACTLY the sequential merge sequence. The accepted batch is the
    * longest ranked prefix p1..pt such that
    *   (a) the pairs are pairwise non-interacting — no symbol of one
    *       (left, right, OR the merged concatenation, which can collide
    *       with an existing symbol) appears in another — so applying
    *       them in any order yields the same seqs and none changes
    *       another's pair count; and
    *   (b) every pi (i ≥ 2) has count STRICTLY above the cutoff — the
    *       count of the first interacting pair (or of the first pair
    *       past the fetch window). Merging p1..p(i-1) only perturbs
    *       pairs that interact with them, and every pair a merge
    *       creates has count ≤ some interacting pair's old count ≤
    *       cutoff < count(pi), so the sequential argmax at step i is
    *       still pi: survivors at the same count rank after pi by the
    *       (l, r) tie-break (they sorted below it), perturbed pairs sit
    *       strictly below, and pi's own count is unperturbed (it
    *       interacts with no earlier batch member). Trimmed pairs are
    *       simply re-derived next round; and
    *   (c) the batch ends AT the first accepted pair whose merged
    *       concatenation is an ALREADY-EXISTING symbol (a prior round's
    *       merge — single chars cannot collide with a ≥2-char concat).
    *       Without this cut, (b)'s bound fails: merging (a, bc) when
    *       symbol "abc" already exists BOOSTS pre-existing pairs like
    *       ("abc", X) by up to count(bc, X) ≤ cutoff on top of their old
    *       ≤-cutoff count, potentially above a later batch member —
    *       sequential BPE would merge the boosted pair next. A fresh
    *       concat starts every pair it enables at zero old count, so the
    *       ≤-cutoff bound holds; the colliding pair itself is still the
    *       argmax at its own turn (its count is unperturbed), so it is
    *       taken and the round closes.
    * Worst case the batch is a single pair (the unconditional p1) —
    * plain sequential BPE. `mergesPerRound = 1` IS sequential BPE; the
    * equivalence is spec-pinned on interacting corpora. */
  /** Driver round-trips the induction loop needed for `nMerges` merges —
    * the batching payoff, observable: sequential BPE is one round per
    * merge; the batched loop's rounds drop toward nMerges/mergesPerRound
    * on Zipf-shaped vocabularies. Test/diagnostic surface. */
  private[graft] def bpeRounds(
      df: DataFrame, textCol: String, nMerges: Int,
      checkpointEvery: Int = 4, mergesPerRound: Int = 16): Int = {
    var rounds = 0
    bpeLoop(df, textCol, nMerges, checkpointEvery, mergesPerRound,
      onRound = () => rounds += 1)
    rounds
  }

  private def bpeLoop(
      df: DataFrame, textCol: String, nMerges: Int, checkpointEvery: Int,
      mergesPerRound: Int = 16, onRound: () => Unit = () => ()):
      (Seq[(Int, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(mergesPerRound >= 1,
      s"mergesPerRound must be >= 1, got $mergesPerRound")
    val S = SymS
    val E = SymE
    val words = df.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "" &&
        !col("word").contains(S) && !col("word").contains(E))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // the checkpoint `seqs` currently reads; each re-checkpoint supersedes
    // (and frees) it, as resolveMinLabel frees each pass's predecessor, so
    // a run pins one vocab snapshot however many rounds it takes
    var pinned = graft.engine.Materialized.checkpoint(words.select(col("word"), col("freq"),
      concat_ws("", transform(sequence(lit(1), length(col("word"))),
        i => concat(lit(S), col("word").substr(i, lit(1)), lit(E)))).as("seq")))
    var seqs = pinned.df
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    // every multi-char symbol in the evolving vocabulary is the concat of
    // a recorded merge (initial symbols are single chars) — this set is
    // what guard (c) consults, and it is exact, not conservative
    val priorConcats = scala.collection.mutable.HashSet.empty[String]
    var taken = 0
    var round = 0
    var exhausted = false
    while (taken < nMerges && !exhausted) {
      val syms = split(col("seq").substr(lit(2), length(col("seq")) - 2),
        E + S)
      // guard BEFORE sequence(1, size-1): Spark's sequence DESCENDS when
      // start > stop, so an unguarded single-symbol word would fabricate
      // a [1, 0] index pair instead of no pairs
      val pairCounts = seqs.select(col("freq"), syms.as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val want = math.min(nMerges - taken, mergesPerRound)
      // fetch one PAST the budget so the cutoff count is known even when
      // the whole window is conflict-free
      val rows = pairCounts.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want + 1).collect()
      onRound()
      if (rows.isEmpty) exhausted = true
      else {
        val listExhausted = rows.length < want + 1
        val maxTake = if (listExhausted) rows.length else rows.length - 1
        val used = scala.collection.mutable.HashSet.empty[String]
        val prefix =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cutoff = 0L
        var haveCutoff = false
        var i = 0
        var stop = false
        while (i < rows.length && !stop) {
          val l = rows(i).getString(0)
          val r = rows(i).getString(1)
          val c = rows(i).getLong(2)
          if (i >= maxTake || used.contains(l) || used.contains(r) ||
              used.contains(l + r)) {
            stop = true; cutoff = c; haveCutoff = true
          } else {
            prefix += ((l, r, c)); used += l; used += r; used += (l + r)
            i += 1
            // guard (c): a concat colliding with an existing symbol can
            // boost pre-existing pairs — take this pair, close the round
            if (priorConcats.contains(l + r)) {
              stop = true
              if (i < rows.length) {
                cutoff = rows(i).getLong(2); haveCutoff = true
              }
            }
          }
        }
        val batch =
          if (!haveCutoff) prefix.toSeq
          else prefix.toSeq.zipWithIndex
            .takeWhile { case ((_, _, c), j) => j == 0 || c > cutoff }
            .map(_._1)
        batch.foreach { case (l, r, c) =>
          taken += 1; merges += ((taken, l, r, c)); priorConcats += (l + r)
        }
        val next = seqs.select(col("word"), col("freq"),
          batch.foldLeft(col("seq")) { case (e, (l, r, _)) =>
            replace(e, lit(S + l + E + S + r + E), lit(S + l + r + E))
          }.as("seq"))
        round += 1
        if (round % checkpointEvery == 0) {
          // the checkpoint is eager: `next` is materialized before the
          // snapshot it reads is released
          val cp = graft.engine.Materialized.checkpoint(next)
          pinned.close()
          pinned = cp
          seqs = cp.df
        } else seqs = next
      }
    }
    (merges.result(), seqs)
  }

  // ------------------------------------------------- unigram-LM vocabulary
  // (Kudo, ACL 2018 — the SentencePiece unigram model), hard-EM variant:
  // seed candidates from substring frequencies, iterate
  // Viterbi-segment → count usage → prune → re-estimate, with integer
  // micro-nat costs so every decision is exact cross-engine.

  /** The word-TYPE frequency table — the corpus collapse every tokenizer
    * stage here starts from (one shuffle, Zipf-bounded: types grow
    * sublinearly in corpus size). */
  private def unigramTypes(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** quantized cost: round(−ln(p)·10⁶) as Long — HALF_UP like the
    * oracle's round() */
  private def microNat(p: Double): Long =
    java.math.BigDecimal.valueOf(-math.log(p) * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Shared induction loop: returns (final piece costs, checkpointed
    * type table). Model state is DRIVER-side by design — every collect
    * here is bounded by `maxCandidates + |alphabet|` rows (a model
    * artifact, the kmeansCentroids discipline), never by the corpus.
    * The substring checkpoint is released once the candidates are
    * collected; the caller closes the type table once it is dead. */
  private def unigramTrain(
      df: DataFrame, textCol: String, vocabSize: Int, iters: Int,
      maxPieceLen: Int, maxCandidates: Int): (Map[String, Long], graft.engine.Materialized) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(maxCandidates >= 1, s"maxCandidates must be >= 1, got $maxCandidates")
    // reused iters+2 times — checkpoint once, never re-derive
    val pinned = graft.engine.Materialized.checkpoint(unigramTypes(df, textCol))
    val types = pinned.df
    // candidate seeding: every substring occurrence of length
    // 1..maxPieceLen, weighted by word frequency — bounded per word by
    // len·maxPieceLen, one partial-aggregated shuffle over the types
    val subs = graft.engine.Materialized.checkpoint(types
      .withColumn("i", explode(sequence(lit(1), length(col("word")))))
      .withColumn("l", explode(sequence(lit(1), lit(maxPieceLen))))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(expr("substring(word, i, l)").as("piece"), col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt")))
    // every single character is ALWAYS in the vocabulary (coverage: no
    // word may become unsegmentable); multi-char candidates are the
    // top maxCandidates by (count desc, piece asc) via TakeOrdered
    val (chars, multi) =
      try (
        subs.df.filter(length(col("piece")) === 1)
          .collect().map(r => r.getString(0) -> r.getLong(1)),
        subs.df.filter(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece"))
          .limit(maxCandidates)
          .collect().map(r => r.getString(0) -> r.getLong(1)))
      finally subs.close()
    val cand = (chars ++ multi).toMap
    val total = cand.values.sum.toDouble
    var cost: Map[String, Long] =
      cand.map { case (p, c) => p -> microNat(c / total) }
    var it = 0
    while (it < iters) {
      // E-step: Viterbi usage under the current costs (one kernel pass
      // over the types + one bounded piece shuffle)
      val usage = types
        .select(col("freq"),
          explode(graft.plans.UnigramSegment.segment(
            col("word"), cost.toSeq.sortBy(_._1), maxPieceLen)).as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("u"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // prune: chars unconditionally; used multi-char pieces ranked by
      // (usage desc, piece asc) up to the vocab budget
      // CODE-POINT length, not UTF-16 String.length: the seeding, the
      // kernel, and the oracle all count code points, so a
      // supplementary-plane character (emoji, CJK Ext-B) is a "single
      // character" here too — classifying it by its 2 UTF-16 units
      // would route it through the multi-char prune and could drop it,
      // breaking the coverage invariant. Ties rank in UTF-8 BYTE order
      // (UTF8String.compareTo), matching both engines' string sort —
      // Java String.compareTo is UTF-16 code-unit order, which flips
      // astral vs U+E000-range pieces.
      def cpLen(p: String): Int = p.codePointCount(0, p.length)
      def u8(p: String) = org.apache.spark.unsafe.types.UTF8String.fromString(p)
      val charsKept = cost.keys.filter(cpLen(_) == 1).toSeq
      val multiKept = cost.keys
        .filter(p => cpLen(p) > 1 && usage.getOrElse(p, 0L) > 0L)
        .toSeq
        .sortWith { (a, b) =>
          val ua = usage(a); val ub = usage(b)
          if (ua != ub) ua > ub else u8(a).compareTo(u8(b)) < 0
        }
        .take(math.max(0, vocabSize - charsKept.size))
      val kept = charsKept ++ multiKept
      // M-step with Laplace smoothing: zero-usage characters stay
      // finitely costed (coverage again)
      val totU = kept.map(p => usage.getOrElse(p, 0L)).sum.toDouble
      cost = kept.map(p =>
        p -> microNat((usage.getOrElse(p, 0L) + 1) / (totU + kept.size))).toMap
      it += 1
    }
    (cost, pinned)
  }

  /** Unigram-LM (SentencePiece-style) vocabulary induction — the
    * complement to [[bpeMerges]]' merge-based learner (Kudo, ACL 2018,
    * hard-EM/Viterbi variant): seed a candidate set from substring
    * frequencies (every single character, plus the `maxCandidates` most
    * frequent multi-character substrings up to `maxPieceLen` — the
    * bounded candidate set), then `iters` rounds of
    * Viterbi-segment every word type → count piece usage → prune to
    * `vocabSize` (characters always survive; multi-char pieces ranked
    * by usage desc, piece asc; zero-usage pieces drop) → re-estimate
    * piece costs from usage with Laplace smoothing. Costs are INTEGER
    * micro-nats throughout ([[graft.plans.UnigramSegment]]), so every
    * segmentation decision, prune rank, and therefore the final
    * vocabulary is reproducible bit-for-bit cross-engine — the BPE
    * exact-integer-argmax discipline carried to the lattice model.
    *
    * Returns the final vocabulary with its usage under the final costs:
    * (piece, n_occurrences) — zero for characters the final
    * segmentation never chooses (kept for coverage). The generated
    * DuckDB oracle replays the ENTIRE induction — candidate seeding,
    * every EM round's unrolled Viterbi DP (positions 1..16, smallest-
    * predecessor tie-break as an ordered CASE), prune, re-estimate —
    * the bpe_merges precedent for learned-artifact keys.
    *
    * Scale shape: the corpus collapses ONCE to the Zipf-bounded word-
    * type table; each round is one map-side kernel pass over the types
    * plus one partial-aggregated piece shuffle (≤ |types|·avg pieces
    * rows); model state (≤ maxCandidates + |alphabet| rows) lives
    * driver-side like any centroid table. The corpus text is scanned
    * exactly once. */
  def unigramVocab(
      df: DataFrame, textCol: String, vocabSize: Int, iters: Int = 2,
      maxPieceLen: Int = 4, maxCandidates: Int = 200): DataFrame = {
    val (cost, types) = unigramTrain(df, textCol, vocabSize, iters,
      maxPieceLen, maxCandidates)
    val usage = types.df
      .select(col("freq"),
        explode(graft.plans.UnigramSegment.segment(
          col("word"), cost.toSeq.sortBy(_._1), maxPieceLen)).as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("__u"))
    val spine = df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(
          cost.keys.toSeq.sorted.map(org.apache.spark.sql.Row(_)): _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("piece",
          org.apache.spark.sql.types.StringType))))
    spine.join(usage, Seq("piece"), "left")
      .select(col("piece"),
        coalesce(col("__u"), lit(0L)).as("n_occurrences"))
  }

  /** Tokenize the corpus against its own induced unigram vocabulary —
    * [[bpeEncode]]'s shape for the lattice model: per document the
    * whitespace word count and the Viterbi piece count under the
    * final [[unigramVocab]] costs. Self-referential by design (the
    * vocabulary covers every character of every word type, so no word
    * is OOV); documents with no countable word emit no row.
    *
    * Scale shape: the induction loop above, then ONE equi-join of the
    * corpus's (doc, word) pairs against the |types|-row piece-count
    * table (AQE broadcasts it when small) and one partial-aggregated
    * per-doc rollup — the corpus text is never rescanned per round. */
  def unigramEncode(
      df: DataFrame, idCol: String, textCol: String, vocabSize: Int,
      iters: Int = 2, maxPieceLen: Int = 4,
      maxCandidates: Int = 200): DataFrame = {
    val (cost, types) = unigramTrain(df, textCol, vocabSize, iters,
      maxPieceLen, maxCandidates)
    val tok = types.df.select(col("word"),
      size(graft.plans.UnigramSegment.segment(
        col("word"), cost.toSeq.sortBy(_._1), maxPieceLen))
        .cast("long").as("__nsym"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(tok, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__nsym")).as("n_tokens"))
  }

  /** The induced unigram model AS A TABLE — (piece, cost BIGINT
    * micro-nats), the persistable artifact behind
    * [[writeUnigramModel]]/[[unigramApply]]. Same induction as
    * [[unigramVocab]]; this returns the COSTS (what serving needs)
    * where that returns the usage inventory (what a budget planner
    * reads). */
  def unigramModel(
      df: DataFrame, textCol: String, vocabSize: Int, iters: Int = 2,
      maxPieceLen: Int = 4, maxCandidates: Int = 200): DataFrame = {
    val (cost, types) = unigramTrain(df, textCol, vocabSize, iters,
      maxPieceLen, maxCandidates)
    types.close()
    df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(cost.toSeq.sorted.map { case (p, c) =>
          org.apache.spark.sql.Row(p, c) }: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("piece",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cost",
          org.apache.spark.sql.types.LongType))))
  }

  /** Publish a trained unigram tokenizer — the [[writeBpeModel]]
    * contract for the lattice model: one `vocab.parquet` table
    * (piece, cost), one atomic root swap. Train once, then
    * [[unigramApply]] batches and the streaming twin score arrivals
    * against [[readUnigramModel]]'s table across restarts; the corpus
    * is never re-read. */
  def writeUnigramModel(
      df: DataFrame, textCol: String, path: String, vocabSize: Int,
      iters: Int = 2, maxPieceLen: Int = 4,
      maxCandidates: Int = 200): Unit = {
    val vocab = unigramModel(df, textCol, vocabSize, iters, maxPieceLen,
      maxCandidates)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.publishRoot(fs, path) { tmp =>
      vocab.write.mode("overwrite").parquet(s"$tmp/vocab.parquet")
    }
  }

  /** Load a stored [[writeUnigramModel]] vocabulary (recovering any
    * half-finished swap first). */
  def readUnigramModel(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    graft.engine.Sinks.recoverSwap(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    spark.read.parquet(s"$path/vocab.parquet")
  }

  /** Schema-check + collect a (piece, cost) vocab table — a bounded
    * MODEL artifact (the collectMerges discipline), shared by
    * [[unigramApply]] and the streaming twin so validation cannot
    * fork. */
  private[graft] def collectUnigramModel(
      vocab: DataFrame): Seq[(String, Long)] = {
    require(Seq("piece", "cost").forall(vocab.columns.contains),
      s"vocab must carry (piece, cost) — the unigramModel schema; " +
        s"got (${vocab.columns.mkString(", ")})")
    vocab.select(col("piece"), col("cost").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
  }

  /** The SentencePiece <unk> score used when a stored vocabulary meets
    * a character its training corpus never saw: 20 nats ≈ probability
    * 2·10⁻⁹ — costly enough that known pieces always win, finite so the
    * word still COUNTS (an OOV word must never vanish from a token
    * budget). */
  val UnigramUnkCost: Long = 20000000L

  /** Stored-tokenizer apply — tokenize NEW text against a SAVED unigram
    * vocabulary without re-running induction ([[bpeApply]]'s contract
    * for the lattice model): per batch document the whitespace word
    * count and the Viterbi piece count under the stored costs. OOV
    * contract: the batch's own word types are segmented with the
    * [[UnigramUnkCost]] single-character fallback, so a word containing
    * characters the training corpus never saw still counts (one piece
    * per unknown character in the worst case), never drops — and never
    * NULLs, so the sum survives.
    *
    * Scale shape: the vocab is a bounded model artifact collected once
    * driver-side; the batch collapses to its word-TYPE table
    * (Zipf-bounded), each type is segmented by ONE fused kernel pass,
    * and the payoff is one equi-join of the batch's (doc, word) pairs
    * against the type table plus one partial-aggregated per-doc
    * rollup — zero passes over the training corpus. */
  def unigramApply(
      batch: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val pieces = collectUnigramModel(vocab)
    val types = batch.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
    val tok = types.select("word").distinct()
      .select(col("word"),
        size(graft.plans.UnigramSegment.segment(col("word"), pieces,
          maxPieceLen, unkCost = Some(UnigramUnkCost)))
          .cast("long").as("__nsym"))
    types.join(tok, Seq("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(col("__nsym")).as("n_tokens"))
  }
}
