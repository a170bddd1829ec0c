package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming twins of the document-dedup operators: continuous-ingest
  * near-dup detection against a stored corpus index — the steady-state
  * shape of dedup at 100 TB, where the corpus is hashed ONCE (bands
  * written bucketed on the band key, [[graft.engine.Sinks.writeBucketed]])
  * and every arriving micro-batch of new documents joins against it
  * instead of re-hashing petabytes per day. Batch/streaming parity with
  * [[Dedup.minhashCandidatesAgainst]] is pinned in StreamingSpec.
  */
object DocStreams {

  /** Near-dup candidate stream: each micro-batch's documents are minhash-
    * banded MAP-SIDE (the signature UDF runs on the stream side only; the
    * corpus text is never touched) and equi-joined against the stored
    * band index — a stateless stream-static inner join, so no watermark
    * and no state store are involved.
    *
    * Emits (new_id, corpus_id, band_idx) matches in append mode. A pair
    * agreeing on several bands emits once PER BAND, and a document
    * re-ingested in a later batch re-emits its matches: band-level
    * multiplicity is deliberate (a streaming global `distinct` would
    * accumulate unbounded state). Exactly-once PAIR semantics belong to
    * the downstream merge — e.g. a foreachBatch that `distinct`s the
    * batch and upserts into a pair table ([[EventStreams.upsertSink]]
    * pattern), which is also where batch parity is asserted in spec.
    *
    * Scale notes: the static side should be persisted (or read from a
    * bucketed table) — Spark re-plans the static scan each micro-batch,
    * and a bucketed layout on (band_idx, band_val) makes the per-batch
    * join exchange-free on the corpus side; the stream side of each batch
    * is small by construction. */
  def nearDupCandidates(
      stream: DataFrame,
      corpusBands: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 4,
      bands: Int = 2,
      shingleN: Int = 3,
      family: Dedup.HashFamily = Dedup.Fnv64Family): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!corpusBands.isStreaming, "corpusBands must be a static band index")
    // the index contract is minhashBands' schema; select BY NAME before the
    // positional rename — an index read back with reordered columns (a
    // select in another order, a bucketed layout) would otherwise silently
    // join ids against band values
    require(Seq("doc_id", "band_idx", "band_val").forall(corpusBands.columns.contains),
      s"corpusBands must carry (doc_id, band_idx, band_val) — the minhashBands " +
        s"index schema; got (${corpusBands.columns.mkString(", ")})")
    val sb = Dedup.minhashBands(stream, idCol, textCol, numHashes, bands, shingleN, family)
      .toDF("new_id", "band_idx", "band_val")
    val cb = corpusBands.select("doc_id", "band_idx", "band_val")
      .toDF("corpus_id", "band_idx", "band_val")
    sb.join(cb, Seq("band_idx", "band_val"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id", "band_idx")
  }

  /** Boilerplate strip for continuous ingest: arriving documents drop the
    * corpus's known boilerplate segments (a stored
    * [[Dedup.frequentSegments]] index) before landing — the streaming twin
    * of [[Dedup.dedupLines]], sharing [[Dedup.stripSegmentsMapSide]]'s
    * map-side lambda so the two CANNOT diverge. Stateless (one broadcast
    * array, no explode, no aggregation), so it runs in append mode with no
    * watermark; batch parity is pinned in StreamingSpec. The index is what
    * makes this scale: new batches never re-scan the corpus, and the
    * frequency snapshot is refreshed on the batch side's cadence. */
  def stripBoilerplate(
      stream: DataFrame, frequent: DataFrame, textCol: String,
      sep: String = "\n"): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!frequent.isStreaming, "frequent must be a static segment index")
    require(frequent.columns.contains("__h"),
      s"frequent must carry __h (the frequentSegments index schema); " +
        s"got (${frequent.columns.mkString(", ")})")
    Dedup.stripSegmentsMapSide(stream, textCol, frequent, sep)
  }

  /** Exact-dup filter for continuous ingest: drop arriving documents whose
    * content hash already exists in the stored corpus index (the
    * [[Dedup.exactGroups]] output — (content_hash, keep_id, n_dups)). The
    * md5 runs map-side on the stream; the anti-join against the index is
    * stateless (no watermark, no state store), completing the streaming
    * dedup triangle with [[nearDupCandidates]] (near) and
    * [[stripBoilerplate]] (sub-document). WITHIN-batch duplicates are
    * deliberately passed through — collapsing them needs either state or
    * a per-batch distinct, which belongs to the downstream foreachBatch
    * merge ([[graft.streaming.EventStreams.upsertSink]] pattern), not a
    * stateless filter. Refresh the index on the batch side's cadence. */
  def dropKnownExact(
      stream: DataFrame, index: DataFrame, textCol: String): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!index.isStreaming, "index must be a static exactGroups table")
    require(index.columns.contains("content_hash"),
      s"index must carry content_hash (the exactGroups schema); " +
        s"got (${index.columns.mkString(", ")})")
    stream.withColumn("__h", md5(col(textCol)))
      .join(index.select(col("content_hash").as("__h")), Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Copied-span candidates for continuous ingest: arriving documents are
    * winnow-fingerprinted MAP-SIDE (the native codegen'd
    * [[graft.plans.WinnowMinima]] expression — per-row, no window, no
    * UDF; that map-side shape is exactly what makes this legal in append
    * mode) and equi-joined against
    * the stored corpus fingerprint table ([[Dedup.winnowFingerprints]]
    * output, (id, h)) — the streaming twin of
    * [[Dedup.substringDupPairs]]'s candidate stage, completing the
    * streaming dedup family's fourth corner (exact / near / sub-document
    * boilerplate / copied spans).
    *
    * Emits one (new_id, corpus_id, h) row per shared fingerprint; the
    * `minShared` threshold and the boilerplate df cap belong to the
    * downstream foreachBatch merge — counting either in-stream needs
    * state (the [[nearDupCandidates]] multiplicity rationale). Stateless
    * stream-static join: no watermark, no state store; refresh the index
    * on the batch side's cadence. */
  def substringDupCandidates(
      stream: DataFrame, corpusFps: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!corpusFps.isStreaming, "corpusFps must be a static fingerprint table")
    require(Seq("id", "h").forall(corpusFps.columns.contains),
      s"corpusFps must carry (id, h) — the winnowFingerprints schema; " +
        s"got (${corpusFps.columns.mkString(", ")})")
    stream.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
      .select(col(idCol).as("new_id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, w)).as("h"))
      .join(corpusFps.select(col("id").as("corpus_id"), col("h")), Seq("h"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id", "h")
  }

  /** Fuzzy media near-dup candidates for continuous ingest — the
    * streaming twin of [[graft.operators.MultiModal.mediaNearDupAgainst]]:
    * arriving media payloads are CTPH-signed MAP-SIDE (one linear byte
    * walk per payload — per-row, stateless, append-legal) and their
    * distinct signature grams equi-joined against the stored df-capped
    * signature-gram index ([[graft.operators.MultiModal
    * .mediaSignatureIndex]], built once on the batch side). Emits one
    * (new_id, corpus_id, h) row per shared signature gram — the
    * `minShared` threshold belongs to the downstream foreachBatch merge
    * (the [[substringDupCandidates]] rationale: counting in-stream needs
    * state). Payloads whose signature is shorter than `gramLen` emit
    * nothing (too little structure to match fuzzily; exact-dup ingest
    * [[dropKnownExact]] still covers their exact copies). Sign
    * parameters must match the index's or candidates are silently
    * empty. Stateless stream-static join: no watermark, no state store;
    * refresh the index on the batch side's cadence. */
  def mediaNearDupCandidates(
      stream: DataFrame, sigIndex: DataFrame,
      idCol: String, binCol: String,
      blockSize: Int = 8, gramLen: Int = 7): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!sigIndex.isStreaming, "sigIndex must be a static index table")
    require(Seq("id", "h").forall(sigIndex.columns.contains),
      s"sigIndex must carry (id, h) — the mediaSignatureIndex schema; " +
        s"got (${sigIndex.columns.mkString(", ")})")
    // composed on [[substringDupCandidates]] with the CTPH signature as
    // the text and w = 1 (the distinct-gram selection) — the batch twin
    // ([[graft.operators.MultiModal.mediaNearDupAgainst]]) composes on
    // substringDupPairsAgainst the same way, so the join contract cannot
    // drift between the two
    substringDupCandidates(
      stream.select(col(idCol),
        graft.operators.MultiModal.ctphSignature(col(binCol), blockSize)
          .as("__sig")),
      sigIndex, idCol, "__sig", k = gramLen, w = 1)
  }

  /** Copied-span STRIP for continuous ingest — the payoff stage over
    * [[substringDupCandidates]]'s detection: each micro-batch of arriving
    * documents is stripped against the stored corpus
    * ([[graft.operators.Dedup.stripAgainstCorpus]]: candidate partners
    * via the fingerprint index, covered characters via the partners'
    * stored gram sets, the per-row codegen'd strip expression) and the
    * stripped batch lands under `tablePath/batch_id=<id>/`.
    *
    * Why a foreachBatch sink and not a stateless transform like
    * [[stripBoilerplate]]: the per-document partner-hash ARRAY is an
    * aggregation (collect_set over the candidate join), which append-mode
    * streaming forbids without a watermark — inside foreachBatch the
    * micro-batch is a static frame and the aggregation is ordinary batch
    * work. Replay idempotence needs no ledger: the output is PARTITIONED
    * BY the batch id and each partition is written with overwrite, so an
    * at-least-once redelivery rewrites its own directory with identical
    * content (the strip is deterministic given the static indexes) and
    * nothing else. Readers scan `tablePath` whole; partition discovery
    * surfaces `batch_id` as a column. Refresh the two indexes on the
    * batch side's cadence ([[dropKnownExact]] contract). The df cap
    * ([[Dedup.capFingerprintIndex]]) is applied ONCE at construction and
    * the capped index persisted — micro-batches never pay a
    * corpus-proportional re-cap aggregate; the cache is released when
    * the query terminates. Returns the query; callers own lifecycle. */
  def stripArrivalsSink(
      stream: DataFrame, corpusFps: DataFrame, corpusGrams: DataFrame,
      idCol: String, textCol: String,
      tablePath: String, checkpointDir: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): org.apache.spark.sql.streaming.StreamingQuery = {
    require(!corpusFps.isStreaming && !corpusGrams.isStreaming,
      "corpusFps/corpusGrams must be static index tables")
    cappedIndexBatchSink(stream, corpusFps, maxFingerprintDf, checkpointDir) {
      (batch, capped, id) =>
        // the strip checkpoints its partner-pair frame per micro-batch;
        // close it after the write or the checkpoints accumulate for the
        // query's lifetime
        scala.util.Using.resource(Dedup.stripAgainstCappedIndex(batch,
            capped, corpusGrams, idCol, textCol, k, w, minShared)) {
          _.df.write.mode("overwrite").parquet(s"$tablePath/batch_id=$id")
        }
    }
  }

  /** Benchmark DECONTAMINATION for continuous ingest — the streaming twin
    * of [[graft.operators.Curation.decontaminate]]: each micro-batch of
    * arriving documents is stripped of every character span-shared with
    * the stored BENCHMARK index
    * ([[graft.operators.Curation.decontaminateIndexed]] — the literal
    * batch code path, strip and kept-gate included, so arrival-path and
    * batch decontamination cannot fork), and the gated batch lands under
    * `tablePath/batch_id=<id>/` with `n_removed` and `kept` columns —
    * downstream consumers route on `kept` exactly like the batch stage.
    *
    * Same mechanics as [[stripArrivalsSink]] (foreachBatch because the
    * partner-hash aggregation is forbidden in append mode; replay
    * idempotence via per-batch overwrite partitions; benchmark index
    * df-capped ONCE at construction and persisted for the query's
    * lifetime). The cross-dataset contract travels with the index:
    * `benchFps`/`benchGrams` come from the EVAL set, the cap guards
    * benchmark boilerplate, and no same-id exclusion applies
    * ([[graft.operators.Dedup.stripBenchmarkSpans]] rationale). */
  def decontamArrivalsSink(
      stream: DataFrame, benchFps: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String,
      tablePath: String, checkpointDir: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20,
      minCharsAfter: Int = 200): org.apache.spark.sql.streaming.StreamingQuery = {
    require(!benchFps.isStreaming && !benchGrams.isStreaming,
      "benchFps/benchGrams must be static index tables")
    require(minCharsAfter >= 0,
      s"minCharsAfter must be >= 0, got $minCharsAfter")
    cappedIndexBatchSink(stream, benchFps, maxFingerprintDf, checkpointDir) {
      (batch, capped, id) =>
        // close the strip's per-batch partner-pair checkpoint after the
        // write (the stripArrivalsSink rationale)
        scala.util.Using.resource(graft.operators.Curation
            .decontaminateIndexed(batch, capped, benchGrams, idCol,
              textCol, k, w, minShared, minCharsAfter)) {
          _.df.write.mode("overwrite").parquet(s"$tablePath/batch_id=$id")
        }
    }
  }

  /** Shared scaffolding for the capped-fingerprint-index foreachBatch
    * sinks: applies the df cap ONCE at construction (a corpus-
    * proportional aggregate — never per micro-batch), persists the
    * capped index for the query's lifetime, and releases it EXACTLY once
    * when the query terminates or when start() itself fails. The
    * listener must be live BEFORE start(): the listener bus is async, so
    * a query failing within milliseconds of start() could post its
    * termination event before a post-start registration — leaking the
    * cached index forever. The query id is only known after start(), so
    * the listener records every termination and a shared release checks
    * the set once the id is known (and on the start() failure path).
    * Empty micro-batches skip `perBatch` entirely. */
  private def cappedIndexBatchSink(
      stream: DataFrame, rawFps: DataFrame, maxFingerprintDf: Int,
      checkpointDir: String)(
      perBatch: (DataFrame, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    val capped = Dedup.capFingerprintIndex(rawFps, maxFingerprintDf).persist()
    val spark = stream.sparkSession
    val terminated =
      java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    @volatile var queryId: java.util.UUID = null
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val listener: org.apache.spark.sql.streaming.StreamingQueryListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
          terminated.add(e.id)
          maybeRelease()
        }
      }
    def maybeRelease(): Unit =
      if (queryId != null && terminated.contains(queryId) &&
        released.compareAndSet(false, true)) {
        capped.unpersist()
        spark.streams.removeListener(listener)
      }
    spark.streams.addListener(listener)
    val query =
      try stream.writeStream
        .option("checkpointLocation", checkpointDir)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            if (!batch.isEmpty) perBatch(batch.toDF(), capped, id)
            (): Unit
        }
        .start()
      catch {
        case t: Throwable =>
          if (released.compareAndSet(false, true)) {
            capped.unpersist()
            spark.streams.removeListener(listener)
          }
          throw t
      }
    queryId = query.id
    maybeRelease() // covers a termination that raced the id assignment
    query
  }

  /** BM25 relevance scoring for continuous ingest: arriving documents are
    * scored against CORPUS statistics trained on the batch side
    * ([[graft.operators.TextAnalysis.bm25Stats]] — one row of
    * N/avgdl/per-term df for a fixed query-term set) — the streaming twin
    * of [[graft.operators.TextAnalysis.bm25Rank]]'s scoring stage, sharing
    * `bm25ScoreExpr` verbatim so the two cannot diverge (batch parity
    * pinned in StreamingSpec). Global top-k ranking is inherently a batch
    * concept; the stream emits (row..., score) and the consumer thresholds
    * or accumulates.
    *
    * Stateless: the tf's compute map-side on the stream, the 1-row stats
    * table joins in as a broadcast on a constant key (no watermark, no
    * state store). New-corpus drift is handled by refreshing the stats on
    * the batch side's cadence — identical lifecycle to the band/cut
    * indexes above. NULL-text rows drop (they carry no scorable content
    * and batch BM25 excludes them too). */
  def scoreArrivals(
      stream: DataFrame, stats: DataFrame, textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!stats.isStreaming, "stats must be a static bm25Stats table")
    graft.operators.TextAnalysis.bm25Require(queryTerms, k1, b)
    val expected = Seq("__n", "__avgdl") ++ queryTerms.indices.map(i => s"__df$i") :+ "__terms"
    require(expected.forall(stats.columns.contains),
      s"stats must carry (${expected.mkString(", ")}) — the bm25Stats schema " +
        s"for ${queryTerms.size} terms; got (${stats.columns.mkString(", ")})")
    // arity alone cannot catch stats trained on DIFFERENT or REORDERED
    // terms (df0 would score as the wrong term's idf, silently): the
    // bm25Stats __terms tag is checked IN-PLAN, failing the first batch
    // loudly instead of emitting wrong scores forever. The check gates
    // __n (which every score reads), so column pruning cannot drop it.
    val wantTag = graft.operators.TextAnalysis.bm25TermsTag(queryTerms)
    val checkedStats = stats.select(expected.map(col): _*)
      .withColumn("__n",
        when(col("__terms") === wantTag, col("__n"))
          .otherwise(raise_error(concat(
            lit("bm25 stats were trained on terms ["), col("__terms"),
            lit(s"] but scoring was requested for [$wantTag]")))))
    // tf/dl columns come from the SAME bm25TfColumns the batch ranker
    // projects — shared like bm25ScoreExpr, so neither half of the score
    // arithmetic can drift between batch and stream
    val projected = stream.filter(col(textCol).isNotNull)
      .select(col("*") +:
        graft.operators.TextAnalysis.bm25TfColumns(textCol, queryTerms): _*)
    projected.withColumn("__one", lit(1))
      .join(broadcast(checkedStats.withColumn("__one", lit(1))), Seq("__one"))
      .withColumn("score",
        graft.operators.TextAnalysis.bm25ScoreExpr(queryTerms, k1, b))
      .drop("__one" +: "__dl" +: "__n" +: "__avgdl" +: "__terms" +:
        queryTerms.indices.flatMap(i => Seq(s"__tf$i", s"__df$i")): _*)
  }

  /** Quality gate for continuous ingest: arriving rows keep only those at
    * or above their OWN stratum's stored cut — the streaming application
    * of [[graft.operators.Profile.filterByGroupQuantile]], with the cuts
    * TRAINED on the batch corpus (pass `groupQuantiles(corpus, key, value,
    * Seq(q)).select(key, col("p..").as("cut"))` or any (key, cut) table)
    * and applied here as a stateless broadcast join + map-side filter.
    * Same semantics as the batch gate by construction: NULL values drop,
    * strata missing from the cuts table drop (no contract to meet ⇒ not
    * admitted — surface new strata by refreshing the cuts on the batch
    * side's cadence). */
  /** DSIR importance scoring for continuous ingest — the streaming twin
    * of [[graft.operators.Curation.dsirWeightsAgainst]]: arriving
    * documents score against a STORED [[graft.operators.Curation.dsirLm]]
    * table (trained on the batch corpus, refreshed on the batch side's
    * cadence — the [[qualityGate]] lifecycle). Appends `n_tok` and
    * `dsir_logratio` to every arriving row with scorable text; NULL-text
    * and zero-token rows drop, exactly as the batch operator emits no
    * row for them.
    *
    * STATELESS by construction, which is the point: the per-doc mean
    * would be a streaming aggregation (state keyed by doc id, unbounded),
    * so instead the bounded LM (≤ 16^hexChars rows — a model artifact,
    * never data-sized) collapses driver-side into a feature → log-ratio
    * map literal and the whole score is one map-side higher-order
    * fold over the row's own tokens: no state store, no watermark, no
    * shuffle. Per-feature ratios are precomputed with the same IEEE
    * double ops the batch side runs in-plan (java.lang.Math.log both
    * ways), and both sides sum a doc's ratios in token order (the batch
    * rollup partial-aggregates a doc's map-side-contiguous tokens), so
    * two-batch parity is exact — StreamingSpec pins it. OOV features
    * coalesce to the Laplace-smoothed zero-count ratio, never dropped. */
  def dsirScoreArrivals(
      stream: DataFrame, lm: DataFrame, textCol: String,
      hexChars: Int = 3): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!lm.isStreaming, "lm must be a static dsirLm table")
    require(hexChars >= 1 && hexChars <= 5,
      s"hexChars must be in [1, 5] for the broadcast-map twin " +
        s"(16^hexChars map entries), got $hexChars")
    require(Seq("feature", "n_raw", "n_target").forall(lm.columns.contains),
      s"lm must carry (feature, n_raw, n_target) — the dsirLm schema; " +
        s"got (${lm.columns.mkString(", ")})")
    val buckets = math.pow(16, hexChars).toLong
    val rows = lm.select("feature", "n_raw", "n_target").collect()
    require(rows.nonEmpty,
      "lm table is empty — nothing to score against (the batch twin " +
        "returns NULL ratios here; refusing to silently diverge)")
    val nq = rows.map(_.getLong(1)).sum
    val nt = rows.map(_.getLong(2)).sum
    def ratio(cq: Long, ct: Long): Double =
      math.log((ct + 1).toDouble / (nt + buckets)) -
        math.log((cq + 1).toDouble / (nq + buckets))
    val entries = rows.flatMap(r =>
      Seq(lit(r.getString(0)), lit(ratio(r.getLong(1), r.getLong(2)))))
    val lmMap = map(entries.toIndexedSeq: _*)
    val oov = lit(ratio(0L, 0L))
    val toks = filter(split(col(textCol), " "), w => w =!= "")
    stream.filter(col(textCol).isNotNull)
      .withColumn("n_tok", size(toks).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("dsir_logratio",
        round(aggregate(
            transform(toks, w =>
              coalesce(element_at(lmMap, substring(md5(w), 1, hexChars)),
                oov)),
            lit(0.0), (acc, x) => acc + x) / col("n_tok").cast("double"),
          4) + lit(0.0))
  }

  /** Naive Bayes routing for continuous ingest — the streaming twin of
    * [[graft.operators.Classify.nbClassify]] against a STORED
    * [[graft.operators.Classify.nbTrain]] model (trained on the batch
    * corpus, refreshed on its cadence). Appends `n_tok`, `pred_label`,
    * and the round-4 `score` to every arriving row with scorable text;
    * NULL-text and zero-token rows drop, as the batch classifier emits
    * no row for them.
    *
    * STATELESS like [[dsirScoreArrivals]] and for the same reason: the
    * per-(doc, class) aggregation would need a state store, so the
    * bounded model (≤ |labels| × 16^hexChars rows) collapses driver-side
    * into a feature → per-class log-likelihood array map and the whole
    * posterior is one map-side fold over the row's own tokens, priors
    * added once at the end (the batch side's own grouping: token sum,
    * then + prior). Labels are sorted ascending, and the argmax takes
    * the FIRST maximum of the round-4 scores — exactly the batch
    * classifier's (score desc, label asc) tie-break. OOV features
    * coalesce to each class's zero-count smoothed ratio. */
  def nbClassifyArrivals(
      stream: DataFrame, model: DataFrame, textCol: String,
      hexChars: Int = 3): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!model.isStreaming, "model must be a static nbTrain table")
    require(hexChars >= 1 && hexChars <= 5,
      s"hexChars must be in [1, 5] for the broadcast-map twin " +
        s"(16^hexChars map entries), got $hexChars")
    require(Seq("label", "feature", "n_feat", "n_docs")
        .forall(model.columns.contains),
      s"model must carry (label, feature, n_feat, n_docs) — the nbTrain " +
        s"schema; got (${model.columns.mkString(", ")})")
    val buckets = math.pow(16, hexChars).toLong
    val rows = model.select("label", "feature", "n_feat", "n_docs").collect()
    require(rows.nonEmpty, "model table is empty — nothing to classify with")
    val labels = rows.map(_.getString(0)).distinct.sorted
    val idx = labels.zipWithIndex.toMap
    val nl = new Array[Long](labels.length)
    val nd = new Array[Long](labels.length)
    rows.foreach { r =>
      val i = idx(r.getString(0))
      nl(i) += r.getLong(2)
      nd(i) = r.getLong(3)
    }
    val ndocs = nd.sum
    def ll(i: Int, cnt: Long): Double =
      math.log((cnt + 1).toDouble / (nl(i) + buckets))
    val byFeature = rows.groupBy(_.getString(1)).map { case (f, rs) =>
      val counts = new Array[Long](labels.length)
      rs.foreach(r => counts(idx(r.getString(0))) = r.getLong(2))
      f -> counts.zipWithIndex.map { case (c, i) => ll(i, c) }
    }
    val oovArr = array(labels.indices.map(i => lit(ll(i, 0L))): _*)
    val featMap = map(byFeature.toSeq.flatMap { case (f, lls) =>
      Seq(lit(f), array(lls.map(lit): _*))
    }: _*)
    val priors = array(labels.indices.map(i =>
      lit(math.log(nd(i).toDouble / ndocs))): _*)
    val labelArr = array(labels.map(lit): _*)
    val toks = filter(split(col(textCol), " "), w => w =!= "")
    val zeros = array(labels.indices.map(_ => lit(0.0)): _*)
    val folded = aggregate(
      transform(toks, w =>
        coalesce(element_at(featMap, substring(md5(w), 1, hexChars)),
          oovArr)),
      zeros, (acc, x) => zip_with(acc, x, (a, b) => a + b))
    val scores = zip_with(folded, priors, (s, p) => round(s + p, 4) + lit(0.0))
    stream.filter(col(textCol).isNotNull)
      .withColumn("n_tok", size(toks).cast("long"))
      .filter(col("n_tok") > 0)
      .withColumn("__scores", scores)
      .withColumn("__pos", array_position(col("__scores"),
        array_max(col("__scores"))))
      .withColumn("pred_label", element_at(labelArr, col("__pos").cast("int")))
      .withColumn("score", element_at(col("__scores"), col("__pos").cast("int")))
      .drop("__scores", "__pos")
  }

  /** Unigram-LM token accounting for continuous ingest — the streaming
    * twin of [[graft.operators.TextAnalysis.unigramApply]] against a
    * STORED (piece, cost) vocabulary: appends `n_words` and `n_tokens`
    * (Viterbi pieces under the stored costs, single-character unk
    * fallback so OOV alphabets count, never drop or NULL) to every
    * arriving row; NULL-text and zero-word rows drop, as the batch
    * apply emits no row for them.
    *
    * STATELESS, the [[bpeCountArrivals]] shape: the bounded vocab rides
    * as a plan reference object inside the SAME
    * [[graft.plans.UnigramSegment]] kernel the batch apply uses (parity
    * by construction, validated by the shared
    * [[graft.operators.TextAnalysis.collectUnigramModel]]); the
    * per-word lattice DP replaces the batch side's word-type join. */
  def unigramCountArrivals(
      stream: DataFrame, vocab: DataFrame, textCol: String,
      maxPieceLen: Int = 4): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!vocab.isStreaming, "vocab must be a static unigramModel table")
    val pieces = graft.operators.TextAnalysis.collectUnigramModel(vocab)
    val unk = Some(graft.operators.TextAnalysis.UnigramUnkCost)
    val toks = filter(split(col(textCol), " "), w => w =!= "")
    stream.filter(col(textCol).isNotNull)
      .withColumn("n_words", size(toks).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_tokens",
        aggregate(
          transform(toks, w => size(graft.plans.UnigramSegment.segment(
            w, pieces, maxPieceLen, unk)).cast("long")),
          lit(0L), (acc, x) => acc + x))
  }

  /** BPE token accounting for continuous ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.bpeApply]] against a STORED merge
    * table: appends `n_words` (whitespace words, sentinel-bearing ones
    * excluded as everywhere in the BPE family) and `n_tokens` (symbols
    * after the stored merges) to every arriving row; NULL-text and
    * zero-word rows drop, as the batch apply emits no row for them.
    *
    * STATELESS: the batch operator's word-type table + join + per-doc
    * rollup would all be stateful here, so instead the bounded merge
    * table rides as a plan reference object inside ONE fused per-word
    * kernel ([[graft.plans.BpeTokenCount]] — the same kernel the batch
    * apply uses, so parity is by construction): each word char-inits
    * and merges to fixpoint in rank order (OOV words keep unfused
    * symbols, counted never dropped — the same contract). Per-word cost
    * is flat in |merges| (only merges whose pairs occur are touched),
    * and the plan is a single projection at ANY vocabulary size — the
    * r16 shape folded one nested `replace` per merge into the streaming
    * plan, which would have broken Catalyst codegen outright (stack
    * depth / 64KB method limit) at production 32–64k merge tables. */
  def bpeCountArrivals(
      stream: DataFrame, merges: DataFrame, textCol: String): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!merges.isStreaming, "merges must be a static bpeMerges table")
    require(Seq("rank", "left_sym", "right_sym")
        .forall(merges.columns.contains),
      s"merges must carry (rank, left_sym, right_sym) — the bpeMerges " +
        s"schema; got (${merges.columns.mkString(", ")})")
    val S = graft.operators.TextAnalysis.SymS
    val E = graft.operators.TextAnalysis.SymE
    val ms = graft.operators.TextAnalysis.collectMerges(merges)
    val toks = filter(split(col(textCol), " "), w =>
      w =!= "" && !w.contains(S) && !w.contains(E))
    stream.filter(col(textCol).isNotNull)
      .withColumn("n_words", size(toks).cast("long"))
      .filter(col("n_words") > 0)
      .withColumn("n_tokens",
        aggregate(
          transform(toks, w => graft.plans.BpeTokenCount.count(w, ms)),
          lit(0L), (acc, x) => acc + x))
  }

  /** The ONE model-capture preamble both ingest sinks share (r19 review:
    * two drifting copies is how the r17 publish bugs happened). Capture
    * order matters: the EPOCH is read BEFORE the model tables. A swap
    * completing between the two then pairs the NEW model with the OLD
    * epoch and the first commit fails loudly on the guard — the safe
    * direction. The reverse order (models first) would pair the OLD
    * model with the NEW epoch, and every commit would pass the guard
    * while landing stale-model codes: the exact silent corruption the
    * epoch exists to prevent (r18 review finding). Model tables come
    * back as bounded LOCAL relations — micro-batches re-read nothing
    * but the 1-row meta at commit time. */
  private def captureStoredIvfPqModel(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (Boolean, Long, Seq[String], Option[(Array[Double], Int)],
         DataFrame, DataFrame) = {
    val Sim = graft.operators.Similarity
    def localCopy(p: String) = {
      val df = spark.read.parquet(p)
      Sim.localFrame(spark, df.collect(), df.schema)
    }
    val meta = Sim.readIvfPqMeta(spark, path)
    (meta.getAs[Boolean]("residual"), meta.getAs[Long]("epoch"),
      Sim.ivfPqPayloadCols(meta),
      if (Sim.ivfPqOpqFlag(meta)) Some(Sim.loadIvfPqRotation(spark, path))
      else None,
      localCopy(s"$path/centroids.parquet"),
      localCopy(s"$path/codebooks.parquet"))
  }

  /** Continuous vector ingest into a stored composed IVF+PQ index
    * ([[graft.operators.Similarity.writeIvfPqIndex]]) — the streaming
    * twin of [[graft.operators.Similarity.appendIvfPqIndex]]: each
    * micro-batch is assigned against the STORED centroids and encoded
    * against the STORED codebooks (honoring the artifact's residual
    * flag) in one map pass — no training, no corpus re-read — through
    * the batch appender's OWN encode stage
    * ([[graft.operators.Similarity.ivfPqIndexRows]]), so the two paths
    * cannot diverge (StreamingSpec pins parity).
    *
    * Unlike the batch appender (parquet append-mode, NOT idempotent),
    * arrivals land DELTA-STYLE under `path/ingest.parquet/batch_id=<id>`
    * with per-partition overwrite: an at-least-once redelivery rewrites
    * its own directory with identical content (the encode is
    * deterministic given the stored model), so replays never
    * double-index — the [[stripArrivalsSink]] contract.
    * [[graft.operators.Similarity.ivfPqStoredTopK]] reads base + delta
    * transparently; [[graft.operators.Similarity.compactIvfPqIndex]]
    * folds the delta back into a freshly-trained base when
    * `ivf_pq_health`'s delta share says so.
    *
    * The model tables are loaded ONCE at construction into local
    * relations (bounded: nLists centroids, m×ksub codewords) — micro-
    * batches re-read nothing except the 1-row meta: each batch
    * re-verifies the index's publish EPOCH before landing
    * ([[graft.operators.Similarity.commitIvfPqIngest]]) so a
    * rebuild/compaction swapping the root mid-stream FAILS the batch
    * loudly instead of silently landing codes encoded against the
    * superseded model inside the new root — restart the sink to pick up
    * the new model. Returns the query; callers own its lifecycle. */
  def ivfPqIngestSink(
      stream: DataFrame, path: String, idCol: String, vecCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    val spark = stream.sparkSession
    val Sim = graft.operators.Similarity
    val (residual, epoch, payload, rotation, centroids, codebooks) =
      captureStoredIvfPqModel(spark, path)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!batch.isEmpty)
            Sim.commitIvfPqIngest(spark, path, batch.toDF(), idCol, vecCol,
              id, centroids, codebooks, residual, epoch, payload, rotation)
          (): Unit
      }
      .start()
  }

  /** [[ivfPqIngestSink]] + a recall-vs-cost WATCH: the streaming twin of
    * the tuning curves ([[graft.operators.Similarity
    * .ivfPqStoredProbeSweep]]), closing the loop the batch sweep opens —
    * a probe budget pinned at build time silently ages as ingest grows
    * the delta (arrivals are encoded by a model that never saw them, so
    * the probes-vs-recall trade drifts batch by batch). Per micro-batch
    * this sink (1) lands the batch into the index's ingest delta exactly
    * like [[ivfPqIngestSink]] (same encode stage, same replay-idempotent
    * `batch_id=` partitions, same epoch guard), (2) lands the batch's
    * RAW vectors under `outRoot/vectors/batch_id=<id>` (the re-rank
    * needs true vectors for shortlisted arrivals — the index stores
    * codes only), and (3) answers the FIXED evaluation query set with
    * the one-scan probe sweep over the GROWN index (base + delta), the
    * re-rank corpus being `baseCorpus` ∪ the landed vector deltas,
    * writing the curve to `outRoot/sweeps/batch_id=<id>` — overwrite
    * per partition, so redelivery rewrites identical content. Each
    * batch's sweep is bit-equal to running the batch
    * `ivfPqStoredProbeSweep` at that moment (StreamingSpec pins the
    * parity) — operators watch `outRoot/sweeps` to see exactly when the
    * pinned budget stops clearing the recall bar and compaction is due.
    *
    * Scale shape: everything the batch sweep promises (one compressed
    * scan at the deepest budget per batch, bounded windows) plus the
    * ingest sink's bounded model tables; the eval query set is small
    * and fixed by contract — the per-batch cost is ONE sweep, not one
    * per budget. */
  def ivfPqSweepIngestSink(
      stream: DataFrame, path: String, idCol: String, vecCol: String,
      baseCorpus: DataFrame, evalQueries: DataFrame, k: Int,
      shortlist: Int, probes: Seq[Int], outRoot: String,
      checkpointDir: String, queryIdCol: String = null,
      queryVecCol: String = null): org.apache.spark.sql.streaming.StreamingQuery = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!evalQueries.isStreaming && !baseCorpus.isStreaming,
      "baseCorpus/evalQueries must be static tables")
    // reject mis-wired tables at CONSTRUCTION, not on the first
    // micro-batch (an AnalysisException inside foreachBatch kills the
    // running query instead of the deploy step — r19 review)
    val qid = Option(queryIdCol).getOrElse(idCol)
    val qvec = Option(queryVecCol).getOrElse(vecCol)
    require(baseCorpus.columns.contains(idCol) &&
      baseCorpus.columns.contains(vecCol),
      s"baseCorpus must carry ($idCol, $vecCol); got " +
        s"(${baseCorpus.columns.mkString(", ")})")
    require(evalQueries.columns.contains(qid) &&
      evalQueries.columns.contains(qvec),
      s"evalQueries must carry ($qid, $qvec) — pass queryIdCol/" +
        s"queryVecCol when the query table names differ; got " +
        s"(${evalQueries.columns.mkString(", ")})")
    val spark = stream.sparkSession
    val Sim = graft.operators.Similarity
    val (residual, epoch, payload, rotation, centroids, codebooks) =
      captureStoredIvfPqModel(spark, path)
    val vecRoot = s"$outRoot/vectors"
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          if (!batch.isEmpty) {
            Sim.commitIvfPqIngest(spark, path, batch.toDF(), idCol, vecCol,
              id, centroids, codebooks, residual, epoch, payload, rotation)
            batch.toDF().select(col(idCol) +: col(vecCol) +:
                payload.map(col): _*)
              .write.mode("overwrite").parquet(s"$vecRoot/batch_id=$id")
            // re-rank corpus = base + every landed arrival (fresh read
            // per batch so earlier deltas are visible)
            val grown = baseCorpus
              .select(col(idCol) +: col(vecCol) +: payload.map(col): _*)
              .unionByName(spark.read.parquet(vecRoot)
                .select(col(idCol) +: col(vecCol) +: payload.map(col): _*))
            Sim.ivfPqStoredProbeSweep(spark, path, grown, idCol, vecCol,
                evalQueries, qid, qvec, k, shortlist, probes)
              .write.mode("overwrite")
              .parquet(s"$outRoot/sweeps/batch_id=$id")
          }
          (): Unit
      }
      .start()
  }

  def qualityGate(
      stream: DataFrame, cuts: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    require(stream.isStreaming, "stream must be a streaming DataFrame")
    require(!cuts.isStreaming, "cuts must be a static (key, cut) table")
    require(cuts.columns.contains(keyCol) && cuts.columns.contains("cut"),
      s"cuts must carry ($keyCol, cut); got (${cuts.columns.mkString(", ")})")
    stream.join(broadcast(cuts.select(col(keyCol), col("cut"))), Seq(keyCol))
      .filter(col(valueCol).cast("double") >= col("cut"))
      .drop("cut")
  }
}
