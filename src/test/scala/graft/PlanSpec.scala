package graft

/** Physical-plan regression guards (SURVEY §4): the optimizations we rely
  * on at scale must actually appear in the executed plan — a silent fall
  * back to SortMergeJoin on a dimension or a lost parquet filter is a perf
  * bug even while results stay correct. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Registered-query keys covered by at least one plan assertion in this
    * suite — fed by [[plan]] automatically and by [[covers]] where a test
    * asserts on the underlying OPERATOR plan instead of the registered
    * differential. The census test (registered last) holds a floor over
    * this set so plan coverage scales with the registry instead of by
    * memory. */
  private val planAsserted = scala.collection.mutable.Set[String]()
  private def covers(names: String*): Unit = planAsserted ++= names
  private def plan(name: String): String = {
    covers(name)
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  test("filters and projections reach the parquet scan") {
    val p = plan("filter_like")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), StringStartsWith(p_type,PROMO)]"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_type:string>"), p)
  }

  test("dimension joins broadcast (enrich, anti, semi)") {
    for (q <- Seq("join_enrich_descr", "anti_unmatched", "semi_matched")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to SortMergeJoin:\n$p")
    }
  }

  test("column pruning pierces the first-match window (only key+order+copied cols read)") {
    val p = plan("join_enrich_descr")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int>"), p)
  }

  test("frequency aggregates partially before the shuffle (map-side combine)") {
    val p = plan("freq_count")
    // partial agg appears below the exchange: HashAggregate(keys, partial_count)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("asof join is the union+window plan: no nested-loop/cartesian range explosion") {
    val p = plan("join_asof")
    assert(p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("minhash candidates use one equi-join on bands, never a cross product") {
    val p = plan("dedup_minhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the banding sweep's tagged multi-config join IS this shape with a
    // cfg column prepended to the key (its registered key aggregates
    // eagerly, so the lazy assertion rides the operator it regroups)
    covers("minhash_band_sweep")
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val sw = graft.operators.Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 16, bands = 4)
      .queryExecution.executedPlan.toString
    assert(!sw.contains("BroadcastNestedLoopJoin") && !sw.contains("CartesianProduct"), sw)
  }

  test("topk_sim window ranking is group-limited before the shuffle (WindowGroupLimit)") {
    // row_number() <= k over the per-query window triggers Spark's
    // InferWindowGroupLimit: each map task keeps only k rows per query
    // before the exchange, so the 'full sort per reducer' concern does not
    // materialize — the window variant shares the bounded-aggregator
    // variant's scale shape for the partial step.
    val p = plan("topk_sim")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("simhash candidate join is equi on (table, packed key): no cross product, no hot constant key") {
    // assert on the OPERATOR plan, not the registered query: since round 7
    // the registered key is a completeness differential whose brute-force
    // exact side is a deliberate (fixture-scale) cartesian harness
    covers("dedup_simhash")
    val docs = graft.engine.Tables.load(spark, dir, "documents")
    val p = graft.operators.Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("embed LSH candidates join on (table, bucket); exact embed baseline is a distributed cartesian") {
    // operator plan, not the registered differential (see simhash note)
    covers("dedup_embed_lsh")
    val e = graft.engine.Tables.load(spark, dir, "embeddings")
    val lsh = graft.operators.Dedup.cosinePairsLsh(e, "vec_id", "embedding",
      minCosine = 0.45, numTables = 12, planesPerTable = 4)
      .queryExecution.executedPlan.toString
    assert(!lsh.contains("CartesianProduct"), lsh)
    // the exact baseline MUST be a distributed product (cartesian across
    // partition pairs, or broadcast-nested-loop when one side fits under
    // the broadcast threshold) — NOT an equi-join funneling every row
    // through one constant-key reducer
    val exact = plan("dedup_embed")
    assert(exact.contains("CartesianProduct") || exact.contains("BroadcastNestedLoopJoin"), exact)
    assert(!exact.contains("HashJoin") && !exact.contains("SortMergeJoin"), exact)
  }

  test("sliding windows are the bounded Expand fan-out, never a join") {
    val p = plan("sliding_counts")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), p)
  }

  test("cohort retention reads only (ts, user_id) and never windows raw history") {
    val p = plan("cohort_retention")
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"), p)
    assert(!p.contains("Window"), p)
  }

  test("sample_temperature: broadcast threshold join, no window over the corpus") {
    val p = plan("sample_temperature")
    // the per-stratum thresholds (|strata| rows) broadcast back to the scan;
    // the corpus side must never sort-merge or window
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"thresholds not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("dedup_survivor: the ranking window runs over the labels join, never the corpus scan") {
    covers("dedup_survivor")
    val raw = SparkEntry.queries("dedup_survivor")(spark, dir)
    // the loser-id side is a checkpointed frame with no static stats, so the
    // broadcast decision is AQE's runtime call — execute THIS queryExecution
    // (collect, not count: count builds a separate plan), then assert on
    // the FINAL plan
    raw.collect()
    val p = raw.queryExecution.executedPlan.toString
    // corpus participates only via the final anti-join, and the loser-id
    // side (paired subset) must BROADCAST — a shuffle anti-join would
    // reshuffle the whole corpus to drop a few percent of it
    assert(p.contains("LeftAnti"), p)
    assert(p.linesIterator.exists(l => l.contains("LeftAnti") && l.contains("Broadcast")),
      s"anti-join does not broadcast the loser ids:\n$p")
    // the row_number window must partition by cluster_id (the labels side),
    // not appear unpartitioned (global sort) anywhere
    assert(p.contains("cluster_id"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), s"global window:\n$p")
  }

  test("quality_gate: the per-stratum cuts broadcast back; the corpus never sort-merges") {
    val p = plan("quality_gate")
    assert(p.contains("BroadcastHashJoin"), s"cuts not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$p")
  }

  test("cap_stratum: the per-stratum rank is WindowGroupLimit-rewritten (map tasks forward <= k rows)") {
    val p = plan("cap_stratum")
    assert(p.contains("WindowGroupLimit"), s"group-limit rewrite missing:\n$p")
  }

  test("mix_apply: the literal max-take conjunct rewrites to WindowGroupLimit (map tasks forward <= max-take rows per stratum)") {
    val p = plan("mix_apply")
    assert(p.contains("WindowGroupLimit"), s"group-limit rewrite missing:\n$p")
  }

  test("mix_plan_apply: the stored plan's rates are plan CONSTANTS — no join, no aggregate in the apply") {
    // the learn-once/apply-many claim made executable: the apply side
    // must be a pure map-side threshold filter (the plan collapsed at
    // composition time); a regression re-joining the plan table or
    // re-deriving counts shows up as a Join/Aggregate here
    val p = plan("mix_plan_apply")
    assert(!p.contains("Join"), s"the stored plan leaked back in as a join:\n$p")
    assert(!p.contains("HashAggregate"), s"apply side re-aggregates:\n$p")
  }

  test("t_closeness_ord: the value spine broadcasts to the class expansion — no CartesianProduct") {
    // |classes| x |values| is the documented bounded expansion; it must
    // ride a broadcast of the <=|values|-row spine, never a shuffled
    // cartesian of two distributed relations
    val p = plan("t_closeness_ord")
    assert(p.contains("BroadcastNestedLoopJoin"), s"spine not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"distributed cartesian:\n$p")
  }

  test("dedup_lines: segment frequency shuffles 8-byte hashes with partial aggregation, not text") {
    val p = plan("dedup_lines")
    // the countDistinct partial aggregate must sit below the exchange
    assert(p.contains("partial_count"), s"no map-side partial aggregation:\n$p")
    // anti-join against the frequent-hash set keyed on the xxhash column
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("xxhash64"), p)
  }

  test("score_unigram: LM scoring never degenerates to a nested-loop product") {
    val p = plan("score_unigram")
    assert(!p.contains("CartesianProduct"), s"token join fell to a cartesian:\n$p")
    // the one-row token total rides in as a broadcast, not a shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("join_estimate never executes the join it estimates (aggregates + a 1-row cross only)") {
    val p = plan("join_estimate")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the estimator ran a real join:\n$p")
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("group quantiles aggregate partially map-side in one pass (no join, no window)") {
    val p = plan("group_quantiles")
    assert(p.contains("partial_percentile"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("source_overlap: co-occurrence joins on the shingle key, never a cartesian/nested loop") {
    val p = plan("source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // group sizes ride back as broadcasts, not shuffled joins over the
    // co-occurrence table
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("robust_z: median/MAD cuts broadcast back; the corpus never sort-merges") {
    val p = plan("robust_z")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("score_bigram: LM joins are equi (hash) joins on vocabulary keys, no plan degeneration") {
    val p = plan("score_bigram")
    // the only non-equi join allowed is the 1-row broadcast of the corpus
    // token total (the unigram scorer's established shape); the LM joins
    // themselves must be hash equi-joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("Partial"), p)
  }

  test("window_distinct: one partial-aggregated pass (map-side HLL + count-distinct expand)") {
    val p = plan("window_distinct")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("partial_"), p)
  }

  test("topk_diverse: per-label rank is WindowGroupLimit-capped; global cut is TakeOrdered") {
    val p = plan("topk_diverse")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("join_salted: the join keys carry the salt (hot keys spread over salts reducers)") {
    val p = plan("join_salted")
    // the equi-join condition must include __salt next to the order key —
    // that IS the skew fix; losing it silently reverts to one-reducer
    // hot keys while results stay identical
    assert(p.contains("__salt"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("sample_weighted: per-stratum selection is WindowGroupLimit-capped (map tasks forward <= k)") {
    val p = plan("sample_weighted")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("session_paths: the per-actor rank is WindowGroupLimit-capped at depth") {
    val p = plan("session_paths")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("join_skew: top-k cut is TakeOrdered over the joined AGGREGATES (fact tables never join)") {
    val p = plan("join_skew")
    assert(p.contains("TakeOrderedAndProject"), p)
    // both join inputs are HashAggregates of the scans, so the join's own
    // subtree must contain aggregates on both sides; a raw fact-to-fact
    // join would also explode est_pairs semantics
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("zipf_slope: the vocabulary cut is TakeOrdered, never a global sort of term counts") {
    val p = plan("zipf_slope")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("embed_covariance: ONE aggregation pass — no join, no window, no second scan") {
    val p = plan("embed_covariance")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // exactly one scan of the embeddings file
    assert("FileScan parquet".r.findAllIn(p).size == 1, p)
  }

  test("dedup_containment: candidate generation is the banded equi-join, never a cross product") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("seasonal_anomaly: cells broadcast back to slots; the corpus collapses before any join") {
    val p = plan("seasonal_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("active_users: the range joins are broadcast-spine nested loops, never a full cartesian") {
    // a trailing-window join has an inequality condition — the CORRECT
    // shape is BroadcastNestedLoopJoin with the tiny day spine broadcast
    // (each daily-actor row tests against <= |days| spine rows); what must
    // never appear is CartesianProduct (both sides partitioned = full
    // product through the cluster)
    val p = plan("active_users")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lorenz_curve: percentile cuts ride a broadcast; the corpus never sort-merges") {
    val p = plan("lorenz_curve")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ship_latency: the fact-to-fact join aggregates partially after the shuffle (map-side combine on priority)") {
    val p = plan("ship_latency")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("embed_outliers: centroids broadcast back; the corpus never self-joins or sort-merges") {
    val p = plan("embed_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("seasonal_value_z: cells broadcast back to slots, no corpus-wide window") {
    val p = plan("seasonal_value_z")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("zone_map / hist2d: single partial-aggregated pass over the scan (no sort, no join beyond the broadcast bounds)") {
    val pz = plan("zone_map")
    assert(pz.contains("partial_"), pz) // map-side combine of min/max/count
    assert(!pz.contains("SortMergeJoin") && !pz.contains("CartesianProduct"), pz)
    val ph = plan("hist2d")
    assert(!ph.contains("SortMergeJoin"), ph) // bounds ride a broadcast
  }

  test("dedup_substring: per-doc winnow window (never global), hash-keyed pairing (never cartesian)") {
    val p = plan("dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the winnow min-filter must partition by the document id — an empty
    // partitionBy would funnel the whole corpus's k-grams through one task
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), s"global window:\n$p")
    // fingerprint document-frequency aggregates partially map-side
    assert(p.contains("partial_count"), p)
  }

  test("dedup_substring_strip: per-row strip expression, equi-joins only, no per-character explode") {
    val p = plan("dedup_substring_strip")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the strip itself is the codegen'd expression, not a reassembly
    // window or a positional-join pipeline
    assert(p.contains("graft_strip_matched_grams"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), s"global window:\n$p")
  }

  test("dedup_substring_incr: hash-keyed candidate join against the stored index, no cartesian") {
    val p = plan("dedup_substring_incr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // both sides fingerprint through the native expression; the final
    // count aggregates partially before the pair shuffle
    assert(p.contains("graft_winnow_minima"), p)
    assert(p.contains("partial_count"), p)
  }

  test("pipeline_pretrain: composed recipe keeps the strip expression and never degenerates to a cartesian") {
    val p = plan("pipeline_pretrain")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("graft_strip_matched_grams"), p)
  }

  test("substring_spans: pair-partitioned islands windows only (never corpus-wide), equi-joins only") {
    val p = plan("substring_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("graft_kgram_hashes"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), s"global window:\n$p")
  }

  test("substring_report: one pair stage feeds both consumers — equi-joins only, pair-scoped windows") {
    val p = plan("substring_report")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the span side's islands windows stay pair-partitioned
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]")), s"global window:\n$p")
  }

  test("substring_floor_sweep: every per-w branch pairs via the hash equi-join, never a cross product") {
    val p = plan("substring_floor_sweep")
    // the per-w pair stages live BEHIND the internal checkpoint (the plan
    // reads their materialized frames as Scan ExistingRDD — the pair plan
    // itself is pinned by the dedup_substring test); what this guards is
    // the rollup: 1-row aggregate combines may nested-loop (count × count
    // per w, bounded), but nothing may cartesian over data-sized frames
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"), p)
  }

  test("media_neardup operator: CTPH pairing is the banded equi-join plan (payload bytes never cross-joined)") {
    covers("media_neardup")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select(org.apache.spark.sql.functions.col("doc_id").as("media_id"),
        org.apache.spark.sql.functions.col("text").cast("binary").as("content"))
    val p = graft.operators.MultiModal.mediaNearDup(docs, "media_id", "content")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("graft_capped_sorted_list"), p)
  }

  test("dedup_semantic_incr operator: batch-vs-stored pairing is cell-keyed equi, never a corpus product") {
    covers("dedup_semantic_incr")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val centroids = graft.operators.Similarity.kmeansCentroids(
      corpus, "vec_id", "embedding", k = 4, iters = 1)
    val assigned = graft.operators.Similarity.assignCell(
      corpus, "vec_id", "embedding", centroids)
    val p = graft.operators.Dedup.semanticPairsAgainst(
        e.filter(col("vec_id") % 2 === 1), centroids, assigned,
        "vec_id", "embedding", minCosine = 0.45, probeCells = 2)
      .queryExecution.executedPlan.toString
    // the probe assignment broadcasts the k-row centroid table (a bounded
    // nested-loop against k rows is the design); the batch-vs-corpus join
    // itself must be the cell-keyed equi join, never CartesianProduct
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("cell"), p)
  }

  test("ivf_pq_stored operator: zero training at query time, cell-keyed equi scan, shortlist via WindowGroupLimit, no cartesian") {
    covers("ivf_pq_stored")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-ivfpq").toString
    try {
      graft.operators.Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        idx, nLists = 4, lloydIters = 1, m = 8, ksub = 4, pqIters = 1)
      val q = graft.operators.Similarity.ivfPqStoredTopK(spark, idx, e,
        "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id",
        "embedding", k = 3, shortlist = 6, nProbe = 2)
      val p = q.queryExecution.executedPlan.toString
      // the candidate scan is the cell-keyed equi join against the stored
      // compressed index — never a corpus cartesian; the probe side
      // broadcasts; the shortlist is a rank-limited window
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("WindowGroupLimit"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      // zero training at query time: the plan reads the stored parquet
      // index — building the DataFrame ran no Lloyd/encode jobs (both
      // kmeansCentroids and pqCodebooks are EAGER collects; reaching
      // here lazily proves neither was invoked)
      assert(p.contains("parquet"), p)
    } finally {
      val root = new org.apache.hadoop.fs.Path(idx)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
    }
  }

  test("filtered ANN: the stratum predicate lands ON THE SCAN — index payload filter below the ADC kernel, corpus filter pushed for the plain path") {
    covers("ann_filtered", "ivf_pq_filtered")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 3)
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-flt").toString
    try {
      graft.operators.Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        idx, nLists = 4, lloydIters = 1, m = 8, ksub = 4, pqIters = 1,
        payload = Seq("label"))
      val stored = graft.operators.Similarity.ivfPqStoredTopKFiltered(
        spark, idx, e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 3, shortlist = 6, where = col("label") === 3, nProbe = 2)
      val p = stored.queryExecution.executedPlan.toString
      // the eligibility predicate is a DATA FILTER on the stored-index
      // FileScan itself (equality on a payload column also reaches
      // PushedFilters for row-group pruning) — NOT a post-shortlist or
      // post-rerank filter; the probe join stays broadcast, no cartesian
      val idxScan = p.split("\n").find(l =>
        l.contains("FileScan parquet") && l.contains("index.parquet"))
      assert(idxScan.isDefined, p)
      assert(idxScan.get.contains("EqualTo(label,3)"), idxScan.get)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      // plain path: the corpus scan carries the pushed predicate and the
      // assignment stays the zero-shuffle kernel (no crossJoin fanout)
      val plain = graft.operators.Similarity.annIvfFiltered(e, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3,
        where = col("label") === 3, nLists = 4, nProbe = 2)
      val pp = plain.queryExecution.executedPlan.toString
      val corpusScans = pp.split("\n").filter(l =>
        l.contains("FileScan parquet") && l.contains("embeddings.parquet"))
      assert(corpusScans.exists(_.contains("EqualTo(label,3)")), pp)
      assert(!pp.contains("CartesianProduct"), pp)
      // the filtered SWEEP shares the pushed-predicate shape: its one
      // max-budget scan carries the filter on the index FileScan too —
      // the at-scale row-group-pruning contract must not silently
      // degrade to a post-join filter under the sweep's windows
      covers("ivf_pq_filtered_sweep")
      val sw = graft.operators.Similarity.ivfPqStoredProbeSweepFiltered(
        spark, idx, e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 3, shortlist = 6, probes = Seq(1, 2),
        where = col("label") === 3)
      val swScan = sw.queryExecution.executedPlan.toString.split("\n")
        .find(l => l.contains("FileScan parquet") &&
          l.contains("index.parquet"))
      assert(swScan.isDefined && swScan.get.contains("EqualTo(label,3)"),
        swScan.getOrElse("no index scan line"))
    } finally {
      val root = new org.apache.hadoop.fs.Path(idx)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
    }
  }

  test("pq_shortlist_sweep operator: the whole tuning curve is ONE compressed scan — single ADC/LUT kernel site, rank-limited window, no per-cut re-scan") {
    covers("pq_shortlist_sweep")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-pqsw").toString
    try {
      graft.operators.Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        idx, nLists = 1, lloydIters = 0, m = 8, ksub = 16, pqIters = 1)
      val q = graft.operators.Similarity.pqStoredShortlistSweep(spark, idx,
        e, "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id",
        "embedding", k = 3, shortlists = Seq(3, 6, 12))
      val p = q.queryExecution.executedPlan.toString
      // the r17 shape ran one full ADC scan PER CUT (4 kernel sites, 4
      // windows, 4 re-rank joins); the sweep must plan exactly one scan
      // however many cuts are requested
      assert("graft_pq_adc".r.findAllIn(p).size == 1, p)
      assert("graft_pq_lut".r.findAllIn(p).size == 1, p)
      // the deepest-cut shortlist filter is the rank-limited window; the
      // only nested loop is the broadcast of the bounded query side
      assert(p.contains("WindowGroupLimit"), p)
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      val root = new org.apache.hadoop.fs.Path(idx)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
    }
  }

  test("ivf_pq_probe_sweep operator: one cell-keyed scan for every probe budget — single ADC/LUT site, no cartesian, probe side broadcast") {
    covers("ivf_pq_probe_sweep")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-ipsw").toString
    try {
      graft.operators.Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        idx, nLists = 4, lloydIters = 1, m = 8, ksub = 4, pqIters = 1)
      val q = graft.operators.Similarity.ivfPqStoredProbeSweep(spark, idx,
        e, "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id",
        "embedding", k = 3, shortlist = 6, probes = Seq(1, 2, 4))
      val p = q.queryExecution.executedPlan.toString
      // however many budgets are requested, exactly one compressed scan
      assert("graft_pq_adc".r.findAllIn(p).size == 1, p)
      assert("graft_pq_lut".r.findAllIn(p).size == 1, p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin"), p)
    } finally {
      val root = new org.apache.hadoop.fs.Path(idx)
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
    }
  }

  test("pq_topk operators: encode is pure map-side (no exchange), scoring joins broadcast the query side only") {
    covers("pq_topk")
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val cb = graft.operators.Similarity.pqCodebooks(
      e, "vec_id", "embedding", m = 8, ksub = 16, iters = 1)
    // encode: the codebook rides as a literal — no join, no exchange
    val pe = graft.operators.Similarity.pqEncode(e, "vec_id", "embedding", cb)
      .queryExecution.executedPlan.toString
    assert(!pe.contains("Exchange"), pe)
    assert(!pe.contains("Join"), pe)
    // re-rank: candidate joins are hash/broadcast equi-joins, never a
    // corpus cartesian; the only nested loop allowed is the broadcast of
    // the bounded query side
    val pr = graft.operators.Similarity.pqTopKRerank(
        e, "vec_id", "embedding", e.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3, shortlist = 6, m = 8, ksub = 16,
        iters = 1)
      .queryExecution.executedPlan.toString
    assert(!pr.contains("CartesianProduct"), pr)
  }

  test("nb_classify operator: model joins broadcast, argmax is the pushed WindowGroupLimit, no sort-merge join") {
    covers("nb_classify", "nb_train")
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.operators.Classify.nbTrain(
      docs.filter(col("doc_id") % 2 === 0), "lang", "text")
    val p = graft.operators.Classify.nbClassify(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bpe_apply operator: stored merges apply map-side; the payoff is one equi-join plus a partial-aggregated rollup") {
    covers("bpe_apply")
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val merges = graft.operators.TextAnalysis.bpeMerges(
      docs.filter(col("doc_id") % 2 === 0), "text", nMerges = 2)
    val p = graft.operators.TextAnalysis.bpeApply(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", merges)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // partial aggregation before the per-doc exchange
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
  }

  test("media_neardup_verify operator: byte walk gated by a left-semi cut, pair joins are equi, bytes never cross-joined") {
    covers("media_neardup_verify")
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("content"))
    import sqlContext.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val p = graft.operators.MultiModal.mediaNearDupVerify(
        docs, "media_id", "content", pairs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("decontam_strip: every join is hash-keyed — the benchmark index never degenerates to a product") {
    val p = plan("decontam_strip")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mix_plan: the returned plan is a bounded local relation — corpus work happened in ONE eager aggregate") {
    // mixPlan collapses the corpus through one partial-aggregated groupBy
    // into <= |recipe| driver rows at CALL time (the mixStrata eager
    // precedent — the coverage guard must fire even on an empty
    // aggregate), so the registered frame must be a local relation with
    // no residual corpus work hanging off it
    val p = plan("mix_plan")
    assert(p.contains("LocalTableScan"), p)
    // the key's deterministic orderBy adds a range exchange over the
    // |recipe|-row local table — harmless; what must NOT appear is any
    // residual corpus work (a scan or a join)
    assert(!p.contains("Join") && !p.contains("FileScan"), p)
  }

  test("retrieval_metrics: only the two deliberate exact scorers are products; metric joins stay equi") {
    val p = plan("retrieval_metrics")
    assert(!p.contains("CartesianProduct"), p)
    // one broadcast product per brute-force side (truth + SQ8 results) —
    // the spec-pinned oracle-exact shape; the metric arithmetic must not
    // add a third
    val products = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(products <= 2, s"expected <= 2 deliberate products, got $products:\n$p")
  }

  test("embed_lsh_sweep: the swept bucketing/verify shape never degenerates to a product") {
    // the registered key aggregates eagerly (localFrame output), so the
    // assertion targets the operator's lazy max-budget identity twin —
    // cosinePairsLsh at numTables = 12 IS the sweep's join shape
    // (prefix-stable planes, same bucketing, same verify)
    covers("embed_lsh_sweep")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Dedup.cosinePairsLsh(e, "vec_id", "embedding",
        minCosine = 0.45, numTables = 12, planesPerTable = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  // Registered LAST: AnyFunSuite runs tests in registration order, so every
  // plan()/covers() call above has recorded by the time this executes.
  test("census: plan-assertion coverage holds its floor and names only real registry keys") {
    val ghosts = planAsserted.toSet -- SparkEntry.queries.keySet
    assert(ghosts.isEmpty,
      s"plan tests cover keys missing from the registry: ${ghosts.toSeq.sorted.mkString(", ")}")
    // floor = the census at the time this guard landed (39 of 175 keys,
    // round 12; 43 with the round-14 winnowing-family keys; 47 with the
    // round-15 additions (substring_report, substring_floor_sweep,
    // media_neardup, dedup_semantic_incr); 52 with the round-16 families
    // (pq_topk, nb_train/nb_classify, bpe_apply, media_neardup_verify);
    // 53 with round-17's ivf_pq_stored; 54 with round-18's
    // pq_shortlist_sweep one-scan guard; 55 with ivf_pq_probe_sweep;
    // 58 with round-19's decontam_strip / mix_plan / retrieval_metrics;
    // 59 with embed_lsh_sweep; 60 with minhash_band_sweep; 61 with
    // round-20's mix_apply WindowGroupLimit guard; 63 with
    // mix_plan_apply's no-join/no-aggregate constants guard and
    // t_closeness_ord's broadcast-spine guard).
    // Raising it is cheap when new plan tests land; lowering it means
    // plan coverage regressed — do that consciously, in review.
    val floor = 63
    assert(planAsserted.size >= floor,
      s"plan-assertion census fell to ${planAsserted.size} keys (floor $floor): " +
        s"covered = ${planAsserted.toSeq.sorted.mkString(", ")}")
  }
}
