package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §7.6).
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small) query
  *    set against the corpus, compute cosine map-side, take top-k per query.
  *    This is the correctness baseline and is already the right plan when
  *    |queries| is small: one corpus scan, zero corpus shuffle before the
  *    per-query top-k.
  *  - [[annLsh]] — random-hyperplane LSH: deterministic seeded planes give
  *    every vector a sign-bit bucket; queries probe their own bucket (plus
  *    optional 1-bit-flip neighbors). Corpus side is one map-side bucket
  *    assignment + an equi-join on bucket — the 100 TB path, since the
  *    corpus never crosses the wire unbucketed.
  */
object Similarity {

  /** Exact top-k neighbors per query vector by cosine.
    *
    * Ranking is over the cosine rounded to 6 decimals with id tie-break, so
    * results are reproducible across accumulation orders (and match the
    * DuckDB oracle bit-for-bit).
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id").orderBy(round(col("cos"), 6).desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Deterministic random hyperplanes: `numPlanes` x `dim` weights from a
    * seeded PRNG (public knowledge construction: Charikar'02 sign-random-
    * projection LSH). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bucket id for a double-array vector column. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      VectorFns.projectBit(vec, p) * lit(1L << i)
    }.reduce(_ + _)

  /** ANN top-k: bucket corpus and queries with the same planes, equi-join on
    * bucket, rank within the probed candidates. `probeBits` > 0 also probes
    * buckets differing in any single one of the first `probeBits` planes
    * (multi-probe: recovers near-boundary misses at the cost of probeBits
    * extra query rows — queries only, never the corpus). */
  def annLsh(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, numPlanes: Int = 12, dim: Int = 64,
      probeBits: Int = 4, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(numPlanes, dim, seed)
    val c = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
      .withColumn("bucket", lshBucket(col("n_v"), planes))
    val q0 = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
      .withColumn("bucket", lshBucket(col("q_v"), planes))
    // base bucket plus single-bit flips of the first probeBits planes:
    val flipped = (0 until probeBits).map(i =>
      q0.withColumn("probe", expr(s"bucket ^ ${1L << i}")))
    val qAll = flipped.foldLeft(q0.withColumn("probe", col("bucket")))(_ unionByName _)
      .select("q_id", "q_v", "probe").dropDuplicates("q_id", "probe")
    val joined = c.join(broadcast(qAll), c("bucket") === qAll("probe"))
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id").orderBy(round(col("cos"), 6).desc, col("n_id"))
    joined.select("q_id", "n_id", "cos").dropDuplicates("q_id", "n_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus into
    * `nLists` cells; queries search only their `nProbe` nearest cells.
    *
    * Centroids are a deterministic corpus sample (every ⌈N/nLists⌉-th row by
    * id — no RNG, reproducible across runs) refined by one Lloyd step, all
    * as DataFrame ops:
    *  1. assign every vector to its nearest seed (broadcast seeds),
    *  2. average per cell -> refined centroids (collected: nLists × dim
    *     doubles — a few KB; the CORPUS never leaves executors),
    *  3. final cell assignment (map-side vs broadcast refined centroids),
    *  4. query × top-nProbe cells -> equi-join on cell id -> exact rerank.
    *
    * At 100 TB the corpus-side work is two map passes + one shuffle-free
    * equi-join probe; cell stats (step 2) are one partial-aggregated
    * shuffle of nLists rows. */
  def annIvf(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nLists: Int = 16, nProbe: Int = 4, lloydIters: Int = 1): DataFrame = {
    val c = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val centroids = kmeansCentroids(c, "n_id", "n_v", nLists, lloydIters,
      assumeUnit = true)
    val assigned = assignCell(c, "n_id", "n_v", centroids)
    annIvfWithIndex(centroids, assigned, queries, queryId, queryVec, k, nProbe)
  }

  /** [[annIvf]] against a PREBUILT index: `centroids` from
    * [[kmeansCentroids]] and `assigned` from [[assignCell]] over the
    * (n_id, n_v) unitized corpus. The separation exists because the
    * clustering is EAGER and the assignment is a corpus pass — a caller
    * evaluating several probe budgets (ann_probe_sweep) builds the index
    * once and varies only this cheap query-side plan. */
  def annIvfWithIndex(
      centroids: DataFrame, assigned: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nProbe: Int): DataFrame = {
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
    // top-nProbe cells per query — the zero-shuffle kernel assignment
    val probes = assignCells(q, "q_id", "q_v", centroids, p = nProbe)
      .select("q_id", "q_v", "cell")
    // probe: equi-join on cell, exact rerank inside the probed cells
    val cand = assigned.join(broadcast(probes), "cell")
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id").orderBy(round(col("cos"), 6).desc, col("n_id"))
    cand.select("q_id", "n_id", "cos")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** FILTERED plain-IVF search — top-k among the corpus rows satisfying
    * `where` (a predicate over the CORPUS table's own columns), the
    * selection-set idiom applied to the in-memory index: the coarse
    * quantizer trains on the FULL corpus (one shared index serves every
    * stratum — per-stratum clustering would fragment the artifact), but
    * the assignment pass runs over `corpus.filter(where)`, so the
    * predicate lands on the corpus SCAN itself (PushedFilters /
    * row-group pruning at 100 TB) and only eligible rows are ever
    * assigned, probed, or ranked — never a post-filter of a finished
    * top-k, which silently loses recall whenever ineligible rows crowd
    * the k. Scoring inside probed cells is exact, so recall vs the
    * filtered brute force matches [[annIvf]]'s unfiltered behavior;
    * queries whose probed cells hold no eligible rows return fewer
    * than k rows (scarce stratum — legitimate, not an error). */
  def annIvfFiltered(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, where: Column, nLists: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 1): DataFrame = {
    val cFull = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val centroids = kmeansCentroids(cFull, "n_id", "n_v", nLists,
      lloydIters, assumeUnit = true)
    // the filter applies BEFORE the id/vector projection so `where` can
    // reference any corpus column, and lands on the scan
    val eligible = corpus.filter(where).select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val assigned = assignCell(eligible, "n_id", "n_v", centroids)
    annIvfWithIndex(centroids, assigned, queries, queryId, queryVec,
      k, nProbe)
  }

  /** The nProbe tuning curve of a plain IVF index from ONE probe pass —
    * [[annIvfWithIndex]] run at every requested budget, answered by a
    * single max-budget scan (the one-scan sweep discipline shared with
    * [[ivfPqStoredProbeSweep]] / [[pqStoredShortlistSweep]]): a
    * candidate is probed under budget p iff its query's cell has
    * `probe_rank <= p` (one ranked assignment answers every budget),
    * and its exact rank under p is the running count of budget-p
    * candidates in the fixed cosine ordering — so every budget's top-k
    * falls out of one probe join and one window pass instead of
    * |budgets| of each. Per-budget output is identical to
    * [[annIvfWithIndex]] at that nProbe (SimilaritySpec pins the
    * equality). Unlike the PQ sweeps, recall here IS provably monotone
    * in nProbe: scoring is exact inside probed cells, so more cells
    * only ever add candidates — the harness's `monotone_ok` is a
    * theorem check, not a measurement. */
  def annIvfProbeSweep(
      centroids: DataFrame, assigned: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, probes: Seq[Int]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(probes.nonEmpty, "probes must be non-empty")
    val ps = probes.distinct.sorted
    require(ps.head >= 1, s"every probe budget must be >= 1, got ${ps.head}")
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
    val probed = assignCellsRanked(q, "q_id", "q_v", centroids, p = ps.last)
      .select("q_id", "q_v", "cell", "probe_rank")
    val cand = assigned.join(broadcast(probed), "cell")
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = ps.foldLeft(cand) { (df, p0) =>
      df.withColumn(s"__r_$p0",
        sum(when(col("probe_rank") <= p0, 1L).otherwise(0L)).over(w))
    }
    ranked
      .withColumn("cut", explode(filter(
        array(ps.map(p0 => struct(lit(p0).as("n_probe"),
          (col("probe_rank") <= p0).as("inp"),
          col(s"__r_$p0").cast("int").as("rank"))): _*),
        cc => cc.getField("inp") && cc.getField("rank") <= lit(k))))
      .select(col("cut.n_probe").as("n_probe"), col("q_id"), col("n_id"),
        col("cut.rank").as("rank"), col("cos"))
  }

  /** Spherical k-means centroids over an embedding column — the coarse
    * quantizer behind [[annIvf]] and the clustering step of semantic dedup
    * ([[Dedup.semanticDedup]]), exposed as its own operator. Similarity is
    * the dot product over unit vectors (cosine), cell means renormalize to
    * the sphere each pass.
    *
    * Determinism without RNG: the k seeds are the corpus rows with the
    * smallest `xxhash64(id)` (distributed TakeOrdered — only k rows reach
    * the driver side of the plan), so the same corpus always yields the
    * same clustering regardless of partitioning or cluster size. Returns
    * (cell, cv): cell is the seed row's id, cv the unit centroid.
    *
    * Scale shape per Lloyd pass: one corpus map pass (nearest centroid vs
    * the broadcast k-row table) + a partial-aggregated shuffle of
    * k × dim cell statistics; only k × dim doubles are ever collected —
    * the corpus never leaves the executors. `assumeUnit = true` skips the
    * input normalization for callers that already unitized.
    *
    * EAGER: constructing the result runs the seed scan and every Lloyd
    * pass (the centroid table is driver-local by design — the price is
    * that building a downstream plan, e.g. printing annIvf's physical
    * plan, executes the clustering). Build it once and reuse. */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 1, assumeUnit: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = df.sparkSession
    val c = df.select(col(idCol).as("__id"),
      (if (assumeUnit) col(vecCol) else VectorFns.unitizeNative(col(vecCol))).as("__v"))
    // the centroid frame keeps the cell in the ID'S NATIVE TYPE (long,
    // int, string UUID, ...) — cells are seed-row ids, and a hardcoded
    // getLong would both crash non-long corpora and silently retype the
    // cell column depending on the iteration count
    val cellType = c.schema("__id").dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", cellType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))))
    def local(rows: Array[org.apache.spark.sql.Row]) =
      localFrame(spark, rows, outSchema)
    // centroids stay a DRIVER-LOCAL k-row table throughout (k × dim
    // doubles): the seeds collect once here, every Lloyd rebuild collects
    // its k-row aggregate, and empty-cell backfill happens on the local
    // rows — the alternative (a distributed union/anti-join chain against
    // the seed plan) re-executed the corpus TakeOrdered scan on every
    // subsequent pass and grew the plan per iteration
    var centroidRows: Array[org.apache.spark.sql.Row] =
      c.orderBy(xxhash64(col("__id")), col("__id")).limit(k)
        .select(col("__id").as("cell"), col("__v").as("cv"))
        .collect()
    for (_ <- 0 until iters) {
      // training DELIBERATELY uses the window-plan assignment, not the
      // zero-shuffle kernel: the exchange+sort is not waste here — it
      // NORMALIZES the layout before the rebuild's floating-point avg,
      // which is what makes "same corpus, same clustering, regardless of
      // partitioning" hold bit-for-bit (the kernel path exposes partial-
      // sum order to the input layout; SimilaritySpec pins the
      // repartition-invariance). Training is one-time by contract; every
      // RECURRING path (index encode, probes, blocking, ingest) rides
      // the kernel.
      val assigned = assignCellsWindowRanked(
        c, "__id", "__v", local(centroidRows), p = 1)
        .drop("probe_rank", "cv")
      val rebuilt = assigned
        .select(col("cell"), posexplode(col("__v")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell").agg(map_from_arrays(collect_list("i"), collect_list("m")).as("mm"))
        .collect().map { r =>
          val m = r.getMap[Int, Double](1)
          val arr = Array.tabulate(m.keys.max + 1)(i => m.getOrElse(i, 0.0))
          val n = math.sqrt(arr.map(x => x * x).sum)
          org.apache.spark.sql.Row(r.get(0), arr.map(_ / math.max(n, 1e-12)).toSeq)
        }
      // empty-cluster handling: a cell that attracted no members this pass
      // keeps its PREVIOUS centroid instead of silently vanishing (classic
      // k-means shrinkage — k would otherwise decay whenever two seeds
      // start in the same region)
      val present = rebuilt.map(_.get(0)).toSet
      centroidRows = rebuilt ++ centroidRows.filterNot(r => present.contains(r.get(0)))
    }
    local(centroidRows)
  }

  /** Nearest-centroid assignment: appends `cell` map-side (highest dot
    * product, ties to the smallest cell id); the input's other columns
    * pass through. Since r18 this is a pure projection — the bounded
    * centroid table rides as a plan constant and
    * [[graft.plans.NearestCells]] selects per row, no join, no window,
    * no exchange ([[assignCellsRanked]] has the full contract; `idCol`
    * remains in the signature for the reference window twin, which keys
    * its rank window on it). */
  def assignCell(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame): DataFrame =
    assignCells(df, idCol, vecCol, centroids, p = 1)

  /** Top-`p` nearest-centroid assignment (soft blocking): each row emits
    * `p` rows, one per nearest cell — the multi-probe trick that recovers
    * boundary-straddling neighbors a hard partition splits, at `p`× the
    * downstream blocked cost. `p = 1` is [[assignCell]]. */
  def assignCells(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      p: Int): DataFrame =
    assignCellsRanked(df, idCol, vecCol, centroids, p)
      .drop("probe_rank", "cv")

  /** [[assignCells]] keeping the probe ORDER (`probe_rank` 1..p, 1 = the
    * nearest cell) and the matched centroid vector `cv` — what a
    * probe-count sweep needs: a row probed under budget p is exactly one
    * with `probe_rank <= p`, so one max-budget assignment answers every
    * smaller budget by filter.
    *
    * Since r18 this is the ZERO-SHUFFLE plan: the bounded centroid table
    * collects once (Spark-sorted by cell id so kernel index order equals
    * the cell-id tie-break), rides as a flat `array<double>` plan
    * constant, and [[graft.plans.NearestCells]] selects the top-p cells
    * per row in one codegen map pass — the previous crossJoin + per-id
    * rank window EXCHANGED the p-fanout (vector payloads included) on
    * every Lloyd iteration, every index encode pass, and every probe.
    * `cell` and `cv` are recovered from the same constants by index
    * (`element_at`/`slice`), so the whole assignment is projection-only;
    * [[assignCellsWindowRanked]] is the spec-pinned reference twin.
    *
    * The flat centroid constant appears at TWO tree positions (the
    * kernel's child and the `slice` cv recovery) but ships ONCE: both
    * reference the single `flatLit` Literal below, built directly in
    * the kernel's declared input type so no implicit Cast is inserted
    * (a cast of a foldable literal constant-folds into a brand-new
    * Literal — the r18 `typedlit`, typed containsNull=false, was
    * silently duplicated that way, doubling the shipped constant at
    * production nLists×dim). With one shared instance, codegen's
    * reference slots point at the same object and Java task
    * serialization back-references the second occurrence (measured
    * r19: `[v, v]` serializes 5 bytes larger than `[v]`, where a real
    * copy adds the full payload). SimilaritySpec pins the
    * value-identity across all plan occurrences. Callers that drop
    * `cv` ([[assignCells]]) get the slice pruned entirely. */
  private[graft] def assignCellsRanked(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      p: Int): DataFrame = {
    require(p >= 1, s"p must be >= 1, got $p")
    // the kernel path OVERWRITES its output columns where the old
    // crossJoin plan failed on the duplicate reference — keep the
    // loudness: a df already carrying assignment columns is a re-fed
    // assignment dump, not an input
    // case-INSENSITIVE match: withColumn resolves case-insensitively
    // under the default spark.sql.caseSensitive=false, so a column named
    // "Cell" would be clobbered just the same
    val reserved = Set("cell", "cv", "probe_rank", "__nc", "__pi", "__ci")
    val clash = df.columns.filter(c => reserved.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"assignCells: input already carries assignment column(s) " +
        s"${clash.mkString(", ")} — re-feeding an assignment dump?")
    val rows = centroids.orderBy("cell").select("cell", "cv").collect()
    val k = rows.length
    require(k >= 1, "assignCells: centroid table is empty")
    require(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      "assignCells: centroid table carries NULL cell/cv rows")
    val dim = rows.head.getSeq[Double](1).length
    require(rows.forall(_.getSeq[Double](1).length == dim),
      s"assignCells: centroid vectors are not uniformly $dim-dimensional")
    // built DIRECTLY as array<double> with nullable elements — the
    // kernel's declared input type — so ImplicitCastInputTypes inserts
    // no Cast around it: a cast of a foldable literal CONSTANT-FOLDS
    // into a brand-new Literal, and the plan would then carry TWO
    // k×dim arrays (the folded copy inside the kernel, the original at
    // the cv-recovery slice) — the duplication the sharing spec pins
    // against (a typedlit here, with containsNull=false, did exactly
    // that until r19)
    val flatLit = org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        rows.flatMap(_.getSeq[Double](1)).toSeq,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    // one literal (not a k-child CreateArray): cells in their native type
    val cellsLit = org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        rows.map(_.get(0)).toSeq,
        org.apache.spark.sql.types.ArrayType(
          centroids.schema("cell").dataType)))
    // a NULL vector cannot be assigned — fail LOUDLY with the row's id
    // (the window path used to bury it in arbitrary cells through NULL
    // ordering; silently dropping it would be an invisible coverage
    // hole in every index build) — audit the corpus with embed_integrity
    val nc = when(col(vecCol).isNotNull,
      graft.plans.NearestCells.topPCol(col(vecCol), flatLit, k, p))
      .otherwise(raise_error(concat(
        lit("assignCells: NULL vector at id "),
        coalesce(col(idCol).cast("string"), lit("<null id>")),
        lit(" cannot be assigned to a cell — audit the corpus with " +
          "embed_integrity and drop or repair NULL embeddings"))))
    df.withColumn("__nc", nc)
      .select(col("*"), posexplode(col("__nc")).as(Seq("__pi", "__ci")))
      .withColumn("probe_rank", (col("__pi") + 1).cast("int"))
      .withColumn("cell", element_at(cellsLit, col("__ci") + 1))
      .withColumn("cv", slice(flatLit, col("__ci") * dim + 1, lit(dim)))
      .drop("__nc", "__pi", "__ci")
  }

  /** The pre-r18 window-plan assignment — kept as the independently
    * derived reference twin the parity spec compares the kernel against
    * (the [[graft.plans.WinnowMinima]] discipline: the slow twin IS the
    * test; never delete it). crossJoin fanout + per-id rank window:
    * semantically identical on unique-id inputs with non-NULL vectors. */
  private[graft] def assignCellsWindowRanked(
      df: DataFrame, idCol: String, vecCol: String, centroids: DataFrame,
      p: Int): DataFrame = {
    require(p >= 1, s"p must be >= 1, got $p")
    val scored = df.crossJoin(broadcast(centroids))
      .withColumn("__d", VectorFns.dotNative(col(vecCol), col("cv")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__d").desc, col("cell"))
    scored.withColumn("probe_rank", row_number().over(w))
      .filter(col("probe_rank") <= p)
      .drop("__d")
  }

  /** Per-group embedding centroid in LONG form: one row per
    * (group, dimension-position) with the mean component, rounded.
    *
    * Scale shape: posexplode + ONE partial-aggregated shuffle keyed on
    * (group, pos) — groups × dim keys, each carrying running (sum, count)
    * map-side, so a billion-vector group costs the same reducer state as
    * a ten-vector group. Never a per-group collect_list of vectors (which
    * would buffer a whole group's vectors in one reducer). Long form also
    * keeps the result joinable/aggregatable without array surgery; pivot
    * back to arrays at the edge if needed. */
  def centroidsLong(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("grp"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("grp", "pos")
      .agg(round(avg(col("x").cast("double")), 6).as("c"))

  /** Per-label cohesion: the EXACT mean pairwise cosine similarity inside
    * each label, computed WITHOUT materializing a single pair — the
    * cluster-quality / label-noise signal (a low-cohesion label is mislabeled
    * or heterogeneous; run before trusting labels for blocking or eval
    * splits). Uses the sum-vector identity: for unit vectors
    * `‖Σuᵢ‖² = n + 2·Σ_{i<j} uᵢ·uⱼ`, so
    * `mean_cos = (‖Σuᵢ‖² − n) / (n·(n−1))` — an O(n·d) aggregate where the
    * naive pair join is O(n²·d). Returns (grp, n, mean_cos); labels with a
    * single vector report NULL (no pairs to average). NULL/empty and
    * zero-norm vectors are excluded (they have no direction).
    *
    * Scale shape: unitize map-side (codegen'd), ONE partial-aggregated
    * shuffle on (label, pos) for the component sums, then a labels×dims →
    * labels rollup. The corpus is scanned once and never self-joined —
    * the identity IS the scale story. */
  def labelCohesion(df: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val u = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(labelCol).as("grp"),
        graft.functions.VectorFns.unitizeNative(col(vecCol)).as("__u"))
      // a zero-norm vector unitizes to NaN components (0/0): no direction,
      // and one NaN would poison the label's whole sum
      .filter(!exists(col("__u"), x => isnan(x)))
    u.select(col("grp"), posexplode(col("__u")).as(Seq("pos", "x")))
      .groupBy("grp", "pos")
      .agg(sum(col("x")).as("__s"), count(lit(1)).as("__cnt"))
      .groupBy("grp")
      .agg(
        // every pos of a label carries the same vector count (fixed dim per
        // label — mixed dims are embedIntegrity's finding, not silently
        // averaged over here)
        max(col("__cnt")).as("n"),
        sum(col("__s") * col("__s")).as("__normsq"))
      .select(col("grp"), col("n"),
        when(col("n") >= 2,
          round((col("__normsq") - col("n")) / (col("n") * (col("n") - 1)), 6))
          .as("mean_cos"))
  }

  /** Embedding drift between two corpus snapshots, as per-label centroid
    * shift — the embedding-space twin of the scalar PSI drift
    * ([[graft.operators.Profile]]): when the same label's centroid moves
    * between the reference snapshot (what a model/index was built on) and
    * the current corpus, downstream similarity search and cluster blocking
    * degrade silently; this surfaces the movement as a number per label.
    * Returns (grp, n_ref_dims INT, n_cur_dims INT, l2_shift) — l2_shift is
    * the L2 distance between the two ROUNDED centroids over positions
    * present on both sides (the shared 6-decimal centroid gate makes it
    * engine-portable); labels present in only one snapshot report 0/N dims
    * and a NULL shift — vanished/appeared labels are the loud finding, not
    * a silent drop (same stance as categorical PSI).
    *
    * Scale shape: each snapshot collapses to its (label × dim) centroid
    * table via [[centroidsLong]]'s single partial-aggregated pass; the
    * full-outer join and final rollup run over labels × dims rows — never
    * over vectors. Snapshots are never joined row-to-row. */
  def centroidShift(
      ref: DataFrame, cur: DataFrame,
      labelCol: String, vecCol: String): DataFrame = {
    val r = centroidsLong(ref, labelCol, vecCol).withColumnRenamed("c", "__cr")
    val c = centroidsLong(cur, labelCol, vecCol).withColumnRenamed("c", "__cc")
    r.join(c, Seq("grp", "pos"), "full_outer")
      .groupBy("grp")
      .agg(
        count(col("__cr")).cast("int").as("n_ref_dims"),
        count(col("__cc")).cast("int").as("n_cur_dims"),
        // sum skips NULL terms, so the sum runs over positions present on
        // BOTH sides; a label on one side only has no such terms -> NULL
        // (a-b)*(a-b), not pow(_, 2): Math.pow goes through the generic
        // power path whose last-ulp behavior the SQL engines need not share
        round(sqrt(sum((col("__cr") - col("__cc")) * (col("__cr") - col("__cc")))), 6)
          .as("l2_shift"))
  }

  /** Embedding-corpus integrity audit — the alignment check run before any
    * join of a document table with its embedding table feeds training or
    * retrieval: documents without a vector (embedding job lagging or
    * dropped rows), vectors without a document (stale vectors surviving a
    * corpus delete — a leak if deletes were privacy-driven), NULL/empty
    * vectors, non-finite components (NaN/±Inf poison every downstream
    * distance), and the dimension range (a mixed-dim corpus breaks vector
    * ops silently). One audit row:
    * (n_docs, n_vecs, n_matched, n_doc_only, n_vec_only, n_null_vec,
    *  n_empty_vec, n_nonfinite, min_dim, max_dim) — dims measured over
    * non-null non-empty vectors only.
    *
    * Scale shape: each side pre-collapses map-side to (id, per-vector
    * flags), then ONE full-outer equi-join on id and ONE partial-aggregated
    * global count pass — no window, no second corpus scan. Duplicate ids
    * (if present) count per-row, so `n_matched` can exceed distinct-id
    * overlap — run a dup audit first if ids aren't known-unique. */
  def embedIntegrity(
      docs: DataFrame, docId: String,
      embeds: DataFrame, vecId: String, vecCol: String): DataFrame = {
    val d = docs.select(col(docId).as("__id"), lit(1).as("__d"))
    val nonFinite = exists(col(vecCol), x =>
      isnan(x) || x === Float.PositiveInfinity || x === Float.NegativeInfinity)
    val e = embeds.select(col(vecId).as("__id"), lit(1).as("__e"),
      col(vecCol).isNull.cast("int").as("__null_v"),
      (col(vecCol).isNotNull && size(col(vecCol)) === 0).cast("int").as("__empty_v"),
      coalesce(nonFinite, lit(false)).cast("int").as("__bad_v"),
      when(col(vecCol).isNotNull && size(col(vecCol)) > 0, size(col(vecCol)))
        .as("__dim"))
    // every count coalesces at the END too: sum() over ZERO rows is NULL,
    // and an empty-corpus audit must report honest zeros, not NULLs that a
    // `n_vec_only > 0` gate would silently treat as false
    d.join(e, Seq("__id"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("__d"), lit(0))), lit(0L)).as("n_docs"),
        coalesce(sum(coalesce(col("__e"), lit(0))), lit(0L)).as("n_vecs"),
        coalesce(sum(when(col("__d").isNotNull && col("__e").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_matched"),
        coalesce(sum(when(col("__d").isNotNull && col("__e").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_doc_only"),
        coalesce(sum(when(col("__d").isNull && col("__e").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_vec_only"),
        coalesce(sum(coalesce(col("__null_v"), lit(0))).cast("long"), lit(0L))
          .as("n_null_vec"),
        coalesce(sum(coalesce(col("__empty_v"), lit(0))).cast("long"), lit(0L))
          .as("n_empty_vec"),
        coalesce(sum(coalesce(col("__bad_v"), lit(0))).cast("long"), lit(0L))
          .as("n_nonfinite"),
        min(col("__dim")).as("min_dim"),
        max(col("__dim")).as("max_dim"))
  }

  /** Symmetric int8 scalar quantization audit — the storage-planning step
    * for an embedding corpus (float32 → int8 is the standard 4× shrink
    * before a vector store or an IVF index): per vector, the scale
    * `max|x| / 127`, the quantized code `clamp(round(x / scale), ±127)`,
    * and the reconstruction-error stats that decide whether int8 is
    * acceptable for the downstream similarity metric. Returns
    * (idCol, dim INT, scale, mse, max_err); the codes themselves are an
    * internal detail here — the AUDIT is the operator, and a caller that
    * wants the codes applies the same arithmetic in a projection.
    *
    * Scale shape: pure map-side array expressions (transform/aggregate),
    * no shuffle, no UDF — one pass over the corpus. Determinism: `scale`
    * is rounded to 6 decimals BEFORE quantizing (the established
    * cross-engine rounding gate: both engines then divide by the identical
    * double), error sums run left-to-right over the array in both engines,
    * and mse/max_err round at 8/6. A TRUE zero vector reports zero error
    * explicitly — the engines disagree on double x/0 (IEEE inf vs NULL),
    * so the case never reaches the division. A NONZERO vector whose
    * scale rounds to 0 (max|x| < ~6.35e-5 — a near-collapsed embedding)
    * fails loudly instead: int8 cannot represent it at all, and the
    * zero-error shortcut would green-light the 4× shrink for exactly the
    * vectors it destroys. NULL vectors yield NULL stats. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = transform(col(vecCol), x => x.cast("double"))
    val scale = round(array_max(transform(e, x => abs(x))) / 127, 6)
    def err(v: Column, s: Column): Column = transform(v, x =>
      x - greatest(least(round(x / s, 0), lit(127.0)), lit(-127.0)) * s)
    val underflow = raise_error(concat(
      lit("quantizeInt8: nonzero vector with scale rounding to 0 for id "),
      col(idCol).cast("string"),
      lit(" — int8 cannot represent magnitudes this small; rescale or " +
        "filter collapsed embeddings first"))).cast("double")
    df.select(col(idCol), size(e).as("dim"), scale.as("scale"), e.as("__e"),
        array_max(transform(e, x => abs(x))).as("__maxabs"))
      .select(col(idCol), col("dim"), col("scale"),
        when(col("__maxabs") === 0, lit(0.0))
          .when(col("scale") === 0, underflow).otherwise(
          round(aggregate(err(col("__e"), col("scale")), lit(0.0),
            (acc, x) => acc + x * x) / col("dim"), 8)).as("mse"),
        when(col("__maxabs") === 0, lit(0.0))
          .when(col("scale") === 0, underflow).otherwise(
          round(array_max(transform(err(col("__e"), col("scale")), x => abs(x))), 6))
          .as("max_err"))
  }

  /** The int8 round-trip (quantize → dequantize) applied IN PLACE to the
    * vector column: `clamp(round(x / s), ±127) · s` with
    * `s = round(max|x| / 127, 6)` — [[quantizeInt8]]'s exact arithmetic,
    * returning the RECONSTRUCTED vectors instead of their error stats:
    * what a downstream consumer of an SQ8 store actually searches over
    * (and what the retrieval-quality differential feeds its results
    * side). Same edge contract as the audit: a TRUE zero vector
    * round-trips to itself; a nonzero vector whose scale rounds to 0
    * raises with the id (int8 cannot represent it — the silent
    * alternative would zero exactly the vectors the shrink destroys);
    * NULL vectors stay NULL.
    *
    * Scale shape: the scale is a PROJECTED column between the two array
    * transforms (the interpreted k-gram hashing lesson: a
    * higher-order lambda re-evaluates its whole argument subtree per
    * element, so an inlined scale would recompute the array max dim²
    * times per vector); the whole round-trip stays one map-side pass. */
  def dequantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val helpers = Seq("__e", "__maxabs", "__scale")
    val clash = df.columns.filter(helpers.contains)
    require(clash.isEmpty,
      s"dequantizeInt8: input already carries helper column(s) ${clash.mkString(", ")}")
    val underflow = raise_error(concat(
      lit("dequantizeInt8: nonzero vector with scale rounding to 0 for id "),
      col(idCol).cast("string"),
      lit(" — int8 cannot represent magnitudes this small; rescale or " +
        "filter collapsed embeddings first"))).cast("array<double>")
    val dq = transform(col("__e"), x =>
      greatest(least(round(x / col("__scale"), 0), lit(127.0)), lit(-127.0))
        * col("__scale"))
    df.withColumn("__e", transform(col(vecCol), x => x.cast("double")))
      .withColumn("__maxabs", array_max(transform(col("__e"), x => abs(x))))
      .withColumn("__scale", round(col("__maxabs") / 127, 6))
      .withColumn(vecCol,
        when(col("__maxabs") === 0, col("__e"))
          .when(col("__scale") === 0, underflow)
          .otherwise(dq))
      .drop(helpers: _*)
  }

  /** Standard retrieval-quality metrics of a RESULTS run against a TRUTH
    * run at binary relevance — per query: `n_truth`, `n_hits`,
    * `recall` (= hits/|truth@k|), `mrr` (1/rank of the first relevant
    * result, 0 when none), and `ndcg` (DCG/IDCG at log2 discounts) — the
    * IR-evaluation read every ANN/quantization trade-off in this family
    * reports informally as "hits", made first-class and comparable
    * across runs (Manning et al., IR ch.8 — public-knowledge formulas).
    *
    * Both inputs carry (q_id, n_id, rank) with rank 1-based per query —
    * the shape every search in this family returns; rows ranked deeper
    * than `k` are ignored on BOTH sides, so callers can pass deeper
    * runs. A query present in truth with NO result rows scores 0 across
    * the board (the failure an evaluation must surface, not drop); a
    * query whose truth sits ENTIRELY deeper than rank k still emits a
    * row — `n_truth` 0, `n_hits` 0, `recall`/`ndcg` NULL (0/0 has no
    * defined value), `mrr` 0 — so the evaluation set can never silently
    * shrink (the r19 advice item: the old tstats-driven join dropped
    * such queries entirely). A query present ONLY in results raises AT
    * CALL TIME — truth defines
    * the evaluation set, and silently scoring a query with no truth
    * would report 0 for what is actually a harness wiring error. The
    * check is an EAGER anti-join take(1) (both inputs are k·|queries|
    * frames by contract, so the job is tiny): the round-19 mixPlan
    * lesson — a raise riding an output column is silenced by projection
    * pruning the moment a caller selects a column subset.
    *
    * Numeric contract: every ratio is a division of exact integer
    * counts or of ≤ k-term log2-discount sums, rounded to 6 at the END
    * — the established cross-engine gate. Scale shape: one hash join of
    * two k·|queries| frames + two partial-aggregated groupBys; nothing
    * scales with the corpus. NOTE: `truth` is consumed TWICE (the idcg
    * stats and the hit flagging) — an expensive truth plan (an exact
    * scorer) re-executes unless the caller persists or localCheckpoints
    * it first, as the registered key does (PlanSpec pins its product
    * count). */
  def retrievalMetrics(
      results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq(results -> "results", truth -> "truth").foreach { case (df, n) =>
      require(Seq("q_id", "n_id", "rank").forall(df.columns.contains),
        s"$n must carry (q_id, n_id, rank) — the search-result schema; " +
          s"got (${df.columns.mkString(", ")})")
    }
    val t = truth.filter(col("rank") <= k).select("q_id", "n_id", "rank")
    val r = results.filter(col("rank") <= k).select("q_id", "n_id", "rank")
    // EAGER wiring check — see the scaladoc: an in-plan raise riding an
    // output column is prunable; results-only queries must fail here,
    // before any metric is computed. Compares the UNFILTERED results
    // against the unfiltered truth: a results query whose truth exists
    // only beyond rank k is still a wired query, not an orphan.
    // take(5)/show-4: the ellipsis must mean "more exist", so it only
    // prints when a fifth orphan was actually fetched
    val orphans = results.select("q_id").distinct()
      .join(truth.select("q_id").distinct(), Seq("q_id"), "left_anti")
      .take(5)
    require(orphans.isEmpty,
      "retrievalMetrics: results carry quer" +
        s"${if (orphans.length == 1) "y" else "ies"} " +
        orphans.take(4).map(x => String.valueOf(x.get(0))).mkString(", ") +
        (if (orphans.length == 5) ", …" else "") +
        " absent from truth — truth defines the evaluation set")
    val tstats = t.groupBy("q_id").agg(
      count(lit(1)).as("n_truth"),
      sum(lit(1.0) / log2(col("rank") + 1)).as("__idcg"))
    val rstats = r
      .join(t.select(col("q_id"), col("n_id")).withColumn("__hit", lit(1)),
        Seq("q_id", "n_id"), "left")
      .groupBy("q_id").agg(
        coalesce(sum(col("__hit")), lit(0)).cast("long").as("n_hits"),
        min(when(col("__hit").isNotNull, col("rank"))).as("__first"),
        coalesce(sum(when(col("__hit").isNotNull,
          lit(1.0) / log2(col("rank") + 1))), lit(0.0)).as("__dcg"))
    // the UNFILTERED truth's query set is the spine — a query whose
    // truth sits entirely deeper than k must still emit (with NULL/0
    // metrics), not vanish with its missing tstats row; rstats q_ids
    // are a subset of the spine after the eager orphan check above
    // 0/0 has no defined value: the n_truth = 0 row emits NULL recall
    // (explicit when-guard — ANSI mode raises on a literal zero divisor)
    // and NULL ndcg (division by the absent tstats row's NULL idcg)
    truth.select("q_id").distinct()
      .join(tstats, Seq("q_id"), "left")
      .join(rstats, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          round(coalesce(col("n_hits"), lit(0L)) / col("n_truth"), 6))
          .as("recall"),
        when(col("__first").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__first"), 6)).as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6).as("ndcg"))
  }

  /** GRADED-relevance retrieval metrics — [[retrievalMetrics]]' sibling
    * for truth runs carrying a relevance LEVEL (`rel` column, numeric
    * > 0): per query `n_truth`, `n_hits`, `recall`, `mrr` (binary — a
    * hit is a hit), graded `ndcg` (gain = the relevance level itself,
    * the linear-gain form; DCG = Σ rel/log2(rank+1) over hits, IDCG =
    * the same sum over the truth set re-sorted by rel DESC — the best
    * any ranking could do), and `ap` (average precision: mean over
    * truth@k of precision-at-each-hit-rank, the MAP summand; TREC-style
    * normalizer min(|truth@k|, k) = |truth@k| since truth is already
    * rank-filtered). The binary twin stays bit-identical — this is a
    * separate reader, not a flag on it.
    *
    * Contracts shared with the binary twin: both runs filtered to rank
    * ≤ k; results-only queries raise eagerly; truth-only queries score
    * 0; empty-truth@k queries emit NULL/0 rows. Additional contract:
    * NULL or non-positive `rel` raises eagerly (a zero-gain "relevant"
    * row would silently deflate the AP normalizer and contribute
    * nothing to DCG — judged-irrelevant rows belong OUT of the truth
    * run, not in it at grade 0). Ideal-order ties (equal rel) break by
    * truth rank then n_id, so IDCG is deterministic.
    *
    * Numeric contract and scale shape: [[retrievalMetrics]]' — ratios
    * of exact counts and ≤ k-term log2 sums rounded to 6 at the end;
    * one hash join of two k·|queries| frames, per-query windows over ≤
    * k rows, nothing scaling with the corpus. `truth` is consumed
    * three times (spine, ideal-order stats, hit flagging) — persist or
    * localCheckpoint an expensive truth plan first. */
  def retrievalMetricsGraded(
      results: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(Seq("q_id", "n_id", "rank").forall(results.columns.contains),
      s"results must carry (q_id, n_id, rank) — the search-result schema; " +
        s"got (${results.columns.mkString(", ")})")
    require(Seq("q_id", "n_id", "rank", "rel").forall(truth.columns.contains),
      s"truth must carry (q_id, n_id, rank, rel) — the graded-truth " +
        s"schema; got (${truth.columns.mkString(", ")})")
    val badRel = truth.filter(col("rel").isNull || col("rel") <= 0)
      .select("q_id", "n_id").take(1)
    require(badRel.isEmpty,
      "retrievalMetricsGraded: NULL or non-positive rel for (q_id, n_id) " +
        badRel.map(r => s"(${r.get(0)}, ${r.get(1)})").mkString(", ") +
        " — graded truth rows must carry positive gains; judged-irrelevant " +
        "rows belong out of the truth run")
    val orphans = results.select("q_id").distinct()
      .join(truth.select("q_id").distinct(), Seq("q_id"), "left_anti")
      .take(5)
    require(orphans.isEmpty,
      "retrievalMetricsGraded: results carry quer" +
        s"${if (orphans.length == 1) "y" else "ies"} " +
        orphans.take(4).map(x => String.valueOf(x.get(0))).mkString(", ") +
        (if (orphans.length == 5) ", …" else "") +
        " absent from truth — truth defines the evaluation set")
    val t = truth.filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"),
        col("rel").cast("double").as("__rel"))
    val r = results.filter(col("rank") <= k).select("q_id", "n_id", "rank")
    import org.apache.spark.sql.expressions.Window
    // ideal positions: the truth set re-sorted by gain (≤ k rows/query)
    val idealPos = row_number().over(Window.partitionBy(col("q_id"))
      .orderBy(col("__rel").desc, col("rank"), col("n_id")))
    val tstats = t.withColumn("__ipos", idealPos)
      .groupBy("q_id").agg(
        count(lit(1)).as("n_truth"),
        sum(col("__rel") / log2(col("__ipos") + 1)).as("__idcg"))
    val flagged = r
      .join(t.select(col("q_id"), col("n_id"), col("__rel")),
        Seq("q_id", "n_id"), "left")
    // cumulative hits up to each rank drive precision@rank (≤ k rows
    // per query under the window)
    val cumHits = sum(when(col("__rel").isNotNull, 1L).otherwise(0L))
      .over(Window.partitionBy(col("q_id")).orderBy(col("rank"))
        .rowsBetween(Long.MinValue, 0))
    val rstats = flagged.withColumn("__cum", cumHits)
      .groupBy("q_id").agg(
        sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("n_hits"),
        min(when(col("__rel").isNotNull, col("rank"))).as("__first"),
        coalesce(sum(when(col("__rel").isNotNull,
          col("__rel") / log2(col("rank") + 1))), lit(0.0)).as("__dcg"),
        coalesce(sum(when(col("__rel").isNotNull,
          col("__cum").cast("double") / col("rank"))), lit(0.0)).as("__psum"))
    // the binary twin's spine semantics, ANSI-safe when-guards included
    truth.select("q_id").distinct()
      .join(tstats, Seq("q_id"), "left")
      .join(rstats, Seq("q_id"), "left")
      .select(
        col("q_id"),
        coalesce(col("n_truth"), lit(0L)).as("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          round(coalesce(col("n_hits"), lit(0L)) / col("n_truth"), 6))
          .as("recall"),
        when(col("__first").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__first"), 6)).as("mrr"),
        round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 6).as("ndcg"),
        when(coalesce(col("n_truth"), lit(0L)) > 0,
          round(coalesce(col("__psum"), lit(0.0)) / col("n_truth"), 6))
          .as("ap"))
  }

  /** Per-vector alignment with the own-label spherical centroid: cosine
    * between each UNIT vector and its label's mean-of-unit-vectors — the
    * mislabeled-row detector at VECTOR granularity where [[labelCohesion]]
    * scores the label as a whole (a cohesive label can still hide a
    * handful of foreign vectors; those are exactly the rows with low or
    * negative centroid cosine). `anti_aligned` flags cos below `minCos`
    * (default 0.0: pointing AWAY from the label's prototype — almost
    * always a labeling or pipeline error).
    *
    * Returns (idCol, labelCol, cos_c, anti_aligned); cos rounds to 4 (the
    * centroid's per-dimension averages accumulate in engine-specific
    * order, agreeing to ~1e-12 — far inside the gate). NULL and zero-norm
    * vectors are excluded (no direction); a label whose CENTROID has zero
    * norm (perfectly opposed members) yields NULL cos, not ±Inf.
    *
    * Scale shape: unitize map-side (codegen'd), one partial-aggregated
    * shuffle on (label, pos) for the centroid components (labels×dims
    * rows), centroids reassembled and broadcast back, the scoring dot a
    * map-side native expression — the corpus is scanned twice (centroid
    * pass + scoring pass), never self-joined. */
  def centroidAlignment(
      df: DataFrame, idCol: String, labelCol: String, vecCol: String,
      minCos: Double = 0.0): DataFrame = {
    // degenerate-vector exclusion must happen on the RAW norm, and the
    // gate must handle Spark's NaN ordering: NaN compares GREATER than
    // every value in Spark SQL, so `norm² > 0` alone would PASS a
    // NaN-bearing vector (and an Inf one, whose unitization is Inf/Inf =
    // NaN) — one such vector then poisons its whole label's centroid
    // average. Zero vectors fail the > 0 gate; NaN/Inf fail the
    // finiteness gate (same hygiene labelCohesion implements and
    // embed_integrity audits for).
    val raw = transform(col(vecCol), x => x.cast("double"))
    val normSq = VectorFns.dotNative(raw, raw)
    val unit = df
      .filter(col(vecCol).isNotNull && normSq > 0 &&
        !isnan(normSq) && normSq < lit(Double.PositiveInfinity))
      .select(col(idCol), col(labelCol),
        VectorFns.unitizeNative(col(vecCol)).as("__u"))
    val cent = unit
      .select(col(labelCol), posexplode(col("__u")).as(Seq("__p", "__x")))
      .groupBy(col(labelCol), col("__p"))
      .agg(avg(col("__x")).as("__m"))
      .groupBy(col(labelCol))
      .agg(transform(
        sort_array(collect_list(struct(col("__p"), col("__m")))),
        s => s.getField("__m")).as("__c"))
      // the centroid norm is a per-LABEL constant — computed once here,
      // not re-derived per corpus row in the scoring projection
      .withColumn("__nm",
        sqrt(VectorFns.dotNative(col("__c"), col("__c"))))
    val d = VectorFns.dotNative(col("__u"), col("__c"))
    unit.join(broadcast(cent), labelCol)
      .withColumn("cos_c", when(col("__nm") > 0, round(d / col("__nm"), 4)))
      // the flag compares the ROUNDED cosine: the unrounded ratio differs
      // between engines in accumulation-order ULPs, and a vector truly ON
      // the threshold would flip the flag while cos_c still matched
      .withColumn("anti_aligned",
        when(col("cos_c").isNull, lit(null).cast("int"))
          .otherwise(when(col("cos_c") < minCos, 1).otherwise(0)))
      .select(col(idCol), col(labelCol), col("cos_c"), col("anti_aligned"))
  }

  /** Population covariance matrix over the first `k` embedding dimensions
    * — the embedding-health profile behind whitening decisions, PCA
    * feasibility checks, and "did the encoder collapse?" audits (a
    * near-zero-variance dimension or a |corr| ≈ 1 pair means the model
    * wastes capacity). Returns the upper triangle as rows
    * (i, j, cov) with i ≤ j, 0-indexed; the diagonal is the per-dimension
    * variance.
    *
    * Scale shape — the textbook shape joins the unnested matrix with
    * itself on vec_id (a full shuffle of n·d rows); this one is a SINGLE
    * aggregation pass: each (i, j) entry is a covar_pop over two plain
    * projected columns, all k·(k+1)/2 entries partial-aggregate map-side
    * together, zero shuffle beyond the 1-row combine, then the wide row
    * unpivots to the triangle. `k` bounds the aggregate width (k = 16 →
    * 136 covar states), not the corpus. Rows whose vector is NULL or
    * shorter than `k` fail loudly — covar_pop would otherwise silently
    * pairwise-drop them, reporting a healthy matrix over a broken feed.
    * Covariances round to 6: DuckDB's and Spark's covar_pop accumulate
    * in different orders and agree only to ~1e-12 relative. */
  def covarianceMatrix(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dims = 0 until k
    val guarded = df.select(
      when(col(vecCol).isNull || size(col(vecCol)) < k, raise_error(lit(
        s"covarianceMatrix: NULL or <$k-dim '$vecCol' vector — " +
          "covar_pop would silently drop the row; fix the feed first"))
        .cast("double")).otherwise(lit(0.0)).as("__guard") +:
      dims.map(i => element_at(col(vecCol), i + 1).cast("double").as(s"__x$i")): _*)
    val aggs = for { i <- dims; j <- dims if i <= j } yield
      covar_pop(col(s"__x$i") + col("__guard"), col(s"__x$j")).as(s"c_${i}_$j")
    val wide = guarded.agg(aggs.head, aggs.tail: _*)
    val entries = for { i <- dims; j <- dims if i <= j } yield
      struct(lit(i).as("i"), lit(j).as("j"),
        round(col(s"c_${i}_$j"), 6).as("cov"))
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.i"), col("e.j"), col("e.cov"))
  }

  /** Top principal component of the first `k` embedding dimensions —
    * the anisotropy probe (embedding spaces concentrate mass along a few
    * directions; a dominant component with a huge explained share says
    * cosine similarities are inflated by a common bias direction — the
    * standard all-but-the-top / whitening diagnostic). Power iteration
    * over the [[covarianceMatrix]] aggregate: the corpus work is that ONE
    * partial-aggregated pass; the k×k matrix and the iteration are
    * driver-local (k ≤ a few dozen), deterministic by construction —
    * fixed uniform start, fixed `iters`, sequential index-order sums, and
    * a sign convention (largest-|loading| coordinate positive). Returns
    * one row per dimension: (pos, loading, lambda, explained) with
    * lambda the Rayleigh quotient and explained = lambda / trace.
    * EAGER (collects the covariance triangle). Near-degenerate top
    * eigenpairs (gap ~ 0) converge to SOME vector in the top eigenspace;
    * lambda and the residual check remain meaningful either way. */
  def pcaTopComponent(
      df: DataFrame, vecCol: String, k: Int, iters: Int = 200): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val tri = covarianceMatrix(df, vecCol, k).collect()
    val c = Array.ofDim[Double](k, k)
    tri.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1); val v = r.getDouble(2)
      c(i)(j) = v; c(j)(i) = v
    }
    def mul(v: Array[Double]): Array[Double] =
      Array.tabulate(k) { i =>
        var s = 0.0; var j = 0
        while (j < k) { s += c(i)(j) * v(j); j += 1 }
        s
      }
    var v = Array.fill(k)(1.0 / math.sqrt(k.toDouble))
    for (_ <- 0 until iters) {
      val cv = mul(v)
      val n = math.sqrt(cv.map(x => x * x).sum)
      if (n > 0) v = cv.map(_ / n)
    }
    // sign convention: the largest-magnitude loading is positive
    val pivot = v.indices.maxBy(i => math.abs(v(i)))
    if (v(pivot) < 0) v = v.map(-_)
    val cv = mul(v)
    val lambda = v.indices.map(i => v(i) * cv(i)).sum
    val trace = (0 until k).map(i => c(i)(i)).sum
    val explained = if (trace > 0) lambda / trace else Double.NaN
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("lambda",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("explained",
        org.apache.spark.sql.types.DoubleType)))
    localFrame(df.sparkSession,
      v.indices.map(i =>
        org.apache.spark.sql.Row(i, v(i), lambda, explained)).toArray,
      schema)
  }

  /** Top-`r` principal components of the first `k` embedding dimensions —
    * [[pcaTopComponent]] extended by DEFLATION: after each converged
    * component the covariance is reduced by λ·v·vᵀ and the next power
    * iteration runs on the residual, with an explicit re-orthogonalization
    * against the found components inside every iteration (deflation alone
    * lets fp error reintroduce earlier directions). Same determinism
    * conventions as the top-component probe: fixed uniform start, fixed
    * iteration count, sequential index-order sums, largest-|loading|
    * coordinate positive. Returns one row per (component, dimension):
    * (component, pos, loading, lambda, explained, cum_explained), lambda
    * the Rayleigh quotient on the ORIGINAL covariance and explained its
    * share of the trace — the whitening / rotation feed ([[opqRotation]]
    * uses the same eigen machinery at full width) and the drift
    * diagnostic beyond the single dominant direction.
    *
    * Scale shape: the corpus work is the ONE partial-aggregated
    * [[covarianceMatrix]] pass; the k×k matrix and all r iterations are
    * driver-local. EAGER. */
  def pcaComponents(
      df: DataFrame, vecCol: String, k: Int, r: Int,
      iters: Int = 200): DataFrame = {
    require(r >= 1 && r <= k, s"r must be in [1, $k], got $r")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val tri = covarianceMatrix(df, vecCol, k).collect()
    val c = Array.ofDim[Double](k, k)
    tri.foreach { row =>
      val i = row.getInt(0); val j = row.getInt(1); val v = row.getDouble(2)
      c(i)(j) = v; c(j)(i) = v
    }
    val work = c.map(_.clone())
    def mul(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(k) { i =>
        var s = 0.0; var j = 0
        while (j < k) { s += m(i)(j) * v(j); j += 1 }
        s
      }
    val comps = Array.ofDim[Double](r, k)
    val lambdas = new Array[Double](r)
    val trace = (0 until k).map(i => c(i)(i)).sum
    for (comp <- 0 until r) {
      var v = Array.fill(k)(1.0 / math.sqrt(k.toDouble))
      for (_ <- 0 until iters) {
        var cv = mul(work, v)
        // re-orthogonalize against every found component each step
        for (p <- 0 until comp) {
          val dot = (0 until k).map(i => cv(i) * comps(p)(i)).sum
          cv = Array.tabulate(k)(i => cv(i) - dot * comps(p)(i))
        }
        val n = math.sqrt(cv.map(x => x * x).sum)
        if (n > 0) v = cv.map(_ / n)
      }
      val pivot = v.indices.maxBy(i => math.abs(v(i)))
      if (v(pivot) < 0) v = v.map(-_)
      comps(comp) = v
      // Rayleigh on the ORIGINAL covariance (orthogonality to earlier
      // components makes it equal the residual's quotient up to fp)
      val cv0 = mul(c, v)
      lambdas(comp) = v.indices.map(i => v(i) * cv0(i)).sum
      // deflate
      for (i <- 0 until k; j <- 0 until k)
        work(i)(j) -= lambdas(comp) * v(i) * v(j)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("lambda",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("explained",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("cum_explained",
        org.apache.spark.sql.types.DoubleType)))
    val cum = lambdas.scanLeft(0.0)(_ + _).tail
    localFrame(df.sparkSession,
      (for (p <- 0 until r; i <- 0 until k) yield
        org.apache.spark.sql.Row(p, i, comps(p)(i), lambdas(p),
          if (trace > 0) lambdas(p) / trace else Double.NaN,
          if (trace > 0) cum(p) / trace else Double.NaN)).toArray,
      schema)
  }

  /** Population covariance of the first `d` vector dimensions in ONE
    * bounded-buffer aggregation pass — the full-width twin of
    * [[covarianceMatrix]], which plans d(d+1)/2 separate `covar_pop`
    * aggregates and stops codegen-compiling around d≈32 (measured: the
    * d=64 plan ships a 6 MiB task binary and dies). One
    * [[GramAggregator]] buffer carries (count, d running MEANS,
    * d(d+1)/2 centered CO-MOMENTS — the Welford/Chan layout, the same
    * numerically stable algorithm covar_pop itself uses) — 2 145
    * doubles at d=64, ~2.4 MB at d=768 — partial-aggregated map-side,
    * ONE buffer per partition crossing the wire. Entries rounded to 6
    * decimals (the [[covarianceMatrix]] determinism gate).
    * Driver-local result. */
  private[graft] def gramCovariance(
      df: DataFrame, vecCol: String, d: Int): Array[Array[Double]] =
    gramStats(df, vecCol, d)._3

  /** The full Welford/Chan statistics behind [[gramCovariance]]:
    * (count, mean vector, population covariance) from the ONE
    * bounded-buffer pass — mean and covariance together, for consumers
    * like [[abttWhiten]] that need both without a second corpus scan.
    * Means and covariances rounded to 6 decimals (the determinism
    * gate). */
  private[graft] def gramStats(
      df: DataFrame, vecCol: String, d: Int,
      caller: String = "gramCovariance")
      : (Long, Array[Double], Array[Array[Double]]) = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val ds = df.select(col(vecCol).cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)).as("v"))
      .as[Seq[Double]](ExpressionEncoder[Seq[Double]]())
    val b = ds.select(new GramAggregator(d, caller).toColumn).head()
    val n = b(0)
    require(n > 0, s"$caller: empty input")
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val mean = Array.tabulate(d)(i => r6(b(1 + i)))
    val c = Array.ofDim[Double](d, d)
    var p = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        // the buffer carries the centered CO-MOMENT Σ(xᵢ−μᵢ)(xⱼ−μⱼ)
        // (Welford/Chan — covar_pop's own algorithm), so this division
        // is the population covariance with no E[xy]−E[x]E[y]
        // cancellation on non-centered data
        val r = r6(b(p) / n)
        c(i)(j) = r; c(j)(i) = r
        j += 1; p += 1
      }
      i += 1
    }
    (n.toLong, mean, c)
  }

  /** All-but-the-top embedding whitening (Mu & Viswanath, ICLR 2018 —
    * public knowledge): subtract the corpus mean and remove the top-`r`
    * principal directions, the standard post-processing that repairs
    * anisotropic embedding spaces (mass concentrated along a few common
    * directions inflates every cosine — the [[pcaTopComponent]]
    * diagnostic's fix). The whole transform folds into ONE affine
    * projection computed driver-side: with U the top-r eigenvectors and
    * P = I − U·Uᵀ, the output is v′ = P·(v − μ) = [P | −P·μ] · (v ⧺ 1),
    * applied as a single [[graft.plans.MatVec]] kernel over the
    * 1-appended vector — so the corpus-side work is ONE stats pass
    * ([[gramStats]]: bounded Welford buffer, mean and covariance
    * together) plus one map-side codegen projection; the eigenbasis is
    * driver-local Jacobi ([[jacobiEigen]]), deterministic end to end.
    * Returns (id, whitened vector) with every OTHER input column
    * dropped; rows with NULL or wrong-width vectors raise loudly (the
    * [[rotatedUnit]] contract). Whiten BEFORE unitizing for
    * similarity work — the projection does not preserve norms. */
  def abttWhiten(
      df: DataFrame, idCol: String, vecCol: String, d: Int,
      r: Int): DataFrame =
    abttWhitenWithBasis(df, idCol, vecCol, d, r)._1

  /** [[abttWhiten]] also returning the model it removed —
    * (whitened, mean, eigenvalues, eigenvectors-as-columns, removed
    * eigen indices) — for callers that must audit the output against
    * the SAME basis the operator used (the registered differential):
    * recomputing the basis from a second stats pass is both a redundant
    * corpus scan and fixture-fragile, because the 1-row aggregation
    * merges partials in task-completion order and round-6 flips let
    * eigenvectors rotate inside small-gap eigenspaces. */
  private[graft] def abttWhitenWithBasis(
      df: DataFrame, idCol: String, vecCol: String, d: Int, r: Int)
      : (DataFrame, Array[Double], Array[Double], Array[Array[Double]],
         Seq[Int]) = {
    require(r >= 0 && r < d, s"r must be in [0, $d), got $r")
    val (_, mean, cov) = gramStats(df, vecCol, d, "abttWhiten")
    val (lam, vec) = jacobiEigen(cov)
    val top = (0 until d).sortBy(i => (-lam(i), i)).take(r)
    // P = I - U U^T, then the affine fold: flat d x (d+1) row-major
    // [P | -P mu]
    val p = Array.tabulate(d, d) { (i, j) =>
      (if (i == j) 1.0 else 0.0) -
        top.map(e => vec(i)(e) * vec(j)(e)).sum
    }
    val flatAug = new Array[Double](d * (d + 1))
    for (i <- 0 until d) {
      var c0 = 0.0
      for (j <- 0 until d) {
        flatAug(i * (d + 1) + j) = p(i)(j)
        c0 += p(i)(j) * mean(j)
      }
      flatAug(i * (d + 1) + d) = -c0
    }
    val mLit = org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        flatAug.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val v = col(vecCol).cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))
    val out = df.select(col(idCol).as("id"),
      when(col(vecCol).isNotNull && size(col(vecCol)) === d,
        graft.plans.MatVec.matVecCol(mLit,
          concat(v, array(lit(1.0)))))
        .otherwise(raise_error(concat(
          lit(s"abttWhiten: NULL or non-$d-width vector at id "),
          coalesce(col(idCol).cast("string"), lit("<null id>")),
          lit(" — audit the corpus with embed_integrity"))))
        .as("vec"))
    (out, mean, lam, vec, top)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — driver-local
    * (the model tables are bounded: d ≤ a few hundred), deterministic
    * (fixed sweep order, no pivot search randomness). Returns
    * (eigenvalues, eigenvectors as COLUMNS), unsorted. */
  private[graft] def jacobiEigen(
      a0: Array[Array[Double]], sweeps: Int = 50)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off = math.max(off, math.abs(a(p)(q)))
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 // theta == 0 -> 45-degree rotation
              case x => x
            }
          val cos = 1.0 / math.sqrt(t * t + 1.0)
          val sin = t * cos
          var i = 0
          while (i < d) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = cos * aip - sin * aiq
            a(i)(q) = sin * aip + cos * aiq
            i += 1
          }
          i = 0
          while (i < d) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = cos * api - sin * aqi
            a(q)(i) = sin * api + cos * aqi
            i += 1
          }
          i = 0
          while (i < d) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = cos * vip - sin * viq
            v(i)(q) = sin * vip + cos * viq
            i += 1
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** OPQ rotation (Ge et al., "Optimized Product Quantization", CVPR
    * 2013 — the PARAMETRIC variant §4.1, public knowledge): an
    * orthonormal d×d rotation that (1) decorrelates dimensions by
    * rotating into the covariance eigenbasis and (2) BALANCES variance
    * across the m PQ subspaces by allocating eigen-directions to
    * subspaces greedily on the log-eigenvalue sum (equalizing each
    * subspace's variance product — the independence+balance assumption
    * under which PQ distortion is minimized). Returned as the FLAT
    * row-major matrix for the [[graft.plans.MatVec]] kernel: y = R·x,
    * with rows grouped so subspace s owns output coordinates
    * [s·dsub, (s+1)·dsub). Rotating both corpus and queries preserves
    * every dot product (R orthonormal), so exact re-ranks and recall
    * comparisons are unchanged — only the quantizer sees a friendlier
    * coordinate system.
    *
    * Scale shape: ONE [[gramCovariance]] pass over the corpus (bounded
    * buffer), then driver-local Jacobi at d×d; the rotation ships as a
    * plan constant into a map-side kernel. Deterministic end to end. */
  def opqRotation(
      df: DataFrame, vecCol: String, d: Int, m: Int): Array[Double] = {
    require(m >= 1 && d % m == 0, s"d=$d must be divisible by m=$m")
    val dsub = d / m
    val (lam, vec) = jacobiEigen(gramCovariance(df, vecCol, d))
    // eigen indices sorted by descending eigenvalue (index tie-break)
    val order = (0 until d).sortBy(i => (-lam(i), i))
    // greedy balanced allocation on log-eigenvalues (floor tiny/negative
    // eigenvalues: log of a degenerate direction, not a hard error)
    val logs = lam.map(l => if (l > 1e-12) math.log(l) else math.log(1e-12))
    val bucketOf = new Array[Int](d)
    val load = new Array[Double](m)
    val fill = new Array[Int](m)
    order.foreach { e =>
      val b = (0 until m).filter(fill(_) < dsub).minBy(b0 => (load(b0), b0))
      bucketOf(e) = b
      load(b) += logs(e)
      fill(b) += 1
    }
    // R rows: subspace-grouped eigenvectors (transposed columns of V)
    val rows = (0 until m).flatMap(b => order.filter(bucketOf(_) == b))
    val flat = new Array[Double](d * d)
    rows.zipWithIndex.foreach { case (e, r) =>
      var i = 0
      while (i < d) { flat(r * d + i) = vec(i)(e); i += 1 }
    }
    flat
  }

  /** PQ search with an OPQ pre-rotation — [[pqTopKRerank]] run in the
    * rotated coordinate system: train the rotation on the unitized
    * corpus ([[opqRotation]]), rotate corpus and queries with the
    * [[graft.plans.MatVec]] kernel (a map-side projection — the
    * rotation is a plan constant), and run the standard
    * codebook-train / encode / ADC-shortlist / exact-re-rank pipeline
    * on the rotated vectors. Because the rotation is orthonormal, the
    * exact re-rank cosines equal the original-space cosines (up to
    * fp), so output keeps [[bruteForceTopK]]'s contract and recall is
    * directly comparable with [[pqTopKRerank]] at the same m/ksub —
    * the rotation only changes what the QUANTIZER sees (decorrelated,
    * variance-balanced subspaces: the Ge et al. setting where PQ
    * distortion is provably lower). */
  def pqTopKOpq(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, dim: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, rotation: Option[Array[Double]] = None): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(rotation.forall(_.length == dim * dim),
      s"rotation must be a flat $dim x $dim matrix")
    val cU = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val r = rotation.getOrElse(opqRotation(cU, "n_v", dim, m))
    // full-width enforcement per row ([[rotatedUnit]]): a dim smaller
    // than the true vector width would pass MatVec's divisibility guard
    // (dim*dim % width can still be 0) and silently project into
    // garbage space — there is no meaningful "first dim dims" reading
    // of a rotated SEARCH
    val cRot = cU.select(col("n_id"),
      rotatedUnit(col("n_v"), r, dim, "pqTopKOpq").as("n_v"))
    val qRot = queries.select(col(queryId).as("q_id"),
      rotatedUnit(VectorFns.unitizeNative(col(queryVec)), r, dim,
        "pqTopKOpq").as("q_v"))
    pqTopKRerank(cRot, "n_id", "n_v", qRot, "q_id", "q_v",
      k, shortlist, m, ksub, iters)
  }

  /** Driver-local DataFrame from collected rows + schema — the eager
    * small-result idiom shared by [[kmeansCentroids]] (k-row centroid
    * tables) and self-cleaning queries that must materialize a result
    * before deleting its inputs (e.g. the stored-index differential in
    * ExtQueries). Keep it the one copy. */
  private[graft] def localFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)), schema)

  // ------------------------------------------------------ stored IVF index

  /** [[annIvf]] answered from a STORED index: load, probe, rerank — the
    * query-side-only plan ([[annIvfWithIndex]]) with zero corpus passes
    * and zero clustering. This is the production shape for repeated
    * similarity queries: the index amortizes across every caller. The
    * artifact is [[writeIvfPqIndex]]'s with `codec = "raw"` — its index
    * rows carry the unit vectors themselves, so scoring inside probed
    * cells is exact and the answer equals the in-memory [[annIvf]] over
    * the same corpus (SimilaritySpec pins the round-trip); it grows
    * through the same epoch-guarded [[appendIvfPqIndex]] /
    * [[ingestIvfPqBatch]] / [[deleteFromIvfPqIndex]] lifecycle as the
    * PQ codec. */
  def annIvfStored(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val (model, served) = openStoredIndex(spark, path)
    require(model.codebooks.isEmpty, s"annIvfStored: the index at $path " +
      "stores PQ codes, not vectors — search it with ivfPqStoredTopK")
    annIvfWithIndex(broadcast(model.centroids), served,
      queries, queryId, queryVec, k, nProbe)
  }

  // ------------------------------------------------------------ product
  // quantization (Jégou, Douze & Schmid, TPAMI 2011): split each vector
  // into m contiguous subspaces, k-means each subspace independently, and
  // store per vector only the m nearest-codeword ids — dim × 4 bytes
  // collapse to m byte-sized codes (dim=64 floats = 256 B → 32× at m=8,
  // 16× at m=16, both with ksub ≤ 256), which is the memory lever that
  // lets a 100 TB embedding corpus fit an ANN tier.

  /** PQ codebooks: per subspace `sub ∈ [0, m)`, `ksub` codewords trained
    * by L2 Lloyd iterations over the corpus's subvector slices — ALL
    * subspaces train in the SAME scan (one map-side argmin pass + one
    * partial-aggregated (sub, code, dim-pos) rebuild per iteration, ≤
    * m × ksub × dim/m running means — never a per-cell vector buffer).
    * Seeds are the slices of the `ksub` smallest-xxhash64 corpus rows,
    * deterministic cross-run; an empty code keeps its previous codeword
    * (no silent k decay). Vectors unitize first unless `assumeUnit`
    * (consistent with the cosine ANN family). Returns the driver-local
    * (sub, code, cv) table — the persistable model artifact; EAGER like
    * [[kmeansCentroids]], build once and reuse. `dim` must divide by
    * `m`. */
  def pqCodebooks(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 2,
      assumeUnit: Boolean = false): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1, s"ksub must be >= 1, got $ksub")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = df.sparkSession
    val c = df.select(col(idCol).as("__id"),
      (if (assumeUnit) col(vecCol)
       else VectorFns.unitizeNative(col(vecCol))).as("__v"))
    val seeds = c.orderBy(xxhash64(col("__id")), col("__id")).limit(ksub)
      .select(col("__v")).collect().map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "corpus is empty — nothing to train on")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val dsub = dim / m
    require(seeds.length == ksub,
      s"corpus has only ${seeds.length} rows < ksub=$ksub")
    // cb(sub)(code) = codeword; seeded from the same rows' slices
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seeds.map(_.slice(s * dsub, (s + 1) * dsub)))
    for (_ <- 0 until iters) {
      // assignment is the native encode kernel (bit-identical to the HOF
      // reference path — strict-< argmin, same accumulation order); the
      // rebuild stays one partial-aggregated (sub, code, i) groupBy
      val cbF = graft.plans.PqKernels.flatCodebook(cb)
      val rebuilt = c
        .select(col("__v"),
          graft.plans.PqKernels.encodeCol(col("__v"), cbF, m, ksub)
            .as("codes"))
        .select(col("__v"), posexplode(col("codes")).as(Seq("sub", "code")))
        .select(col("sub"), col("code"),
          posexplode(slice(col("__v"), col("sub") * lit(dsub) + lit(1),
            lit(dsub))).as(Seq("i", "x")))
        .groupBy("sub", "code", "i").agg(avg(col("x")).as("mv"))
        .collect()
      val next = cb.map(_.map(_.clone))
      rebuilt.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((s, code), rows) =>
          val w = next(s)(code)
          rows.foreach(r => w(r.getInt(2)) = r.getDouble(3))
      }
      cb = next
    }
    localFrame(spark,
      (for (s <- 0 until m; code <- 0 until ksub)
        yield org.apache.spark.sql.Row(s, code, cb(s)(code).toSeq)).toArray,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)))))
  }

  /** Encode vectors against a STORED codebook: per row the m-int code
    * array (nearest codeword per subspace) — the compressed corpus
    * representation. Pure map-side (codebook rides as a literal); the
    * learn-once/encode-many contract. */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String, codebooks: DataFrame,
      assumeUnit: Boolean = false): DataFrame = {
    val (cb, _) = collectCodebooks(codebooks)
    val cbF = graft.plans.PqKernels.flatCodebook(cb)
    df.select(col(idCol),
      (if (assumeUnit) col(vecCol)
       else VectorFns.unitizeNative(col(vecCol))).as("__v"))
      .select(col(idCol),
        graft.plans.PqKernels.encodeCol(col("__v"), cbF,
          cb.length, cb.head.length).as("codes"))
  }

  private[graft] def collectCodebooks(
      codebooks: DataFrame): (Array[Array[Array[Double]]], Int) = {
    require(Seq("sub", "code", "cv").forall(codebooks.columns.contains),
      s"codebooks must carry (sub, code, cv) — the pqCodebooks schema; " +
        s"got (${codebooks.columns.mkString(", ")})")
    val rows = codebooks.select("sub", "code", "cv").collect()
    require(rows.nonEmpty, "codebook table is empty")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val dsub = rows.head.getSeq[Double](2).length
    val cb = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    (cb.map(_.map(w => if (w == null) Array.fill(dsub)(0.0) else w)), dsub)
  }

  /** Asymmetric-distance top-k over the COMPRESSED corpus: queries stay
    * full-precision, corpus rows contribute only their m-int codes, and
    * the score is the dot of the query with each row's reconstruction —
    * algebraically Σ_sub dot(q_sub, codeword(sub, code)), i.e. the ADC
    * estimate of the cosine (Jégou et al.'s IP form; a per-query
    * sub×code lookup table is the same arithmetic factored differently
    * and drops in as a constant-factor optimization without changing
    * this plan). Ranking rounds to 6 decimals with id tie-break — the
    * [[bruteForceTopK]] determinism contract.
    *
    * Scale shape: encode is map-side; scoring crossJoins the BROADCAST
    * query side (the small side by contract) against the compressed
    * corpus and the per-query top-k is one WindowGroupLimit — the
    * brute-force plan, but the corpus-side state per row is m ints
    * instead of dim floats, and the heavy corpus never re-materializes
    * full vectors. */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val codebooks = pqCodebooks(corpus, corpusId, corpusVec, m, ksub, iters)
    val (cb, _) = collectCodebooks(codebooks)
    val cbF = graft.plans.PqKernels.flatCodebook(cb)
    val enc = pqEncode(corpus, corpusId, corpusVec, codebooks)
      .select(col(corpusId).as("n_id"), col("codes"))
    // the per-query sub×code LUT is computed ONCE per query row on the
    // broadcast side; the per-pair work in the scan is m lookups + adds
    // (the Jégou et al. ADC factoring, native codegen)
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
      .withColumn("q_lut", graft.plans.PqKernels.lutCol(col("q_v"), cbF,
        cb.length, cb.head.length))
    val scored = enc.crossJoin(broadcast(q))
      .withColumn("cos_adc", graft.plans.PqKernels.adcCol(
        col("codes"), col("q_lut"), cb.head.length))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos_adc"), 6).desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos_adc")
  }

  /** The whole shortlist tuning curve from ONE compressed scan — the
    * multi-cut form of [[ivfPqStoredTopK]] over EVERY cell (a flat PQ
    * artifact, `nLists = 1`, has exactly one): rank the stored codes'
    * ADC scores once at the DEEPEST requested shortlist, exact-re-rank
    * that one candidate set, and derive every shallower cut's top-k from
    * rank filters over the same pass. Correctness is an algebraic
    * identity, not an approximation: the cut-`sl` candidate set is
    * exactly the ADC ranks ≤ sl, and within a fixed exact-cosine
    * ordering the re-rank position of a row among candidates with
    * `adc_rank ≤ sl` IS the running count of such candidates at or
    * before it — so each row's per-cut rank comes from one conditional
    * running sum per cut inside a single window pass, and the emitted
    * (shortlist, q_id, n_id, rank, cos) rows equal [[ivfPqStoredTopK]]
    * run per cut with every cell probed (SimilaritySpec pins the
    * equality). Replaces |cuts| full scans + windows + re-rank joins
    * with exactly one of each. */
  def pqStoredShortlistSweep(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlists: Seq[Int]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlists.nonEmpty, "shortlists must be non-empty")
    val sls = shortlists.distinct.sorted
    require(sls.head >= k, s"every shortlist must be >= k $k, got ${sls.head}")
    // every cell: the kernel keeps min(p, cells) probes
    val (q, scored) = storedAdcScan(spark, path, queries, queryId, queryVec,
      nProbe = Int.MaxValue, where = None, caller = "pqStoredShortlistSweep")
    val ws = Window.partitionBy("q_id")
      .orderBy(round(col("cos_adc"), 6).desc, col("n_id"))
    val cand = scored.withColumn("adc_rank", row_number().over(ws))
      .filter(col("adc_rank") <= sls.last)
      .select("q_id", "n_id", "adc_rank")
    val rescored = rerankChecked(cand, corpusForRerank, corpusId, corpusVec,
      q, "pqStoredShortlistSweep")
    // one running-frame window in ivfPqStoredTopK's exact ordering; each
    // cut's rank is the running count of its own candidates
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = sls.foldLeft(rescored) { (df, sl) =>
      df.withColumn(s"__r_$sl",
        sum(when(col("adc_rank") <= sl, 1L).otherwise(0L)).over(w))
    }
    ranked
      .withColumn("cut", explode(filter(
        array(sls.map(sl => struct(lit(sl).as("shortlist"),
          col(s"__r_$sl").cast("int").as("rank"))): _*),
        cc => col("adc_rank") <= cc.getField("shortlist") &&
          cc.getField("rank") <= lit(k))))
      .select(col("cut.shortlist").as("shortlist"), col("q_id"),
        col("n_id"), col("cut.rank").as("rank"), col("cos"))
  }

  /** IVF-pruned PQ search — the two levers composed, each attacking a
    * different cost: the IVF coarse quantizer PRUNES (only `nProbe` of
    * `nLists` cells are scanned per query), the PQ codes COMPRESS (the
    * scanned candidates contribute m small ints, never their vectors),
    * and the exact re-rank over the `shortlist` repairs both
    * approximations at once. This is the IP-metric variant WITHOUT
    * residual encoding (codes are trained on the vectors themselves, not
    * on cell residuals — Jégou et al.'s IVFADC encodes residuals for L2;
    * with unit vectors and a dot-product score the plain-vector codes
    * keep the same harness and the re-rank absorbs the coarser
    * approximation; a residual variant would drop into the same plan).
    *
    * Scale shape: clustering and encoding are one-time (and both
    * persistable — [[writeIvfPqIndex]]); per
    * query the cell probe is a broadcast against nLists rows, the
    * candidate scan is an equi-join on `cell` over ~nProbe/nLists of the
    * compressed corpus, the shortlist is one WindowGroupLimit, and only
    * shortlist×queries full vectors are ever read back. */
  def ivfPqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, nLists: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(nProbe >= 1 && nProbe <= nLists,
      s"nProbe $nProbe must be in [1, $nLists]")
    val c = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    // the two training loops are INDEPENDENT driver-sequential job chains
    // over the same read-only corpus (coarse k-means reads n_v; plain —
    // non-residual — PQ codebooks read n_v): overlap their submission
    // (guide §2.6). Each loop's own plans, collects, and therefore trained
    // models are exactly the serial ones — profiled at sf0.1, this key was
    // a 43-job storm of 10-120 ms jobs with 15-90 ms driver gaps.
    val (centroids, codebooks) = graft.engine.Overlap.par(
      kmeansCentroids(c, "n_id", "n_v", nLists, iters, assumeUnit = true),
      pqCodebooks(c, "n_id", "n_v", m, ksub, iters, assumeUnit = true))
    val (cb, _) = collectCodebooks(codebooks)
    val cbF = graft.plans.PqKernels.flatCodebook(cb)
    val index = assignCell(c, "n_id", "n_v", centroids)
      .select(col("n_id"), col("cell"))
      .join(pqEncode(c, "n_id", "n_v", codebooks, assumeUnit = true)
        .select(col("n_id"), col("codes")), Seq("n_id"))
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
    // LUT projected BEFORE the probe fanout: evaluated once per query
    // row, not once per (query, probed cell) — the probe window only
    // copies the value into its nProbe output rows
    val qLut = q.withColumn("q_lut", graft.plans.PqKernels.lutCol(
      col("q_v"), cbF, cb.length, cb.head.length))
    val probed = assignCells(qLut, "q_id", "q_v", centroids, p = nProbe)
    val scored = index.join(broadcast(probed), Seq("cell"))
      .withColumn("cos_adc", graft.plans.PqKernels.adcCol(
        col("codes"), col("q_lut"), cb.head.length))
    val ws = Window.partitionBy("q_id")
      .orderBy(round(col("cos_adc"), 6).desc, col("n_id"))
    val cand = scored.withColumn("rank", row_number().over(ws))
      .filter(col("rank") <= shortlist)
      .select("q_id", "n_id")
    val rescored = cand.join(c, Seq("n_id"))
      .join(broadcast(q.select("q_id", "q_v")), Seq("q_id"))
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** Persist the engine's ONE stored vector index — coarse centroids, PQ
    * codebooks, and the per-vector (cell, codes) table — as ONE atomic
    * unit under a single swap root ([[graft.engine.Sinks.publishRoot]]:
    * cells and codes are meaningful only relative to their
    * centroids/codebooks, so the pairing must be indivisible, and a
    * crashed rebuild leaves the previous index live). This is the index
    * the production repeated-query path [[ivfPqStoredTopK]] answers from
    * with ZERO training or encoding at query time; [[ivfPqTopK]] (which
    * re-trains both levers per call) remains the one-shot/exploratory
    * form. Determinism: k-means and codebooks seed from `xxhash64(id)`,
    * so the same corpus always persists the same index.
    *
    * The other stored shapes are configurations of this artifact:
    *  - FLAT PQ is `nLists = 1, lloydIters = 0` — one cell holding every
    *    row, so the codebooks train on exactly [[pqTopKRerank]]'s input
    *    and [[ivfPqStoredTopK]] at `nProbe = 1` answers as it does;
    *  - PLAIN IVF is `codec = "raw"`: the index rows store the unit
    *    vector (n_id, cell, n_v) instead of codes, no codebooks are
    *    trained, and [[annIvfStored]] scores the probed cells exactly
    *    (`residual`/`opq` shape PQ codes and are rejected here; `m`,
    *    `ksub`, `pqIters` are recorded but unused).
    *
    * `residual = true` trains the codebooks on CELL RESIDUALS
    * (v − centroid(cell)) — Jégou et al.'s IVFADC encoding (TPAMI 2011
    * §IV): plain-vector codes waste codebook capacity re-encoding the
    * cell mean every member shares; residual codes spend all m×ksub
    * codewords on the within-cell variation. The ADC score then
    * reconstructs q·v̂ = q·c_cell + q·r̂, where the first term is one
    * exact dot per (query, probed cell) and the second is the standard
    * LUT sum over the residual codebooks.
    *
    * Measured on the fixture embeddings (m=16, ksub=64, nLists=16,
    * nProbe=8, 5 queries × k=10): residual ≈ plain at shortlist 80
    * (43/43/38 vs 43/43/39 across sf0.001/0.01/0.1 — both saturate the
    * IVF cell-coverage ceiling, which encoding cannot repair) and
    * residual is WORSE at tight shortlists (26 vs 32 hits at
    * shortlist 10, sf0.01): the residual win presupposes tight clusters
    * (‖r‖ ≪ ‖v‖), and on this weakly-clustered corpus the residuals
    * are as hard to quantize as the vectors. Hence `residual = false`
    * is the registered default here; flip it when a recall sweep on the
    * REAL corpus (the [[annProbeSweep]]/pq_shortlist_sweep discipline)
    * shows the clusters are tight enough to pay.
    *
    * `payload` names corpus columns to STORE IN THE INDEX beside each
    * row's (n_id, cell, codes) — the filterable attributes
    * [[ivfPqStoredTopKFiltered]] pushes into the probe scan (lang,
    * timestamp, source, ...). They ride the same map-side encode pass
    * (no join at build, append, or ingest — the names are recorded in
    * the publish record and every grow path carries them
    * automatically), cost their column width per indexed row, and make
    * filtered search a parquet-scan predicate instead of a corpus
    * join. Names must not clash with the index/search schema
    * (validated loudly).
    *
    * Scale shape: clustering/training collect only bounded model tables
    * (nLists and m×ksub rows); assignment, residual subtraction, and
    * encoding are map-side passes over the corpus; the stored index is
    * m ints + a cell id (+ payload) per vector. The corpus is rescanned
    * per Lloyd iteration (training is one-time by contract) and never
    * at query time. */
  def writeIvfPqIndex(
      corpus: DataFrame, corpusId: String, corpusVec: String, path: String,
      nLists: Int = 16, lloydIters: Int = 1, m: Int = 8, ksub: Int = 16,
      pqIters: Int = 2, residual: Boolean = false,
      payload: Seq[String] = Nil, opq: Boolean = false,
      codec: String = "pq"): Unit = {
    val spark = corpus.sparkSession
    require(codec == "pq" || codec == "raw",
      s"writeIvfPqIndex: codec must be 'pq' or 'raw', got '$codec'")
    require(codec == "pq" || !(residual || opq), "writeIvfPqIndex: " +
      "residual and opq shape PQ codes — the raw codec stores the vectors")
    requirePayloadCols(corpus, corpusId, corpusVec, payload,
      "writeIvfPqIndex")
    val cRaw = corpus.select(col(corpusId).as("n_id") +:
      VectorFns.unitizeNative(col(corpusVec)).as("n_v") +:
      payload.map(col): _*)
    // OPQ (opt-in): learn one orthonormal rotation on the unitized
    // corpus and build the ENTIRE index — coarse cells, codebooks,
    // codes — in the rotated space ([[opqRotation]]; rotation preserves
    // dots, so recall/re-rank semantics are unchanged while the
    // quantizer sees decorrelated, variance-balanced subspaces). The
    // rotation is part of the artifact (`rotation.parquet`): queries,
    // appends, and ingests rotate against the STORED matrix.
    val rot: Option[(Array[Double], Int)] =
      if (!opq) None
      else {
        val dim = cRaw.select(size(col("n_v"))).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(throw
            new IllegalArgumentException(
              "writeIvfPqIndex: empty corpus — cannot train an OPQ " +
                "rotation (or anything else) on zero vectors"))
        Some((opqRotation(cRaw, "n_v", dim, m), dim))
      }
    val c = rot match {
      case None => cRaw
      case Some((r, dim)) =>
        cRaw.withColumn("n_v", rotatedUnit(col("n_v"), r, dim,
          "writeIvfPqIndex"))
    }
    val centroids = kmeansCentroids(c, "n_id", "n_v", nLists, lloydIters,
      assumeUnit = true)
    val train = ivfPqTrainRows(c, centroids, residual)
    val codebooks = if (codec == "raw") None else Some(pqCodebooks(train,
      "n_id", "t_v", m, ksub, pqIters, assumeUnit = true))
    val index = ivfPqIndexRows(train, codebooks)
    // meta carries the FULL training config (so [[compactIvfPqIndex]] can
    // rebuild with the exact parameters the artifact was built with, and
    // [[ivfPqIndexHealth]] reads m/ksub from the publish record instead of
    // inferring them from the possibly-corrupt codebooks it is auditing)
    // plus a monotone publish EPOCH: every root swap bumps it, and the
    // append/ingest paths re-read it at commit time to turn the documented
    // append-vs-rebuild race into a loud failure instead of silently
    // landing codes encoded against a superseded model.
    val epoch = nextIvfPqEpoch(spark, path)
    val meta = localFrame(spark,
      Array(org.apache.spark.sql.Row(residual, nLists, lloydIters, m, ksub,
        pqIters, epoch, payload, opq, codec)),
      org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("residual",
          org.apache.spark.sql.types.BooleanType)) ++
        Seq("n_lists", "lloyd_iters", "m", "ksub", "pq_iters").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.IntegerType)) :+
        org.apache.spark.sql.types.StructField("epoch",
          org.apache.spark.sql.types.LongType) :+
        org.apache.spark.sql.types.StructField("payload_cols",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, containsNull = false)) :+
        org.apache.spark.sql.types.StructField("opq",
          org.apache.spark.sql.types.BooleanType) :+
        org.apache.spark.sql.types.StructField("codec",
          org.apache.spark.sql.types.StringType)))
    val rotTable = rot.map { case (r, dim) =>
      localFrame(spark,
        Array.tabulate(dim)(i => org.apache.spark.sql.Row(
          i, r.slice(i * dim, (i + 1) * dim).toSeq)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pos",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("row",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))))
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.publishRoot(fs, path) { tmp =>
      // model tables are model-artifact-sized (nLists rows, m×ksub rows,
      // one meta row, dim rotation rows) but are LOCAL relations, which
      // write as min(rows, core count) part files — every subsequent open
      // of the stored index then listed + footer-read dozens of one-row
      // files (optimization guide §6: small files hurt twice). ONE file
      // per model table; the corpus-sized index table keeps its natural
      // partitioning. The writes land in independent staging subdirs, so
      // they overlap (guide §2.6) — the root swap still happens only
      // after all of them complete.
      graft.engine.Overlap.par4(
        centroids.coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/centroids.parquet"),
        codebooks.foreach(_.coalesce(1).write.mode("overwrite")
          .parquet(s"$tmp/codebooks.parquet")),
        {
          meta.coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/meta.parquet")
          rotTable.foreach(_.coalesce(1).write.mode("overwrite")
            .parquet(s"$tmp/rotation.parquet"))
        },
        index.write.mode("overwrite").parquet(s"$tmp/index.parquet"))
      ()
    }
  }

  /** The NEXT publish epoch for the index at `path`: one past the live
    * artifact's epoch, or 1 for a first build. Read eagerly BEFORE
    * staging — the old root stays live throughout [[graft.engine.Sinks
    * .publishRoot]]'s staging, so this is the epoch the swap supersedes. */
  private def nextIvfPqEpoch(
      spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta.parquet")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.recoverSwap(fs, new org.apache.hadoop.fs.Path(path))
    if (!fs.exists(meta)) 1L
    else {
      val df = spark.read.parquet(meta.toString)
      // pre-epoch artifacts (meta = residual flag only) restart at 1
      if (df.columns.contains("epoch")) df.select("epoch").head().getLong(0) + 1L
      else 1L
    }
  }

  /** The publish record of the index at `path`, recovered and VALIDATED:
    * an artifact with no `meta.parquet` (the pre-publish-record plain-IVF
    * `centroids`+`assigned` or flat-PQ `codebooks`+`codes` layouts), a
    * pre-r18 record (the residual flag only, no config/epoch), or a codec
    * this engine does not know all fail with a clear "rebuild required"
    * instead of an obscure missing-path or missing-field error from
    * whichever read touches it first. Every meta consumer — the serving
    * paths via [[openStoredIndex]], append, ingest, delete, compact,
    * health, and the streaming sinks — reads through here, so a degraded
    * artifact is rejected uniformly (yes, read-only search too: serving
    * against an unvalidated record risks the exact torn-pairing silent
    * corruption the record exists to rule out). */
  private[graft] def readIvfPqMeta(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : org.apache.spark.sql.Row = {
    // a reader may be the first to arrive after a writer crashed between
    // swapInto's two renames — restore the stranded root before reading
    // (the Sinks.recoverSwap caller contract)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.engine.Sinks.recoverSwap(fs, root)
    def rebuild(why: String) = new IllegalStateException(s"index at $path " +
      s"$why; rebuild required — rebuild it with writeIvfPqIndex (search, " +
      "append, ingest, delete, compact, and health all require the full " +
      "publish record)")
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, "meta.parquet")))
      throw rebuild("has no meta.parquet — an artifact written before the " +
        "publish record (the old plain-IVF or flat-PQ layout?)")
    val df = spark.read.parquet(s"$path/meta.parquet")
    val required = Seq("residual", "n_lists", "lloyd_iters", "m", "ksub",
      "pq_iters", "epoch")
    val missing = required.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw rebuild(s"has a pre-epoch meta.parquet (missing " +
        s"${missing.mkString(", ")}) — an artifact written before the " +
        "publish-record/epoch discipline")
    val meta = df.head()
    val codec = ivfPqCodec(meta)
    if (codec != "pq" && codec != "raw")
      throw rebuild(s"records codec '$codec' — this engine serves 'pq' " +
        "and 'raw' only")
    meta
  }

  /** The codec recorded in an index publish record: `pq` (cell + PQ
    * codes per row) or `raw` (cell + unit vector per row) — `pq` for
    * artifacts written before the codec field existed, which were all
    * IVF-PQ (same back-compat reading as [[ivfPqPayloadCols]]). */
  private[graft] def ivfPqCodec(meta: org.apache.spark.sql.Row): String =
    if (!meta.schema.fieldNames.contains("codec")) "pq"
    else meta.getAs[String]("codec")

  /** The payload columns recorded in an index publish record — empty for
    * artifacts written before payload support (r19): payload absence is
    * semantically "no payload", not a degraded record, so pre-payload
    * artifacts keep serving/appending without a forced rebuild (unlike
    * the pre-epoch shape, whose absence breaks commit safety). */
  private[graft] def ivfPqPayloadCols(
      meta: org.apache.spark.sql.Row): Seq[String] =
    if (!meta.schema.fieldNames.contains("payload_cols")) Nil
    else meta.getAs[scala.collection.Seq[String]]("payload_cols").toSeq

  /** Whether an index publish record says the artifact is OPQ-rotated —
    * false for artifacts written before OPQ support (same back-compat
    * reading as [[ivfPqPayloadCols]]: absence means "not rotated"). */
  private[graft] def ivfPqOpqFlag(meta: org.apache.spark.sql.Row): Boolean =
    meta.schema.fieldNames.contains("opq") && meta.getAs[Boolean]("opq")

  /** The stored OPQ rotation of an index, flat row-major, plus its
    * width. Loud on a torn table (an OPQ artifact without a valid
    * rotation cannot be searched or grown — codes are meaningless in
    * the unrotated space). */
  private[graft] def loadIvfPqRotation(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Double], Int) = {
    val rows = spark.read.parquet(s"$path/rotation.parquet")
      .orderBy("pos").collect()
    val dim = rows.length
    // NULL-guard before the getters: a NULL pos/row must produce THIS
    // diagnostic, not a bare NPE from getInt/getSeq
    require(dim > 0 && rows.zipWithIndex.forall { case (r, i) =>
      !r.isNullAt(0) && !r.isNullAt(1) &&
        r.getInt(0) == i && r.getSeq[Double](1).length == dim },
      s"index at $path has a torn rotation.parquet (${rows.length} rows) " +
        "— the OPQ artifact is unusable; rebuild with writeIvfPqIndex")
    (rows.flatMap(_.getSeq[Double](1)), dim)
  }

  /** A stored index's validated publish record and its bounded model
    * tables — what every grow path encodes against and every serving
    * path probes with. `codebooks` is empty for the raw codec. */
  private[graft] final case class IndexModel(
      meta: org.apache.spark.sql.Row,
      rotation: Option[(Array[Double], Int)],
      centroids: DataFrame, codebooks: Option[DataFrame]) {
    def epoch: Long = meta.getAs[Long]("epoch")
    def residual: Boolean = meta.getAs[Boolean]("residual")
    def payload: Seq[String] = ivfPqPayloadCols(meta)
    /** The per-row stored representation: PQ codes, or the raw unit
      * vector. */
    def codeCol: String = if (codebooks.isEmpty) "n_v" else "codes"
    /** The model tables as bounded LOCAL relations — a long-lived sink
      * then re-reads nothing but the 1-row meta per micro-batch. */
    def localized: IndexModel = {
      def loc(df: DataFrame) =
        localFrame(df.sparkSession, df.collect(), df.schema)
      copy(centroids = loc(centroids), codebooks = codebooks.map(loc))
    }
  }

  /** Load the model of the index at `path`. Capture order matters: the
    * EPOCH (with the whole validated record) is read BEFORE the model
    * tables. A swap completing between the two then pairs the NEW model
    * with the OLD epoch and the first commit fails loudly on the guard —
    * the safe direction; the reverse order would pair the OLD model with
    * the NEW epoch, and every commit would pass the guard while landing
    * stale-model rows (r18 review finding). */
  private[graft] def loadIndexModel(
      spark: org.apache.spark.sql.SparkSession, path: String): IndexModel = {
    val meta = readIvfPqMeta(spark, path)
    IndexModel(meta,
      if (ivfPqOpqFlag(meta)) Some(loadIvfPqRotation(spark, path)) else None,
      spark.read.parquet(s"$path/centroids.parquet"),
      if (ivfPqCodec(meta) == "raw") None
      else Some(spark.read.parquet(s"$path/codebooks.parquet")))
  }

  /** Rotate a unit-vector column by a flat row-major rotation constant,
    * enforcing the full trained width per row: a narrower vector could
    * pass the kernel's divisibility guard and silently project into
    * garbage space (r19 review). */
  private[graft] def rotatedUnit(
      v: Column, r: Array[Double], dim: Int, caller: String): Column = {
    val rLit = org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        r.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    when(size(v) === dim, graft.plans.MatVec.matVecCol(rLit, v))
      .otherwise(raise_error(concat(
        lit(s"$caller: vector width "), size(v).cast("string"),
        lit(s" != the rotation's trained width $dim — OPQ must be " +
          "trained and applied at the full embedding width"))))
  }

  /** Validate a caller-supplied payload column list: present on the
    * corpus, no duplicates, and no (case-insensitive) clash with the
    * index's own column names — a payload named `cell` or `codes` would
    * silently shadow the index structure it is stored beside. */
  private def requirePayloadCols(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      payload: Seq[String], caller: String): Unit = {
    val reserved = Set("n_id", "n_v", "t_v", "cell", "cv", "codes",
      "probe_rank", "q_id", "q_v", "q_sv", "q_lut", "cos", "cos_adc",
      "rank", "__any")
    val lower = payload.map(_.toLowerCase)
    require(lower.distinct.length == lower.length,
      s"$caller: duplicate payload columns in ${payload.mkString(", ")}")
    val clash = payload.filter(p => reserved.contains(p.toLowerCase) ||
      p.equalsIgnoreCase(corpusId) || p.equalsIgnoreCase(corpusVec))
    require(clash.isEmpty,
      s"$caller: payload column(s) ${clash.mkString(", ")} clash with " +
        "index/search column names — rename them before indexing")
    val missing = payload.filterNot(p =>
      corpus.columns.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"$caller: payload column(s) ${missing.mkString(", ")} not present " +
        s"on the corpus (has: ${corpus.columns.mkString(", ")})")
  }

  /** The live publish epoch of the index at `path`. */
  private[graft] def readIvfPqEpoch(
      spark: org.apache.spark.sql.SparkSession, path: String): Long =
    readIvfPqMeta(spark, path).getAs[Long]("epoch")

  /** Fail loudly if the index at `path` was republished since the caller
    * loaded its model tables at `expected` — the commit-time half of the
    * epoch guard: an append/ingest whose encode raced a
    * [[writeIvfPqIndex]]/[[compactIvfPqIndex]] root swap would otherwise
    * land codes encoded against the SUPERSEDED centroids/codebooks inside
    * the new root, a silent recall corruption no later read can see.
    *
    * Honest limit: epochs are monotone ACROSS PUBLISHES of a surviving
    * artifact, but an out-of-band `rm -rf` of the whole index followed
    * by a from-scratch rebuild re-issues epoch 1 — a stale writer from
    * before the delete would pass the guard against the unrelated new
    * model. Deleting a live artifact under concurrent writers is
    * outside every store's contract here; the guard targets the
    * REPUBLISH race, which never destroys the meta lineage. */
  private[graft] def requireIvfPqEpoch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      expected: Long, action: String): Unit = {
    // deliberately NO recoverSwap and NO full-record validation here —
    // the lean read is both the hot path (once per streaming micro-batch)
    // and the correct contention semantics: a commit racing a rebuild's
    // swapInto must LOSE. Recovering here would rename the stranded
    // `.old` back over the rebuild's in-flight window, fail ITS
    // tmp->live rename, and destroy the staged new artifact while this
    // stale commit sails through on the restored old epoch — the exact
    // inversion of "rebuild wins, commit throws". A missing root/meta
    // inside the swap window fails this read loudly, which IS the
    // contract; the model-load path (readIvfPqMeta) already validated
    // the record shape, so only post-epoch artifacts reach commits.
    val now = spark.read.parquet(s"$path/meta.parquet")
      .select("epoch").head().getLong(0)
    if (now != expected)
      throw new IllegalStateException(
        s"$action: the index at $path was republished (epoch $expected -> " +
          s"$now) between model load and commit — the staged rows were " +
          "encoded against a superseded model and must not land; re-run " +
          "the batch against the new index")
  }

  /** Shared assign→(residual-subtract) stage of the composed IVF+PQ
    * index: (n_id, cell, t_v) where t_v is the vector the codebooks
    * see — the cell residual under IVFADC, the unit vector otherwise.
    * Any OTHER column on `c` (the index's payload columns — see
    * [[writeIvfPqIndex]]) rides through untouched. One helper used by
    * BOTH [[writeIvfPqIndex]] and [[appendIvfPqIndex]] so the two
    * paths cannot drift apart in encoding convention (appended rows
    * must be bit-identical to what a rebuild would produce). */
  private[graft] def ivfPqTrainRows(
      c: DataFrame, centroids: DataFrame, residual: Boolean): DataFrame = {
    val extras = c.columns.filterNot(Set("n_id", "n_v").contains).map(col)
    val assigned = assignCell(c, "n_id", "n_v", centroids)
    if (residual)
      assigned.join(broadcast(centroids), Seq("cell"))
        .select(col("n_id") +: col("cell") +:
          zip_with(col("n_v"), col("cv"), (x, y) => x - y).as("t_v") +:
          extras: _*)
    else assigned.select(col("n_id") +: col("cell") +:
      col("n_v").as("t_v") +: extras: _*)
  }

  /** Encode the (n_id, cell, t_v) stage as ONE projection — the codec's
    * one branch point: PQ codes against `codebooks` (the codebook rides
    * as a plan constant, so this is a single map pass with no self-join
    * and no re-execution of the upstream lineage — a self-join of the
    * stage with [[pqEncode]] would plan the assign twice and shuffle to
    * re-pair), or, with no codebooks, the raw codec's unit vector itself
    * as `n_v`. */
  private[graft] def ivfPqIndexRows(
      train: DataFrame, codebooks: Option[DataFrame]): DataFrame = {
    val extras =
      train.columns.filterNot(Set("n_id", "cell", "t_v").contains).map(col)
    val stored = codebooks match {
      case None => col("t_v").as("n_v")
      case Some(cbs) =>
        val (cb, _) = collectCodebooks(cbs)
        graft.plans.PqKernels.encodeCol(col("t_v"),
          graft.plans.PqKernels.flatCodebook(cb), cb.length, cb.head.length)
          .as("codes")
    }
    train.select(col("n_id") +: col("cell") +: stored +: extras: _*)
  }

  /** The one encode step of every grow path ([[appendIvfPqIndex]],
    * [[ingestIvfPqBatch]], the streaming sinks): project (n_id, unit
    * n_v, recorded payload), rotate an OPQ artifact's arrivals against
    * the STORED matrix, assign against the stored centroids and encode
    * per the codec — the writer's own [[ivfPqTrainRows]] /
    * [[ivfPqIndexRows]] stages, so grown rows are bit-identical to what
    * a rebuild would produce. */
  private[graft] def encodeArrivals(
      model: IndexModel, batch: DataFrame, idCol: String, vecCol: String,
      caller: String): DataFrame = {
    requirePayloadCols(batch, idCol, vecCol, model.payload, caller)
    val c0 = batch.select(col(idCol).as("n_id") +:
      VectorFns.unitizeNative(col(vecCol)).as("n_v") +:
      model.payload.map(col): _*)
    val c = model.rotation match {
      case Some((r, dim)) =>
        c0.withColumn("n_v", rotatedUnit(col("n_v"), r, dim, caller))
      case None => c0
    }
    ivfPqIndexRows(ivfPqTrainRows(c, model.centroids, model.residual),
      model.codebooks)
  }

  /** Incrementally index new vectors into a stored [[writeIvfPqIndex]]
    * index (either codec): assign against the STORED centroids and
    * encode against the STORED codebooks (honoring the artifact's
    * residual flag) in one map pass over the new batch only — the corpus
    * is never re-read, no clustering or codebook training re-runs — and
    * append the rows to the `index` table. Append is NOT idempotent (a
    * replayed batch double-indexes — dedupe ids upstream, use
    * [[ingestIvfPqBatch]], or rebuild), and both the cell structure and
    * the codebooks age as the corpus drifts; rebuild with
    * [[writeIvfPqIndex]] when the recall differential over the grown
    * corpus says so.
    *
    * Concurrency caveat: append reads the model tables, encodes, then
    * commits — a [[writeIvfPqIndex]] rebuild that swaps the root in
    * that window either strands the batch in the superseded root
    * (silently absent from the new index) or, worse, lands rows
    * encoded against the OLD model in the NEW index. The publish
    * EPOCH guards both: the epoch is captured with the model
    * ([[loadIndexModel]]), re-checked BEFORE the encode job (fail fast),
    * the encode job lands in a dot-prefixed STAGING sibling (invisible
    * to every reader of `index.parquet`), the epoch is re-verified AFTER
    * the job completes, and only then do the staged part files rename
    * into the live table — so a rebuild that swaps the root at ANY point
    * during the encode/write makes the commit THROW with nothing visible
    * landed. A swap racing the final renames themselves moves the
    * staging dir into the superseded `.old` root, so the renames fail
    * loudly too. A rebuild re-encodes the full corpus, so a failed
    * append is repaired by re-running the batch after the rebuild; a
    * rebuild that STARTS after a successful commit supersedes it by
    * design (rebuilds read the corpus, not the index). */
  def appendIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val model = loadIndexModel(spark, path)
    commitIvfPqAppend(spark, path,
      encodeArrivals(model, newVectors, idCol, vecCol, "appendIvfPqIndex"),
      model.epoch)
  }

  /** Commit half of [[appendIvfPqIndex]], split out so the epoch guard is
    * independently testable. Stage-then-commit (r19): verify the epoch
    * (fail fast, before paying the encode), run the encode job into a
    * dot-prefixed staging dir under the root (parquet readers of
    * `index.parquet` never see it), re-verify the epoch AFTER the job,
    * and only then rename the staged part files into the live table —
    * the unguarded window is the per-file renames, and a swap racing
    * even those moves the staging dir into the superseded `.old` root
    * so the renames fail loudly. Throws with nothing visible landed if
    * a rebuild swapped the root since the model was loaded at
    * `expectedEpoch`. */
  private[graft] def commitIvfPqAppend(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, expectedEpoch: Long,
      afterStage: () => Unit = () => ()): Unit =
    stageThenCommit(spark, path, rows, "index.parquet", expectedEpoch,
      "appendIvfPqIndex", afterStage)

  /** The epoch-guarded stage-then-commit shared by [[commitIvfPqAppend]]
    * and [[deleteFromIvfPqIndex]]: write the job into a dot-prefixed
    * staging sibling (invisible to parquet readers of any table under
    * the root), re-verify the publish epoch AFTER the job, then rename
    * the staged part files into `destName`. A root swap during the job
    * fails the re-check with nothing visible landed; a swap racing the
    * renames moves the staging with the superseded root and the renames
    * fail loudly. */
  private def stageThenCommit(
      spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, destName: String, expectedEpoch: Long,
      action: String, afterStage: () => Unit = () => ()): Unit = {
    requireIvfPqEpoch(spark, path, expectedEpoch, action)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(root,
      s".stage-${java.util.UUID.randomUUID}")
    try {
      rows.write.mode("overwrite").parquet(staging.toString)
      afterStage() // test seam: a rebuild racing the staged job lands here
      // the job is done and invisible; a rebuild that swapped the root
      // during it must win — nothing has landed, just throw
      requireIvfPqEpoch(spark, path, expectedEpoch, action)
      val dest = new org.apache.hadoop.fs.Path(root, destName)
      fs.mkdirs(dest) // first commit of this table (tombstones delta)
      // track committed files so a rename failing PARTWAY (disk quota,
      // permissions, or a racing swap) rolls the earlier ones back —
      // without the rollback, "re-run the batch" on a partial commit
      // would double-land the already-committed ids (r19 review)
      val moved = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.Path]
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("part-")).foreach { p =>
          // staged part names carry the staging job's own UUID — unique
          // in dest by construction
          val target = new org.apache.hadoop.fs.Path(dest, p.getName)
          if (!fs.rename(p, target)) {
            // attempt EVERY delete (map-then-forall, not a
            // short-circuiting forall): one failed delete must not
            // abandon the rest of the rollback
            val undone = moved.map(m =>
              try fs.delete(m, false)
              catch { case scala.util.control.NonFatal(_) => false })
              .forall(identity)
            throw new IllegalStateException(
              s"$action: commit rename of staged file $p into $dest " +
                "failed (a racing rebuild's root swap, or an fs error); " +
                (if (undone)
                  "already-committed files were rolled back — nothing " +
                    "landed; re-run the batch"
                else
                  s"rollback of ${moved.size} already-committed file(s) " +
                    "ALSO failed — the table may hold a partial batch; " +
                    "verify with ivfPqIndexHealth before re-running " +
                    "(a blind re-run would double-land those ids)"))
          }
          moved += target
        }
    } finally {
      // staging cleanup must not mask a commit failure
      try fs.delete(staging, true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** DELETE rows from a stored composed index — the missing lifecycle
    * verb beside grow/observe/compact (the reference deletes selected
    * rows first-class: wins_transform_staging.py:255,265 — a takedown
    * or a dedup survivor list is exactly such a selection applied to
    * the index): land the ids as a TOMBSTONE delta under
    * `tombstones.parquet`; every serving path ([[ivfPqStoredTopK]],
    * the filtered variant, both sweeps) anti-joins it before the ADC
    * scan, so deleted ids stop appearing immediately — no rebuild, no
    * re-encode, the codes stay where they are until compaction drops
    * them. Deleting an id not (yet) in the index is a no-op by
    * construction; replaying a delete batch is idempotent (duplicate
    * tombstones collapse at read). Epoch-guarded with the full
    * stage-then-commit discipline (a delete SILENTLY lost to a racing
    * rebuild would be a takedown failure — the one direction this
    * artifact must never fail quietly).
    *
    * Contracts: tombstones suppress BY ID — re-indexing a deleted id
    * (append/ingest) leaves it suppressed until [[compactIvfPqIndex]]
    * folds the tombstones away (compact anti-joins them out of the
    * grown corpus, so deletion is DURABLE across compaction; a raw
    * [[writeIvfPqIndex]] rebuild, by contrast, resets the index to
    * whatever corpus it is given). [[ivfPqIndexHealth]] reports
    * `tombstone_rows` / `dead_rows` — compact when the dead fraction
    * says so. Scale shape: the tombstone table is bounded by the
    * deletes between compactions and broadcasts into the serving
    * anti-join; the delete itself is one tiny staged write. */
  def deleteFromIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String,
      afterStage: () => Unit = () => ()): Unit = {
    val epoch = readIvfPqMeta(spark, path).getAs[Long]("epoch")
    stageThenCommit(spark, path,
      ids.select(col(idCol).as("n_id")).distinct(),
      "tombstones.parquet", epoch, "deleteFromIvfPqIndex", afterStage)
  }

  /** Index one batch of new vectors into the stored index's INGEST DELTA —
    * the batch form of [[graft.streaming.DocStreams.ivfPqIngestSink]]'s
    * per-micro-batch write, and the one implementation both share: assign
    * against the stored centroids, encode against the stored codebooks
    * (honoring the artifact's residual flag), and land the rows
    * delta-style under `path/ingest.parquet/batch_id=<batchId>` with
    * per-partition overwrite — re-running the same `batchId` rewrites
    * identical content instead of double-indexing (the encode is
    * deterministic given the stored model), which the append-mode
    * [[appendIvfPqIndex]] cannot promise. [[ivfPqStoredTopK]] reads
    * base + delta transparently; [[compactIvfPqIndex]] folds the delta
    * back into the base. Epoch-guarded like the appender: a rebuild
    * swapping the root between model load and commit throws. */
  def ingestIvfPqBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, batchId: Long): Unit =
    commitIvfPqIngest(spark, path, batch, idCol, vecCol, batchId,
      loadIndexModel(spark, path))

  /** Encode-and-land core shared by [[ingestIvfPqBatch]] and the streaming
    * sink (which pre-loads the bounded model tables once and passes them
    * per batch): epoch check before the job (fail fast), one map pass
    * over the batch, one delta-partition overwrite — then (r19) a
    * POST-write epoch re-check that QUARANTINES the landed batch dir on
    * mismatch: a rebuild that swapped the root before the write began
    * would otherwise leave rows encoded against the superseded model
    * sitting inside the NEW root's delta (the silent corruption the
    * epoch exists to prevent); the batch dir is deterministic
    * (`batch_id=<id>`) so the mismatch path deletes exactly what this
    * commit wrote and throws. A swap DURING/AFTER the write instead
    * strands the dir in the superseded `.old` root (the delete of the
    * live path is then a no-op) — same loud outcome, re-run the batch. */
  private[graft] def commitIvfPqIngest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String, batchId: Long,
      model: IndexModel, afterCheck: () => Unit = () => ()): Unit = {
    requireIvfPqEpoch(spark, path, model.epoch, "ivfPqIngest")
    afterCheck() // test seam: a rebuild racing the encode job lands here
    val dest = s"$path/ingest.parquet/batch_id=$batchId"
    encodeArrivals(model, batch, idCol, vecCol, "ivfPqIngest")
      .write.mode("overwrite").parquet(dest)
    try requireIvfPqEpoch(spark, path, model.epoch, "ivfPqIngest")
    catch {
      case e: IllegalStateException =>
        try {
          val d = new org.apache.hadoop.fs.Path(dest)
          val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(d, true)
          // a quarantine that created the delta root must not leave it
          // EMPTY — parquet readers fail on a fileless directory
          val parent = d.getParent
          if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
            fs.delete(parent, true)
        } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }

  /** Compact a stored index: rebuild centroids + codebooks + codes
    * from `corpus` — the GROWN source of truth (base source plus every
    * ingested/appended arrival; the PQ codec stores codes, not vectors,
    * so compaction must re-read the real vectors) — with the
    * artifact's OWN training config from `meta.parquet`, and swap the
    * root in one atomic publish that drops the ingest delta. The third
    * act of the ingest story: [[graft.streaming.DocStreams
    * .ivfPqIngestSink]] grows the delta, [[ivfPqIndexHealth]]'s
    * `delta_rows` says when a growing share of the index was encoded by
    * a model that never saw it, and this folds everything back into one
    * freshly-trained base (`delta_rows` returns to 0, the epoch bumps,
    * and in-flight appends/ingests racing the swap fail loudly on the
    * epoch guard instead of corrupting the new root).
    *
    * Scale shape: exactly a [[writeIvfPqIndex]] — bounded model
    * collects, map-side assign/encode passes, training one-time by
    * contract. Run it when the health report says so, not per batch. */
  def compactIvfPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String): Unit = {
    val meta = readIvfPqMeta(spark, path)
    // deletion is DURABLE across compaction: tombstoned ids are
    // anti-joined out of the grown corpus BEFORE the rebuild, and the
    // root swap then drops the tombstone table with the ingest delta —
    // the compacted index neither stores nor suppresses them
    val tombP = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    val fs = tombP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kept =
      if (fs.exists(tombP)) {
        val tomb = spark.read.parquet(tombP.toString)
          .select(col("n_id").as("__tomb_id"))
        corpus.join(broadcast(tomb),
          corpus(idCol) === col("__tomb_id"), "left_anti")
      } else corpus
    writeIvfPqIndex(kept, idCol, vecCol, path,
      nLists = meta.getAs[Int]("n_lists"),
      lloydIters = meta.getAs[Int]("lloyd_iters"),
      m = meta.getAs[Int]("m"), ksub = meta.getAs[Int]("ksub"),
      pqIters = meta.getAs[Int]("pq_iters"),
      residual = meta.getAs[Boolean]("residual"),
      payload = ivfPqPayloadCols(meta),
      // an OPQ compact retrains the ROTATION too (rebuild semantics:
      // the grown corpus deserves a fresh basis, same as fresh cells
      // and codebooks)
      opq = ivfPqOpqFlag(meta), codec = ivfPqCodec(meta))
  }

  /** Operational health report for a stored index (either codec) — the
    * one-row "rebuild yet?" dashboard the append/ingest contracts defer
    * to ([[appendIvfPqIndex]], [[graft.streaming.DocStreams.ivfPqIngestSink]]):
    *
    *  - `total_indexed` / `base_rows` / `delta_rows` — how much of the
    *    index is streaming-ingest delta (a large delta fraction means a
    *    growing share was encoded by a model that never saw it: compact
    *    by rebuilding from the grown corpus);
    *  - `n_lists` / `cells_used` / `empty_cells` / `min_pop` / `max_pop`
    *    / `imbalance` (max over mean population) — cell balance, which
    *    bounds both worst-case probe cost (a fat cell makes every probe
    *    that hits it scan-heavy) and recall (drifted arrivals piling
    *    into few cells defeat nProbe pruning);
    *  - `bad_codes` — rows whose code array is structurally wrong
    *    (length ≠ m or a code outside [0, ksub); under the raw codec, a
    *    vector narrower or wider than the centroids): always 0 for indexes
    *    written here; nonzero means artifact corruption. The m/ksub
    *    bounds come from `meta.parquet` — the publish-time record —
    *    NOT from the codebooks table under audit (deriving them from
    *    the codebooks would let a truncated codebook SHIFT the bounds:
    *    codes 32..63 missing makes ksub look like 32 and flags valid
    *    index rows while hiding the codebook damage itself);
    *  - `bad_codebook` — 1 when the codebooks table disagrees with the
    *    publish record: not exactly m×ksub distinct (sub, code) rows
    *    covering [0,m)×[0,ksub), or non-uniform codeword length. A
    *    torn/foreign codebooks table is reported HERE instead of
    *    corrupting the `bad_codes` arithmetic (always 0 under the raw
    *    codec, which has none);
    *  - `tombstone_rows` / `dead_rows` — distinct ids deleted via
    *    [[deleteFromIvfPqIndex]], and how many stored rows they
    *    suppress (dead rows still occupy cells and probe cost until
    *    [[compactIvfPqIndex]] drops them — a growing dead fraction is
    *    the compact-now signal, same as a growing delta).
    *
    * Scale shape: centroids/codebooks are bounded model tables; the
    * index scan folds per-row checks map-side into a groupBy on `cell`
    * (≤ nLists keys, partial-aggregated) and one 1-row rollup — no
    * collect of data, no join against the corpus, vectors never read. */
  def ivfPqIndexHealth(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // first read goes through readIvfPqMeta, which owns swap recovery —
    // the one recovery site every meta consumer shares
    val metaRow = readIvfPqMeta(spark, path)
    val raw = ivfPqCodec(metaRow) == "raw"
    val cen = spark.read.parquet(s"$path/centroids.parquet")
      .agg(count(lit(1)), max(size(col("cv")))).head()
    val nLists = cen.getLong(0)
    val (m, ksub) =
      (metaRow.getAs[Int]("m").toLong, metaRow.getAs[Int]("ksub").toLong)
    // the raw codec trains no codebooks: nothing to disagree with
    lazy val cbk = spark.read.parquet(s"$path/codebooks.parquet")
      .agg(count(lit(1)).as("rows"),
        countDistinct(col("sub"), col("code")).as("sc"),
        min(col("sub")).as("s0"), max(col("sub")).as("s1"),
        min(col("code")).as("c0"), max(col("code")).as("c1"),
        countDistinct(size(col("cv"))).as("lens")).head()
    val badCodebook =
      if (raw) 0L
      else if (cbk.getLong(0) == 0L) 1L
      else if (cbk.getLong(0) == m * ksub && cbk.getLong(1) == m * ksub &&
        cbk.getInt(2) == 0 && cbk.getInt(3) == m - 1 &&
        cbk.getInt(4) == 0 && cbk.getInt(5) == ksub - 1 &&
        cbk.getLong(6) == 1L) 0L
      else 1L
    // rotation audit: an OPQ artifact needs a well-formed ORTHONORMAL
    // rotation (codes are meaningless without it); a rotation table on
    // a non-OPQ artifact is foreign debris. Driver-side — the rotation
    // is a bounded model table.
    val badRotation: Long =
      if (ivfPqOpqFlag(metaRow)) {
        try {
          val (r0, dim) = loadIvfPqRotation(spark, path)
          var worst = 0.0
          var i = 0
          while (i < dim) {
            var j = i
            while (j < dim) {
              var s = 0.0
              var p = 0
              while (p < dim) { s += r0(i * dim + p) * r0(j * dim + p); p += 1 }
              worst = math.max(worst,
                math.abs(s - (if (i == j) 1.0 else 0.0)))
              j += 1
            }
            i += 1
          }
          if (worst < 1e-6) 0L else 1L
        } catch { case scala.util.control.NonFatal(_) => 1L }
      } else if (fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/rotation.parquet"))) 1L
      else 0L
    val stored = if (raw) "n_v" else "codes"
    val base = spark.read.parquet(s"$path/index.parquet")
      .select("n_id", "cell", stored)
    val ingest = new org.apache.hadoop.fs.Path(s"$path/ingest.parquet")
    val delta =
      if (fs.exists(ingest))
        spark.read.parquet(ingest.toString).select("n_id", "cell", stored)
      else null
    val all = (if (delta == null) base.withColumn("is_delta", lit(0L))
               else base.withColumn("is_delta", lit(0L))
                 .unionByName(delta.withColumn("is_delta", lit(1L))))
    // tombstones: the delete delta ([[deleteFromIvfPqIndex]]). The
    // distinct-id count and the per-row dead flag ride the same
    // broadcast the serving anti-join uses; dead rows still count in
    // the population stats (they occupy the cells until compaction —
    // probe cost is about stored rows, not live ones).
    val tombP = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    val tomb =
      if (fs.exists(tombP))
        spark.read.parquet(tombP.toString).select("n_id").distinct()
      else null
    val tombRows = if (tomb == null) 0L else tomb.count()
    val flagged =
      if (tomb == null) all.withColumn("__dead", lit(0L))
      else all.join(broadcast(tomb.withColumn("__dead", lit(1L))),
        Seq("n_id"), "left")
        .withColumn("__dead", coalesce(col("__dead"), lit(0L)))
    // a raw row is structurally bad when its vector is not centroid-wide
    val bad =
      if (raw) size(col("n_v")) =!= lit(if (cen.isNullAt(1)) -1 else cen.getInt(1))
      else size(col("codes")) =!= lit(m.toInt) ||
        exists(col("codes"), c => c < 0 || c >= lit(ksub.toInt))
    val r = flagged.select(col("cell"), col("is_delta"), col("__dead"),
        bad.cast("long").as("bad"))
      .groupBy("cell")
      .agg(count(lit(1)).as("pop"), sum("bad").as("bad"),
        sum("is_delta").as("d"), sum("__dead").as("dd"))
      .agg(count(lit(1)).as("cells_used"), sum("pop").as("total"),
        min("pop").as("min_pop"), max("pop").as("max_pop"),
        sum("bad").as("bad_codes"), sum("d").as("delta_rows"),
        sum("dd").as("dead_rows")).head()
    // an empty index aggregates to NULLs (count 0) — report zeros, not NPE
    def lg(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val (cellsUsed, total) = (lg(0), lg(1))
    val (minPop, maxPop) = (lg(2), lg(3))
    val (badCodes, deltaRows) = (lg(4), lg(5))
    val deadRows = lg(6)
    val imbalance =
      if (total > 0) // max/mean over USED cells; 1.0 = perfectly even
        BigDecimal(maxPop.toDouble * cellsUsed / total)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      else Double.NaN
    localFrame(spark, Array(org.apache.spark.sql.Row(
      total, total - deltaRows, deltaRows, nLists, cellsUsed,
      nLists - cellsUsed, minPop, maxPop, imbalance, badCodes,
      badCodebook, tombRows, deadRows, badRotation)),
      org.apache.spark.sql.types.StructType(
        Seq("total_indexed", "base_rows", "delta_rows", "n_lists",
          "cells_used", "empty_cells", "min_pop", "max_pop").map(n =>
          org.apache.spark.sql.types.StructField(n,
            org.apache.spark.sql.types.LongType)) ++ Seq(
          org.apache.spark.sql.types.StructField("imbalance",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("bad_codes",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bad_codebook",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("tombstone_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("dead_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("bad_rotation",
            org.apache.spark.sql.types.LongType))))
  }

  /** Open a stored index for SERVING — the one implementation of the
    * open every stored-search path shares (the r18 review found three
    * drifting copies): the validated model ([[loadIndexModel]]: swap
    * recovery, record/codec validation) and the stored rows with any
    * streaming-ingest delta unioned in
    * ([[graft.streaming.DocStreams.ivfPqIngestSink]] lands arrivals
    * under `ingest.parquet/batch_id=<id>`; [[compactIvfPqIndex]] folds
    * them away) and tombstoned ids removed. [[ivfPqIndexHealth]] does
    * NOT read through here by design — it must keep base and delta
    * separate to report the split. */
  private def openStoredIndex(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : (IndexModel, DataFrame) = {
    val model = loadIndexModel(spark, path)
    val rootFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // explicit column list (structure + recorded payload): base and
    // delta then union by construction, and a foreign column landed in
    // either table can never silently ride into the serving plan
    val cols = (Seq("n_id", "cell", model.codeCol) ++ model.payload)
      .map(col)
    val baseIndex = spark.read.parquet(s"$path/index.parquet")
      .select(cols: _*)
    val ingest = new org.apache.hadoop.fs.Path(s"$path/ingest.parquet")
    val index =
      if (rootFs.exists(ingest))
        baseIndex.unionByName(spark.read.parquet(ingest.toString)
          .select(cols: _*))
      else baseIndex
    // tombstones ([[deleteFromIvfPqIndex]]) suppress deleted ids at the
    // one site every serving path shares — BEFORE the probe join and
    // scoring, so dead rows neither appear in results nor waste
    // shortlist slots. Broadcast anti: the tombstone table is bounded
    // by the deletes between compactions.
    val tomb = new org.apache.hadoop.fs.Path(s"$path/tombstones.parquet")
    val served =
      if (rootFs.exists(tomb))
        index.join(broadcast(spark.read.parquet(tomb.toString)
          .select("n_id")), Seq("n_id"), "left_anti")
      else index
    (model, served)
  }

  /** The query preamble every PQ serving path shares ([[ivfPqStoredTopK]],
    * the probe sweeps, [[pqStoredShortlistSweep]] and their filtered
    * variants): open the artifact with `where` applied to the stored
    * scan (eligibility prunes the scan and its parquet row groups, never
    * a finished top-k), unitize the queries, rotate them into an OPQ
    * artifact's space, project the per-query LUT once BEFORE the probe
    * fanout, probe the `nProbe` nearest cells (ranked — `probe_rank`
    * answers every smaller budget by filter) and ADC-score the probed
    * cells' codes, adding the exact q·centroid term under residual
    * encoding. Returns the original-space (q_id, q_v) queries for the
    * exact re-rank (rotation preserves dots, and the re-rank corpus is
    * original-space) and the scored rows (n_id, probe_rank, cos_adc,
    * ...). */
  private def storedAdcScan(
      spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, queryId: String, queryVec: String, nProbe: Int,
      where: Option[Column], caller: String): (DataFrame, DataFrame) = {
    val (model, served) = openStoredIndex(spark, path)
    val (cb, _) = collectCodebooks(model.codebooks.getOrElse(throw
      new IllegalArgumentException(s"$caller: the index at $path stores " +
        "the raw codec (vectors, no codes) — search it with annIvfStored")))
    val ksub = cb.head.length
    val index = where.map(served.filter).getOrElse(served)
    val q = queries.select(col(queryId).as("q_id"),
        VectorFns.unitizeNative(col(queryVec)).as("q_v"))
      .withColumn("q_sv", model.rotation match {
        case Some((r, dim)) => rotatedUnit(col("q_v"), r, dim, caller)
        case None => col("q_v")
      })
    // q_v is not needed past the LUT — the re-rank re-derives it from q
    val probed = assignCellsRanked(
      q.withColumn("q_lut", graft.plans.PqKernels.lutCol(col("q_sv"),
        graft.plans.PqKernels.flatCodebook(cb), cb.length, ksub))
        .drop("q_v"),
      "q_id", "q_sv", model.centroids, p = nProbe)
    val adc = graft.plans.PqKernels.adcCol(col("codes"), col("q_lut"), ksub)
    // the ranked assignment carries each probed cell's cv, so the
    // residual q·c term needs no centroid join
    val scored =
      if (model.residual)
        index.join(broadcast(probed
            .withColumn("__qc", VectorFns.dotNative(col("q_sv"), col("cv")))
            .drop("cv")), Seq("cell"))
          .withColumn("cos_adc", col("__qc") + adc)
      else index.join(broadcast(probed.drop("cv")), Seq("cell"))
        .withColumn("cos_adc", adc)
    (q.select("q_id", "q_v"), scored)
  }

  /** Exact re-rank of shortlisted candidates that REFUSES to silently
    * drop ids missing from `corpusForRerank`:
    * shared by every STORED-index search path, where the corpus argument
    * can drift from what was indexed — a plain inner join would then
    * shrink each query's candidate set (and its recall) with no
    * diagnostic, quietly returning k−1 (or fewer) rows. The join STAYS
    * inner (the scale shape: the tiny candidate set broadcasts against
    * the corpus — a left-outer would force the corpus through a
    * shuffle); coverage is checked instead by carrying the per-query
    * candidate count across the join and comparing it to the per-query
    * survivor count, both one window over the post-shortlist frame
    * (≤ shortlist×|queries| rows, partitioning reused). Any shortfall
    * raises with the query id and the missing count. The two r18 blind
    * spots are closed (r19): a query whose ENTIRE candidate set is
    * missing has no surviving row to raise from, so after the checks the
    * full query-id set is left-joined back against the survivors (the
    * survivor frame is ids+cos only — vectors dropped — and bounded by
    * shortlist×|queries|, so it broadcasts; the join preserves qkeyed
    * and any unmatched query raises naming itself) — the message also
    * covers the other zero-survivor cause, a probe that returned no
    * rows; and a duplicated pair is BLAMED ON THE RIGHT SIDE: the pair
    * count is taken on the shortlist BEFORE the corpus join (same
    * window partitioning, no new exchange), so a duplicate already in
    * the stored index (a replayed [[appendIvfPqIndex]] batch) is
    * reported as index-side instead of misdirecting the operator at
    * corpusForRerank. */
  private def rerankChecked(
      cand: DataFrame, corpusForRerank: DataFrame, corpusId: String,
      corpusVec: String, qkeyed: DataFrame,
      caller: String, allowVanished: Boolean = false): DataFrame = {
    val c = corpusForRerank.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val wq = Window.partitionBy("q_id")
    val checked = cand
      // pair count on the SHORTLIST side, before the corpus join: > 1
      // here means the stored index itself carries the id twice
      .withColumn("__cand_pair_n",
        count(lit(1)).over(Window.partitionBy("q_id", "n_id")))
      .withColumn("__cand_n", count(lit(1)).over(wq))
      .join(c, Seq("n_id"))
      .join(broadcast(qkeyed), Seq("q_id"))
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
      // duplicate ids are detected PER PAIR, not by comparing totals: a
      // duplicate fanning the join out could exactly offset a missing id
      // in the per-query counts and slip a torn corpus through a
      // totals-only check (r18 review). Partitioning by (q_id, n_id)
      // refines the q_id clustering already in place — no new exchange.
      .withColumn("__pair_n",
        count(lit(1)).over(Window.partitionBy("q_id", "n_id")))
      .where(when(col("__pair_n") === 1, lit(true))
        .otherwise(raise_error(when(col("__cand_pair_n") > 1, concat(
          lit(s"$caller: the STORED INDEX carries duplicate ids — id "),
          col("n_id").cast("string"), lit(" appears "),
          col("__cand_pair_n").cast("string"),
          lit(" times in the shortlist itself (a replayed append " +
            "batch?); compact or rebuild the index"))).otherwise(concat(
          lit(s"$caller: corpusForRerank carries duplicate ids — id "),
          col("n_id").cast("string"), lit(" appears "),
          (col("__pair_n") / col("__cand_pair_n")).cast("long")
            .cast("string"),
          lit(" times; ids must be unique, as at indexing"))))))
      // with duplicates excluded above, a per-query survivor count below
      // the candidate count means exactly that: missing ids
      .withColumn("__join_n", count(lit(1)).over(wq))
      .where(when(col("__join_n") === col("__cand_n"), lit(true))
        .otherwise(raise_error(concat(
          lit(s"$caller: "),
          (col("__cand_n") - col("__join_n")).cast("string"),
          lit(" of "), col("__cand_n").cast("string"),
          lit(" shortlisted ids for query "), col("q_id").cast("string"),
          lit(" are missing from corpusForRerank — the corpus has " +
            "drifted from the stored index (recall would silently " +
            "shrink); re-point at the indexed corpus or rebuild the " +
            "index")))))
      .drop("__cand_n", "__cand_pair_n", "__pair_n", "__join_n",
        "q_v", "n_v")
    // the FILTERED search path legitimately returns zero rows for a
    // query whose probed cells hold no eligible candidates — the
    // vanished-query diagnostic would read that as corruption
    if (allowVanished) return checked
    // total-disjoint coverage: a query with ZERO survivors vanished from
    // `checked` entirely and none of the row-level raises could fire.
    // Preserve the full query-id set with a left-outer join — the
    // survivor frame is ids+cos (vectors dropped above), bounded by
    // shortlist×|queries|, so it broadcasts (BuildRight, no exchange).
    // The raise is SYSTEMIC-only (r19 review): raise when EVERY query
    // vanished — the wrong-corpus-table shape, where no other check can
    // fire — but let an ISOLATED vanished query return zero rows, since
    // that shape is a legitimately empty probe (all nProbe cells empty
    // or fully tombstoned; health reports empty_cells without alarm)
    // and one degenerate query must not abort the whole batch or brick
    // a streaming sweep sink. Honest limit: a corpus missing exactly
    // one query's ENTIRE shortlist while overlapping every other
    // query's is indistinguishable from an empty probe and drops
    // silently — any partial overlap anywhere still raises above.
    val wAll = Window.partitionBy(lit(1))
    qkeyed.select("q_id").join(broadcast(checked), Seq("q_id"), "left_outer")
      .withColumn("__any", count(col("n_id")).over(wAll))
      .where(when(col("n_id").isNotNull, lit(true))
        .when(col("__any") > 0, lit(false)) // isolated empty probe: drop
        .otherwise(raise_error(concat(
          lit(s"$caller: EVERY query has zero surviving candidates — " +
            "corpusForRerank shares no ids with the index (wrong " +
            "corpus table?) or every probe returned no rows"),
          lit(" (first query id: "), col("q_id").cast("string"),
          lit(")")))))
      .drop("__any")
  }

  /** IVF+PQ search answered ENTIRELY from a stored [[writeIvfPqIndex]]
    * index — the production repeated-query path: probe `nProbe` cells
    * against the stored centroids, ADC-score only those cells' stored
    * codes (adding the q·centroid term when the index is
    * residual-encoded), shortlist per query, and re-rank only the
    * shortlisted ids' full vectors from `corpusForRerank`. Zero
    * training, zero encoding, zero corpus scans at query time; the
    * per-query cost is nLists dots (probe) + |probed cells| × m
    * lookups (scan) + shortlist exact dots (re-rank). Output is
    * [[bruteForceTopK]]'s deterministic contract. */
  def ivfPqStoredTopK(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, nProbe: Int = 4): DataFrame =
    ivfPqStoredTopKCore(spark, path, corpusForRerank, corpusId, corpusVec,
      queries, queryId, queryVec, k, shortlist, nProbe, where = None,
      caller = "ivfPqStoredTopK")

  /** FILTERED stored-index search — top-k among the index rows whose
    * recorded payload columns satisfy `where` (the most common
    * production vector-search shape: "nearest neighbors among docs with
    * `lang = 'de'`"), with the predicate pushed INTO the probe scan:
    * the filter applies to the stored code table BEFORE the probe join
    * and the ADC kernel, so the `shortlist` fills with ELIGIBLE
    * candidates only — post-filtering an unfiltered top-k would
    * silently lose recall whenever ineligible rows crowd the shortlist
    * (at 1% selectivity an 80-deep shortlist post-filters to ~1 row).
    * A simple predicate on payload columns reaches the parquet scan as
    * PushedFilters (row-group pruning at 100 TB — PlanSpec pins the
    * shape); the index stores payload columns when [[writeIvfPqIndex]]
    * was given them (recorded in the publish record; append/ingest
    * carry them automatically).
    *
    * Contract deltas vs [[ivfPqStoredTopK]]: a query CAN legitimately
    * return fewer than k rows — including zero — when its probed cells
    * hold too few eligible rows (scarce stratum), so the
    * vanished-query diagnostic is off here; the per-query
    * missing-id/duplicate checks still raise. Recall is relative to
    * the exact top-k over the SAME filtered corpus. */
  def ivfPqStoredTopKFiltered(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, where: Column,
      nProbe: Int = 4): DataFrame =
    ivfPqStoredTopKCore(spark, path, corpusForRerank, corpusId, corpusVec,
      queries, queryId, queryVec, k, shortlist, nProbe, where = Some(where),
      caller = "ivfPqStoredTopKFiltered")

  private def ivfPqStoredTopKCore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, nProbe: Int, where: Option[Column],
      caller: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val (q, scored) = storedAdcScan(spark, path, queries, queryId, queryVec,
      nProbe, where, caller)
    val ws = Window.partitionBy("q_id")
      .orderBy(round(col("cos_adc"), 6).desc, col("n_id"))
    val cand = scored.withColumn("rank", row_number().over(ws))
      .filter(col("rank") <= shortlist)
      .select("q_id", "n_id")
    val rescored = rerankChecked(cand, corpusForRerank, corpusId, corpusVec,
      q, caller, allowVanished = where.isDefined)
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }

  /** The nProbe tuning curve of a STORED composed index from ONE scan —
    * the operational sibling of [[pqStoredShortlistSweep]] (which tunes
    * the other lever): emits [[ivfPqStoredTopK]]'s exact result for
    * every requested probe budget, scanning the index once at the
    * DEEPEST budget. The algebra mirrors the shortlist sweep with the
    * probe dimension added: a row is scanned under budget p iff its
    * cell's `probe_rank <= p` (one max-budget ranked assignment answers
    * all budgets), its ADC shortlist position under p is the running
    * count of budget-p rows in the fixed ADC ordering, and its final
    * rank under p is the running count of budget-p SHORTLISTED rows in
    * the fixed exact-cosine ordering — so every budget's top-k falls out
    * of two shared window passes plus one exact re-rank over the UNION
    * of the shortlists (≤ |probes|×shortlist×|queries| rows). Per-budget
    * output is identical to running [[ivfPqStoredTopK]] at that nProbe
    * (SimilaritySpec pins the equality); note recall need NOT be
    * monotone in nProbe at a FIXED shortlist — extra probed cells can
    * push ADC-overrated newcomers into the shortlist and evict a true
    * neighbor — which is exactly why this read exists before pinning a
    * probe budget.
    *
    * Scale shape: one compressed cell-keyed scan at max budget (the
    * [[ivfPqStoredTopK]] plan), two bounded window passes, one re-rank
    * join; zero training, zero per-budget re-scans. */
  def ivfPqStoredProbeSweep(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, probes: Seq[Int]): DataFrame =
    ivfPqStoredProbeSweepCore(spark, path, corpusForRerank, corpusId,
      corpusVec, queries, queryId, queryVec, k, shortlist, probes,
      where = None, caller = "ivfPqStoredProbeSweep")

  /** The probe tuning curve UNDER A STRATUM PREDICATE — the two r19
    * features composed: [[ivfPqStoredTopKFiltered]]'s pushed-down
    * eligibility (the predicate lands on the stored code scan, before
    * the probe join and ADC kernel) answered at every probe budget from
    * [[ivfPqStoredProbeSweep]]'s ONE max-budget scan. This is the read
    * an operator takes before pinning a probe budget for a FILTERED
    * workload, which needs more probes than the unfiltered one at the
    * same recall (eligible candidates are thinner on the ground per
    * cell — exactly what this curve measures). Per-budget output is
    * identical to [[ivfPqStoredTopKFiltered]] at that nProbe
    * (spec-pinned); the filtered-search contract carries over: a query
    * can legitimately hold fewer than k rows at small budgets. */
  def ivfPqStoredProbeSweepFiltered(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, probes: Seq[Int], where: Column): DataFrame =
    ivfPqStoredProbeSweepCore(spark, path, corpusForRerank, corpusId,
      corpusVec, queries, queryId, queryVec, k, shortlist, probes,
      where = Some(where), caller = "ivfPqStoredProbeSweepFiltered")

  private def ivfPqStoredProbeSweepCore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      corpusForRerank: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, probes: Seq[Int], where: Option[Column],
      caller: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(probes.nonEmpty, "probes must be non-empty")
    val ps = probes.distinct.sorted
    require(ps.head >= 1, s"every probe budget must be >= 1, got ${ps.head}")
    val (q, scored) = storedAdcScan(spark, path, queries, queryId, queryVec,
      ps.last, where, caller)
    val adcW = Window.partitionBy("q_id")
      .orderBy(round(col("cos_adc"), 6).desc, col("n_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAdc = ps.foldLeft(scored) { (df, p0) =>
      df.withColumn(s"__ar_$p0",
        sum(when(col("probe_rank") <= p0, 1L).otherwise(0L)).over(adcW))
    }
    // shortlisted under budget p: probed within p AND among the first
    // `shortlist` budget-p rows of the ADC ordering
    val inCols = ps.map(p0 => p0 ->
      (col("probe_rank") <= p0 && col(s"__ar_$p0") <= shortlist))
    val cand = inCols.foldLeft(withAdc) { case (df, (p0, in)) =>
        df.withColumn(s"__in_$p0", in)
      }
      .filter(ps.map(p0 => col(s"__in_$p0")).reduce(_ || _))
      .select(col("q_id") +: col("n_id") +:
        ps.map(p0 => col(s"__in_$p0")): _*)
    val rescored = rerankChecked(cand, corpusForRerank, corpusId, corpusVec,
      q, caller, allowVanished = where.isDefined)
    val cosW = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = ps.foldLeft(rescored) { (df, p0) =>
      df.withColumn(s"__r_$p0",
        sum(when(col(s"__in_$p0"), 1L).otherwise(0L)).over(cosW))
    }
    ranked
      .withColumn("cut", explode(filter(
        array(ps.map(p0 => struct(lit(p0).as("n_probe"),
          col(s"__in_$p0").as("inp"),
          col(s"__r_$p0").cast("int").as("rank"))): _*),
        cc => cc.getField("inp") && cc.getField("rank") <= lit(k))))
      .select(col("cut.n_probe").as("n_probe"), col("q_id"),
        col("n_id"), col("cut.rank").as("rank"), col("cos"))
  }

  /** PQ with exact re-ranking — the production shape: the compressed
    * scan retrieves a `shortlist`-deep ADC candidate set per query
    * (cheap, m ints per corpus row), then ONLY the shortlisted rows'
    * full vectors are read back for an exact cosine re-rank (the
    * [[mediaNearDupVerify]] payoff economics: the expensive
    * representation is touched for candidates, never the corpus).
    * Recall approaches exact as `shortlist`/k grows — quantization error
    * only hurts when a true neighbor falls below the shortlist cut, not
    * the final rank. Output is [[bruteForceTopK]]'s deterministic
    * contract (round-6 cosine, id tie-break). */
  def pqTopKRerank(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, shortlist: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = pqTopK(corpus, corpusId, corpusVec,
      queries, queryId, queryVec, shortlist, m, ksub, iters)
      .select(col("q_id"), col("n_id"))
    val c = corpus.select(col(corpusId).as("n_id"),
      VectorFns.unitizeNative(col(corpusVec)).as("n_v"))
    val q = queries.select(col(queryId).as("q_id"),
      VectorFns.unitizeNative(col(queryVec)).as("q_v"))
    val rescored = cand
      .join(c, Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .withColumn("cos", VectorFns.dotNative(col("q_v"), col("n_v")))
    val w = Window.partitionBy("q_id")
      .orderBy(round(col("cos"), 6).desc, col("n_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "n_id", "rank", "cos")
  }
}

/** One-buffer covariance aggregation in CENTERED co-moment form:
  * (count, d running means, d(d+1)/2 upper-triangle co-moments
  * Σ(xᵢ−μᵢ)(xⱼ−μⱼ)) maintained by the Welford update with Chan's
  * parallel merge — the same numerically stable algorithm Spark's own
  * `covar_pop` uses, so [[Similarity.gramCovariance]] really is its
  * full-width twin (a raw-sum E[xy]−E[x]E[y] layout cancels
  * catastrophically on non-centered data: component means ~1e4 with
  * unit variances lose ~8 significant digits — r19 review). One
  * partial-aggregated buffer per partition at any d (the per-pair
  * `covar_pop` plan stops compiling around d≈32). NULL or short
  * vectors throw — covar_pop silently drops them, which is the failure
  * mode `covarianceMatrix`'s guard exists to prevent; same contract
  * here. */
private[graft] class GramAggregator(d: Int,
    caller: String = "gramCovariance")
  extends org.apache.spark.sql.expressions.Aggregator[
    Seq[Double], Array[Double], Array[Double]] {

  private val size = 1 + d + d * (d + 1) / 2

  override def zero: Array[Double] = new Array[Double](size)

  override def reduce(b: Array[Double], x: Seq[Double]): Array[Double] = {
    if (x == null || x.length < d)
      throw new IllegalArgumentException(
        s"$caller: NULL or <$d-dim vector — fix the feed first " +
          "(audit with embed_integrity)")
    val n = b(0) + 1
    b(0) = n
    // delta from the OLD means, then update means, then co-moments with
    // (x_j − NEW mean_j): the textbook Welford two-variable update
    val delta = new Array[Double](d)
    var i = 0
    while (i < d) { delta(i) = x(i) - b(1 + i); i += 1 }
    i = 0
    while (i < d) { b(1 + i) += delta(i) / n; i += 1 }
    var p = 1 + d
    i = 0
    while (i < d) {
      var j = i
      while (j < d) { b(p) += delta(i) * (x(j) - b(1 + j)); j += 1; p += 1 }
      i += 1
    }
    b
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    val na = a(0); val nb = b(0)
    if (nb == 0) return a
    if (na == 0) { System.arraycopy(b, 0, a, 0, size); return a }
    val n = na + nb
    // Chan's parallel combine: M += Mb + outer(d, d) * na*nb/n
    val dm = new Array[Double](d)
    var i = 0
    while (i < d) { dm(i) = b(1 + i) - a(1 + i); i += 1 }
    var p = 1 + d
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        a(p) += b(p) + dm(i) * dm(j) * na * nb / n
        j += 1; p += 1
      }
      i += 1
    }
    i = 0
    while (i < d) { a(1 + i) += dm(i) * nb / n; i += 1 }
    a(0) = n
    a
  }

  override def finish(b: Array[Double]): Array[Double] = b

  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
}
