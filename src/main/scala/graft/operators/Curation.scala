package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: deterministic
  * split assignment and sequence-packing indices. Both are pure map-side /
  * single-window column expressions — no UDFs, fully codegen'd.
  */
object Curation {

  /** The shared membership draw: first 4 hex chars of md5 over the id
    * (optionally salted) — a uniform draw from 65,536 buckets that is
    * stable across runs/partitionings and mirrorable in DuckDB.
    *
    * COMPOSABILITY: two operators filtering on the SAME (id, salt) draw
    * nest thresholds (`min(t1, t2)`) instead of compounding rates —
    * running an unsalted sampler on the output of [[assignSplits]] skews
    * every downstream rate by the split's threshold. Operators that are
    * expected to run downstream of a split carry their own salt
    * ([[mixStrata]]); the legacy unsalted operators keep their draw for
    * membership stability, so compose them on DISJOINT id populations or
    * not at all. */
  private def hashDraw(idCol: String, salt: String): Column = {
    val keyed =
      if (salt.isEmpty) col(idCol).cast("string")
      else concat(col(idCol).cast("string"), lit("|" + salt))
    substring(md5(keyed), 1, 4)
  }

  /** Driver-side rate → 4-hex threshold (see [[stratifiedSample]] for the
    * g000 sentinel and rounding-gate rationale). */
  private def thresholdHex(r: Double): String = {
    val v = math.round(r * 65536).toInt
    if (v >= 65536) "g000" else f"$v%04x"
  }

  /** Column-side rate → threshold, same arithmetic as [[thresholdHex]]
    * for rates computed in the plan (broadcast per-stratum aggregates). */
  private def thresholdCol(rate: Column): Column = {
    val v = round(rate * 65536).cast("long")
    when(v >= 65536, lit("g000")).otherwise(format_string("%04x", v))
  }

  /** Deterministic train/val/test (or any) split assignment by CONTENT
    * HASH of the id — not `rand()`: the assignment is reproducible across
    * runs, cluster sizes, row orders, and partitionings, and a given
    * document never migrates between splits when the corpus grows
    * (hash-stability is the property that keeps eval sets uncontaminated
    * across dataset versions).
    *
    * Mechanics: the first 4 hex chars of md5(id) are a uniform draw from
    * 65,536 buckets; split boundaries are cumulative percentages mapped to
    * hex thresholds and compared as strings (md5 hex is lowercase in both
    * Spark and DuckDB, so the oracle mirrors exactly).
    *
    * `cuts` are (name, percent) with percents summing to 100.
    *
    * NULL ids get a NULL split (not silently the last cut — md5(NULL) is
    * NULL, and without the explicit guard every null-id row would fall
    * through the when-chain into the final `otherwise`, concentrating
    * malformed rows in the eval split). Callers wanting them out filter
    * `split IS NOT NULL`.
    */
  def assignSplits(
      df: DataFrame, idCol: String,
      cuts: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10)): DataFrame = {
    require(cuts.nonEmpty && cuts.map(_._2).sum == 100,
      s"split percents must sum to 100: $cuts")
    val h = hashDraw(idCol, salt = "")
    val thresholds = cuts.scanLeft(0)(_ + _._2).tail.dropRight(1)
      .map(p => f"${p * 65536 / 100}%04x")
    // fold from the last cut backwards: h < t1 -> cut1, < t2 -> cut2, ...
    val expr = cuts.init.map(_._1).zip(thresholds).foldRight(lit(cuts.last._1): Column) {
      case ((name, t), rest) => when(h < lit(t), lit(name)).otherwise(rest)
    }
    df.withColumn("split", when(col(idCol).isNotNull, expr))
  }

  /** Deterministic stratified sampling: within each stratum (e.g.
    * language), keep a hash-stable fraction of rows. Same md5-bucket
    * mechanics as [[assignSplits]] — the sample is reproducible across
    * runs, cluster sizes and row orders, and membership never flips as the
    * corpus grows (no `rand()`, no `TABLESAMPLE`, both of which resample
    * per run). `rates` maps stratum value -> keep fraction; strata not in
    * the map use `defaultRate`. Map-side only: the stratum rate lookup is
    * a small when-chain, no shuffle, no join.
    *
    * NULL ids are always dropped (a NULL hash draw can never pass a
    * threshold) — the sampling analog of [[assignSplits]]'s NULL split.
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      s"rates must be in [0,1]: $rates default=$defaultRate")
    // an all-pass rate must beat every 4-hex-digit draw, but 65536 formats
    // as the 5-char "10000", which sorts BELOW "ffff" as a string — the
    // thresholdHex helper uses "g000" (g > f in every hex position) as the
    // sentinel, and gates on the ROUNDED value, not r >= 1.0: rates in
    // [0.9999924, 1.0) also round to 65536 and would otherwise silently
    // keep ~6% instead of ~100%.
    val h = hashDraw(idCol, salt = "")
    val rate = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (rest, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(thresholdHex(r))).otherwise(rest)
    }
    df.filter(h < rate)
  }

  /** Temperature-balanced downsampling across strata (the standard
    * multilingual-corpus rebalancing step: sample language l with
    * probability ∝ share_l^alpha, alpha < 1 flattening the distribution so
    * head languages stop drowning out the tail — the exponent-smoothed
    * sampling used by multilingual pretraining recipes).
    *
    * Downsample-only formulation: keep rate
    * `r_l = (n_min / n_l)^(1-alpha)` — the smallest stratum keeps 100%,
    * larger strata shrink toward balance; resulting counts are
    * ∝ n_l^alpha. `alpha = 1` keeps everything, `alpha = 0` fully
    * balances down to ~n_min per stratum. Upsampling (duplication) is
    * deliberately out of scope: repeats are an epoch-schedule concern,
    * not a corpus transform.
    *
    * Membership is the same hash-stable md5-bucket draw as
    * [[stratifiedSample]] (reproducible across runs/partitionings, never
    * flips as unrelated strata grow), but the per-stratum RATE is computed
    * from the data: one tiny groupBy (|strata| rows) broadcast back, then
    * a map-side threshold compare — no window over the corpus, no second
    * shuffle. The rate is rounded to 6 decimals BEFORE bucketing so both
    * engines land on the same integer threshold (pow may differ in the
    * last ulp across engines; the established agg_stats rounding
    * equivalence), and the threshold string uses the same `g000` all-pass
    * sentinel as [[stratifiedSample]]. NULL stratum rows form their own
    * "stratum" via null-safe grouping; NULL ids always drop. */
  def temperatureSample(
      df: DataFrame, idCol: String, stratumCol: String, alpha: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val nMin = min(col("__n")).over(Window.rowsBetween(Long.MinValue, Long.MaxValue))
    val rate = round(pow(nMin.cast("double") / col("__n"), 1.0 - alpha), 6)
    // |strata| rows: the window-min and the join are both on a relation the
    // size of the stratum count, so broadcast is always right
    val thresholds = counts.select(col(stratumCol).as("__stratum"),
      thresholdCol(rate).as("__thr"))
    val h = hashDraw(idCol, salt = "")
    // null-safe join: a NULL stratum is a legitimate group (it got a rate
    // from the groupBy above) and must not silently vanish here
    df.join(broadcast(thresholds), col(stratumCol) <=> col("__stratum"))
      .filter(h < col("__thr"))
      .drop("__stratum", "__thr")
  }

  /** Target-proportion corpus mixing: downsample strata so the result
    * matches an explicit mixture recipe (`weights`, e.g. 50% web / 30%
    * code / 20% academic) — the "data mixture" step of a training run,
    * where [[temperatureSample]]'s smoothing is replaced by exact target
    * shares. The achievable scale is maximal: `S = min_i(n_i / w_i)` sets
    * the binding stratum to keep everything and every other stratum's
    * keep rate to `S·w_i / n_i`, so expected kept counts are exactly
    * `S·w_i` — the largest mixture with those proportions the data can
    * support without upsampling.
    *
    * Strata NOT named in `weights` are dropped (a mixture recipe is a
    * whitelist); weights need not sum to 1 (only ratios matter). A recipe
    * stratum with NO rows in the data fails fast: the only mixture
    * consistent with a zero-row component is empty, and silently
    * renormalizing over the present strata would hand the caller
    * plausible-looking but wrong proportions.
    *
    * Membership is the md5 draw SALTED with "mix", so this operator
    * composes with [[assignSplits]]/[[stratifiedSample]] (split first,
    * then mix the train split) — an unsalted draw downstream of another
    * threshold filter would nest thresholds instead of compounding rates
    * (see [[hashDraw]]). Rates round to 6 decimals before bucketing and
    * the per-stratum thresholds ride one tiny broadcast aggregate. */
  def mixStrata(
      df: DataFrame, idCol: String, stratumCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "mixStrata requires at least one stratum weight")
    require(weights.values.forall(w => w > 0 && !w.isInfinite && !w.isNaN),
      s"weights must be positive and finite: $weights")
    // ONE pass over the corpus: the per-stratum counts (≤ |weights| rows)
    // are collected once and the scale/rate/threshold arithmetic runs
    // driver-side — the rates are then plan CONSTANTS, so membership is a
    // map-side when-chain like [[stratifiedSample]]'s, with no join and no
    // second execution of the counts aggregate inside the filter plan (the
    // previous broadcast-join shape re-ran the uncached aggregate — a
    // second full scan at scale).
    val countByStratum = df.filter(col(stratumCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val absent = weights.keys.filterNot(countByStratum.contains)
    require(absent.isEmpty,
      s"mixStrata: recipe strata with no rows in the data: ${absent.mkString(", ")} — " +
        "the only mixture honoring a zero-row component is empty; drop it " +
        "from the recipe or fix the upstream filter")
    val scale = weights.map { case (s, wt) => countByStratum(s) / wt }.min
    // same HALF_UP-at-6-decimals rounding the in-plan round() applied, so
    // the DuckDB oracle's mirrored arithmetic lands on identical thresholds
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val h = hashDraw(idCol, salt = "mix")
    val thr = weights.foldLeft(lit(null).cast("string")) {
      case (rest, (stratum, wt)) =>
        val rate = round6(scale * wt / countByStratum(stratum))
        when(col(stratumCol) === stratum, lit(thresholdHex(rate))).otherwise(rest)
    }
    // non-recipe and NULL strata fall through to the NULL threshold, and
    // h < NULL is never true — same drop semantics as the old inner join
    df.filter(h < thr)
  }

  /** The PLANNING read for [[mixStrata]]: given the same mixture recipe,
    * report — without sampling anything — what the maximal mixture
    * achieves on this corpus and which stratum binds it. One row per
    * recipe stratum: `available` (rows, or `sum(sizeCol)` for
    * token-/char-weighted planning), the echoed `weight`, `planned`
    * (`S·w`, the expected kept mass at the maximal scale
    * `S = min_i(available_i / w_i)`), `rate` (`planned / available`,
    * rounded to the same 6 decimals [[mixStrata]] buckets with), and
    * `binding` (1 on the stratum whose availability sets S — the one a
    * user must GROW to scale the whole mixture; ties all flag). The
    * read a 100 TB mixture job takes before paying for it: "your recipe
    * yields 1.9 B of the 10 B available tokens, bound by `code`" is the
    * difference between re-negotiating the recipe and discovering the
    * shortfall after the run.
    *
    * Same contracts as [[mixStrata]]: weights are a whitelist, positive
    * and finite, ratios-only; a recipe stratum with no rows (or
    * all-NULL sizes) fails fast rather than planning a zero-row
    * mixture — including when EVERY stratum is absent (a mistyped table
    * or column), which is why the ≤ |recipe|-row aggregate collects
    * eagerly like [[mixStrata]]'s counts: an in-plan guard has no row
    * to ride on an empty aggregate and would return a silently EMPTY
    * plan instead. Numeric contract: `scale` and `binding` come from
    * ONE IEEE division per stratum (`available / weight`) compared
    * exactly against the minimum — bit-identical cross-engine;
    * `planned` rounds to 4 decimals, `rate` to 6 (the same HALF_UP the
    * in-plan round applies, so the DuckDB mirror lands identically).
    *
    * Scale shape: one partial-aggregated groupBy collapsing the corpus
    * to ≤ |recipe| driver rows; the plan arithmetic is driver-side over
    * that bounded map — the corpus is scanned once, nothing else
    * shuffles. */
  def mixPlan(
      df: DataFrame, stratumCol: String,
      weights: Map[String, Double],
      sizeCol: Option[String] = None): DataFrame = {
    require(weights.nonEmpty, "mixPlan requires at least one stratum weight")
    require(weights.values.forall(w => w > 0 && !w.isInfinite && !w.isNaN),
      s"weights must be positive and finite: $weights")
    val mass = sizeCol.map(c => sum(col(c))).getOrElse(count(lit(1)))
    // EAGER, the mixStrata precedent: the aggregate is ≤ |recipe| rows
    // and the coverage guard must fire even when EVERY recipe stratum is
    // absent — an in-plan raise has no row to ride on an empty aggregate,
    // and a silently EMPTY plan for a mistyped table/column is exactly
    // the failure this read exists to make loud
    val avail = df.filter(col(stratumCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(stratumCol).as("stratum"))
      .agg(mass.cast("long").as("available"))
      .collect()
      .flatMap(r => if (r.isNullAt(1)) None
        else Some(String.valueOf(r.get(0)) -> r.getLong(1)))
      .toMap
    // a stratum whose sizes are all NULL collected a NULL mass — no
    // measurable size, same failure as absent
    val missing = weights.keys.filterNot(avail.contains)
    require(missing.isEmpty,
      s"mixPlan: recipe strata with no rows (or no measurable size) in " +
        s"the data: ${missing.toSeq.sorted.mkString(", ")} — the only " +
        "mixture honoring a zero-mass component is empty; drop it from " +
        "the recipe or fix the upstream filter")
    val perW = weights.map { case (s, w) => s -> avail(s).toDouble / w }
    val scale = perW.values.min
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    def round4(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val rows = weights.keys.toSeq.sorted.map { s =>
      val w = weights(s)
      org.apache.spark.sql.Row(s, avail(s), w,
        round4(scale * w), round6(scale * w / avail(s)),
        if (perW(s) == scale) 1 else 0)
    }.toArray
    graft.operators.Similarity.localFrame(df.sparkSession, rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("stratum",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("available",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("weight",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("planned",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rate",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("binding",
          org.apache.spark.sql.types.IntegerType))))
  }

  /** Materialize [[mixPlan]]'s maximal mixture with EXACT per-stratum
    * counts — the EXECUTION verb after the planning read: where
    * [[mixStrata]] samples by hash-threshold (counts are expected values,
    * right for the 100 TB pipeline where ±√n jitter is irrelevant and
    * membership must be a pure map-side filter), this emits exactly
    * `take_i` rows per stratum — the contract an eval-set or
    * fixed-budget carve needs, where "50/30/20" must mean the delivered
    * file counts, not their expectation. `take_i = available_i` on the
    * BINDING stratum (kept whole — exact IEEE equality with the scale
    * minimum, [[mixPlan]]'s `binding` arithmetic) and
    * `min(available_i, floor(S·w_i))` elsewhere (the min guards the
    * one-ulp case where `(n/w)·w` rounds above n).
    *
    * Selection per stratum is the [[sampleFixed]] machinery: the take_i
    * rows with the smallest SALTED md5 draw (salt "mixapply", so the
    * carve composes with splits/samples upstream — the [[hashDraw]]
    * nesting rationale), ties by id — deterministic under relayout,
    * row order, and cluster size, and mostly stable as the corpus
    * grows (a member leaves only when displaced or when the plan
    * itself moves). Strata outside the recipe drop (whitelist); NULL
    * ids are EXCLUDED from both the availability counts and the carve
    * (no stable draw — the [[sampleFixed]] NULL stance), so the binding
    * stratum's "kept whole" is exact over selectable rows. A recipe
    * stratum with no rows fails fast ([[mixStrata]]'s contract).
    *
    * Scale shape: ONE eager ≤|recipe|-row counts aggregate (the
    * [[mixStrata]] precedent — the takes become plan CONSTANTS), then
    * one row_number window per stratum whose `rank <= lit(max take)`
    * conjunct Spark rewrites to WindowGroupLimit — map tasks forward at
    * most max-take rows per stratum to the shuffle, never the corpus
    * (the [[Profile.sampleKPerGroup]] plan shape, PlanSpec-pinned); the
    * exact per-stratum cut is the companion when-chain conjunct. No
    * global sort, no TakeOrdered-per-stratum re-scan. Takes are
    * DRIVER-MERGEABLE sizes by construction (a carve, not a split) —
    * the window partition holding a stratum sees available_i rows
    * regardless, same as any per-stratum operator. */
  def mixApply(
      df: DataFrame, idCol: String, stratumCol: String,
      weights: Map[String, Double], salt: String = "mixapply"): DataFrame = {
    require(weights.nonEmpty, "mixApply requires at least one stratum weight")
    require(weights.values.forall(w => w > 0 && !w.isInfinite && !w.isNaN),
      s"weights must be positive and finite: $weights")
    val selectable = df.filter(
      col(stratumCol).isin(weights.keys.toSeq: _*) && col(idCol).isNotNull)
    val countByStratum = selectable
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val absent = weights.keys.filterNot(countByStratum.contains)
    require(absent.isEmpty,
      s"mixApply: recipe strata with no selectable rows in the data: " +
        s"${absent.toSeq.sorted.mkString(", ")} — the only mixture honoring " +
        "a zero-row component is empty; drop it from the recipe or fix " +
        "the upstream filter")
    val perW = weights.map { case (s, w) => s -> countByStratum(s) / w }
    val scale = perW.values.min
    val take = weights.map { case (s, w) =>
      s -> (if (perW(s) == scale) countByStratum(s)
            else math.min(countByStratum(s), math.floor(scale * w).toLong))
    }
    val draw = md5(concat(col(idCol).cast("string"), lit("|" + salt)))
    val rn = row_number().over(Window.partitionBy(col(stratumCol))
      .orderBy(draw, col(idCol)))
    val lim = take.foldLeft(lit(0L)) { case (rest, (s, n)) =>
      when(col(stratumCol) === s, lit(n)).otherwise(rest)
    }
    // the literal conjunct is what InferWindowGroupLimit keys on (a
    // when-chain bound is not extractable); the when-chain then applies
    // the exact per-stratum cut on the ≤ max-take survivors
    selectable.withColumn("__rn", rn)
      .filter(col("__rn") <= lit(take.values.max) && col("__rn") <= lim)
      .drop("__rn")
  }

  /** [[mixStrata]] against a STORED [[mixPlan]] — the
    * learn-once/apply-many verb for the mixing family: plan the mixture
    * once on a corpus snapshot (persist the plan table), then apply its
    * RATES as a pure map-side threshold filter to any batch — including
    * a STREAMING one: the plan collapses to plan constants at
    * composition time, so the filter is stateless and
    * `readStream.transform(...)` composes directly, no sink machinery.
    * On the same corpus the output is IDENTICAL to
    * [[mixStrata]] with the plan's recipe (both round rates to 6
    * decimals before bucketing and draw with the "mix" salt — the
    * registered differential pins the equality); on a LATER batch it
    * applies the frozen rates, which is exactly what a reproducible
    * mixture wants (re-planning per batch would let the recipe drift
    * with arrival mix).
    *
    * `plan` carries (stratum, rate) — [[mixPlan]]'s schema (extra
    * columns ignored); ≤ |recipe| rows by construction, collected
    * driver-side like every model artifact here. Strata outside the
    * plan drop (whitelist); NULL ids drop (NULL draw). */
  def mixStrataFromPlan(
      df: DataFrame, idCol: String, stratumCol: String,
      plan: DataFrame): DataFrame = {
    require(Seq("stratum", "rate").forall(plan.columns.contains),
      s"plan must carry (stratum, rate) — the mixPlan schema; " +
        s"got (${plan.columns.mkString(", ")})")
    val planRows = plan.select(col("stratum"), col("rate").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    // a duplicated stratum (an accidental union of two plans) must not
    // let partition order pick the winning rate silently — the
    // stripBenchmarkSpansMulti distinct-names discipline
    val dup = planRows.groupBy(_._1).collect { case (k, vs) if vs.size > 1 => k }
    require(dup.isEmpty,
      s"mixStrataFromPlan: duplicate plan strata ${dup.toSeq.sorted.mkString(", ")} — " +
        "two rates for one stratum is two plans; merge them upstream")
    val rates = planRows.toMap
    require(rates.nonEmpty, "mixStrataFromPlan: the plan has no strata")
    require(rates.values.forall(r => r >= 0 && r <= 1 && !r.isNaN),
      s"plan rates must be in [0, 1]: $rates")
    val h = hashDraw(idCol, salt = "mix")
    val thr = rates.foldLeft(lit(null).cast("string")) {
      case (rest, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(thresholdHex(r))).otherwise(rest)
    }
    df.filter(h < thr)
  }

  /** [[mixApply]] by MASS instead of rows — the token-budget carve: a
    * mixture recipe at 100 TB is a TOKEN budget ("50% web / 30% code /
    * 20% academic of a 1 B-token run"), and delivering it by row count
    * silently skews toward short-document strata. Per stratum the
    * maximal plan is [[mixPlan]]'s with `sizeCol` mass
    * (`S = min_i(mass_i / w_i)`, budget_i = S·w_i, the binding stratum's
    * budget is its EXACT mass so it keeps everything), and the carve is
    * the greedy PREFIX of the salted-md5 draw order whose cumulative
    * size stays within the budget — deterministic under relayout,
    * undershooting by less than one document per stratum (documents
    * don't split; [[graft.operators.TextAnalysis.chunkDocs]] upstream if
    * sub-document granularity matters).
    *
    * Exclusions, all loud in the scaladoc because each skews a budget:
    * NULL ids (no stable draw — the [[mixApply]] contract), NULL sizes
    * (no measurable mass — a NULL would poison every later cumulative
    * sum in its stratum), off-recipe strata (whitelist). A recipe
    * stratum with no selectable mass fails fast ([[mixStrata]]).
    *
    * Scale shape: one eager ≤|recipe|-row mass aggregate (budgets
    * become plan constants), then ONE shuffle on the stratum key with a
    * per-stratum ordered cumulative-sum window. Unlike [[mixApply]]'s
    * rank cut there is no WindowGroupLimit rewrite — a budget cut needs
    * the running mass, so each stratum's partition carries its full
    * selectable rows; at extreme per-stratum scale prefer the
    * rate-based [[mixStrata]] (expectation semantics) or pre-shard the
    * stratum. */
  def mixApplyBudget(
      df: DataFrame, idCol: String, stratumCol: String, sizeCol: String,
      weights: Map[String, Double], salt: String = "mixapply"): DataFrame = {
    require(weights.nonEmpty, "mixApplyBudget requires at least one stratum weight")
    require(weights.values.forall(w => w > 0 && !w.isInfinite && !w.isNaN),
      s"weights must be positive and finite: $weights")
    val selectable = df.filter(
      col(stratumCol).isin(weights.keys.toSeq: _*) &&
        col(idCol).isNotNull && col(sizeCol).isNotNull)
    // min rides the same eager aggregate: a NEGATIVE size makes the
    // cumulative sum non-monotone, so the "greedy prefix" filter would
    // select a gap-ridden non-prefix set and silently overshoot the
    // budget — fail loudly instead (zero sizes are fine: a free
    // document never breaks monotonicity)
    val stats = selectable
      .groupBy(col(stratumCol))
      .agg(sum(col(sizeCol)).cast("long").as("__m"),
        min(col(sizeCol)).cast("long").as("__min"))
      .collect()
    val negative = stats.filter(_.getLong(2) < 0L)
      .map(r => String.valueOf(r.get(0)))
    require(negative.isEmpty,
      s"mixApplyBudget: negative '$sizeCol' values in strat" +
        s"${if (negative.length == 1) "um" else "a"} " +
        s"${negative.sorted.mkString(", ")} — a negative size makes the " +
        "cumulative budget cut non-monotone; fix the sizes first")
    val massByStratum =
      stats.map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toMap
    val absent = weights.keys.filterNot(massByStratum.contains)
    require(absent.isEmpty,
      s"mixApplyBudget: recipe strata with no selectable mass in the data: " +
        s"${absent.toSeq.sorted.mkString(", ")} — the only mixture honoring " +
        "a zero-mass component is empty; drop it from the recipe or fix " +
        "the upstream filter")
    val perW = weights.map { case (s, w) => s -> massByStratum(s) / w }
    val scale = perW.values.min
    // the binding stratum's budget is its EXACT integer mass (the
    // one-ulp (m/w)·w guard, mixApply's floor rationale in mass form)
    val budget: Map[String, Double] = weights.map { case (s, w) =>
      s -> (if (perW(s) == scale) massByStratum(s).toDouble else scale * w)
    }
    val draw = md5(concat(col(idCol).cast("string"), lit("|" + salt)))
    val cum = sum(col(sizeCol).cast("long")).over(
      Window.partitionBy(col(stratumCol)).orderBy(draw, col(idCol))
        .rowsBetween(Long.MinValue, 0))
    val lim = budget.foldLeft(lit(null).cast("double")) {
      case (rest, (s, b)) =>
        when(col(stratumCol) === s, lit(b)).otherwise(rest)
    }
    selectable.withColumn("__cum", cum)
      .filter(col("__cum") <= lim)
      .drop("__cum")
  }

  /** Benchmark-contamination ratio per document: the fraction of the
    * document's distinct word n-gram shingles that also appear anywhere in
    * the benchmark set — the standard eval-set leakage check run before
    * training. Returns (idCol, contamination DOUBLE in [0,1]); documents
    * too short to shingle score 0.0.
    *
    * Scale shape: the benchmark side collapses to a DISTINCT shingle set —
    * tiny next to the corpus (eval benchmarks are thousands of documents,
    * not billions) — so Spark broadcasts it and the per-document hit count
    * is a map-side semi-match + one aggregation by doc id. The corpus is
    * never self-joined and never crosses the wire beyond its own
    * (doc_id, shingle) aggregation.
    */
  def contamination(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3): DataFrame = {
    import graft.functions.TextFns
    def shingleRows(df: DataFrame, withId: Boolean) = {
      val ss = array_distinct(TextFns.shinglesFast(col(textCol), shingleN))
      if (withId) df.select(col(idCol), explode(ss).as("s"))
      else df.select(explode(ss).as("s"))
    }
    val bench = shingleRows(benchmark, withId = false).distinct()
    val sh = shingleRows(corpus, withId = true)
    val hits = sh.join(broadcast(bench), "s")
      .groupBy(idCol).agg(count(lit(1)).as("__hits"))
    val totals = sh.groupBy(idCol).agg(count(lit(1)).as("__n"))
    // left join: zero-hit and zero-shingle docs still get a row
    corpus.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        round(coalesce(col("__hits") / col("__n"), lit(0.0)), 4).as("contamination"))
  }

  /** Benchmark DECONTAMINATION as the routed pipeline stage: strip every
    * character a corpus document shares span-wise with the benchmark set
    * ([[graft.operators.Dedup.stripBenchmarkSpans]] — ≥ `minShared`
    * winnowing fingerprints pairs, matched k-gram coverage removed), then
    * RE-GATE the survivors — a document whose remaining text falls below
    * `minCharsAfter` characters was substantially the benchmark and keeps
    * nothing trainable, so it routes out instead of shipping a stub. This
    * is the named decontamination stage of the published pretraining
    * pipelines (exact-substring decontamination, Lee et al. ACL'22 §4.3):
    * [[contamination]] is the *flag* twin (shingle-overlap ratio, decide
    * thresholds), this is the *repair* verb (remove the leak, keep the
    * document when enough of it survives).
    *
    * Returns the corpus with `textCol` stripped, plus `n_removed` (chars
    * removed, 0 for untouched docs) and `kept` (1 when the surviving text
    * is non-NULL and ≥ `minCharsAfter` chars — NULL-text documents gate
    * to 0: nothing trainable). The reject side is `kept = 0` — route it
    * with the reason column via [[graft.engine.Qa]] like any QA split;
    * both sides stay one filter away, so the split never re-runs the
    * strip.
    *
    * Scale shape rides the strip ([[graft.operators.Dedup
    * .stripBenchmarkSpans]] scaladoc): benchmark index built once
    * (broadcast-sized), corpus hashed map-side, gate is one more map-side
    * projection. */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20, minCharsAfter: Int = 200): DataFrame =
    withKeptGate(Dedup.stripBenchmarkSpans(corpus, benchmark, idCol,
      textCol, k, w, minShared, maxFingerprintDf), textCol, minCharsAfter)

  /** [[decontaminate]] against an ALREADY-MATERIALIZED benchmark index
    * (df-capped fingerprints + w=1 gram dump — the
    * [[graft.operators.Dedup.stripBenchmarkSpansIndexed]] contract): the
    * query-many / per-micro-batch path, sharing the strip AND the kept
    * gate with the one-shot operator so the streaming twin
    * ([[graft.streaming.DocStreams.decontamArrivalsSink]]) cannot drift
    * from batch semantics. Returned as a [[graft.engine.Materialized]]
    * over the strip's internal partner-pair checkpoint: per-micro-batch
    * callers (the decontamination streaming sink) close it after
    * materializing; one-shot callers may just read `.df`. */
  def decontaminateIndexed(
      corpus: DataFrame, benchFpsCapped: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      minCharsAfter: Int = 200): graft.engine.Materialized =
    Dedup.stripBenchmarkSpansIndexed(corpus, benchFpsCapped, benchGrams,
      idCol, textCol, k, w, minShared)
      .map(withKeptGate(_, textCol, minCharsAfter))

  /** [[decontaminate]] against N benchmarks in ONE corpus pass with
    * per-benchmark span attribution
    * ([[graft.operators.Dedup.stripBenchmarkSpansMulti]]): the union of
    * the per-benchmark capped indexes is probed once, the strip removes
    * every character ANY benchmark covers, `n_removed_<name>` reports
    * each benchmark's own coverage on the original text (the "which eval
    * set leaks" read), and the kept gate routes on the UNION-stripped
    * text — one gate decision, not N. Same per-benchmark semantics as N
    * [[decontaminate]] runs (per-benchmark df caps, per-pair minShared,
    * no same-id suppression within or across benchmarks). */
  def decontaminateMulti(
      corpus: DataFrame, benchmarks: Seq[(String, DataFrame)],
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20, minCharsAfter: Int = 200): DataFrame =
    withKeptGate(Dedup.stripBenchmarkSpansMulti(corpus, benchmarks, idCol,
      textCol, k, w, minShared, maxFingerprintDf), textCol, minCharsAfter)

  /** The ONE home of the decontamination kept gate — both entry points
    * and the streaming sink ride it, so the routing rule cannot fork. A
    * corpus already carrying `kept` is an upstream routing decision this
    * gate would silently OVERWRITE (rejected docs flowing back into
    * training) — the stripAgainstCappedIndex `n_removed` rationale, so
    * the same loud require. */
  private def withKeptGate(
      stripped: DataFrame, textCol: String, minCharsAfter: Int): DataFrame = {
    require(minCharsAfter >= 0,
      s"minCharsAfter must be >= 0, got $minCharsAfter")
    require(!stripped.columns.exists(_.equalsIgnoreCase("kept")),
      "decontaminate adds a kept column; the input already has one — " +
        "an upstream routing decision would be silently overwritten")
    stripped.withColumn("kept",
      when(col(textCol).isNotNull &&
        length(col(textCol)) >= minCharsAfter, lit(1)).otherwise(lit(0)))
  }

  /** Sequence-packing index (GPT-style concat-and-split pretraining prep):
    * within each partition (e.g. language or shard), documents ordered by
    * id are concatenated conceptually and cut every `tokenBudget` tokens;
    * `pack_id` is the bin of each document's STARTING token offset —
    * `floor((cumsum(tokens) - tokens) / budget)`. One window shuffle on
    * the partition columns; deterministic (ordered by id).
    *
    * This is the index-building step: the actual byte concat happens at
    * write time per (partition, pack_id) group.
    */
  def packIndex(
      df: DataFrame, idCol: String, tokCol: String,
      tokenBudget: Long, partitionCols: Seq[String]): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("pack_id",
      floor((sum(col(tokCol)).over(w) - col(tokCol)) / tokenBudget))
  }

  /** Split-leakage audit: duplicate CONTENT straddling split boundaries —
    * the classic eval contamination that id-hash splitting cannot
    * prevent (two docs with identical text but different ids draw
    * independent splits), and the check run before any eval number is
    * believed. Returns one row per leaky content group:
    * (content_hash, n_docs, n_splits, splits) where `splits` is the
    * sorted distinct split list the group spans; an empty result is the
    * clean bill. Compose with an anti-join on content_hash to quarantine
    * the leaky groups (standard practice: evict them from eval, keep one
    * in train).
    *
    * Scale shape: one md5-keyed partial-aggregated groupBy carrying the
    * distinct-split set (bounded by |splits|, ~3) — never text, never a
    * self-join. NULL texts carry no content to leak and are excluded. */
  def splitLeakage(df: DataFrame, textCol: String, splitCol: String): DataFrame =
    df.filter(col(textCol).isNotNull && col(splitCol).isNotNull)
      .groupBy(md5(col(textCol)).as("content_hash"))
      .agg(
        count(lit(1)).as("n_docs"),
        size(collect_set(col(splitCol))).cast("long").as("n_splits"),
        concat_ws(",", array_sort(collect_set(col(splitCol)))).as("splits"))
      .filter(col("n_splits") > 1)

  /** Packing-efficiency audit over [[packIndex]]'s greedy bins: per
    * partition group, the bin count, token totals, and
    * `efficiency = n_tokens / (n_packs · budget)` — the fraction of the
    * padded training batch that is real tokens rather than padding. The
    * report is what decides whether the budget/ordering is costing real
    * money (efficiency 0.7 at 100 TB means 30% of every training step is
    * padding). `n_oversize` counts documents longer than the budget —
    * each forces a bin overflow and should be chunked upstream
    * ([[graft.operators.TextAnalysis.chunkDocs]]) before packing.
    *
    * Scale shape: [[packIndex]]'s per-partition window, then ONE
    * partial-aggregated rollup to |groups| rows; countDistinct(pack_id)
    * is Spark's standard expand over the already-grouped frame. */
  def packEfficiency(
      df: DataFrame, idCol: String, tokCol: String,
      tokenBudget: Long, partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "packEfficiency requires partition columns")
    packIndex(df, idCol, tokCol, tokenBudget, partitionCols)
      .groupBy(partitionCols.map(col): _*)
      .agg(
        countDistinct(col("pack_id")).as("n_packs"),
        count(lit(1)).as("n_docs"),
        sum(col(tokCol).cast("long")).as("n_tokens"),
        sum(when(col(tokCol) > tokenBudget, 1L).otherwise(0L)).as("n_oversize"))
      .withColumn("efficiency",
        round(col("n_tokens").cast("double") / (col("n_packs") * tokenBudget), 6))
  }

  /** Token-budget accounting per stratum — the mixture-planning report run
    * before choosing [[mixStrata]]/[[temperatureSample]] parameters: for
    * each stratum its document count, whitespace-token count, token SHARE,
    * and the cumulative share walking strata largest-first (the "how many
    * strata cover 90% of the budget" view). Returns
    * (stratumCol, n_docs, n_tokens, share, cum_share) ordered by
    * n_tokens desc then stratum.
    *
    * Scale shape: ONE partial-aggregated groupBy over the corpus; the
    * share/cumulative windows run over the |strata|-row aggregate only —
    * the unpartitioned window is deliberate and safe there (strata counts
    * are human-scale), never over the corpus. */
  def tokenBudget(df: DataFrame, stratumCol: String, textCol: String): DataFrame = {
    val s = df.groupBy(col(stratumCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    val all = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    val cum = Window.orderBy(col("n_tokens").desc, col(stratumCol))
      .rowsBetween(Long.MinValue, 0)
    s.select(col(stratumCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / sum("n_tokens").over(all), 6).as("share"),
        round(sum("n_tokens").over(cum) / sum("n_tokens").over(all), 6).as("cum_share"))
      .orderBy(col("n_tokens").desc, col(stratumCol))
  }

  /** Per-stratum row cap (anti-spam curation: no single domain/source may
    * contribute more than `maxRows` documents). The selection IS
    * [[Profile.sampleKPerGroup]] — keep the `maxRows` smallest-md5 rows of
    * each stratum, hash-stable across runs/partitionings, ties broken by
    * id — exposed under the curation intent so recipes read as what they
    * do; one implementation, so the two can never drift. Inherits the
    * WindowGroupLimit plan shape (map tasks forward at most `maxRows`
    * rows per stratum to the shuffle; PlanSpec-asserted on the sampler). */
  def capPerStratum(
      df: DataFrame, idCol: String, stratumCol: String, maxRows: Int): DataFrame = {
    require(maxRows >= 1, s"maxRows must be >= 1, got $maxRows")
    Profile.sampleKPerGroup(df, idCol, stratumCol, maxRows)
  }

  /** Deterministic FIXED-SIZE global sample: the `n` rows with the
    * smallest md5(id) draw across the whole corpus — eval-set carving,
    * where a rate-based sample drifts in size as the corpus grows but the
    * carved set must stay exactly `n` (and mostly stable: a member leaves
    * only when a new id with a smaller draw displaces it). Ties break by
    * id, so selection is total even under hash collisions.
    *
    * Scale shape: `orderBy(...).limit(n)` compiles to TakeOrdered — each
    * partition forwards at most its local top-n and the driver merges k
    * sorted heads; no global sort materializes. Keep `n` driver-friendly
    * (an eval set, not a corpus split — use [[assignSplits]] for
    * percentage-scale carving). */
  def sampleFixed(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // NULLS LAST on both sort keys: a NULL id has a NULL draw AND a NULL
    // tie-break, so under Spark's default NULLS FIRST such rows would fill
    // the carve nondeterministically (and diverge from SQL engines that
    // default to NULLS LAST); last, they enter only when fewer than n
    // real ids exist
    df.orderBy(md5(col(idCol).cast("string")).asc_nulls_last,
      col(idCol).asc_nulls_last).limit(n)
  }

  /** Hash-stable shard id in [0, nShards): the first 4 hex chars of
    * md5(id) as an integer draw from 65,536 buckets, reduced mod nShards.
    * Uniform when nShards divides 65,536 (powers of two up to 65,536);
    * otherwise the low buckets carry at most one extra 1/65,536 slice —
    * callers wanting exact uniformity pick a power of two. Mirrors in
    * DuckDB as `('0x' || substr(md5(id), 1, 4))::INTEGER % n`. */
  private def shardId(idCol: String, nShards: Int): Column =
    (conv(substring(md5(col(idCol).cast("string")), 1, 4), 16, 10)
      .cast("int") % nShards).as("shard_id")

  /** Output-shard manifest — the write-planning report for materializing a
    * corpus as `nShards` parallel files: every id is assigned a HASH-STABLE
    * shard (md5-derived, so assignment never flips with row order, cluster
    * size, or corpus growth elsewhere), and the manifest reports each
    * shard's document count, total payload size, and load ratio
    * (n_docs / ideal). Returns (shard_id, n_docs, total_size, load_ratio)
    * — a load_ratio far from 1.0 says the id space is pathological (e.g.
    * constant ids) BEFORE a terabyte write discovers it.
    *
    * Hash sharding vs [[packIndex]]: packing optimizes sequential READ
    * grouping (cumulative token budget, needs a per-partition window);
    * hash sharding optimizes parallel WRITE fan-out — pure map-side
    * assignment, no window, no ordering, every executor routes rows
    * independently. The manifest itself is ONE partial-aggregated groupBy
    * to nShards rows; the load-ratio window runs over those nShards rows
    * only, never the corpus. NULL ids get a NULL shard and surface as
    * their own manifest row rather than vanishing. */
  def shardManifest(
      df: DataFrame, idCol: String, sizeCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val all = Window.rowsBetween(Long.MinValue, Long.MaxValue)
    df.select(shardId(idCol, nShards), col(sizeCol))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col(sizeCol).cast("long")).as("total_size"))
      .withColumn("load_ratio",
        round(col("n_docs") * nShards / sum("n_docs").over(all), 4))
  }

  /** Deterministic interleaved training order WITHOUT a global sort — the
    * "shuffle the corpus for training" step at scale. A global
    * `ORDER BY md5(id)` needs a full range-partitioned sort of the corpus;
    * instead each row gets a hash-stable shard (see [[shardManifest]]),
    * rows are ranked WITHIN their shard by their md5 draw (ties by id),
    * and the global position round-robins across shards:
    * `global_ord = (rank - 1) * nShards + shard_id`. The result is a
    * total, collision-free order (the map is injective) that interleaves
    * shards — adjacent training positions come from different hash shards,
    * which is exactly the decorrelation a training shuffle is for.
    *
    * Returns (idCol, shard_id, global_ord). Scale shape: one shuffle on
    * the shard key + a per-shard window — partitions are 1/nShards of the
    * corpus, never a single global partition. NULL ids (NULL draw, NULL
    * shard) are excluded: a nondeterministic tail position is worse than
    * absent, matching [[sampleFixed]]'s NULL stance. */
  def interleaveOrder(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy("shard_id")
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), shardId(idCol, nShards))
      .withColumn("global_ord",
        (row_number().over(w) - 1).cast("long") * nShards + col("shard_id"))
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: classify
    * every id across two snapshots as added / removed / changed /
    * unchanged by comparing an md5 over the `contentCols` (joined with a
    *  separator, so column boundaries cannot alias). Returns
    * (idCol, status).
    *
    * Scale shape: each snapshot reduces map-side to (id, 16-byte hash) —
    * the content never crosses the wire — then ONE full-outer shuffle join
    * on the id. NULL content columns hash as EMPTY via an explicit
    * per-column coalesce BEFORE the join — a bare concat_ws would skip a
    * NULL column together with its separator, letting ("a", NULL) and
    * (NULL, "a") hash identically; with the coalesce they differ. The one
    * deliberate alias left is NULL vs '' in the SAME column, consistent
    * with the engine's blank/NULL normalization story. */
  def snapshotDiff(
      ref: DataFrame, cmp: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff requires at least one content column")
    def hashed(df: DataFrame, as: String) = df.select(col(idCol),
      md5(concat_ws("\u0001",
        contentCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)).as(as))
    hashed(ref, "__rh").join(hashed(cmp, "__ch"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__rh").isNull, "added")
          .when(col("__ch").isNull, "removed")
          .when(col("__rh") =!= col("__ch"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Deterministic WEIGHTED sampling without replacement, k per stratum —
    * Efraimidis–Spirakis A-ES: each row draws a hash-stable uniform u and
    * scores `-ln(u) / w`; the k SMALLEST scores per stratum are a true
    * weight-proportional sample (a row with 10× the weight is 10× as
    * likely to make the cut). The curation use: sample documents
    * proportional to token count so the sampled corpus preserves the
    * token mass distribution, not the document count distribution —
    * [[stratifiedSample]] and [[capPerStratum]] are the UNIFORM twins.
    *
    * Determinism contract matches the rest of the family: u comes from
    * the first 8 md5 hex chars of the SALTED id ((v + 0.5) / 2³², never
    * exactly 0 or 1, so the log is always finite), membership is stable
    * across runs/partitionings/corpus growth elsewhere, and the draw
    * mirrors in DuckDB. Score ORDER is the one place two engines' libm
    * could disagree — adjacent scores would need to sit within ~1 ulp of
    * each other to flip a rank, and ties beyond that break by id.
    * Non-positive, NULL, and NaN weights fail loudly: a silent drop
    * would skew every stratum's mass, and a weight of 0 makes the score
    * infinite (the row would just never be drawn — callers filtering
    * zero-weight rows should do it explicitly, visibly). NULL ids are
    * EXCLUDED (same contract as [[interleaveOrder]]): a NULL id has no
    * stable draw, and its NULL score would otherwise sort FIRST under
    * Spark's ascending NULL ordering — hijacking the top-k of every
    * stratum nondeterministically.
    *
    * Scale shape: the draw and score are map-side expressions; selection
    * is one row_number window per stratum — Spark's WindowGroupLimit
    * pushes the top-k into the map side (each task forwards ≤ k rows per
    * stratum to the shuffle), the same shape PlanSpec pins on
    * [[Profile.sampleKPerGroup]]. */
  def sampleWeightedPerStratum(
      df: DataFrame, idCol: String, stratumCol: String,
      weightCol: String, k: Int, salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = col(weightCol).cast("double")
    val guarded = when(w.isNull || w.isNaN || w <= 0, raise_error(concat(
        lit(s"sampleWeightedPerStratum: non-positive/NULL '$weightCol' weight for id "),
        col(idCol).cast("string"),
        lit(" — weighted sampling is undefined; filter or fix the weights first")))
        .cast("double")).otherwise(w)
    val u = (conv(substring(md5(concat(col(idCol).cast("string"),
        lit("|" + salt))), 1, 8), 16, 10).cast("double") + 0.5d) / 4294967296.0d
    val scored = df.filter(col(idCol).isNotNull)
      .withColumn("__score", -log(u) / guarded)
    // nulls-last belt-and-braces: scores are non-NULL by construction
    // after the id filter, but the sort contract must not depend on it
    val rank = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col("__score").asc_nulls_last, col(idCol).asc_nulls_last))
    scored.withColumn("__rn", rank).filter(col("__rn") <= k)
      .drop("__score", "__rn")
  }

  /** DSIR importance scoring (Xie et al., NeurIPS 2023 — Data Selection
    * via Importance Resampling, the hashed n-gram variant): per document,
    * the mean log importance ratio of its hashed unigram features under a
    * TARGET language model vs the RAW-corpus model — documents whose
    * feature mix resembles the target population score high and are the
    * ones importance resampling keeps. Features are the first `hexChars`
    * md5 hex chars of each whitespace token (16^hexChars hashed buckets —
    * DSIR's hashing trick, and engine-portable as a plain string key);
    * both LMs are Laplace-smoothed exact rationals
    * `(count + 1) / (N + buckets)`, so a feature unseen in the target
    * still scores finitely. Returns (idCol, n_tok, dsir_logratio) with
    * the PER-TOKEN mean (length-normalized; multiply by n_tok for the
    * paper's raw summed weight) rounded to 4 decimals after the mean —
    * the [[graft.operators.TextAnalysis.withUnigramNll]] cross-engine
    * settlement. Documents with no nonempty token emit no row.
    *
    * Scale shape: two passes over the exploded tokens — the
    * [[graft.operators.TextAnalysis.withUnigramNll]] shape: one
    * partial-aggregated groupBy builds BOTH LMs over ≤ 16^hexChars
    * feature keys (the target membership rides as a 0/1 sum, so the two
    * LMs never cost separate scans), and one scoring pass joins tokens
    * against the bounded feature vocabulary (AQE broadcasts it), then a
    * per-doc rollup; the totals derive from the LM table as a broadcast
    * 1-row aggregate, never a third pass. */
  def dsirWeights(
      df: DataFrame, idCol: String, textCol: String, targetPred: Column,
      hexChars: Int = 3): DataFrame =
    dsirWeightsAgainst(df, idCol, textCol,
      dsirLm(df, textCol, targetPred, hexChars), hexChars)

  /** The DSIR language-model table itself — the PERSISTABLE model
    * artifact [[dsirWeights]] derives internally: per hashed unigram
    * feature (first `hexChars` md5 hex chars), the raw-corpus count and
    * the target-subpopulation count, both from ONE partial-aggregated
    * token scan (target membership rides as a 0/1 sum). Write this table
    * once on the training cadence and score every arriving batch against
    * it with [[dsirWeightsAgainst]] / `DocStreams.dsirScoreArrivals` —
    * the learn-once/apply-many contract. ≤ 16^hexChars rows — a bounded
    * model artifact, never data-sized. */
  def dsirLm(
      df: DataFrame, textCol: String, targetPred: Column,
      hexChars: Int = 3): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8], got $hexChars")
    df.filter(col(textCol).isNotNull)
      .select(targetPred.cast("boolean").as("__is_t"),
        explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col("__is_t"),
        substring(md5(col("__w")), 1, hexChars).as("feature"))
      .groupBy("feature").agg(
        count(lit(1)).as("n_raw"),
        coalesce(sum(when(col("__is_t"), 1L).otherwise(0L)), lit(0L))
          .as("n_target"))
  }

  /** DSIR scoring against a STORED language model — the incremental
    * twin: arriving documents score against a persisted [[dsirLm]] table
    * without rebuilding either LM from the corpus (the
    * `semanticPairsAgainst` contract). For a batch that is a subset of
    * the training corpus the scores are IDENTICAL to [[dsirWeights]]'
    * in-corpus scores (same smoothed rationals, same feature counts) —
    * the registered differential. A feature the training corpus never
    * hashed is handled by the Laplace smoothing itself: its counts
    * coalesce to 0 and the ratio stays finite — no row is dropped.
    *
    * Scale shape: totals derive from the bounded LM table as a 1-row
    * broadcast aggregate; the scoring pass is one LEFT join of the
    * batch's exploded tokens against the ≤ 16^hexChars-row LM (AQE
    * broadcasts it) and one partial-aggregated per-doc rollup. The
    * training corpus is never rescanned. */
  def dsirWeightsAgainst(
      batch: DataFrame, idCol: String, textCol: String, lm: DataFrame,
      hexChars: Int = 3): DataFrame = {
    require(hexChars >= 1 && hexChars <= 8,
      s"hexChars must be in [1, 8], got $hexChars")
    require(Seq("feature", "n_raw", "n_target").forall(lm.columns.contains),
      s"lm must carry (feature, n_raw, n_target) — the dsirLm schema; " +
        s"got (${lm.columns.mkString(", ")})")
    val buckets = math.pow(16, hexChars).toLong
    val tots = lm.agg(sum(col("n_raw")).as("__nq"),
      sum(col("n_target")).as("__nt"))
    val tok = batch.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .filter(col("__w") =!= "")
      .select(col(idCol), substring(md5(col("__w")), 1, hexChars).as("__f"))
    tok.join(lm.select(col("feature").as("__f"), col("n_raw").as("__cq"),
        col("n_target").as("__ct")), Seq("__f"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("__lr",
        log((coalesce(col("__ct"), lit(0L)) + 1).cast("double") /
            (col("__nt") + buckets)) -
          log((coalesce(col("__cq"), lit(0L)) + 1).cast("double") /
            (col("__nq") + buckets)))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_tok"),
        // + 0.0 normalizes negative zero: a corpus-typical doc's mean
        // log-ratio sits in (−0.00005, 0) where DuckDB's binary round
        // keeps −0.0 and Spark's HALF_UP emits +0.0 — the documented
        // cross-engine hash-misalignment class (oracle mirrors the +0.0)
        (round(avg(col("__lr")), 4) + lit(0.0)).as("dsir_logratio"))
  }
}
