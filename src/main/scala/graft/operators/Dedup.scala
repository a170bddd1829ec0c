package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.Materialized
import graft.functions.{TextFns, VectorFns}

/** Deduplication family for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: signatures are pure map-side column expressions; the only
  * shuffles are (a) the band/bucket group-join — which is the point of LSH:
  * candidate generation without the quadratic all-pairs product — and
  * (b) the final pair dedup. All-pairs variants (jaccard/cosine) exist as
  * correctness baselines and take a blocking column to bound the product.
  */
object Dedup {

  // ------------------------------------------------------------------ exact

  /** Exact dedup via content-hash group-by: one row per distinct content,
    * keeping the smallest id (deterministic survivor), with the group size.
    * At 100 TB this is the standard single-shuffle dedup: hash first so the
    * shuffle key is 16 bytes, not the document text. This is the ONE home
    * of the exact-dedup grouping contract (hash function, keeper
    * tie-break) — [[graft.operators.MultiModal.mediaDedup]] rides it via
    * `extraAggs` rather than re-stating it. `md5` accepts string AND
    * binary columns, so payload callers pass their bytes column directly.
    * `dropNull` excludes NULL content (nothing to hash) — text callers
    * historically keep the NULL group for visibility. */
  def exactGroups(
      df: DataFrame, idCol: String, textCol: String,
      extraAggs: Seq[Column] = Nil, dropNull: Boolean = false): DataFrame = {
    val base = if (dropNull) df.filter(col(textCol).isNotNull) else df
    base.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        (count(lit(1)).as("n_dups") +: extraAggs): _*)
  }

  // ---------------------------------------------------------------- minhash

  /** Hash family for minhash signatures. */
  sealed trait HashFamily
  /** md5 hex strings with an `"i|"` prefix per hash index — DuckDB can
    * mirror this exactly (lexicographic min over hex strings), so the
    * differential oracle uses it. */
  case object Md5Family extends HashFamily
  /** 64-bit FNV-1a with the same prefixing — the fast production default
    * (no cryptographic digest per shingle). Verified against Md5Family's
    * candidate behavior in DedupSpec. */
  case object Fnv64Family extends HashFamily

  private def md5hex(s: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef"
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < b.length) {
      sb.append(hex.charAt((b(i) >> 4) & 0xf)).append(hex.charAt(b(i) & 0xf))
      i += 1
    }
    sb.toString
  }

  /** One UDF computes the k per-hash minima AND folds them into the b band
    * values — a single JVM pass per document. (The earlier higher-order-
    * expression formulation evaluated k interpreted array passes per doc:
    * 5.6s at sf0.1 vs ~1s for this form.) NOTE the single band-array output
    * does NOT by itself guarantee one evaluation: any projection that
    * references the array column more than once (or is collapsed into one
    * that does) re-invokes the UDF per reference — call sites that fan the
    * array out into k columns must add an optimizer fence
    * (`.asNondeterministic()`: CollapseProject inlines a deterministic
    * expression once per reference).
    * Returns null when the doc has no shingles -> explode emits nothing ->
    * the doc matches no one, same as the oracle's empty-list list_min. */
  private def bandsUdf(numHashes: Int, bands: Int, shingleN: Int, family: HashFamily) = {
    val r = numHashes / bands
    udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.split(" ", -1)
        if (toks.length < shingleN) null
        else {
          val mins = Array.fill(numHashes)(null: String)
          var t = 0
          val last = toks.length - shingleN
          while (t <= last) {
            val s = if (shingleN == 1) toks(t) else toks.slice(t, t + shingleN).mkString(" ")
            var i = 0
            while (i < numHashes) {
              val h = family match {
                case Md5Family => md5hex(i.toString + "|" + s)
                case Fnv64Family => java.lang.Long.toHexString(fnv64(i.toString + "|" + s))
              }
              if (mins(i) == null || h < mins(i)) mins(i) = h
              i += 1
            }
            t += 1
          }
          Array.tabulate(bands)(j => mins.slice(j * r, (j + 1) * r).mkString("|"))
        }
      }
    }
  }

  /** Exploded (doc_id, band_idx, band_val) band rows — the STORED form of
    * a minhash index: write once (ideally bucketed on the band columns,
    * Sinks.writeBucketed) and reuse across incremental ingest batches via
    * [[minhashCandidatesAgainst]] instead of re-hashing the corpus. Docs
    * with no shingles (shorter than the shingle width) produce no band
    * rows and match nothing. */
  def minhashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 4,
      bands: Int = 2,
      shingleN: Int = 3,
      family: HashFamily = Fnv64Family): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // fan a small single-split scan out before the per-shingle hash-minima
    // kernel (graft.engine.Fan — identity at production scan sizes; bands
    // are exact hash strings, layout-independent downstream)
    graft.engine.Fan.out(df).select(col(idCol).as("doc_id"),
      posexplode(bandsUdf(numHashes, bands, shingleN, family)(col(textCol)))
        .as(Seq("band_idx", "band_val")))
  }

  /** LSH banding: candidate pairs (a_id < b_id) that agree on at least one
    * band of `numHashes / bands` consecutive minhash values.
    *
    * The bands are EXPLODED into (band_idx, band_val) rows and self-joined
    * once on that composite key — one pass over the signatures and one
    * shuffle, rather than one join per band. */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 4,
      bands: Int = 2,
      shingleN: Int = 3,
      family: HashFamily = Fnv64Family): DataFrame = {
    val banded = minhashBands(df, idCol, textCol, numHashes, bands, shingleN, family)
    val a = banded.toDF("a_id", "band_idx", "band_val")
    val b = banded.toDF("b_id", "band_idx", "band_val")
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** Incremental dedup: candidates between a NEW batch's bands and a
    * stored corpus band index — (new_id, corpus_id) pairs sharing at least
    * one band, without recomputing or reshuffling the corpus text. This is
    * the steady-state shape at 100 TB: the corpus index is written once
    * (bucketed on the band key, so this join needs no corpus-side
    * exchange) and each daily increment joins against it; compose with
    * [[minhashCandidates]] on the new batch alone for intra-batch dups.
    * Equivalence with the full-corpus self-join restricted to cross pairs
    * is pinned in DedupSpec. */
  def minhashCandidatesAgainst(newBands: DataFrame, corpusBands: DataFrame): DataFrame = {
    val a = newBands.toDF("new_id", "band_idx", "band_val")
    val b = corpusBands.toDF("corpus_id", "band_idx", "band_val")
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
  }

  // ---------------------------------------------------------------- simhash

  /** 64-bit FNV-1a of a UTF-16 string — the shingle hash behind simhash.
    * Plain JVM code: only internal consistency matters (there is no DuckDB
    * twin to mirror), so the hash family is free to be fast. */
  /** Banding S-curve sweep for the minhash LSH ([[minhashCandidates]]'s
    * (numHashes, bands) knob): per configuration b in `bandConfigs`
    * (r = numHashes / b rows per band), the candidate yield and the
    * true-pair yield against a caller-supplied TRUTH pair set — the
    * (b, r) trade (the classic S-curve 1 − (1 − s^r)^b, Leskovec/
    * Rajaraman/Ullman MMDS ch.3, made empirical for the corpus at hand)
    * read BEFORE committing a banding at 100 TB: more bands buy recall
    * and pay in candidate-join fanout, and the curve says where that
    * stops being worth it on real data. The signature is computed ONCE
    * (the numHashes minima array, projected so the per-config regrouping
    * never re-evaluates it — the k-gram HOF lesson) and every
    * configuration's bands derive from it map-side by consecutive
    * regrouping, exactly [[bandsUdf]]'s slice-and-join arithmetic; ONE
    * tagged (cfg, band_idx, band_val) self-join answers all
    * configurations together, and ONE truth intersection scores them.
    *
    * When the configurations form a DIVISIBILITY CHAIN (each dividing
    * the next, e.g. 1 | 2 | 4 | 8), narrower bands partition wider
    * ones, so candidate sets are NESTED and both yields are
    * non-decreasing in b — a theorem, which makes the chain the right
    * default sweep (arbitrary divisor sets are accepted; the monotone
    * guarantee then binds only along divisibility edges). The default
    * chain deliberately stops at r = 2: single-row bands (r = 1) pair
    * every co-owner of any one minimum — on a corpus with popular
    * shingles that is a quadratic bucket blowup for a recall the r = 2
    * point already approaches.
    *
    * `truthPairs` carries canonical (a_id < b_id) pairs — typically
    * [[ngramJaccardPairs]] at the target similarity threshold. Returns
    * one row per configuration, ascending b: (bands, rows_per_band,
    * n_candidates, n_true_pairs); a configuration generating no
    * candidates reports zeros. Docs too short to shingle produce no
    * band rows under any configuration ([[minhashBands]] contract). */
  def minhashBandSweep(
      df: DataFrame, idCol: String, textCol: String, truthPairs: DataFrame,
      numHashes: Int = 16, bandConfigs: Seq[Int] = Seq(1, 2, 4, 8),
      shingleN: Int = 3, family: HashFamily = Fnv64Family): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(bandConfigs.nonEmpty &&
      bandConfigs.forall(b => b >= 1 && numHashes % b == 0),
      s"every band config must be >= 1 and divide numHashes=$numHashes, " +
        s"got $bandConfigs")
    require(bandConfigs.distinct.size == bandConfigs.size,
      s"duplicate band configs: $bandConfigs")
    require(Seq("a_id", "b_id").forall(truthPairs.columns.contains),
      s"truthPairs must carry (a_id, b_id) — the canonical pair schema; " +
        s"got (${truthPairs.columns.mkString(", ")})")
    val bs = bandConfigs.sorted
    // fan before the signature UDF (graft.engine.Fan scaladoc — exact
    // hash output, identity at production scan sizes)
    val sig = graft.engine.Fan.out(df).select(col(idCol).as("id"),
      bandsUdf(numHashes, numHashes, shingleN, family)
        .asNondeterministic()(col(textCol)).as("__sig"))
    val tagged = bs.map { b =>
      val r = numHashes / b
      transform(sequence(lit(0), lit(b - 1)), j =>
        struct(lit(b).as("cfg"), j.as("idx"),
          concat_ws("|", slice(col("__sig"), j * r + 1, lit(r))).as("bv")))
    }
    val exploded = sig.filter(col("__sig").isNotNull)
      .select(col("id"), explode(flatten(array(tagged: _*))).as("bd"))
      .select(col("id"), col("bd.cfg").as("cfg"), col("bd.idx").as("idx"),
        col("bd.bv").as("bv"))
    val a = exploded.toDF("a_id", "cfg", "idx", "bv")
    val b = exploded.toDF("b_id", "cfg", "idx", "bv")
    // shuffle-hash hint: both sides are the same exploded frame (the
    // ngramJaccardPairs rationale — nothing to broadcast, no point SMJ)
    val cand = a.join(b.hint("shuffle_hash"), Seq("cfg", "idx", "bv"))
      .filter(col("a_id") < col("b_id"))
      .select("cfg", "a_id", "b_id").distinct()
    val scored = cand
      .join(truthPairs.select(col("a_id"), col("b_id"))
        .withColumn("__tp", lit(1L)), Seq("a_id", "b_id"), "left")
      .groupBy("cfg").agg(
        count(lit(1)).as("__nc"),
        coalesce(sum(col("__tp")), lit(0L)).as("__nt"))
      .collect().map(x => x.getInt(0) -> ((x.getLong(1), x.getLong(2))))
      .toMap
    val out = bs.map { bb =>
      val (nc, nt) = scored.getOrElse(bb, (0L, 0L))
      org.apache.spark.sql.Row(bb, numHashes / bb, nc, nt)
    }.toArray
    Similarity.localFrame(df.sparkSession, out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bands",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("rows_per_band",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_candidates",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_true_pairs",
          org.apache.spark.sql.types.LongType))))
  }

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64-bit SimHash over word shingles: per-bit majority vote of shingle
    * hashes.
    *
    * Implemented as a scalar UDF rather than SQL lambda expressions:
    * the higher-order-function formulation evaluates 64 interpreted
    * aggregate passes per document (~32M lambda evals on the sf0.1 bench,
    * 16.7s); one JVM call per row with tight loops does the same work in
    * well under a second. The codegen-friendly preference (SURVEY §4) loses
    * to measurement here — higher-order fns are interpreted, not codegen'd.
    */
  def simhash(df: DataFrame, textCol: String, shingleN: Int = 1): DataFrame = {
    val f = udf { (text: String) =>
      if (text == null) 0L
      else {
        val toks = text.split(" ", -1)
        val votes = new Array[Int](64)
        val last = toks.length - shingleN
        var t = 0
        while (t <= last) {
          val s = if (shingleN == 1) toks(t)
                  else toks.slice(t, t + shingleN).mkString(" ")
          val h = fnv64(s)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
          t += 1
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
        sig
      }
    }
    // asNondeterministic is an OPTIMIZER FENCE, not a semantic statement: the
    // hash is pure, but without it CollapseProject inlines this (expensive)
    // UDF into every downstream expression that references the column —
    // e.g. all C(numBlocks, numBlocks-d) table keys in simhashCandidates,
    // re-tokenizing each doc 56 times (measured 12.3s vs ~1s at sf0.1).
    df.withColumn("simhash", f.asNondeterministic()(col(textCol)))
  }

  /** SimHash near-dup candidates with a GUARANTEED-recall multi-table
    * scheme (the multi-index Hamming approach, e.g. HmSearch / Manku et al.
    * WWW'07 §3): the 64-bit signature splits into `numBlocks` equal blocks;
    * `maxHamming` bit errors can corrupt at most `maxHamming` blocks, so at
    * least `numBlocks - maxHamming` blocks survive intact — and since the
    * join tables are ALL (numBlocks - maxHamming)-subsets of blocks, some
    * table's full key is intact for every pair within the distance
    * (pigeonhole — 100% candidate recall, asserted in DedupSpec).
    *
    * Scale shape: key width is (numBlocks-maxHamming)·(64/numBlocks) bits —
    * at the defaults (8 blocks, d=3) a 40-bit key, i.e. 2^24x more bucket
    * values than the naive 4x16-bit split, whose 65,536 buckets all go hot
    * at corpus scale. Cost: C(numBlocks, numBlocks-maxHamming) exploded
    * rows per doc (56 at the defaults) — linear fan-out traded for
    * removing a quadratic hot-key join. Candidates are verified on the
    * true distance via bit_count(xor), so precision is exact. */
  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      shingleN: Int = 1,
      numBlocks: Int = 8): DataFrame = {
    require(64 % numBlocks == 0, s"numBlocks must divide 64, got $numBlocks")
    require(maxHamming >= 0 && maxHamming < numBlocks,
      s"need maxHamming < numBlocks for the pigeonhole guarantee ($maxHamming >= $numBlocks)")
    val blockBits = 64 / numBlocks
    val mask = if (blockBits == 64) -1L else (1L << blockBits) - 1
    def block(i: Int): Column =
      shiftrightunsigned(col("simhash"), i * blockBits).bitwiseAND(lit(mask))
    // one table per (numBlocks - maxHamming)-subset; its key packs the
    // selected block values into a single long via shift+OR — disjoint bit
    // ranges, so no arithmetic that could overflow under ANSI mode when
    // the packed width reaches the full 64 bits (maxHamming = 0)
    val tables = (0 until numBlocks).combinations(numBlocks - maxHamming)
      .toSeq.zipWithIndex.map { case (blocks, ti) =>
        val key = blocks.zipWithIndex.map { case (bIdx, k) =>
          shiftleft(block(bIdx), k * blockBits)
        }.reduce(_ bitwiseOR _)
        struct(lit(ti).as("tbl"), key.as("key"))
      }
    val sigs = simhash(df, textCol, shingleN).select(col(idCol), col("simhash"))
    val exploded = sigs.select(col(idCol), col("simhash"), explode(array(tables: _*)).as("t"))
      .select(col(idCol), col("simhash"), col("t.tbl"), col("t.key"))
    val a = exploded.toDF("a_id", "a_sim", "tbl", "key")
    val b = exploded.toDF("b_id", "b_sim", "tbl", "key")
    a.join(b, Seq("tbl", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ----------------------------------------------------------- ngram jaccard

  /** N-gram Jaccard similarity for pairs sharing at least one shingle:
    * explode distinct shingles, self-join on shingle, count intersections,
    * and compute |A∩B| / (|A|+|B|-|A∩B|).
    *
    * `maxShingleDf` drops shingles occurring in more than that many docs
    * before the join — the standard skew guard, ON by default: a
    * stop-shingle shared by a million docs would otherwise create a
    * quadratic hot key at corpus scale. When the cap is active BOTH the
    * intersection counts and the |A|/|B| denominators are computed over the
    * filtered shingle universe, so the Jaccard value stays a true Jaccard
    * of the retained shingle sets (not a mixed-universe ratio). Recall
    * caveat, by design: a pair similar ONLY through ultra-common shingles
    * is not reported. Pass `None` to disable (exact Jaccard over all
    * shingles — the oracle-baseline configuration, quadratic on hot keys). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minJaccard: Double = 0.5,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame = {
    // fan before the shingle kernel (graft.engine.Fan scaladoc — exact
    // hash/count output, identity at production scan sizes)
    val base = graft.engine.Fan.out(df).select(col(idCol).as("doc_id"),
      array_distinct(TextFns.shinglesFast(col(textCol), shingleN)).as("ss"))
    // the self-join and frequency aggregate key on the shingle's 64-bit
    // xxhash, never the shingle TEXT: the join result is identical (a
    // cross-shingle collision would need ~4·10⁹ distinct shingles for even
    // odds; at that scale it perturbs one intersection count by one), and
    // the shuffle ships 8-byte keys instead of n-gram strings
    val sh = base.select(col("doc_id"), explode(col("ss")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val (filtered, sizes) = maxShingleDf match {
      case Some(m) =>
        // the guard only needs the HOT shingles (df > m) — compute them
        // with one partial-aggregated groupBy and remove them with an
        // anti-join. The earlier window formulation (count over
        // partitionBy(s)) sorted and shuffled EVERY exploded occurrence
        // row just to read a count the map-side-combined aggregate gets
        // from far fewer bytes. NO forced broadcast: the hot set is tiny
        // on most corpora and AQE will broadcast it from runtime stats,
        // but its size is bounded only by occurrences/m — at 100 TB a
        // forced broadcast would be a driver-OOM cliff where a shuffled
        // anti-join merely costs a shuffle. Sizes are then re-counted
        // over the surviving rows so denominators match intersections.
        val hot = sh.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > m).select("s")
        // re-select positionally: the USING join moves the key column first,
        // and the band sides below rename by POSITION (toDF)
        val f = sh.join(hot, Seq("s"), "left_anti").select("doc_id", "s")
        (f, f.groupBy("doc_id").agg(count(lit(1)).as("n")))
      case None =>
        // |A| per doc is a map-side expression over the shingle array — no
        // shuffle (an earlier groupBy over the exploded rows added two extra
        // aggregate+broadcast stages and tripled the query's wall clock).
        (sh, base.select(col("doc_id"), size(col("ss")).cast("long").as("n")))
    }
    val a = filtered.toDF("a_id", "s")
    val b = filtered.toDF("b_id", "s")
    // shuffle-hash hint: the exploded shingle sides are the same size, so
    // there is no small side to broadcast (AQE otherwise broadcasts one
    // whole exploded corpus) and no point sorting both (SMJ)
    val inter = a.join(b.hint("shuffle_hash"), "s").filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).cast("double").as("i"))
    inter
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** ASYMMETRIC shingle containment for pairs sharing at least one
    * shingle: C(A⊂B) = |A∩B| / |A| — the near-SUPERSET detector Jaccard
    * structurally misses. A short document quoted whole inside a long one
    * (boilerplate headers, license blocks, syndicated articles wrapped in
    * boilerplate) has Jaccard ≈ |A|/|B| — arbitrarily small — but
    * containment ≈ 1. Training-data dedup that only thresholds Jaccard
    * keeps every such embedded copy.
    *
    * Returns (a_id, b_id, c_a_in_b, c_b_in_a) for pairs where EITHER
    * direction reaches `minContainment`; both directions ride along so
    * the caller can tell mutual near-duplicates (both high — also a high
    * Jaccard pair) from true embeddings (one high, one low) without a
    * second pass. Pairs orient a_id < b_id.
    *
    * Scale shape is [[ngramJaccardPairs]]'s: distinct shingles explode to
    * 64-bit hashes, ONE shuffle-hash self-join on the shingle key, one
    * partial-aggregated pair count — never all-pairs. The same
    * `maxShingleDf` hot-shingle guard is on by default (with the same
    * filtered-universe contract: denominators recount over surviving
    * shingles, so the ratio stays a true containment of the retained
    * sets); the recall caveat transfers — a pair similar only through
    * ultra-common shingles is not reported. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDf: Option[Int] = Some(10000)): DataFrame = {
    // fan before the shingle kernel (graft.engine.Fan scaladoc — exact
    // hash/count output, identity at production scan sizes)
    val base = graft.engine.Fan.out(df).select(col(idCol).as("doc_id"),
      array_distinct(TextFns.shinglesFast(col(textCol), shingleN)).as("ss"))
    val sh = base.select(col("doc_id"), explode(col("ss")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val (filtered, sizes) = maxShingleDf match {
      case Some(m) =>
        val hot = sh.groupBy("s").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > m).select("s")
        val f = sh.join(hot, Seq("s"), "left_anti").select("doc_id", "s")
        (f, f.groupBy("doc_id").agg(count(lit(1)).as("n")))
      case None =>
        (sh, base.select(col("doc_id"), size(col("ss")).cast("long").as("n")))
    }
    val a = filtered.toDF("a_id", "s")
    val b = filtered.toDF("b_id", "s")
    val inter = a.join(b.hint("shuffle_hash"), "s").filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).cast("double").as("i"))
    inter
      .join(sizes.toDF("a_id", "na"), "a_id")
      .join(sizes.toDF("b_id", "nb"), "b_id")
      .withColumn("c_a_in_b", col("i") / col("na"))
      .withColumn("c_b_in_a", col("i") / col("nb"))
      .filter(col("c_a_in_b") >= minContainment ||
        col("c_b_in_a") >= minContainment)
      .select("a_id", "b_id", "c_a_in_b", "c_b_in_a")
  }

  // ------------------------------------------------------- embedding cosine

  /** Embedding-cosine near-duplicate pairs above a threshold. This is the
    * EXACT baseline — inherently O(N²) work, but distributed O(N²): with no
    * blocking column the pair product runs as a true cartesian join
    * (CartesianProductExec — every (left-partition × right-partition) task
    * pair scores independently), NOT an equi-join on a constant key, which
    * would hash every row to one reducer and serialize the whole product
    * through a single task. An optional blocking column bounds the product
    * to within-block pairs.
    *
    * Vectors are unit-normalized BEFORE the pair product, so each pair
    * costs one dot product instead of dot + two norms.
    *
    * For a lower-cost candidate plan at high thresholds use
    * [[cosinePairsLsh]]; for top-k retrieval use [[Similarity.annLsh]] /
    * [[Similarity.annIvf]].
    *
    * `maxUnblockedRows` guards the UNBLOCKED cartesian: with no `blockCol`,
    * an input over the threshold fails fast (one cheap limit-bounded count,
    * only on the unblocked path) instead of launching an N² product that
    * can run a cluster out of compute — 200k rows ≈ 2·10¹⁰ scored pairs is
    * already hours of work. It is a footgun guard, not a correctness
    * limit: raise it deliberately when an exact quadratic baseline at that
    * scale is truly intended, or switch to `blockCol` / [[cosinePairsLsh]]. */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      blockCol: Option[String] = None,
      maxUnblockedRows: Long = 200000): DataFrame = {
    val joined = blockCol match {
      case Some(bc) =>
        val e = df.select(col(idCol).as("id"), VectorFns.unitizeNative(col(vecCol)).as("v"),
          col(bc).as("blk"))
        e.toDF("a_id", "a_v", "blk").join(e.toDF("b_id", "b_v", "blk"), Seq("blk"))
      case None =>
        val over = df.limit((maxUnblockedRows + 1).min(Int.MaxValue).toInt)
          .count() > maxUnblockedRows
        require(!over,
          s"cosinePairs without blockCol is an exact O(N²) cartesian and the " +
            s"input exceeds $maxUnblockedRows rows — pass blockCol to bound the " +
            "product, use cosinePairsLsh for the scale path, or raise " +
            "maxUnblockedRows if the quadratic baseline is truly intended")
        val e = df.select(col(idCol).as("id"), VectorFns.unitizeNative(col(vecCol)).as("v"))
        // fan ONE side of the cartesian (graft.engine.Fan): a single-split
        // scan otherwise makes CartesianProductExec 1×1 partitions — the
        // whole N² dot-product scored in ONE task. Fanning only the a-side
        // keeps the task count at fan×1 (fanning both would square it).
        // Per-pair dots are layout-independent, so results are unchanged.
        graft.engine.Fan.out(e).toDF("a_id", "a_v")
          .crossJoin(e.toDF("b_id", "b_v"))
    }
    joined.filter(col("a_id") < col("b_id"))
      .withColumn("cos", VectorFns.dotNative(col("a_v"), col("b_v")))
      .filter(col("cos") >= minCosine)
      .select("a_id", "b_id", "cos")
  }

  /** OR-amplified LSH candidate generation for cosine near-dup pairs: L
    * independent sign-random-projection tables of b planes each (reusing
    * [[Similarity.lshBucket]]); a pair is a candidate if it lands in the
    * same bucket in ANY table, then candidates are verified with the exact
    * dot product, so precision is exact and only recall is approximate.
    *
    * Recall for a pair at angle θ: per-plane collision p = 1 − θ/π, so
    * P(found) = 1 − (1 − p^b)^L. At a realistic near-dup threshold
    * (cos ≥ 0.9, p ≈ 0.86) the defaults (L=12, b=8) give ≥ 99.5% per-pair
    * recall; a planted-duplicate recall floor is pinned in DedupSpec.
    *
    * Why this is a SEPARATE operator and not [[cosinePairs]]'s default:
    * sign-LSH recall degrades toward the decision boundary. The fixture
    * oracle threshold 0.45 sits at θ ≈ 63° (p ≈ 0.65), where measured
    * fixture pairs cluster just above the cutoff (cos 0.450–0.513 at
    * sf0.1) — no (L, b) short of quadratic cost preserves those, so the
    * exact operator keeps the oracle and this one is the 100 TB candidate
    * path for the high-similarity regime it is designed for.
    *
    * Scale shape: candidate generation self-joins (table, bucket)-keyed
    * rows — id+bucket only, vectors do not fan out ×L; expected bucket
    * size N/2^b per table bounds the join. Vectors rejoin once per side
    * for the exact verify. */
  def cosinePairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      numTables: Int = 12,
      planesPerTable: Int = 8,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = Similarity.hyperplanes(numTables * planesPerTable, dim, seed)
    // the dot product truncates to min(length), so a dim mismatch would
    // silently bucket on a prefix of each vector and void the recall
    // formula. Guard EVERY row map-side (a first-row-only check misses
    // ragged corpora and NPEs on a null first vector): one size comparison
    // per row, negligible next to the unitize that follows it.
    val len = size(col(vecCol))
    val checked = when(col(vecCol).isNotNull && len === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"cosinePairsLsh: '$vecCol' must be non-null with dim=$dim, got length "),
        coalesce(len.cast("string"), lit("NULL")))))
    // fan before the hyperplane-bucketing kernel (numTables × planes dot
    // products per row — graft.engine.Fan scaladoc; buckets are exact
    // integers and the verify dot is per-pair, so layout cannot change
    // results)
    val e = graft.engine.Fan.out(df)
      .select(col(idCol).as("id"), VectorFns.unitizeNative(checked).as("v"))
    val bucketCols = (0 until numTables).map(t =>
      Similarity.lshBucket(col("v"), planes.slice(t * planesPerTable, (t + 1) * planesPerTable)))
    val buckets = e.select(col("id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "bkt")))
    val cand = buckets.toDF("a_id", "tbl", "bkt")
      .join(buckets.toDF("b_id", "tbl", "bkt"), Seq("tbl", "bkt"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(e.toDF("a_id", "a_v"), "a_id")
      .join(e.toDF("b_id", "b_v"), "b_id")
      .withColumn("cos", VectorFns.dotNative(col("a_v"), col("b_v")))
      .filter(col("cos") >= minCosine)
      .select("a_id", "b_id", "cos")
  }

  /** OR-amplification tuning curve for the embedding LSH
    * ([[cosinePairsLsh]]'s `numTables` knob): per table budget T in
    * `tables`, the candidate yield and TRUE-pair yield of running only
    * the FIRST T hash tables — the whole curve from ONE bucketing pass
    * at max(tables). A pair is live at budget T exactly when its first
    * co-bucketing table (min over co-bucketed tables, 0-indexed) is
    * < T, so every budget falls out of the same pair frame by
    * conditional sums; the exact verification (one dot per candidate)
    * runs once at the max budget and smaller budgets reuse it (their
    * candidate sets are subsets by construction — the
    * `ann_probe_sweep` one-scan algebra applied to pair generation).
    * The max-budget true-pair set is by construction identical to
    * [[cosinePairsLsh]] at `numTables = max(tables)` (spec-pinned
    * identity, not an approximation) — PROVIDED the two calls share
    * (planesPerTable, dim, seed); the defaults match cosinePairsLsh's
    * exactly so a defaults-vs-defaults pairing cannot diverge, and a
    * tuning read taken at one planesPerTable must deploy at the same
    * one (the bucket width is part of the curve being measured).
    *
    * Returns one row per budget, ascending: (n_tables, n_candidates,
    * n_true_pairs) — the recall-vs-cost read taken BEFORE pinning the
    * table count at 100 TB: each extra table buys recall at linear
    * bucketing cost plus its share of candidate-join fanout, and this
    * measures where the curve flattens on the corpus at hand.
    *
    * Scale shape: one bucketing projection (tMax bucket ids per row),
    * one (tbl, bkt) equi-join, one pair aggregate carrying min(tbl),
    * one verify join, ONE final aggregate with 2·|tables| conditional
    * sums collapsing to a single driver row — nothing re-executes per
    * budget, and the driver holds |tables| rows. */
  def cosineLshTableSweep(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double,
      tables: Seq[Int], planesPerTable: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(tables.nonEmpty && tables.forall(_ >= 1),
      s"tables must be non-empty positive budgets, got $tables")
    require(tables.distinct.size == tables.size,
      s"duplicate table budgets: $tables")
    val ts = tables.sorted
    val tMax = ts.last
    val planes = Similarity.hyperplanes(tMax * planesPerTable, dim, seed)
    // the cosinePairsLsh dim guard, verbatim: a ragged or null vector
    // must fail loudly, not bucket on a prefix
    val len = size(col(vecCol))
    val checked = when(col(vecCol).isNotNull && len === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"cosineLshTableSweep: '$vecCol' must be non-null with " +
          s"dim=$dim, got length "),
        coalesce(len.cast("string"), lit("NULL")))))
    // fan before the hyperplane-bucketing kernel (the cosinePairsLsh
    // rationale — exact buckets, per-pair verify dots)
    val e = graft.engine.Fan.out(df)
      .select(col(idCol).as("id"),
        VectorFns.unitizeNative(checked).as("v"))
    val bucketCols = (0 until tMax).map(t => Similarity.lshBucket(col("v"),
      planes.slice(t * planesPerTable, (t + 1) * planesPerTable)))
    val buckets = e.select(col("id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "bkt")))
    val pairsFirst = buckets.toDF("a_id", "tbl", "bkt")
      .join(buckets.toDF("b_id", "tbl", "bkt"), Seq("tbl", "bkt"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(min(col("tbl")).as("first_tbl"))
    val verified = pairsFirst
      .join(e.toDF("a_id", "a_v"), "a_id")
      .join(e.toDF("b_id", "b_v"), "b_id")
      .withColumn("is_true",
        (VectorFns.dotNative(col("a_v"), col("b_v")) >= minCosine)
          .cast("long"))
    val aggs = ts.flatMap { tt => Seq(
      sum(when(col("first_tbl") < tt, 1L).otherwise(0L)).as(s"__c$tt"),
      sum(when(col("first_tbl") < tt, col("is_true")).otherwise(0L))
        .as(s"__t$tt")) }
    // one driver row; an empty candidate set sums to NULL -> 0
    val row = verified.agg(aggs.head, aggs.tail: _*).head()
    def at(i: Int): Long =
      if (row.isNullAt(i)) 0L else row.getLong(i)
    val out = ts.zipWithIndex.map { case (tt, i) =>
      org.apache.spark.sql.Row(tt, at(2 * i), at(2 * i + 1)) }.toArray
    Similarity.localFrame(df.sparkSession, out,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_tables",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n_candidates",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_true_pairs",
          org.apache.spark.sql.types.LongType))))
  }

  // ------------------------------------------------- cluster resolution (CC)

  /** Resolve candidate PAIRS into duplicate CLUSTERS: connected components
    * over the pair graph by iterative min-label propagation, entirely as
    * DataFrame ops. Returns one row per node that appears in any pair:
    * (id, cluster_id) with cluster_id = the smallest id reachable from the
    * node — so the canonical survivor of each cluster is the row where
    * id == cluster_id.
    *
    * Every real dedup pipeline needs this step: dropping the b_id of each
    * pair over-deletes on transitive chains (for A~B, B~C with A≁C it
    * would drop both B and C even though C's only duplicate, B, is itself
    * gone). Component resolution keeps exactly one survivor per chain
    * (pinned in DedupSpec).
    *
    * Works for ANY orderable id type (long, string UUID, …): labels stay in
    * the ids' native type and "smallest" is that type's ordering — no cast
    * to long, which would null out string ids (non-ANSI) or throw
    * CAST_INVALID_INPUT (ANSI) on the common UUID-keyed corpus.
    *
    * Scale shape: each pass is one equi-join of the edge list against the
    * current labels plus a partial-aggregated min — all shuffle-local on
    * the node id, no driver-side graph. Convergence is witnessed by a
    * changed-label count: the node's OWN previous label already rides the
    * aggregation as a tagged contribution, so the count is a cheap scan of
    * the pass's checkpointed output — no extra join, and exact for any id
    * type. `localCheckpoint` truncates the lineage so plan depth stays O(1)
    * per pass instead of growing with the iteration count.
    *
    * Two algorithms:
    *  - `"minlabel"` (default) — label propagation; converges in
    *    O(component diameter) passes with ONE cheap join per pass.
    *    Duplicate clusters are near-cliques in practice (diameter ≤ 3-4),
    *    which makes this the right default.
    *  - `"star"` — alternating large-star/small-star edge contraction
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    *    SOCC'14): converges in O(log n) rounds at ~2x the per-round cost,
    *    for adversarial long-chain/high-diameter graphs where min-label's
    *    O(diameter) bound would blow past maxIters. Equivalence to
    *    min-label is property-tested on random graphs in DedupSpec. */
  /** `reliableCheckpoints`: the default `localCheckpoint` stores pass
    * results in executor block storage — fast, but NOT executor-loss-safe:
    * lineage is truncated, so on a real cluster a lost executor makes the
    * whole resolve unrecoverable (fine on local[n], where executor loss is
    * process death anyway). For production cluster runs set
    * `spark.sparkContext.setCheckpointDir(<hdfs/s3 path>)` and pass
    * `reliableCheckpoints = true`: each pass checkpoints to the reliable
    * store instead, and each pass's files are deleted as soon as the next
    * pass supersedes them (same lifecycle the local path gives blocks).
    *
    * FINAL-checkpoint lifecycle: the returned labels are BACKED by the
    * converged pass's checkpoint — it cannot be reclaimed here without
    * invalidating the result (checkpointing truncates lineage; freed
    * blocks/files cannot be recomputed). With `localCheckpoint` the
    * ContextCleaner reclaims the blocks once the caller drops the frame;
    * with `reliableCheckpoints` the files are durable and each call leaves
    * ONE converged snapshot in the checkpoint dir — long-lived services
    * should close the returned handle after materializing the labels.
    *
    * Returns the labels (id, cluster_id) as a [[graft.engine.Materialized]]
    * over the converged pass's checkpoint: `close()` unpersists the
    * backing blocks and deletes the reliable checkpoint's files.
    * Idempotent and best-effort, like the per-pass reclamation. */
  def resolveClusters(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIters: Int = 50,
      algorithm: String = "minlabel",
      reliableCheckpoints: Boolean = false): Materialized =
    algorithm match {
      case "minlabel" => resolveMinLabel(pairs, aCol, bCol, maxIters, reliableCheckpoints)
      case "star" => resolveStar(pairs, aCol, bCol, maxIters, reliableCheckpoints)._1
      case other => throw new IllegalArgumentException(
        s"unknown algorithm '$other' (expected 'minlabel' or 'star')")
    }

  private def resolveMinLabel(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int,
      reliable: Boolean = false): Materialized = {
    def checkpoint(df: DataFrame) = Materialized.checkpoint(df, reliable)
    // Materialize the (possibly expensive) pair pipeline ONCE before fanning
    // it out: the bidirectional edge union references it twice, and the
    // iteration loop re-reads it every pass — without this barrier the
    // whole upstream (e.g. a shingle self-join) would execute 2+ times
    // inside the first job alone (measured 2x wall clock on pipeline_docs).
    val half = checkpoint(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    val edges = half.df.union(half.df.select(col("dst").as("src"), col("src").as("dst")))
      .persist()
    var labels: Materialized = null
    var done = false
    // try/finally so a failing pass (or non-convergence) cannot leak the
    // edges cache, the half checkpoint, or the in-flight labels checkpoint.
    try {
      labels = checkpoint(edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id")))
      var it = 0
      while (!done && it < maxIters) {
        // one pass = one equi-join + one partial-aggregated min: each node's
        // new label is min(own label, neighbors' labels). The self-label
        // rides the aggregation as a unioned contribution tagged `own`, so no
        // second join is needed to merge it back — and keeping it visible as
        // max(own label) gives the previous label for the convergence check.
        val nbrContrib = edges
          .join(labels.df.select(col("id").as("dst"), col("cluster_id").as("nlbl")), "dst")
          .select(col("src"), col("nlbl"), lit(false).as("own"))
        // the convergence count rides the checkpoint job as an OBSERVED
        // metric (CollectMetrics) instead of a second count() job per pass
        // (optimization guide §1.2: don't run two actions where one
        // computes both) — the metric is collected WHILE the eager
        // checkpoint materializes the pass, so each pass is one job, not
        // two. Results are untouched: observe() is a pass-through node and
        // the changed-row predicate is the old count()'s filter verbatim.
        val obs = new org.apache.spark.sql.Observation()
        val updated = checkpoint(nbrContrib
          .union(labels.df.select(col("id").as("src"), col("cluster_id").as("nlbl"),
            lit(true).as("own")))
          .groupBy("src").agg(
            min("nlbl").as("cluster_id"),
            // exactly one own-tagged row per node, so max picks it out
            max(when(col("own"), col("nlbl"))).as("prev"))
          .withColumnRenamed("src", "id")
          .observe(obs, coalesce(sum(
            when(col("cluster_id") =!= col("prev"), 1L).otherwise(0L)),
            lit(0L)).as("changed")))
        // localCheckpoint above is EAGER, so `updated` no longer references
        // the prior pass's blocks — free them and take ownership of this
        // pass's checkpoint BEFORE the convergence count, so a throwing
        // action frees the new checkpoint in the finally block instead of
        // leaking it.
        labels.close()
        labels = updated.map(_.select("id", "cluster_id"))
        done = observedChanged(obs, updated.df.sparkSession.sparkContext) match {
          case Some(changed) => changed == 0L
          // the metric rides the async listener bus; if it has not landed
          // after the drain, fall back to the exact count() job the metric
          // replaced — never guess convergence
          case None =>
            updated.df.filter(col("cluster_id") =!= col("prev")).count() == 0L
        }
        it += 1
      }
      // an unconverged result is NOT a usable approximation: it splits true
      // components, so a caller deduplicating on it silently under-deletes.
      // Fail loudly instead — raise maxIters (passes scale with component
      // diameter) or pre-contract pathological chains.
      if (!done) throw new IllegalStateException(
        s"resolveClusters did not converge in $maxIters passes — component " +
          "diameter exceeds maxIters; raise it (passes are O(diameter))")
      labels
    } finally {
      edges.unpersist(blocking = false)
      half.close() // the returned labels reference only their OWN checkpoint
      // failure exit — the result is never returned
      if (!done && labels != null) labels.close()
    }
  }

  // The observed convergence metric lands on the async listener bus after
  // the checkpoint action returns, usually before the loop gets here: if it
  // has not landed yet, drain the bus once, then check once
  // (Observation.get would block forever if the action was not tracked).
  // A bus that does not drain in Spark's timeout, or a metric that still
  // has not landed, falls back to the exact count() — never a guess, and
  // both paths compute the same predicate.
  private def observedChanged(
      obs: org.apache.spark.sql.Observation, sc: org.apache.spark.SparkContext): Option[Long] = {
    if (!obs.future.isCompleted)
      try org.apache.spark.graftshim.ListenerShim.waitUntilEmpty(sc)
      catch { case _: java.util.concurrent.TimeoutException => () }
    val changed =
      if (!obs.future.isCompleted) None
      else obs.get.get("changed").map(_.asInstanceOf[Long])
    if (changed.isEmpty) observeFallbacks.incrementAndGet(): Unit
    changed
  }

  /** How many convergence checks fell back to the exact count(). */
  private[graft] val observeFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Large-star/small-star connected components (Kiveris et al., SOCC'14).
    *
    * One round = large-star then small-star, each a groupBy-min plus a
    * co-partitioned rejoin on the grouping key (partial-aggregated min,
    * AQE-skew-safe join — a window min would buffer a hot root's whole
    * adjacency in one task):
    *  - large-star(u): every neighbor v > u re-points to
    *    m = min(N(u) ∪ u) — long chains halve toward the minimum;
    *  - small-star(u) over (bigger, smaller) edges: every smaller neighbor
    *    and u itself point to the group minimum — pointer doubling.
    * The edge set contracts to one star per component rooted at its
    * minimum id in O(log n) rounds. Convergence witness is exact, not a
    * checksum: the contracted set equals the previous one iff the counts
    * match AND new∖old = ∅ (both sides distinct), one count + one
    * anti-join probe per round on the checkpointed edges.
    *
    * Returns (labels, rounds); rounds is exposed for DedupSpec's O(log n)
    * convergence pin. */
  private[graft] def resolveStar(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIters: Int,
      reliable: Boolean = false): (Materialized, Int) = {
    def checkpoint(df: DataFrame) = Materialized.checkpoint(df, reliable)
    // every id occurring in any pair gets a label, incl. self-pair ids
    // whose canonical edges vanish below
    val nodes = checkpoint(pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).distinct())
    var edges = checkpoint(
      pairs.select(greatest(col(aCol), col(bCol)).as("u"),
          least(col(aCol), col(bCol)).as("v"))
        .filter(col("u") =!= col("v")).distinct())
    var prevCount = edges.df.count()
    var it = 0
    var done = false
    try {
      while (!done && it < maxIters) {
        val bidir = edges.df.union(edges.df.select(col("v").as("u"), col("u").as("v")))
        val lMin = bidir.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("mn"), col("u")).as("m"))
        // emit (v, m) for v > u only: exactly one row per undirected edge,
        // and v > u >= m keeps the (bigger, smaller) orientation invariant
        val large = bidir.join(lMin, "u").filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .filter(col("u") =!= col("v")).distinct()
        val sMin = large.groupBy("u").agg(min("v").as("m")) // m < u always
        val small = large.join(sMin, "u")
          .select(col("v").as("u"), col("m").as("v")) // nbr -> group min
          .union(sMin.select(col("u"), col("m").as("v"))) // u -> group min
          .filter(col("u") =!= col("v"))
        val next = checkpoint(small.distinct())
        val nextCount = next.df.count()
        done = nextCount == prevCount &&
          next.df.join(edges.df, Seq("u", "v"), "left_anti").limit(1).count() == 0L
        edges.close()
        edges = next
        prevCount = nextCount
        it += 1
      }
      if (!done) throw new IllegalStateException(
        s"resolveClusters(star) did not converge in $maxIters rounds — " +
          "rounds are O(log n), so raise maxIters only for astronomically " +
          "large components")
      // at the fixed point each component is a star (u -> root=min); roots
      // and self-pair-only ids label themselves
      val labels = checkpoint(
        nodes.df.join(edges.df.select(col("u").as("id"), col("v").as("cl")), Seq("id"), "left")
          .select(col("id"), coalesce(col("cl"), col("id")).as("cluster_id")))
      // the returned labels reference only their OWN checkpoint; the final
      // edges/nodes checkpoints are freed below in both exit paths
      (labels, it)
    } finally {
      nodes.close()
      edges.close()
    }
  }

  /** Semantic near-dup PAIRS via cluster blocking (the SemDeDup recipe,
    * Abbas et al. 2023, public preprint): spherical k-means partitions the
    * embedding space ([[Similarity.kmeansCentroids]]), then the exact
    * cosine pair scan runs ONLY within each cluster
    * ([[cosinePairs]] with the cell as `blockCol`) — the quadratic cost
    * drops from N² to Σ|cell|², i.e. ~N²/k for balanced cells, and each
    * cell's product is an independent task. Recall is approximate: a pair
    * straddling a cluster boundary is missed (the price of blocking; raise
    * k for cheaper cells, lower it for better recall — the registered
    * query pins a measured recall floor against the exact scan).
    *
    * Returns (a_id, b_id, cos) like [[cosinePairs]]. */
  def semanticPairs(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double,
      k: Int = 16, lloydIters: Int = 1, probeCells: Int = 1): DataFrame = {
    val centroids = Similarity.kmeansCentroids(df, idCol, vecCol, k, lloydIters)
    val assigned = Similarity.assignCells(df, idCol, vecCol, centroids, probeCells)
    // soft blocking (probeCells > 1) emits a pair once per SHARED cell;
    // all copies carry the identical exact cos, so distinct dedups safely
    cosinePairs(assigned, idCol, vecCol, minCosine, blockCol = Some("cell"))
      .distinct()
  }

  /** SemDeDup end-to-end: cluster-blocked near-dup pairs →
    * connected-component resolution → keep one survivor (min id) per
    * semantic cluster. Composition of [[semanticPairs]] +
    * [[keepClusterSurvivors]]; use [[keepClusterSurvivorsBy]] manually for
    * quality-ranked survivor choice. */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double,
      k: Int = 16, lloydIters: Int = 1, probeCells: Int = 1): DataFrame =
    keepClusterSurvivors(df, idCol,
      semanticPairs(df, idCol, vecCol, minCosine, k, lloydIters, probeCells))

  /** Incremental SemDeDup: semantic near-dup pairs of a NEW batch against
    * a STORED clustered corpus — the [[minhashCandidatesAgainst]] /
    * [[substringDupPairsAgainst]] contract for the embedding family:
    * arriving embeddings NEVER re-cluster or re-scan the corpus.
    * `centroids` is a [[Similarity.kmeansCentroids]] dump (cell, cv) and
    * `corpusAssigned` a [[Similarity.assignCell]] dump carrying (idCol,
    * vecCol, cell) — both build-once/store/query-many tables materialized
    * when the corpus was clustered. The corpus dump is expected
    * HARD-assigned (one row per corpus id — [[Similarity.assignCell]]):
    * one corpus cell per id means a (new_id, corpus_id) pair can form
    * through only that cell however many cells the batch probes. A soft
    * [[Similarity.assignCells]] dump is schema-identical and still
    * CORRECT here (a post-filter dedup collapses the per-shared-cell
    * copies), just wasteful — the corpus fans out ×p in the cell join. Batch rows are soft-assigned to their
    * `probeCells` nearest stored centroids map-side (broadcast k-row
    * table) and the exact dot product runs only against corpus rows in a
    * probed cell; a pair is exact-verified, so precision is exact and
    * only recall is approximate — a corpus neighbor whose (hard) cell the
    * batch row does not probe is missed, the price of blocking (raise
    * `probeCells` toward k to trade cost for recall). Pairs where the
    * batch re-contains a corpus id are dropped (the `=!=` predicate,
    * oracle-mirrored).
    *
    * Returns (new_id, corpus_id, cos). Scale shape: ONE equi-join keyed
    * on the cell — batch fans out ×probeCells, the corpus side stays
    * stored and hard-assigned (no fan-out); per-cell product is
    * |batch∩cell| × |corpus cell|, the SemDeDup Σ|cell|² economics with
    * the batch as one (small) side. */
  def semanticPairsAgainst(
      batch: DataFrame, centroids: DataFrame, corpusAssigned: DataFrame,
      idCol: String, vecCol: String, minCosine: Double,
      probeCells: Int = 1): DataFrame = {
    require(Seq("cell", "cv").forall(centroids.columns.contains),
      s"centroids must carry (cell, cv) — the kmeansCentroids schema; " +
        s"got (${centroids.columns.mkString(", ")})")
    require(Seq(idCol, vecCol, "cell").forall(corpusAssigned.columns.contains),
      s"corpusAssigned must carry ($idCol, $vecCol, cell) — the assignCell " +
        s"dump schema; got (${corpusAssigned.columns.mkString(", ")})")
    val b = Similarity.assignCells(batch, idCol, vecCol, centroids, probeCells)
      .select(col(idCol).as("new_id"),
        VectorFns.unitizeNative(col(vecCol)).as("__bv"), col("cell"))
    val c = corpusAssigned.select(col(idCol).as("corpus_id"),
      VectorFns.unitizeNative(col(vecCol)).as("__cv"), col("cell"))
    b.join(c, Seq("cell"))
      .filter(col("new_id") =!= col("corpus_id"))
      .withColumn("cos", VectorFns.dotNative(col("__bv"), col("__cv")))
      .filter(col("cos") >= minCosine)
      // dedup AFTER the threshold filter, where the frame is the near-dup
      // pair set (≪ corpus — this exchange is noise next to the cell
      // join). Under the hard-assigned precondition it is a no-op, but a
      // soft assignCells dump is SCHEMA-IDENTICAL to an assignCell dump —
      // the require above cannot tell them apart — and duplicate pairs
      // from an off-contract store would silently inflate downstream
      // differential hit counts (every copy carries the identical exact
      // cos, so dropping duplicates is always safe)
      .select("new_id", "corpus_id", "cos").distinct()
  }

  /** Corpus-level LINE dedup (boilerplate removal): split every document
    * into segments on `sep`, compute each distinct segment's DOCUMENT
    * frequency across the whole corpus, strip segments appearing in more
    * than `maxDocFreq` documents from EVERY document, and reassemble the
    * survivors in original order — the web-corpus curation step that
    * removes navigation bars, cookie banners, and licence footers that
    * exact/near document dedup cannot touch (they ride inside otherwise
    * unique pages). Documents whose every segment is boilerplate come back
    * with empty text (they stay addressable; dropping them is the caller's
    * policy call).
    *
    * Scale shape: the frequency aggregate groups on the segment's 64-bit
    * xxhash, so distinct segment TEXT never ships to that shuffle — only
    * 8-byte keys with map-side partial aggregation; the offending hash set
    * (df > maxDocFreq, typically tiny: boilerplate is by definition
    * repeated) comes back through one anti-join that AQE broadcasts when
    * small; reassembly is one groupBy on the doc id with a per-doc-bounded
    * collect_list. A 64-bit hash collision could strip an innocent segment
    * alongside a boilerplate one (never corrupt text) — at ~4·10⁹ distinct
    * segments the birthday bound makes that a curation rounding error. */
  def dedupLines(
      df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDocFreq: Long = 1): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), sepRegex)).as(Seq("__pos", "__line")))
    val frequent = frequentSegments(df, idCol, textCol, sep, maxDocFreq).select("__h")
    val kept = lines.withColumn("__h", xxhash64(col("__line")))
      .join(frequent, Seq("__h"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")),
        sep).as("__text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol))
  }

  /** The boilerplate-segment INDEX behind [[dedupLines]]: (`__h` 64-bit
    * segment hash, `__df` document frequency) for every segment appearing
    * in more than `maxDocFreq` documents. Build it once over the corpus,
    * store it, and strip arriving data against it with
    * [[stripSegmentsMapSide]] / [[graft.streaming.DocStreams.stripBoilerplate]]
    * — the continuous-ingest shape where new batches never re-scan the
    * corpus (the twin of the minhash band index's role for near-dup). */
  def frequentSegments(
      df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDocFreq: Long = 1): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val sepRegex = java.util.regex.Pattern.quote(sep)
    df.select(col(idCol), explode(split(col(textCol), sepRegex)).as("__line"))
      .groupBy(xxhash64(col("__line")).as("__h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDocFreq)
  }

  /** Map-side boilerplate strip against a stored [[frequentSegments]]
    * index: the index collapses to ONE broadcast array row and each
    * document filters its own segments with a higher-order lambda — no
    * explode, no per-document aggregation, no shuffle, so it runs
    * unchanged on a streaming DataFrame in append mode (the streaming
    * twin wraps exactly this). Fit: the boilerplate set must be broadcast-
    * small (it is by construction — boilerplate is the REPEATED tail);
    * for a pathologically large index use [[dedupLines]]'s anti-join
    * shape in a foreachBatch instead. */
  def stripSegmentsMapSide(
      df: DataFrame, textCol: String, frequent: DataFrame,
      sep: String = "\n"): DataFrame = {
    val sepRegex = java.util.regex.Pattern.quote(sep)
    val bad = frequent.agg(collect_set(col("__h")).as("__bad"))
    df.crossJoin(broadcast(bad))
      .withColumn(textCol,
        // coalesce: a NULL text must land as "" exactly like dedupLines'
        // left-join-miss path does, or the pinned batch/stream parity
        // breaks on corpora with NULL texts
        coalesce(
          array_join(
            filter(split(col(textCol), sepRegex),
              s => !array_contains(col("__bad"), xxhash64(s))),
            sep),
          lit("")))
      .drop("__bad")
  }

  /** Pairs → survivors in one call: drop every row whose id belongs to a
    * duplicate cluster but is not that cluster's canonical (minimum) id. */
  def keepClusterSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = resolveClusters(pairs).df
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Survivor selection by QUALITY, not id: within each duplicate cluster
    * keep the row maximizing `scoreCol` (ties broken by minimum id, so the
    * pick is deterministic). The real-pipeline variant of
    * [[keepClusterSurvivors]] — when near-dups differ (boilerplate vs
    * clean extraction of the same page), keeping the arbitrary min-id copy
    * throws away the better text; production dedup recipes keep the
    * longest/highest-quality member of each cluster.
    *
    * Scale shape: the window ranks over the LABELS join (one row per node
    * that appears in any pair — the duplicate subset, typically a few
    * percent of the corpus), never over `df` itself; partitioned by
    * cluster_id, so no global sort and no skew beyond the largest cluster.
    * The corpus is touched only by one broadcast-able anti-join against
    * the loser ids. Rows outside every pair pass through untouched. */
  def keepClusterSurvivorsBy(
      df: DataFrame, idCol: String, pairs: DataFrame, scoreCol: String): DataFrame = {
    val labels = resolveClusters(pairs).df // (id, cluster_id), paired nodes only
    val scored = labels.join(
      df.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("__score").desc, col("id").asc)
    val losers = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------- exact-substring (winnowing)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS plagiarism-detection selector): per document, hash every
    * character `k`-gram, then take the MINIMUM hash of every COMPLETE
    * window of `w` consecutive k-gram hashes; the distinct set of those
    * window-minima is the fingerprint set. It is position-INDEPENDENT —
    * each selected value depends only on a w+k−1-char slice of content —
    * which is what stride-sampled shingles cannot give (a copied span
    * lands at different offsets in each document, so stride-aligned
    * samples miss it). Guarantee: two documents sharing any exact
    * substring of length ≥ w + k − 1 contain a common complete window,
    * hence share that window's minimum. (The tempting shortcut — keep
    * position i iff h(i) is the min of ITS trailing window — BREAKS the
    * guarantee: the shared window's argmin can be shadowed by a smaller
    * hash in the differing context just before the span, so nothing from
    * the span is selected. Selection must be per WINDOW, not per
    * position.) Documents with fewer than `w` k-grams keep their single
    * global-min fingerprint instead of vanishing.
    *
    * BELOW the w + k − 1 floor detection is probabilistic, decaying with
    * the span's gram count s = L − k + 1 < w: the span contributes a
    * SHARED fingerprint only if its minimal gram hash wins some complete
    * window in BOTH documents, i.e. beats the w − s nearest context-gram
    * hashes on each side — roughly s/w per document under uniform
    * hashing, and the two documents' contexts are independent, so
    * sub-floor recall falls off sharply (a 16-char span at k=16, w=8 is
    * s=1: ~1/8 per side). [[substringFloorSweep]] measures the yield per
    * (k, w) on the actual corpus; treat spans shorter than the floor as
    * out of contract rather than tuning for them. Returns per-document
    * DISTINCT (id, h: md5 hex of the k-gram) — callers must feed unique
    * ids (every fixture/corpus contract here does); md5 (not xxhash64) so
    * the DuckDB oracle mirrors the selection byte-for-byte.
    *
    * Scale shape: ENTIRELY map-side — the whole selection (gram hashes,
    * window minima, per-doc dedup) is ONE native codegen'd expression
    * ([[graft.plans.WinnowMinima]]: raw-byte md5 per k-gram + a
    * monotonic-deque O(n) sliding minimum) evaluated inside the row, so
    * fingerprinting shuffles NOTHING (the first exchange in any consumer
    * is its own — the pairing join, a stored-index lookup). This is also
    * what makes the streaming twin ([[graft.streaming.DocStreams]])
    * legal in append mode: no window over the stream.
    *
    * The selection exploded to (id, h) rows over a corpus. The native
    * expression replaced an interpreted HOF chain (a per-position md5
    * plus an O(n·w) window pass, ~10 s per MB of text, the dominant CPU
    * cost of the whole exact-substring family); that chain is kept with
    * the specs as the reference twin WinnowMinimaSpec pins the expression
    * against. Output is byte-identical, so every consumer's oracle SQL is
    * unchanged. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // fan a small single-split scan out before the per-k-gram md5 kernel
    // (graft.engine.Fan scaladoc) — identity at production scan sizes
    graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k))
      .select(col(idCol).as("id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, w)).as("h"))
  }

  /** Exact-substring duplication between documents: pairs sharing at least
    * `minShared` winnowing fingerprints — the local-copy detector (licence
    * boilerplate, quoted passages, mirrored paragraphs) that doc-LEVEL
    * similarity (minhash/ngram Jaccard) misses when the rest of the two
    * documents differs. The published exact-substring dedup result (Lee et
    * al., ACL'22) removes spans like these from pretraining corpora; this
    * operator finds them Spark-shaped. Returns (a_id, b_id, n_shared) with
    * a_id < b_id.
    *
    * `maxFingerprintDf` drops fingerprints present in more than that many
    * documents BEFORE pairing — corpus-wide boilerplate k-grams would
    * otherwise fan out quadratically in the per-hash doc count (the
    * maxShingleDf precedent). Dropped hashes can only LOWER n_shared, so
    * the cap trades recall on ubiquitous spans (which exact dedup handles
    * anyway) for a bounded join. All outputs are exact integer counts —
    * no FP, no rounding gate, full hash-match oracle. The result is a
    * plain lazy frame: this pipeline materializes nothing internally.
    *
    * Pair-stage shape: ONE shuffle of the fingerprint table into the
    * capped-list aggregate ([[graft.plans.CappedSortedList]]: df count
    * and bounded per-hash id list in the same buffer — an over-cap hash
    * collapses to a counter + NULL, so boilerplate fingerprints present
    * in millions of documents can never build an unbounded reducer
    * array) and ONE shuffle of the expanded pairs. The per-hash
    * 2-combinations are generated MAP-SIDE from the bounded list (the
    * array HOF is interpreted but runs over ≤ `maxFingerprintDf`
    * elements, noise next to the exchange). This replaced the original
    * 4-shuffle count/join-back/self-join chain, which also forced a
    * checkpoint barrier because the fingerprint scan fed three
    * consumers — measured warm 2.8 s → ~1.5 s at sf0.1.
    *
    * Numeric contract: the df count includes null-id fingerprint rows
    * (the DuckDB oracle's dfreq CTE counts rows of a DISTINCT (id, h)
    * projection; null ids are excluded from PAIRS, not from document
    * frequency) — the aggregate counts a null AT MOST ONCE per hash
    * (SQL DISTINCT treats NULLs as equal) and lists only non-nulls, so
    * it matches the oracle even for a caller feeding duplicate null ids
    * (see [[graft.plans.CappedSortedList]]). Non-null ids must be unique
    * per document — the [[winnowFingerprints]] corpus contract. */
  def substringDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxFingerprintDf >= 2,
      s"maxFingerprintDf must be >= 2 (pairs need two docs), got $maxFingerprintDf")
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
    // df cap + per-hash id list in ONE aggregation over ONE exchange
    // ([[graft.plans.CappedSortedList]]): the count includes null-id rows
    // (oracle dfreq semantics), the list never does (null ids cannot
    // pair), an over-cap hash evaluates to NULL with a bounded buffer by
    // construction, and sorting makes a_id < b_id structural.
    // winnowFingerprints emits per-doc DISTINCT (id, h), so the list is
    // duplicate-free.
    val ids = fp.groupBy("h")
      .agg(graft.plans.CappedSortedList.cappedSortedList(
        col("id"), maxFingerprintDf).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
    ids
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("__ids")) - 2),
        i => transform(
          slice(col("__ids"), i + 2, size(col("__ids")) - i - 1),
          b => struct(element_at(col("__ids"), i + 1).as("a_id"),
            b.as("b_id")))))).as("__p"))
      .select(col("__p.a_id"), col("__p.b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Detection-floor sweep for the winnowing k/w knob — the RECALL side
    * of the tuning read ([[substringSweep]]'s minShared sweep tunes
    * precision): for each window size `w`, one full winnow+pair pass and
    * the corpus-level detection yield — the guaranteed floor `w + k − 1`
    * (every copied span at least that long shares a fingerprint, the
    * [[winnowFingerprints]] guarantee), the candidate pair count, and the
    * number of distinct documents in any pair. Read before a destructive
    * strip: a larger `w` samples fewer fingerprints (cheaper, higher
    * floor — long-quote detection only), a smaller one pushes the
    * guaranteed floor toward `k` at more fingerprints per doc. Spans
    * BELOW the floor are only probabilistically detected — see
    * [[winnowFingerprints]] — which is why the floor column, not the
    * pair count alone, is the safety read.
    *
    * Returns one row per swept `w`: (k, w, floor_chars, n_pairs,
    * n_docs_paired) — exact integers, full hash-match oracle.
    *
    * Scale shape: one independent fingerprint pass per swept `w`, each
    * the [[substringDupPairs]] single-shuffle shape; the per-w
    * rollup aggregates the (small) pair frame, checkpointed once because
    * the pair count and the distinct-doc count are two consumers. A
    * shared-pass variant IS possible — window minima NEST (the minimum
    * of a w-window is the minimum of one of its w′-subwindows, so
    * fp(w₂) ⊆ fp(w₁) for w₂ > w₁ per doc): one pass could emit the
    * smallest-w selection tagged with each fingerprint's maximum
    * surviving w, saving the repeated text hashing — deliberately not
    * taken here because the per-w df caps are computed over per-w
    * fingerprint sets (a level-aware capped aggregate would complicate
    * the oracle mirror for a diagnostic run at ~3 s/SF0.1), and the
    * sweep is a tuning read, not a production stage. */
  def substringFloorSweep(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, ws: Seq[Int] = Seq(4, 8, 12), minShared: Int = 3,
      maxFingerprintDf: Int = 20): DataFrame = {
    require(ws.nonEmpty, "substringFloorSweep needs at least one window size")
    require(ws.distinct == ws, s"duplicate window sizes: ${ws.mkString(", ")}")
    // the per-w winnow+pair passes are independent job chains that each
    // end in an eager pair checkpoint — overlap them (guide §2.6); each
    // branch's own plan (and therefore its result) is unchanged
    graft.engine.Overlap.all(ws.map { w => () =>
      val pairs = substringDupPairs(df, idCol, textCol, k, w, minShared,
        maxFingerprintDf).select("a_id", "b_id").localCheckpoint()
      val docsPaired = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id").as("id"))).distinct()
      pairs.agg(count(lit(1)).cast("long").as("n_pairs"))
        .crossJoin(docsPaired.agg(count(lit(1)).cast("long").as("n_docs_paired")))
        .select(lit(k).as("k"), lit(w).as("w"),
          lit(w + k - 1).cast("long").as("floor_chars"),
          col("n_pairs"), col("n_docs_paired"))
    }).reduce(_.unionByName(_))
  }

  /** The VERIFY stage over [[substringDupPairs]] candidates: for each
    * candidate pair, the full k-gram intersection size — the span-extent
    * measure winnowing's sampled fingerprints can only hint at (a pair
    * sharing 3 sampled minima might share a 30-char quote or three
    * scattered ones; the exact gram overlap distinguishes them, and
    * `n_shared_grams + k − 1` bounds the copied mass if contiguous).
    * Classic LSH two-phase shape: cheap sampled candidates, exact check
    * on survivors only. Returns candidates' (a_id, b_id, n_shared_fp)
    * plus `n_shared_grams`.
    *
    * Scale shape: the full gram sets join ONLY for candidate pairs — the
    * candidate frame fans out by |grams(a)| (bounded by document length),
    * then one equi-join on (b_id, gram hash) and a per-pair rollup; the
    * corpus-wide gram table is never self-joined.
    *
    * Returned as a [[graft.engine.Materialized]] over its internal
    * CANDIDATE checkpoint: close it after materializing the result.
    *
    * Barrier placement: the checkpoint sits on the candidate PAIRS (a few
    * rows per duplicated span — the 100 TB contract is candidates ≪
    * corpus), which feed three consumers (both verify-join sides' filters
    * and the output); without it the whole winnow+pair pipeline re-runs
    * per consumer. The full gram table is NOT barriered any more: with
    * gram hashing native ([[graft.plans.WinnowMinima]], w=1 = the
    * distinct gram set) a second map-side scan costs less than
    * materializing |corpus-grams| rows of hex into block storage — and
    * neither gram scan ever shuffles whole: the a-side joins against the
    * (AQE-broadcast-able) candidate frame directly, and the b-side is
    * semi-join-filtered to candidate documents (either pair side) BEFORE
    * any exchange, so only candidate documents' grams are ever shuffled
    * or checkpointed — the one gram materialization is |candidate docs| ×
    * |grams per doc|, not corpus-sized. */
  def substringExtent(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): Materialized =
    Materialized.checkpoint(substringDupPairs(df, idCol, textCol,
        k, w, minShared, maxFingerprintDf)
      .withColumnRenamed("n_shared", "n_shared_fp"))
      .map(substringExtentFromPairs(df, _, idCol, textCol, k))

  /** [[substringExtent]] over a PRE-COMPUTED candidate pair frame — the
    * pairs-reuse entry point: a corpus run that reads the span histogram
    * ([[substringSpanLengthsFromPairs]]), verifies extents, and then
    * strips ([[stripCopiedSpansFromPairs]]) pays the winnow+pair stage
    * ONCE and hands the same candidate frame to each consumer, instead of
    * re-running it inside every call (the internal-pairs overloads exist
    * for one-shot convenience and compute exactly this frame).
    *
    * `cand` must carry (a_id, b_id) and the shared-fingerprint count as
    * either `n_shared` (the [[substringDupPairs]] output name) or
    * `n_shared_fp` (this operator's output name); it should be a
    * MATERIALIZED frame (checkpointed/cached/read back) — it is consumed
    * by three joins here, so a lazily derived frame would re-execute its
    * whole upstream chain per consumer (the internal overloads checkpoint
    * it for exactly that reason). Output and scale shape are identical to
    * [[substringExtent]] (gram scans map-side native, both join
    * sides semi-cut to candidate docs before any exchange); DedupSpec pins
    * FromPairs ≡ internal-pairs equality. */
  def substringExtentFromPairs(
      df: DataFrame, cand: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    val c = normalizedPairs(cand, "substringExtentFromPairs",
      Seq("n_shared" -> "n_shared_fp"))
    require(c.columns.contains("n_shared_fp"),
      "substringExtentFromPairs needs the shared-fingerprint count " +
        s"(n_shared or n_shared_fp); got (${cand.columns.mkString(", ")})")
    // gram scans are map-side native hashing (cheap enough to run twice —
    // the checkpoint a scan used to need cost more than recomputing) and
    // the corpus gram table is NEVER materialized or shuffled whole: the
    // a-side joins the (AQE-broadcast-able) candidate frame directly, and
    // the b-side is semi-filtered to candidate documents before the
    // (b_id, h) exchange
    // semi-cut to candidate docs FIRST (cheap id probe in the scan stage),
    // THEN fan the small scan out (graft.engine.Fan — identity at
    // production scan sizes), THEN run the gram kernel: the md5 explode is
    // the expensive part and must sit above the fan-out, not in the
    // single-split scan task
    def gramsFor(ids: DataFrame) = graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
          .select(col(idCol).as("id"), col(textCol))
          .join(ids, Seq("id"), "left_semi"))
      .select(col("id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
    val bIds = c.select(col("b_id").as("id")).distinct()
    val gramsB = gramsFor(bIds).select(col("id").as("b_id"), col("h"))
    // the a-side is semi-cut too: the inner join against cand filters the
    // same rows, but only AFTER shuffling — without the cut, a candidate
    // frame too large to broadcast would sort-merge the CORPUS gram table
    // by a_id (the semi keeps the guarantee structural, not AQE-dependent)
    val aIds = c.select(col("a_id").as("id")).distinct()
    val gramsA = gramsFor(aIds).select(col("id").as("a_id"), col("h"))
    c.select("a_id", "b_id", "n_shared_fp")
      .join(gramsA, Seq("a_id"))
      .join(gramsB, Seq("b_id", "h"))
      .groupBy("a_id", "b_id", "n_shared_fp")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Shared schema guard for the FromPairs family: (a_id, b_id) present,
    * optional renames applied (e.g. the [[substringDupPairs]] `n_shared`
    * name to the extent stage's `n_shared_fp`). */
  private def normalizedPairs(
      cand: DataFrame, caller: String,
      renames: Seq[(String, String)] = Nil): DataFrame = {
    require(Seq("a_id", "b_id").forall(cand.columns.contains),
      s"$caller needs a candidate pair frame with (a_id, b_id) — the " +
        s"substringDupPairs schema; got (${cand.columns.mkString(", ")})")
    renames.foldLeft(cand) { case (d, (from, to)) =>
      if (d.columns.contains(from) && !d.columns.contains(to))
        d.withColumnRenamed(from, to)
      else d
    }
  }

  /** Copied-span EXTENT DISTRIBUTION per candidate pair — the measurement
    * between detection ([[substringDupPairs]]: "these two share
    * something") and removal ([[stripCopiedSpans]]: "delete it"): for
    * each candidate pair, the exact number of distinct copied spans,
    * the longest span, and the total copied character mass in the later
    * document. [[substringExtent]]'s scalar gram-overlap count cannot
    * distinguish one 500-char quote from fifty scattered 10-char
    * collisions; the span distribution is what a user reads before
    * choosing a strip threshold (the span-length histogram analysis of
    * Lee et al., ACL'22). Returns (a_id, b_id, n_spans, max_span_chars,
    * copied_chars) — all exact BIGINTs, full hash-match oracle.
    *
    * Definition: a position i in b is matched iff b's k-gram at i occurs
    * anywhere in a (original text, the [[stripCopiedSpans]] coverage
    * contract); maximal runs of consecutive matched positions become char
    * intervals [start, end + k − 1], and intervals that overlap OR touch
    * (position gap ≤ k) MERGE — `n_spans` counts maximal CONTIGUOUS
    * copied regions, `copied_chars` sums their lengths (the union
    * coverage, exactly what [[stripCopiedSpans]] would delete for this
    * pair alone — no double-counting at run seams).
    *
    * Scale shape: positional grams explode only for candidate LATER docs
    * (semi-cut before the exchange), the match join is hash-keyed per
    * pair, and both islands passes window PARTITIONED BY THE PAIR —
    * bounded by one document's positions, never corpus-wide.
    *
    * Returned as a [[graft.engine.Materialized]] over the internal
    * candidate-pair checkpoint — the [[substringExtent]] contract. */
  def substringSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): Materialized =
    substringSpanLengths(df, idCol, textCol, k, w, minShared, maxFingerprintDf)
      .map(_.groupBy("a_id", "b_id").agg(
        count(lit(1)).as("n_spans"),
        max(col("span_chars")).cast("long").as("max_span_chars"),
        sum(col("span_chars")).cast("long").as("copied_chars")))

  /** The individual merged copied spans behind [[substringSpans]] — one
    * row per (pair, maximal contiguous copied region) with its exact char
    * length. This is the frame the span-length DISTRIBUTION reads from
    * (the histogram Lee et al. plot before picking removal thresholds);
    * [[substringSpans]] is its per-pair rollup. Span semantics (matched
    * positions, run/merge rules, the ≤-k touch merge) documented there;
    * the handle covers the candidate-pair checkpoint, as there. */
  def substringSpanLengths(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): Materialized =
    Materialized.checkpoint(substringDupPairs(df, idCol, textCol,
        k, w, minShared, maxFingerprintDf).select("a_id", "b_id"))
      .map(substringSpanLengthsFromPairs(df, _, idCol, textCol, k))

  /** [[substringSpanLengths]] over a PRE-COMPUTED candidate pair
    * frame — the pairs-reuse entry point (contract, materialization
    * requirement, and the one-pair-stage-many-consumers rationale:
    * [[substringExtentFromPairs]]). Only (a_id, b_id) is consumed.
    *
    * CONTRACT: `cand` pairs must be UNIQUE (a_id, b_id) rows — the
    * [[substringDupPairs]] output shape. A duplicated pair would emit its
    * matched positions twice, and duplicate pos rows break the
    * pos-minus-row_number run grouping the islands pass builds on (the
    * absorbed-by-distinct safety was deliberately traded away in
    * optimization round 21: the distinct cost a full exchange for rows
    * that are unique by construction from every in-tree caller). */
  def substringSpanLengthsFromPairs(
      df: DataFrame, cand: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = normalizedPairs(cand, "substringSpanLengthsFromPairs")
      .select("a_id", "b_id")
    // a-side distinct grams (coverage source), b-side POSITIONAL grams —
    // both semi-cut to candidate docs before any exchange
    // semi-cut FIRST, then fan the small scan out (graft.engine.Fan —
    // identity at production scan sizes), then the gram kernels: the md5
    // explodes must sit above the fan-out, not in the single-split scan
    val aGrams = graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
          .select(col(idCol).as("a_id"), col(textCol))
          .join(c.select("a_id").distinct(), Seq("a_id"), "left_semi"))
      .select(col("a_id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
    val bPos = graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
          .join(c.select(col("b_id").as(idCol)).distinct(), Seq(idCol),
            "left_semi"))
      .select(col(idCol).as("b_id"),
        posexplode(graft.plans.KgramHashes.grams(col(textCol), k)))
      .withColumnRenamed("col", "h")
    // NO distinct barrier: (a_id, b_id, pos) is UNIQUE by construction —
    // aGrams is per-doc DISTINCT ([[graft.plans.WinnowMinima]] dedupes its
    // minima) and (b_id, pos) determines its single gram hash, so the join
    // cannot emit a position twice for a pair (requires `cand` pairs be
    // unique — the substringDupPairs output shape every caller passes).
    // The distinct previously forced an extra (a_id, b_id, pos) exchange
    // before the windows' (a_id, b_id) exchange for identical rows
    // (optimization round 21; DedupSpec pins FromPairs ≡ internal-pairs).
    val matched = c.join(aGrams, Seq("a_id"))
      .join(bPos, Seq("b_id", "h"))
      .select("a_id", "b_id", "pos")
    // islands pass 1: maximal runs of CONSECUTIVE matched positions
    val wPair = Window.partitionBy("a_id", "b_id").orderBy("pos")
    val runs = matched
      .withColumn("__grp", col("pos") - row_number().over(wPair))
      .groupBy("a_id", "b_id", "__grp")
      .agg(min(col("pos")).as("__s"), max(col("pos")).as("__e"))
      .select(col("a_id"), col("b_id"),
        col("__s").as("cs"), (col("__e") + lit(k - 1)).as("ce"))
    // islands pass 2: merge char-overlapping runs (position gap < k)
    val wRun = Window.partitionBy("a_id", "b_id").orderBy("cs")
    val spans = runs
      .withColumn("__pmax",
        max(col("ce")).over(wRun.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        // strictly beyond prev coverage AND not touching it: adjacent
        // intervals (position gap exactly k) form ONE contiguous copied
        // region and merge; `copied_chars` is the same either way, only
        // the span count depends on this
        when(col("__pmax").isNull || col("cs") > col("__pmax") + 1, 1)
          .otherwise(0))
      .withColumn("__span", sum(col("__new")).over(wRun))
      .groupBy("a_id", "b_id", "__span")
      .agg((max(col("ce")) - min(col("cs")) + lit(1)).cast("long").as("span_chars"))
      .select("a_id", "b_id", "span_chars")
    spans
  }

  /** The threshold-picking REPORT — [[substringExtentFromPairs]] joined
    * with the per-pair rollup of [[substringSpanLengthsFromPairs]] —
    * fused into ONE plan over a shared matched-gram join (optimization
    * round 21): per candidate pair the sampled fingerprint count, exact
    * distinct-gram overlap, merged span count, longest span, and copied
    * char mass.
    *
    * Why fused: composed, the two consumers each scanned and
    * gram-exploded the corpus independently (4 scans + 2 join trees for
    * one report). The extent's distinct-gram overlap is derivable from
    * the SAME (pair, h, pos) matched frame the islands chain reads:
    * n_shared_grams = |distinct shared h| per pair = max(dense_rank over
    * h) — one extra window pass on the (a_id, b_id) partitioning already
    * in place (no new exchange) instead of a second corpus scan + join +
    * aggregate. Output is row-identical to the composition (DedupSpec
    * pins it).
    *
    * CONTRACT: `cand` pairs must be UNIQUE (a_id, b_id) rows — the
    * [[substringDupPairs]] output shape
    * ([[substringSpanLengthsFromPairs]] has the duplicate-pair failure
    * mode this uniqueness requirement exists to exclude). */
  def substringReportFromPairs(
      df: DataFrame, cand: DataFrame, idCol: String, textCol: String,
      k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c0 = normalizedPairs(cand, "substringReportFromPairs",
      Seq("n_shared" -> "n_shared_fp"))
    require(c0.columns.contains("n_shared_fp"),
      "substringReportFromPairs needs the shared-fingerprint count " +
        s"(n_shared or n_shared_fp); got (${cand.columns.mkString(", ")})")
    val c = c0.select("a_id", "b_id", "n_shared_fp")
    // the two gram scans of the spans chain, verbatim (semi-cut first,
    // then the scale-adaptive fan, then the gram kernels)
    val aGrams = graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
          .select(col(idCol).as("a_id"), col(textCol))
          .join(c.select("a_id").distinct(), Seq("a_id"), "left_semi"))
      .select(col("a_id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
    val bPos = graft.engine.Fan.out(
        df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
          .join(c.select(col("b_id").as(idCol)).distinct(), Seq(idCol),
            "left_semi"))
      .select(col(idCol).as("b_id"),
        posexplode(graft.plans.KgramHashes.grams(col(textCol), k)))
      .withColumnRenamed("col", "h")
    // (a_id, b_id, h, pos) is unique by the spans-chain argument (aGrams
    // per-doc distinct; (b_id, pos) determines h), so no distinct barrier
    val matched = c.join(aGrams, Seq("a_id")).join(bPos, Seq("b_id", "h"))
      .select("a_id", "b_id", "n_shared_fp", "h", "pos")
    val wPairH = Window.partitionBy("a_id", "b_id").orderBy("h")
    val wPairAll = Window.partitionBy("a_id", "b_id")
    val wPairPos = Window.partitionBy("a_id", "b_id").orderBy("pos")
    // the extent read: distinct shared grams per pair as max(dense_rank)
    // — same (a_id, b_id) partitioning as the islands windows below, so
    // the whole chain is one exchange
    val withNsg = matched
      .withColumn("__hr", dense_rank().over(wPairH))
      .withColumn("__nsg", max(col("__hr")).over(wPairAll).cast("long"))
    // islands pass 1 (the spans-chain semantics, with the pair constants
    // riding through the aggregates)
    val runs = withNsg
      .withColumn("__grp", col("pos") - row_number().over(wPairPos))
      .groupBy("a_id", "b_id", "__grp")
      .agg(min(col("pos")).as("__s"), max(col("pos")).as("__e"),
        max(col("n_shared_fp")).as("n_shared_fp"),
        max(col("__nsg")).as("n_shared_grams"))
      .select(col("a_id"), col("b_id"), col("n_shared_fp"),
        col("n_shared_grams"),
        col("__s").as("cs"), (col("__e") + lit(k - 1)).as("ce"))
    // islands pass 2 + the per-pair report rollup
    val wRun = Window.partitionBy("a_id", "b_id").orderBy("cs")
    runs
      .withColumn("__pmax",
        max(col("ce")).over(wRun.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("cs") > col("__pmax") + 1, 1)
          .otherwise(0))
      .withColumn("__span", sum(col("__new")).over(wRun))
      .groupBy("a_id", "b_id", "__span")
      .agg(max(col("n_shared_fp")).as("n_shared_fp"),
        max(col("n_shared_grams")).as("n_shared_grams"),
        (max(col("ce")) - min(col("cs")) + lit(1)).cast("long")
          .as("span_chars"))
      .groupBy("a_id", "b_id")
      // the coalesce fallbacks never fire (every group is non-empty and
      // the carried pair constants are non-null); they exist to pin the
      // NON-NULLABLE schema of the composition this fused plan replaces
      .agg(coalesce(max(col("n_shared_fp")), lit(0L)).as("n_shared_fp"),
        coalesce(max(col("n_shared_grams")), lit(0L)).as("n_shared_grams"),
        count(lit(1)).as("n_spans"),
        max(col("span_chars")).cast("long").as("max_span_chars"),
        sum(col("span_chars")).cast("long").as("copied_chars"))
      .select("a_id", "b_id", "n_shared_fp", "n_shared_grams",
        "n_spans", "max_span_chars", "copied_chars")
  }

  /** Copied-span REMOVAL — the payoff stage of exact-substring dedup
    * (Lee et al., ACL'22: duplicated spans are removed from all but one
    * occurrence of a pretraining corpus; [[substringDupPairs]] finds the
    * pairs, this strips them). For every document that appears as the
    * LATER side (`b_id`) of a candidate pair, characters covered by a
    * k-gram that any of its EARLIER partners (`a_id`, original text) also
    * contains are deleted, keeping the rest in order; the earliest copy
    * keeps the span. All other documents — including every pure a-side
    * doc — pass through byte-identical. Returns `df` with `textCol`
    * replaced and an exact-integer `n_removed` (characters deleted, 0
    * for untouched docs, including NULL-text rows).
    *
    * Semantics notes: matching is against partners' ORIGINAL text (a
    * chain a<b<c strips b against a and c against both originals — order
    * of processing cannot change the result because nothing depends on a
    * stripped intermediate); a lone matched k-gram removes exactly its k
    * characters, so `k` is the minimum span the operator deletes, and a
    * run of matched grams removes the whole contiguous span. Re-running
    * the operator on its own output is a no-op on span-planted corpora
    * (the copied grams are gone, so no pair re-forms) — pinned by spec.
    *
    * Scale shape: candidate pairs come from the winnowing pipeline
    * (single-shuffle, df-capped); partner gram sets are built by one
    * map-side native gram scan of the a-side documents, semi-filtered to
    * candidate partners before any exchange, fanned per pair (the
    * [[substringExtent]] verify-join shape), INTERSECTED with the later
    * doc's own gram set (a second map-side scan; a partner gram b lacks
    * can never match, so the cut is semantics-free), and collapsed to
    * one DISTINCT hash array per later document — bounded by THAT DOC's
    * distinct gram count, never |partners| × |grams per doc| (the
    * pre-intersect array shipped the partners' full gram sets: 129 MB of
    * shuffle and an unbounded-in-partners reducer buffer at sf0.1; the
    * cut trades one extra map-side scan + exchange — measured ≈ +0.8 s
    * local at sf0.1 — for −80% shuffle and a per-doc-bounded buffer,
    * which is the 100 TB-side of the trade). The strip itself is ONE
    * codegen'd per-row expression ([[graft.plans.StripMatchedGrams]]) —
    * no positional explode, no per-character rows, no reassembly
    * window.
    *
    * Returned as a [[graft.engine.Materialized]] over the internal
    * candidate-pair and pair-doc gram checkpoints — the
    * [[substringExtent]] contract. */
  def stripCopiedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): Materialized = {
    require(!df.columns.contains("n_removed"),
      "stripCopiedSpans adds an n_removed column; the input already has one")
    Materialized.checkpoint(substringDupPairs(df, idCol, textCol,
        k, w, minShared, maxFingerprintDf).select("a_id", "b_id"))
      .flatMap(stripCopiedSpansFromPairs(df, _, idCol, textCol, k))
  }

  /** [[stripCopiedSpans]] over a PRE-COMPUTED candidate pair frame — the
    * pairs-reuse entry point (contract, materialization requirement, and
    * the one-pair-stage-many-consumers rationale:
    * [[substringExtentFromPairs]]). Only (a_id, b_id) is consumed; strip
    * semantics are [[stripCopiedSpans]]' verbatim (later side loses
    * characters covered by any earlier partner's k-grams, everything else
    * passes through byte-identical). Returned as a
    * [[graft.engine.Materialized]] over the internal pair-doc gram
    * checkpoint (close only after the result is materialized). */
  def stripCopiedSpansFromPairs(
      df: DataFrame, cand: DataFrame, idCol: String, textCol: String,
      k: Int = 16): Materialized = {
    require(!df.columns.contains("n_removed"),
      "stripCopiedSpansFromPairs adds an n_removed column; the input already has one")
    val c = normalizedPairs(cand, "stripCopiedSpansFromPairs")
      .select("a_id", "b_id")
    // distinct grams of every doc on EITHER side of a pair, in ONE gram
    // pass: a- and b-sides overlap heavily (a doc is routinely both an
    // earlier partner and a later doc), and each side previously ran its
    // own semi-cut scan + w=1 md5 kernel over the corpus — the union scan
    // hashes each partner doc once and is materialized once (matched-doc
    // sized, the extent verify-join shape ~12 MB at sf0.1) so both
    // consumers below read it without re-running the kernel (guide §1.2
    // don't-compute-twice). Semi-cut FIRST, then fan the small scan out
    // (graft.engine.Fan, identity at production scan sizes), then the
    // kernel.
    val pairDocIds = c.select(col("a_id").as("id"))
      .union(c.select(col("b_id").as("id"))).distinct()
    Materialized.checkpoint(
      graft.engine.Fan.out(
          df.filter(col(textCol).isNotNull && length(col(textCol)) >= k)
            .select(col(idCol).as("id"), col(textCol))
            .join(pairDocIds, Seq("id"), "left_semi"))
        .select(col("id"),
          explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h")))
      .map { grams =>
        // the inner join on a_id / left-semi probe on b_id each see only their
        // own side's ids, so reading the UNION dump on both sides is
        // row-identical to the per-side scans it replaces
        val aGrams = grams.select(col("id").as("a_id"), col("h"))
        val bGrams = grams.select(col("id").as("b_id"), col("h"))
        // the partner set is intersected with the LATER doc's own gram set
        // BEFORE collecting: a partner gram absent from b can never match
        // during the strip, so dropping it is semantics-free — and it shrinks
        // the per-doc array from the partners' FULL gram sets (bounded by
        // partner doc lengths; measured 129 MB of shuffle through the
        // collect_set + final join at sf0.1) to just the matched grams
        // (the copied spans' — the extent verify-join shape, ~12 MB)
        val ph = c.join(aGrams, Seq("a_id"))
          .join(bGrams, Seq("b_id", "h"), "left_semi")
          .groupBy("b_id").agg(collect_set(col("h")).as("__ph"))
          .select(col("b_id").as("__strip_id"), col("__ph"))
        // payload side NOT fanned: the strip expression only re-hashes docs
        // with a non-NULL __ph (the b-side of some pair — a small fraction),
        // so a round-robin exchange of the full text corpus costs more than
        // the kernel it parallelizes (the round-21 decontam_strip regression;
        // guide §2.3/§8)
        val joined = df.join(ph, df(idCol) === ph("__strip_id"), "left")
        stripWithPartnerHashes(joined, textCol, k)
      }
  }

  /** Shared tail of the strip family: a frame carrying `textCol` and the
    * reserved-name helpers (`__strip_id` join key, nullable `__ph`
    * partner-hash array) → text stripped through the codegen'd
    * [[graft.plans.StripMatchedGrams]] (NULL `__ph` = unpaired doc,
    * passes through), exact-integer `n_removed`, helpers dropped. Helper
    * names are `__`-reserved so a user column can never collide with (and
    * be silently destroyed by) the drop; `n_removed` is the one PUBLIC
    * output column, guarded by require at each operator entry. */
  private def stripWithPartnerHashes(
      joined: DataFrame, textCol: String, k: Int): DataFrame = {
    val stripped = when(col("__ph").isNotNull && col(textCol).isNotNull,
      graft.plans.StripMatchedGrams.stripCol(col(textCol), col("__ph"), k))
      .otherwise(col(textCol))
    joined
      .withColumn("__stripped", stripped)
      .withColumn("n_removed",
        coalesce(length(col(textCol)) - length(col("__stripped")), lit(0))
          .cast("long"))
      .withColumn(textCol, col("__stripped"))
      .drop("__stripped", "__ph", "__strip_id")
  }

  /** [[stripCopiedSpans]] against a STORED corpus — the kernel of the
    * streaming twin ([[graft.streaming.DocStreams.stripArrivalsSink]]):
    * arriving documents lose every character covered by a k-gram shared
    * with a corpus document they pair with, where "pairs with" is ≥
    * `minShared` winnowing fingerprints against the stored index. The
    * corpus is the earlier side BY DEFINITION (everything stored predates
    * the arrival), so there is no id-order tiebreak; a batch document
    * sharing nothing passes through byte-identical with `n_removed` 0.
    *
    * `corpusFps` is a [[winnowFingerprints]] dump (id, h); `corpusGrams`
    * a WinnowMinima w=1 dump (id, h — the distinct gram sets). Both are
    * build-once/store/query-many tables (the [[simhashIndex]] /
    * minhash-band-index contract): new batches NEVER re-scan or re-hash
    * the corpus. The df cap is applied on the INDEX side (hashes present
    * in more than `maxFingerprintDf` corpus docs are dropped before the
    * candidate join — the boilerplate fan-out guard), which is the one
    * semantic difference from the batch operator's union-wide cap.
    *
    * Scale shape: batch docs are hashed map-side; the candidate join is
    * hash-keyed against the capped index; partner gram sets fan per
    * (arrival, partner) — bounded by partners per arrival — and collapse
    * to one DISTINCT array per arrival; the strip is the per-row codegen
    * expression. Within-batch duplicates are deliberately NOT stripped
    * against each other (the [[graft.streaming.DocStreams.dropKnownExact]]
    * rationale: that needs the batch on both sides, which belongs to the
    * batch operator). */
  def stripAgainstCorpus(
      batch: DataFrame, corpusFps: DataFrame, corpusGrams: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): DataFrame =
    stripAgainstCappedIndex(batch,
      capFingerprintIndex(corpusFps, maxFingerprintDf), corpusGrams,
      idCol, textCol, k, w, minShared).df

  /** The df cap as a BUILD-ONCE index transform: drop fingerprint hashes
    * present in more than `maxFingerprintDf` corpus documents (the
    * boilerplate fan-out guard). Apply this when MATERIALIZING the stored
    * index, not per query — [[stripAgainstCorpus]] caps internally for
    * one-shot batch convenience, but a per-micro-batch caller
    * ([[graft.streaming.DocStreams.stripArrivalsSink]]) must not pay a
    * corpus-proportional aggregate per batch, so it caps + persists ONCE
    * at construction and queries through [[stripAgainstCappedIndex]]. */
  def capFingerprintIndex(
      corpusFps: DataFrame, maxFingerprintDf: Int): DataFrame = {
    require(Seq("id", "h").forall(corpusFps.columns.contains),
      s"corpusFps must carry (id, h) — the winnowFingerprints schema; " +
        s"got (${corpusFps.columns.mkString(", ")})")
    require(maxFingerprintDf >= 1,
      s"maxFingerprintDf must be >= 1, got $maxFingerprintDf")
    val keep = corpusFps.groupBy("h").agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxFingerprintDf)
      .select("h")
    corpusFps.join(keep, Seq("h"), "left_semi")
  }

  /** Incremental [[substringDupPairs]]: candidate copied-span pairs of a
    * NEW batch against a STORED fingerprint index (the
    * [[minhashCandidatesAgainst]] shape for the winnowing family) —
    * (new_id, corpus_id, n_shared) with `n_shared` ≥ `minShared` shared
    * fingerprints. The index should be df-capped at build time
    * ([[capFingerprintIndex]]); the batch side is hashed map-side and the
    * candidate join is hash-keyed — new batches never re-scan or re-hash
    * the corpus. Rows where either id is NULL, or the batch re-contains a
    * corpus id, never pair (the `<>` predicate, oracle-mirrored). */
  def substringDupPairsAgainst(
      batch: DataFrame, cappedFps: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3): DataFrame =
    pairsAgainstCore(batch, cappedFps, idCol, textCol, k, w, minShared,
      excludeSameId = true)

  /** Shared pair core for the against-a-stored-index family. The one
    * semantic switch is `excludeSameId`: the INCREMENTAL contract
    * ([[substringDupPairsAgainst]]) pairs a new batch against an index of
    * the SAME table, where a batch re-containing a corpus id is the same
    * document and must never self-pair; the CROSS-DATASET contract
    * ([[stripBenchmarkSpans]]) pairs two independent id namespaces, where
    * a coincidental id collision between a training document and a
    * benchmark document is meaningless and must NOT suppress the match —
    * an id-guard there would silently skip exactly the leaked rows
    * decontamination exists to catch. */
  private def pairsAgainstCore(
      batch: DataFrame, cappedFps: DataFrame,
      idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int, excludeSameId: Boolean): DataFrame = {
    require(Seq("id", "h").forall(cappedFps.columns.contains),
      s"cappedFps must carry (id, h) — the winnowFingerprints schema; " +
        s"got (${cappedFps.columns.mkString(", ")})")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val joined = winnowFingerprints(batch, idCol, textCol, k, w)
      .toDF("new_id", "h")
      .join(cappedFps.select(col("id").as("corpus_id"), col("h")), Seq("h"))
    (if (excludeSameId) joined.filter(col("new_id") =!= col("corpus_id"))
     else joined)
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[stripAgainstCorpus]] against an ALREADY-CAPPED (or deliberately
    * uncapped) fingerprint index — the query-many path: no per-call
    * aggregate over the index. Returned as a [[graft.engine.Materialized]]
    * over the internal partner-pair checkpoint — the [[stripCopiedSpans]]
    * contract. Long-lived callers (the streaming sinks, one strip per
    * micro-batch) must close it after materializing or the per-batch
    * checkpoints accumulate for the query's lifetime. */
  def stripAgainstCappedIndex(
      batch: DataFrame, cappedFps: DataFrame, corpusGrams: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3): Materialized =
    stripAgainstIndexCore(batch, cappedFps, corpusGrams, idCol, textCol,
      k, w, minShared, excludeSameId = true)

  /** Shared strip core — [[pairsAgainstCore]] has the `excludeSameId`
    * rationale; everything downstream of the pair step is contract-
    * identical between the incremental and cross-dataset callers.
    * Returns the strip frame over the internal partner-pair checkpoint
    * (the [[stripCopiedSpans]] contract): close it only after the result
    * is materialized — the streaming sinks do, per micro-batch; one-shot
    * batch callers may just read `.df` (the ContextCleaner reclaims the
    * blocks once the frame is unreferenced). */
  private def stripAgainstIndexCore(
      batch: DataFrame, cappedFps: DataFrame, corpusGrams: DataFrame,
      idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int,
      excludeSameId: Boolean): Materialized = {
    require(Seq("id", "h").forall(cappedFps.columns.contains),
      s"cappedFps must carry (id, h) — the winnowFingerprints schema; " +
        s"got (${cappedFps.columns.mkString(", ")})")
    require(Seq("id", "h").forall(corpusGrams.columns.contains),
      s"corpusGrams must carry (id, h) — the WinnowMinima w=1 gram schema; " +
        s"got (${corpusGrams.columns.mkString(", ")})")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(!batch.columns.contains("n_removed"),
      "stripAgainstCappedIndex adds an n_removed column; the input already has one")
    // the partner pair frame is tiny (matched docs only) and is consumed
    // twice below (the ph chain and the gram-side semi-cut), so it is
    // materialized once — without the barrier the whole batch-side winnow
    // fingerprint pass would re-run per consumer
    Materialized.checkpoint(
      pairsAgainstCore(batch, cappedFps,
        idCol, textCol, k, w, minShared, excludeSameId)
        .select("new_id", "corpus_id"))
      .map { partners =>
        // corpus partner gram sets intersected with the ARRIVAL's own grams
        // before collecting — the stripCopiedSpansFromPairs rationale: a
        // partner gram the arrival lacks can never match, and the cut shrinks
        // the per-arrival array from full corpus-doc gram sets to the copied
        // spans' (one extra map-side scan of the small batch side).
        // Semi-cut FIRST (guide §2.3): only arrivals that actually pair can
        // contribute to the left-semi probe below, so the w=1 gram kernel
        // runs over the matched docs only, never the whole batch
        val batchGrams = graft.engine.Fan.out(batch
            .filter(col(textCol).isNotNull && length(col(textCol)) >= k)
            .select(col(idCol).as("new_id"), col(textCol))
            .join(partners.select("new_id").distinct(), Seq("new_id"),
              "left_semi"))
          .select(col("new_id"),
            explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
        val ph = partners
          .join(corpusGrams.select(col("id").as("corpus_id"), col("h")),
            Seq("corpus_id"))
          .join(batchGrams, Seq("new_id", "h"), "left_semi")
          .groupBy("new_id").agg(collect_set(col("h")).as("__ph"))
          .select(col("new_id").as("__strip_id"), col("__ph"))
        // the payload side is NOT fanned: the strip expression only does real
        // work on rows with a non-NULL __ph (matched docs — a small fraction),
        // so a round-robin exchange of the full text corpus costs more than
        // the kernel it would parallelize (the round-21 decontam_strip
        // regression, guide §2.3/§8: don't ship heavy payloads to parallelize
        // work that lives on a few rows)
        val joined = batch.join(ph, batch(idCol) === ph("__strip_id"), "left")
        stripWithPartnerHashes(joined, textCol, k)
      }
  }

  /** Benchmark DECONTAMINATION strip — the cross-dataset form of
    * [[stripCopiedSpans]]: every corpus document loses every character
    * covered by a k-gram it shares with a BENCHMARK document it pairs
    * with (≥ `minShared` winnowing fingerprints), where the benchmark is
    * an independent evaluation set, not an earlier slice of the same
    * corpus. This is the span-level eval-leakage repair every published
    * pretraining pipeline runs as a named stage (exact-substring
    * decontamination in Lee et al. ACL'22 §4.3; the n-gram variants in
    * the Dolma/FineWeb reports): [[graft.operators.Curation
    * .contamination]] FLAGS the overlap, this REMOVES it, and
    * [[graft.operators.Curation.decontaminate]] composes the two into
    * the routed pipeline stage. (Extension scope: the reference has no
    * decontamination stage — the technique is the published one, Lee et
    * al. ACL'22.)
    *
    * Contract differences from the incremental strip, both deliberate:
    * the fingerprint-df cap is computed on the BENCHMARK side (the
    * boilerplate fan-out guard belongs to the index being probed), and
    * there is NO same-id exclusion — corpus and benchmark ids are
    * independent namespaces, so an id collision must not suppress a
    * strip ([[pairsAgainstCore]] has the full rationale). A corpus
    * document sharing nothing passes through byte-identical with
    * `n_removed` 0; the benchmark is read-only throughout.
    *
    * Scale shape: the benchmark index is built ONCE here for one-shot
    * convenience (eval sets are thousands of documents — the tiny side);
    * a query-many caller should materialize [[capFingerprintIndex]] +
    * the w=1 gram dump once and go through
    * [[stripBenchmarkSpansIndexed]]. The corpus is
    * hashed map-side, the candidate join is hash-keyed against the
    * broadcast-sized benchmark index, and the strip is the per-row
    * codegen expression — the corpus never self-joins and its text never
    * crosses the wire. */
  def stripBenchmarkSpans(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      k: Int, w: Int, minShared: Int,
      maxFingerprintDf: Int): DataFrame = {
    // the benchmark fingerprint dump feeds the df cap twice (the count
    // aggregate and the semi-join back) — materialize the tiny
    // benchmark-sized frame once instead of running the winnow kernel
    // twice over the benchmark. Only the eager partner-pair checkpoint
    // reads it, so it is released as soon as that checkpoint exists
    val benchFps = Materialized.checkpoint(
      winnowFingerprints(benchmark, idCol, textCol, k, w))
    try {
      val grams = graft.engine.Fan.out(benchmark
          .filter(col(textCol).isNotNull && length(col(textCol)) >= k))
        .select(col(idCol).as("id"),
          explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
      stripBenchmarkSpansIndexed(corpus,
        capFingerprintIndex(benchFps.df, maxFingerprintDf), grams,
        idCol, textCol, k, w, minShared).df
    } finally benchFps.close()
  }

  /** [[stripBenchmarkSpans]] against an ALREADY-MATERIALIZED benchmark
    * index — the query-many path (df-capped fingerprints via
    * [[capFingerprintIndex]] + the WinnowMinima w=1 gram dump, both
    * build-once tables): no per-call aggregate over the benchmark, same
    * no-same-id-guard cross-dataset pairing. Returned as a
    * [[graft.engine.Materialized]] over the internal partner-pair
    * checkpoint — the [[stripAgainstCappedIndex]] contract (the
    * decontamination streaming sink strips once per micro-batch). */
  def stripBenchmarkSpansIndexed(
      corpus: DataFrame, benchFpsCapped: DataFrame, benchGrams: DataFrame,
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3): Materialized =
    stripAgainstIndexCore(corpus, benchFpsCapped, benchGrams, idCol,
      textCol, k, w, minShared, excludeSameId = false)

  /** [[stripBenchmarkSpans]] against N benchmarks in ONE pass, with
    * per-benchmark span ATTRIBUTION: the corpus is fingerprinted once and
    * probed against the UNION of the per-benchmark capped indexes (each
    * tagged with its benchmark name), the strip removes every character
    * any benchmark's matched grams cover, and for each benchmark `b` an
    * `n_removed_<b>` column reports the characters THAT benchmark's
    * grams cover on the original text — the answer to "which eval set is
    * leaking into my corpus" without N corpus passes. Attribution is
    * per-benchmark COVERAGE: a span two benchmarks both contain counts
    * toward both (so `Σ n_removed_<b> ≥ n_removed`); the union strip
    * itself removes it once.
    *
    * Semantics equal N single-benchmark [[stripBenchmarkSpans]] runs
    * composed: the df cap is computed PER BENCHMARK (each eval set's own
    * boilerplate fan-out guard — a gram frequent in benchmark A must not
    * be df-evicted because benchmark B also carries it), the ≥
    * `minShared` pairing threshold applies per (corpus doc, benchmark
    * doc) pair, and ids are namespaced per benchmark before the union,
    * so an id collision ACROSS benchmarks can neither merge two
    * documents' fingerprint counts nor suppress a strip (the
    * [[pairsAgainstCore]] cross-dataset contract, extended).
    *
    * Scale shape: [[stripBenchmarkSpans]]' — the corpus is hashed
    * map-side ONCE, the candidate join is hash-keyed against the
    * union index (still benchmark-sized, i.e. tiny), partner gram sets
    * collapse per (document, benchmark), and both the union strip and
    * the N coverage measurements are per-row codegen expressions over
    * the collected arrays (N+1 strip evaluations per TOUCHED row,
    * map-side; untouched rows pass through the NULL guard). The corpus
    * never self-joins; its text never crosses the wire. */
  def stripBenchmarkSpansMulti(
      corpus: DataFrame, benchmarks: Seq[(String, DataFrame)],
      idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, minShared: Int = 3,
      maxFingerprintDf: Int = 20): DataFrame = {
    require(benchmarks.nonEmpty, "stripBenchmarkSpansMulti requires at " +
      "least one benchmark; use stripBenchmarkSpans for exactly one")
    val names = benchmarks.map(_._1)
    require(names.distinct.size == names.size,
      s"duplicate benchmark names: $names")
    require(names.forall(_.matches("[A-Za-z0-9_]+")),
      s"benchmark names must be [A-Za-z0-9_]+ (they become column " +
        s"suffixes): $names")
    val clash = ("n_removed" +: names.map(b => s"n_removed_$b"))
      .filter(corpus.columns.contains)
    require(clash.isEmpty,
      s"stripBenchmarkSpansMulti adds ${clash.mkString(", ")}; the input " +
        "already carries them — a prior pass's attribution would be " +
        "silently overwritten")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // per-benchmark capped index, ids namespaced as <bench>\u0001<id> so
    // cross-benchmark id collisions cannot alias
    def tagged(b: String, id: Column) =
      concat(lit(b + "\u0001"), id.cast("string"))
    // per-benchmark fingerprint dump materialized once: the df cap
    // consumes it twice (count aggregate + semi-join back), and the frame
    // is benchmark-sized (tiny) — the stripBenchmarkSpans rationale, per
    // benchmark, released once the partner checkpoint below exists
    val benchFps = benchmarks.map { case (_, df) =>
      Materialized.checkpoint(winnowFingerprints(df, idCol, textCol, k, w))
    }
    val partners = try {
      val fps = benchmarks.zip(benchFps).map { case ((b, _), m) =>
        capFingerprintIndex(m.df, maxFingerprintDf)
          .select(tagged(b, col("id")).as("corpus_id"), col("h"))
      }.reduce(_ unionByName _)
      // partner pairs materialized once (tiny frame, two consumers below:
      // the per-bench chain and the gram-side semi-cut) — the
      // stripAgainstIndexCore rationale
      winnowFingerprints(corpus, idCol, textCol, k, w)
        .toDF("new_id", "h")
        .join(fps, Seq("h"))
        .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("__ns"))
        .filter(col("__ns") >= minShared)
        .select("new_id", "corpus_id")
        .localCheckpoint()
    } finally benchFps.foreach(_.close())
    val grams = benchmarks.map { case (b, df) =>
      graft.engine.Fan.out(
          df.filter(col(textCol).isNotNull && length(col(textCol)) >= k))
        .select(tagged(b, col(idCol)).as("corpus_id"),
          explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
    }.reduce(_ unionByName _)
    // semi-cut FIRST (guide §2.3): the w=1 gram kernel runs over matched
    // corpus docs only — it feeds a left-semi probe whose left side only
    // carries partner new_ids, so non-partner grams can never match
    val batchGrams = graft.engine.Fan.out(corpus
        .filter(col(textCol).isNotNull && length(col(textCol)) >= k)
        .select(col(idCol).as("new_id"), col(textCol))
        .join(partners.select("new_id").distinct(), Seq("new_id"),
          "left_semi"))
      .select(col("new_id"),
        explode(graft.plans.WinnowMinima.minima(col(textCol), k, 1)).as("h"))
    // matched grams per (document, benchmark): the partner's gram set
    // cut to grams the document itself carries (the
    // stripCopiedSpansFromPairs shrink), benchmark recovered from the
    // namespaced id
    val perBench = partners
      .join(grams, Seq("corpus_id"))
      .join(batchGrams, Seq("new_id", "h"), "left_semi")
      .withColumn("__bench", substring_index(col("corpus_id"), "\u0001", 1))
      .groupBy("new_id", "__bench").agg(collect_set(col("h")).as("__hs"))
    val ph = perBench.groupBy("new_id").agg(
      map_from_entries(collect_list(struct(col("__bench"), col("__hs"))))
        .as("__phm"),
      array_distinct(flatten(collect_list(col("__hs")))).as("__ph"))
      .select(col("new_id").as("__strip_id"), col("__phm"), col("__ph"))
    // payload side NOT fanned: the N+1 strip expressions only do real work
    // on matched rows (NULL-__ph rows short-circuit), so a round-robin
    // exchange of the full text corpus costs more than it parallelizes
    // (the round-21 decontam_strip regression; guide §2.3/§8)
    val joined = corpus.join(ph, corpus(idCol) === ph("__strip_id"), "left")
    val strippedAll = when(col("__ph").isNotNull && col(textCol).isNotNull,
      graft.plans.StripMatchedGrams.stripCol(col(textCol), col("__ph"), k))
      .otherwise(col(textCol))
    // per-benchmark coverage measured on the ORIGINAL text (added before
    // the textCol overwrite below)
    val benchCols = benchmarks.map { case (b, _) =>
      val hb = element_at(col("__phm"), b)
      s"n_removed_$b" -> coalesce(
        when(hb.isNotNull && col(textCol).isNotNull,
          length(col(textCol)) - length(
            graft.plans.StripMatchedGrams.stripCol(col(textCol), hb, k))),
        lit(0)).cast("long")
    }
    joined
      .withColumn("__stripped", strippedAll)
      .withColumns(benchCols.toMap)
      .withColumn("n_removed",
        coalesce(length(col(textCol)) - length(col("__stripped")), lit(0))
          .cast("long"))
      .withColumn(textCol, col("__stripped"))
      .drop("__stripped", "__ph", "__phm", "__strip_id")
  }

  // --------------------------------------------- blocking-scheme evaluation

  /** Blocking-scheme evaluation (the two standard entity-resolution
    * metrics, Christen 2012): given a CANDIDATE pair set produced by a
    * blocking scheme (minhash bands, simhash blocks, sorted-neighborhood)
    * and a TRUTH pair set (the pairs an exact method found), report
    *
    *  - `pairs_completeness` = |candidates ∩ truth| / |truth| — the recall
    *    of the blocking: how many true pairs survive into verification;
    *  - `reduction_ratio` = 1 − |candidates| / (n·(n−1)/2) — how much of
    *    the quadratic all-pairs space the scheme prunes.
    *
    * The tuning read BEFORE committing a blocking scheme at 100 TB: a
    * scheme with reduction 0.9999 and completeness 0.6 silently drops 40%
    * of true duplicates; one with completeness 1.0 and reduction 0.2 is a
    * disguised cross join. Both pair frames must already be canonical
    * (a_id < b_id, distinct) — every Dedup candidate generator returns
    * exactly that shape.
    *
    * Scale shape: three 1-row count aggregates plus one equi-join of the
    * two pair sets collapsed to a 1-row count, combined as broadcasts.
    * Numeric contract: both ratios are ONE IEEE division of exact BIGINTs
    * (total pairs via integer `DIV`) — bit-identical cross-engine.
    * Returned as a [[graft.engine.Materialized]] over the two pair-frame
    * checkpoints: close it after materializing the one-row report. */
  def blockingQuality(
      df: DataFrame, idCol: String,
      candidates: DataFrame, truth: DataFrame): Materialized = {
    // each pair frame feeds TWO consumers (its own count + the caught
    // join), so without a barrier the whole candidate-generation pipeline
    // (a minhash banding chain, a shingle self-join) executes twice inside
    // the one combined plan (guide §1.2 don't-compute-twice). Materialize
    // each once — pair-frame sized — and overlap the two independent
    // materializations (guide §2.6).
    val (candM, trM) = graft.engine.Overlap.par(
      Materialized.checkpoint(candidates.select("a_id", "b_id")),
      Materialized.checkpoint(truth.select("a_id", "b_id")))
    candM.flatMap(cand => trM.map { tr =>
      val n = df.filter(col(idCol).isNotNull)
        .agg(count(lit(1)).as("n_entities"))
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nt = tr.agg(count(lit(1)).as("n_truth"))
      val caught = cand.join(tr, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("n_caught"))
      n.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
        .crossJoin(broadcast(caught))
        .withColumn("total_pairs",
          expr("CAST(n_entities * (n_entities - 1) DIV 2 AS BIGINT)"))
        .select(col("n_entities"), col("total_pairs"),
          col("n_candidates"), col("n_truth"), col("n_caught"),
          when(col("n_truth") > 0,
            col("n_caught").cast("double") / col("n_truth").cast("double"))
            .as("pairs_completeness"),
          when(col("total_pairs") > 0,
            (col("total_pairs") - col("n_candidates")).cast("double") /
              col("total_pairs").cast("double"))
            .as("reduction_ratio"))
    })
  }
}
