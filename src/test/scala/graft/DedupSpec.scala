package graft

import org.apache.spark.sql.functions._
import graft.engine.Materialized
import graft.operators.{Curation, Dedup, TextAnalysis}

/** Dedup family semantics on literal corpora with planted duplicates. */
class DedupSpec extends SparkSpec {
  import sqlContext.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different words appear in this one here"),
    (5L, "short text")                                      // < 3 tokens of shingle? 2 tokens
  ).toDF("doc_id", "text")

  test("exactGroups: identical content collapses to one group keeping min id") {
    val g = Dedup.exactGroups(corpus, "doc_id", "text").collect()
    assert(g.length == 4) // 1+2 merge
    val dup = g.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keep_id = min
  }

  test("minhash: exact dups always candidates; both hash families agree on them; short docs never match") {
    for (fam <- Seq(Dedup.Md5Family, Dedup.Fnv64Family)) {
      val pairs = Dedup.minhashCandidates(corpus, "doc_id", "text",
        numHashes = 4, bands = 2, shingleN = 3, family = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L))) // identical signatures -> same bands
      assert(!pairs.exists { case (a, b) => a == 5L || b == 5L }) // no shingles -> no band
      assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L))) // unrelated text
    }
  }

  test("minhashCandidatesAgainst: cross-batch candidates equal the full self-join restricted to cross pairs") {
    val nb = Dedup.minhashBands(corpus.filter(col("doc_id") % 2 === 1), "doc_id", "text",
      numHashes = 4, bands = 2, shingleN = 3)
    val cb = Dedup.minhashBands(corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text",
      numHashes = 4, bands = 2, shingleN = 3)
    val incr = Dedup.minhashCandidatesAgainst(nb, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(corpus, "doc_id", "text",
      numHashes = 4, bands = 2, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = full.collect { case (a, b) if a % 2 != b % 2 =>
      if (a % 2 == 1) (a, b) else (b, a)
    }
    assert(incr == cross)
    assert(incr.contains((1L, 2L))) // exact dup crossing the batch boundary
  }

  test("simhash: identical text -> identical hash; near-dup hamming < unrelated hamming") {
    val h = Dedup.simhash(corpus, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("simhashCandidates: exact dups at hamming 0; unrelated pairs filtered by maxHamming") {
    val c = Dedup.simhashCandidates(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(c((1L, 2L)) == 0)
    assert(!c.contains((1L, 4L)))
  }

  test("ngramJaccardPairs: exact value for known overlap; skew guard keeps high-jaccard pairs") {
    // docs 1,2 identical -> jaccard 1.0; doc 3 differs in token idx 7 of 9,
    // which appears in 2 of the 7 3-gram shingles -> 5 shared / 9 union
    val p = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", shingleN = 3, minJaccard = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(p((1L, 2L)) == 1.0)
    assert(math.abs(p((1L, 3L)) - 5.0 / 9.0) < 1e-12)
    val guarded = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.9, maxShingleDf = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(guarded == Set((1L, 2L)))
  }

  test("simhashCandidates: 100% candidate recall at the declared distance (pigeonhole guarantee)") {
    // base docs + 1-token mutations + exact copies: a corpus where the
    // exact Hamming scan yields a non-empty pair set at d <= 3
    val rnd = new scala.util.Random(7)
    def doc() = Seq.fill(20)("w" + rnd.nextInt(500)).mkString(" ")
    val bases = Seq.tabulate(40)(_ => doc())
    val mutated = bases.take(10).map { t =>
      val toks = t.split(" "); toks(rnd.nextInt(toks.length)) = "w" + rnd.nextInt(500)
      toks.mkString(" ")
    }
    val all = (bases ++ mutated ++ bases.take(5)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sigs = Dedup.simhash(all, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty) // exact copies guarantee hamming-0 pairs
    val cand = Dedup.simhashCandidates(all, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == expected) // recall AND precision: exactly the d<=3 pairs
  }

  test("ngram skew guard: capped shingles leave BOTH intersections and denominators (consistent Jaccard)") {
    // docs 1,2,3 share 5 shingles (df=3); docs 1,2 share 2 more (df=2).
    // cap=2 drops the df-3 shingles everywhere: docs 1,2 keep 2 shingles
    // each -> jaccard(1,2) = 2/2 = 1.0 only if the denominators also count
    // the filtered universe (unfiltered sizes would give 2/(7+7-2)=0.167);
    // (1,3) share nothing post-filter and must vanish.
    val p = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.1, maxShingleDf = Some(2))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(p((1L, 2L)) == 1.0)
    assert(!p.contains((1L, 3L)))
  }

  test("resolveClusters: transitive chain A~B,B~C keeps exactly one survivor; components are independent") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val labels = Dedup.resolveClusters(pairs).df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val df = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("doc_id")
    val kept = Dedup.keepClusterSurvivors(df, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    // one survivor per cluster (the min id), rows outside any pair untouched
    assert(kept == Set(1L, 4L, 10L))
  }

  test("resolveClusters: non-convergence raises instead of returning split clusters") {
    // path 0-1-...-9 needs ~9 passes; maxIters=3 must fail loudly, not
    // silently return a multi-survivor labeling of one true component
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException](Dedup.resolveClusters(chain, maxIters = 3))
    assert(e.getMessage.contains("did not converge"))
  }

  test("resolveClusters: frees every intermediate block, never a caller's cache; failure path leaks nothing") {
    val sc = spark.sparkContext
    val ext = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id").persist()
    ext.count() // materialize the caller's cache BEFORE the call
    val before = sc.getPersistentRDDs.keySet
    val (_, added) = persistedBy(assert(Dedup.resolveClusters(ext).df.count() == 3))
    // only the returned labels checkpoint may remain registered
    assert(added.size <= 1, s"leaked intermediate blocks: $added")
    // the caller's cache must be untouched (a diff-window capture would have
    // freed it — fatal if the caller's block were itself a local checkpoint)
    assert(before.subsetOf(sc.getPersistentRDDs.keySet), "caller cache was freed")
    assert(ext.count() == 2)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (_, added2) = persistedBy(
      intercept[IllegalStateException](Dedup.resolveClusters(chain, maxIters = 2)))
    assert(added2.isEmpty, s"failure path leaked: $added2")
    ext.unpersist()
  }

  test("keepClusterSurvivorsBy: per-cluster max score survives, ties break to min id, unpaired rows untouched") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 7L),   // chain cluster: 2 has the top score
      (10L, 4L), (11L, 4L),           // tie -> min id 10
      (4L, 1L)                        // in no pair: always kept
    ).toDF("doc_id", "score")
    val kept = Dedup.keepClusterSurvivorsBy(docs, "doc_id", pairs, "score")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 10L, 4L))
    // min-id survivor selection is the scoreless special case: constant
    // score ties everywhere, so every cluster falls back to its min id
    val constScore = docs.withColumn("score", lit(0L))
    val keptConst = Dedup.keepClusterSurvivorsBy(constScore, "doc_id", pairs, "score")
      .collect().map(_.getLong(0)).toSet
    assert(keptConst == Set(1L, 10L, 4L))
  }

  test("resolveClusters: reliable checkpoints resolve identically and reclaim superseded pass files") {
    // without a checkpoint dir the reliable path must fail fast at the
    // first pass, not deep inside an iteration
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val noDir = intercept[IllegalArgumentException](
      Dedup.resolveClusters(pairs, reliableCheckpoints = true))
    assert(noDir.getMessage.contains("setCheckpointDir"))
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-cp")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      // a 6-node chain forces several passes, so superseded-pass cleanup
      // actually has checkpoints to reclaim
      val chain = (0L until 6L).map(i => (i, i + 1)).toDF("a_id", "b_id")
      for (algo <- Seq("minlabel", "star")) {
        val labels = Dedup.resolveClusters(chain, algorithm = algo,
          reliableCheckpoints = true).df
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(labels == (0L to 6L).map(_ -> 0L).toMap, s"algo=$algo")
      }
      // each pass frees its predecessor's checkpoint files eagerly: only
      // the final labels' checkpoints (one per algo run) may remain of the
      // ~7+ written across both runs
      def rddDirs = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .count(_.getFileName.toString.startsWith("rdd-"))
      }
      assert(rddDirs <= 2, s"superseded checkpoint files not reclaimed: $rddDirs dirs remain")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("resolveClusters: close() reclaims the FINAL reliable checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("graft-managed-cp")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      def rddDirs = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala
          .count(_.getFileName.toString.startsWith("rdd-"))
      }
      for (algo <- Seq("minlabel", "star")) {
        val chain = (0L until 6L).map(i => (i, i + 1)).toDF("a_id", "b_id")
        val labels = Dedup.resolveClusters(
          chain, algorithm = algo, reliableCheckpoints = true)
        // materialize BEFORE close — afterwards the truncated lineage
        // cannot recompute
        val resolved = labels.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(resolved == (0L to 6L).map(_ -> 0L).toMap, s"algo=$algo")
        labels.close()
        assert(rddDirs == 0,
          s"algo=$algo left $rddDirs checkpoint dirs after close — a " +
            "long-lived service would accumulate one per resolve call")
        labels.close() // idempotent
      }
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("every Materialized operator: close() releases exactly what the call added, never caller storage; twice is a no-op") {
    val sc = spark.sparkContext
    val span = "QWERTYUIOPASDFGHJKLZ"
    val docs = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst", "web"),
      (2L, "0123 4567-" + span + "_8901 2345", "book"),
      (3L, "wxyz wxyz wxyz wxyz", "web"))
      .toDF("doc_id", "text", "source")
    // caller-owned storage the operators read, registered BEFORE any call:
    // a cache and a truncated-lineage local checkpoint (unpersisting the
    // latter would make the final count below fail unrecoverably)
    val ((cached, pairs), callerIds) = persistedBy {
      val cached = docs.persist()
      cached.count()
      val pairs = Dedup.substringDupPairs(cached, "doc_id", "text",
        k = 4, w = 2, minShared = 2).localCheckpoint()
      (cached, pairs)
    }
    assert(callerIds.size == 2, callerIds.toString)
    val stored = cached.filter(col("doc_id") === 1L)
    val fps = Dedup.capFingerprintIndex(
      Dedup.winnowFingerprints(stored, "doc_id", "text", k = 4, w = 2), 20)
    val grams = stored.select(col("doc_id").as("id"),
      explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    val arrivals = Seq((10L, "0123 4567-" + span + "_8901 2345")).toDF("doc_id", "text")
    val ops = Seq[(String, () => Materialized)](
      "resolveClusters" -> (() => Dedup.resolveClusters(pairs)),
      "substringExtent" -> (() => Dedup.substringExtent(cached, "doc_id", "text",
        k = 4, w = 2, minShared = 2)),
      "substringSpans" -> (() => Dedup.substringSpans(cached, "doc_id", "text",
        k = 4, w = 2, minShared = 2)),
      "substringSpanLengths" -> (() => Dedup.substringSpanLengths(cached, "doc_id", "text",
        k = 4, w = 2, minShared = 2)),
      "stripCopiedSpans" -> (() => Dedup.stripCopiedSpans(cached, "doc_id", "text",
        k = 4, w = 2, minShared = 2)),
      "stripCopiedSpansFromPairs" -> (() => Dedup.stripCopiedSpansFromPairs(cached, pairs,
        "doc_id", "text", k = 4)),
      "stripAgainstCappedIndex" -> (() => Dedup.stripAgainstCappedIndex(arrivals, fps, grams,
        "doc_id", "text", k = 4, w = 2, minShared = 2)),
      "stripBenchmarkSpansIndexed" -> (() => Dedup.stripBenchmarkSpansIndexed(arrivals, fps,
        grams, "doc_id", "text", k = 4, w = 2, minShared = 2)),
      "decontaminateIndexed" -> (() => Curation.decontaminateIndexed(arrivals, fps, grams,
        "doc_id", "text", k = 4, w = 2, minShared = 2)),
      "sourceOverlap" -> (() => TextAnalysis.sourceOverlap(cached, "source", "text")),
      "blockingQuality" -> (() => Dedup.blockingQuality(cached, "doc_id", pairs, pairs)))
    for ((name, op) <- ops) {
      val (m, added) = persistedBy { val m = op(); m.df.collect(); m }
      assert(added.nonEmpty, s"$name registered no checkpoint")
      m.close()
      val live = sc.getPersistentRDDs.keySet
      assert((live & added).isEmpty, s"$name: close() left ${live & added}")
      assert(callerIds.subsetOf(live), s"$name: close() released caller storage")
      m.close()
      assert(callerIds.subsetOf(sc.getPersistentRDDs.keySet),
        s"$name: a second close() released caller storage")
    }
    assert(pairs.count() == 1L && cached.count() == 3L)
    cached.unpersist()
  }

  test("semanticDedup: identical-direction duplicates collapse to one survivor; distinct directions all survive") {
    // two duplicate groups (same direction, different magnitudes — cosine 1
    // after unitization) plus orthogonal singletons
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(3f, 0f, 0f, 0f)), // dup group A
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 5f, 0f, 0f)), // dup group B
      (5L, Array(0f, 0f, 1f, 0f)),                              // singleton
      (6L, Array(0f, 0f, 0f, 2f))                               // singleton
    ).toDF("vec_id", "embedding")
    val survivors = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        minCosine = 0.95, k = 2, lloydIters = 1, probeCells = 2)
      .collect().map(_.getLong(0)).toSet
    // min-id survivor per duplicate group; singletons untouched
    assert(survivors == Set(1L, 3L, 5L, 6L), survivors.toString)
    // pairs are a SUBSET of the exact scan with identical cos values
    val exact = Dedup.cosinePairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sem = Dedup.semanticPairs(vecs, "vec_id", "embedding", 0.95,
        k = 2, lloydIters = 1, probeCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sem.subsetOf(exact), s"sem $sem not within exact $exact")
    // identical vectors always share their top cell, so exact-duplicate
    // pairs can NEVER be lost to blocking, at any k or p
    assert(sem.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
  }

  test("dedupLines: boilerplate segments strip everywhere, order survives, blanked docs stay addressable") {
    val docs = Seq(
      (1L, "COOKIE BANNER\nreal content one\nFOOTER"),
      (2L, "COOKIE BANNER\nunique text two\nFOOTER"),
      (3L, "COOKIE BANNER\nmore text\nmore text\nFOOTER"), // within-doc repeat: df still 3
      (4L, "FOOTER\nCOOKIE BANNER") // nothing but boilerplate -> blank, kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", sep = "\n", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "real content one",
      2L -> "unique text two",
      // the within-doc duplicate counts ONE document toward df, so a
      // segment repeated inside a single doc is not boilerplate and both
      // copies survive in order
      3L -> "more text\nmore text",
      4L -> ""))
    // maxDocFreq high enough: nothing strips, texts round-trip byte-exact
    val intact = Dedup.dedupLines(docs, "doc_id", "text", sep = "\n", maxDocFreq = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(intact == docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    intercept[IllegalArgumentException](
      Dedup.dedupLines(docs, "doc_id", "text", maxDocFreq = 0))

    // the map-side strip against the extracted index agrees with the
    // anti-join path byte-for-byte — the two shapes cannot diverge
    val idx = Dedup.frequentSegments(docs, "doc_id", "text", sep = "\n", maxDocFreq = 2)
    val stripped = Dedup.stripSegmentsMapSide(docs, "text", idx, sep = "\n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(stripped == out)
    // an empty index is the identity
    val none = Dedup.stripSegmentsMapSide(docs, "text", idx.limit(0), sep = "\n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(none == docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

    // NULL text lands as "" on BOTH paths (dedupLines' left-join miss and
    // the map-side coalesce), so the parity holds on corpora with NULLs
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val dl = Dedup.dedupLines(withNull, "doc_id", "text", sep = "\n", maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ss = Dedup.stripSegmentsMapSide(withNull, "text",
        Dedup.frequentSegments(withNull, "doc_id", "text", "\n", 2), sep = "\n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dl(9L) == "" && ss(9L) == "")
    assert(dl == ss)
  }

  test("cosinePairs: unblocked cartesian over the row threshold fails fast; blockCol path is exempt") {
    val vecs = (1L to 5L).map(i => (i, Array.fill(4)(i.toFloat), i % 2))
      .toDF("vec_id", "embedding", "blk")
    val e = intercept[IllegalArgumentException](
      Dedup.cosinePairs(vecs, "vec_id", "embedding", minCosine = 0.0,
        maxUnblockedRows = 3))
    assert(e.getMessage.contains("blockCol") && e.getMessage.contains("cosinePairsLsh"))
    // blocking bounds the product, so the guard does not apply
    val blocked = Dedup.cosinePairs(vecs, "vec_id", "embedding", minCosine = 0.0,
      blockCol = Some("blk"), maxUnblockedRows = 3)
    assert(blocked.count() > 0)
    // at or under the threshold the exact baseline still runs
    assert(Dedup.cosinePairs(vecs.limit(3), "vec_id", "embedding", 0.0,
      maxUnblockedRows = 3).count() == 3)
  }

  test("simhashCandidates: maxHamming=0 (full 64-bit packed keys) finds exactly the identical-signature pairs") {
    // packing all 8 blocks exercises the full-width shift+OR key: bit 63
    // set on ~half of signatures would overflow an arithmetic packing
    // under ANSI mode
    val c = Dedup.simhashCandidates(corpus, "doc_id", "text", maxHamming = 0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(c == Map((1L, 2L) -> 0)) // docs 1,2 identical; nothing else at d=0
  }

  test("minhashBandSweep: per-config candidates are an IDENTITY with independent bandings; chain yields nest") {
    import sqlContext.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, minJaccard = 0.5)
      .select("a_id", "b_id").localCheckpoint()
    val cfgs = Seq(1, 2, 4, 8)
    val sweep = Dedup.minhashBandSweep(docs, "doc_id", "text", truth,
        numHashes = 16, bandConfigs = cfgs, shingleN = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(sweep.map(_._1).toSeq == cfgs && sweep.map(_._2).toSeq == Seq(16, 8, 4, 2))
    // identity: the regrouped signature reproduces an independent
    // minhashCandidates run at (numHashes=16, bands=b) pair-for-pair
    cfgs.zip(sweep).foreach { case (b, (_, _, nCand, nTrue)) =>
      val independent = Dedup.minhashCandidates(docs, "doc_id", "text",
        numHashes = 16, bands = b, shingleN = 3).count()
      assert(nCand == independent, s"bands $b: sweep $nCand vs independent $independent")
      assert(nTrue <= nCand)
    }
    // divisibility chain -> nested candidate sets -> monotone yields
    val cands = sweep.map(_._3); val trues = sweep.map(_._4)
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b }, cands.toSeq)
    assert(trues.zip(trues.tail).forall { case (a, b) => a <= b }, trues.toSeq)
    // guards: non-divisor config, duplicates, bad truth schema
    intercept[IllegalArgumentException](
      Dedup.minhashBandSweep(docs, "doc_id", "text", truth,
        numHashes = 16, bandConfigs = Seq(3)))
    intercept[IllegalArgumentException](
      Dedup.minhashBandSweep(docs, "doc_id", "text", truth,
        numHashes = 16, bandConfigs = Seq(2, 2)))
    intercept[IllegalArgumentException](
      Dedup.minhashBandSweep(docs, "doc_id", "text", truth.toDF("x", "y"),
        numHashes = 16, bandConfigs = Seq(2)))
    // docs too short to shingle produce no band rows under any config
    val short = Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text")
    val z = Dedup.minhashBandSweep(short, "doc_id", "text",
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"),
      numHashes = 4, bandConfigs = Seq(1, 2), shingleN = 3).collect()
    assert(z.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L), z.mkString)
  }

  test("cosineLshTableSweep: per-budget yields are an IDENTITY with independent runs; monotone; true <= candidates") {
    // the seeded hyperplane sequence is prefix-stable (one PRNG filled
    // sequentially), so an independent cosinePairsLsh at numTables = T
    // uses exactly the sweep's first T tables — the one-scan algebra must
    // reproduce it pair-for-pair, not approximately
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val ts = Seq(1, 4, 12)
    val sweep = Dedup.cosineLshTableSweep(e, "vec_id", "embedding",
        minCosine = 0.45, tables = ts, planesPerTable = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(sweep.map(_._1).toSeq == ts) // ascending spine
    ts.zip(sweep).foreach { case (tt, (_, nCand, nTrue)) =>
      val independent = Dedup.cosinePairsLsh(e, "vec_id", "embedding",
        minCosine = 0.45, numTables = tt, planesPerTable = 4).count()
      assert(nTrue == independent, s"budget $tt: sweep $nTrue vs independent $independent")
      assert(nTrue <= nCand, s"budget $tt: true $nTrue > candidates $nCand")
    }
    val cands = sweep.map(_._2); val trues = sweep.map(_._3)
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b }, cands.toSeq)
    assert(trues.zip(trues.tail).forall { case (a, b) => a <= b }, trues.toSeq)
    // budgets can arrive unsorted; the spine comes back ascending
    val shuffled = Dedup.cosineLshTableSweep(e, "vec_id", "embedding",
        minCosine = 0.45, tables = Seq(12, 1, 4), planesPerTable = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(shuffled.toSeq == sweep.toSeq)
    intercept[IllegalArgumentException](
      Dedup.cosineLshTableSweep(e, "vec_id", "embedding", 0.45, Seq(2, 2)))
    intercept[IllegalArgumentException](
      Dedup.cosineLshTableSweep(e, "vec_id", "embedding", 0.45, Seq.empty))
  }

  test("cosineLshTableSweep: empty candidate set reports zeros; ragged dims fail loudly like cosinePairsLsh") {
    // orthogonal one-hot vectors in distinct buckets can yield no pairs;
    // force the truly-empty shape with a single row (no a < b exists)
    val lone = Seq((1L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val z = Dedup.cosineLshTableSweep(lone, "vec_id", "embedding",
      minCosine = 0.0, tables = Seq(1, 2)).collect()
    assert(z.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L), z.mkString)
    val ragged = Seq((1L, Array.fill(64)(1.0f)), (2L, Array.fill(32)(1.0f)))
      .toDF("vec_id", "embedding")
    val err = intercept[Exception](
      Dedup.cosineLshTableSweep(ragged, "vec_id", "embedding",
        minCosine = 0.0, tables = Seq(1)).collect())
    assert(err.getMessage.contains("got length 32"))
  }

  test("cosinePairsLsh: dim mismatch fails fast instead of bucketing on a vector prefix") {
    val vecs = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Dedup.cosinePairsLsh(vecs, "vec_id", "embedding", minCosine = 0.9).collect())
    assert(e.getMessage.contains("got length 8"))
  }

  test("cosinePairsLsh: ragged rows AFTER the first and null vectors also fail, not truncate") {
    // first row has the right dim — a first-row-only validation would pass
    // and silently prefix-truncate the short row in bucketing + verify
    val ragged = Seq((1L, Array.fill(64)(1.0f)), (2L, Array.fill(32)(1.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception](
      Dedup.cosinePairsLsh(ragged, "vec_id", "embedding", minCosine = 0.0).collect())
    assert(e1.getMessage.contains("got length 32"))
    val withNull = Seq((1L, Array.fill(64)(1.0f)), (2L, null: Array[Float]))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception](
      Dedup.cosinePairsLsh(withNull, "vec_id", "embedding", minCosine = 0.0).collect())
    assert(e2.getMessage.contains("got length NULL"))
  }

  test("resolveClusters: string UUID ids resolve natively (no long cast nulling/throwing)") {
    // lexicographic min is the canonical: "a..." < "b..." < "c..."
    val pairs = Seq(("b-7f3a", "a-19c2"), ("b-7f3a", "c-04d1"), ("z-9", "y-8"))
      .toDF("a_id", "b_id")
    val labels = Dedup.resolveClusters(pairs).df
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map(
      "a-19c2" -> "a-19c2", "b-7f3a" -> "a-19c2", "c-04d1" -> "a-19c2",
      "y-8" -> "y-8", "z-9" -> "y-8"))
    val docs = Seq("a-19c2", "b-7f3a", "c-04d1", "m-5", "y-8", "z-9").toDF("doc_id")
    val kept = Dedup.keepClusterSurvivors(docs, "doc_id", pairs)
      .collect().map(_.getString(0)).toSet
    assert(kept == Set("a-19c2", "m-5", "y-8"))
  }

  test("resolveClusters: long chain converges; empty pair set is a no-op") {
    // path graph 0-1-2-...-9 (diameter 9, worst case for min-label passes)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = Dedup.resolveClusters(chain).df
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 10 && labels.values.forall(_ == 0L))
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(Dedup.resolveClusters(empty).df.count() == 0)
    val df = Seq(1L, 2L).toDF("doc_id")
    assert(Dedup.keepClusterSurvivors(df, "doc_id", empty).count() == 2)
  }

  test("resolveClusters: the observed convergence metric lands after one bus drain (no count() fallback)") {
    // every min-label pass reads its changed-row count from an observed
    // metric; a fallback means the metric was missing after the listener
    // bus drained and the pass paid the exact count() job instead
    val before = Dedup.observeFallbacks.get
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"),
      (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id"),
      Seq(("b-7f3a", "a-19c2"), ("b-7f3a", "c-04d1"), ("z-9", "y-8")).toDF("a_id", "b_id"),
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))
    val rnd = new scala.util.Random(7)
    val random = (0 until 3).map(_ =>
      Seq.fill(45)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)).toDF("a_id", "b_id"))
    (graphs ++ random).foreach(g => Dedup.resolveClusters(g).df.collect())
    assert(Dedup.observeFallbacks.get - before == 0L)
  }

  test("resolveClusters(star): equals min-label and union-find on random graphs; ids stay native") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 40
      val es = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // brute-force union-find ground truth (min id per component)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val ids = (es.map(_._1) ++ es.map(_._2)).distinct
      val expected = ids.map(i => i -> find(i.toInt).toLong).toMap
      val pairs = es.toDF("a_id", "b_id")
      val star = Dedup.resolveClusters(pairs, algorithm = "star").df
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val minlbl = Dedup.resolveClusters(pairs).df
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === expected, s"star vs union-find, trial $trial")
      assert(minlbl === expected, s"minlabel vs union-find, trial $trial")
    }
    // self-pairs still label themselves; string ids resolve natively
    val strPairs = Seq(("b", "a"), ("c", "b"), ("x", "x")).toDF("a_id", "b_id")
    val got = Dedup.resolveClusters(strPairs, algorithm = "star").df
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x"))
  }

  test("resolveClusters(star): long chain converges in O(log n) rounds, not O(diameter)") {
    val n = 256
    val chain = (0L until (n - 1L)).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ((got, rounds), added) = persistedBy {
      val (labels, rounds) = Dedup.resolveStar(chain, "a_id", "b_id", maxIters = 50)
      (labels.df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
    }
    // only the returned labels checkpoint may remain registered
    assert(added.size <= 1, s"star run leaked intermediate blocks: $added")
    assert(got.size == n && got.values.forall(_ == 0L))
    // diameter 255; log2(256) = 8. Allow slack for the contraction constant
    // and the final no-change detection round.
    assert(rounds <= 14, s"expected O(log n) rounds, got $rounds")
    // min-label on the same graph would need ~255 passes: pin that the star
    // variant is the one that survives maxIters=20 here
    intercept[IllegalStateException](Dedup.resolveClusters(chain, maxIters = 20))
  }

  test("cosinePairsLsh: subset of exact pairs with identical cos; planted near-dups all recalled") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Seq.tabulate(30)(i => (i.toLong, vec()))
    val planted = base.take(5).map { case (i, v) =>
      (100L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)) // cos ~ 0.9999
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    def toSet(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e9)).toMap
    val exact = toSet(Dedup.cosinePairs(df, "vec_id", "embedding", minCosine = 0.9))
    val lsh = toSet(Dedup.cosinePairsLsh(df, "vec_id", "embedding", minCosine = 0.9,
      numTables = 12, planesPerTable = 8))
    assert(lsh.keySet.subsetOf(exact.keySet)) // exact verify: no false positives
    lsh.foreach { case (k, cosBits) => assert(exact(k) == cosBits) } // identical cos values
    (0 until 5).foreach { i => // planted duplicates (cos ~ 1) all recalled
      assert(lsh.contains((i.toLong, 100L + i)))
    }
  }

  test("cosinePairs: identical vectors at cosine 1; orthogonal pairs excluded; blocking bounds the product") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), "x"),
      (2L, Array(1.0f, 0.0f, 0.0f), "x"),
      (3L, Array(0.0f, 1.0f, 0.0f), "x"),
      (4L, Array(1.0f, 0.0f, 0.0f), "y")) // identical to 1 but other block
      .toDF("vec_id", "embedding", "blk")
    val all = Dedup.cosinePairs(vecs, "vec_id", "embedding", minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    val blocked = Dedup.cosinePairs(vecs, "vec_id", "embedding", 0.9, blockCol = Some("blk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == Set((1L, 2L))) // cross-block pair pruned by design
  }

  // --------------------------------------- winnowing / substring dedup

  test("winnowFingerprints: the w+k-1 guarantee holds at ARBITRARY offsets; disjoint docs share nothing") {
    // shared span of exactly w + k - 1 = 10 chars (k=4, w=7), planted at
    // different offsets in each doc — the position-independence that makes
    // winnowing the copied-span detector stride sampling cannot be
    val span = "QWERTYUIOP" // 10 chars, alphabet disjoint from the filler
    val docs = Seq(
      (1L, "aaaa bbbb " + span + " cccc"),
      (2L, "zzz" + span + " xxxx yyyy vvvv"),
      (3L, "0123 4567 8901 2345 6789")) // disjoint alphabet
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val by = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((by(1L) & by(2L)).nonEmpty,
      "docs sharing a w+k-1 span must share at least one fingerprint")
    assert((by(1L) & by(3L)).isEmpty && (by(2L) & by(3L)).isEmpty,
      "disjoint-alphabet docs can share no k-gram hash")
  }

  test("winnowFingerprints: too-short and NULL docs drop; fingerprints are distinct per doc") {
    val docs = Seq((1L, "abc"), (2L, null), (3L, "abcdabcdabcdabcd"))
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 4, w = 2).collect()
    assert(fp.forall(_.getLong(0) == 3L), "only the long doc fingerprints")
    val hs = fp.map(_.getString(1))
    assert(hs.toSet.size == hs.length, "per-doc fingerprints are DISTINCT")
  }

  test("substringDupPairs: planted copy found with exact shared count; df cap silences boilerplate") {
    val boiler = "COMMONBOILERPLATE" // in every doc -> df cap drops it
    val copy = "The quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma $copy"),
      (2L, s"delta $copy epsilon $boiler"),
      (3L, s"$boiler unrelated filler text one"),
      (4L, s"$boiler other filler words two here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxFingerprintDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the "boilerplate + space" k-grams are shared by docs 1/3/4 (df 3 >
    // cap 2) and dropped; only the copied sentence (df 2) links docs —
    // and it links exactly (1,2)
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), pairs.mkString(","))
    // raising the cap admits the boilerplate: every doc pair now links
    val loose = Dedup.substringDupPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxFingerprintDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.size > 1 && loose.contains((3L, 4L)), loose.toString)
    intercept[IllegalArgumentException](
      Dedup.substringDupPairs(docs, "doc_id", "text", minShared = 0))
    intercept[IllegalArgumentException](
      Dedup.substringDupPairs(docs, "doc_id", "text", maxFingerprintDf = 1))
  }

  test("substringExtent: exact gram overlap bounds the copied mass; extent >= sampled fingerprints") {
    val copy = "The quick brown fox jumps over the lazy dog" // 43 chars
    val docs = Seq(
      (1L, s"alpha beta gamma $copy"),
      (2L, s"delta $copy epsilon zeta"),
      (3L, "entirely unrelated content here"))
      .toDF("doc_id", "text")
    val rows = Dedup.substringExtent(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxFingerprintDf = 3).df.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    // a 43-char copy yields at least 43-8+1 = 36 shared 8-grams, and every
    // shared fingerprint is by construction a shared gram
    assert(r.getLong(3) >= 36L, r.toString)
    assert(r.getLong(3) >= r.getLong(2), r.toString)
  }

  test("substringSpans: two distant spans count separately; back-to-back copies merge to one region") {
    val span1 = "QWERTYUIOPAS" // 12 chars each, alphabets disjoint from
    val span2 = "ZXCVBNMLKJHG" // both docs' filler and from each other
    val docs = Seq(
      (1L, "aaaa bbbb." + span1 + ".cccc dddd." + span2 + ".eeee"),
      (2L, "0000-1111-" + span1 + "_2222 3333-" + span2 + "_4444"),
      (3L, "7777&" + span1 + span1 + "&8888")) // doubled copy, no gap
      .toDF("doc_id", "text")
    val rows = Dedup.substringSpans(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc2 copies both spans with differing flank chars: exactly two
    // separate 12-char regions
    assert(rows((1L, 2L)) == (2L, 12L, 24L), rows.toString)
    // doc3's doubled span1: seam grams match nothing, but the two runs'
    // char intervals touch (position gap = k) and merge to ONE 24-char
    // contiguous copied region
    assert(rows((1L, 3L)) == (1L, 24L, 24L), rows.toString)
    assert(rows((2L, 3L)) == (1L, 24L, 24L), rows.toString)
  }

  test("semanticPairsAgainst: cross-boundary only, exact-verified, id re-containment never pairs") {
    val corpus = Seq(
      (10L, Array(1f, 0f, 0f, 0f)),
      (20L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val batch = Seq(
      (11L, Array(0.98f, 0.2f, 0f, 0f)),  // near corpus 10, also near batch 13
      (13L, Array(0.99f, 0.15f, 0f, 0f)), // near corpus 10, also near batch 11
      (10L, Array(1f, 0f, 0f, 0f)),       // re-contains corpus id 10 verbatim
      (15L, Array(0f, 0f, 1f, 0f)))       // near nothing stored
      .toDF("vec_id", "embedding")
    val centroids = graft.operators.Similarity.kmeansCentroids(
      corpus, "vec_id", "embedding", k = 2, iters = 1)
    val assigned = graft.operators.Similarity.assignCell(
      corpus, "vec_id", "embedding", centroids)
    val got = Dedup.semanticPairsAgainst(batch, centroids, assigned,
        "vec_id", "embedding", minCosine = 0.9, probeCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // within-batch near-dup (11,13) is the BATCH operator's job, never
    // emitted here; the re-contained id 10 never self-pairs despite cos 1;
    // every emitted pair crosses the batch/corpus boundary — compared as
    // a sorted SEQ so duplicate emission cannot hide in a Set collapse
    assert(got == Seq((11L, 10L), (13L, 10L)), got.toString)
    // an off-contract SOFT corpus dump (assignCells p=2 — schema-identical
    // to the hard dump, so the require cannot reject it) must still yield
    // each pair exactly ONCE: the post-filter dedup collapses the
    // per-shared-cell copies that would otherwise inflate differential
    // hit counts
    val soft = graft.operators.Similarity.assignCells(
      corpus, "vec_id", "embedding", centroids, p = 2)
    val gotSoft = Dedup.semanticPairsAgainst(batch, centroids, soft,
        "vec_id", "embedding", minCosine = 0.9, probeCells = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotSoft == Seq((11L, 10L), (13L, 10L)), gotSoft.toString)
    intercept[IllegalArgumentException](
      Dedup.semanticPairsAgainst(batch, centroids.select("cell"), assigned,
        "vec_id", "embedding", 0.9))
    intercept[IllegalArgumentException](
      Dedup.semanticPairsAgainst(batch, centroids, assigned.drop("cell"),
        "vec_id", "embedding", 0.9))
  }

  test("substringFloorSweep: per-w guaranteed floors; a span at least floor-long pairs at every swept w") {
    val span = "QWERTYUIOPASDFGHJKLZXCV" // 23 chars, alphabet disjoint from fillers
    val docs = Seq(
      (1L, s"aaaa bbbb.$span.cccc dddd"),
      (2L, s"0000-1111-$span-2222 3333"),
      (3L, "entirely unrelated content right here"))
      .toDF("doc_id", "text")
    val rows = Dedup.substringFloorSweep(docs, "doc_id", "text",
      k = 8, ws = Seq(2, 4), minShared = 1, maxFingerprintDf = 10)
      .collect()
      .map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // closed-form floors: w + k - 1
    assert(rows(2)._1 == 9L && rows(4)._1 == 11L, rows.toString)
    // the 23-char span is >= both floors: detection is GUARANTEED, and
    // only docs 1/2 pair
    assert(rows(2)._2 >= 1L && rows(4)._2 >= 1L, rows.toString)
    assert(rows(2)._3 == 2L && rows(4)._3 == 2L, rows.toString)
    intercept[IllegalArgumentException](
      Dedup.substringFloorSweep(docs, "doc_id", "text", ws = Seq.empty))
    intercept[IllegalArgumentException](
      Dedup.substringFloorSweep(docs, "doc_id", "text", ws = Seq(4, 4)))
  }

  test("winnowing guarantee realized on planted spans: at-or-above-floor always detected, below-floor lossy") {
    // the substring_floor_recall construction at unit scale: pairs of
    // synthetic docs sharing exactly an L-char span, flanked by >= k-1
    // chars of pair-unique context. k=8, w=4 → floor 11.
    def ctx(seed: String) = seed.hashCode.toHexString.padTo(12, 'x').take(12)
    def pair(id: Long, span: String) = Seq(
      (id * 2, ctx(s"$id-a1") + span + ctx(s"$id-a2")),
      (id * 2 + 1, ctx(s"$id-b1") + span + ctx(s"$id-b2")))
    // spans over the floor (>= 11 chars, disjoint alphabets from hex ctx)
    val docs = (
      pair(1L, "QWERTYUIOPAS") ++ pair(2L, "ZXCVBNMLKJHG") ++
      // sub-floor span (8 chars = exactly one 8-gram): detection depends
      // on that single gram winning the window min on both sides — NOT
      // guaranteed, and whichever way it lands must at least never crash
      pair(3L, "QWERTYUI")).toDF("id", "t")
    val got = Dedup.substringDupPairs(docs, "id", "t",
        k = 8, w = 4, minShared = 1, maxFingerprintDf = 100)
      .filter(col("b_id") === col("a_id") + 1)
      .collect().map(_.getLong(0) / 2).toSet
    assert(got.contains(1L) && got.contains(2L),
      s"a span at the w+k-1 floor must ALWAYS be detected: $got")
  }

  test("FromPairs overloads: one materialized pair frame reproduces every internal-pairs output exactly") {
    val span1 = "QWERTYUIOPAS"
    val span2 = "ZXCVBNMLKJHG"
    val docs = Seq(
      (1L, "aaaa bbbb." + span1 + ".cccc dddd." + span2 + ".eeee"),
      (2L, "0000-1111-" + span1 + "_2222 3333-" + span2 + "_4444"),
      (3L, "7777&" + span1 + span1 + "&8888"),
      (4L, "unrelated filler text entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).localCheckpoint()
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // the pair frame carries `n_shared` (the substringDupPairs name);
    // extent normalizes it to its own `n_shared_fp` output name
    assert(sorted(Dedup.substringExtentFromPairs(docs, pairs, "doc_id", "text",
        k = 4)) ==
      sorted(Dedup.substringExtent(docs, "doc_id", "text",
        k = 4, w = 2, minShared = 2).df))
    assert(sorted(Dedup.substringSpanLengthsFromPairs(docs, pairs, "doc_id",
        "text", k = 4)) ==
      sorted(Dedup.substringSpanLengths(docs, "doc_id", "text",
        k = 4, w = 2, minShared = 2).df))
    assert(sorted(Dedup.stripCopiedSpansFromPairs(docs, pairs, "doc_id", "text",
        k = 4).df) ==
      sorted(Dedup.stripCopiedSpans(docs, "doc_id", "text",
        k = 4, w = 2, minShared = 2).df))
    // the fused report (r21) is row-identical to the extent ⋈ span-rollup
    // composition it replaced in the substring_report key
    val fused = Dedup.substringReportFromPairs(docs, pairs, "doc_id", "text",
      k = 4)
    val composed = Dedup.substringExtentFromPairs(docs, pairs, "doc_id",
        "text", k = 4)
      .join(Dedup.substringSpanLengthsFromPairs(docs, pairs, "doc_id",
          "text", k = 4)
        .groupBy("a_id", "b_id").agg(
          count(lit(1)).as("n_spans"),
          max(col("span_chars")).cast("long").as("max_span_chars"),
          sum(col("span_chars")).cast("long").as("copied_chars")),
        Seq("a_id", "b_id"))
    assert(fused.columns.toSeq == composed.columns.toSeq)
    assert(fused.schema == composed.schema)
    assert(sorted(fused) == sorted(composed))
    // schema guards are loud: missing pair ids, missing shared-fp count
    intercept[IllegalArgumentException](
      Dedup.stripCopiedSpansFromPairs(docs,
        pairs.select(col("a_id").as("x"), col("b_id")), "doc_id", "text"))
    intercept[IllegalArgumentException](
      Dedup.substringExtentFromPairs(docs,
        pairs.select("a_id", "b_id"), "doc_id", "text"))
  }

  test("substringDupPairs: null-id docs count toward the df cap (oracle dfreq semantics) but never pair") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val mk = (ctx: Char) => s"$ctx$ctx$ctx$ctx-$span-$ctx$ctx$ctx$ctx"
    val withNull = Seq(
      (java.lang.Long.valueOf(1L), mk('a')),
      (java.lang.Long.valueOf(2L), mk('b')),
      (null.asInstanceOf[java.lang.Long], mk('c')))
      .toDF("doc_id", "text")
    // cap 2, three docs share the span's fingerprints: df = 3 (null-id row
    // INCLUDED, as in the oracle's dfreq) > cap, so the hash drops and no
    // pair forms — a null-filter placed before the count would report 2
    assert(Dedup.substringDupPairs(withNull, "doc_id", "text",
      k = 4, w = 2, minShared = 2, maxFingerprintDf = 2).count() == 0L)
    // without the null row df = 2 <= cap: the pair appears (and null ids
    // themselves never pair)
    val pairs = Dedup.substringDupPairs(withNull.filter(col("doc_id").isNotNull),
      "doc_id", "text", k = 4, w = 2, minShared = 2, maxFingerprintDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("stripCopiedSpans: user columns named like join helpers survive; n_removed collision is loud") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val docs = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst", 77L),
      (2L, "0123 4567-" + span + "_8901 2345", 88L))
      .toDF("doc_id", "text", "b_id") // user column named like a pair column
    val out = Dedup.stripCopiedSpans(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
    assert(out.columns.contains("b_id"), out.columns.mkString(","))
    val kept = out.collect().map(r => r.getLong(0) -> r.getAs[Long]("b_id")).toMap
    assert(kept == Map(1L -> 77L, 2L -> 88L), kept.toString)
    intercept[IllegalArgumentException] {
      Dedup.stripCopiedSpans(
        docs.withColumnRenamed("b_id", "n_removed"), "doc_id", "text")
    }
  }

  test("substringDupPairsAgainst: new-vs-index candidates match the union-corpus pairs across the split") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val corpus = Seq( // even ids = stored side
      (2L, "abcd efgh ijkl." + span + ".mnop qrst"),
      (4L, "wholly unrelated corpus doc text"))
      .toDF("doc_id", "text")
    val batch = Seq( // odd ids = arriving side
      (11L, "0123 4567-" + span + "_8901 2345"),
      (13L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    val capped = Dedup.capFingerprintIndex(
      Dedup.winnowFingerprints(corpus, "doc_id", "text", k = 4, w = 2), 20)
    val got = Dedup.substringDupPairsAgainst(batch, capped, "doc_id", "text",
      k = 4, w = 2, minShared = 2)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1))) -> r.getLong(2)).toMap
    // batch twin: union-corpus pairs, restricted to cross-split pairs
    // (caps don't bind on this fixture, so fingerprint sets agree)
    val ref = Dedup.substringDupPairs(corpus.union(batch), "doc_id", "text",
      k = 4, w = 2, minShared = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .filter { case ((a, b), _) => (a % 2) != (b % 2) }.toMap
    assert(got == ref, s"incremental $got vs union $ref")
    assert(got.contains((2L, 11L)), "the copied span must link 11 -> 2")
  }

  test("capFingerprintIndex + stripAgainstCappedIndex: query-many path matches the one-shot cap") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val corpus = Seq((1L, "abcd efgh ijkl." + span + ".mnop qrst"))
      .toDF("doc_id", "text")
    val arrivals = Seq((10L, "0123 4567-" + span + "_8901 2345"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(corpus, "doc_id", "text", k = 4, w = 2)
    val grams = corpus.select(col("doc_id").as("id"),
      explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    val oneShot = Dedup.stripAgainstCorpus(arrivals, fps, grams,
      "doc_id", "text", k = 4, w = 2, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val precapped = Dedup.stripAgainstCappedIndex(arrivals,
      Dedup.capFingerprintIndex(fps, 20), grams,
      "doc_id", "text", k = 4, w = 2, minShared = 2).df
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(oneShot == precapped && oneShot.head._3 == span.length.toLong)
  }

  test("stripCopiedSpans: planted span removed from the LATER doc only, non-copied text byte-identical") {
    // span boundaries flanked by chars that differ between the docs, so no
    // boundary k-gram is shared and coverage is exactly the span
    val span = "QWERTYUIOPASDFGHJKLZ" // 20 chars, disjoint from both contexts
    val docs = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst"),
      (2L, "0123 4567-" + span + "_8901 2345"),
      (3L, "abcd efgh ijkl." + span + ".mnop qrst"), // exact copy of doc 1
      (4L, "wxyz wxyz wxyz wxyz"),                   // in no pair
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Dedup.stripCopiedSpans(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toMap
    // earliest copy keeps the span, byte-identical
    assert(out(1L) == ("abcd efgh ijkl." + span + ".mnop qrst", 0L))
    // later partner loses exactly the span; its own context is untouched
    assert(out(2L) == ("0123 4567-" + "_8901 2345", span.length.toLong))
    // a full duplicate of doc 1 is stripped to empty
    assert(out(3L) == ("", ("abcd efgh ijkl." + span + ".mnop qrst").length.toLong))
    // unpaired and NULL-text docs pass through with n_removed = 0
    assert(out(4L) == ("wxyz wxyz wxyz wxyz", 0L))
    assert(out(5L) == (null, 0L))
  }

  test("stripCopiedSpans: idempotent — re-running on its own output changes nothing") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val docs = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst"),
      (2L, "0123 4567-" + span + "_8901 2345"))
      .toDF("doc_id", "text")
    val once = Dedup.stripCopiedSpans(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df.select("doc_id", "text")
    val twice = Dedup.stripCopiedSpans(once, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
    val rows = twice.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.forall(_._3 == 0L), rows.mkString(","))
    val onceMap = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.forall { case (id, text, _) => text == onceMap(id) })
  }

  test("stripCopiedSpans: multi-byte spans strip on character boundaries") {
    val span = "日本語テキスト複製確認" // 10 chars, 3-byte UTF-8 each
    val docs = Seq(
      (1L, "aaaa.bbbb." + span + ".cccc"),
      (2L, "1111-2222-" + span + "_3333"))
      .toDF("doc_id", "text")
    val out = Dedup.stripCopiedSpans(docs, "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("aaaa.bbbb." + span + ".cccc", 0L))
    assert(out(2L) == ("1111-2222-" + "_3333", span.length.toLong))
  }

  test("stripAgainstCorpus: parity with the batch operator when the corpus is the earlier side") {
    val span = "QWERTYUIOPASDFGHJKLZ"
    val corpus = Seq(
      (1L, "abcd efgh ijkl." + span + ".mnop qrst"),
      (2L, "wholly unrelated corpus doc text"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "0123 4567-" + span + "_8901 2345"),
      (11L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    // the stored indexes: fingerprints for candidate pairing, w=1 grams
    // for coverage — both built once on the batch side
    val fps = Dedup.winnowFingerprints(corpus, "doc_id", "text", k = 4, w = 2)
    val grams = corpus
      .select(col("doc_id").as("id"),
        explode(graft.plans.WinnowMinima.minima(col("text"), 4, 1)).as("h"))
    val got = Dedup.stripAgainstCorpus(arrivals, fps, grams, "doc_id", "text",
      k = 4, w = 2, minShared = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // batch twin: the union corpus with ids ordering corpus < arrivals
    val ref = Dedup.stripCopiedSpans(corpus.union(arrivals), "doc_id", "text",
      k = 4, w = 2, minShared = 2).df
      .filter(col("doc_id") >= 10L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == ref, s"got $got vs batch $ref")
    assert(got(10L) == ("0123 4567-" + "_8901 2345", span.length.toLong))
    assert(got(11L)._2 == 0L)
  }

  test("StripMatchedGrams expression: lone matched gram removes exactly k chars; empty set is identity") {
    import org.apache.spark.sql.functions.{array, lit, typedLit}
    import sqlContext.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("cdef".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val got = Seq("abcdefgh").toDF("t")
      .select(graft.plans.StripMatchedGrams.stripCol(
        col("t"), array(lit(hex)), 4).as("s"))
      .as[String].head()
    assert(got == "abgh") // chars c,d,e,f covered by the one matched gram
    val id = Seq("abcdefgh").toDF("t")
      .select(graft.plans.StripMatchedGrams.stripCol(
        col("t"), typedLit(Seq.empty[String]), 4).as("s"))
      .as[String].head()
    assert(id == "abcdefgh")
  }

  test("blockingQuality: hand-computed completeness and reduction; empty truth reports NULL") {
    val entities = (1L to 4L).toDF("id")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("a_id", "b_id")
    val truth = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val r = Dedup.blockingQuality(entities, "id", cand, truth).df.head
    assert(r.getLong(0) == 4L && r.getLong(1) == 6L) // n, total = 4*3/2
    assert(r.getLong(2) == 2L && r.getLong(3) == 2L && r.getLong(4) == 1L)
    assert(r.getDouble(5) == 0.5, "1 of 2 true pairs caught")
    assert(r.getDouble(6) == (6.0 - 2.0) / 6.0, "4 of 6 pairs pruned")
    val empty = Dedup.blockingQuality(entities, "id", cand,
      truth.filter(col("a_id") < 0)).df.head
    assert(empty.isNullAt(5), "completeness undefined with no truth pairs")
  }
}
