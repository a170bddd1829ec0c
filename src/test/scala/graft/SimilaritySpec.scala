package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** ANN verification (SURVEY §7.6): brute force is the ground truth; the LSH
  * path is judged on recall against it over the fixture embeddings. */
class SimilaritySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.engine.Tables.load(spark, dir, "embeddings")
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("vector-index keys release every checkpointed arm once their result is collected") {
    Seq("ivf_pq_opq_sweep", "ivf_pq_incr", "ivf_pq_delete",
      "ivf_pq_probe_sweep", "ivf_pq_filtered_sweep", "pq_shortlist_sweep",
      "ann_probe_sweep").foreach { key =>
      val (rows, added) =
        persistedBy(SparkEntry.queries(key)(spark, dir).collect())
      assert(rows.nonEmpty, key)
      assert(added.isEmpty, s"$key left persisted RDDs ${added.mkString(", ")}")
    }
  }

  test("bruteForceTopK: each query's rank-1 neighbor is itself with cosine 1") {
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5)
    val rank1 = top.filter(col("rank") === 1)
      .select("q_id", "n_id", "cos").collect()
    assert(rank1.length == 10)
    rank1.foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
    }
  }

  test("annLsh: recall@10 vs brute force clears the floor; self always found") {
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annLsh(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, numPlanes = 4, probeBits = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    info(f"ANN recall@10 = $recall%.3f (${approx.size} candidate results)")
    assert(recall >= 0.5, s"recall@10 $recall below floor") // measured 0.54 on the fixed seed
    // self-match survives bucketing: identical vector, identical bucket
    val selfs = approx.count { case (q, n) => q == n }
    assert(selfs == 10)
  }

  test("TopKAggregator path returns exactly the window path's results") {
    val win = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 7)
      .select("q_id", "n_id", "rank", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val agg = graft.operators.TopK.bruteForceTopKAgg(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 7)
      .select("q_id", "n_id", "rank", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(agg == win)
  }

  test("annIvf: recall@10 vs brute force clears the floor; self always found") {
    val k = 10
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.annIvf(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k, nLists = 16, nProbe = 4)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    info(f"IVF recall@10 = $recall%.3f")
    assert(recall >= 0.4, s"IVF recall@10 $recall below floor")
    assert(approx.count { case (q, n) => q == n } == 10) // own cell always probed
  }

  test("kmeansCentroids: k unit centroids, layout-deterministic; assignCells fans out top-p") {
    import sqlContext.implicits._
    val vecs = (1L to 60L).map { i =>
      val base = (i % 3).toInt // three directions
      (i, Array.tabulate(8)(j => if (j == base) 10f + (i % 5) else (i % 7) * 0.1f))
    }.toDF("vec_id", "embedding")
    val c1 = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    assert(c1.length == 3)
    // spherical: every centroid is unit-norm
    c1.foreach { case (_, v) =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
    // determinism is a function of the data, not the physical layout
    val c2 = Similarity.kmeansCentroids(vecs.repartition(7), "vec_id", "embedding",
        k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1)
    assert(c1.map(_._1).sameElements(c2.map(_._1)))
    assert(c1.zip(c2).forall { case ((_, a), (_, b)) => a == b })
    // soft assignment: exactly p rows per vector, cells distinct per vector
    val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding", k = 3, iters = 1)
    val soft = Similarity.assignCells(
        vecs.withColumn("embedding",
          graft.functions.VectorFns.unitizeNative(col("embedding"))),
        "vec_id", "embedding", cents, p = 2)
      .groupBy("vec_id").agg(count(lit(1)).as("n"), countDistinct(col("cell")).as("nc"))
      .collect()
    assert(soft.forall(r => r.getLong(1) == 2L && r.getLong(2) == 2L))

    // id-generic: string ids (UUID-keyed corpora) work and the cell column
    // keeps the id's native type through Lloyd iterations
    val svecs = (1L to 30L).map { i =>
      (s"doc-$i", Array.tabulate(4)(j => if (j == (i % 2).toInt) 5f else 0.1f))
    }.toDF("vec_id", "embedding")
    val sc = Similarity.kmeansCentroids(svecs, "vec_id", "embedding", k = 2, iters = 2)
    assert(sc.schema("cell").dataType == org.apache.spark.sql.types.StringType)
    assert(sc.count() == 2)
    // the returned centroid frame is DRIVER-LOCAL (k rows): the empty-cell
    // backfill must not grow a distributed plan that re-scans the corpus
    // on every downstream use
    assert(sc.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LocalRelation")),
      sc.queryExecution.optimizedPlan.toString)
  }

  test("quantizeInt8: error bounded by half a quantization step; codes clamp at +/-127") {
    import sqlContext.implicits._
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 2.54f, 0.0f)),
      (2L, Array(127.0f, -127.0f, 1.0f, 63.5f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(x => x.getLong(0) ->
        (x.getInt(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    r.foreach { case (id, (dim, scale, mse, maxErr)) =>
      assert(dim == 4)
      assert(scale > 0)
      // |x - q*scale| <= scale/2 elementwise (plus the 6-decimal rounding
      // of scale and the 6-decimal rounding of max_err itself)
      assert(maxErr <= scale / 2 + 2e-6, s"$id: max_err $maxErr vs scale $scale")
      assert(mse <= maxErr * maxErr + 1e-9, s"$id: mse $mse")
    }
  }

  test("quantizeInt8: zero vectors report zero error; NULL vectors yield NULL stats") {
    import sqlContext.implicits._
    val vecs = Seq((1L, Some(Array(0f, 0f, 0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    assert(rows(0).getDouble(2) == 0.0 && rows(0).getDouble(3) == 0.0
      && rows(0).getDouble(4) == 0.0, rows(0).toString)
    assert(rows(1).isNullAt(2) && rows(1).isNullAt(3) && rows(1).isNullAt(4),
      rows(1).toString)
  }

  test("quantizeInt8 fails loudly on a nonzero vector whose scale underflows the round-6 gate") {
    import sqlContext.implicits._
    // max|x| = 1e-5 -> scale = round(1e-5/127, 6) = 0, but the vector is
    // NOT zero: int8 cannot represent it, and a zero-error report would
    // green-light the shrink for exactly the vectors it destroys
    val vecs = Seq((1L, Array(1e-5f, -2e-6f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.quantizeInt8(vecs, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("scale rounding to 0"))
  }

  test("dequantizeInt8: round-trip error bounded by half a step; zero round-trips; underflow raises; NULL stays NULL") {
    import sqlContext.implicits._
    val vecs = Seq(
      (1L, Some(Array(0.5f, -1.0f, 2.54f, 0.0f))),
      (2L, Some(Array(0f, 0f, 0f, 0f))),
      (3L, None)).toDF("vec_id", "embedding")
    val out = Similarity.dequantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").collect()
    // schema is preserved: the vector column is replaced in place
    assert(out.head.schema.fieldNames.toSeq == Seq("vec_id", "embedding"))
    val orig = Array(0.5, -1.0, 2.54, 0.0)
    val dq = out(0).getSeq[Double](1)
    val scale = BigDecimal(2.54 / 127)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    orig.zip(dq).foreach { case (x, y) =>
      assert(math.abs(x - y) <= scale / 2 + 1e-12, s"$x -> $y (scale $scale)")
    }
    assert(out(1).getSeq[Double](1) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(out(2).isNullAt(1))
    // the quantizeInt8 underflow contract carries over
    val e = intercept[Exception] {
      Similarity.dequantizeInt8(
        Seq((9L, Array(1e-5f, -2e-6f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("scale rounding to 0") &&
      e.getMessage.contains("9"), e.getMessage)
  }

  test("retrievalMetrics: hand-computed recall/MRR/nDCG; no-result query scores 0; self-evaluation is all 1") {
    import sqlContext.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def disc(rank: Int) = 1.0 / (math.log(rank + 1.0) / math.log(2.0))
    val truth = Seq(
      (1L, "a", 1), (1L, "b", 2), (1L, "c", 3),
      (2L, "a", 1), (2L, "b", 2)).toDF("q_id", "n_id", "rank")
    // q1 results: miss@1, b@2, a@3; q2: no result rows at all
    val results = Seq((1L, "x", 1), (1L, "b", 2), (1L, "a", 3))
      .toDF("q_id", "n_id", "rank")
    val out = Similarity.retrievalMetrics(results, truth, k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    val dcg1 = disc(2) + disc(3)
    val idcg1 = disc(1) + disc(2) + disc(3)
    assert(out(1L) == ((3L, 2L, r6(2.0 / 3), 0.5, r6(dcg1 / idcg1))))
    assert(out(2L) == ((2L, 0L, 0.0, 0.0, 0.0)))
    // ranks beyond k are ignored on BOTH sides
    val shallow = Similarity.retrievalMetrics(results, truth, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(shallow(1L) == 0.5) // only b@2 counts against truth {a,b}
    // a run evaluated against itself is perfect across the board
    val self = Similarity.retrievalMetrics(truth, truth, k = 10)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(self.forall(_ == ((1.0, 1.0, 1.0))), self.mkString(", "))
  }

  test("retrievalMetrics: a results-only query raises AT CALL TIME (pruning-proof); bad schema raises") {
    import sqlContext.implicits._
    val truth = Seq((1L, "a", 1)).toDF("q_id", "n_id", "rank")
    val results = Seq((1L, "a", 1), (7L, "a", 1)).toDF("q_id", "n_id", "rank")
    // the check is eager (the mixPlan lesson: an output-column raise is
    // silenced by projection pruning) — the CALL itself must throw,
    // before any caller can select a metric subset
    val e = intercept[IllegalArgumentException](
      Similarity.retrievalMetrics(results, truth, k = 10))
    assert(e.getMessage.contains("absent from truth") && e.getMessage.contains("7"),
      e.getMessage)
    intercept[IllegalArgumentException](
      Similarity.retrievalMetrics(results.drop("rank"), truth, k = 10))
    intercept[IllegalArgumentException](
      Similarity.retrievalMetrics(results, truth, k = 0))
  }

  test("retrievalMetrics: truth entirely deeper than k still emits (n_truth 0, NULL recall/ndcg) — the eval set never shrinks") {
    import sqlContext.implicits._
    val truth = Seq((1L, "a", 1), (3L, "z", 5)).toDF("q_id", "n_id", "rank")
    val results = Seq((1L, "a", 1), (3L, "y", 1)).toDF("q_id", "n_id", "rank")
    val out = Similarity.retrievalMetrics(results, truth, k = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.keySet == Set(1L, 3L), s"query 3 vanished: ${out.keySet}")
    val q3 = out(3L)
    assert(q3.getLong(1) == 0L && q3.getLong(2) == 0L) // n_truth, n_hits
    assert(q3.isNullAt(3) && q3.isNullAt(5), // recall, ndcg: 0/0 is NULL
      s"expected NULL recall/ndcg, got $q3")
    assert(q3.getDouble(4) == 0.0) // mrr
  }

  test("retrievalMetricsGraded: hand-computed graded nDCG and AP; binary metrics match; ideal-order self run is perfect") {
    import sqlContext.implicits._
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def disc(rank: Int) = 1.0 / (math.log(rank + 1.0) / math.log(2.0))
    // q1 truth: a@1 rel 3, b@2 rel 1, c@3 rel 2 — the ideal ORDER is by
    // gain (a, c, b), not by truth rank
    val truth = Seq(
      (1L, "a", 1, 3), (1L, "b", 2, 1), (1L, "c", 3, 2))
      .toDF("q_id", "n_id", "rank", "rel")
    // results: miss@1, c@2 (gain 2), a@3 (gain 3)
    val results = Seq((1L, "x", 1), (1L, "c", 2), (1L, "a", 3))
      .toDF("q_id", "n_id", "rank")
    val out = Similarity.retrievalMetricsGraded(results, truth, k = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    val dcg = 2 * disc(2) + 3 * disc(3)
    val idcg = 3 * disc(1) + 2 * disc(2) + 1 * disc(3)
    val ap = (1.0 / 2 + 2.0 / 3) / 3 // P@2, P@3 over |truth| = 3
    assert(out(1L) ==
      ((3L, 2L, r6(2.0 / 3), 0.5, r6(dcg / idcg), r6(ap))), out.toString)
    // a truth already sorted by gain evaluated against itself: all 1
    val mono = Seq((2L, "a", 1, 3), (2L, "b", 2, 2), (2L, "c", 3, 1))
      .toDF("q_id", "n_id", "rank", "rel")
    val self = Similarity.retrievalMetricsGraded(
        mono.select("q_id", "n_id", "rank"), mono, k = 10)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))
    assert(self.forall(_ == ((1.0, 1.0, 1.0, 1.0))), self.mkString(", "))
  }

  test("retrievalMetricsGraded: non-positive or NULL rel raises eagerly; schema and orphan contracts hold") {
    import sqlContext.implicits._
    val results = Seq((1L, "a", 1)).toDF("q_id", "n_id", "rank")
    val zeroRel = Seq((1L, "a", 1, 0)).toDF("q_id", "n_id", "rank", "rel")
    val e = intercept[IllegalArgumentException](
      Similarity.retrievalMetricsGraded(results, zeroRel, k = 10))
    assert(e.getMessage.contains("non-positive"), e.getMessage)
    val nullRel = Seq((1L, "a", 1, Option.empty[Int]))
      .toDF("q_id", "n_id", "rank", "rel")
    intercept[IllegalArgumentException](
      Similarity.retrievalMetricsGraded(results, nullRel, k = 10))
    val truth = Seq((1L, "a", 1, 2)).toDF("q_id", "n_id", "rank", "rel")
    intercept[IllegalArgumentException](
      Similarity.retrievalMetricsGraded(results, truth.drop("rel"), k = 10))
    val orphaned = Seq((1L, "a", 1), (9L, "a", 1)).toDF("q_id", "n_id", "rank")
    val eo = intercept[IllegalArgumentException](
      Similarity.retrievalMetricsGraded(orphaned, truth, k = 10))
    assert(eo.getMessage.contains("absent from truth") &&
      eo.getMessage.contains("9"), eo.getMessage)
  }

  test("quantizeInt8: map-side only (no shuffle in the plan)") {
    import sqlContext.implicits._
    val vecs = (1L to 50L).map(i => (i, Array.fill(8)(i.toFloat / 7)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("diversifiedTopK: label cap binds for the dominant label; short labels contribute all; NULL label capped too") {
    import sqlContext.implicits._
    // label A has the 10 best scores; cap 2 forces B/C/NULL rows in
    val rows = (1L to 10L).map(i => (i, Some("A"), 100.0 - i)) ++
      Seq((20L, Some("B"), 50.0), (21L, Some("B"), 49.0), (22L, Some("B"), 48.0),
        (30L, Some("C"), 40.0),
        (40L, Option.empty[String], 60.0), (41L, Option.empty[String], 59.0),
        (42L, Option.empty[String], 58.0))
    val df = rows.toDF("id", "label", "score")
    val got = graft.operators.TopK.diversifiedTopK(df, "score", "id", "label", k = 7, perLabel = 2)
      .collect().map(_.getLong(0)).toSet
    // per-label survivors: A{1,2}, B{20,21}, C{30}, NULL{40,41}; global top 7 = all of them
    assert(got == Set(1L, 2L, 20L, 21L, 30L, 40L, 41L), got.toString)
    // k binds after the cap: top 3 overall from the capped pool
    val top3 = graft.operators.TopK.diversifiedTopK(df, "score", "id", "label", 3, 2)
      .collect().map(_.getLong(0)).toSet
    assert(top3 == Set(1L, 2L, 40L), top3.toString)
    intercept[IllegalArgumentException](
      graft.operators.TopK.diversifiedTopK(df, "score", "id", "label", 0, 2))
  }

  test("labelCohesion: identity matches brute-force pairwise mean; singles NULL; degenerate vecs drop") {
    import sqlContext.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 30).map { i =>
      (i % 3, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("label", "embedding")
    val got = Similarity.labelCohesion(df, "label", "embedding")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // brute-force oracle: mean cosine over all unordered pairs per label
    def unit(v: Array[Float]) = {
      val d = v.map(_.toDouble); val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / n)
    }
    vecs.groupBy(_._1).foreach { case (lbl, vs) =>
      val us = vs.map(v => unit(v._2))
      val pairs = for (i <- us.indices; j <- i + 1 until us.size)
        yield us(i).zip(us(j)).map { case (a, b) => a * b }.sum
      val expect = pairs.sum / pairs.size
      val (n, mc) = got(lbl)
      assert(n == vs.size, s"$lbl: $n")
      assert(math.abs(mc - expect) < 1e-5, s"$lbl: $mc vs $expect")
    }
    // perfectly aligned label -> cohesion 1; opposing pair -> -1
    val crafted = Seq(
      (1, Array(1f, 0f)), (1, Array(2f, 0f)), (1, Array(3f, 0f)),
      (2, Array(1f, 0f)), (2, Array(-1f, 0f)),
      (3, Array(5f, 5f)),                       // single vector: no pairs
      (4, Array(0f, 0f)), (4, Array(1f, 1f))    // zero-norm drops -> single
    ).toDF("label", "embedding")
    val c = Similarity.labelCohesion(crafted, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(c(1) == (3L, Some(1.0)), c.toString)
    assert(c(2) == (2L, Some(-1.0)), c.toString)
    assert(c(3) == (1L, None), c.toString)
    assert(c(4) == (1L, None), c.toString)
    // the plan never joins or builds pairs: one agg chain over the corpus
    val plan = Similarity.labelCohesion(df, "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
  }

  test("centroidShift: known displacement, vanished/appeared labels, dim counts") {
    import sqlContext.implicits._
    val ref = Seq(
      (1, Array(0f, 0f)), (1, Array(2f, 2f)),   // centroid (1,1)
      (2, Array(5f, 5f)))                        // vanished in cur
      .toDF("label", "embedding")
    val cur = Seq(
      (1, Array(4f, 1f)), (1, Array(4f, 1f)),   // centroid (4,1): shift 3.0
      (3, Array(9f, 9f)))                        // appeared
      .toDF("label", "embedding")
    val r = Similarity.centroidShift(ref, cur, "label", "embedding")
      .collect().map(x => x.getInt(0) ->
        (x.getInt(1), x.getInt(2), if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(r(1) == (2, 2, Some(3.0)), r.toString)
    assert(r(2) == (2, 0, None), r.toString)   // vanished: NULL shift, loud
    assert(r(3) == (0, 2, None), r.toString)   // appeared
    // identical snapshots: zero shift everywhere
    val same = Similarity.centroidShift(ref, ref, "label", "embedding")
      .collect().map(x => x.getDouble(3))
    assert(same.forall(_ == 0.0), same.mkString(","))
  }

  test("embedIntegrity: every defect class counted once; healthy corpus audits clean") {
    import sqlContext.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id") // 5 docs; 6L is vec-only
    val vecs = Seq(
      (1L, Some(Array(1f, 2f))),                     // matched, healthy
      (2L, None),                                    // matched, NULL vector
      (3L, Some(Array.empty[Float])),                // matched, empty vector
      (4L, Some(Array(Float.NaN, 1f, 2f))),          // matched, non-finite, dim 3
      (6L, Some(Array(Float.PositiveInfinity, 0f)))  // vec-only, non-finite
    ).toDF("vec_id", "embedding")
    val r = Similarity.embedIntegrity(docs, "doc_id", vecs, "vec_id", "embedding")
      .collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 5, r.toString)       // n_docs, n_vecs
    assert(r.getLong(2) == 4, r.toString)                            // n_matched
    assert(r.getLong(3) == 1 && r.getLong(4) == 1, r.toString)       // doc_only (5), vec_only (6)
    assert(r.getLong(5) == 1 && r.getLong(6) == 1, r.toString)       // null, empty
    assert(r.getLong(7) == 2, r.toString)                            // NaN + Inf vectors
    assert(r.getInt(8) == 2 && r.getInt(9) == 3, r.toString)         // min/max dim over usable vecs
    val clean = Similarity.embedIntegrity(
      docs, "doc_id",
      Seq((1L, Array(1f)), (2L, Array(2f)), (3L, Array(3f)), (4L, Array(4f)), (5L, Array(5f)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().head
    assert(clean.getLong(2) == 5 && clean.getLong(3) == 0 && clean.getLong(4) == 0
      && clean.getLong(5) == 0 && clean.getLong(6) == 0 && clean.getLong(7) == 0,
      clean.toString)
    // empty corpus: honest zeros (sum over zero rows is NULL without the
    // terminal coalesce), dims NULL (nothing to measure)
    val empty = Similarity.embedIntegrity(
      docs.limit(0), "doc_id", vecs.limit(0), "vec_id", "embedding")
      .collect().head
    assert((0 to 7).forall(i => empty.getLong(i) == 0L), empty.toString)
    assert(empty.isNullAt(8) && empty.isNullAt(9), empty.toString)
  }

  // ---------------------------------------------------- stored IVF index

  private def topkSet(df: org.apache.spark.sql.DataFrame) =
    df.select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  // the plain-IVF artifact is the stored index's raw codec
  private def writeRawIvf(df: org.apache.spark.sql.DataFrame, idx: String) =
    Similarity.writeIvfPqIndex(df, "vec_id", "embedding", idx,
      nLists = 8, lloydIters = 1, codec = "raw")

  test("writeIvfIndex round-trip: stored index answers identically to the in-memory build") {
    val idx = java.nio.file.Files.createTempDirectory("ivf-rt").toString
    writeRawIvf(emb, idx)
    val meta = spark.read.parquet(s"$idx/meta.parquet").head()
    assert(meta.getAs[String]("codec") == "raw" && meta.getAs[Long]("epoch") == 1L)
    assert(!new java.io.File(s"$idx/codebooks.parquet").exists(),
      "the raw codec trains no codebooks")
    // the in-memory comparator built the same deterministic way
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val centroids = Similarity.kmeansCentroids(c, "n_id", "n_v",
      k = 8, iters = 1, assumeUnit = true)
    val mem = Similarity.annIvfWithIndex(centroids,
      Similarity.assignCell(c, "n_id", "n_v", centroids),
      queries, "vec_id", "embedding", k = 5, nProbe = 2)
    val stored = Similarity.annIvfStored(spark, idx,
      queries, "vec_id", "embedding", k = 5, nProbe = 2)
    assert(topkSet(stored) == topkSet(mem),
      "stored and in-memory IVF must answer bit-identically")
    // the PQ serving paths refuse a raw artifact by name
    val ex = intercept[IllegalArgumentException](Similarity.ivfPqStoredTopK(
      spark, idx, emb, "vec_id", "embedding", queries, "vec_id",
      "embedding", k = 5, shortlist = 10))
    assert(ex.getMessage.contains("annIvfStored"), ex.getMessage)
    // a rebuild over the same corpus is a no-op diff (deterministic seeds).
    // Materialize the first snapshot BEFORE rebuilding: the swap renames
    // the live dir's files out from under a still-lazy reader.
    def tables() = (spark.read.parquet(s"$idx/centroids.parquet"),
      spark.read.parquet(s"$idx/index.parquet"))
    val (cen1, asg1) = tables()
    val cen1Rows = cen1.collect().toSet
    val asg1Rows = asg1.collect().map(_.toSeq).toSet
    writeRawIvf(emb, idx)
    val (cen2, asg2) = tables()
    assert(cen1Rows == cen2.collect().toSet)
    assert(asg1Rows == asg2.collect().map(_.toSeq).toSet)
  }

  test("appendIvfIndex: incremental half equals building the assignment over the full corpus") {
    val idx = java.nio.file.Files.createTempDirectory("ivf-app").toString
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    writeRawIvf(half1, idx)
    Similarity.appendIvfPqIndex(spark, idx, half2, "vec_id", "embedding")
    val centroids = spark.read.parquet(s"$idx/centroids.parquet")
    val assigned = spark.read.parquet(s"$idx/index.parquet")
    assert(assigned.count() == emb.count(),
      "append must index every new vector exactly once")
    // per-row map-side assignment: assigning the halves separately against
    // the SAME centroids must equal one assignment pass over the union
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val full = Similarity.assignCell(c, "n_id", "n_v", centroids)
      .select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val storedCells = assigned.select("n_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(storedCells == full,
      "appended assignments must match the single-pass assignment")
    // and the grown index serves queries through the standard path
    val served = Similarity.annIvfStored(spark, idx,
      queries, "vec_id", "embedding", k = 3, nProbe = 2)
    assert(served.filter(col("rank") === 1).count() == queries.count())
  }

  test("pqCodebooks/pqEncode: codeword-exact corpus quantizes losslessly; shape, determinism, guards") {
    import sqlContext.implicits._
    // a corpus of exactly ksub distinct unit-ish vectors, each repeated:
    // Lloyd converges with one codeword per distinct vector, so every row
    // encodes to a codeword that reconstructs it EXACTLY and the encode
    // is a per-subspace identity check
    val distinct = (0 until 4).map { j =>
      (0 until 8).map(i => if (i % 4 == j) 1.0 else 0.0).toArray
    }
    val rows = (0 until 16).map(i => (i.toLong, distinct(i % 4).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 3)
    val cbRows = cb.collect()
    assert(cbRows.length == 8, s"2x4 codebook, got ${cbRows.length}")
    assert(cbRows.forall(_.getSeq[Double](2).length == 4))
    // deterministic rebuild
    val cb2 = Similarity.pqCodebooks(df, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 3).collect()
    assert(cb2.map(_.toSeq).toSet == cbRows.map(_.toSeq).toSet)
    // encode + reconstruct: every row's reconstruction equals its vector
    val lookup = cbRows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { case (id, v) =>
      val rec = enc(id).zipWithIndex.flatMap { case (code, s) =>
        lookup((s, code))
      }
      val unit = {
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
      rec.zip(unit).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"id=$id rec=$rec unit=$unit")
      }
    }
    intercept[IllegalArgumentException](   // 8 dims not divisible by 3
      Similarity.pqCodebooks(df, "vec_id", "embedding", m = 3, ksub = 2))
    intercept[IllegalArgumentException](   // ksub > corpus rows
      Similarity.pqCodebooks(df.limit(2), "vec_id", "embedding",
        m = 2, ksub = 4))
  }

  // flat PQ is the stored index with one cell and no Lloyd pass
  private def writeFlatPq(idx: String) =
    Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
      nLists = 1, lloydIters = 0, m = 8, ksub = 16, pqIters = 2)

  test("writePqIndex round-trip: stored codes answer identically to the in-memory path") {
    val idx = java.nio.file.Files.createTempDirectory("graft-pq-spec").toString
    try {
      writeFlatPq(idx)
      val cbStored = spark.read.parquet(s"$idx/codebooks.parquet")
      val codesStored = spark.read.parquet(s"$idx/index.parquet")
      assert(codesStored.select("cell").distinct().count() == 1L,
        "a flat PQ artifact is one cell")
      // the one-cell layout trains exactly pqTopKRerank's codebooks
      assert(cbStored.collect().map(_.toSeq).toSet ==
        Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 8, ksub = 16,
          iters = 2).collect().map(_.toSeq).toSet)
      // persisted codes == re-encoding against the persisted codebooks
      val again = Similarity.pqEncode(emb, "vec_id", "embedding", cbStored)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val stored = codesStored.select("n_id", "codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      assert(stored == again)
      // and the stored query path equals the in-memory rerank end-to-end
      val q = emb.filter(col("vec_id") < 5)
      val a = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 5, shortlist = 20,
          nProbe = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val b = Similarity.pqTopKRerank(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 5, shortlist = 20,
          m = 8, ksub = 16, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == b, s"stored $a != in-memory $b")
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("ivfPqTopK: full probe equals the unpruned PQ re-rank; more probes never lose recall; guards") {
    val q = emb.filter(col("vec_id") < 5)
    // probing every cell removes the pruning entirely: the result must
    // equal pqTopKRerank built from the same deterministic codebooks
    val full = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5, shortlist = 20,
        nLists = 8, nProbe = 8, m = 8, ksub = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val unpruned = Similarity.pqTopKRerank(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 5, shortlist = 20,
        m = 8, ksub = 16, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == unpruned, s"full-probe $full != unpruned $unpruned")
    // probe monotonicity against the exact reference
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 5).select("q_id", "n_id")
    def hits(np: Int) = exact.join(
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 5, shortlist = 20, nLists = 8, nProbe = np,
        m = 8, ksub = 16, iters = 2).select("q_id", "n_id"),
      Seq("q_id", "n_id")).count()
    assert(hits(8) >= hits(2), s"probe-8 ${hits(8)} < probe-2 ${hits(2)}")
    intercept[IllegalArgumentException](
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", q, "vec_id",
        "embedding", k = 5, shortlist = 20, nLists = 8, nProbe = 9))
  }

  test("appendIvfPqIndex: appended half equals assigning+encoding the full corpus against the stored model") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idx, nLists = 4, lloydIters = 1,
        m = 8, ksub = 16, pqIters = 1)
      val before = spark.read.parquet(s"$idx/index.parquet").count()
      Similarity.appendIvfPqIndex(spark, idx,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      val index = spark.read.parquet(s"$idx/index.parquet")
      assert(index.count() == emb.count(),
        "append must index every new vector exactly once")
      assert(index.count() > before)
      // the appended rows must be EXACTLY what a from-scratch assignment
      // + encode of those vectors against the stored model produces —
      // per-row map-side determinism, no batch/full divergence
      val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      val codebooks = spark.read.parquet(s"$idx/codebooks.parquet")
      val c = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("n_id"),
          graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
      val expect = Similarity.assignCell(c, "n_id", "n_v", centroids)
        .select("n_id", "cell")
        .join(Similarity.pqEncode(c, "n_id", "n_v", codebooks,
          assumeUnit = true), Seq("n_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      val got = index.filter(col("n_id") % 2 === 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      assert(got == expect)
      // and the grown index serves queries through the standard path
      val served = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", queries, "vec_id", "embedding", k = 3, shortlist = 6,
        nProbe = 2)
      assert(served.filter(col("rank") === 1).count() == queries.count())
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("appendIvfPqIndex honors a residual index: appended codes equal independent residual-encode against the stored model") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-rapp").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idx, nLists = 4, lloydIters = 1,
        m = 8, ksub = 16, pqIters = 1, residual = true)
      Similarity.appendIvfPqIndex(spark, idx,
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding")
      // independent derivation: assign, subtract the cell centroid, and
      // encode the RESIDUAL through the interpreted HOF twin (a code
      // path appendIvfPqIndex does not share) — if append ever encoded
      // the plain vector against residual codebooks, this diverges
      val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      val codebooks = spark.read.parquet(s"$idx/codebooks.parquet")
      val c = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("n_id"),
          graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
      val res = Similarity.assignCell(c, "n_id", "n_v", centroids)
        .join(broadcast(centroids), Seq("cell"))
        .select(col("n_id"), col("cell"),
          zip_with(col("n_v"), col("cv"), (x, y) => x - y).as("r_v"))
      val expect = res.select("n_id", "cell")
        .join(ReferenceTwins.pqEncodeHof(res, "n_id", "r_v", codebooks,
          assumeUnit = true), Seq("n_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      val got = spark.read.parquet(s"$idx/index.parquet")
        .filter(col("n_id") % 2 === 1)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      assert(got == expect,
        "residual append must encode cell residuals, not plain vectors")
      // and the plain-vector encode DIFFERS on this fixture, so the
      // assertion above has teeth
      val plain = res.select("n_id", "cell")
        .join(Similarity.pqEncode(c, "n_id", "n_v", codebooks,
          assumeUnit = true), Seq("n_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
      assert(plain != expect, "fixture must distinguish residual vs plain")
      val served = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", queries, "vec_id", "embedding", k = 3, shortlist = 6,
        nProbe = 2)
      assert(served.filter(col("rank") === 1).count() == queries.count())
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("ivfPqIndexHealth: exact totals and delta split, cell-balance bounds, structural code checks") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-hlth").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val even = emb.filter(col("vec_id") % 2 === 0)
      val baseN = even.count()
      Similarity.writeIvfPqIndex(even, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      val h0 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h0.getAs[Long]("total_indexed") == baseN)
      assert(h0.getAs[Long]("base_rows") == baseN)
      assert(h0.getAs[Long]("delta_rows") == 0L)
      assert(h0.getAs[Long]("bad_codes") == 0L)
      assert(h0.getAs[Long]("n_lists") == 4L)
      assert(h0.getAs[Long]("cells_used") +
        h0.getAs[Long]("empty_cells") == 4L)
      assert(h0.getAs[Long]("min_pop") >= 1L &&
        h0.getAs[Long]("max_pop") <= baseN)
      assert(h0.getAs[Double]("imbalance") >= 1.0)
      // a streaming-ingest delta (the sink's layout) splits out of the
      // totals — encode the odd half through the appender's own stage
      val centroids = spark.read.parquet(s"$idx/centroids.parquet")
      val codebooks = spark.read.parquet(s"$idx/codebooks.parquet")
      val c = emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("n_id"),
          graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
      Similarity.ivfPqIndexRows(
          Similarity.ivfPqTrainRows(c, centroids, residual = false),
          Some(codebooks))
        .write.parquet(s"$idx/ingest.parquet/batch_id=0")
      val h1 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h1.getAs[Long]("total_indexed") == emb.count())
      assert(h1.getAs[Long]("base_rows") == baseN)
      assert(h1.getAs[Long]("delta_rows") == emb.count() - baseN)
      assert(h1.getAs[Long]("bad_codes") == 0L)
      // structurally broken rows are counted: a code out of [0, ksub)
      // and a code array of the wrong length
      val badSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("codes",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType, containsNull = false))))
      Similarity.localFrame(spark, Array(
          org.apache.spark.sql.Row(99901L, 0L, Seq(16, 0, 0, 0, 0, 0, 0, 0)),
          org.apache.spark.sql.Row(99902L, 0L, Seq(1, 2, 3))), badSchema)
        .write.mode("append").parquet(s"$idx/ingest.parquet/batch_id=0")
      val h2 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h2.getAs[Long]("bad_codes") == 2L, h2.toString)
      assert(h2.getAs[Long]("total_indexed") == emb.count() + 2)
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("ivfPqStoredTopK: stored plain index answers identically to the in-memory ivfPqTopK") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec").toString
    try {
      val q = emb.filter(col("vec_id") < 5)
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 8, lloydIters = 2, m = 8, ksub = 16, pqIters = 2,
        residual = false)
      val stored = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 5, shortlist = 20,
          nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // in-memory twin with the SAME iteration counts: deterministic
      // hash-seeded training + exact parquet round-trip => identical
      val mem = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 5, shortlist = 20, nLists = 8,
          nProbe = 4, m = 8, ksub = 16, iters = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(stored == mem)
    } finally {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("ivfPqStoredTopK residual: meta flag round-trips; exhaustive shortlist equals the plain variant (re-rank absorbs encoding)") {
    val plainIdx = java.nio.file.Files.createTempDirectory("graft-ivfpq-p").toString
    val resIdx = java.nio.file.Files.createTempDirectory("graft-ivfpq-r").toString
    try {
      val q = emb.filter(col("vec_id") < 3)
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", plainIdx,
        nLists = 8, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", resIdx,
        nLists = 8, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
        residual = true)
      assert(!spark.read.parquet(s"$plainIdx/meta.parquet").head().getBoolean(0))
      assert(spark.read.parquet(s"$resIdx/meta.parquet").head().getBoolean(0))
      // with the shortlist wider than the corpus, EVERY probed candidate
      // is exactly re-ranked, so the encoding (plain vs residual) cannot
      // change the answer — both reduce to exact top-k over probed cells
      // (the same cells: centroids are encoding-independent)
      def ans(idx: String) = Similarity.ivfPqStoredTopK(spark, idx, emb,
          "vec_id", "embedding", q, "vec_id", "embedding", k = 5,
          shortlist = 1000000, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(ans(plainIdx) == ans(resIdx))
    } finally {
      Seq(plainIdx, resIdx).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  test("pqTopKRerank: recall dominates pure ADC on the fixture, self is rank-1 on a codeword-exact corpus, shortlist guard") {
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10).select("q_id", "n_id")
    val adc = Similarity.pqTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10, m = 16, ksub = 32, iters = 2)
      .select("q_id", "n_id")
    val rer = Similarity.pqTopKRerank(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10, shortlist = 40,
      m = 16, ksub = 32, iters = 2).select("q_id", "n_id")
    val adcHits = exact.join(adc, Seq("q_id", "n_id")).count()
    val rerHits = exact.join(rer, Seq("q_id", "n_id")).count()
    assert(rerHits >= adcHits,
      s"re-rank $rerHits must not lose to pure ADC $adcHits")
    assert(rerHits >= 40, s"re-ranked recall too low: $rerHits/50")
    intercept[IllegalArgumentException](
      Similarity.pqTopKRerank(emb, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, shortlist = 5))
  }

  // both codecs of the one stored artifact share the epoch-guarded
  // grow paths: PQ codes and the plain-IVF raw vectors
  private val codecs = Seq("pq", "raw")

  test("epoch guard: a rebuild between model load and commit makes append/ingest THROW with nothing landed") {
    codecs.foreach { codec =>
      val idx = java.nio.file.Files.createTempDirectory(s"graft-ep-$codec").toString
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def write(df: org.apache.spark.sql.DataFrame): Unit =
        Similarity.writeIvfPqIndex(df, "vec_id", "embedding", idx,
          nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
          codec = codec)
      try {
        write(emb.filter(col("vec_id") % 2 === 0))
        assert(Similarity.readIvfPqEpoch(spark, idx) == 1L)
        // simulate the race the scaladoc documents: model loaded at epoch 1,
        // a rebuild swaps the root (epoch 2) before the commit
        val stale = Similarity.loadIndexModel(spark, idx).localized
        write(emb)
        assert(Similarity.readIvfPqEpoch(spark, idx) == 2L)
        val rebuiltCount = spark.read.parquet(s"$idx/index.parquet").count()
        val odd = emb.filter(col("vec_id") % 2 === 1)
        val staleRows = Similarity.encodeArrivals(stale, odd, "vec_id",
          "embedding", "spec")
        val exA = intercept[IllegalStateException](
          Similarity.commitIvfPqAppend(spark, idx, staleRows,
            expectedEpoch = stale.epoch))
        assert(exA.getMessage.contains("republished"), s"$codec: ${exA.getMessage}")
        assert(spark.read.parquet(s"$idx/index.parquet").count() == rebuiltCount,
          s"$codec: the stale append must land NOTHING in the new root")
        val exI = intercept[IllegalStateException](
          Similarity.commitIvfPqIngest(spark, idx, odd, "vec_id", "embedding",
            batchId = 0L, model = stale))
        assert(exI.getMessage.contains("republished"), s"$codec: ${exI.getMessage}")
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/ingest.parquet")),
          s"$codec: the stale ingest batch must land NOTHING in the new root")
        // the happy path still commits at the CURRENT epoch
        Similarity.appendIvfPqIndex(spark, idx, odd.limit(1), "vec_id",
          "embedding")
        assert(spark.read.parquet(s"$idx/index.parquet").count() ==
          rebuiltCount + 1)
      } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    }
  }

  test("compactIvfPqIndex: drops the ingest delta in one swap, bumps the epoch, and row-equals a fresh rebuild on the grown corpus") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-cpt").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft-ivfpq-cpf").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val even = emb.filter(col("vec_id") % 2 === 0)
      Similarity.writeIvfPqIndex(even, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      // two ingest batches, the sink's delta layout
      Similarity.ingestIvfPqBatch(spark, idx,
        emb.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", 0L)
      Similarity.ingestIvfPqBatch(spark, idx,
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", 1L)
      val h0 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h0.getAs[Long]("delta_rows") == emb.count() - even.count())
      assert(h0.getAs[Long]("total_indexed") == emb.count())
      Similarity.compactIvfPqIndex(spark, idx, emb, "vec_id", "embedding")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/ingest.parquet")),
        "compaction must drop the delta with the root swap")
      val h1 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h1.getAs[Long]("delta_rows") == 0L)
      assert(h1.getAs[Long]("total_indexed") == emb.count())
      assert(h1.getAs[Long]("bad_codes") == 0L)
      assert(h1.getAs[Long]("bad_codebook") == 0L)
      assert(Similarity.readIvfPqEpoch(spark, idx) == 2L,
        "compaction is a publish: the epoch must bump")
      // compaction == rebuild: same grown corpus, same recorded config
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", fresh,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      val a = spark.read.parquet(s"$idx/index.parquet")
      val b = spark.read.parquet(s"$fresh/index.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "compacted index must row-equal a fresh rebuild")
    } finally Seq(idx, fresh).foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
  }

  test("stored-search coverage diagnostic: a re-rank corpus missing a shortlisted id raises loudly instead of returning k-1 rows") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-cov").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      val q = emb.filter(col("vec_id") === 0)
      // the drifted corpus: id 0 is indexed (and, as the query itself,
      // always shortlisted under exhaustive probes) but missing from the
      // table handed to the re-rank
      val drifted = emb.filter(col("vec_id") =!= 0)
      val ex = intercept[Exception](
        Similarity.ivfPqStoredTopK(spark, idx, drifted, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
          nProbe = 4).collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(ex).exists(_.contains("missing from corpusForRerank")),
        chain(ex).mkString(" | "))
      // the undrifted corpus answers cleanly through the same plan
      assert(Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        nProbe = 4).count() == 3)
      // the OTHER count-mismatch shape — duplicate ids fanning the join
      // out — is diagnosed by name, not misreported as negative missing.
      // Duplicate the query's OWN id: always in its shortlist, so the
      // fan-out is guaranteed to trip the per-pair check
      val duped = emb.unionByName(emb.filter(col("vec_id") === 0))
      val ex2 = intercept[Exception](
        Similarity.ivfPqStoredTopK(spark, idx, duped, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
          nProbe = 4).collect())
      assert(chain(ex2).exists(_.contains("duplicate ids")),
        chain(ex2).mkString(" | "))
      // the adversarial offset: one id duplicated AND one missing leaves
      // the per-query TOTALS equal — the per-pair check must still raise
      // (a totals-only guard sails through and returns dup-polluted,
      // neighbor-dropping results)
      val offset = emb.filter(col("vec_id") =!= 1)
        .unionByName(emb.filter(col("vec_id") === 0))
      val ex3 = intercept[Exception](
        Similarity.ivfPqStoredTopK(spark, idx, offset, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
          nProbe = 4).collect())
      assert(chain(ex3).exists(m => m.contains("duplicate ids") ||
        m.contains("missing from corpusForRerank")),
        chain(ex3).mkString(" | "))
      // r19: a corpus sharing NO ids with the index (wrong table) used
      // to vanish silently — every query has zero survivors, no
      // row-level raise could fire; the preserved-query-set join now
      // raises on the systemic shape
      val empty = emb.filter(col("vec_id") < 0)
      val ex4 = intercept[Exception](
        Similarity.ivfPqStoredTopK(spark, idx, empty, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
          nProbe = 4).collect())
      assert(chain(ex4).exists(_.contains("zero surviving candidates")),
        chain(ex4).mkString(" | "))
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("duplicate shortlist pairs are blamed on the side that carries them: a replayed append batch reads as INDEX-side, not corpus drift") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-dup").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      // the replay the append contract warns about: the same batch lands
      // twice, so every id is coded twice in the stored index
      Similarity.appendIvfPqIndex(spark, idx, emb, "vec_id", "embedding")
      val q = emb.filter(col("vec_id") === 0)
      val ex = intercept[Exception](
        Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id", "embedding",
          q, "vec_id", "embedding", k = 3, shortlist = 50,
          nProbe = 4).collect())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(ex).exists(_.contains("STORED INDEX carries duplicate")),
        chain(ex).mkString(" | "))
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("epoch guard covers the FULL append/ingest job: a rebuild racing the encode throws with nothing visible landed, and a poisoned ingest batch is quarantined") {
    codecs.foreach { codec =>
      val idx = java.nio.file.Files.createTempDirectory(s"graft-race-$codec").toString
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        val even = emb.filter(col("vec_id") % 2 === 0)
        val odd = emb.filter(col("vec_id") % 2 === 1)
        def write(df: org.apache.spark.sql.DataFrame): Unit =
          Similarity.writeIvfPqIndex(df, "vec_id", "embedding", idx,
            nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
            codec = codec)
        def rebuild(): Unit = write(emb)
        write(even)
        val stale = Similarity.loadIndexModel(spark, idx).localized
        val staleRows = Similarity.encodeArrivals(stale, odd, "vec_id",
          "embedding", "spec")
        // (a) the rebuild swaps the root WHILE the append's encode job is
        // staged but uncommitted — the pre-r19 guard (checked only before
        // the write) would have let these stale rows land
        val exA = intercept[IllegalStateException](
          Similarity.commitIvfPqAppend(spark, idx, staleRows,
            expectedEpoch = stale.epoch, afterStage = rebuild))
        assert(exA.getMessage.contains("republished"), s"$codec: ${exA.getMessage}")
        val rebuiltCount = emb.count()
        assert(spark.read.parquet(s"$idx/index.parquet").count() == rebuiltCount,
          s"$codec: the raced append must land NOTHING visible in the new root")
        assert(!fs.listStatus(new org.apache.hadoop.fs.Path(idx))
          .exists(_.getPath.getName.startsWith(".stage-")),
          s"$codec: no staging debris may survive in the live root")
        // (b) the rebuild swaps the root between the ingest's fail-fast
        // check and its write — the batch dir lands INSIDE the new root,
        // encoded against the superseded model; the post-write re-check
        // must quarantine exactly that dir
        write(even)
        val exB = intercept[IllegalStateException](
          Similarity.commitIvfPqIngest(spark, idx, odd, "vec_id",
            "embedding", batchId = 5L, model = stale.copy(meta =
              Similarity.readIvfPqMeta(spark, idx)), afterCheck = rebuild))
        assert(exB.getMessage.contains("republished"), s"$codec: ${exB.getMessage}")
        assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$idx/ingest.parquet")),
          s"$codec: the poisoned batch must be quarantined (and no empty " +
            "delta root left behind)")
        assert(spark.read.parquet(s"$idx/index.parquet").count() == rebuiltCount)
        // the artifact still serves cleanly after both raced commits
        val q = emb.filter(col("vec_id") === 0)
        val served =
          if (codec == "raw") Similarity.annIvfStored(spark, idx, q, "vec_id",
            "embedding", k = 3, nProbe = 4)
          else Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
            "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
            nProbe = 4)
        assert(served.count() == 3)
      } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    }
  }

  test("filtered search: eligibility is exact, scarce strata legitimately return < k without raising, and payload survives the grow paths") {
    val k = 5
    val q = emb.filter(col("vec_id") < 3)
    val even = col("label") % 2 === 0
    // plain path: results are a subset of the eligible corpus, and the
    // exact filtered brute force is matched inside probed cells
    val plain = Similarity.annIvfFiltered(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = k, where = even, nLists = 4,
      nProbe = 4) // nProbe = nLists: exhaustive probe == exact filtered
    val exact = Similarity.bruteForceTopK(emb.filter(even), "vec_id",
      "embedding", q, "vec_id", "embedding", k = k)
      .select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = plain.select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == exact,
      "exhaustive-probe filtered IVF must equal the filtered brute force")
    val idx = java.nio.file.Files.createTempDirectory("graft-flt-life").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // stored path: build on HALF the corpus with payload, grow with the
      // other half through BOTH grow verbs — payload must ride along
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 4 < 2),
        "vec_id", "embedding", idx, nLists = 4, lloydIters = 1, m = 8,
        ksub = 16, pqIters = 1, payload = Seq("label"))
      Similarity.appendIvfPqIndex(spark, idx,
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding")
      Similarity.ingestIvfPqBatch(spark, idx,
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", 0L)
      // shortlist past the eligible population: the ADC cut then cannot
      // drop a true neighbor, so the exact re-rank makes the whole
      // search EXACT and the equality below is a theorem, not a recall
      // measurement (the registered key owns the recall floor)
      val deep = emb.filter(even).count().toInt + 1
      val res = Similarity.ivfPqStoredTopKFiltered(spark, idx, emb,
        "vec_id", "embedding", q, "vec_id", "embedding", k = k,
        shortlist = deep, where = even, nProbe = 4)
      val labels = res.join(emb.select(col("vec_id").as("n_id"),
        col("label")), Seq("n_id")).select("label").collect()
        .map(_.getInt(0))
      assert(labels.nonEmpty && labels.forall(_ % 2 == 0),
        s"ineligible labels leaked: ${labels.filter(_ % 2 != 0).mkString(",")}")
      // appended/ingested rows are SEARCHABLE under the filter (payload
      // was carried): at exhaustive probes with a deep shortlist the
      // grown index must surface grown-half neighbors too
      val ids = res.select("n_id").collect().map(_.getLong(0)).toSet
      val grownExact = Similarity.bruteForceTopK(emb.filter(even),
        "vec_id", "embedding", q, "vec_id", "embedding", k = k)
        .select("n_id").collect().map(_.getLong(0)).toSet
      assert(ids == grownExact,
        "filtered stored search over the grown index must equal the " +
          "filtered brute force at exhaustive probes")
      // scarce stratum: a predicate matching NOTHING returns zero rows —
      // legitimately, with no vanished-query raise on the filtered path
      assert(Similarity.ivfPqStoredTopKFiltered(spark, idx, emb,
        "vec_id", "embedding", q, "vec_id", "embedding", k = k,
        shortlist = 40, where = col("label") === 9999, nProbe = 4)
        .count() == 0L)
      // the missing-id diagnostic still guards the filtered path
      val drifted = emb.filter(col("vec_id") =!= 0 || col("label") % 2 =!= 0)
      val q0 = emb.filter(col("vec_id") === 0 && col("label") % 2 === 0)
      if (q0.count() == 1) { // fixture-dependent: query 0 eligible
        val ex = intercept[Exception](
          Similarity.ivfPqStoredTopKFiltered(spark, idx, drifted, "vec_id",
            "embedding", q0, "vec_id", "embedding", k = 1,
            shortlist = 40, where = even, nProbe = 4).collect())
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil
          else String.valueOf(t.getMessage) +: chain(t.getCause)
        assert(chain(ex).exists(_.contains("missing from corpusForRerank")),
          chain(ex).mkString(" | "))
      }
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("tombstones: deletes suppress every serving path immediately, replay idempotently, outlive re-appends, and must never be lost to a racing rebuild") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-ts").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      val q = emb.filter(col("vec_id") === 0)
      val del = emb.filter(col("vec_id") === 0).select("vec_id")
      // (a) a rebuild racing the delete commit must make it THROW with
      // nothing landed — a silently lost delete is a takedown failure
      val ex = intercept[IllegalStateException](
        Similarity.deleteFromIvfPqIndex(spark, idx, del, "vec_id",
          afterStage = () => Similarity.writeIvfPqIndex(emb, "vec_id",
            "embedding", idx, nLists = 4, lloydIters = 1, m = 8,
            ksub = 16, pqIters = 1)))
      assert(ex.getMessage.contains("republished"), ex.getMessage)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/tombstones.parquet")),
        "the raced delete must land nothing")
      // (b) the clean delete suppresses the id in EVERY serving path:
      // stored top-k, the probe sweep, and the filtered variant
      Similarity.deleteFromIvfPqIndex(spark, idx, del, "vec_id")
      assert(Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        nProbe = 4).filter(col("n_id") === 0).count() == 0L)
      assert(Similarity.ivfPqStoredProbeSweep(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        probes = Seq(1, 4)).filter(col("n_id") === 0).count() == 0L)
      assert(Similarity.ivfPqStoredTopKFiltered(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        where = lit(true), nProbe = 4).filter(col("n_id") === 0)
        .count() == 0L)
      // (c) replaying the delete is idempotent (duplicate tombstones
      // collapse at read)
      Similarity.deleteFromIvfPqIndex(spark, idx, del, "vec_id")
      val h = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h.getAs[Long]("tombstone_rows") == 1L)
      assert(h.getAs[Long]("dead_rows") == 1L)
      // (d) tombstones suppress BY ID: re-appending the deleted id
      // leaves it suppressed (and health counts both stored copies dead)
      Similarity.appendIvfPqIndex(spark, idx,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding")
      assert(Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        nProbe = 4).filter(col("n_id") === 0).count() == 0L)
      val h2 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h2.getAs[Long]("tombstone_rows") == 1L)
      assert(h2.getAs[Long]("dead_rows") == 2L)
      // (e) compaction makes the delete durable and folds the table away
      Similarity.compactIvfPqIndex(spark, idx, emb, "vec_id", "embedding")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/tombstones.parquet")))
      val h3 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h3.getAs[Long]("total_indexed") == emb.count() - 1)
      assert(h3.getAs[Long]("tombstone_rows") == 0L &&
        h3.getAs[Long]("dead_rows") == 0L)
      assert(Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 3, shortlist = 50,
        nProbe = 4).filter(col("n_id") === 0).count() == 0L)
      // (f) an ISOLATED empty probe — one query's entire nProbe=1 cell
      // tombstoned out — returns zero rows for that query WITHOUT
      // aborting the batch: the vanished-query raise is reserved for
      // the systemic all-queries shape (r19 review)
      val cents = spark.read.parquet(s"$idx/centroids.parquet")
      def cellOf(id: Long): Long = Similarity.assignCell(
        emb.filter(col("vec_id") === id).select(col("vec_id").as("n_id"),
          graft.functions.VectorFns.unitizeNative(col("embedding"))
            .as("n_v")), "n_id", "n_v", cents)
        .select("cell").head().getLong(0)
      val deadCell = cellOf(5L)
      val otherId = (6L to 30L).find(cellOf(_) != deadCell).get
      Similarity.deleteFromIvfPqIndex(spark, idx,
        spark.read.parquet(s"$idx/index.parquet")
          .filter(col("cell") === deadCell).select(col("n_id").as("vec_id")),
        "vec_id")
      val mixed = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding",
        emb.filter(col("vec_id") === 5 || col("vec_id") === otherId),
        "vec_id", "embedding", k = 3, shortlist = 50, nProbe = 1)
        .collect() // must NOT raise
      assert(!mixed.exists(_.getLong(0) == 5L),
        "the empty-probe query must return zero rows")
      assert(mixed.count(_.getLong(0) == otherId) == 3,
        "the healthy query must be unaffected")
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("payload validation is loud: reserved-name clash, missing column, and growing without the recorded payload all throw") {
    val idx = java.nio.file.Files.createTempDirectory("graft-flt-val").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      intercept[IllegalArgumentException](Similarity.writeIvfPqIndex(
        emb, "vec_id", "embedding", idx, nLists = 4, payload = Seq("cell")))
      intercept[IllegalArgumentException](Similarity.writeIvfPqIndex(
        emb, "vec_id", "embedding", idx, nLists = 4,
        payload = Seq("no_such_col")))
      intercept[IllegalArgumentException](Similarity.writeIvfPqIndex(
        emb, "vec_id", "embedding", idx, nLists = 4,
        payload = Seq("label", "LABEL")))
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
        payload = Seq("label"))
      // a grow batch MISSING the recorded payload column fails loudly
      // (silently landing NULL payload would make those rows invisible
      // to every filtered search)
      val bare = emb.select("vec_id", "embedding")
      intercept[IllegalArgumentException](
        Similarity.appendIvfPqIndex(spark, idx, bare, "vec_id", "embedding"))
      intercept[IllegalArgumentException](
        Similarity.ingestIvfPqBatch(spark, idx, bare, "vec_id",
          "embedding", 0L))
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("pcaComponents: orthonormal, eigenvalues descend, r=1 equals the top-component probe, and explained shares stay bounded") {
    val pc = Similarity.pcaComponents(emb, "embedding", k = 16, r = 4)
      .collect()
    val byComp = pc.groupBy(_.getInt(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toArray).toMap
    assert(byComp.size == 4)
    // unit norms + pairwise orthogonality
    for (p <- 0 until 4) {
      val v = byComp(p)
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, s"comp $p norm")
      for (q2 <- p + 1 until 4) {
        val dot = v.zip(byComp(q2)).map { case (a, b) => a * b }.sum
        assert(math.abs(dot) < 1e-6, s"components $p,$q2 dot $dot")
      }
    }
    // eigenvalues non-increasing; explained/cumulative bounded
    val lams = (0 until 4).map(p2 =>
      pc.find(_.getInt(0) == p2).get.getDouble(3))
    assert(lams.sliding(2).forall(w => w(0) >= w(1) - 1e-9), lams.toString)
    val cums = pc.map(_.getDouble(5))
    assert(cums.forall(c => c > 0 && c <= 1.000001))
    // r=1 reproduces pcaTopComponent exactly (same start, same math)
    val top = Similarity.pcaTopComponent(emb, "embedding", k = 16)
      .orderBy("pos").collect().map(_.getDouble(1))
    val c0 = byComp(0)
    assert(top.zip(c0).forall { case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("abttWhiten: output differs from centering by a rank-r subspace it is orthogonal to; r=0 is pure centering; bad vectors raise naming the id") {
    import sqlContext.implicits._
    val dim = 64
    val r = 2
    // NOTE on method: the removed BASIS cannot be recomputed and
    // compared vector-level — the 1-row stats aggregation merges
    // partials in task-completion order, so round-6 covariance entries
    // can flip a last digit between runs and eigenVECTORS rotate freely
    // inside small-gap eigenspaces (measured: ~0.03 vector drift while
    // the removed SUBSPACE stays put). So pin the basis-free algebra:
    // for every row, (centered − whitened) must lie in ONE shared
    // subspace of rank ≤ r, and the whitened vector must be orthogonal
    // to that subspace — true for exactly the affine projection
    // P·(v − μ) and nothing weaker. The registered key owns the
    // top-variance-ness of the removed subspace (tolerant invariants).
    val (_, mean, _) = Similarity.gramStats(emb, "embedding", dim)
    val rows = Similarity.abttWhiten(emb, "vec_id", "embedding", dim, r)
      .join(emb.select(col("vec_id").as("id"), col("embedding")), Seq("id"))
      .limit(30).collect()
    // Gram-Schmidt over the per-row removed components: the basis must
    // not exceed r directions (mean round-6 drift adds ~1e-6 noise per
    // component — keep the independence threshold well above it)
    val basis = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def proj(v: Array[Double]): Array[Double] = {
      var acc = v.clone()
      basis.foreach { b =>
        val d0 = acc.zip(b).map { case (a, b2) => a * b2 }.sum
        acc = acc.zip(b).map { case (a, b2) => a - d0 * b2 }
      }
      acc
    }
    val pairs = rows.map { row =>
      val x = row.getSeq[Float](2).map(_.toDouble).toArray
      val got = row.getSeq[Double](1).toArray
      val removed = Array.tabulate(dim)(i => x(i) - mean(i) - got(i))
      (got, removed)
    }
    pairs.foreach { case (_, removed) =>
      val res = proj(removed)
      val n = math.sqrt(res.map(v => v * v).sum)
      if (n > 1e-4) basis += res.map(_ / n) // genuinely new direction
    }
    assert(basis.size <= r,
      s"removed components span ${basis.size} directions — more than " +
        s"the $r the operator claims to project out")
    // every whitened vector is orthogonal to the removed subspace
    pairs.foreach { case (got, _) =>
      basis.foreach { b =>
        val d0 = got.zip(b).map { case (a, b2) => a * b2 }.sum
        assert(math.abs(d0) < 1e-4, s"whitened vector has residual $d0 " +
          "along a removed direction")
      }
    }
    // r = 0: pure mean-centering (tolerance covers a round-6 flip
    // between this mean read and the operator's own)
    val c0 = Similarity.abttWhiten(emb, "vec_id", "embedding",
      dim, 0).join(emb.select(col("vec_id").as("id"), col("embedding")),
      Seq("id")).limit(5).collect()
    c0.foreach { row =>
      val x = row.getSeq[Float](2).map(_.toDouble).toArray
      val got = row.getSeq[Double](1).toArray
      got.indices.foreach(i =>
        assert(math.abs(got(i) - (x(i) - mean(i))) < 5e-6))
    }
    // wrong-width vectors raise loudly NAMING THE OPERATOR: an
    // UNDER-width vector dies in the stats pass (caller-parameterized
    // diagnostic, no id available there); an OVER-width one survives
    // stats (first d dims) and must hit the per-row kernel guard
    // naming the offending id
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
    val short = Seq((99999L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val exShort = intercept[Exception](Similarity.abttWhiten(
      emb.select(col("vec_id"), col("embedding"))
        .unionByName(short), "vec_id", "embedding", dim, r).collect())
    assert(chain(exShort).exists(_.contains("abttWhiten")),
      chain(exShort).mkString(" | "))
    val long = Seq((99999L, Array.fill(dim + 8)(1.0f)))
      .toDF("vec_id", "embedding")
    val exLong = intercept[Exception](Similarity.abttWhiten(
      emb.select(col("vec_id"), col("embedding"))
        .unionByName(long), "vec_id", "embedding", dim, r).collect())
    assert(chain(exLong).exists(m => m.contains("abttWhiten") &&
      m.contains("99999")), chain(exLong).mkString(" | "))
  }

  test("gramCovariance cross-validates covarianceMatrix, and the Jacobi eigenbasis reconstructs it") {
    val k = 8
    val viaAgg = Similarity.gramCovariance(emb, "embedding", k)
    val viaCov = {
      val c = Array.ofDim[Double](k, k)
      Similarity.covarianceMatrix(emb, "embedding", k).collect().foreach {
        r => c(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
             c(r.getInt(1))(r.getInt(0)) = r.getDouble(2) }
      c
    }
    // two independent implementations (per-pair covar_pop vs one flat
    // buffer); both round to 6 decimals — allow one last-digit flip from
    // accumulation order
    for (i <- 0 until k; j <- 0 until k)
      assert(math.abs(viaAgg(i)(j) - viaCov(i)(j)) <= 2e-6,
        s"cov($i,$j): ${viaAgg(i)(j)} vs ${viaCov(i)(j)}")
    val (lam, v) = Similarity.jacobiEigen(viaAgg)
    // V diag(lam) V^T == C within tolerance, and V orthonormal
    for (i <- 0 until k; j <- 0 until k) {
      var s = 0.0; var t = 0.0
      for (p <- 0 until k) { s += v(i)(p) * lam(p) * v(j)(p); t += v(i)(p) * v(j)(p) }
      assert(math.abs(s - viaAgg(i)(j)) < 1e-8, s"reconstruct($i,$j)")
      assert(math.abs(t - (if (i == j) 1.0 else 0.0)) < 1e-10, s"orth($i,$j)")
    }
  }

  test("MatVec kernel matches the scala reference, and the OPQ rotation preserves dot products and subspace structure") {
    import sqlContext.implicits._
    import org.apache.spark.sql.functions.{col => fcol}
    val dim = 64
    val m = 16
    val cU = emb.select(fcol("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(fcol("embedding")).as("n_v"))
    val r = Similarity.opqRotation(cU, "n_v", dim, m)
    assert(r.length == dim * dim)
    // kernel vs driver-side reference on real vectors
    val rLit = org.apache.spark.sql.graftshim.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        r.toSeq, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)))
    val rows = cU.limit(20)
      .withColumn("rot", graft.plans.MatVec.matVecCol(rLit, fcol("n_v")))
      .select("n_v", "rot").collect()
    rows.foreach { row =>
      val x = row.getSeq[Double](0).toArray
      val y = row.getSeq[Double](1).toArray
      val exp = Array.tabulate(dim)(i =>
        (0 until dim).map(j => r(i * dim + j) * x(j)).sum)
      y.zip(exp).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12) }
      // orthonormal rotation preserves norms (hence all dot products)
      assert(math.abs(y.map(v2 => v2 * v2).sum - x.map(v2 => v2 * v2).sum)
        < 1e-9)
    }
    // NULL propagates; a torn constant throws loudly
    val nullRow = Seq((1L, null: Array[Double])).toDF("n_id", "n_v")
      .withColumn("rot", graft.plans.MatVec.matVecCol(rLit, fcol("n_v")))
    assert(nullRow.select("rot").head().isNullAt(0))
    intercept[Exception] {
      Seq((1L, Array(1.0, 2.0, 3.0))).toDF("n_id", "n_v")
        .withColumn("rot", graft.plans.MatVec.matVecCol(rLit, fcol("n_v")))
        .collect()
    }
    // OPQ recall on the fixture clears the plain-PQ floor
    val q = emb.filter(fcol("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10).select("q_id", "n_id").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    val opq = Similarity.pqTopKOpq(emb, "vec_id", "embedding", q,
      "vec_id", "embedding", k = 10, shortlist = 80, dim = dim, m = 16,
      ksub = 64, iters = 3, rotation = Some(r))
    val got = opq.select("q_id", "n_id", "cos").collect()
    val hits = got.count(row => exact.contains((row.getLong(0), row.getLong(1))))
    assert(hits >= 80, s"OPQ recall too low: $hits/100")
    // the output cosine is the ORIGINAL-space cosine (rotation preserves
    // dots): compare against the exact twin's cos for overlapping pairs
    val exactCos = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      q, "vec_id", "embedding", k = 10).select("q_id", "n_id", "cos")
      .collect().map(row =>
        (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
    got.foreach { row =>
      exactCos.get((row.getLong(0), row.getLong(1))).foreach { c0 =>
        assert(math.abs(row.getDouble(2) - c0) < 1e-5) }
    }
  }

  test("stored OPQ index: exhaustive search is exact, the rotation rides every grow path and the sweep, and health audits it") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-opq").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val q = emb.filter(col("vec_id") < 3)
      val deep = emb.count().toInt + 1
      // build on half the corpus, grow with the other half through BOTH
      // verbs — arrivals must rotate against the STORED matrix
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 4 < 2),
        "vec_id", "embedding", idx, nLists = 4, lloydIters = 1, m = 8,
        ksub = 16, pqIters = 1, opq = true)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/rotation.parquet")))
      Similarity.appendIvfPqIndex(spark, idx,
        emb.filter(col("vec_id") % 4 === 2), "vec_id", "embedding")
      Similarity.ingestIvfPqBatch(spark, idx,
        emb.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", 0L)
      // exhaustive probes + shortlist past the corpus: the ADC cut
      // cannot drop anyone, the re-rank is exact in the ORIGINAL space,
      // so the search equals the brute force exactly — which also
      // proves every grow path rotated consistently (an unrotated
      // append would still be scanned and re-ranked correctly here, so
      // additionally pin the ADC geometry below)
      def flat(df: org.apache.spark.sql.DataFrame) =
        df.select("q_id", "n_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val exact = flat(Similarity.bruteForceTopK(emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 5))
      val got = flat(Similarity.ivfPqStoredTopK(spark, idx, emb,
        "vec_id", "embedding", q, "vec_id", "embedding", k = 5,
        shortlist = deep, nProbe = 4))
      assert(got == exact,
        "exhaustive stored-OPQ search must equal the brute force")
      // ADC geometry: at a TIGHT shortlist the quantizer must still
      // surface each query's own id at the top (self-similarity = 1 is
      // quantization-error-tolerant ONLY if arrivals were rotated —
      // unrotated codes for a rotated query score near-random)
      val tight = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
        "embedding", q, "vec_id", "embedding", k = 1, shortlist = 2,
        nProbe = 4).collect()
      assert(tight.forall(r => r.getLong(0) == r.getLong(1)),
        "self must top the tight-shortlist ADC ranking for every query " +
          "(build-half AND both grow-path halves)")
      // the probe sweep rotates queries the same way: max budget equals
      // the stored search
      val sweepMax = Similarity.ivfPqStoredProbeSweep(spark, idx, emb,
        "vec_id", "embedding", q, "vec_id", "embedding", k = 5,
        shortlist = deep, probes = Seq(1, 4))
        .filter(col("n_probe") === 4)
      assert(flat(sweepMax) == exact)
      // health audits the rotation: clean here...
      val h = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h.getAs[Long]("bad_rotation") == 0L)
      // ...torn table -> bad (overwrite with a wrong-width garbage row)
      import sqlContext.implicits._
      Seq((0, Array(1.0, 2.0))).toDF("pos", "row")
        .write.mode("overwrite").parquet(s"$idx/rotation.parquet")
      assert(Similarity.ivfPqIndexHealth(spark, idx).head()
        .getAs[Long]("bad_rotation") == 1L)
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("ivfPqStoredProbeSweepFiltered: one-scan filtered curve equals ivfPqStoredTopKFiltered run per budget, exactly — plain, residual, and OPQ") {
    val q = emb.filter(col("vec_id") < 4)
    val w = col("label") % 2 === 0
    val probes = Seq(1, 2, 4)
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // plain + the two production-shaped variants the filter composes
    // with: the residual q·c join shape and the OPQ query rotation
    for ((residual, opq) <- Seq((false, false), (true, false),
        (false, true))) {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-fsw-$residual-$opq").toString
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
          nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
          residual = residual, payload = Seq("label"), opq = opq)
        val sweep = Similarity.ivfPqStoredProbeSweepFiltered(spark, idx,
          emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 3,
          shortlist = 20, probes = probes, where = w).localCheckpoint()
        probes.foreach { p =>
          val per = flat(Similarity.ivfPqStoredTopKFiltered(spark, idx,
            emb, "vec_id", "embedding", q, "vec_id", "embedding", k = 3,
            shortlist = 20, where = w, nProbe = p))
          assert(flat(sweep.filter(col("n_probe") === p)) == per,
            s"residual=$residual opq=$opq budget $p: sweep slice must " +
              "equal the per-budget filtered search")
        }
        // eligibility holds across every budget
        val labels = sweep.join(emb.select(col("vec_id").as("n_id"),
          col("label")), Seq("n_id")).select("label").collect()
          .map(_.getInt(0))
        assert(labels.forall(_ % 2 == 0), s"residual=$residual opq=$opq")
      } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    }
  }

  test("a rotation table on a NON-OPQ artifact is flagged as foreign debris") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-rot").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      assert(Similarity.ivfPqIndexHealth(spark, idx).head()
        .getAs[Long]("bad_rotation") == 0L)
      import sqlContext.implicits._
      Seq((0, Array(1.0))).toDF("pos", "row")
        .write.mode("overwrite").parquet(s"$idx/rotation.parquet")
      assert(Similarity.ivfPqIndexHealth(spark, idx).head()
        .getAs[Long]("bad_rotation") == 1L)
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("the flat centroid constant ships ONCE: both plan occurrences (kernel child + cv recovery) share one value object") {
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val cents = Similarity.kmeansCentroids(c, "n_id", "n_v", 4, 1,
      assumeUnit = true)
    val out = Similarity.assignCellsRanked(c, "n_id", "n_v", cents, 2)
      .select("n_id", "cell", "probe_rank", "cv") // cv consumed: the
    // slice recovery survives pruning, so BOTH occurrences are in play
    val lits = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.catalyst.expressions.Literal]
    out.queryExecution.executedPlan.foreach(p =>
      p.expressions.foreach(_.foreach {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
              l.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
                .elementType == org.apache.spark.sql.types.DoubleType =>
          lits += l
        case _ => ()
      }))
    assert(lits.size >= 2,
      s"expected the centroid constant at the kernel AND the cv-recovery " +
        s"site, found ${lits.size} array<double> literal occurrence(s)")
    assert(lits.forall(l => l.value.asInstanceOf[AnyRef] eq
      lits.head.value.asInstanceOf[AnyRef]),
      "every occurrence of the flat centroid constant must share ONE " +
        "value object — a second typedlit would double the shipped plan " +
        "constant at production nLists×dim")
  }

  test("pre-epoch artifacts fail meta readers with a clear rebuild-required message, not a missing-field error") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-old").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      // regress meta to the pre-r18 shape: the residual flag only
      Similarity.localFrame(spark,
        Array(org.apache.spark.sql.Row(false)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("residual",
            org.apache.spark.sql.types.BooleanType))))
        .write.mode("overwrite").parquet(s"$idx/meta.parquet")
      val ex = intercept[IllegalStateException](
        Similarity.appendIvfPqIndex(spark, idx, emb.limit(1), "vec_id",
          "embedding"))
      assert(ex.getMessage.contains("pre-epoch") &&
        ex.getMessage.contains("rebuild required"), ex.getMessage)
      val ex2 = intercept[IllegalStateException](
        Similarity.ivfPqIndexHealth(spark, idx))
      assert(ex2.getMessage.contains("pre-epoch"), ex2.getMessage)
      // a rebuild over the degraded artifact restores the full record
      // (nextIvfPqEpoch tolerates the missing column and restarts at 1)
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      assert(Similarity.readIvfPqEpoch(spark, idx) == 1L)
      assert(Similarity.ivfPqIndexHealth(spark, idx).head()
        .getAs[Long]("bad_codebook") == 0L)
      // a codec this engine does not know is a rebuild, not a guess
      val metaDf = spark.read.parquet(s"$idx/meta.parquet")
      Similarity.localFrame(spark, metaDf.collect(), metaDf.schema)
        .withColumn("codec", lit("opq4"))
        .write.mode("overwrite").parquet(s"$idx/meta.parquet")
      val ex3 = intercept[IllegalStateException](
        Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id", "embedding",
          emb.limit(1), "vec_id", "embedding", k = 1, shortlist = 1))
      assert(ex3.getMessage.contains("codec 'opq4'") &&
        ex3.getMessage.contains("rebuild required"), ex3.getMessage)
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    // the layouts that predate the publish record entirely: plain IVF
    // (centroids + assigned) and flat PQ (codebooks + codes), no meta
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val cents = Similarity.kmeansCentroids(c, "n_id", "n_v", k = 4,
      assumeUnit = true)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 8,
      ksub = 16, iters = 1)
    Seq(
      "ivf" -> Seq("centroids" -> cents,
        "assigned" -> Similarity.assignCell(c, "n_id", "n_v", cents)),
      "pq" -> Seq("codebooks" -> cbs, "codes" -> Similarity.pqEncode(
        emb, "vec_id", "embedding", cbs))).foreach { case (kind, tables) =>
      val old = java.nio.file.Files.createTempDirectory(s"graft-old-$kind")
        .toString
      try {
        tables.foreach { case (name, df) =>
          df.write.parquet(s"$old/$name.parquet") }
        Seq[() => Any](
          () => Similarity.annIvfStored(spark, old, emb.limit(1), "vec_id",
            "embedding", k = 1),
          () => Similarity.ivfPqStoredTopK(spark, old, emb, "vec_id",
            "embedding", emb.limit(1), "vec_id", "embedding", k = 1,
            shortlist = 1),
          () => Similarity.appendIvfPqIndex(spark, old, emb.limit(1),
            "vec_id", "embedding"),
          () => Similarity.ivfPqIndexHealth(spark, old)).foreach { f =>
          val ex = intercept[IllegalStateException](f())
          assert(ex.getMessage.contains("rebuild required") &&
            ex.getMessage.contains("no meta.parquet"), s"$kind: ${ex.getMessage}")
        }
      } finally fs.delete(new org.apache.hadoop.fs.Path(old), true)
    }
  }

  test("pqStoredShortlistSweep: one-scan curve equals pqTopKStored run per cut, exactly") {
    val idx = java.nio.file.Files.createTempDirectory("graft-pq-swp").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val q = emb.filter(col("vec_id") < 5)
      writeFlatPq(idx)
      val cuts = Seq(3, 5, 9)
      val sweep = Similarity.pqStoredShortlistSweep(spark, idx, emb,
          "vec_id", "embedding", q, "vec_id", "embedding", k = 3,
          shortlists = cuts)
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getDouble(4)))
        .groupBy(_._1)
      // per cut: the flat artifact's one-cell stored search (the former
      // pqTopKStored)
      cuts.foreach { sl =>
        val single = Similarity.ivfPqStoredTopK(spark, idx, emb, "vec_id",
            "embedding", q, "vec_id", "embedding", k = 3, shortlist = sl,
            nProbe = 1)
          .collect()
          .map(r => (sl, r.getLong(0), r.getLong(1), r.getInt(2),
            r.getDouble(3))).toSet
        assert(sweep(sl).toSet == single,
          s"sweep cut $sl diverges from the one-cell ivfPqStoredTopK")
      }
      intercept[IllegalArgumentException](
        Similarity.pqStoredShortlistSweep(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlists = Seq(2)))
      intercept[IllegalArgumentException](
        Similarity.pqStoredShortlistSweep(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlists = Nil))
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("ivfPqStoredProbeSweep: one-scan curve equals ivfPqStoredTopK run per probe budget, exactly — plain and residual") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-psw").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val q = emb.filter(col("vec_id") < 5)
      Seq(false, true).foreach { res =>
        Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
          nLists = 8, lloydIters = 1, m = 8, ksub = 16, pqIters = 1,
          residual = res)
        val budgets = Seq(1, 2, 4, 8)
        val sweep = Similarity.ivfPqStoredProbeSweep(spark, idx, emb,
            "vec_id", "embedding", q, "vec_id", "embedding", k = 3,
            shortlist = 6, probes = budgets)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getDouble(4)))
          .groupBy(_._1)
        budgets.foreach { p =>
          val single = Similarity.ivfPqStoredTopK(spark, idx, emb,
              "vec_id", "embedding", q, "vec_id", "embedding", k = 3,
              shortlist = 6, nProbe = p)
            .collect()
            .map(r => (p, r.getLong(0), r.getLong(1), r.getInt(2),
              r.getDouble(3))).toSet
          assert(sweep(p).toSet == single,
            s"probe sweep (residual=$res) diverges at nProbe=$p")
        }
      }
      intercept[IllegalArgumentException](
        Similarity.ivfPqStoredProbeSweep(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 6,
          probes = Nil))
      intercept[IllegalArgumentException](
        Similarity.ivfPqStoredProbeSweep(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 6,
          probes = Seq(0, 2)))
      intercept[IllegalArgumentException](
        Similarity.ivfPqStoredProbeSweep(spark, idx, emb, "vec_id",
          "embedding", q, "vec_id", "embedding", k = 3, shortlist = 2,
          probes = Seq(2)))
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }

  test("nearest-cells kernel: zero-shuffle assignment equals the window twin exactly — fixture, ties, NaN; NULL vectors drop") {
    import org.apache.spark.sql.functions.broadcast
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val centroids = Similarity.kmeansCentroids(c, "n_id", "n_v", k = 8,
      iters = 1, assumeUnit = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("n_id", "probe_rank", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Seq(1, 3, 8, 20).foreach { p =>
      val kern = Similarity.assignCellsRanked(c, "n_id", "n_v", centroids, p)
      val win = Similarity.assignCellsWindowRanked(c, "n_id", "n_v",
        centroids, p)
      assert(rows(kern) == rows(win), s"kernel != window twin at p=$p")
      // and the kernel's cv recovery matches the window's joined cv
      val cvK = kern.filter(col("probe_rank") === 1)
        .select("n_id", "cv").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      val cvW = win.filter(col("probe_rank") === 1)
        .select("n_id", "cv").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      assert(cvK == cvW, s"cv recovery diverges at p=$p")
    }
    // the scale claim: assignment is projection-only — no exchange, no
    // join, no sort anywhere in the plan
    val plan = Similarity.assignCellsRanked(c, "n_id", "n_v", centroids,
      p = 4).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"), plan)
    // exact ties: two centroids with identical vectors — both paths must
    // rank the SMALLER cell id first
    val dupCents = Similarity.localFrame(spark, Array(
        org.apache.spark.sql.Row(7L, Seq(0.6, 0.8)),
        org.apache.spark.sql.Row(3L, Seq(0.6, 0.8)),
        org.apache.spark.sql.Row(9L, Seq(-1.0, 0.0))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    import sqlContext.implicits._
    val one = Seq((1L, Seq(0.6, 0.8))).toDF("n_id", "n_v")
    val kT = Similarity.assignCellsRanked(one, "n_id", "n_v", dupCents, 2)
      .orderBy("probe_rank").select("cell").collect().map(_.getLong(0)).toSeq
    val wT = Similarity.assignCellsWindowRanked(one, "n_id", "n_v",
        broadcast(dupCents), 2)
      .orderBy("probe_rank").select("cell").collect().map(_.getLong(0)).toSeq
    assert(kT == Seq(3L, 7L) && wT == kT, s"tie-break: kernel $kT window $wT")
    // NaN vector: Spark orders NaN ABOVE everything — both paths tie all
    // cells and fall to the cell-id tie-break
    val nan = Seq((1L, Seq(Double.NaN, 1.0))).toDF("n_id", "n_v")
    val kN = Similarity.assignCellsRanked(nan, "n_id", "n_v", dupCents, 2)
      .orderBy("probe_rank").select("cell").collect().map(_.getLong(0)).toSeq
    val wN = Similarity.assignCellsWindowRanked(nan, "n_id", "n_v",
        broadcast(dupCents), 2)
      .orderBy("probe_rank").select("cell").collect().map(_.getLong(0)).toSeq
    assert(kN == wN && kN == Seq(3L, 7L), s"NaN: kernel $kN window $wN")
    // deliberate divergence, pinned as the NEW contract: a NULL vector
    // FAILS LOUDLY with the offending id (the window path buried it in
    // arbitrary cells through NULL ordering; silently dropping it would
    // be an invisible coverage hole in every index build)
    val withNull = Seq((1L, Option(Seq(0.6, 0.8))), (2L, None))
      .toDF("n_id", "n_v")
    val exN = intercept[Exception](
      Similarity.assignCellsRanked(withNull, "n_id", "n_v", dupCents, 1)
        .collect())
    def chainN(t: Throwable): Seq[String] =
      if (t == null) Nil else String.valueOf(t.getMessage) +: chainN(t.getCause)
    assert(chainN(exN).exists(m => m.contains("NULL vector") &&
      m.contains("2")), chainN(exN).mkString(" | "))
    // and a re-fed assignment dump is rejected, not silently clobbered
    val exC = intercept[IllegalArgumentException](
      Similarity.assignCellsRanked(
        Similarity.assignCellsRanked(one, "n_id", "n_v", dupCents, 1),
        "n_id", "n_v", dupCents, 1))
    assert(exC.getMessage.contains("assignment dump"), exC.getMessage)
  }

  test("annIvfProbeSweep: one-scan curve equals annIvfWithIndex run per budget, exactly; monotone by theorem") {
    val c = emb.select(col("vec_id").as("n_id"),
      graft.functions.VectorFns.unitizeNative(col("embedding")).as("n_v"))
    val centroids = Similarity.kmeansCentroids(c, "n_id", "n_v", k = 8,
      iters = 1, assumeUnit = true)
    val assigned = Similarity.assignCell(c, "n_id", "n_v", centroids)
      .select("n_id", "n_v", "cell")
    val q = emb.filter(col("vec_id") < 5)
    val budgets = Seq(1, 2, 4, 8)
    val sweep = Similarity.annIvfProbeSweep(centroids, assigned, q,
        "vec_id", "embedding", k = 4, probes = budgets)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
      .groupBy(_._1)
    budgets.foreach { p =>
      val single = Similarity.annIvfWithIndex(centroids, assigned, q,
          "vec_id", "embedding", k = 4, nProbe = p)
        .collect()
        .map(r => (p, r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3)))
        .map(t => (t._1, t._2, t._3, t._5, t._4)).toSet
      assert(sweep(p).toSet == single, s"probe sweep diverges at p=$p")
    }
    // exact scoring makes recall monotone in nProbe — a theorem here,
    // unlike the PQ sweeps (more cells only add exactly-scored
    // candidates, and a true top-k member always survives)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q,
        "vec_id", "embedding", k = 4)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = budgets.map(p =>
      sweep(p).count(t => exact.contains((t._2, t._3))))
    assert(hits == hits.sorted, s"monotone recall violated: $hits")
    intercept[IllegalArgumentException](
      Similarity.annIvfProbeSweep(centroids, assigned, q, "vec_id",
        "embedding", k = 4, probes = Nil))
  }

  test("ivfPqIndexHealth: a truncated codebook is reported as bad_codebook, not silently absorbed into the bad_codes bounds") {
    val idx = java.nio.file.Files.createTempDirectory("graft-ivfpq-bcb").toString
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding", idx,
        nLists = 4, lloydIters = 1, m = 8, ksub = 16, pqIters = 1)
      val h0 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h0.getAs[Long]("bad_codebook") == 0L)
      assert(h0.getAs[Long]("bad_codes") == 0L)
      // truncate the codebooks table: codes 8..15 vanish. Pre-fix, m/ksub
      // were INFERRED from this very table, so ksub looked like 8 and
      // every structurally-valid index row with a code >= 8 was flagged
      // bad while the codebook damage itself stayed invisible.
      val cbPath = s"$idx/codebooks.parquet"
      val truncated = Similarity.localFrame(spark,
        spark.read.parquet(cbPath).filter(col("code") < 8).collect(),
        spark.read.parquet(cbPath).schema)
      truncated.write.mode("overwrite").parquet(cbPath)
      val h1 = Similarity.ivfPqIndexHealth(spark, idx).head()
      assert(h1.getAs[Long]("bad_codebook") == 1L,
        "codebook truncation must surface as bad_codebook")
      assert(h1.getAs[Long]("bad_codes") == 0L,
        "meta-sourced bounds: valid index rows must NOT be flagged")
    } finally fs.delete(new org.apache.hadoop.fs.Path(idx), true)
  }
}
