package graft

import org.apache.spark.sql.functions._
import graft.plans.WinnowMinima

/** Native WinnowMinima expression vs the interpreted HOF reference chain
  * (`winnowFromGrams(kgramHashes)`): identical arrays — values AND
  * first-occurrence order — on every edge the selection contract has, so
  * swapping the production path onto the expression provably changes no
  * consumer's output (the oracle SQL stays byte-for-byte valid). */
class WinnowMinimaSpec extends SparkSpec {
  import sqlContext.implicits._

  /** HOF reference path, exactly as production ran it before the native
    * expression: gram array PROJECTED between the two transforms. */
  private def refMinima(k: Int, w: Int) = {
    val df = col("t")
    ReferenceTwins.winnowFromGrams(ReferenceTwins.kgramHashes(df, k), w)
  }

  private val edges = Seq(
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaaaa",          // all-equal grams: min ties everywhere
    "abcd",                             // exactly k for k=4
    "abcde",                            // one complete window short of w
    "ab cd ef gh ij kl mn op qr st uv", // spaces inside grams
    "émile café naïve žluťoučký kůň",   // multi-byte UTF-8 char offsets
    "日本語のテキストを含む文書です、長さも十分",  // 3-byte chars
    "mixed ascii と日本語 boundaries",   // byte-width transitions mid-gram
    "x" * 500 + "unique tail content here", // long run then entropy
    ("lorem ipsum dolor sit amet " * 40) + "consectetur adipiscing"
  )

  test("expression ≡ HOF reference: values and order, across (k, w) widths and edges") {
    for (k <- Seq(2, 4, 16); w <- Seq(1, 2, 8)) {
      val df = edges.filter(_.length >= k).map(Tuple1(_)).toDF("t")
      val got = df.select(WinnowMinima.minima(col("t"), k, w)).as[Seq[String]].collect()
      val ref = df.select(refMinima(k, w)).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"k=$k w=$w")
    }
  }

  test("expression ≡ HOF reference on random ASCII + unicode text (property sweep)") {
    val rnd = new scala.util.Random(42)
    val alphabets = Seq("ab", "abc xyz", "abcdefgh ", "aé日b ")
    val docs = (1 to 60).map { i =>
      val alpha = alphabets(i % alphabets.size)
      val n = 4 + rnd.nextInt(300)
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }
    val df = docs.filter(_.length >= 4).map(Tuple1(_)).toDF("t")
    val got = df.select(WinnowMinima.minima(col("t"), 4, 5)).as[Seq[String]].collect()
    val ref = df.select(refMinima(4, 5)).as[Seq[String]].collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("per-WINDOW selection guarantee: a shared span ≥ w+k−1 chars yields a shared fingerprint at ANY offset") {
    val span = "THE-COPIED-SPAN-IS-THIS-EXACT-TEXT" // 34 chars ≥ w+k−1 = 10
    val k = 4
    val w = 7
    val a = "left context before " + span + " and after"
    val bs = (0 to 6).map(pad => ("q" * pad) + span + " different tail entirely")
    val fa = spark.createDataset(Seq(a)).toDF("t")
      .select(explode(WinnowMinima.minima(col("t"), k, w)).as("h"))
      .as[String].collect().toSet
    bs.foreach { b =>
      val fb = spark.createDataset(Seq(b)).toDF("t")
        .select(explode(WinnowMinima.minima(col("t"), k, w)).as("h"))
        .as[String].collect().toSet
      assert(fa.intersect(fb).nonEmpty, s"no shared fingerprint for offset pad in: $b")
    }
  }

  test("w=1 is the distinct gram set in first-occurrence order (the substringExtent gram table)") {
    val df = Seq("abab", "aaaa", "abcdab").map(Tuple1(_)).toDF("t")
    val got = df.select(WinnowMinima.minima(col("t"), 2, 1)).as[Seq[String]].collect()
    val ref = df.select(array_distinct(ReferenceTwins.kgramHashes(col("t"), 2))).as[Seq[String]].collect()
    assert(got.toSeq == ref.toSeq)
  }

  test("KgramHashes ≡ HOF reference: positional gram arrays identical across widths and edges") {
    for (k <- Seq(2, 4, 16)) {
      val df = edges.filter(_.length >= k).map(Tuple1(_)).toDF("t")
      val got = df.select(graft.plans.KgramHashes.grams(col("t"), k))
        .as[Seq[String]].collect()
      val ref = df.select(ReferenceTwins.kgramHashes(col("t"), k)).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"k=$k")
    }
    // short/NULL edges: empty array below k, NULL through
    val df = Seq(Some("abc"), None).map(Tuple1(_)).toDF("t")
    val got = df.select(graft.plans.KgramHashes.grams(col("t"), 4).as("m")).collect()
    assert(got(0).getSeq[String](0) == Seq.empty)
    assert(got(1).isNullAt(0))
  }

  test("documented divergence + nulls: doc shorter than k → empty array; NULL → NULL") {
    val df = Seq(Some("abc"), None, Some("")).map(Tuple1(_)).toDF("t")
    val got = df.select(WinnowMinima.minima(col("t"), 4, 2).as("m")).collect()
    assert(got(0).getSeq[String](0) == Seq.empty)
    assert(got(1).isNullAt(0))
    assert(got(2).getSeq[String](0) == Seq.empty)
  }

  test("CappedSortedList: sorted list ≤ cap, NULL beyond it, nulls counted once, partition-merge safe") {
    import graft.plans.CappedSortedList.cappedSortedList
    // force multi-partition input so mergeExpressions is exercised
    val rows = Seq(
      ("a", Some(3L)), ("a", Some(1L)), ("a", Some(2L)),       // 3 ≤ cap
      ("b", Some(1L)), ("b", Some(2L)), ("b", Some(3L)), ("b", Some(4L)), // 4 > cap
      ("c", Some(9L)), ("c", None), ("c", Some(7L)),            // null COUNTS
      ("d", None),                                               // only nulls
      // SQL-DISTINCT null semantics: three null rows collapse to ONE df
      // count (they land in different partitions, so the merge-side
      // double-count subtraction is exercised too): count 3 ≤ cap 3
      ("e", Some(5L)), ("e", Some(6L)), ("e", None), ("e", None), ("e", None))
    val df = spark.createDataset(rows).repartition(4).toDF("h", "id")
    val got = df.groupBy("h").agg(cappedSortedList(col("id"), 3).as("ids"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got("a") == Seq(1L, 2L, 3L))
    assert(got("b") == null, "over-cap group must collapse to NULL")
    // cap 3, three rows (one null): count 3 ≤ cap, list holds the 2 non-nulls
    assert(got("c") == Seq(7L, 9L))
    assert(got("d") == Seq.empty)
    // 2 non-null + 3 nulls-counted-once = 3 ≤ cap: survives with both ids
    assert(got("e") == Seq(5L, 6L),
      "duplicate nulls must count once (oracle DISTINCT collapse)")
  }

  test("codegen and interpreted paths agree (doGenCode static call vs nullSafeEval)") {
    import org.apache.spark.sql.graftshim.Bridge
    val e = WinnowMinima(Bridge.expression(col("t")), 4, 3)
    // interpreted eval directly
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("winnowing codegen parity check")
    val interp = WinnowMinima(
      org.apache.spark.sql.catalyst.expressions.Literal(s,
        org.apache.spark.sql.types.StringType), 4, 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType).map(_.toString).toSeq
    // through the planner (whole-stage codegen on by default)
    val viaPlan = spark.createDataset(Seq("winnowing codegen parity check")).toDF("t")
      .select(WinnowMinima.minima(col("t"), 4, 3)).as[Seq[String]].collect().head
    assert(interp == viaPlan)
  }
}
