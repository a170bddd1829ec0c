package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns
import graft.operators.{Similarity, TextAnalysis}

/** The interpreted reference implementations the native kernels are
  * pinned against. Each is an independently derived second path — the
  * parity specs compare the production expression with it — and none is
  * ever on a production path: they are orders of magnitude slower than
  * the kernels they check.
  */
object ReferenceTwins {

  // ------------------------------------------- winnowing (WinnowMinima)

  /** md5 of every k-char gram, as an interpreted `transform`. The gram
    * array MUST be a projected column before [[winnowFromGrams]] reads
    * it: a higher-order lambda re-evaluates its whole argument subtree per
    * element, so inlining this inside `slice` recomputes every md5 once
    * PER WINDOW — O(n²) hashing per document. */
  def kgramHashes(textCol: Column, k: Int): Column =
    transform(
      sequence(lit(0), (length(textCol) - k).cast("int")),
      i => md5(textCol.substr(i + 1, lit(k))))

  /** Distinct winnowing minima over a MATERIALIZED gram-hash array column
    * (complete windows only; a doc with fewer than `w` grams keeps its
    * single truncated window rather than vanishing). */
  def winnowFromGrams(gramsCol: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(gramsCol) - w, lit(0))),
      s => array_min(slice(gramsCol, s + 1, lit(w)))))

  // ---------------------------------------------- shingles (WordShingles)

  /** JVM-loop word n-gram shingles: an empty array below n tokens AND for
    * NULL text (the native expression returns NULL there). */
  def shinglesUdf(n: Int) = udf { (text: String) =>
    if (text == null) Array.empty[String]
    else {
      val t = text.split(" ", -1)
      if (t.length < n) Array.empty[String]
      else Array.tabulate(t.length - n + 1)(i => t.slice(i, i + n).mkString(" "))
    }
  }

  // ------------------------------------------------ product quantization

  /** The m×ksub×dsub codebook as one nested-array literal. */
  private def cbLiteral(cb: Array[Array[Array[Double]]]): Column =
    array(cb.map(sub => array(sub.map(cw =>
      array(cw.map(lit): _*)): _*)): _*)

  /** Argmin over the codeword array: fold (bestCode, bestDist) over
    * codeword indices; strict `<` keeps the earliest (= smallest code) on
    * exact ties. */
  private def pqArgmin(sv: Column, codewords: Column): Column =
    aggregate(
      sequence(lit(0), size(codewords) - 1),
      struct(lit(-1).cast("int").as("c"),
        lit(Double.MaxValue).as("d")),
      (acc, ci) => {
        val cw = element_at(codewords, ci + 1)
        val d = aggregate(zip_with(sv, cw, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, e) => a + e)
        when(d < acc.getField("d"),
          struct(ci.cast("int").as("c"), d.as("d"))).otherwise(acc)
      },
      acc => acc.getField("c"))

  /** [[Similarity.pqEncode]] through the interpreted HOF argmin — the
    * twin of [[graft.plans.PqKernels.encode]]. */
  def pqEncodeHof(
      df: DataFrame, idCol: String, vecCol: String, codebooks: DataFrame,
      assumeUnit: Boolean = false): DataFrame = {
    val (cb, dsub) = Similarity.collectCodebooks(codebooks)
    val m = cb.length
    val cbLit = cbLiteral(cb)
    df.select(col(idCol),
      (if (assumeUnit) col(vecCol)
       else VectorFns.unitizeNative(col(vecCol))).as("__v"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(m - 1)), s =>
          pqArgmin(slice(col("__v"), s * lit(dsub) + 1, lit(dsub)),
            element_at(cbLit, s + 1))).as("codes"))
  }

  /** The interpreted HOF ADC score — twin of
    * [[graft.plans.PqKernels.adc]] ∘ [[graft.plans.PqKernels.lut]] (same
    * arithmetic factored per pair instead of per query; identical
    * accumulation order, so parity is exact equality). */
  def adcScoreHof(
      qv: Column, codes: Column, cb: Array[Array[Array[Double]]],
      dsub: Int): Column = {
    val cbLit = cbLiteral(cb)
    aggregate(sequence(lit(0), lit(cb.length - 1)), lit(0.0),
      (acc, s) => acc + aggregate(
        zip_with(
          slice(qv, s * lit(dsub) + 1, lit(dsub)),
          element_at(element_at(cbLit, s + 1),
            element_at(codes, s + 1) + 1),
          (x, y) => x * y),
        lit(0.0), (a, d) => a + d))
  }

  // ------------------------------------------------------------------ BPE

  /** [[TextAnalysis.bpeApply]] through one `replace` projection per merge
    * — the twin of [[graft.plans.BpeTokenCount]], including OOV and
    * merge-output collisions. A `localCheckpoint` every `checkpointEvery`
    * merges bounds expression depth. */
  def bpeApplyChain(
      batch: DataFrame, idCol: String, textCol: String, merges: DataFrame,
      checkpointEvery: Int = 32): DataFrame = {
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val S = TextAnalysis.SymS
    val E = TextAnalysis.SymE
    val ms = TextAnalysis.collectMerges(merges)
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

  // --------------------------------------------------------- char entropy

  /** [[TextAnalysis.withCharEntropy]] as interpreted lambdas —
    * O(|alphabet| · n) evaluations per doc, each rebuilding the n-element
    * char array; the twin of [[graft.plans.CharEntropy]]. */
  def charEntropyRef(textCol: String): Column = {
    val n = length(col(textCol))
    val chars = transform(sequence(lit(1), n), i => col(textCol).substr(i, lit(1)))
    val counts = transform(array_sort(array_distinct(chars)),
      c => size(filter(chars, x => x === c)).cast("double"))
    val sumNlogN = aggregate(counts, lit(0.0), (acc, c) => acc + c * log(c))
    when(n > 0, round(log(n.cast("double")) - sumNlogN / n, 6))
  }
}
