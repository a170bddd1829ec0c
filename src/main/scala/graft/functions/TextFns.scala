package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the training-data pipeline operators (SURVEY §7.6).
  *
  * All of these are pure column expressions built from Spark's codegen'd
  * built-ins (split/transform/slice/aggregate/filter) — no UDFs — so they
  * stay inside whole-stage codegen and run map-side at any scale.
  */
object TextFns {

  /** Whitespace tokenization (the fixture corpus is space-joined word bags). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword-count heuristic: words plus punctuation/digit runs as
    * separate tokens — a regex approximation of byte-pair tokenizer output
    * length, computable without any model artifact.
    *
    * Deliberately ASCII-`\W` and space-only trim, mirrored token-for-token
    * by the DuckDB oracle (`[\w ]` strip): tabs/newlines and non-ASCII
    * letters each count as a token — reasonable for a byte-level-BPE
    * proxy (real tokenizers also emit tokens for those) and required for
    * the cross-engine differential; this is a COUNT heuristic, not a
    * tokenizer. */
  def bpeishTokens(text: Column): Column =
    filter(split(text, """(?<=\W)|(?=\W)"""), t => trim(t) =!= "")

  /** Word n-gram shingles ("w1 w2 w3" strings). Docs shorter than n shingle
    * to an empty array (matches the DuckDB oracle's empty comprehension). */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Native codegen'd shingling ([[graft.plans.WordShingles]]): the
    * operator-facing form — byte-identical to the JVM-loop UDF it
    * replaced (kept with the specs as `ReferenceTwins.shinglesUdf`) on
    * NON-NULL text (spec-pinned), but zero-copy byte windows inside
    * whole-stage codegen instead of a UDF's serde + String split +
    * per-token allocation. NULL semantics DIFFER: the native expression is standard
    * unary null-in/null-out (NULL text → NULL array, pinned in
    * WordShinglesSpec) where the UDF returns an empty array. Current call
    * sites tolerate either (explode drops both), but a caller branching on
    * `size(...)` over NULL-bearing text must coalesce first —
    * `size(NULL)` is NULL, not 0, and would silently drop the row from
    * both sides of a comparison. */
  def shinglesFast(text: Column, n: Int): Column =
    graft.plans.WordShingles.shingles(text, n)

  /** Canonical document fingerprint: hash of the sorted distinct token set —
    * invariant to token order and repetition (bag-of-words identity). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** 64-bit rolling-style content hash (cheap xxhash64 over the raw text). */
  def contentHash64(text: Column): Column = xxhash64(text)

  /** How many of the given stopwords occur in the token array (with
    * multiplicity) — the building block of the language-ID heuristic.
    * An empty stopword list hits nothing (fold seed), rather than
    * throwing from an empty reduce at plan construction. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => stopwords.foldLeft(lit(false))((acc, s) => acc || (t === s))))

  /** N-gram language-ID heuristic: vote per language by stopword hits; ties
    * broken by the fixed language order; no hits => "und" (undetermined).
    *
    * Implemented as `greatest` over (hits, -order, lang) structs so each
    * language's stopword filter appears in the expression tree exactly ONCE.
    * The obvious alternative — a foldLeft of `when(h > best, ..)` pairs —
    * embeds the accumulator twice per step, DOUBLING the tree per language:
    * 2^|profiles| copies of the interpreted filter lambdas after
    * CollapseProject inlines the column into downstream filters. At 5
    * languages that shape was measured as multi-second Catalyst planning
    * (`canCollapseExpressions` walks) plus ~30x per-row eval cost in the
    * benchmark — a driver-side stall that would only worsen with more
    * profiles. The `und` sentinel (0, 1, "und") loses to any hit count >= 1
    * and wins all-zero ties because 1 > -i for every profile index i. */
  def langId(text: Column, profiles: Seq[(String, Seq[String])]): Column = {
    if (profiles.isEmpty) {
      // greatest() requires >= 2 args; no profiles means nothing can win
      // over und — but NULL text stays NULL (below)
      when(text.isNotNull, lit("und"))
    } else {
      val t = tokens(text)
      val cands = profiles.zipWithIndex.map { case ((lang, sw), i) =>
        struct(stopwordHits(t, sw).as("h"), lit(-i).as("p"), lit(lang).as("l"))
      }
      val und = struct(lit(0).as("h"), lit(1).as("p"), lit("und").as("l"))
      // NULL text must classify as NULL, not "und": the candidate structs
      // all carry h = NULL (sorts below the und sentinel in greatest), so
      // without the guard missing text would silently count as a
      // classified-undetermined language in downstream rate metrics
      when(text.isNotNull, greatest((und +: cands): _*).getField("l"))
    }
  }

  /** Default stopword profiles for the fixture corpus languages. */
  val defaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "la", "de", "los", "una"),
    "fr" -> Seq("le", "la", "les", "des", "une"),
    "zh" -> Seq("的", "是", "在", "了", "和"))
}
