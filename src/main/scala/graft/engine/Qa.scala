package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** QA / reject routing — the reference's signature compound operator
  * (SURVEY §2.5; /root/reference/src/wins_transform_staging.py:236-273).
  *
  * Each rule stamps the rows it rejects with a reason column. The reference
  * applies rules sequentially — rule 2 only sees rows that survived rule 1
  * (:255 deletes before :258 selects), and its `REJECT_FLAG IS null` guard
  * (:268) keeps rule-1 reasons from being overwritten in the accumulated
  * reject table. [[runRules]] reproduces that literally, split by split;
  * [[classify]] reproduces it on one frame, each rule setting the reason
  * only where none is set yet (SURVEY §7.3).
  */
object Qa {

  /** A disjoint partition of an input: keep ∪ rejects = input,
    * keep ∩ rejects = ∅ (property-tested in QaSpec). */
  final case class QaSplit(keep: DataFrame, rejects: DataFrame)

  /** The reason a row was rejected: NULL while the row passes every rule
    * applied so far, else the FIRST failing rule's reason. */
  val FlagCol = "REJECT_FLAG"

  private def flagWhere(df: DataFrame, fails: Column, reason: String): DataFrame =
    df.withColumn(FlagCol, coalesce(col(FlagCol), when(fails, lit(reason))))

  /** Q1 flagging rule — duplicate keys (:240-257). The reference joins back
    * to a materialized Frequency table and selects FREQUENCY > 1 (J3); a
    * window count over the key is the same semantics with one shuffle and
    * no materialized intermediate. Only unflagged rows are counted. */
  def dupFlag(df: DataFrame, keys: Seq[String], reason: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*)
    flagWhere(df, count(when(col(FlagCol).isNull, lit(1))).over(w) > 1, reason)
  }

  /** Q2 flagging rule — referential integrity (:258-269): rows whose key
    * has no match in the dimension are rejected. A left join against the
    * dimension's DISTINCT keys, broadcast (pruned to the key column, so the
    * build side stays small even when the dim table is wide), with a hit
    * marker never multiplies a row. NULL keys match nothing (`=`
    * semantics, matching ArcGIS and DuckDB — SURVEY §7.3). Row-local. */
  def refFlag(
      df: DataFrame,
      dim: DataFrame,
      leftKey: String,
      rightKey: String,
      reason: String): DataFrame = {
    val keys = broadcast(dim.select(col(rightKey).as("__ref_key")).distinct()
      .withColumn("__ref_hit", lit(true)))
    val joined = df.join(keys, df(leftKey) === keys("__ref_key"), "left")
    flagWhere(joined, col("__ref_hit").isNull, reason).drop("__ref_key", "__ref_hit")
  }

  /** Apply flagging rules in order to one frame: `df` plus [[FlagCol]].
    *
    * Each rule is stated once, as a flagging rule ([[dupFlag]],
    * [[refFlag]]): it sets its reason on the failing rows whose flag is
    * still NULL and passes every row, column and earlier reason through;
    * the splits are filters over the same rules.
    *
    * PRECONDITION: a flagging rule must decide each unflagged row from the
    * unflagged rows alone. Then folding the rules over ONE frame equals
    * [[runRules]]' sequential semantics (rule N+1 sees only rule N's keep
    * side, and the first reason wins, :268). The ref rule meets it because
    * it is row-local; the dup rule because its window counts only
    * unflagged rows (as the first rule, that is the whole input). */
  def classify(df: DataFrame, rules: Seq[DataFrame => DataFrame]): DataFrame =
    rules.foldLeft(df.withColumn(FlagCol, lit(null).cast(StringType)))((d, rule) => rule(d))

  /** Split a classified frame: keep = the unflagged rows without
    * [[FlagCol]], rejects = the flagged rows with it. */
  def split(classified: DataFrame): QaSplit = QaSplit(
    keep = classified.filter(col(FlagCol).isNull).drop(FlagCol),
    rejects = classified.filter(col(FlagCol).isNotNull))

  /** Q1 — duplicate-key split: every row of a duplicated key is rejected. */
  def dupSplit(df: DataFrame, keys: Seq[String], reason: String): QaSplit =
    split(classify(df, Seq(dupFlag(_, keys, reason))))

  /** Q2 — referential-integrity split: rows without a dimension match are
    * rejected. */
  def refSplit(
      df: DataFrame,
      dim: DataFrame,
      leftKey: String,
      rightKey: String,
      reason: String): QaSplit =
    split(classify(df, Seq(refFlag(_, dim, leftKey, rightKey, reason))))

  /** Q3 — reject routing (:254-256,264-269): accumulate a reject batch into
    * the running reject table. The reject table's schema is the base schema +
    * REJECT_FLAG; NO_TEST append semantics reconcile any column drift.
    */
  def route(rejectTable: DataFrame, batch: DataFrame): DataFrame =
    Ops.appendNoTest(rejectTable, batch)

  /** Apply an ordered list of QA rules sequentially (rule N+1 sees only
    * rule N's keep side), returning the final keep and the accumulated
    * rejects. `rejectSeed` seeds the reject table: the base schema plus
    * the reason column (the reference instantiates it from a template
    * gdb, :147-148).
    */
  def runRules(
      df: DataFrame,
      rejectSeed: DataFrame,
      rules: Seq[DataFrame => QaSplit]): QaSplit =
    rules.foldLeft(QaSplit(df, rejectSeed)) { (acc, rule) =>
      val s = rule(acc.keep)
      QaSplit(s.keep, route(acc.rejects, s.rejects))
    }

  // ------------------------------------------------------ expectations layer

  /** A declarative table expectation: `name` labels it in the report,
    * `violations` is the aggregate counting offending rows. The split/route
    * machinery above QUARANTINES bad rows; expectations instead MEASURE a
    * table against a contract — the pre-publish gate ("is this table fit to
    * ship?") every scheduled pipeline wants in front of its sink.
    *
    * NULL policy mirrors SQL semantics deliberately: `notNull` is the ONLY
    * check that counts NULLs — `inRange`/`matches`/`satisfies` skip them
    * (a NULL is absent, not out-of-range), so contracts compose as
    * "notNull(c) + inRange(c, …)" without double-counting, and a nullable
    * column can carry a range contract on just its present values. */
  final case class Expectation(name: String, violations: Column)

  object Expect {
    def notNull(c: String): Expectation =
      Expectation(s"not_null($c)", sum(when(col(c).isNull, 1L).otherwise(0L)))
    def inRange(c: String, lo: Double, hi: Double): Expectation =
      Expectation(s"in_range($c,$lo,$hi)",
        sum(when(col(c).isNotNull && (col(c) < lo || col(c) > hi), 1L).otherwise(0L)))
    def matches(c: String, regex: String): Expectation =
      Expectation(s"matches($c)",
        sum(when(col(c).isNotNull && !col(c).rlike(regex), 1L).otherwise(0L)))
    /** Violations = rows BEYOND the first per duplicated key (a unique
      * table scores 0). Rows with any NULL key part are skipped (they are
      * `notNull`'s business), matching count-distinct semantics. */
    def unique(cols: String*): Expectation = {
      val allPresent = cols.map(col(_).isNotNull).reduce(_ && _)
      // the distinct count must ALSO skip NULL-key rows (a bare
      // struct(NULL) is non-null and would count as one distinct value,
      // driving the difference negative) — the `when` maps them to NULL,
      // which count_distinct ignores, mirroring SQL COUNT(DISTINCT)
      Expectation(s"unique(${cols.mkString(",")})",
        sum(when(allPresent, 1L).otherwise(0L)) -
          count_distinct(when(allPresent, struct(cols.map(col): _*))))
    }
    /** Arbitrary row predicate; a row violates when the predicate is FALSE
      * (NULL predicate results skip, consistent with the layer's policy). */
    def satisfies(name: String, pred: Column): Expectation =
      Expectation(name, sum(when(pred === false, 1L).otherwise(0L)))
  }

  /** Evaluate every expectation in ONE aggregation pass over the table
    * (violation counters are all Spark aggregates, so they share a single
    * partial-aggregated scan — adding a check costs a column, not a pass)
    * and return the report: (expectation, violations, total, pass) ordered
    * by expectation name. `pass` is violations == 0. */
  def expectations(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    require(checks.nonEmpty, "expectations requires at least one check")
    val dupNames = checks.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dupNames.isEmpty,
      s"duplicate expectation names: ${dupNames.mkString(", ")} — the report " +
        "keys on the name; disambiguate with Expect.satisfies(name, …)")
    // the name round-trips through a backtick-quoted column reference in
    // the unpivot below — a backtick inside it would fail analysis deep in
    // the plan instead of here
    val badNames = checks.map(_.name).filter(_.contains("`"))
    require(badNames.isEmpty,
      s"expectation names must not contain backticks: ${badNames.mkString(", ")}")
    val aggs = checks.map(e => coalesce(e.violations, lit(0L)).as(e.name)) :+
      count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // unpivot the single result row into the report shape
    val pairs = checks.flatMap(e => Seq(lit(e.name), col(s"`${e.name}`")))
    row.select(col("__total"),
        explode(map(pairs: _*)).as(Seq("expectation", "violations")))
      .select(col("expectation"), col("violations"),
        col("__total").as("total"),
        when(col("violations") === 0, 1).otherwise(0).as("pass"))
      .orderBy("expectation")
  }

  /** [[expectations]] with a hard gate: throws listing every failed check
    * (the pre-publish circuit breaker; the report is in the message). */
  def requireExpectations(df: DataFrame, checks: Seq[Expectation]): Unit = {
    val failed = expectations(df, checks)
      .filter(col("pass") === 0)
      .collect().map(r => s"${r.getString(0)}: ${r.getLong(1)} violations")
    if (failed.nonEmpty) throw new IllegalStateException(
      s"table failed ${failed.length} expectation(s):\n  ${failed.mkString("\n  ")}")
  }
}
