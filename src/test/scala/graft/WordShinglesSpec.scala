package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Native WordShingles expression vs the reference UDF: byte-identical
  * output on every edge the split(" ", -1) contract has. */
class WordShinglesSpec extends SparkSpec {
  import sqlContext.implicits._

  private val edges = Seq(
    "a b c d e",         // plain
    "a",                  // below n
    "",                   // empty string -> one empty token
    "a  b",               // doubled space -> empty interior token
    " a b ",              // leading/trailing spaces -> empty edge tokens
    "solo token",
    "x y",                // exactly n for n=2
    "émile zola café au lait", // multi-byte UTF-8 around the 0x20 scan
    "tab\tinside stays one-token",
    "many words " * 50 + "end"
  )

  test("shinglesFast is byte-identical to the reference UDF across edge cases and widths") {
    for (n <- Seq(1, 2, 3, 5)) {
      val df = edges.map(Tuple1(_)).toDF("t")
      val got = df.select(TextFns.shinglesFast(col("t"), n)).as[Seq[String]].collect()
      val ref = df.select(ReferenceTwins.shinglesUdf(n)(col("t"))).as[Seq[String]].collect()
      assert(got.toSeq == ref.toSeq, s"n=$n")
    }
  }

  test("NULL text yields NULL (unary null semantics), unlike the UDF's empty array") {
    // the EXPRESSION returns NULL for NULL input (standard Catalyst
    // contract); callers that need the UDF's empty-array behavior filter
    // NULLs first — which every operator call site already does for other
    // reasons (hashing/exploding NULL text is meaningless)
    val df = Seq[Option[String]](None, Some("a b c")).toDF("t")
    val rows = df.select(TextFns.shinglesFast(col("t"), 2).as("s")).collect()
    assert(rows.exists(_.isNullAt(0)))
    assert(rows.exists(r => !r.isNullAt(0)))
  }

  test("shinglesFast matches the UDF over the fixture corpus (both hash-aggregated)") {
    val docs = engine.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val a = docs.select(md5(concat_ws("",
      TextFns.shinglesFast(col("text"), 3))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long"))).as[Long].head()
    val b = docs.select(md5(concat_ws("",
      ReferenceTwins.shinglesUdf(3)(col("text")))).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long"))).as[Long].head()
    assert(a == b)
  }

  test("the expression participates in whole-stage codegen (no UDF serde boundary)") {
    val docs = engine.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val plan = docs.select(explode(TextFns.shinglesFast(col("text"), 3)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
  }
}
