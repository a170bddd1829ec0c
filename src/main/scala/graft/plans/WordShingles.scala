package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram shingling over a string column — the innermost
  * expression of every shingle-based dedup path (n-gram Jaccard,
  * containment, MinHash signatures, contamination). Replaces the JVM-loop
  * UDF (`ReferenceTwins.shinglesUdf` in the specs, itself a 10× win
  * over interpreted transform/slice lambdas) with a codegen'd
  * expression: no UDF serde, no String decode, no per-token allocation.
  *
  * The core trick: a shingle is `n` consecutive space-split tokens joined
  * by single spaces — which is EXACTLY the original byte span from the
  * first token's start to the last token's end (split(" ") tokens are the
  * text between single-space separators, so rejoining reproduces the
  * source bytes verbatim, empty tokens included). Each shingle is
  * therefore a zero-copy `UTF8String.fromBytes(bytes, start, len)` window
  * over the row's existing buffer — the only allocations are the output
  * array and one wrapper object per shingle. Space (0x20) never occurs
  * inside a UTF-8 multi-byte sequence, so the byte scan is Unicode-safe.
  *
  * Semantics are byte-for-byte those of `text.split(" ", -1)` +
  * `slice/mkString` (the UDF's): empty tokens from doubled/leading/
  * trailing spaces count as tokens; fewer than `n` tokens → empty array;
  * NULL → NULL (standard unary null semantics).
  */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.shingle(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordShingles.shingle($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.Bridge

  /** Shared by interpreted eval and generated code. */
  def shingle(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes // materialized once; shingles window into it
    val len = bytes.length
    // token start offsets: position 0 and every byte after a 0x20
    var nTokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) nTokens += 1; i += 1 }
    if (nTokens < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTokens)
    var t = 1
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val out = new Array[Any](nTokens - n + 1)
    var k = 0
    while (k <= nTokens - n) {
      val from = starts(k)
      // end of token k+n-1: one byte before the next token's separator,
      // or end of string for the last token
      val until = if (k + n < nTokens) starts(k + n) - 1 else len
      out(k) = UTF8String.fromBytes(bytes, from, until - from)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column wrapper (classic-mode bridge). */
  def shingles(c: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(c), n))
}
