package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native POSITIONAL character k-gram hashing: element i is the lowercase
  * md5 hex of the UTF-8 bytes of the k characters starting at character i
  * — the ordered, non-distinct gram array whose `posexplode` carries gram
  * POSITIONS downstream (span-extent measurement needs positions;
  * [[WinnowMinima]] deliberately collapses them). Byte-identical to the
  * interpreted HOF reference `ReferenceTwins.kgramHashes`
  * (`transform(sequence…, md5(substr…))`), which WinnowMinimaSpec pins it
  * against; same raw-byte single-pass hashing as [[WinnowMinima]], no
  * 32-char hex round-trips inside the loop, stays in whole-stage codegen.
  *
  * A document shorter than `k` characters returns the EMPTY array (the
  * HOF path's descending-`sequence` artifact is not reproduced — callers
  * filter `length >= k`); NULL → NULL.
  */
case class KgramHashes(child: Expression, k: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 1, s"k-gram width must be >= 1, got $k")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_kgram_hashes"

  override def nullSafeEval(input: Any): Any =
    KgramHashes.hashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.KgramHashes.hashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KgramHashes =
    copy(child = newChild)
}

object KgramHashes {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.Bridge

  /** Shared by interpreted eval and generated code. */
  def hashes(s: UTF8String, k: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nChars = 0
    var i = 0
    while (i < len) { if ((bytes(i) & 0xc0) != 0x80) nChars += 1; i += 1 }
    if (nChars < k) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nChars + 1)
    var c = 0
    i = 0
    while (i < len) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    starts(nChars) = len
    val g = nChars - k + 1
    val md = WinnowMinima.digestForThread()
    val out = new Array[AnyRef](g)
    i = 0
    while (i < g) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - starts(i))
      out(i) = WinnowMinima.hex(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column wrapper (classic-mode bridge). */
  def grams(c: Column, k: Int): Column =
    Bridge.column(KgramHashes(Bridge.expression(c), k))
}
