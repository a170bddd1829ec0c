package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03) over a string column: the distinct md5-hex minima of every
  * `w`-gram window over the document's character-level `k`-gram hashes —
  * one expression replacing the interpreted HOF chain
  * `array_distinct(transform(sequence…, array_min(slice(grams…))))` over a
  * projected `transform(sequence…, md5(substr…))` gram array
  * (kept with the specs as `ReferenceTwins.kgramHashes` /
  * `winnowFromGrams`, the reference WinnowMinimaSpec pins this
  * expression against).
  *
  * Why native: higher-order lambdas never enter whole-stage codegen, so
  * the HOF path pays an interpreted eval per CHARACTER POSITION, each
  * allocating a 32-char hex UTF8String, plus an O(n·w) window pass that
  * copies a fresh w-slice per window — measured ~10 s per MB of text on 32
  * cores (`substring_extent` 9.2 s + `dedup_substring` 6.5 s at sf0.1,
  * 16.6% of the whole 194-query suite). At 100 TB that CPU-per-byte
  * constant dominates the entire exact-substring dedup family. This
  * expression hashes each k-gram's raw bytes once (MessageDigest, no
  * UTF8String hex round-trips in the loop) and takes window minima with a
  * monotonic deque — O(n) total, amortized O(1) per window — then
  * hex-encodes only the selected minima. The [[WordShingles]] precedent
  * (30-70% on the shingle family) proves the pattern.
  *
  * Output contract (byte-identical to the HOF path, pinned by spec):
  *
  *  - gram i (0-based) = lowercase md5 hex of the UTF-8 bytes of the k
  *    CHARACTERS starting at character i — `substr` semantics, so char
  *    start offsets are scanned from the UTF-8 continuation-byte pattern;
  *  - windows are the `max(g−w, 0) + 1` starts of `sequence(0,
  *    greatest(g−w, 0))`: complete `w`-windows, except a doc with fewer
  *    than `w` grams keeps its single truncated window rather than
  *    vanishing (`slice` truncation semantics);
  *  - per-window minimum under STRING comparison of the hex — identical
  *    to unsigned byte order of the raw 16-byte digests, because the
  *    nibble→hex-char map (0-9→0x30-0x39, a-f→0x61-0x66) is strictly
  *    monotonic and all hashes are equal length;
  *  - distinct by first occurrence in window order (`array_distinct`).
  *
  * Robust-winnowing per-WINDOW-selection guarantee (carried over from the
  * HOF path): every complete window CONTRIBUTES its minimum, so any shared
  * substring of at least `w + k − 1` characters between two documents
  * yields at least one shared fingerprint regardless of alignment — the
  * detection floor [[graft.operators.Dedup.substringDupPairs]] builds on.
  *
  * One documented divergence: a doc shorter than `k` characters returns
  * the EMPTY array here (the HOF path's `sequence(0, negative)` would
  * count down instead — every caller filters `length >= k` first, and
  * this expression makes that filter semantic rather than load-bearing).
  * NULL → NULL (standard unary null semantics).
  */
case class WinnowMinima(child: Expression, k: Int, w: Int)
  extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 1, s"k-gram width must be >= 1, got $k")
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow_minima"

  override def nullSafeEval(input: Any): Any =
    WinnowMinima.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WinnowMinima.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowMinima =
    copy(child = newChild)
}

object WinnowMinima {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftshim.Bridge

  // MessageDigest is stateful; one instance per task thread, reset per doc.
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Shared with [[StripMatchedGrams]] — the per-thread MD5 instance. */
  private[plans] def digestForThread(): MessageDigest = md5.get()

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Shared with [[StripMatchedGrams]] — lowercase hex of a digest. */
  private[plans] def hex(d: Array[Byte]): UTF8String = toHex(d)

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Shared by interpreted eval and generated code. */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes // materialized once; grams window into it
    val len = bytes.length
    // character start byte-offsets (a char starts at any non-continuation
    // byte); substr/length are CHAR-based, so grams must be too
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
    // one md5 per k-gram, over the raw byte span — hex only for minima
    val g = nChars - k + 1
    val md = md5.get()
    val digests = new Array[Array[Byte]](g)
    i = 0
    while (i < g) {
      md.reset()
      md.update(bytes, starts(i), starts(i + k) - starts(i))
      digests(i) = md.digest()
      i += 1
    }
    // monotonic-deque sliding minimum: indices with strictly increasing
    // digests; amortized O(1) per window (each gram pushed/popped once)
    val nWin = math.max(g - w, 0) + 1
    val deque = new Array[Int](g)
    var head = 0
    var tail = 0 // active indices live in deque[head, tail)
    val out = new java.util.ArrayList[AnyRef](math.min(nWin, 16))
    val seen = new java.util.HashSet[UTF8String]()
    var lastMin = -1
    var p = 0 // next gram to push
    var sWin = 0
    while (sWin < nWin) {
      val end = math.min(sWin + w, g) // window grams [sWin, end)
      while (p < end) {
        while (tail > head &&
          java.util.Arrays.compareUnsigned(digests(deque(tail - 1)), digests(p)) >= 0)
          tail -= 1
        deque(tail) = p
        tail += 1
        p += 1
      }
      while (deque(head) < sWin) head += 1
      val minIdx = deque(head)
      // same index as last window → same value → already emitted (the
      // common case: consecutive windows share their minimum)
      if (minIdx != lastMin) {
        lastMin = minIdx
        val hex = toHex(digests(minIdx))
        if (seen.add(hex)) out.add(hex)
      }
      sWin += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column wrapper (classic-mode bridge). */
  def minima(c: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowMinima(Bridge.expression(c), k, w))
}
