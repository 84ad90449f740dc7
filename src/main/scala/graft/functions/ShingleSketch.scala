package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Word-shingle sketch of a text: the distinct n-gram shingles of
  * `split(text, " ", -1)` (the set [[WordShingles]] builds) as ONE
  * `array<int>`, 4 bytes per distinct shingle:
  *   sk(0)  header = (n << 1) | reencoded,
  *   sk(1+) the byte offset where each distinct shingle starts, ordered
  *          by the shingle's bytes (unsigned, a slice that ends sorts
  *          before any byte: `UTF8String.binaryCompare`, the order
  *          Spark's `sort_array` gives `Text.shingleSet`).
  * A shingle of single-space tokens IS a slice of the text (its tokens
  * and the spaces between them), so a start offset names it: its end
  * is the n-th space at or after the start (or the text's end). No
  * token string, shingle string or hash is built: one space scan, an
  * index sort by slice bytes and a pass that drops adjacent byte-equal
  * duplicates (the first occurrence is kept).
  *
  * Validity is decided HERE, once per document: `split` decodes the
  * text to a Java String (malformed bytes → U+FFFD), so invalid UTF-8
  * is sketched over that re-encoding ([[ShingleSketch.reencode]]) and
  * the header's `reencoded` bit says the offsets index it.
  * [[TextSignature]] and [[SketchJaccard]] re-encode only when that bit
  * is set and never validate a text themselves.
  * Empty array (no header) when the text has fewer than n tokens; null
  * for null. */
case class ShingleSketch(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private var startsBuf: Array[Int] = _

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val reencoded = !text.isValid
    val canon = if (reencoded) ShingleSketch.reencode(text) else text
    val base = canon.getBaseObject
    val off = canon.getBaseOffset
    startsBuf = ShingleSketch.startsBuffer(startsBuf, canon)
    val starts = startsBuf
    val k = ShingleSketch.tokenStarts(canon, starts) - n + 1
    if (k <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Int](0))
    // shingle x spans [starts(x), starts(x + n) - 1); starts(tokens) = len + 1
    def sliceLen(x: Int): Int = starts(x + n) - 1 - starts(x)
    // Primitive sort of (unsigned 4-byte zero-padded prefix | index)
    // keys: the prefix is monotone in the byte order, so only runs of
    // equal prefixes still need a byte comparison. Measured against one
    // stable merge sort of all indices under compareSlices (3-shingle
    // sketches of fresh UTF8Strings, 2,000 Zipf docs of 200-1,700
    // words, one Xeon core): 1.5x faster on ASCII words, 1.1x on
    // Devanagari, 0.9x on a 20,000-word one-word-repeated doc.
    val keys = new Array[Long](k)
    var i = 0
    while (i < k) {
      val s = starts(i)
      val m = math.min(4, sliceLen(i))
      var p = 0
      var b = 0
      while (b < 4) {
        p = (p << 8) | (if (b < m) Platform.getByte(base, off + s + b) & 0xff else 0)
        b += 1
      }
      keys(i) = ((p ^ Int.MinValue).toLong << 32) | i
      i += 1
    }
    java.util.Arrays.sort(keys)
    val idx = new Array[Int](k)
    i = 0
    while (i < k) { idx(i) = keys(i).toInt; i += 1 }
    val cmp: (Int, Int) => Int = (x, y) =>
      ShingleSketch.compareSlices(base, off + starts(x), sliceLen(x),
        base, off + starts(y), sliceLen(y))
    var tmp: Array[Int] = null
    var runStart = 0
    i = 1
    while (i <= k) {
      if (i == k || (keys(i) >>> 32) != (keys(runStart) >>> 32)) {
        if (i - runStart > 1) {
          if (tmp == null) tmp = new Array[Int](k)
          ShingleSketch.mergeSort(idx, tmp, runStart, i, cmp)
        }
        runStart = i
      }
      i += 1
    }
    // header, then starts with byte-equal neighbours dropped: equal
    // slices are adjacent once sorted, and stability keeps the first
    val out = new Array[Int](k + 1)
    out(0) = (n << 1) | (if (reencoded) 1 else 0)
    var m = 0
    i = 0
    while (i < k) {
      if (m == 0 || cmp(idx(i - 1), idx(i)) != 0) { out(m + 1) = starts(idx(i)); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == k) out else java.util.Arrays.copyOf(out, m + 1))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSketch", this, classOf[ShingleSketch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_shingle_sketch"
}

object ShingleSketch {
  /** The bytes `split(text, " ", -1)` tokenizes when `text` is not
    * valid UTF-8: its Java-String round trip (the decoder's U+FFFD
    * replacement of malformed bytes). */
  def reencode(text: UTF8String): UTF8String = UTF8String.fromString(text.toString)

  /** `buf` when it can hold [[tokenStarts]] of `text` (len + 2
    * entries: every byte a space), else a new buffer to reuse. Every
    * task deserializes its own copy of an expression, so a buffer kept
    * on the expression is task-local. */
  def startsBuffer(buf: Array[Int], text: UTF8String): Array[Int] =
    if (buf != null && buf.length >= text.numBytes + 2) buf
    else new Array[Int](math.max(text.numBytes + 2, 256))

  /** One space scan: writes the start offset of every token into
    * `starts`, then len + 1 after the last one (so token t spans
    * [starts(t), starts(t + 1) - 1)); returns the token count, which is
    * spaces + 1 — the `split(text, " ", -1)` token count. */
  def tokenStarts(text: UTF8String, starts: Array[Int]): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var t = 1
    var i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(t) = len + 1
    t
  }

  private val LittleEndian =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  /** Unsigned byte order of two slices, 8 bytes at a time; a slice that
    * ends sorts before any byte — `UTF8String.binaryCompare` on raw
    * addresses (see [[SketchJaccard]] on why not `compareTo`). */
  def compareSlices(ba: AnyRef, oa: Long, la: Int, bb: AnyRef, ob: Long, lb: Int): Int = {
    val len = math.min(la, lb)
    var i = 0
    while (i + 8 <= len) {
      val x = Platform.getLong(ba, oa + i)
      val y = Platform.getLong(bb, ob + i)
      if (x != y) {
        return if (LittleEndian)
          java.lang.Long.compareUnsigned(java.lang.Long.reverseBytes(x), java.lang.Long.reverseBytes(y))
        else java.lang.Long.compareUnsigned(x, y)
      }
      i += 8
    }
    while (i < len) {
      val d = (Platform.getByte(ba, oa + i) & 0xff) - (Platform.getByte(bb, ob + i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    la - lb
  }

  /** Stable merge sort of a(lo until hi) under `cmp`: O(r log r)
    * comparisons whatever the input (a document of one repeated word is
    * one run of equal keys); insertion sort below 16 elements. */
  def mergeSort(a: Array[Int], tmp: Array[Int], lo: Int, hi: Int, cmp: (Int, Int) => Int): Unit = {
    if (hi - lo <= 16) {
      var i = lo + 1
      while (i < hi) {
        val v = a(i)
        var j = i - 1
        while (j >= lo && cmp(a(j), v) > 0) { a(j + 1) = a(j); j -= 1 }
        a(j + 1) = v
        i += 1
      }
    } else {
      val mid = (lo + hi) >>> 1
      mergeSort(a, tmp, lo, mid, cmp)
      mergeSort(a, tmp, mid, hi, cmp)
      if (cmp(a(mid - 1), a(mid)) > 0) {
        System.arraycopy(a, lo, tmp, lo, hi - lo)
        var i = lo
        var j = mid
        var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && cmp(tmp(i), tmp(j)) <= 0)) { a(o) = tmp(i); i += 1 }
          else { a(o) = tmp(j); j += 1 }
          o += 1
        }
      }
    }
  }
}

/** MinHash signature of a text from its [[ShingleSketch]]: bit-identical
  * to [[MinHashSignature]] over `Text.shingleSet(text, n)` — one md5 per
  * shingle occurrence over the shingle's slice of the text, then
  * [[MinHashSignature.permMins]]; a repeated shingle hashes to the same
  * value and leaves every minimum unchanged, so no distinct pass is
  * needed. The shingle size and whether to re-encode the text come from
  * the sketch's header, so the signature always uses the sketch's n and
  * validity is not decided again. Null for an empty sketch (fewer than
  * n tokens), like the string form over an empty set. */
case class TextSignature(text: Expression, sk: Expression, numPerm: Int)
    extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = sk
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")
  @transient private var startsBuf: Array[Int] = _

  override def nullSafeEval(t: Any, s: Any): Any =
    compute(t.asInstanceOf[UTF8String], s.asInstanceOf[ArrayData])

  def compute(text: UTF8String, sk: ArrayData): ArrayData = {
    if (sk.numElements() == 0) return null
    val h = sk.getInt(0)
    val n = h >>> 1
    val canon = if ((h & 1) != 0) ShingleSketch.reencode(text) else text
    startsBuf = ShingleSketch.startsBuffer(startsBuf, canon)
    val starts = startsBuf
    val k = ShingleSketch.tokenStarts(canon, starts) - n + 1
    if (k <= 0) return null
    val bytes = canon.getBytes
    val hs = new Array[Long](k)
    var i = 0
    while (i < k) {
      hs(i) = MinHashSignature.fingerprint(digest, bytes, starts(i), starts(i + n) - 1 - starts(i))
      i += 1
    }
    MinHashSignature.permMins(hs, k, numPerm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("textSignature", this, classOf[TextSignature].getName)
    nullSafeCodeGen(ctx, ev, (t, s) => s"""
      ${ev.value} = $ref.compute($t, $s);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override def nullable: Boolean = true // null for an empty sketch
  override protected def withNewChildrenInternal(t: Expression, s: Expression): Expression =
    copy(text = t, sk = s)
  override def prettyName: String = "graft_text_signature"
}

/** Exact Jaccard of two texts' shingle sets from their sketches: the
  * same integer ratio [[JaccardSim]] computes over the shingle strings
  * (0.0 when both are empty). Both start arrays are in byte order, so
  * one linear merge counts the intersection; equality is decided by
  * the slice bytes alone ([[ShingleSketch.compareSlices]], 8 bytes at a
  * time), never by a hash.
  *
  * A side's slice ends come from one space scan of its text into
  * buffers this instance reuses (every task deserializes its own copy
  * of the expression): `ends(start)` is the end of the shingle that
  * starts at byte `start`. A text is re-encoded only when its sketch
  * header says the offsets index the U+FFFD re-encoding; no text is
  * validated here.
  *
  * Spark 4.1's `UTF8String.compareTo` calls `SparkEnvUtils.isTesting`
  * on EVERY call before delegating to `binaryCompare`; a hot loop must
  * call `binaryCompare`/`binaryEquals` (or compare bytes) directly — a
  * sorted-string merge through `compareTo` measured slower than the
  * hash-set verify it was meant to replace. */
case class SketchJaccard(skA: Expression, textA: Expression, skB: Expression,
    textB: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def first: Expression = skA
  override def second: Expression = textA
  override def third: Expression = skB
  override def fourth: Expression = textB

  @transient private var starts: Array[Int] = _
  @transient private var endsA: Array[Int] = _
  @transient private var endsB: Array[Int] = _

  override def nullSafeEval(a: Any, ta: Any, b: Any, tb: Any): Any =
    compute(a.asInstanceOf[ArrayData], ta.asInstanceOf[UTF8String],
      b.asInstanceOf[ArrayData], tb.asInstanceOf[UTF8String])

  /** Fills `ends` (grown when too small) so ends(s) is the exclusive
    * end of the n-token shingle starting at byte s; returns the buffer.
    * Entries at other offsets keep whatever an earlier row left. */
  private def shingleEnds(text: UTF8String, n: Int, ends: Array[Int]): Array[Int] = {
    val len = text.numBytes
    starts = ShingleSketch.startsBuffer(starts, text)
    val e = if (ends != null && ends.length >= len + 1) ends else new Array[Int](len + 1)
    val tokens = ShingleSketch.tokenStarts(text, starts)
    var t = 0
    while (t + n <= tokens) { e(starts(t)) = starts(t + n) - 1; t += 1 }
    e
  }

  /** Byte length of the shingle at `start`. The range check keeps every
    * read inside the text; it does not prove the sketch was built from
    * this text (`ends` keeps entries from earlier rows, so a foreign
    * offset can land on one and give a wrong ratio without an error). */
  @inline private def sliceLen(ends: Array[Int], start: Int, len: Int): Int = {
    val e = ends(start)
    if (e < start || e > len)
      throw new IllegalArgumentException(s"sketch offset $start is not a shingle start of its text")
    e - start
  }

  def compute(a: ArrayData, ta: UTF8String, b: ArrayData, tb: UTF8String): Double = {
    val na = math.max(a.numElements() - 1, 0)
    val nb = math.max(b.numElements() - 1, 0)
    if (na == 0 || nb == 0) return 0.0d // no intersection (0/0 is 0.0 too)
    val ha = a.getInt(0)
    val hb = b.getInt(0)
    val ca = if ((ha & 1) != 0) ShingleSketch.reencode(ta) else ta
    val cb = if ((hb & 1) != 0) ShingleSketch.reencode(tb) else tb
    endsA = shingleEnds(ca, ha >>> 1, endsA)
    endsB = shingleEnds(cb, hb >>> 1, endsB)
    val baseA = ca.getBaseObject
    val offA = ca.getBaseOffset
    val baseB = cb.getBaseObject
    val offB = cb.getBaseOffset
    var inter = 0
    var i = 1
    var j = 1
    while (i <= na && j <= nb) {
      val sa = a.getInt(i)
      val sb = b.getInt(j)
      val c = ShingleSketch.compareSlices(baseA, offA + sa, sliceLen(endsA, sa, ca.numBytes),
        baseB, offB + sb, sliceLen(endsB, sb, cb.numBytes))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { inter += 1; i += 1; j += 1 }
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchJaccard", this, classOf[SketchJaccard].getName)
    nullSafeCodeGen(ctx, ev, (a, ta, b, tb) =>
      s"${ev.value} = $ref.compute($a, $ta, $b, $tb);")
  }
  override protected def withNewChildrenInternal(a: Expression, ta: Expression,
      b: Expression, tb: Expression): Expression =
    copy(skA = a, textA = ta, skB = b, textB = tb)
  override def prettyName: String = "graft_sketch_jaccard"
}
