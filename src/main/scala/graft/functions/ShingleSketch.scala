package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Word-shingle sketch of a text: the distinct n-gram shingles of
  * `split(text, " ", -1)` (the set [[WordShingles]] builds) as ONE
  * `array<long>` of (fp, pos) pairs, sorted by (fp, pos):
  *   fp  = h(s), the 60-bit md5 prefix [[MinHashSignature]] hashes,
  *   pos = (start << 32) | byteLength of the shingle's slice of the text.
  * A shingle of single-space tokens IS a slice of the text (its tokens
  * and the spaces between them), so no token or shingle string is ever
  * built: one md5 per shingle, a primitive sort, and byte-equal
  * duplicates dropped (the first occurrence is kept). Shingles that
  * share an fp but differ in bytes both stay, so the pair count is
  * exactly the distinct-shingle count.
  *
  * Invalid UTF-8 follows the string path: `split` decodes the text to a
  * Java String (malformed bytes → U+FFFD), so the sketch is taken over
  * that re-encoded text ([[ShingleSketch.canonical]]); pos indexes it,
  * and [[SketchJaccard]] compares slices of the same re-encoding.
  * Empty array when the text has fewer than n tokens; null for null. */
case class ShingleSketch(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(text: UTF8String): ArrayData = {
    val canon = ShingleSketch.canonical(text)
    val bytes = canon.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val k = spaces + 2 - n // shingle count: tokens - n + 1
    if (k <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    // token t spans [starts(t), starts(t + 1) - 1); a sentinel closes the last
    val starts = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(t) = len + 1
    val fp = new Array[Long](k)
    i = 0
    while (i < k) {
      fp(i) = MinHashSignature.fingerprint(digest, bytes, starts(i), starts(i + n) - 1 - starts(i))
      i += 1
    }
    // Order the shingle indices by (fp, index): a primitive sort of
    // (fp high bits | index) keys, then a stable insertion pass on the
    // full fp — keys already agree on the high bits, so only runs of
    // equal high bits (in practice: repeated shingles) can still be out
    // of order. The first occurrence of a repeated shingle leads its run.
    val idxBits = 32 - Integer.numberOfLeadingZeros(k)
    val idxMask = (1L << idxBits) - 1
    val keys = new Array[Long](k)
    i = 0
    while (i < k) { keys(i) = (fp(i) & ~idxMask) | i; i += 1 }
    java.util.Arrays.sort(keys)
    i = 1
    while (i < k) {
      val key = keys(i)
      val f = fp((key & idxMask).toInt)
      var j = i - 1
      while (j >= 0 && fp((keys(j) & idxMask).toInt) > f) { keys(j + 1) = keys(j); j -= 1 }
      keys(j + 1) = key
      i += 1
    }
    // emit (fp, pos), dropping byte-equal duplicates: only shingles in
    // one equal-fp run can be equal, and the run's kept ones sit at
    // out[runStart, m)
    val out = new Array[Long](2 * k)
    var m = 0
    var runStart = 0
    i = 0
    while (i < k) {
      val x = (keys(i) & idxMask).toInt
      val pos = (starts(x).toLong << 32) | (starts(x + n) - 1 - starts(x))
      if (m == 0 || out(2 * (m - 1)) != fp(x)) runStart = m
      var dup = false
      var j = runStart
      while (!dup && j < m) {
        dup = ShingleSketch.sameSlice(canon, pos, canon, out(2 * j + 1))
        j += 1
      }
      if (!dup) { out(2 * m) = fp(x); out(2 * m + 1) = pos; m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (m == k) out else java.util.Arrays.copyOf(out, 2 * m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleSketch", this, classOf[ShingleSketch].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_shingle_sketch"
}

object ShingleSketch {
  /** The bytes `split(text, " ", -1)` tokenizes: the text itself when it
    * is valid UTF-8, else its Java-String round trip (the decoder's
    * U+FFFD replacement of malformed bytes). */
  def canonical(text: UTF8String): UTF8String =
    if (text.isValid) text else UTF8String.fromString(text.toString)

  /** Whether the slice of `ta` at `pa` holds the same bytes as the
    * slice of `tb` at `pb` (`ByteArrayMethods.arrayEquals`, what
    * `UTF8String.binaryEquals` runs; see [[SketchJaccard]] on why not
    * `compareTo`). */
  def sameSlice(ta: UTF8String, pa: Long, tb: UTF8String, pb: Long): Boolean = {
    val len = pa.toInt
    len == pb.toInt &&
      ByteArrayMethods.arrayEquals(
        ta.getBaseObject, ta.getBaseOffset + (pa >>> 32),
        tb.getBaseObject, tb.getBaseOffset + (pb >>> 32), len)
  }
}

/** MinHash signature over a [[ShingleSketch]]: bit-identical to
  * [[MinHashSignature]] over the same text's shingle set — the sketch
  * already holds every h(s), so only the per-permutation minimum loop
  * runs (no md5). Null for an empty sketch, like the string form. */
case class SketchSignature(child: Expression, numPerm: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  def compute(sk: ArrayData): ArrayData = {
    val k = sk.numElements() / 2
    if (k == 0) return null
    val hs = new Array[Long](k)
    var i = 0
    while (i < k) { hs(i) = sk.getLong(2 * i); i += 1 }
    MinHashSignature.permMins(hs, k, numPerm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sketchSignature", this, classOf[SketchSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }
  override def nullable: Boolean = true // null for empty sketches
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_sketch_signature"
}

/** Exact Jaccard of two texts' shingle sets from their sketches: the
  * same integer ratio [[JaccardSim]] computes over the shingle strings
  * (0.0 when both are empty). The fp arrays are merged linearly; every
  * run of equal fps is confirmed by comparing the text slices, so a
  * fingerprint never decides equality on its own and a 60-bit collision
  * costs one byte comparison, not a wrong count.
  *
  * Slices are compared as raw bytes ([[ShingleSketch.sameSlice]]).
  * Spark 4.1's
  * `UTF8String.compareTo` calls `SparkEnvUtils.isTesting` on EVERY call
  * before delegating to `binaryCompare`; a hot loop must call
  * `binaryCompare`/`binaryEquals` (or compare bytes) directly — a
  * sorted-string merge through `compareTo` measured slower than the
  * hash-set verify it was meant to replace. */
case class SketchJaccard(skA: Expression, textA: Expression, skB: Expression,
    textB: Expression) extends QuaternaryExpression {
  override def dataType: DataType = DoubleType
  override def first: Expression = skA
  override def second: Expression = textA
  override def third: Expression = skB
  override def fourth: Expression = textB

  override def nullSafeEval(a: Any, ta: Any, b: Any, tb: Any): Any =
    compute(a.asInstanceOf[ArrayData], ta.asInstanceOf[UTF8String],
      b.asInstanceOf[ArrayData], tb.asInstanceOf[UTF8String])

  def compute(a: ArrayData, ta: UTF8String, b: ArrayData, tb: UTF8String): Double = {
    val na = a.numElements() / 2
    val nb = b.numElements() / 2
    val ca = ShingleSketch.canonical(ta)
    val cb = ShingleSketch.canonical(tb)
    var inter = 0
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val fa = a.getLong(2 * i)
      val fb = b.getLong(2 * j)
      if (fa < fb) i += 1
      else if (fa > fb) j += 1
      else {
        var ie = i + 1
        while (ie < na && a.getLong(2 * ie) == fa) ie += 1
        var je = j + 1
        while (je < nb && b.getLong(2 * je) == fb) je += 1
        // each run holds byte-distinct shingles: a slice matches at most once
        var x = i
        while (x < ie) {
          val pa = a.getLong(2 * x + 1)
          var y = j
          var hit = false
          while (!hit && y < je) {
            hit = ShingleSketch.sameSlice(ca, pa, cb, b.getLong(2 * y + 1))
            y += 1
          }
          if (hit) inter += 1
          x += 1
        }
        i = ie
        j = je
      }
    }
    val union = na + nb - inter
    if (union == 0) 0.0d else inter.toDouble / union.toDouble
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
