package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** MinHash signature as a single tight-loop expression.
  *
  * Hash family (universal hashing over one md5-derived integer — the
  * standard minwise recipe, vs the round-1 form's 32 md5s per shingle):
  *   h(s)   = top 60 bits of md5(s) (= first 15 hex chars as int)
  *   v_p(s) = (a_p·h(s) + b_p) mod M,  M = 2^61−1,
  *   a_p = 2·p·2654435761 + 1,  b_p = p·40503 + 7
  * signature element p = min over shingles of v_p. ONE md5 per shingle
  * plus numPerm modular multiplies — ~32× less hashing on the dedup hot
  * path at identical LSH quality; every step is exact integer math the
  * DuckDB oracle replays verbatim (HUGEINT modulo there, 128-bit split
  * multiply mod 2^61−1 here).
  */
case class MinHashSignature(child: Expression, numPerm: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Shared by eval and codegen (see [[FloatDot.compute]] for why:
    * a plan-reference call keeps the dedup scan inside whole-stage
    * codegen). Returns null for empty shingle arrays. */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // No shingles → no signature (null), mirroring list_min of an
    // empty list; never an array of nulls under containsNull=false.
    if (n == 0) return null
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val b = arr.getUTF8String(i).getBytes
      hs(i) = MinHashSignature.fingerprint(digest, b, 0, b.length)
      i += 1
    }
    MinHashSignature.permMins(hs, n, numPerm)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this,
      classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override def nullable: Boolean = true // null for empty shingle arrays
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_minhash_signature"
}

object MinHashSignature {
  private val M = (1L << 61) - 1

  /** h(s): the top 60 bits of md5 over `len` bytes at `off` (7 bytes +
    * the high nibble of byte 7) — one md5 per shingle. */
  def fingerprint(digest: java.security.MessageDigest,
      bytes: Array[Byte], off: Int, len: Int): Long = {
    digest.reset()
    digest.update(bytes, off, len)
    val raw = digest.digest()
    var h = 0L
    var j = 0
    while (j < 7) { h = (h << 8) | (raw(j) & 0xffL); j += 1 }
    (h << 4) | ((raw(7) >> 4) & 0xfL)
  }

  /** (a·h) mod 2^61−1 via 128-bit split multiply: 2^64 ≡ 8, 2^61 ≡ 1. */
  @inline private def mulMod(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h)
    val lo = a * h
    val r = hi * 8 + (lo >>> 61) + (lo & M)
    val f = (r & M) + (r >>> 61)
    if (f >= M) f - M else f
  }

  /** Signature element p = min over the first `n` fingerprints of
    * v_p(h). Repeated fingerprints leave every minimum unchanged. */
  def permMins(hs: Array[Long], n: Int, numPerm: Int): ArrayData = {
    val mins = new Array[Long](numPerm)
    var p = 0
    while (p < numPerm) {
      val a = 2L * p * 2654435761L + 1
      val b = p.toLong * 40503 + 7
      var best = Long.MaxValue
      var i = 0
      while (i < n) {
        var v = mulMod(a, hs(i)) + b
        if (v >= M) v -= M
        if (v < best) best = v
        i += 1
      }
      mins(p) = best
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** LSH band keys, fused (r15, guide §4): exactly
  * `transform(sequence(0, bands-1), b -> md5(concat(b, '|',
  * array_join(transform(slice(sig, b*r+1, r), v -> cast(v as string)),
  * ''))))` — each band's key is the md5 hex of
  * "<band>|<slice longs in decimal, concatenated>" — but as one loop
  * with a reused digest instead of a 5-deep HOF chain. The HOF form
  * ran interpreted (SimpleHigherOrderFunction.eval framed the r15
  * stack samples of the minhash state build) and dropped the whole
  * state projection out of whole-stage codegen; this form restores
  * codegen via the shared plan-reference pattern. Equivalence to the
  * HOF composition is pinned in OptimizationR15Spec. */
case class LshBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  @transient private lazy val digest =
    java.security.MessageDigest.getInstance("MD5")
  private val HexChars = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rowsPerBand * 20 + 4)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append(b).append('|')
      var j = 0
      while (j < rowsPerBand) {
        sb.append(arr.getLong(b * rowsPerBand + j))
        j += 1
      }
      digest.reset()
      // the assembled string is pure ASCII (digits + '|'), so the
      // UTF-8 bytes Spark's md5(concat(...)) hashes are the low bytes
      val n = sb.length
      val bytes = new Array[Byte](n)
      var i = 0
      while (i < n) { bytes(i) = sb.charAt(i).toByte; i += 1 }
      val raw = digest.digest(bytes)
      val hex = new Array[Byte](32)
      i = 0
      while (i < 16) {
        hex(2 * i) = HexChars((raw(i) >> 4) & 0xf).toByte
        hex(2 * i + 1) = HexChars(raw(i) & 0xf).toByte
        i += 1
      }
      out(b) = org.apache.spark.unsafe.types.UTF8String.fromBytes(hex)
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBandKeys", this,
      classOf[LshBandKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_lsh_band_keys"
}

/** Integer band keys over a bit-signature (r15): exactly
  * `transform(sequence(0, bands-1), b -> aggregate(slice(sig,
  * b*r+1, r), 0, (acc, v) -> acc*2 + v))` — each band's key is its
  * r bits read as a binary integer — but as one fused loop. Same
  * rationale as [[LshBandKeys]]: the HOF chain evaluated interpreted
  * inside the hyperplane-signature scan stage (the dominant stage of
  * the graph edge builds) and broke whole-stage codegen there. */
case class IntBandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  def compute(arr: ArrayData): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var acc = 0
      var j = 0
      while (j < rowsPerBand) {
        acc = acc * 2 + arr.getInt(b * rowsPerBand + j)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intBandKeys", this,
      classOf[IntBandKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.compute($c);
    """)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "graft_int_band_keys"
}
