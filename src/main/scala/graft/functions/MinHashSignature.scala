package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a document's word n-gram shingles as one native
  * Catalyst expression: `numHashes` minima of the universal-hash family
  * g_i(x) = (a_i·x + b_i) mod (2^31−1) over x = md5Base60(shingle) folded
  * into [0, 2^31−1) ([[MinHash.compute]] has the exact definition).
  *
  * The built-in composition (split → shingle `transform` → per-seed
  * `transform` + `array_min`) runs in the interpreter — the higher-order
  * functions are `CodegenFallback` — boxing every long and building four
  * temporary strings per shingle. This expression walks the text's UTF-8
  * bytes once per document, hashes each shingle with one reused MD5
  * digest and keeps the running minima in a `long[]`; codegen emits a
  * static call, like [[JaroWinklerSim]].
  *
  * Output: non-null `array<bigint>` of `numHashes` elements (nullable
  * element type); a NULL text yields `numHashes` NULL elements.
  */
case class MinHashSignature(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression with Serializable {

  require(shingleN >= 1 && numHashes >= 1,
    s"minhash_signature needs shingleN >= 1 and numHashes >= 1, got $shingleN, $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  @transient private lazy val family: Array[Long] = MinHash.family(numHashes)

  override def eval(input: InternalRow): Any =
    MinHash.compute(child.eval(input).asInstanceOf[UTF8String], shingleN, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val fam = ctx.addReferenceObj("minhashFamily", family, "long[]")
    ev.copy(code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.MinHash.compute(
      |  ${c.isNull} ? null : ${c.value}, $shingleN, $fam);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash {

  private val MersennePrime31 = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) hash-family seeds, fixed RNG seed. */
  def seeds(n: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)((rnd.nextInt(Int.MaxValue - 2).toLong + 1,
                 rnd.nextInt(Int.MaxValue - 1).toLong))
  }

  /** The first `n` seeds interleaved as a0, b0, a1, b1, … */
  def family(n: Int): Array[Long] =
    seeds(n).iterator.flatMap { case (a, b) => Iterator(a, b) }.toArray

  /** Per-thread scratch: the digest, the text bytes and token bounds. */
  private final class Scratch {
    val md: MessageDigest = MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var bytes = new Array[Byte](256)
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var mins = new Array[Long](0)
  }

  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0D) // Java regex \s: [ \t\n\x0B\f\r]

  /** Signature of `text` under the interleaved seed `family`.
    *
    * Definition — the same shingles as `Dedup.wordShingles` over
    * `TextOps.tokens`, hashed as `Dedup.md5Base60`, so the DuckDB oracle
    * replays it:
    *  - tokens: Spark `trim` (strips 0x20 only); empty → no tokens, else
    *    Java `split("\\s+", -1)` — a leading non-space whitespace run
    *    yields a leading "" token, a trailing one a trailing "".
    *  - shingles: every window of `shingleN` consecutive tokens joined by
    *    one space; fewer tokens than `shingleN` → one shingle of all tokens
    *    joined (so an empty document hashes "").
    *  - x = top 60 bits of md5(shingle UTF-8 bytes) mod 2^31−1; signature
    *    position i = min over shingles of (a_i·x + b_i) mod 2^31−1
    *    (products stay below 2^62, so no long overflows).
    * All whitespace bytes are ASCII, which never occur inside a UTF-8
    * multibyte sequence, so the byte scan splits exactly where the Java
    * String split does. Invalid UTF-8 is first decoded and re-encoded,
    * as the String round trip inside Spark's `split` does.
    */
  def compute(text: UTF8String, shingleN: Int, family: Array[Long]): ArrayData = {
    val numHashes = family.length / 2
    if (text == null) return new GenericArrayData(new Array[Any](numHashes))
    val s = scratch.get()

    var len = 0
    if (text.isValid) {
      len = text.numBytes
      if (s.bytes.length < len) s.bytes = new Array[Byte](math.max(len, 2 * s.bytes.length))
      text.writeToMemory(s.bytes, Platform.BYTE_ARRAY_OFFSET)
    } else {
      s.bytes = text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      len = s.bytes.length
    }
    val buf = s.bytes

    // trim 0x20, then split on maximal \s runs
    var lo = 0
    var hi = len
    while (lo < hi && buf(lo) == ' ') lo += 1
    while (hi > lo && buf(hi - 1) == ' ') hi -= 1
    var nTok = 0
    if (lo < hi) {
      var tokStart = lo
      var i = lo
      while (i <= hi) {
        if (i == hi || isSpace(buf(i))) {
          if (nTok == s.starts.length) grow(s)
          s.starts(nTok) = tokStart
          s.ends(nTok) = i
          nTok += 1
          var j = i
          while (j < hi && isSpace(buf(j))) j += 1
          tokStart = j
          i = if (j == i) i + 1 else j
        } else i += 1
      }
    }

    if (s.mins.length != numHashes) s.mins = new Array[Long](numHashes)
    val mins = s.mins
    java.util.Arrays.fill(mins, Long.MaxValue)
    val nShingles = if (nTok < shingleN) 1 else nTok - shingleN + 1
    val width = math.min(nTok, shingleN)
    val md = s.md
    var w = 0
    while (w < nShingles) {
      var k = w
      while (k < w + width) {
        if (k > w) md.update(' '.toByte)
        md.update(buf, s.starts(k), s.ends(k) - s.starts(k))
        k += 1
      }
      md.digest(s.digest, 0, 16)
      val x = (top64(s.digest) >>> 4) % MersennePrime31
      var h = 0
      while (h < numHashes) {
        val g = (x * family(2 * h) + family(2 * h + 1)) % MersennePrime31
        if (g < mins(h)) mins(h) = g
        h += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  private def top64(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFF); i += 1 }
    v
  }

  private def grow(s: Scratch): Unit = {
    val n = 2 * s.starts.length
    s.starts = java.util.Arrays.copyOf(s.starts, n)
    s.ends = java.util.Arrays.copyOf(s.ends, n)
  }
}
