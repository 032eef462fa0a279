package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity as a native Catalyst expression —
  * Spark ships levenshtein but no Jaro family, and record-linkage
  * pipelines (name/address matching) lean on JW's prefix emphasis.
  *
  * Semantics match DuckDB's `jaro_winkler_similarity` (RapidFuzz
  * conventions, probed empirically): empty input → 0, match window
  * `max(|a|,|b|)/2 − 1`, Winkler prefix boost (p = 0.1, prefix ≤ 4)
  * applied only when jaro > 0.7 — so the oracle replays it; compare on
  * `round(…, 6)` per the cross-engine float convention. Comparison
  * units are Unicode codepoints (RapidFuzz convention) — the general
  * path decodes surrogate pairs, so non-BMP text (emoji, CJK-ext)
  * scores identically to DuckDB, not just the ASCII fixture.
  *
  * Codegen emits a static call ([[JaroWinkler.compute]]) — the
  * expression stays inside WholeStageCodegen (no interpreter fallback)
  * while the matching loop lives in plain JVM code, the same pattern
  * Spark's own complex string built-ins use. The hot path (both sides
  * pure-ASCII, ≤ 64 chars — every TPC-H name) runs straight over the
  * UTF8String bytes with two Long bitmasks as the match flags: no
  * String materialization, no per-call array allocation.
  */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == StringType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two string arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinkler.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static entry point shared by interpreted eval and generated code. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    if (ua.numBytes == 0 || ub.numBytes == 0) return 0.0 // DuckDB convention, incl. ("","")
    if (ua.equals(ub)) return 1.0
    val ba = ua.getBytes
    val bb = ub.getBytes
    if (ba.length <= 64 && bb.length <= 64 && allAscii(ba) && allAscii(bb))
      asciiBitmask(ba, bb)
    else
      generic(codePoints(ua.toString), codePoints(ub.toString))
  }

  private def allAscii(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < b.length) { if (b(i) < 0) return false; i += 1 }
    true
  }

  /** Surrogate-pair-aware decode: one int per Unicode codepoint. */
  private def codePoints(s: String): Array[Int] = {
    val n = s.codePointCount(0, s.length)
    val out = new Array[Int](n)
    var i = 0
    var k = 0
    while (k < n) { val cp = s.codePointAt(i); out(k) = cp; i += Character.charCount(cp); k += 1 }
    out
  }

  /** ASCII hot path: match flags live in two Longs (inputs ≤ 64 bytes),
    * transpositions walk the set bits — zero heap allocation. */
  private def asciiBitmask(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    var aM = 0L
    var bM = 0L
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      while (j <= hi) {
        if (((bM >>> j) & 1L) == 0L && a(i) == b(j)) {
          aM |= 1L << i; bM |= 1L << j; m += 1; j = hi + 1
        } else j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var am = aM
    var bm = bM
    while (am != 0L) {
      if (a(java.lang.Long.numberOfTrailingZeros(am)) !=
          b(java.lang.Long.numberOfTrailingZeros(bm))) t += 1
      am &= am - 1L
      bm &= bm - 1L
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    while (l < math.min(4, math.min(la, lb)) && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  /** General path over codepoint arrays (non-ASCII or > 64 units). */
  private def generic(a: Array[Int], b: Array[Int]): Double = {
    val la = a.length
    val lb = b.length
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    while (l < math.min(4, math.min(la, lb)) && a(l) == b(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }
}

/** Column surface. */
object StringFunctions {
  def jaro_winkler(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** MinHash signature of `text`'s word `shingleN`-gram shingles
    * ([[MinHashSignature]]). */
  def minhash_signature(text: Column, shingleN: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(text), shingleN, numHashes))
}
