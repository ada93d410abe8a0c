package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing a document's SORTED DISTINCT
  * winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003) in ONE tight
  * JVM pass over the codepoints — the in-row replacement for the
  * posexplode + Window.partitionBy(doc_id) plan that shuffled one row per
  * character position of the whole corpus to compute a doc-LOCAL fold
  * (the `repetitionStats` anti-explode design applied to winnowing).
  *
  * Semantics are bit-identical to the exploded form and to the DuckDB
  * twin (`PipelineQueries.fingerprintsSql`):
  *   - gram hash = NativeFunctions.polyHash31 of each k-codepoint substring
  *     (h = fold (h·31 + cp) mod 2^31-1 — [[StrHash31]]'s codepoint walk),
  *     computed here as a rolling hash: subtracting the leading
  *     codepoint's 31^(k-1) term mod p is EXACT modular arithmetic, so
  *     every gram hash equals the direct fold bit-for-bit (spec-pinned
  *     against the direct computation).
  *   - fingerprints = min hash of every FULL w-window of consecutive
  *     grams (positions 0 .. n-w for n = numChars-k+1 grams), distinct.
  *     Documents with fewer than w grams yield an empty array (callers
  *     filter `length(text) >= k+w-1`, the twin's full-window rule).
  *   - on malformed UTF-8 that gate and this decoder can disagree: lead
  *     bytes 0xC0–0xC1 decode here as 2-byte and 0xF5–0xFF as 4-byte
  *     sequences, where Spark's `length` counts each as one character
  *     and reads on at the next byte. A malformed document can then pass
  *     the gate and yield no fingerprint, or fail it while holding a full
  *     window. On valid UTF-8 the two counts agree.
  *
  * The sliding-window minima ride a monotone deque (O(n) total), then
  * sort + dedup in place ([[ShingleHash31s]]'s representation contract).
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"bad winnowing params: k=$k w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fps needs a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  protected override def nullSafeEval(input: Any): Any =
    WinnowFps.fps(input.asInstanceOf[UTF8String], k, w)

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowFps.fps($c, $k, $w)")

  protected override def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  private final val P31 = 2147483647L

  /** Called from both interpreted eval and generated code. */
  def fps(s: UTF8String, k: Int, w: Int): ArrayData = {
    // decode codepoints once (same malformed-input rules as StrHash31:
    // lone continuation bytes are 1-byte values, truncated tails clamp)
    val nb = s.numBytes()
    var cps = new Array[Int](math.min(nb, 64))
    var nCp = 0
    var i = 0
    while (i < nb) {
      val b0 = s.getByte(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0xc0) {
        if ((b0 & 0xe0) == 0xc0) { cp = b0 & 0x1f; len = 2 }
        else if ((b0 & 0xf0) == 0xe0) { cp = b0 & 0x0f; len = 3 }
        else { cp = b0 & 0x07; len = 4 }
        if (i + len > nb) len = nb - i
        var j = 1
        while (j < len) { cp = (cp << 6) | (s.getByte(i + j) & 0x3f); j += 1 }
      }
      if (nCp == cps.length)
        cps = java.util.Arrays.copyOf(cps, cps.length * 2)
      cps(nCp) = cp; nCp += 1
      i += len
    }
    val nGrams = nCp - k + 1
    val nWins = nGrams - w + 1
    if (nWins <= 0) return new GenericArrayData(Array.emptyLongArray)

    // rolling gram hashes: g(p+1) = ((g(p) - cps(p)·31^(k-1)) · 31 +
    // cps(p+k)) mod P31 — exact mod-p arithmetic (cp < 2^21, pw < 2^31,
    // product < 2^52; g·31 + cp < 2^36: no overflow anywhere)
    var pw = 1L // 31^(k-1) mod p
    var e = 1
    while (e < k) { pw = pw * 31L % P31; e += 1 }
    var g = 0L
    i = 0
    while (i < k) { g = (g * 31L + cps(i)) % P31; i += 1 }

    // monotone deque over the grams; window p covers grams [p, p+w-1]
    val dqPos = new Array[Int](nGrams)
    val dqVal = new Array[Long](nGrams)
    var head = 0
    var tail = 0 // deque is dq[head, tail)
    val mins = new Array[Long](nWins)
    var p = 0
    while (p < nGrams) {
      if (p > 0) {
        // slide: drop cps(p-1), add cps(p-1+k)
        val drop = cps(p - 1) * pw % P31
        g = ((g - drop + P31) * 31L + cps(p - 1 + k)) % P31
      }
      while (tail > head && dqVal(tail - 1) >= g) tail -= 1
      dqPos(tail) = p; dqVal(tail) = g; tail += 1
      if (dqPos(head) <= p - w) head += 1
      if (p >= w - 1) mins(p - (w - 1)) = dqVal(head)
      p += 1
    }

    // sorted-distinct in place (ShingleHash31s pattern)
    java.util.Arrays.sort(mins)
    var wr = 0
    i = 0
    while (i < mins.length) {
      if (wr == 0 || mins(i) != mins(wr - 1)) { mins(wr) = mins(i); wr += 1 }
      i += 1
    }
    new GenericArrayData(
      if (wr == mins.length) mins else java.util.Arrays.copyOf(mins, wr))
  }
}
