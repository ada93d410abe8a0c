package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnShim.{column, expression => e}

/** The native Catalyst expressions of this package as `Column`s, one
  * function each: the only module that converts between Column and
  * Expression, so operator code never does.
  */
object NativeFunctions {

  /** Polynomial rolling hash of a string column: fold
    * h = (h·31 + codepoint) mod P31 over the characters — evaluated by the
    * native codegen expression [[StrHash31]] (one JVM loop per row; the
    * equivalent per-character HOF chain costs a lambda dispatch and a
    * single-char UTF8String per step). SQL twin:
    * [[OracleHash.polyHash31Sql]].
    */
  def polyHash31(s: Column): Column = column(StrHash31(e(s)))

  /** Whole minhash signature (array of `numPerms` 31-bit minima) computed
    * by the native [[MinHashSig]] expression in one pass per document —
    * bit-identical to exploding shingles and min-aggregating
    * `OracleHash.affine(polyHash31(shingle))` per permutation.
    */
  def minhashSig(s: Column, n: Int, numPerms: Int): Column =
    column(MinHashSig(e(s), n, numPerms))

  /** Sorted-distinct 31-bit shingle-hash set per document (native
    * [[ShingleHash31s]] expression) — the per-doc set representation the
    * exact-Jaccard verify intersects; twin space is `SELECT DISTINCT
    * doc_id, sh31` in the generated CTEs.
    */
  def shingleHash31s(s: Column, n: Int): Column =
    column(ShingleHash31s(e(s), n))

  def winnowFps(text: Column, k: Int, w: Int): Column =
    column(WinnowFps(e(text), k, w))

  def misraGries(c: Column, k: Int): Column =
    column(MisraGries(e(c), k).toAggregateExpression())

  def bloomAgg(c: Column, bits: Int, hashes: Int): Column =
    column(BloomAgg(e(c), bits, hashes).toAggregateExpression())

  def bloomMightContain(c: Column, bitmap: Array[Byte], hashes: Int): Column =
    column(BloomMightContain(e(c), bitmap, hashes))

  // Array dot products and distance; the suffix letters name the element
  // types of (a, b): F float, D double, L long.
  def dotFF(a: Column, b: Column): Column = column(ArrayDotFF(e(a), e(b)))
  def dotFD(a: Column, b: Column): Column = column(ArrayDotFD(e(a), e(b)))
  def dotLL(a: Column, b: Column): Column = column(ArrayDotLL(e(a), e(b)))
  def dotLD(a: Column, b: Column): Column = column(ArrayDotLD(e(a), e(b)))
  def dist2LD(a: Column, b: Column): Column = column(ArrayDist2LD(e(a), e(b)))
}
