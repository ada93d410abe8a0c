package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnShim.{column, expression => e}

/** The native Catalyst expressions of this package as `Column`s, one
  * function each, so operator code never converts between Column and
  * Expression itself (the [[OracleHash.polyHash31]] pattern).
  */
object NativeFunctions {

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
