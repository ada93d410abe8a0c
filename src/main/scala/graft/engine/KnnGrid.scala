package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, lit, sqrt}

import graft.functions.SpatialFunctions.stCoverCells
import graft.geom.AABB
import graft.index.{CellGrid, CellGridN}

/** What [[SpatialOps.twoPassKnn]] needs of a grid `G`: the cells of its two
  * passes. A query row is qid and the grid's point columns — (x, y)
  * doubles on a [[CellGrid]], one `Array[Double]` on a [[CellGridN]] —
  * under any names, read by position.
  */
private[engine] sealed trait KnnGrid[G] {

  /** Pass A: each query row paired with every cell
    * [[CellHistogram.ringCells]] returns for it, as (cell, query columns).
    */
  def ringCandidates(grid: G, hist: CellHistogram, need: Long)(
      queries: DataFrame): DataFrame

  /** Pass B: each (qid, dUp, point) row paired with every cell of the
    * [[KnnGrid.DiscPad]]-padded ball of squared radius dUp around its
    * point, as (cell, qid, point).
    */
  def ballCover(grid: G)(bounds: DataFrame): DataFrame
}

private[engine] object KnnGrid {

  /** Relative pad on a pass-B radius: `sqrt` rounds, and an unpadded ball
    * can shave off the cell its boundary touches. A padded cover is a
    * superset of the unpadded one, so the exact top-k cut is unchanged.
    */
  val DiscPad: Double = 1.0 + 1e-12

  /** Square rings; the disc's cover is one codegen [[stCoverCells]] Column. */
  implicit object Grid2D extends KnnGrid[CellGrid] {
    def ringCandidates(grid: CellGrid, hist: CellHistogram, need: Long)(
        queries: DataFrame): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val histB = hist.broadcast(spark)
      val Array(id, x, y) = queries.columns
      queries.as[(Long, Double, Double)].flatMap { case (qid, qx, qy) =>
        val cx = grid.ix(qx); val cy = grid.iy(qy)
        histB.value.ringCells(need, grid.cellsPerAxis)(r => grid.ring(cx, cy, r))
          .map(c => (c, qid, qx, qy))
      }.toDF("cell", id, x, y)
    }

    def ballCover(grid: CellGrid)(bounds: DataFrame): DataFrame = {
      val Array(qid, dUp, x, y) = bounds.columns
      val (qx, qy) = (col(x), col(y))
      val r = sqrt(col(dUp)) * lit(DiscPad)
      bounds.select(explode(stCoverCells(grid)(qx - r, qy - r, qx + r, qy + r))
        .as("cell"), col(qid), qx, qy)
    }
  }

  /** Chebyshev shells; the ball is covered through its bounding box. */
  implicit object GridND extends KnnGrid[CellGridN] {
    def ringCandidates(grid: CellGridN, hist: CellHistogram, need: Long)(
        queries: DataFrame): DataFrame = {
      val spark = queries.sparkSession
      import spark.implicits._
      val histB = hist.broadcast(spark)
      val Array(id, p) = queries.columns
      queries.as[(Long, Array[Double])].flatMap { case (qid, qp) =>
        val c0 = Array.tabulate(grid.dims)(d => grid.idx(d, qp(d)))
        histB.value.ringCells(need, grid.cellsPerAxis)(r => grid.ring(c0, r))
          .map(c => (c, qid, qp))
      }.toDF("cell", id, p)
    }

    def ballCover(grid: CellGridN)(bounds: DataFrame): DataFrame = {
      val spark = bounds.sparkSession
      import spark.implicits._
      val Array(id, _, p) = bounds.columns
      bounds.as[(Long, Double, Array[Double])].flatMap { case (qid, dUp, qp) =>
        val r = math.sqrt(dUp) * DiscPad
        grid.cover(AABB.fromBounds(qp.map(_ - r), qp.map(_ + r)))
          .map(c => (c, qid, qp))
      }.toDF("cell", id, p)
    }
  }
}
