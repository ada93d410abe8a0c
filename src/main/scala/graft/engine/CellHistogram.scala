package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.CellGrid

/** Per-cell entry counts, ascending by cell — the candidate bound shared
  * by every distributed kNN operator. The grid operators answer rstar's
  * `nearest_neighbor_iter` (rstar/src/rtree.rs:1094) in two passes:
  *
  *   Pass A: ring-expand from the query's cell over this histogram until
  *   the visited cells hold ≥ k entries ([[ringCells]]); the k-th smallest
  *   candidate distance d_up bounds the true k-th NN distance from above.
  *   Pass B: probe every cell of the padded d_up ball
  *   ([[KnnGrid.ballCover]]); no entry outside it can beat the k-th
  *   candidate in hand, so the top-k over those candidates is exact.
  *
  * [[SpatialOps.twoPassKnn]] is the one skeleton of the two passes, for
  * 2-D `CellGrid`s and n-D `CellGridN`s alike ([[KnnGrid]]); each operator
  * supplies only its histogram, probe and cut.
  *
  * On a 2-D grid the counts alone also bound d_up, with no probe
  * ([[knnBound]]), so a query's exact cover is known before any entry is
  * read ([[knnCover]]): [[IndexStore.knnQuery]] plans its covers on the
  * driver and probes the stored trees in one job with no shuffle — each
  * scan partition cuts its queries' k best, and the driver merges them.
  *
  * Bounded by the grid (≤ 4^res entries), so it is collected to the
  * driver and broadcast. An [[IndexStore]] group's cell manifest is the
  * same type.
  */
final case class CellHistogram(cells: Array[Long], ns: Array[Long]) {

  /** Entries in cell `c` (0 when absent): a binary search. */
  def count(c: Long): Long = {
    val i = java.util.Arrays.binarySearch(cells, c)
    if (i >= 0) ns(i) else 0L
  }

  /** The ring pass: walks `ring(0)`, `ring(1)`, … up to `maxRing` and
    * returns the non-empty cells visited, stopping after the first ring at
    * which their counts reach `need`. `ring(r)` lists the cells exactly r
    * steps from the query's cell, each once.
    */
  def ringCells(need: Long, maxRing: Int)(ring: Int => Seq[Long]): Array[Long] = {
    val out = Array.newBuilder[Long]
    var cum = 0L
    var r = 0
    while (cum < need && r <= maxRing) {
      ring(r).foreach { c =>
        val n = count(c)
        if (n > 0) { out += c; cum += n }
      }
      r += 1
    }
    out.result()
  }

  /** The count bound on a 2-D grid: an upper bound on the squared distance
    * from (qx, qy) to its `need`-th nearest entry, read from the counts
    * alone. The [[ringCells]] walk's cells are sorted by the squared
    * distance to their box's farthest corner, and their counts summed in
    * that order until `need` is reached: every entry of those cells lies
    * within that cell's distance (rstar's bound-then-cover argument,
    * `nearest_neighbor.rs:232-295`, with counts as the bound's source).
    * A border cell counts as unbounded, because out-of-domain entries
    * clamp into it; so does a NaN distance, and a histogram holding fewer
    * than `need` entries. Unbounded is +∞.
    */
  def knnBound(grid: CellGrid, need: Long)(qx: Double, qy: Double): Double = {
    val (cx, cy) = (grid.ix(qx), grid.iy(qy))
    val visited = ringCells(need, grid.cellsPerAxis)(r => grid.ring(cx, cy, r))
    val far = visited.map(farD2(grid, _, qx, qy))
    val order = visited.indices.sortBy(far)(Ordering.Double.TotalOrdering)
    var cum = 0L
    var bound = 0.0
    var i = 0
    while (cum < need && i < order.length) {
      cum += count(visited(order(i))); bound = far(order(i)); i += 1
    }
    if (cum < need || bound.isNaN) Double.PositiveInfinity else bound
  }

  /** Squared distance from (qx, qy) to the farthest corner of cell `c`'s
    * box, widened by ~100 ulps of the domain's coordinates: more than
    * floating-point cell assignment can misplace an entry by. +∞ for a
    * border cell.
    */
  private def farD2(grid: CellGrid, c: Long, qx: Double, qy: Double): Double = {
    val n = grid.cellsPerAxis
    val (cx, cy) = ((c / n).toInt, (c % n).toInt)
    if (cx == 0 || cy == 0 || cx == n - 1 || cy == n - 1) Double.PositiveInfinity
    else {
      val box = grid.cellBox(c)
      def far(q: Double, axis: Int, slack: Double) = math.max(
        math.abs(q - (box.lower(axis) - slack)), math.abs(q - (box.upper(axis) + slack)))
      val dx = far(qx, 0, 1e-14 * (math.abs(grid.minX) + math.abs(grid.maxX)))
      val dy = far(qy, 1, 1e-14 * (math.abs(grid.minY) + math.abs(grid.maxY)))
      dx * dx + dy * dy
    }
  }

  /** The one-pass cover of a 2-D kNN query: the non-empty cells meeting
    * the bounding box of the [[KnnGrid.DiscPad]]-padded disc of squared
    * radius [[knnBound]] around (qx, qy), ascending; every non-empty cell
    * when unbounded. It holds every entry of the query's exact top
    * `need`, ties included.
    */
  def knnCover(grid: CellGrid, need: Long)(qx: Double, qy: Double): Array[Long] = {
    val r = math.sqrt(knnBound(grid, need)(qx, qy)) * KnnGrid.DiscPad
    if (r.isInfinite) cells
    else {
      def from(c: Long) = {
        val i = java.util.Arrays.binarySearch(cells, c)
        if (i >= 0) i else -i - 1
      }
      val (y0, y1) = (grid.iy(qy - r), grid.iy(qy + r))
      // cells are row-major, so a column's cells in [y0, y1] are one run
      (grid.ix(qx - r) to grid.ix(qx + r)).iterator.flatMap { cx =>
        cells.slice(from(grid.cellOf(cx, y0)), from(grid.cellOf(cx, y1) + 1))
      }.toArray
    }
  }

  /** Ships this histogram to the executors — the one broadcast of every
    * kNN operator. Lifetime: the returned handle is captured by the lazy
    * plan of the operator's result, which may be executed any number of
    * times, so it is never destroyed eagerly; Spark's ContextCleaner
    * removes its blocks once that plan is no longer referenced.
    */
  def broadcast(spark: SparkSession): Broadcast[CellHistogram] =
    spark.sparkContext.broadcast(this)
}

object CellHistogram {

  val empty: CellHistogram = CellHistogram(Array.emptyLongArray, Array.emptyLongArray)

  def of(counts: Iterable[(Long, Long)]): CellHistogram = {
    val s = counts.toArray.sortBy(_._1)
    CellHistogram(s.map(_._1), s.map(_._2))
  }

  /** The histogram of a one-column frame of cell ids: one map-side-combined
    * `groupBy(cell).count` job, sorted on the driver.
    */
  def collect(cells: DataFrame): CellHistogram = {
    val spark = cells.sparkSession
    import spark.implicits._
    of(cells.toDF("cell").groupBy("cell").count().as[(Long, Long)].collect())
  }
}
