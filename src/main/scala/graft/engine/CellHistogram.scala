package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-cell entry counts, ascending by cell — the candidate bound shared
  * by every distributed kNN operator. Each answers rstar's
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
