package graft.perfbench

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.engine.{PointRow, QueryRow, RectRow}

/** Independent answers, computed on the driver by plain loops over the
  * generated inputs — no index, no grid and no code of the program. They
  * run outside every timed region.
  */
object Oracles {

  /** Spark's `xxhash64(lid, rid)` of one pair. */
  def pairHash(lid: Long, rid: Long): Long =
    XXH64.hashLong(rid, XXH64.hashLong(lid, 42L))

  /** Count and order-free digest (xor of pair hashes) of a pair set. */
  final case class PairDigest(count: Long, xor: Long)

  private def hits(p: PointRow, r: RectRow): Boolean =
    r.minX <= p.x && p.x <= r.maxX && r.minY <= p.y && p.y <= r.maxY

  /** Every (point, rect) pair with the point inside the closed rect.
    * Rects are bucketed by the 1° bins they cover, so each point tests
    * only the rects of its own bin; every such test is the exact closed
    * interval check, and a pair is counted once because a point lies in
    * exactly one bin.
    */
  def pointRectPairs(points: Array[PointRow], rects: Array[RectRow]): PairDigest = {
    def bin(v: Double): Int = math.floor(v).toInt
    val buckets = mutable.HashMap.empty[Long, mutable.ArrayBuffer[RectRow]]
    def key(bx: Int, by: Int): Long = (bx.toLong << 32) ^ (by & 0xffffffffL)
    rects.foreach { r =>
      var bx = bin(r.minX)
      while (bx <= bin(r.maxX)) {
        var by = bin(r.minY)
        while (by <= bin(r.maxY)) {
          buckets.getOrElseUpdate(key(bx, by), mutable.ArrayBuffer.empty) += r
          by += 1
        }
        bx += 1
      }
    }
    var n = 0L
    var x = 0L
    points.foreach { p =>
      buckets.get(key(bin(p.x), bin(p.y))).foreach(_.foreach { r =>
        if (hits(p, r)) { n += 1; x ^= pairHash(p.id, r.id) }
      })
    }
    PairDigest(n, x)
  }

  /** Rect ids containing `p`, by a scan over every rect. */
  def rectsContaining(p: PointRow, rects: Array[RectRow]): Seq[Long] =
    rects.iterator.filter(r => hits(p, r)).map(_.id).toSeq.sorted

  /** Exact k nearest of `q` by (d2, id), scanning every point. Rows are
    * (id, d2, rank from 1).
    */
  def knn(q: QueryRow, pts: collection.IndexedSeq[PointRow],
      k: Int): Seq[(Long, Double, Int)] = {
    // bounded max-heap on (d2, id): keeps the k smallest
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    val heap = mutable.PriorityQueue.empty[(Double, Long)](ord)
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      val dx = p.x - q.x
      val dy = p.y - q.y
      val c = (dx * dx + dy * dy, p.id)
      if (heap.size < k) heap.enqueue(c)
      else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
      i += 1
    }
    heap.toSeq.sorted(ord).zipWithIndex.map { case ((d2, id), r) =>
      (id, d2, r + 1)
    }
  }

  /** Points inside the closed box, by a scan; sorted by id. */
  def inBox(pts: collection.IndexedSeq[PointRow],
      b: (Double, Double, Double, Double)): Seq[(Long, Double, Double)] =
    pts.iterator
      .filter(p => b._1 <= p.x && p.x <= b._3 && b._2 <= p.y && p.y <= b._4)
      .map(p => (p.id, p.x, p.y)).toSeq.sortBy(_._1)

  /** Every n/size-th element: a deterministic sample. */
  def sample[T: ClassTag](xs: Array[T], size: Int): Array[T] = {
    val step = math.max(1, xs.length / size)
    xs.indices.by(step).take(size).map(xs(_)).toArray
  }
}
