package graft.index

/** Packed 2-D point R-tree: the cache-friendly per-partition index for the
  * dominant case (point layers at scale). Struct-of-arrays layout — STR
  * bulk order (Leutenegger et al. 1997), implicit fan-out-F node tree
  * stored as flat envelope arrays per level, no objects anywhere on the
  * query path. This is the JVM answer to the reference's inline-envelope
  * memory layout (SURVEY §4: stack-allocated small collections are
  * irrelevant distributively, but the flat layout matters for probe rate);
  * semantics (closed intervals, float-exact distances) match `LocalRTree`,
  * which remains the general-geometry / n-dim implementation.
  *
  * Layout: points are reordered into STR order (vertical slabs by x, then y
  * within a slab). Leaf i covers points [i·L, min((i+1)·L, n)). Level 0 is
  * the leaves; node j at level ℓ+1 covers nodes [j·F, min((j+1)·F, m_ℓ)).
  * Envelopes per level are packed as [minX, minY, maxX, maxY] · m.
  */
@SerialVersionUID(1L)
final class PointRTree2D private (
    val size: Int,
    val ids: Array[Long],     // STR order
    val xs: Array[Double],    // STR order
    val ys: Array[Double],    // STR order
    levels: Array[Array[Double]], // envelopes per level; levels(0) = leaves
    leafSize: Int,
    fanout: Int
) extends Serializable {

  import PointRTree2D._

  private def envDist2(level: Int, i: Int, px: Double, py: Double): Double = {
    val e = levels(level)
    val b = 4 * i
    val cx = math.min(e(b + 2), math.max(e(b), px)) - px
    val cy = math.min(e(b + 3), math.max(e(b + 1), py)) - py
    cx * cx + cy * cy
  }

  private def envIntersects(level: Int, i: Int,
      qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double): Boolean = {
    val e = levels(level)
    val b = 4 * i
    e(b) <= qMaxX && e(b + 2) >= qMinX && e(b + 1) <= qMaxY && e(b + 3) >= qMinY
  }

  private def nodesAt(level: Int): Int = levels(level).length / 4

  /** Visit every point whose coordinates fall in the closed box. */
  def foreachInBox(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double)(
      f: Int => Unit): Unit = {
    if (size == 0) return
    def walk(level: Int, i: Int): Unit = {
      if (!envIntersects(level, i, qMinX, qMinY, qMaxX, qMaxY)) return
      if (level == 0) {
        val from = i * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          val x = xs(p); val y = ys(p)
          if (qMinX <= x && x <= qMaxX && qMinY <= y && y <= qMaxY) f(p)
          p += 1
        }
      } else {
        val from = i * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) { walk(level - 1, c); c += 1 }
      }
    }
    var i = 0
    val top = levels.length - 1
    while (i < nodesAt(top)) { walk(top, i); i += 1 }
  }

  /** Visit every point with squared distance ≤ r2 from (px, py). */
  def foreachWithin(px: Double, py: Double, r2: Double)(f: Int => Unit): Unit = {
    if (size == 0) return
    def walk(level: Int, i: Int): Unit = {
      if (envDist2(level, i, px, py) > r2) return
      if (level == 0) {
        val from = i * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          val dx = xs(p) - px; val dy = ys(p) - py
          if (dx * dx + dy * dy <= r2) f(p)
          p += 1
        }
      } else {
        val from = i * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) { walk(level - 1, c); c += 1 }
      }
    }
    var i = 0
    val top = levels.length - 1
    while (i < nodesAt(top)) { walk(top, i); i += 1 }
  }

  /** k nearest points, emitted in ascending distance order; when
    * `keepTies`, extends past k while the distance equals the k-th
    * (float-exact, K3 semantics). Best-first search over a primitive heap
    * of (level, index) handles; leaves push their points individually.
    */
  def nearestK(px: Double, py: Double, k: Int, keepTies: Boolean = false)(
      emit: (Int, Double) => Unit): Unit = {
    if (size == 0 || k <= 0) return
    val heap = new LongHeap(64)
    val top = levels.length - 1
    var i = 0
    while (i < nodesAt(top)) {
      heap.enqueue(envDist2(top, i, px, py), encodeNode(top, i))
      i += 1
    }
    var taken = 0
    var kth = Double.MaxValue
    while (heap.nonEmpty) {
      val d = heap.headKey
      if (taken >= k && !(keepTies && d == kth)) return
      val h = heap.dequeue()
      if (isPoint(h)) {
        val p = pointIndex(h)
        emit(p, d)
        taken += 1
        kth = d
      } else {
        val level = nodeLevel(h)
        val idx = nodeIndex(h)
        if (level == 0) {
          val from = idx * leafSize
          val to = math.min(from + leafSize, size)
          var p = from
          while (p < to) {
            val dx = xs(p) - px; val dy = ys(p) - py
            heap.enqueue(dx * dx + dy * dy, encodePoint(p))
            p += 1
          }
        } else {
          val from = idx * fanout
          val to = math.min(from + fanout, nodesAt(level - 1))
          var c = from
          while (c < to) {
            heap.enqueue(envDist2(level - 1, c, px, py),
              encodeNode(level - 1, c))
            c += 1
          }
        }
      }
    }
  }
}

object PointRTree2D {
  // heap handle encoding: positive = point index; negative = node handle
  // with level in the high bits
  private def encodePoint(p: Int): Long = p.toLong
  private def encodeNode(level: Int, i: Int): Long =
    -(((level.toLong + 1) << 40) | i.toLong)
  private def isPoint(h: Long): Boolean = h >= 0
  private def pointIndex(h: Long): Int = h.toInt
  private def nodeLevel(h: Long): Int = ((-h) >> 40).toInt - 1
  private def nodeIndex(h: Long): Int = ((-h) & 0xffffffffffL).toInt

  /** STR bulk load. Inputs may be in any order; they are copied and
    * reordered. leafSize/fanout 16 ≈ two cache lines of coordinates per
    * leaf scan.
    */
  def build(ids: Array[Long], xs: Array[Double], ys: Array[Double],
      leafSize: Int = 16, fanout: Int = 16): PointRTree2D = {
    val n = xs.length
    val order = Array.range(0, n)
    val boxedOrder = order.map(Integer.valueOf) // sort with comparators
    // STR: sort by x, cut into vertical slabs, sort each slab by y
    java.util.Arrays.sort(boxedOrder, (a: Integer, b: Integer) =>
      java.lang.Double.compare(xs(a), xs(b)))
    val leaves = math.max(1, (n + leafSize - 1) / leafSize)
    val slabs = math.max(1, math.ceil(math.sqrt(leaves.toDouble)).toInt)
    val slabLen = ((n + slabs - 1) / slabs + leafSize - 1) / leafSize * leafSize
    var s = 0
    while (s < n) {
      val e = math.min(s + math.max(slabLen, leafSize), n)
      java.util.Arrays.sort(boxedOrder, s, e, (a: Integer, b: Integer) =>
        java.lang.Double.compare(ys(a), ys(b)))
      s = e
    }
    val oIds = new Array[Long](n)
    val oXs = new Array[Double](n)
    val oYs = new Array[Double](n)
    var i = 0
    while (i < n) {
      val src = boxedOrder(i).intValue
      oIds(i) = ids(src); oXs(i) = xs(src); oYs(i) = ys(src)
      i += 1
    }
    // bottom-up envelope levels
    val lvls = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var m = leaves
    val leafEnv = new Array[Double](4 * m)
    i = 0
    while (i < m) {
      var minX = Double.MaxValue; var minY = Double.MaxValue
      var maxX = -Double.MaxValue; var maxY = -Double.MaxValue
      val from = i * leafSize
      val to = math.min(from + leafSize, n)
      var p = from
      while (p < to) {
        if (oXs(p) < minX) minX = oXs(p)
        if (oXs(p) > maxX) maxX = oXs(p)
        if (oYs(p) < minY) minY = oYs(p)
        if (oYs(p) > maxY) maxY = oYs(p)
        p += 1
      }
      leafEnv(4 * i) = minX; leafEnv(4 * i + 1) = minY
      leafEnv(4 * i + 2) = maxX; leafEnv(4 * i + 3) = maxY
      i += 1
    }
    lvls += leafEnv
    while (m > 1) {
      val pm = (m + fanout - 1) / fanout
      val prev = lvls.last
      val cur = new Array[Double](4 * pm)
      var j = 0
      while (j < pm) {
        var minX = Double.MaxValue; var minY = Double.MaxValue
        var maxX = -Double.MaxValue; var maxY = -Double.MaxValue
        val from = j * fanout
        val to = math.min(from + fanout, m)
        var c = from
        while (c < to) {
          if (prev(4 * c) < minX) minX = prev(4 * c)
          if (prev(4 * c + 1) < minY) minY = prev(4 * c + 1)
          if (prev(4 * c + 2) > maxX) maxX = prev(4 * c + 2)
          if (prev(4 * c + 3) > maxY) maxY = prev(4 * c + 3)
          c += 1
        }
        cur(4 * j) = minX; cur(4 * j + 1) = minY
        cur(4 * j + 2) = maxX; cur(4 * j + 3) = maxY
        j += 1
      }
      lvls += cur
      m = pm
    }
    new PointRTree2D(n, oIds, oXs, oYs, lvls.toArray, leafSize, fanout)
  }
}
