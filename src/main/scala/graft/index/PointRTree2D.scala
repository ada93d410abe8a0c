package graft.index

/** Packed 2-D point R-tree: the cache-friendly per-partition index for the
  * dominant case (point layers at scale). Struct-of-arrays layout — OMT
  * bulk order (the reference's top-down `bulk_load_sequential.rs:15-101`),
  * implicit fan-out-F node tree stored as flat envelope arrays per level,
  * no objects anywhere on the query path. This is the JVM answer to the
  * reference's inline-envelope memory layout (SURVEY §4: stack-allocated
  * small collections are irrelevant distributively, but the flat layout
  * matters for probe rate); semantics (closed intervals, float-exact
  * distances) match `LocalRTree`, which remains the general-geometry /
  * n-dim implementation.
  *
  * Layout: leaf i covers points [i·L, min((i+1)·L, n)). Level 0 is the
  * leaves; node j at level ℓ+1 covers nodes [j·F, min((j+1)·F, m_ℓ)); the
  * top level is the one root. Envelopes per level are packed as
  * [minX, minY, maxX, maxY] · m. Any point order is a valid tree under
  * this layout; `build` chooses the OMT one, so every run of F sibling
  * nodes is a tile, not a strip.
  *
  * Order: squared distances are ordered as `Double.compare` orders them
  * (NaN last, NaN == NaN), the total order of the window path. A NaN
  * coordinate never widens an envelope; its point's d2 is NaN for every
  * query, the order's maximum.
  */
@SerialVersionUID(1L)
final class PointRTree2D private (
    val size: Int,
    val ids: Array[Long],     // OMT order
    val xs: Array[Double],    // OMT order
    val ys: Array[Double],    // OMT order
    levels: Array[Array[Double]], // envelopes per level; levels(0) = leaves
    leafSize: Int,
    fanout: Int
) extends Serializable {

  import PointRTree2D._

  /** Squared distance from (px, py) to envelope i of `level`, a lower
    * bound of the d2 of every point below it. An axis whose interval holds
    * the query coordinate (or whose coordinate is NaN) adds 0, so the bound
    * is never NaN, even where a point's d2 is (±Inf − ±Inf).
    */
  private def envDist2(level: Int, i: Int, px: Double, py: Double): Double = {
    val e = levels(level)
    val b = 4 * i
    val dx = if (px < e(b)) e(b) - px else if (px > e(b + 2)) px - e(b + 2) else 0.0
    val dy = if (py < e(b + 1)) e(b + 1) - py else if (py > e(b + 3)) py - e(b + 3) else 0.0
    dx * dx + dy * dy
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
    walk(levels.length - 1, 0)
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
    walk(levels.length - 1, 0)
  }

  /** k nearest points, emitted in ascending distance order; when
    * `keepTies`, extends past k while the distance equals the k-th
    * (K3 semantics, in `Double.compare` order). Pruned best-first search
    * (the reference's `nearest_neighbor.rs:232-295`): only node handles
    * go on the primitive heap, a popped leaf is scanned straight into the
    * sorted result buffer, a child or point enters only while it can still
    * beat the current k-th distance, and the search ends when the heap's
    * head cannot. All state is per call: one tree serves concurrent tasks.
    */
  def nearestK(px: Double, py: Double, k: Int, keepTies: Boolean = false)(
      emit: (Int, Double) => Unit): Unit = {
    if (size == 0 || k <= 0) return
    val best = new KBest(k, keepTies, math.min(k, size) + 1)
    val heap = new LongHeap(64)
    val top = levels.length - 1
    heap.enqueue(envDist2(top, 0, px, py), handle(top, 0))
    while (heap.nonEmpty && best.admits(heap.headKey)) {
      val h = heap.dequeue()
      val level = handleLevel(h)
      val idx = handleIndex(h)
      if (level == 0) {
        val from = idx * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          val dx = xs(p) - px; val dy = ys(p) - py
          val d = dx * dx + dy * dy
          if (best.admits(d)) best.add(d, p)
          p += 1
        }
      } else {
        val from = idx * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) {
          val d = envDist2(level - 1, c, px, py)
          if (best.admits(d)) heap.enqueue(d, handle(level - 1, c))
          c += 1
        }
      }
    }
    best.emitAll(emit)
  }
}

object PointRTree2D {
  // heap payload: node level in the high word, node index in the low word
  private def handle(level: Int, i: Int): Long = (level.toLong << 32) | i
  private def handleLevel(h: Long): Int = (h >>> 32).toInt
  private def handleIndex(h: Long): Int = h.toInt

  /** The running answer of one `nearestK` call: candidates ascending in
    * `Double.compare` order, at most k of them plus, when `keepTies`,
    * every one tied with the k-th.
    */
  private final class KBest(k: Int, keepTies: Boolean, capacity: Int) {
    private var ds = new Array[Double](capacity)
    private var ps = new Array[Int](capacity)
    private var n = 0

    /** Could a point (or a node bound) at distance d still enter? */
    def admits(d: Double): Boolean = n < k || {
      val c = java.lang.Double.compare(d, ds(k - 1))
      c < 0 || (c == 0 && keepTies)
    }

    /** Insert an admitted candidate, then drop what it pushed past the cut. */
    def add(d: Double, p: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, 2 * n)
        ps = java.util.Arrays.copyOf(ps, 2 * n)
      }
      var j = n
      while (j > 0 && java.lang.Double.compare(ds(j - 1), d) > 0) {
        ds(j) = ds(j - 1); ps(j) = ps(j - 1)
        j -= 1
      }
      ds(j) = d; ps(j) = p
      n += 1
      // slots from k on hold the former k-th and its ties: all stay while
      // they tie the new k-th, else all go
      if (n > k && !(keepTies && java.lang.Double.compare(ds(k), ds(k - 1)) == 0))
        n = k
    }

    def emitAll(emit: (Int, Double) => Unit): Unit = {
      var j = 0
      while (j < n) { emit(ps(j), ds(j)); j += 1 }
    }
  }

  /** OMT bulk load (top-down, `bulk_load_sequential.rs:15-101`). Inputs
    * may be in any order; they are copied and reordered. leafSize/fanout
    * 16 ≈ two cache lines of coordinates per leaf scan.
    */
  def build(ids: Array[Long], xs: Array[Double], ys: Array[Double],
      leafSize: Int = 16, fanout: Int = 16): PointRTree2D = {
    val n = xs.length
    val oXs = xs.clone()
    val oYs = ys.clone()
    val order = Array.range(0, n)
    // caps(ℓ) = points under one node of level ℓ, for each level below
    // the root (so caps.length is the root's level)
    val caps = Iterator.iterate(leafSize.toLong)(_ * fanout)
      .takeWhile(_ < n).map(_.toInt).toArray
    omt(Array(oXs, oYs), order, 0, n, caps.length, caps)
    val oIds = new Array[Long](n)
    var i = 0
    while (i < n) { oIds(i) = ids(order(i)); i += 1 }
    // bottom-up envelope levels
    val lvls = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var m = math.max(1, (n + leafSize - 1) / leafSize)
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

  /** Order [lo, hi), the points of one node of `level`: cut it into
    * ceil(√g) x-slabs of whole children (g = its child count), cut each
    * slab by y into children of caps(level − 1) points, and recurse into
    * each child. Cuts are `LocalRTree.selectSlabs` (multi-way quickselect
    * on the coordinate columns, `order` permuted alongside).
    */
  private def omt(keys: Array[Array[Double]], order: Array[Int],
      lo: Int, hi: Int, level: Int, caps: Array[Int]): Unit = {
    if (level == 0) return
    val childCap = caps(level - 1)
    val g = LocalRTree.ceilDiv(hi - lo, childCap)
    val slab = LocalRTree.ceilDiv(g, math.ceil(math.sqrt(g.toDouble)).toInt) * childCap
    LocalRTree.selectSlabs(keys, order, lo, hi, 0, LocalRTree.slabBounds(lo, hi, slab))
    var s = lo
    while (s < hi) {
      val e = math.min(s + slab, hi)
      LocalRTree.selectSlabs(keys, order, s, e, 1,
        LocalRTree.slabBounds(s, e, childCap))
      var c = s
      while (c < e) {
        omt(keys, order, c, math.min(c + childCap, e), level - 1, caps)
        c += childCap
      }
      s = e
    }
  }
}
