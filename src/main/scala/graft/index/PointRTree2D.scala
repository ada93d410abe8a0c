package graft.index

/** Packed 2-D R-tree of points or boxes: the cache-friendly index of every
  * 2-D engine probe (broadcast joins, per-cell kNN trees, the stored
  * tree). Struct-of-arrays layout — OMT bulk order (the reference's
  * top-down `bulk_load_sequential.rs:15-101`), implicit fan-out-F node tree
  * stored as flat envelope arrays per level, no objects anywhere on the
  * query path. This is the JVM answer to the reference's inline-envelope
  * memory layout (SURVEY §4: stack-allocated small collections are
  * irrelevant distributively, but the flat layout matters for probe rate);
  * semantics (closed intervals, float-exact distances) match `LocalRTree`,
  * which remains the rstar reproduction: node graph, R* insert, n-dim and
  * general geometry.
  *
  * Entries: a point tree holds (xs, ys) and null `maxXs`/`maxYs`; a box
  * tree holds each box's lower corner in (xs, ys) and its upper corner in
  * (maxXs, maxYs), lower ≤ upper on each axis. One tree type serves both,
  * as rstar's one `RTree` serves any `RTreeObject` (SURVEY §1.1). The name
  * stays `PointRTree2D`: `IndexStore` persists point trees by Java
  * serialization under this class name and `@SerialVersionUID`, and the
  * benchmark replays call it by name. A point tree written before the box
  * columns existed reads back with both null, a point tree.
  *
  * Layout: leaf i covers entries [i·L, min((i+1)·L, n)). Level 0 is the
  * leaves; node j at level ℓ+1 covers nodes [j·F, min((j+1)·F, m_ℓ)); the
  * top level is the one root. Envelopes per level are packed as
  * [minX, minY, maxX, maxY] · m. Any entry order is a valid tree under
  * this layout; `build` chooses the OMT one (keyed on the lower corner, as
  * `LocalRTree.bulkLoad` is), so every run of F sibling nodes is a tile,
  * not a strip.
  *
  * Order: squared distances are ordered as `Double.compare` orders them
  * (NaN last, NaN == NaN), the total order of the window path. A NaN
  * coordinate never widens an envelope; its entry's d2 is NaN for every
  * query, the order's maximum, and it is never a box hit (rstar's positive
  * comparisons, rstar/src/aabb.rs:140-165).
  *
  * k-NN: best-first over node handles, seeded with the leaf that a greedy
  * descent reaches (the child of least envelope distance at each level).
  * That leaf is scanned first, so the search holds a k-th distance before
  * its first pop and prunes children from the root's expansion on. It
  * stands in for the bound rstar's `nearest_neighbor` has from the start
  * (MinMaxDist, `nearest_neighbor.rs:232-295`).
  */
@SerialVersionUID(1L)
final class PointRTree2D private (
    val size: Int,
    val ids: Array[Long],     // OMT order
    val xs: Array[Double],    // OMT order; a box's lower corner
    val ys: Array[Double],    // OMT order; a box's lower corner
    val maxXs: Array[Double], // OMT order; a box's upper corner, null for points
    val maxYs: Array[Double], // OMT order; a box's upper corner, null for points
    levels: Array[Array[Double]], // envelopes per level; levels(0) = leaves
    leafSize: Int,
    fanout: Int
) extends Serializable {

  import PointRTree2D._

  /** Squared distance from (px, py) to envelope i of `level`, a lower
    * bound of the d2 of every entry below it. An axis whose interval holds
    * the query coordinate (or whose coordinate is NaN) adds 0, so the bound
    * is never NaN, even where an entry's d2 is (±Inf − ±Inf).
    */
  private def envDist2(level: Int, i: Int, px: Double, py: Double): Double = {
    val e = levels(level)
    val b = 4 * i
    val dx = if (px < e(b)) e(b) - px else if (px > e(b + 2)) px - e(b + 2) else 0.0
    val dy = if (py < e(b + 1)) e(b + 1) - py else if (py > e(b + 3)) py - e(b + 3) else 0.0
    dx * dx + dy * dy
  }

  private def nodesAt(level: Int): Int = levels(level).length / 4

  /** Squared distance from (px, py) to box entry p: each axis clamps the
    * query into the box, subtracts and squares, the IEEE order of
    * `stBoxDistanceSq`. On a zero-area box it equals the point distance
    * bit for bit.
    */
  private def boxDist2(p: Int, px: Double, py: Double): Double = {
    val dx = math.min(maxXs(p), math.max(xs(p), px)) - px
    val dy = math.min(maxYs(p), math.max(ys(p), py)) - py
    dx * dx + dy * dy
  }

  /** Squared distance from (px, py) to entry p, a point or a box. */
  private def dist2(p: Int, px: Double, py: Double): Double =
    if (maxXs == null) { val dx = xs(p) - px; val dy = ys(p) - py; dx * dx + dy * dy }
    else boxDist2(p, px, py)

  /** Visit every entry whose box meets the closed query box (a point: lies
    * in it). Positive comparisons, so a NaN bound never matches. Each
    * child's envelope is tested in its parent's loop; the walk recurses
    * only on a hit.
    */
  def foreachInBox(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double)(
      f: Int => Unit): Unit = {
    // a point is the box [x, x] × [y, y]
    val uxs = if (maxXs == null) xs else maxXs
    val uys = if (maxYs == null) ys else maxYs
    def meets(e: Array[Double], b: Int): Boolean =
      e(b) <= qMaxX && e(b + 2) >= qMinX && e(b + 1) <= qMaxY && e(b + 3) >= qMinY
    def walk(level: Int, i: Int): Unit =
      if (level == 0) {
        val from = i * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          if (xs(p) <= qMaxX && uxs(p) >= qMinX && ys(p) <= qMaxY && uys(p) >= qMinY) f(p)
          p += 1
        }
      } else {
        val e = levels(level - 1)
        val from = i * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) {
          if (meets(e, 4 * c)) walk(level - 1, c)
          c += 1
        }
      }
    val top = levels.length - 1
    if (size > 0 && meets(levels(top), 0)) walk(top, 0)
  }

  /** Visit every entry with squared distance ≤ r2 from (px, py). */
  def foreachWithin(px: Double, py: Double, r2: Double)(f: Int => Unit): Unit = {
    def walk(level: Int, i: Int): Unit =
      if (level == 0) {
        val from = i * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          if (dist2(p, px, py) <= r2) f(p)
          p += 1
        }
      } else {
        val from = i * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) {
          if (envDist2(level - 1, c, px, py) <= r2) walk(level - 1, c)
          c += 1
        }
      }
    val top = levels.length - 1
    if (size > 0 && envDist2(top, 0, px, py) <= r2) walk(top, 0)
  }

  /** k nearest entries, emitted in ascending distance order; when
    * `keepTies`, extends past k while the distance equals the k-th
    * (K3 semantics, in `Double.compare` order). Pruned best-first search
    * (the reference's `nearest_neighbor.rs:232-295`), seeded: a greedy
    * descent (least envelope distance at each level) reaches one leaf,
    * which is scanned first, so the k-th distance prunes from the root's
    * expansion on, as the reference's MinMaxDist bound (Roussopoulos,
    * Kelley and Vincent 1995) does. Then only node handles go on the
    * primitive heap, a popped leaf other than the seed is scanned straight
    * into the sorted result buffer, a child or entry enters only while it
    * can still beat the current k-th distance, and the search ends when
    * the heap's head cannot. All state is per call: one tree serves
    * concurrent tasks.
    */
  def nearestK(px: Double, py: Double, k: Int, keepTies: Boolean = false)(
      emit: (Int, Double) => Unit): Unit = {
    if (size == 0 || k <= 0) return
    val best = new KBest(k, keepTies, math.min(k, size) + 1)
    val top = levels.length - 1
    var seed = 0 // the greedy descent's node, a leaf once l reaches 0
    var l = top
    while (l > 0) {
      val from = seed * fanout
      val to = math.min(from + fanout, nodesAt(l - 1))
      var least = Double.PositiveInfinity
      seed = from
      var c = from
      while (c < to) {
        val d = envDist2(l - 1, c, px, py)
        if (d < least) { least = d; seed = c }
        c += 1
      }
      l -= 1
    }
    scan(seed, px, py, best)
    val heap = new LongHeap(64)
    heap.enqueue(envDist2(top, 0, px, py), handle(top, 0))
    while (heap.nonEmpty && best.admits(heap.headKey)) {
      val h = heap.dequeue()
      val level = handleLevel(h)
      val idx = handleIndex(h)
      if (level == 0) {
        if (idx != seed) scan(idx, px, py, best)
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

  /** Offer every entry of leaf `leaf` to `best`. */
  private def scan(leaf: Int, px: Double, py: Double, best: KBest): Unit =
    if (maxXs == null) scanLeaf(leaf, px, py, best) else scanBoxLeaf(leaf, px, py, best)

  /** [[scan]] of a point tree's leaf. */
  private def scanLeaf(leaf: Int, px: Double, py: Double, best: KBest): Unit = {
    val from = leaf * leafSize
    val to = math.min(from + leafSize, size)
    var p = from
    while (p < to) {
      val dx = xs(p) - px; val dy = ys(p) - py
      val d = dx * dx + dy * dy
      if (best.admits(d)) best.add(d, p)
      p += 1
    }
  }

  /** [[scan]] of a box tree's leaf. */
  private def scanBoxLeaf(leaf: Int, px: Double, py: Double, best: KBest): Unit = {
    val from = leaf * leafSize
    val to = math.min(from + leafSize, size)
    var p = from
    while (p < to) {
      val d = boxDist2(p, px, py)
      if (best.admits(d)) best.add(d, p)
      p += 1
    }
  }

  /** Lazy stream of every entry as (entry, d2), ascending in
    * `Double.compare` order — rstar's `nearest_neighbor_iter`
    * (rstar/src/rtree.rs:1075-1122, nearest_neighbor.rs:56-158): one heap
    * mixes node handles, keyed by envelope distance, and entries, keyed by
    * their exact distance, so a popped entry is the next nearest. An entry
    * whose d2 is NaN waits outside the heap (whose comparisons a NaN key
    * would break) and comes after all others.
    */
  def nearestIter(px: Double, py: Double): Iterator[(Int, Double)] = {
    val heap = new LongHeap(64)
    val nans = scala.collection.mutable.ArrayBuffer.empty[Int]
    val top = levels.length - 1
    if (size > 0) heap.enqueue(envDist2(top, 0, px, py), handle(top, 0))
    new Iterator[(Int, Double)] {
      private var nanPos = 0
      def hasNext: Boolean = {
        settle(heap, px, py, nans)
        heap.nonEmpty || nanPos < nans.length
      }
      def next(): (Int, Double) = {
        if (!hasNext) throw new NoSuchElementException
        if (heap.nonEmpty) {
          val d = heap.headKey
          (handleIndex(heap.dequeue()), d)
        } else {
          nanPos += 1
          (nans(nanPos - 1), Double.NaN)
        }
      }
    }
  }

  /** Expand [[nearestIter]]'s heap until an entry heads it or it is empty:
    * a popped leaf enqueues its entries by exact distance (a NaN one goes
    * to `nans`), a popped node its children by envelope distance.
    */
  private def settle(heap: LongHeap, px: Double, py: Double,
      nans: scala.collection.mutable.ArrayBuffer[Int]): Unit =
    while (heap.nonEmpty && (heap.headVal & EntryBit) == 0) {
      val h = heap.dequeue()
      val level = handleLevel(h)
      val idx = handleIndex(h)
      if (level == 0) {
        val from = idx * leafSize
        val to = math.min(from + leafSize, size)
        var p = from
        while (p < to) {
          val d = dist2(p, px, py)
          if (d.isNaN) nans += p else heap.enqueue(d, EntryBit | p)
          p += 1
        }
      } else {
        val from = idx * fanout
        val to = math.min(from + fanout, nodesAt(level - 1))
        var c = from
        while (c < to) {
          heap.enqueue(envDist2(level - 1, c, px, py), handle(level - 1, c))
          c += 1
        }
      }
    }
}

object PointRTree2D {
  // heap payload: node level in the high word, node index in the low word;
  // an entry (nearestIter only) is its index with EntryBit set
  private val EntryBit = 1L << 62
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

  /** OMT bulk load (top-down, `bulk_load_sequential.rs:15-101`) of points
    * (xs, ys), or of boxes when the upper-corner columns `maxXs` and
    * `maxYs` are given. Inputs may be in any order; they are copied and
    * reordered. leafSize/fanout 16 ≈ two cache lines of coordinates per
    * leaf scan.
    */
  def build(ids: Array[Long], xs: Array[Double], ys: Array[Double],
      maxXs: Array[Double] = null, maxYs: Array[Double] = null,
      leafSize: Int = 16, fanout: Int = 16): PointRTree2D = {
    val n = xs.length
    val boxes = maxXs != null
    // OMT keys are columns 0 and 1 (the lower corner); selectSlabs permutes
    // the upper corner's columns alongside
    val cols = (if (boxes) Array(xs, ys, maxXs, maxYs) else Array(xs, ys)).map(_.clone())
    val (oXs, oYs) = (cols(0), cols(1))
    val (uXs, uYs) = if (boxes) (cols(2), cols(3)) else (oXs, oYs)
    val order = Array.range(0, n)
    // caps(ℓ) = entries under one node of level ℓ, for each level below
    // the root (so caps.length is the root's level)
    val caps = Iterator.iterate(leafSize.toLong)(_ * fanout)
      .takeWhile(_ < n).map(_.toInt).toArray
    omt(cols, order, 0, n, caps.length, caps)
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
        if (uXs(p) > maxX) maxX = uXs(p)
        if (oYs(p) < minY) minY = oYs(p)
        if (uYs(p) > maxY) maxY = uYs(p)
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
    new PointRTree2D(n, oIds, oXs, oYs, if (boxes) uXs else null,
      if (boxes) uYs else null, lvls.toArray, leafSize, fanout)
  }

  /** Order [lo, hi), the entries of one node of `level`: cut it into
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
