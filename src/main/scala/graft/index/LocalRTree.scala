package graft.index

import scala.collection.mutable
import graft.geom.AABB

/** One indexed element: a precomputed envelope plus the payload row.
  * Mirrors the reference's `GeomWithData` "row"
  * (rstar/src/primitives/geom_with_data.rs:34-38) with the envelope
  * memoized up front (the `CachedEnvelope` idiom,
  * rstar/src/primitives/cached_envelope.rs:16-58).
  */
@SerialVersionUID(1L)
final case class Entry[T](env: AABB, value: T) extends LocalRTree.Node[T]

/** Per-partition, serializable R-tree. This is the intra-partition half of
  * the two-level distributed index (SURVEY.md §1.1): Spark's cell grid
  * prunes partitions; this tree prunes within a partition.
  *
  * Semantics reproduce the reference `RTree` (rstar/src/rtree.rs:180-188):
  *   - OMT top-down bulk load (rstar/src/algorithm/bulk_load/
  *     bulk_load_sequential.rs:15-101, slab math cluster_group_iterator.rs:63-79);
  *   - R* insertion: choose-subtree by minimum overlap enlargement at the
  *     leaf level, forced reinsertion on first overflow, split axis by
  *     minimum perimeter sum, split index by minimum overlap
  *     (rstar/src/algorithm/rstar.rs:31-349; Beckmann et al. 1990);
  *   - selection queries with envelope-based subtree pruning
  *     (rstar/src/algorithm/selection_functions.rs:23-37);
  *   - best-first nearest neighbor with MinMaxDist pruning
  *     (rstar/src/algorithm/nearest_neighbor.rs:232-295; Roussopoulos 1995);
  *   - lazy distance-ordered iteration (nearest_neighbor.rs:56-158);
  *   - dual-tree intersection candidates (rstar/src/algorithm/
  *     intersection_iterator.rs:15-104).
  *
  * Each query has one implementation, a walk over the node graph. The
  * engine's 2-D probes (the broadcast box join, the per-cell rect and
  * segment kNN, the point trees) run on the packed [[PointRTree2D]]; this
  * tree serves the R* append path (`insertAppendRange`) and the rstar
  * parity suites.
  *
  * Not thread-safe for mutation; queries are read-only and safe to share.
  */
@SerialVersionUID(1L)
final class LocalRTree[T](
    val minSize: Int = 3,
    val maxSize: Int = 6,
    val reinsertionCount: Int = 2
) extends Serializable {
  require(minSize > 0, "MIN_SIZE must be at least 1")
  require(maxSize >= 2 * minSize, "MAX_SIZE must be at least 2 * MIN_SIZE")
  require(reinsertionCount < minSize, "REINSERTION_COUNT must be < MIN_SIZE")

  import LocalRTree._

  private var root: Inner[T] = Inner.empty[T]
  private var cnt: Int = 0

  def size: Int = cnt
  def rootNode: Inner[T] = root

  // ---------------------------------------------------------------- build

  /** OMT bulk load, O(n log n) — the preferred constructor
    * (rstar/src/rtree.rs:249-251). Elements are consumed as an array.
    */
  def bulkLoad(elements: Array[Entry[T]]): this.type = {
    root =
      if (elements.isEmpty) Inner.empty[T]
      else {
        val height = math.max(1, math.ceil(
          math.log(elements.length.toDouble) / math.log(maxSize.toDouble)).toInt)
        // Build once: per-axis primitive key columns + an index
        // permutation. All slab selection runs on these flat doubles —
        // comparing through es(i).env.lower(axis) costs two dependent
        // loads per key (Entry -> AABB -> array) and dominated the build
        // profile; the columns turn every comparison into one primitive
        // array read.
        val n = elements.length
        val dims = elements(0).env.dims
        val keys = Array.tabulate(dims)(d =>
          Array.tabulate(n)(i => elements(i).env.lower(d)))
        val idx = Array.tabulate(n)(identity)
        omtBuild(elements, keys, idx, 0, n, height)
      }
    cnt = elements.length
    this
  }

  /** Top-level OMT recursion (bulk_load_sequential.rs:15-42): ranges of at
    * most MAX_SIZE become leaf parents; larger ranges are sliced into
    * per-axis slabs, each slab recursing on the next axis, until axis 0,
    * where each final cluster builds a subtree. Slab boundaries are exact
    * order statistics of the envelope's lower corner along the slab axis,
    * placed by multi-way quickselect ([[LocalRTree.selectSlabs]]) — the
    * same selection the reference uses (rstar/src/aabb.rs:235-247,
    * select_nth_unstable_by); slab contents match a full sort's.
    */
  private def omtBuild(
      es: Array[Entry[T]], keys: Array[Array[Double]], idx: Array[Int],
      lo: Int, hi: Int, height: Int): Inner[T] = {
    val n = hi - lo
    if (height == 1) {
      // Leaf parent; callers guarantee n ≤ maxSize via the capacity cut.
      val children = new Array[Node[T]](n)
      var i = 0
      while (i < n) { children(i) = es(idx(lo + i)); i += 1 }
      return Inner.ofChildren(children)
    }
    // Each child subtree holds at most cap = MAX_SIZE^(height-1) elements so
    // every leaf lands at the same depth — the reference's uniform-height
    // invariant (rstar/src/node.rs:106-155). The explicit height budget is
    // a strengthening of the reference's slab math, which can produce
    // uneven sibling heights on awkward cluster sizes; queries are
    // insensitive to it, but our R* insert relies on uniform depth.
    val cap = math.pow(maxSize.toDouble, (height - 1).toDouble)
    val dims = keys.length
    val clustersOnAxis =
      math.max(2, math.floor(
        math.pow(math.ceil(n.toDouble / cap), 1.0 / dims)).toInt)
    val out = mutable.ArrayBuffer.empty[Node[T]]

    def slice(l: Int, h: Int, axisCountdown: Int): Unit = {
      val len = h - l
      if (axisCountdown == 0 || len <= cap) {
        out += omtBuild(es, keys, idx, l, h, height - 1)
      } else if (axisCountdown == 1) {
        // Last axis: cut into exactly enough groups to respect cap.
        val groups = ceilDiv(len, cap.toInt)
        val slab = ceilDiv(len, groups)
        selectSlabs(keys, idx, l, h, 0, slabBounds(l, h, slab))
        var s = l
        while (s < h) {
          val e = math.min(s + slab, h)
          out += omtBuild(es, keys, idx, s, e, height - 1)
          s = e
        }
      } else {
        val axis = axisCountdown - 1
        val slab = ceilDiv(len, clustersOnAxis)
        selectSlabs(keys, idx, l, h, axis, slabBounds(l, h, slab))
        var s = l
        while (s < h) {
          val e = math.min(s + slab, h)
          slice(s, e, axisCountdown - 1)
          s = e
        }
      }
    }
    slice(lo, hi, dims)
    Inner.ofChildren(out.toArray)
  }

  // --------------------------------------------------------------- insert

  /** R* single insert (rstar/src/rtree.rs:1158-1170, strategy
    * rstar/src/algorithm/rstar.rs:31-81). Used for insert-parity tests and
    * micro-batch appends; bulk load is the hot path.
    */
  def insert(entry: Entry[T]): Unit = {
    if (cnt == 0) {
      root = Inner.ofChildren(Array[Node[T]](entry))
      cnt = 1
      return
    }
    // One forced-reinsert round per tree level per top-level insert
    // (rstar/src/algorithm/rstar.rs:31-81).
    val reinsertedLevels = mutable.Set.empty[Int]
    insertRecWithReinsert(entry, targetLevel = 0, reinsertedLevels)
    cnt += 1
  }

  private def insertRecWithReinsert(
      entry: Node[T], targetLevel: Int,
      reinserted: mutable.Set[Int]): Unit = {
    val pending = mutable.Stack[(Node[T], Int)]((entry, targetLevel))
    while (pending.nonEmpty) {
      val (node, level) = pending.pop()
      // the descent path (root → overfull node) is recorded so overflow
      // handling walks ancestors in O(height): the previous root-rooted
      // searches (recomputeEnvelopesOnPath / findParent) made every
      // forced reinsert O(tree) — measured 0.01 M inserts/s at 100 k
      // points, ~140× off the reference's sequential-insert rate
      val path = mutable.ArrayBuffer.empty[Inner[T]]
      val overflow = insertAtLevel(root, node, height(root) - 1, level, path)
      overflow match {
        case Some(full) =>
          if (reinsertionCount > 0 && !reinserted.contains(full._2)) {
            reinserted += full._2
            reinsertOutliers(full._1, path).foreach(n =>
              pending.push((n, full._2)))
          } else {
            splitNode(full._1).foreach { sibling =>
              attachSibling(full._1, sibling, path)
            }
          }
        case None => ()
      }
    }
  }

  /** Descend to `targetLevel` (0 = leaf parent) choosing the subtree per R*
    * (rstar/src/algorithm/rstar.rs:154-216): at the level whose children are
    * leaves, minimize overlap enlargement (ties: area enlargement, then
    * area); above, minimize area enlargement (ties: area). Returns the
    * deepest overfull node + its level if an overflow occurred; appends
    * every visited node to `path` (root first).
    */
  private def insertAtLevel(
      node: Inner[T], toInsert: Node[T], nodeLevel: Int,
      targetLevel: Int, path: mutable.ArrayBuffer[Inner[T]]): Option[(Inner[T], Int)] = {
    node.env = node.env.merged(toInsert.env)
    path += node
    val childrenAreLeaves = node.children.isEmpty ||
      node.children.head.isInstanceOf[Entry[_]]
    if (nodeLevel == targetLevel || childrenAreLeaves) {
      node.children += toInsert
      if (node.children.length > maxSize) Some((node, nodeLevel)) else None
    } else {
      val child = chooseSubtree(node, toInsert.env)
      val deeper = insertAtLevel(child, toInsert, nodeLevel - 1, targetLevel, path)
      deeper.orElse {
        if (node.children.length > maxSize) Some((node, nodeLevel)) else None
      }
    }
  }

  private def chooseSubtree(node: Inner[T], env: AABB): Inner[T] = {
    val kids = node.children
    // Containment fast path (rstar/src/algorithm/rstar.rs:166-180): when
    // one or more children already fully CONTAIN the insertion envelope,
    // descend into the smallest-area one — O(M), no overlap arithmetic.
    // For point inserts into a warmed tree this is the common case, and
    // skipping it both deviated from the reference's choose_subtree rule
    // and made every descent pay the O(M²) overlap pass (measured 20+ µs
    // per insert at MAX_SIZE 40 — ~30× the reference's sequential rate).
    var inclBest: Inner[T] = null
    var inclArea = Double.MaxValue
    var ii = 0
    while (ii < kids.length) {
      val c = kids(ii).asInstanceOf[Inner[T]]
      if (c.env.containsEnvelope(env)) {
        val a = c.env.area
        if (a < inclArea) { inclArea = a; inclBest = c }
      }
      ii += 1
    }
    if (inclBest != null) return inclBest
    val grandchildrenAreLeaves =
      kids.head.asInstanceOf[Inner[T]].children.headOption
        .forall(_.isInstanceOf[Entry[_]])
    var best: Inner[T] = null
    var bestOverlap = Double.MaxValue
    var bestEnlarge = Double.MaxValue
    var bestArea = Double.MaxValue
    var i = 0
    while (i < kids.length) {
      val c = kids(i).asInstanceOf[Inner[T]]
      val merged = c.env.merged(env)
      val enlarge = merged.area - c.env.area
      val overlap =
        if (!grandchildrenAreLeaves) 0.0
        else {
          var ov = 0.0
          var j = 0
          while (j < kids.length) {
            if (j != i) {
              val other = kids(j).env
              ov += merged.intersectionArea(other) -
                c.env.intersectionArea(other)
            }
            j += 1
          }
          ov
        }
      val area = c.env.area
      val better =
        overlap < bestOverlap ||
          (overlap == bestOverlap && (enlarge < bestEnlarge ||
            (enlarge == bestEnlarge && area < bestArea)))
      // the first child stands when none compares below the start (the
      // reference's `min_index = 0`), e.g. on NaN areas from ±Inf extents
      if (best == null || better) {
        best = c; bestOverlap = overlap; bestEnlarge = enlarge; bestArea = area
      }
      i += 1
    }
    best
  }

  /** Forced reinsertion (rstar/src/algorithm/rstar.rs:327-349): remove the
    * REINSERTION_COUNT children whose centers are farthest from the node's
    * center and hand them back for reinsertion.
    */
  private def reinsertOutliers(node: Inner[T],
      path: mutable.ArrayBuffer[Inner[T]]): Seq[Node[T]] = {
    val center = node.env.center
    val sorted = node.children.sortBy { c =>
      -graft.geom.Pt.distance2(c.env.center, center)
    }
    val (out, keep) = sorted.splitAt(reinsertionCount)
    node.children.clear()
    node.children ++= keep
    node.recomputeEnv()
    // shrink ancestor envelopes along the recorded descent path — O(height)
    var i = path.indexWhere(_ eq node) - 1
    while (i >= 0) { path(i).recomputeEnv(); i -= 1 }
    out.toSeq
  }

  /** R* split (rstar/src/algorithm/rstar.rs:247-325): axis = minimum total
    * perimeter over all legal distributions of lower/upper-sorted children;
    * index = minimum overlap between the two groups (tie: minimum total
    * area). Returns the new sibling to attach at the parent.
    */
  private def splitNode(node: Inner[T]): Option[Inner[T]] = {
    val kids = node.children.toArray
    val n = kids.length
    val dims = node.env.dims

    def distributions(sorted: Array[Node[T]]): Iterator[Int] =
      Iterator.range(minSize, n - minSize + 1)

    var bestAxis = 0
    var bestAxisPerim = Double.MaxValue
    var axisSorted: Array[Node[T]] = null
    var axis = 0
    while (axis < dims) {
      val byLower = kids.sortBy(_.env.lower(axis))
      var perim = 0.0
      distributions(byLower).foreach { k =>
        perim += envOf(byLower, 0, k).perimeterValue +
          envOf(byLower, k, n).perimeterValue
      }
      // axis 0 stands when no sum is below the start (the reference's
      // `best_axis = 0`), e.g. when ±Inf extents make every sum Inf
      if (axisSorted == null || perim < bestAxisPerim) {
        bestAxisPerim = perim; bestAxis = axis; axisSorted = byLower
      }
      axis += 1
    }
    var bestK = minSize
    var bestOverlap = Double.MaxValue
    var bestArea = Double.MaxValue
    distributions(axisSorted).foreach { k =>
      val e1 = envOf(axisSorted, 0, k)
      val e2 = envOf(axisSorted, k, n)
      val ov = e1.intersectionArea(e2)
      val ar = e1.area + e2.area
      if (ov < bestOverlap || (ov == bestOverlap && ar < bestArea)) {
        bestOverlap = ov; bestArea = ar; bestK = k
      }
    }
    node.children.clear()
    node.children ++= axisSorted.take(bestK)
    node.recomputeEnv()
    val sibling = Inner.ofChildren(axisSorted.drop(bestK))
    Some(sibling)
  }

  private def attachSibling(node: Inner[T], sibling: Inner[T],
      path: mutable.ArrayBuffer[Inner[T]]): Unit = {
    if (node eq root) {
      val newRoot = Inner.ofChildren(Array[Node[T]](node, sibling))
      root = newRoot
    } else {
      // the parent is the path entry just above `node` — O(1) via the
      // recorded descent, not a root-rooted search
      val idx = path.indexWhere(_ eq node)
      require(idx > 0, "overflow node must sit on the recorded descent path")
      val parent = path(idx - 1)
      parent.children += sibling
      var i = idx - 1
      while (i >= 0) { path(i).recomputeEnv(); i -= 1 }
      if (parent.children.length > maxSize)
        splitNode(parent).foreach(s => attachSibling(parent, s, path))
    }
  }

  // -------------------------------------------------------------- queries

  /** Elements whose envelope is fully contained in `q` — the reference's
    * `locate_in_envelope` (rstar/src/rtree.rs:351-390): prune subtrees whose
    * envelope does not intersect `q`; accept leaves contained in `q`.
    */
  def queryContained(q: AABB): Iterator[Entry[T]] =
    select(env => q.intersects(env), e => q.containsEnvelope(e.env))

  /** Elements whose envelope intersects `q` — `locate_in_envelope_intersecting`
    * (rstar/src/rtree.rs:412-498); touching counts.
    */
  def queryIntersecting(q: AABB): Iterator[Entry[T]] =
    select(env => q.intersects(env), e => q.intersects(e.env))

  /** All elements containing point `p` — `locate_all_at_point`
    * (rstar/src/rtree.rs:802-843). `contains` decides per-leaf containment
    * (exact equality for points, box containment for rectangles —
    * rstar/src/object.rs:164-171).
    */
  def locateAllAtPoint(
      p: Array[Double],
      contains: Entry[T] => Boolean = null): Iterator[Entry[T]] = {
    val c =
      if (contains == null) (e: Entry[T]) => e.env.containsPoint(p)
      else contains
    select(env => env.containsPoint(p), c)
  }

  /** Elements with squared distance ≤ r² — `locate_within_distance`
    * (rstar/src/rtree.rs:1045-1060): prune by envelope distance lower bound.
    */
  def withinDistance2(
      p: Array[Double], r2: Double,
      dist: Entry[T] => Double = null): Iterator[Entry[T]] = {
    val d = if (dist == null) (e: Entry[T]) => e.env.distance2(p) else dist
    select(env => env.distance2(p) <= r2, e => d(e) <= r2)
  }

  /** Generic index-aware search — `locate_with_selection_function`
    * (rstar/src/rtree.rs:500-520). `unpackParent` prunes subtrees,
    * `acceptLeaf` is the final predicate
    * (rstar/src/algorithm/selection_functions.rs:23-37). Explicit-stack
    * external iteration as in rstar/src/algorithm/iterators.rs:42-95.
    */
  def select(
      unpackParent: AABB => Boolean,
      acceptLeaf: Entry[T] => Boolean): Iterator[Entry[T]] =
    new Iterator[Entry[T]] {
      private val stack = mutable.ArrayDeque.empty[Node[T]]
      if (cnt > 0 && unpackParent(root.env)) stack.append(root)
      private var nextEntry: Entry[T] = _
      private var ready = false

      private def advance(): Unit = {
        while (!ready && stack.nonEmpty) {
          stack.removeLast() match {
            case inner: Inner[T @unchecked] =>
              val kids = inner.children
              var i = 0
              while (i < kids.length) {
                val k = kids(i)
                k match {
                  case e: Entry[T @unchecked] =>
                    stack.append(e) // accepted or dropped on pop
                  case in: Inner[T @unchecked] =>
                    if (unpackParent(in.env)) stack.append(in)
                }
                i += 1
              }
            case e: Entry[T @unchecked] =>
              if (acceptLeaf(e)) { nextEntry = e; ready = true }
          }
        }
      }

      def hasNext: Boolean = { if (!ready) advance(); ready }
      def next(): Entry[T] = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        nextEntry
      }
    }

  /** Unordered scan of all elements (`iter`, rstar/src/rtree.rs:313-329). */
  def iterator: Iterator[Entry[T]] = select(_ => true, _ => true)

  /** Push-based `queryIntersecting` — the reference's `_int` style
    * (rstar/src/algorithm/iterators.rs:98-145, motivation rtree.rs:98-108):
    * the node-graph walk of the selection iterator. No engine path calls
    * it (the broadcast box join probes a packed [[PointRTree2D]]); the
    * benchmark's index replay times it.
    */
  def foreachIntersecting(q: AABB)(f: Entry[T] => Unit): Unit =
    queryIntersecting(q).foreach(f)

  /** FIRST element containing the point — `locate_at_point`
    * (rstar/src/rtree.rs:760-800): the lazy selection iterator stops at its
    * first hit.
    */
  def locateAtPoint(p: Array[Double]): Option[Entry[T]] =
    locateAllAtPoint(p).nextOption()

  /** Membership test (`contains`, rstar/src/rtree.rs:870-892). */
  def containsEntry(e: Entry[T]): Boolean =
    select(env => env.containsEnvelope(e.env), _ == e).hasNext

  // ------------------------------------------------------ nearest neighbor

  /** Exact 1-NN — branch-and-bound best-first search with MinMaxDist
    * pruning (rstar/src/rtree.rs:925-975, algorithm
    * rstar/src/algorithm/nearest_neighbor.rs:232-295). Returns the element
    * and its squared distance.
    */
  def nearestNeighbor(
      p: Array[Double],
      dist: Entry[T] => Double = null): Option[(Entry[T], Double)] = {
    if (cnt == 0) return None
    val d = if (dist == null) (e: Entry[T]) => e.env.distance2(p) else dist
    val heap = new DistHeap[Node[T]](32)
    var smallestMinMax = Double.MaxValue
    def pushChildren(inner: Inner[T]): Unit = {
      val kids = inner.children
      var i = 0
      while (i < kids.length) {
        val dd = kids(i).env.distance2(p)
        if (dd <= smallestMinMax) {
          kids(i) match {
            case e: Entry[T @unchecked] => heap.enqueue(dd, e)
            case in: Inner[T @unchecked] =>
              val mm = in.env.minMaxDist2(p)
              if (mm < smallestMinMax) smallestMinMax = mm
              heap.enqueue(dd, in)
          }
        }
        i += 1
      }
    }
    pushChildren(root)
    while (heap.nonEmpty) {
      val dd = heap.headKey
      val node = heap.dequeue()
      node match {
        case e: Entry[T @unchecked] =>
          val exact = d(e)
          if (exact <= dd || heap.isEmpty || exact <= heap.headKey)
            return Some((e, exact))
          else heap.enqueue(exact, e)
        case in: Inner[T @unchecked] => pushChildren(in)
      }
    }
    // Float-anomaly fallback: linear scan (rstar/src/rtree.rs:964-975).
    iterator.map(e => (e, d(e))).minByOption(_._2)
  }

  /** Lazy distance-ordered stream of ALL elements — `nearest_neighbor_iter`
    * (rstar/src/rtree.rs:1075-1122, algorithm nearest_neighbor.rs:56-158):
    * a min-heap mixing nodes (keyed by envelope lower-bound distance) and
    * elements (keyed by exact distance); a popped element is the next
    * nearest.
    */
  def nearestNeighborIter(
      p: Array[Double],
      dist: Entry[T] => Double = null): Iterator[(Entry[T], Double)] = {
    val d = if (dist == null) (e: Entry[T]) => e.env.distance2(p) else dist
    new Iterator[(Entry[T], Double)] {
      private val heap = new DistHeap[Node[T]](32)
      if (cnt > 0) heap.enqueue(root.env.distance2(p), root)

      private def settle(): Unit = {
        while (heap.nonEmpty && !heap.headVal.isInstanceOf[Entry[_]]) {
          val kids = heap.dequeue().asInstanceOf[Inner[T]].children
          var i = 0
          while (i < kids.length) {
            kids(i) match {
              case e: Entry[T @unchecked] => heap.enqueue(d(e), e)
              case in: Inner[T @unchecked] =>
                heap.enqueue(in.env.distance2(p), in)
            }
            i += 1
          }
        }
      }
      def hasNext: Boolean = { settle(); heap.nonEmpty }
      def next(): (Entry[T], Double) = {
        settle()
        val dd = heap.headKey
        val e = heap.dequeue()
        (e.asInstanceOf[Entry[T]], dd)
      }
    }
  }

  /** All co-equal nearest neighbors — `nearest_neighbors`
    * (rstar/src/rtree.rs:977-1043): the 1-NN then every element at exactly
    * the same distance (float-exact comparison, no epsilon —
    * nearest_neighbor.rs:297-321).
    */
  def nearestNeighbors(
      p: Array[Double],
      dist: Entry[T] => Double = null): Seq[Entry[T]] = {
    val it = nearestNeighborIter(p, dist)
    if (!it.hasNext) return Seq.empty
    val (first, d0) = it.next()
    val out = mutable.ArrayBuffer(first)
    var done = false
    while (!done && it.hasNext) {
      val (e, dd) = it.next()
      if (dd == d0) out += e else done = true
    }
    out.toSeq
  }

  /** k nearest elements, distance-ordered (batch form of K1/K2). */
  def nearestK(
      p: Array[Double], k: Int,
      dist: Entry[T] => Double = null): Seq[(Entry[T], Double)] =
    nearestNeighborIter(p, dist).take(k).toSeq

  /** 1-NN removed and returned — `pop_nearest_neighbor`
    * (rstar/src/rtree.rs:1124-1150).
    */
  def popNearestNeighbor(p: Array[Double]): Option[Entry[T]] =
    nearestNeighbor(p).map { case (e, _) =>
      removeOne(x => x eq e, x => x.containsEnvelope(e.env))
      e
    }

  // ---------------------------------------------------------------- joins

  /** Pairwise spatial join of two trees: all pairs whose envelopes
    * intersect — `intersection_candidates_with_other_tree`
    * (rstar/src/rtree.rs:522-534). Candidates only: no exact geometric
    * intersection check. Synchronized dual-tree descent; only child pairs
    * with intersecting envelopes are pushed
    * (rstar/src/algorithm/intersection_iterator.rs:15-104).
    */
  def intersectionCandidates[U](
      other: LocalRTree[U]): Iterator[(Entry[T], Entry[U])] =
    new Iterator[(Entry[T], Entry[U])] {
      private val stack = mutable.ArrayDeque.empty[(Node[T], Node[U])]
      if (cnt > 0 && other.size > 0 &&
        root.env.intersects(other.rootNode.env))
        stack.append((root, other.rootNode))
      private var out: (Entry[T], Entry[U]) = _
      private var ready = false

      private def pushPair(a: Node[T], b: Node[U]): Unit =
        if (a.env.intersects(b.env)) stack.append((a, b))

      private def advance(): Unit = {
        while (!ready && stack.nonEmpty) {
          stack.removeLast() match {
            case (a: Entry[T @unchecked], b: Entry[U @unchecked]) =>
              out = (a, b); ready = true
            case (a: Entry[T @unchecked], b: Inner[U @unchecked]) =>
              b.children.foreach(c => pushPair(a, c))
            case (a: Inner[T @unchecked], b: Entry[U @unchecked]) =>
              a.children.foreach(c => pushPair(c, b))
            case (a: Inner[T @unchecked], b: Inner[U @unchecked]) =>
              // expand both: cross all intersecting child pairs
              a.children.foreach { ca =>
                b.children.foreach { cb => pushPair(ca, cb) }
              }
          }
        }
      }
      def hasNext: Boolean = { if (!ready) advance(); ready }
      def next(): (Entry[T], Entry[U]) = {
        if (!hasNext) throw new NoSuchElementException
        ready = false
        out
      }
    }

  // -------------------------------------------------------------- removal

  /** Remove ONE matching element and return it — generalizes `remove`,
    * `remove_at_point`, `remove_with_selection_function`
    * (rstar/src/rtree.rs:696-706, :845-867, :894-917). The tree is rebuilt
    * consistent (bulk reload of the survivors — query-equivalent to the
    * reference's in-place removal with ancestor envelope recompute,
    * rstar/src/algorithm/removal.rs:120-126).
    */
  def removeOne(
      pred: Entry[T] => Boolean,
      prune: AABB => Boolean = _ => true): Option[Entry[T]] = {
    val victim = select(prune, pred).nextOption()
    victim.foreach { v =>
      val survivors = iterator.filter(_ ne v).toArray
      bulkLoad(survivors)
    }
    victim
  }

  /** Remove-and-yield all matches — the `drain_*` family
    * (rstar/src/rtree.rs:392-411, :708-740, :1062-1073).
    */
  def drain(
      pred: Entry[T] => Boolean = _ => true,
      prune: AABB => Boolean = _ => true): Seq[Entry[T]] = {
    val (removed, kept) = iterator.toArray.partition(e =>
      prune(e.env) && pred(e))
    bulkLoad(kept)
    removed.toSeq
  }

  // ----------------------------------------------------------- invariants

  private def height(n: Inner[T]): Int =
    n.children.headOption match {
      case Some(in: Inner[T @unchecked]) => 1 + height(in)
      case _ => 1
    }

  /** Structural invariant check, mirroring the reference's test-only
    * `sanity_check` (rstar/src/node.rs:106-155): uniform leaf depth, exact
    * parent envelopes, and — when `checkFanout` (insert-built trees) —
    * MIN_SIZE ≤ children ≤ MAX_SIZE for every non-root parent. Bulk loading
    * may legally exceed MAX_SIZE at the root (rstar/src/rtree.rs:1366-1370).
    */
  def sanityCheck(checkFanout: Boolean = false): Unit = {
    if (cnt == 0) return
    var leafDepth = -1
    def walk(n: Node[T], depth: Int, isRoot: Boolean): Unit = n match {
      case e: Entry[T @unchecked] =>
        if (leafDepth < 0) leafDepth = depth
        require(leafDepth == depth, s"non-uniform leaf depth: $depth vs $leafDepth")
      case in: Inner[T @unchecked] =>
        require(in.children.nonEmpty || isRoot, "empty non-root parent")
        if (checkFanout && !isRoot) {
          require(in.children.length >= minSize,
            s"underfull node: ${in.children.length} < $minSize")
          require(in.children.length <= maxSize,
            s"overfull node: ${in.children.length} > $maxSize")
        }
        val merged = AABB.empty(in.env.dims)
        in.children.foreach(c => merged.mergeInPlace(c.env))
        require(sameBounds(merged.lower, in.env.lower) &&
          sameBounds(merged.upper, in.env.upper),
          s"stale envelope: have ${in.env}, children merge to $merged")
        in.children.foreach(c => walk(c, depth + 1, isRoot = false))
    }
    walk(root, 0, isRoot = true)
  }

  /** Bounds compare as numbers, as the reference's `assert_eq!` on `f64`
    * does: insertion widens with `AABB.merged` (`math.min`/`math.max`, which
    * order -0.0 below 0.0) while the fold keeps the first of tied bounds,
    * so 0.0 and -0.0 both stand for one bound. NaN matches NaN.
    */
  private def sameBounds(a: Array[Double], b: Array[Double]): Boolean =
    a.indices.forall(i => a(i) == b(i) || a(i).isNaN && b(i).isNaN)
}

object LocalRTree {

  /** Tree node: either an element (`Entry`) or an interior node, mirroring
    * `RTreeNode::{Leaf,Parent}` (rstar/src/node.rs:23-45).
    */
  sealed trait Node[T] extends Serializable { def env: AABB }

  @SerialVersionUID(1L)
  final class Inner[T](
      var env: AABB,
      val children: mutable.ArrayBuffer[Node[T]]) extends Node[T] {
    def recomputeEnv(): Unit = {
      val dims = if (env != null) env.dims else 2
      val e = AABB.empty(dims)
      children.foreach(c => e.mergeInPlace(c.env))
      env = e
    }
  }

  object Inner {
    def empty[T]: Inner[T] =
      new Inner[T](AABB.empty(2), mutable.ArrayBuffer.empty)
    def ofChildren[T](cs: Array[Node[T]]): Inner[T] = {
      val buf = mutable.ArrayBuffer.empty[Node[T]]
      buf ++= cs
      val n = new Inner[T](if (cs.isEmpty) AABB.empty(2) else null, buf)
      if (cs.nonEmpty) {
        val e = AABB.empty(cs(0).env.dims)
        cs.foreach(c => e.mergeInPlace(c.env))
        n.env = e
      }
      n
    }
  }

  /** Primitive-keyed binary min-heap (double key + object payload): the
    * allocation-free analog of the reference's stack-first `SmallHeap`
    * (rstar/src/algorithm/nearest_neighbor.rs:160-230); boxed-tuple
    * PriorityQueue was the dominant cost of the NN hot loop.
    */
  private[index] final class DistHeap[V <: AnyRef](initialCapacity: Int) {
    private var keys = new Array[Double](initialCapacity)
    private var vals = new Array[AnyRef](initialCapacity)
    private var n = 0

    def isEmpty: Boolean = n == 0
    def nonEmpty: Boolean = n > 0
    def headKey: Double = keys(0)
    def headVal: V = vals(0).asInstanceOf[V]

    def enqueue(k: Double, v: V): Unit = {
      if (n == keys.length) {
        keys = java.util.Arrays.copyOf(keys, n * 2)
        vals = java.util.Arrays.copyOf(vals, n * 2)
      }
      var i = n
      n += 1
      while (i > 0) {
        val parent = (i - 1) >> 1
        if (keys(parent) <= k) {
          keys(i) = k; vals(i) = v
          return
        }
        keys(i) = keys(parent); vals(i) = vals(parent)
        i = parent
      }
      keys(0) = k; vals(0) = v
    }

    def dequeue(): V = {
      val top = vals(0).asInstanceOf[V]
      n -= 1
      if (n > 0) {
        val k = keys(n); val v = vals(n)
        var i = 0
        var child = 1
        while (child < n) {
          if (child + 1 < n && keys(child + 1) < keys(child)) child += 1
          if (keys(child) >= k) {
            child = n // done
          } else {
            keys(i) = keys(child); vals(i) = vals(child)
            i = child
            child = 2 * i + 1
          }
        }
        keys(i) = k; vals(i) = v
      }
      vals(n) = null
      top
    }
  }

  private[index] def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** Multi-way selection over primitive key columns: permutes the index
    * array (and every key column alongside it, so column reads stay
    * position-aligned) so that every index in `bounds` (ascending,
    * strictly inside [lo,hi)) holds exactly the element a full sort along
    * `axis` would put there — each slab between consecutive bounds then
    * contains its sorted-order elements, internally unordered. This is the
    * reference's slab primitive (`select_nth_unstable_by`,
    * rstar/src/aabb.rs:235-247): OMT only needs slab CONTENTS, so
    * selection at O(n · log #slabs) replaces a full sort's O(n log n),
    * and the flat double columns replace the two dependent loads per
    * comparison that an Entry→AABB→array walk costs — the two changes
    * that close the bulk-load gap to the reference. Quickselect uses
    * median-of-3 pivots with a 3-way (fat-pivot) partition, so all-equal
    * slab keys (degenerate coplanar inputs) finish in one pass instead of
    * quadratically.
    */
  private[graft] def selectSlabs(keys: Array[Array[Double]], idx: Array[Int],
      lo: Int, hi: Int, axis: Int, bounds: Array[Int]): Unit = {
    val k0 = keys(axis)
    val dims = keys.length
    @inline def key(i: Int): Double = k0(i)
    @inline def swap(i: Int, j: Int): Unit = {
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      var d = 0
      while (d < dims) {
        val kd = keys(d)
        val kt = kd(i); kd(i) = kd(j); kd(j) = kt
        d += 1
      }
    }
    // place the k-th order statistic of [l0,h0) at index k
    def select(l0: Int, h0: Int, k: Int): Unit = {
      var l = l0; var h = h0
      while (h - l > 1) {
        val a = key(l); val b = key((l + h) >>> 1); val c = key(h - 1)
        val pv = // median of three
          if (a < b) { if (b < c) b else if (a < c) c else a }
          else { if (a < c) a else if (b < c) c else b }
        var lt = l; var i = l; var gt = h
        while (i < gt) {
          val ki = key(i)
          if (ki < pv) { swap(lt, i); lt += 1; i += 1 }
          else if (ki > pv) { gt -= 1; swap(i, gt) }
          else i += 1
        }
        if (k < lt) h = lt
        else if (k >= gt) l = gt
        else return // k landed inside the equal-to-pivot band
      }
    }
    // binary recursion over the boundary list: each select halves the
    // remaining bounds' search ranges, giving the n·log(#bounds) total
    def multi(l: Int, h: Int, bLo: Int, bHi: Int): Unit = {
      if (bLo >= bHi) return
      val mid = (bLo + bHi) >>> 1
      val k = bounds(mid)
      select(l, h, k)
      multi(l, k, bLo, mid)
      multi(k, h, mid + 1, bHi)
    }
    multi(lo, hi, 0, bounds.length)
  }

  /** Interior slab boundaries l+slab, l+2·slab, … strictly below h. */
  private[graft] def slabBounds(l: Int, h: Int, slab: Int): Array[Int] = {
    val n = math.max(0, (h - l - 1) / slab)
    Array.tabulate(n)(i => l + (i + 1) * slab)
  }

  private[index] def envOf[T](ns: Array[Node[T]], lo: Int, hi: Int): AABB = {
    val e = AABB.empty(ns(lo).env.dims)
    var i = lo
    while (i < hi) { e.mergeInPlace(ns(i).env); i += 1 }
    e
  }
}
