package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom._
import graft.index.{Entry, LocalRTree}

/** Randomized oracle tests against brute force with fixed seeds — the
  * reference's dominant test pattern (SURVEY.md §5; e.g.
  * rstar/src/algorithm/nearest_neighbor.rs:336-354,
  * intersection_iterator.rs:112-134, iterators.rs:309-325).
  * Deterministic SplitMix64 replaces the reference's Hc128Rng.
  */
object Rng {
  /** SplitMix64 — public-domain PRNG (Steele et al., JDK SplittableRandom). */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def uniform(seed: Long, i: Long): Double =
    (splitmix64(seed * 0x100000001b3L + i) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform [0,1)² points, like create_random_points (test_utilities.rs:23-30). */
  def points(n: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(n)(i =>
      Array(uniform(seed, 2L * i), uniform(seed, 2L * i + 1)))

  /** Random rectangles: envelopes of short random segments, like
    * create_random_rectangles (test_utilities.rs:47-50).
    */
  def rects(n: Int, seed: Long): Array[AABB] =
    Array.tabulate(n) { i =>
      val x = uniform(seed, 4L * i)
      val y = uniform(seed, 4L * i + 1)
      val dx = (uniform(seed, 4L * i + 2) - 0.5) * (10.0 / n)
      val dy = (uniform(seed, 4L * i + 3) - 0.5) * (10.0 / n)
      AABB.fromCorners(Array(x, y), Array(x + dx, y + dy))
    }
}

class LocalRTreeSpec extends AnyFunSuite {
  import Rng._

  private def pointTree(ps: Array[Array[Double]]): LocalRTree[Int] =
    new LocalRTree[Int]().bulkLoad(
      ps.zipWithIndex.map { case (p, i) => Entry(AABB.fromPoint(p), i) })

  private val P1000 = points(1000, seed = 1)
  private val QUERIES = points(100, seed = 2)

  test("integer scalar coordinates behave exactly (create_random_integers, " +
    "test_utilities.rs:11-21; point.rs:391-408): ints embed losslessly in " +
    "the double domain up to 2^53") {
    // random signed ints in a wide range; all arithmetic the tree performs
    // (subtraction, squaring, sums of 2 squares) stays < 2^53 → every
    // distance and comparison is EXACT, reproducing the reference's
    // integer-scalar semantics without a second scalar type
    def ri(seed: Long, i: Long): Long =
      splitmix64(seed * 31 + i) % 1000000L
    val n = 800
    val ps = Array.tabulate(n)(i =>
      Array(ri(3, 2L * i).toDouble, ri(3, 2L * i + 1).toDouble))
    val t = pointTree(ps)
    t.sanityCheck()
    // integer NN vs brute force with pure-integer arithmetic
    (0 until 50).foreach { q =>
      val qp = Array(ri(11, 2L * q).toDouble, ri(11, 2L * q + 1).toDouble)
      val got = t.nearestNeighbor(qp).get
      def d2i(p: Array[Double]): Long = {
        val dx = p(0).toLong - qp(0).toLong
        val dy = p(1).toLong - qp(1).toLong
        dx * dx + dy * dy
      }
      val want = ps.map(d2i).min
      assert(got._2.toLong == want, s"query $q: ${got._2} vs $want")
      assert(got._2 == got._2.toLong.toDouble, "distance must be an exact int")
    }
    // integer box query vs filter — closed intervals on exact int borders
    val (lo, hi) = (200000L, 700000L)
    val inBox = ps.zipWithIndex.filter { case (p, _) =>
      p(0) >= lo && p(0) <= hi && p(1) >= lo && p(1) <= hi
    }.map(_._2).toSet
    val box = AABB.of2d(lo.toDouble, lo.toDouble, hi.toDouble, hi.toDouble)
    val got = scala.collection.mutable.Set.empty[Int]
    t.foreachIntersecting(box)(e => got += e.value)
    assert(got.toSet == inBox)
    assert(inBox.nonEmpty)
  }

  test("selectSlabs: every slab's content multiset equals the full sort's " +
    "(random, duplicated, and all-equal keys — the quickselect replaces " +
    "the slab sort, rstar/src/aabb.rs:235-247)") {
    def check(ks: Array[Double], slab: Int): Unit = {
      val n = ks.length
      // two key columns: axis 0 under test, axis 1 a tracer that must stay
      // position-aligned with the index permutation through every swap
      val keys = Array(ks.clone(), Array.tabulate(n)(i => i * 0.5))
      val idx = Array.tabulate(n)(identity)
      val sorted = ks.sorted
      val bounds = LocalRTree.slabBounds(0, n, slab)
      LocalRTree.selectSlabs(keys, idx, 0, n, 0, bounds)
      val cuts = (0 +: bounds.toSeq :+ n).sliding(2).toSeq
      for (Seq(s, e) <- cuts) {
        val got = (s until e).map(keys(0)).sorted
        val want = (s until e).map(sorted)
        assert(got == want, s"slab [$s,$e) diverged from sorted order")
      }
      // the permutation lost nothing, and every column moved with it
      assert(idx.sorted.toSeq == (0 until n))
      idx.zipWithIndex.foreach { case (orig, pos) =>
        assert(keys(0)(pos) == ks(orig) && keys(1)(pos) == orig * 0.5,
          s"key columns desynced from the index permutation at $pos")
      }
    }
    check(Array.tabulate(500)(i => uniform(i + 7, 0)), slab = 37)
    check(Array.tabulate(500)(i => (splitmix64(i) % 13).toDouble), slab = 40)
    check(Array.fill(300)(1.25), slab = 32) // degenerate: all keys equal
    check(Array.tabulate(5)(_.toDouble), slab = 2) // tiny ranges
  }

  test("bulk load preserves the exact element multiset across sizes 0..693 step 7 " +
    "(bulk_load_sequential.rs:124-151)") {
    (0 to 693 by 7).foreach { n =>
      val ps = points(n, seed = n + 7)
      val t = pointTree(ps)
      assert(t.size == n)
      val got = t.iterator.map(_.value).toSeq.sorted
      assert(got == (0 until n))
      t.sanityCheck()
    }
  }

  test("bulk load multiset + query parity in 3 and 4 dimensions " +
    "(bulk_load_sequential.rs:124-139 dims sweep)") {
    Seq(3, 4).foreach { dims =>
      val n = 500
      val ps = Array.tabulate(n)(i =>
        Array.tabulate(dims)(d => uniform(dims * 100 + d, i)))
      val t = new LocalRTree[Int]().bulkLoad(
        ps.zipWithIndex.map { case (p, i) => Entry(AABB.fromPoint(p), i) })
      assert(t.size == n)
      t.sanityCheck()
      assert(t.iterator.map(_.value).toSeq.sorted == (0 until n))
      // n-dim NN vs linear scan
      (0 until 20).foreach { qi =>
        val q = Array.tabulate(dims)(d => uniform(999 + d, qi))
        val got = t.nearestNeighbor(q).get._2
        assert(got == ps.map(p => Pt.distance2(p, q)).min)
      }
      // n-dim box query vs scan
      val lo = Array.fill(dims)(0.2); val hi = Array.fill(dims)(0.7)
      val box = AABB.fromBounds(lo, hi)
      assert(t.queryContained(box).map(_.value).toSet ==
        ps.zipWithIndex.collect {
          case (p, i) if box.containsPoint(p) => i }.toSet)
    }
  }

  test("integer coordinates (i32 range) are exact in doubles " +
    "(create_random_integers, test_utilities.rs:11-21)") {
    val n = 400
    val ps = Array.tabulate(n)(i => Array(
      math.floor(uniform(55, 2 * i) * 200000.0) - 100000.0,
      math.floor(uniform(55, 2 * i + 1) * 200000.0) - 100000.0))
    val t = new LocalRTree[Int]().bulkLoad(
      ps.zipWithIndex.map { case (p, i) => Entry(AABB.fromPoint(p), i) })
    (0 until 20).foreach { qi =>
      val q = Array(
        math.floor(uniform(77, 2 * qi) * 200000.0) - 100000.0,
        math.floor(uniform(77, 2 * qi + 1) * 200000.0) - 100000.0)
      assert(t.nearestNeighbor(q).get._2 == ps.map(p => Pt.distance2(p, q)).min)
    }
  }

  test("bulk load handles degenerate coplanar points (rtree.rs:1307-1371)") {
    val ps = Array.tabulate(50)(i =>
      Array(i.toDouble % 7, 1080.0, (i / 7).toDouble))
    val t = new LocalRTree[Int]().bulkLoad(
      ps.zipWithIndex.map { case (p, i) => Entry(AABB.fromPoint(p), i) })
    assert(t.size == 50)
    t.sanityCheck()
    assert(t.iterator.size == 50)
  }

  test("envelope query (contained) vs filtered scan (iterators.rs:309-325)") {
    val rs = rects(1000, seed = 3)
    val t = new LocalRTree[Int]().bulkLoad(
      rs.zipWithIndex.map { case (r, i) => Entry(r, i) })
    (0 until 50).foreach { qi =>
      val q = AABB.fromCorners(
        Array(uniform(9, 4 * qi), uniform(9, 4 * qi + 1)),
        Array(uniform(9, 4 * qi) + 0.3, uniform(9, 4 * qi + 1) + 0.3))
      val got = t.queryContained(q).map(_.value).toSet
      val want = rs.zipWithIndex.collect {
        case (r, i) if q.containsEnvelope(r) => i
      }.toSet
      assert(got == want)
    }
  }

  test("envelope query (intersecting) vs filtered scan; touching counts " +
    "(rtree.rs:412-498)") {
    val rs = rects(1000, seed = 4)
    val t = new LocalRTree[Int]().bulkLoad(
      rs.zipWithIndex.map { case (r, i) => Entry(r, i) })
    (0 until 50).foreach { qi =>
      val q = AABB.fromCorners(
        Array(uniform(11, 4 * qi), uniform(11, 4 * qi + 1)),
        Array(uniform(11, 4 * qi) + 0.2, uniform(11, 4 * qi + 1) + 0.2))
      val got = t.queryIntersecting(q).map(_.value).toSet
      val want = rs.zipWithIndex.collect {
        case (r, i) if q.intersects(r) => i
      }.toSet
      assert(got == want)
    }
  }

  test("locate_all_at_point vs filtered scan (rtree.rs:802-843)") {
    val rs = rects(2000, seed = 5).map(r =>
      // widen so points actually hit rectangles
      AABB.of2d(r.lower(0) - 0.01, r.lower(1) - 0.01,
        r.upper(0) + 0.01, r.upper(1) + 0.01))
    val t = new LocalRTree[Int]().bulkLoad(
      rs.zipWithIndex.map { case (r, i) => Entry(r, i) })
    QUERIES.foreach { p =>
      val got = t.locateAllAtPoint(p).map(_.value).toSet
      val want = rs.zipWithIndex.collect {
        case (r, i) if r.containsPoint(p) => i
      }.toSet
      assert(got == want)
    }
  }

  test("locate_within_distance vs filtered scan (iterators.rs:389-410)") {
    val t = pointTree(P1000)
    val r2 = 0.02
    QUERIES.foreach { q =>
      val got = t.withinDistance2(q, r2).map(_.value).toSet
      val want = P1000.zipWithIndex.collect {
        case (p, i) if Pt.distance2(p, q) <= r2 => i
      }.toSet
      assert(got == want)
    }
  }

  test("1-NN vs linear scan over 1000 points × 100 queries " +
    "(nearest_neighbor.rs:336-354)") {
    val t = pointTree(P1000)
    QUERIES.foreach { q =>
      val (got, d2) = t.nearestNeighbor(q).get
      val want = P1000.map(p => Pt.distance2(p, q)).min
      assert(d2 == want, s"query ${q.toSeq}")
      assert(Pt.distance2(P1000(got.value), q) == want)
    }
  }

  test("distance-ordered full iteration vs sort-by-distance " +
    "(nearest_neighbor.rs:383-397)") {
    val t = pointTree(points(300, seed = 6))
    val q = Array(0.5, 0.5)
    val got = t.nearestNeighborIter(q).map(_._2).toSeq
    assert(got == got.sorted)
    assert(got.size == 300)
    val want = points(300, seed = 6).map(p => Pt.distance2(p, q)).sorted.toSeq
    assert(got == want)
  }

  test("nearest_neighbors returns the exact co-equal tie set " +
    "(rtree.rs:985-1002, float-exact, no epsilon)") {
    val ps = Array(
      Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0), Array(0.0, -1.0),
      Array(3.0, 3.0), Array(2.0, 2.0))
    val t = pointTree(ps)
    val ties = t.nearestNeighbors(Array(0.0, 0.0)).map(_.value).toSet
    assert(ties == Set(0, 1, 2, 3))
  }

  test("kNN takes the k closest in order") {
    val t = pointTree(P1000)
    QUERIES.take(20).foreach { q =>
      val got = t.nearestK(q, 10).map(_._2)
      val want = P1000.map(p => Pt.distance2(p, q)).sorted.take(10).toSeq
      assert(got == want)
    }
  }

  test("dual-tree intersection candidates vs O(n·m) nested loop " +
    "(intersection_iterator.rs:112-134)") {
    val ra = rects(300, seed = 7)
    val rb = rects(200, seed = 8)
    val ta = new LocalRTree[Int]().bulkLoad(
      ra.zipWithIndex.map { case (r, i) => Entry(r, i) })
    val tb = new LocalRTree[Int]().bulkLoad(
      rb.zipWithIndex.map { case (r, i) => Entry(r, i) })
    val got = ta.intersectionCandidates(tb)
      .map { case (a, b) => (a.value, b.value) }.toSet
    val want = (for {
      (a, i) <- ra.zipWithIndex; (b, j) <- rb.zipWithIndex
      if a.intersects(b)
    } yield (i, j)).toSet
    assert(got == want)
  }

  test("self-join of a point set yields exactly size pairs " +
    "(intersection_iterator.rs:137-155)") {
    val ps = points(500, seed = 12)
    val t1 = pointTree(ps)
    val t2 = pointTree(ps)
    assert(t1.intersectionCandidates(t2).size == 500)
  }

  test("R* insert: tree invariants hold after every insert " +
    "(rtree.rs:1262-1274); duplicates stored twice (rtree.rs:905-917)") {
    val t = new LocalRTree[Int]()
    val ps = points(250, seed = 9)
    ps.zipWithIndex.foreach { case (p, i) =>
      t.insert(Entry(AABB.fromPoint(p), i))
      t.sanityCheck(checkFanout = true)
    }
    assert(t.size == 250)
    assert(t.iterator.map(_.value).toSeq.sorted == (0 until 250))
    // duplicate insert stores twice
    t.insert(Entry(AABB.fromPoint(ps(0)), 0))
    assert(t.size == 251)
    assert(t.locateAllAtPoint(ps(0),
      e => java.util.Arrays.equals(e.env.lower, ps(0))).size == 2)
  }

  test("insert-built tree answers queries identically to bulk-loaded tree") {
    val ps = points(400, seed = 10)
    val tIns = new LocalRTree[Int]()
    ps.zipWithIndex.foreach { case (p, i) =>
      tIns.insert(Entry(AABB.fromPoint(p), i)) }
    val tBulk = pointTree(ps)
    QUERIES.take(30).foreach { q =>
      assert(tIns.nearestNeighbor(q).get._2 == tBulk.nearestNeighbor(q).get._2)
      val box = AABB.of2d(q(0) - 0.1, q(1) - 0.1, q(0) + 0.1, q(1) + 0.1)
      assert(tIns.queryIntersecting(box).map(_.value).toSet ==
        tBulk.queryIntersecting(box).map(_.value).toSet)
    }
  }

  test("custom distance function: NN over a line layer uses exact segment " +
    "distance, not the envelope bound (object.rs:154-200)") {
    import graft.geom.LineObj
    val lines = Array.tabulate(200) { i =>
      val x = uniform(31, 4 * i); val y = uniform(31, 4 * i + 1)
      LineObj(Array(x, y),
        Array(x + uniform(31, 4 * i + 2) * 0.2, y + uniform(31, 4 * i + 3) * 0.2))
    }
    val t = new LocalRTree[LineObj]().bulkLoad(
      lines.map(l => Entry(l.envelope, l)))
    val dist = (e: Entry[LineObj]) => e.value.distance2(QUERIES.head)
    QUERIES.take(30).foreach { q =>
      val d = (e: Entry[LineObj]) => e.value.distance2(q)
      val (got, gd) = t.nearestNeighbor(q, d).get
      val want = lines.map(_.distance2(q)).min
      assert(gd == want)
      assert(got.value.distance2(q) == want)
      // radius query with the exact metric
      val r2 = 0.01
      val hits = t.withinDistance2(q, r2, d).map(_.value).toSet
      assert(hits == lines.filter(_.distance2(q) <= r2).toSet)
    }
  }

  test("remove / drain round-trip (removal.rs:257-302, :336-377)") {
    val ps = points(200, seed = 11)
    val t = pointTree(ps)
    // remove one element containing a known point
    val victim = t.removeOne(
      e => java.util.Arrays.equals(e.env.lower, ps(7)),
      env => env.containsPoint(ps(7)))
    assert(victim.exists(_.value == 7))
    assert(t.size == 199)
    t.sanityCheck()
    // drain everything within a box; survivors + drained partition the set
    val q = AABB.of2d(0.0, 0.0, 0.5, 0.5)
    val drained = t.drain(e => q.containsEnvelope(e.env), env => q.intersects(env))
    assert(drained.forall(e => q.containsPoint(e.env.lower)))
    assert(t.iterator.forall(e => !q.containsEnvelope(e.env)))
    assert(drained.size + t.size == 199)
    // pop_nearest_neighbor consumes in distance order (rtree.rs:1129-1139)
    val t2 = pointTree(points(50, seed = 13))
    val dists = Iterator.continually(t2.popNearestNeighbor(Array(0.5, 0.5)))
      .takeWhile(_.isDefined).map(e =>
        Pt.distance2(e.get.env.lower, Array(0.5, 0.5))).toSeq
    assert(dists.size == 50)
    assert(dists == dists.sorted)
    assert(t2.size == 0)
  }

  test("locateAtPoint (first match, rtree.rs:760-800) agrees with " +
    "locateAllAtPoint") {
    // hits and misses on a bulk-loaded, an insert-mutated and a rect tree
    val ps = points(1200, seed = 31)
    val frozen = pointTree(ps)
    ps.foreach { p =>
      val got = frozen.locateAtPoint(p)
      assert(got.isDefined && got.get.env.containsPoint(p))
    }
    points(150, seed = 32).foreach { q =>
      val want = frozen.locateAllAtPoint(q).toSeq
      val got = frozen.locateAtPoint(q)
      assert(got.isDefined == want.nonEmpty)
      got.foreach(e => assert(want.contains(e)))
    }
    // mutated tree (insert), same contract
    val thawed = pointTree(ps.take(600))
    ps.slice(600, 700).foreach(p =>
      thawed.insert(Entry(AABB.fromPoint(p), 9999)))
    ps.take(700).foreach(p => assert(thawed.locateAtPoint(p).isDefined))
    // rectangle layer: containment is box containment; overlapping boxes
    // return SOME containing box (first-match semantics)
    val boxes = rects(400, seed = 33)
    val rt = new LocalRTree[Int]().bulkLoad(
      boxes.zipWithIndex.map { case (b, i) => Entry(b, i) })
    points(120, seed = 34).foreach { q =>
      val inside = boxes.exists(_.containsPoint(q))
      val got = rt.locateAtPoint(q)
      assert(got.isDefined == inside)
      got.foreach(e => assert(e.env.containsPoint(q)))
    }
  }

  test("serialization round-trip preserves query results (rtree.rs:1289-1305)") {
    val t = pointTree(points(300, seed = 14))
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(t)
    val t2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[LocalRTree[Int]]
    assert(t2.size == t.size)
    QUERIES.take(10).foreach { q =>
      assert(t2.nearestNeighbor(q).get._2 == t.nearestNeighbor(q).get._2)
    }
  }

  test("empty tree: queries return nothing, NN returns None (rtree.rs:960-975)") {
    val t = new LocalRTree[Int]()
    assert(t.size == 0)
    assert(t.nearestNeighbor(Array(0.0, 0.0)).isEmpty)
    assert(t.queryIntersecting(AABB.of2d(0, 0, 1, 1)).isEmpty)
    assert(t.iterator.isEmpty)
  }
}
