package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.IndexStore
import graft.geom.Pt
import graft.index.PointRTree2D

/** The packed point tree must agree with brute force (and therefore with
  * LocalRTree, which has its own oracle suite) on every query family.
  */
class PointRTree2DSpec extends AnyFunSuite {
  import Rng.{points, uniform}

  private def build(ps: Array[Array[Double]]) =
    PointRTree2D.build(
      Array.tabulate(ps.length)(_.toLong),
      ps.map(_(0)), ps.map(_(1)))

  private val P = points(3000, seed = 21)
  private val Q = points(200, seed = 22)
  private lazy val T = build(P)

  test("OMT order preserves the exact multiset") {
    assert(T.size == 3000)
    assert(T.ids.sorted.toSeq == (0L until 3000L))
    val coords = T.ids.zip(T.xs.zip(T.ys)).toMap
    P.zipWithIndex.foreach { case (p, i) =>
      assert(coords(i.toLong) == (p(0), p(1)))
    }
  }

  test("box query vs filtered scan (closed intervals)") {
    Q.take(60).foreach { q =>
      val (qx, qy) = (q(0), q(1))
      val got = scala.collection.mutable.Set.empty[Long]
      T.foreachInBox(qx - 0.05, qy - 0.05, qx + 0.05, qy + 0.05)(p => got += T.ids(p))
      val want = P.zipWithIndex.collect {
        case (p, i) if qx - 0.05 <= p(0) && p(0) <= qx + 0.05 &&
          qy - 0.05 <= p(1) && p(1) <= qy + 0.05 => i.toLong
      }.toSet
      assert(got == want)
    }
  }

  test("radius query vs filtered scan") {
    Q.take(60).foreach { q =>
      val got = scala.collection.mutable.Set.empty[Long]
      T.foreachWithin(q(0), q(1), 0.01)(p => got += T.ids(p))
      val want = P.zipWithIndex.collect {
        case (p, i) if Pt.distance2(p, q) <= 0.01 => i.toLong
      }.toSet
      assert(got == want)
    }
  }

  test("1-NN and ordered kNN vs sort-by-distance") {
    Q.foreach { q =>
      val want = P.map(p => Pt.distance2(p, q)).min
      val nn = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      T.nearestK(q(0), q(1), 1, keepTies = true)((p, d) => nn += ((p, d)))
      assert(nn.head._2 == want)
      nn.foreach { case (p, d) =>
        assert(d == want)
        assert(Pt.distance2(P(T.ids(p).toInt), q) == want)
      }
      val ds = scala.collection.mutable.ArrayBuffer.empty[Double]
      T.nearestK(q(0), q(1), 10)((_, d) => ds += d)
      assert(ds.toSeq == P.map(p => Pt.distance2(p, q)).sorted.take(10).toSeq)
    }
  }

  test("keepTies extends past k on float-equal distances (K3)") {
    val ps = Array(Array(1.0, 0.0), Array(-1.0, 0.0), Array(0.0, 1.0),
      Array(0.0, -1.0), Array(2.0, 2.0))
    val t = build(ps)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    t.nearestK(0.0, 0.0, 1, keepTies = true)((p, _) => got += t.ids(p))
    assert(got.toSet == Set(0L, 1L, 2L, 3L))
  }

  test("empty and tiny trees") {
    val e = PointRTree2D.build(Array.empty, Array.empty, Array.empty)
    var n = 0
    e.nearestK(0, 0, 1, keepTies = true)((_, _) => n += 1)
    e.foreachInBox(-1, -1, 1, 1)(_ => n += 1)
    assert(n == 0)
    val one = build(Array(Array(0.5, 0.5)))
    val d2 = scala.collection.mutable.ArrayBuffer.empty[Double]
    one.nearestK(0, 0, 1, keepTies = true)((_, d) => d2 += d)
    assert(d2.toSeq == Seq(0.5))
  }

  test("duplicate coordinates all retrievable") {
    val ps = Array.fill(100)(Array(0.25, 0.75))
    val t = build(ps)
    var n = 0
    t.foreachInBox(0.25, 0.75, 0.25, 0.75)(_ => n += 1)
    assert(n == 100)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    t.nearestK(0.0, 0.0, 5)((p, _) => got += t.ids(p))
    assert(got.size == 5)
  }

  test("a tree serialized by the earlier STR build reads back and answers " +
    "box, radius and kNN queries as brute force") {
    import PointRTree2DPropertySpec.{knnAgrees, probe, sameMultiset}
    // Fixture point_tree_2000.bin: IndexStore.treeBytes of
    // PointRTree2D.build(ids = 0 until 2000, xs, ys) over `fixture` below,
    // written by the STR build (sorted x-slabs, y-sorted within a slab)
    // that the OMT build replaced.
    val in = getClass.getResourceAsStream("/graft/point_tree_2000.bin")
    val t = try IndexStore.treeFrom(in.readAllBytes()) finally in.close()
    val layer = PointRTree2DSpec.fixture
    assert(sameMultiset(t, layer))
    val r = new java.util.SplittableRandom(3L)
    val qs = Seq.fill(200)((r.nextDouble() * 12 - 1, r.nextDouble() * 12 - 1)) ++
      Seq.fill(100)((r.nextInt(22) * 0.25 - 0.5, r.nextInt(22) * 0.25 - 0.5))
    qs.foreach { case (qx, qy) =>
      val box = Array.newBuilder[Long]
      t.foreachInBox(qx - 0.3, qy - 0.3, qx + 0.3, qy + 0.3)(p => box += t.ids(p))
      assert(box.result().sorted.toSeq == layer.indices.filter { i =>
        qx - 0.3 <= layer.xs(i) && layer.xs(i) <= qx + 0.3 &&
          qy - 0.3 <= layer.ys(i) && layer.ys(i) <= qy + 0.3
      }.map(_.toLong))
      val near = Array.newBuilder[Long]
      t.foreachWithin(qx, qy, 0.25)(p => near += t.ids(p))
      assert(near.result().sorted.toSeq == layer.indices
        .filter(i => layer.d2(i, qx, qy) <= 0.25).map(_.toLong))
      for (k <- Seq(1, 4, 10); ties <- Seq(false, true))
        assert(knnAgrees(layer, qx, qy, k, ties, probe(t, qx, qy, k, ties)),
          s"kNN at ($qx, $qy), k = $k, keepTies = $ties")
    }
  }
}

object PointRTree2DSpec {
  /** The stored fixture's 2 000 points: 1 500 uniform in [0, 10)², a
    * 20 × 20 lattice of step 0.5 (exact ties) and 100 duplicates of its
    * first 100 points.
    */
  def fixture: PointRTree2DPropertySpec.Layer = {
    val r = new java.util.SplittableRandom(20261019L)
    val xs = new Array[Double](2000)
    val ys = new Array[Double](2000)
    for (i <- 0 until 2000) {
      if (i < 1500) { xs(i) = r.nextDouble() * 10; ys(i) = r.nextDouble() * 10 }
      else if (i < 1900) { xs(i) = (i % 20) * 0.5; ys(i) = ((i / 20) % 20) * 0.5 }
      else { xs(i) = xs(i - 400); ys(i) = ys(i - 400) }
    }
    PointRTree2DPropertySpec.Layer(PointRTree2DPropertySpec.Lattice, xs, ys)
  }
}
