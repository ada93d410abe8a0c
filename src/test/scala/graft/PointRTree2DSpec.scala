package graft

import org.scalatest.funsuite.AnyFunSuite
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

  test("STR order preserves the exact multiset") {
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
}
