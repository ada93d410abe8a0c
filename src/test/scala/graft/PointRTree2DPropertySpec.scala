package graft

import java.util.SplittableRandom
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.PointRTree2D

/** Generated properties of the packed tree, over point layers and box
  * layers, against brute-force scans: layer sizes that leave a partial last
  * node at every level (0, 1, 16, 17, 256, 257, 4 097 at leaf size and
  * fan-out 16; the last two have three and four levels), duplicate,
  * all-identical and lattice layers full of exact ties, runs of 17 copies
  * of one entry (one more than a leaf holds, so every run straddles a leaf
  * boundary), zero-area boxes, and NaN / ±Inf / −0.0 coordinates in
  * points, box bounds, queries, query boxes and radii, with queries far
  * outside the layer. A box's lower bound is at most its upper bound on
  * each axis, or one of them is NaN. Box hits follow rstar's positive
  * comparisons (rstar/src/aabb.rs:140-165: a NaN never matches); box
  * distances clamp, subtract and square per axis. k runs up to 17, past
  * one leaf, so `nearestK`'s seed leaf (the greedy descent's, scanned
  * before the best-first loop) never holds the whole answer. Distances are
  * ordered as `Double.compare` orders them (NaN last, NaN == NaN). Pure
  * Scala, 500 generated cases per property.
  */
class PointRTree2DPropertySpec extends AnyFunSuite {
  import PointRTree2DPropertySpec._

  private def check(prop: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500).withInitialSeed(Seed(20261019L)), prop)
    assert(r.passed, r.status.toString)
    assert(r.succeeded >= 500)
  }

  private val genLayer: Gen[Layer] = for {
    n <- Gen.oneOf(0, 1, 16, 17, 256, 257, 4097)
    kind <- Gen.oneOf(Uniform, Lattice, Pool, Identical, Runs)
    specialShare <- Gen.oneOf(0.0, 0.0, 0.02, 0.3)
    boxes <- Gen.oneOf(false, true)
    seed <- Gen.long
  } yield Layer.generate(n, kind, specialShare, seed, boxes)

  /** A query coordinate: inside, on the lattice or half-way between
    * lattice points (exact ties), just outside, far outside, or special.
    */
  private val genCoord: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-12.0, 12.0),
    3 -> Gen.choose(-10, 10).map(_ / 2.0),
    1 -> Gen.oneOf(-1e6, 1e6, -1e150, 1e150),
    1 -> Gen.oneOf(Specials.toSeq))

  private val genQuery: Gen[(Double, Double)] = Gen.zip(genCoord, genCoord)

  private val genCase: Gen[(Layer, List[(Double, Double)])] = for {
    layer <- genLayer
    qs <- Gen.listOfN(4, Gen.frequency(
      4 -> genQuery,
      1 -> Gen.choose(0, math.max(0, layer.size - 1)).map(i =>
        if (layer.size == 0) (0.0, 0.0) else (layer.xs(i), layer.ys(i)))))
  } yield (layer, qs)

  test("the generator covers the edge cases (every size, ties, NaN, ±Inf, " +
    "−0.0)") {
    val sample = Gen.listOfN(500, genLayer)
      .apply(Gen.Parameters.default, Seed(7L)).get
    assert(Set(0, 1, 16, 17, 256, 257, 4097).subsetOf(sample.map(_.size).toSet))
    assert(Set(3, 4).subsetOf(sample.map(l => envelopes(l.tree).length).toSet))
    assert(sample.exists(l => l.kind == Runs && l.size == 4097 &&
      straddlesLeaves(l.tree)))
    def has(p: Double => Boolean) =
      sample.exists(l => l.xs.exists(p) || l.ys.exists(p))
    assert(has(_.isNaN))
    assert(has(_ == Double.PositiveInfinity))
    assert(has(_ == Double.NegativeInfinity))
    assert(has(v => v == 0.0 && 1.0 / v < 0))
    assert(sample.exists(l => l.size > 1 &&
      l.points.distinct.length == 1 && !l.xs(0).isNaN))
    assert(sample.exists(l => l.points.distinct.length < l.size / 2))
    val boxes = sample.filter(_.boxes)
    assert(Set(3, 4).subsetOf(boxes.map(l => envelopes(l.tree).length).toSet))
    def hasBox(p: (Double, Double) => Boolean) = boxes.exists(l =>
      l.indices.exists(i => p(l.xs(i), l.uxs(i)) || p(l.ys(i), l.uys(i))))
    assert(hasBox((lo, hi) => lo == hi))
    assert(hasBox((lo, hi) => lo < hi))
    assert(hasBox((lo, hi) => lo.isNaN != hi.isNaN))
    assert(hasBox((lo, hi) => lo == Double.NegativeInfinity && hi > lo))
    assert(hasBox((lo, hi) => hi == Double.PositiveInfinity && lo < hi))
    assert(boxes.exists(l => l.size > 1 && l.points.distinct.length < l.size / 2))
  }

  test("every point lies in its leaf envelope; every node envelope contains " +
    "its children's") {
    check(Prop.forAll(genLayer) { layer =>
      val t = layer.tree
      val lv = envelopes(t)
      val leaf = 16
      val fan = 16
      // an axis with a NaN bound never hits nor has a distance, so it need
      // not lie in the envelope (a NaN never widens one)
      def within(eLo: Double, lo: Double, hi: Double, eHi: Double) =
        lo.isNaN || hi.isNaN || (eLo <= lo && hi <= eHi)
      // a box's two corners; a point's one
      val (uxs, uys) = if (layer.boxes) (t.maxXs, t.maxYs) else (t.xs, t.ys)
      val pointsOk = (0 until t.size).forall { p =>
        val b = 4 * (p / leaf)
        within(lv(0)(b), t.xs(p), uxs(p), lv(0)(b + 2)) &&
          within(lv(0)(b + 1), t.ys(p), uys(p), lv(0)(b + 3))
      }
      val nodesOk = (1 until lv.length).forall { l =>
        (0 until lv(l - 1).length / 4).forall { c =>
          val (e, b) = (lv(l), 4 * (c / fan))
          val (ce, cb) = (lv(l - 1), 4 * c)
          e(b) <= ce(cb) && e(b + 1) <= ce(cb + 1) &&
            ce(cb + 2) <= e(b + 2) && ce(cb + 3) <= e(b + 3)
        }
      }
      val shapeOk = lv.last.length == 4 &&
        lv(0).length == 4 * math.max(1, (t.size + leaf - 1) / leaf) &&
        (t.maxXs == null) == !layer.boxes && (t.maxYs == null) == !layer.boxes
      pointsOk && nodesOk && shapeOk && sameMultiset(t, layer)
    })
  }

  test("foreachInBox == filtered scan (closed intervals)") {
    check(Prop.forAll(genLayer, genQuery, genQuery) { (layer, a, b) =>
      val t = layer.tree
      val (x0, x1) = (math.min(a._1, b._1), math.max(a._1, b._1))
      val (y0, y1) = (math.min(a._2, b._2), math.max(a._2, b._2))
      val got = Array.newBuilder[Long]
      t.foreachInBox(x0, y0, x1, y1)(p => got += t.ids(p))
      val want = layer.indices.filter { i =>
        layer.xs(i) <= x1 && layer.uxs(i) >= x0 &&
          layer.ys(i) <= y1 && layer.uys(i) >= y0
      }.map(_.toLong)
      got.result().sorted.toSeq == want
    })
  }

  test("foreachWithin == filtered scan") {
    val genR2 = Gen.frequency(
      6 -> Gen.choose(0.0, 40.0),
      1 -> Gen.oneOf(0.0, 1.0, 0.25, Double.PositiveInfinity, Double.NaN))
    check(Prop.forAll(genLayer, genQuery, genR2) { (layer, q, r2) =>
      val t = layer.tree
      val got = Array.newBuilder[Long]
      t.foreachWithin(q._1, q._2, r2)(p => got += t.ids(p))
      val want = layer.indices.filter(i => layer.d2(i, q._1, q._2) <= r2)
        .map(_.toLong)
      got.result().sorted.toSeq == want
    })
  }

  test("nearestK, k ∈ {1, 4, 10, 17} × keepTies == sort by (Double.compare) " +
    "distance") {
    check(Prop.forAll(genCase) { case (layer, qs) =>
      val t = layer.tree
      (for ((qx, qy) <- qs; k <- Ks; ties <- Seq(false, true))
        yield knnAgrees(layer, qx, qy, k, ties, probe(t, qx, qy, k, ties)))
        .forall(ok => ok)
    })
  }

  test("nearestIter's distance sequence == the sorted brute-force " +
    "distances, each entry once") {
    check(Prop.forAll(genCase) { case (layer, qs) =>
      val t = layer.tree
      qs.forall { case (qx, qy) =>
        val got = t.nearestIter(qx, qy).toSeq
        def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
        got.map(g => bits(g._2)) == layer.indices.map(layer.d2(_, qx, qy))
          .sorted(Ordering.Double.TotalOrdering).map(bits) &&
          got.forall { case (p, d) => bits(d) == bits(layer.d2(t.ids(p).toInt, qx, qy)) } &&
          got.map(_._1).sorted == (0 until t.size)
      }
    })
  }

  test("one tree probed from 4 threads at once answers as it does alone") {
    val pool = Executors.newFixedThreadPool(4)
    try check(Prop.forAll(genCase) { case (layer, qs) =>
      val t = layer.tree
      def answers() = for ((qx, qy) <- qs; k <- Ks;
          ties <- Seq(false, true)) yield probe(t, qx, qy, k, ties)
      val alone = answers()
      val start = new CyclicBarrier(4)
      val tasks = Seq.fill(4)(pool.submit(new Callable[Seq[Seq[(Long, Long)]]] {
        def call() = { start.await(10, TimeUnit.SECONDS); answers() }
      }))
      tasks.forall(_.get(30, TimeUnit.SECONDS) == alone)
    })
    finally pool.shutdownNow()
  }
}

object PointRTree2DPropertySpec {
  sealed trait Kind
  case object Uniform extends Kind   // distinct coordinates
  case object Lattice extends Kind   // integer grid: ties and duplicates
  case object Pool extends Kind      // drawn from 8 points: heavy duplicates
  case object Identical extends Kind // one point, n times
  case object Runs extends Kind      // each point 17 times: runs past a leaf

  val Ks: Seq[Int] = Seq(1, 4, 10, 17)

  val Specials: Array[Double] = Array(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0)

  /** Entry i is the point (xs(i), ys(i)), or, when `boxes`, the box with
    * lower corner (xs(i), ys(i)) and upper corner (uxs(i), uys(i)); a
    * point layer's upper corner is its point.
    */
  final case class Layer(kind: Kind, boxes: Boolean, xs: Array[Double],
      ys: Array[Double], uxs: Array[Double], uys: Array[Double]) {
    def size: Int = xs.length
    def indices: Range = xs.indices
    def points: Seq[(Double, Double, Double, Double)] =
      indices.map(i => (xs(i), ys(i), uxs(i), uys(i)))
    def d2(i: Int, qx: Double, qy: Double): Double =
      if (boxes) {
        val dx = math.min(uxs(i), math.max(xs(i), qx)) - qx
        val dy = math.min(uys(i), math.max(ys(i), qy)) - qy
        dx * dx + dy * dy
      } else {
        val dx = xs(i) - qx; val dy = ys(i) - qy
        dx * dx + dy * dy
      }
    lazy val tree: PointRTree2D =
      if (boxes) PointRTree2D.build(Array.tabulate(size)(_.toLong), xs, ys, uxs, uys)
      else PointRTree2D.build(Array.tabulate(size)(_.toLong), xs, ys)
    override def toString: String =
      s"Layer($kind, boxes = $boxes, n = $size, ${points.take(6).mkString(" ")} …)"
  }

  object Layer {
    /** A point layer. */
    def apply(kind: Kind, xs: Array[Double], ys: Array[Double]): Layer =
      Layer(kind, boxes = false, xs, ys, xs, ys)

    def generate(n: Int, kind: Kind, specialShare: Double, seed: Long,
        boxes: Boolean = false): Layer = {
      val r = new SplittableRandom(seed)
      def coord(): Double =
        if (r.nextDouble() < specialShare) Specials(r.nextInt(Specials.length))
        else kind match {
          case Lattice => (r.nextInt(9) - 4).toDouble
          case _ => r.nextDouble() * 20 - 10
        }
      // one axis of an entry: a point's coordinate twice, or a box's
      // bounds — zero width (keeping a −0.0), a lattice step or uniform,
      // and at the special share an infinite or NaN side
      def axis(): (Double, Double) = {
        val lo = coord()
        if (!boxes) (lo, lo)
        else {
          val e = r.nextInt(3) match {
            case 0 => 0.0
            case 1 => (1 + r.nextInt(2)).toDouble
            case _ => r.nextDouble() * 3
          }
          val hi = if (e == 0.0) lo else lo + e
          if (r.nextDouble() >= specialShare) (lo, hi)
          else r.nextInt(3) match {
            case 0 => (Double.NegativeInfinity, hi)
            case 1 => (lo, Double.PositiveInfinity)
            case _ => (lo, Double.NaN)
          }
        }
      }
      def entry(): (Double, Double, Double, Double) = {
        val (x0, x1) = axis(); val (y0, y1) = axis()
        (x0, y0, x1, y1)
      }
      val pool = Array.fill(kind match { case Pool => 8; case _ => 1 })(entry())
      val es = kind match {
        case Runs => Array.fill((n + 16) / 17)(entry())
          .flatMap(Array.fill(17)(_)).take(n)
        case Pool | Identical => Array.fill(n)(pool(r.nextInt(pool.length)))
        case _ => Array.fill(n)(entry())
      }
      Layer(kind, boxes, es.map(_._1), es.map(_._2), es.map(_._3), es.map(_._4))
    }
  }

  /** The tree's envelope levels, read from its serialized field. */
  def envelopes(t: PointRTree2D): Array[Array[Double]] = {
    val f = classOf[PointRTree2D].getDeclaredField("levels")
    f.setAccessible(true)
    f.get(t).asInstanceOf[Array[Array[Double]]]
  }

  /** Some entry's copies lie in two different leaves. */
  def straddlesLeaves(t: PointRTree2D): Boolean =
    (0 until t.size).groupBy(p => (t.xs(p), t.ys(p)))
      .exists(_._2.map(_ / 16).distinct.length > 1)

  /** The tree holds each input (id, x, y), and a box's upper corner,
    * exactly once (bit-exact).
    */
  def sameMultiset(t: PointRTree2D, layer: Layer): Boolean = {
    def bits(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    t.size == layer.size && (0 until t.size).forall { p =>
      val i = t.ids(p).toInt
      bits(t.xs(p)) == bits(layer.xs(i)) && bits(t.ys(p)) == bits(layer.ys(i)) &&
        (!layer.boxes || bits(t.maxXs(p)) == bits(layer.uxs(i)) &&
          bits(t.maxYs(p)) == bits(layer.uys(i)))
    } && t.ids.sorted.toSeq == layer.indices.map(_.toLong)
  }

  /** Answers as (id, d2 bits) in emission order. */
  def probe(t: PointRTree2D, qx: Double, qy: Double, k: Int,
      ties: Boolean): Seq[(Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long)]
    t.nearestK(qx, qy, k, ties)((p, d) =>
      b += ((t.ids(p), java.lang.Double.doubleToLongBits(d))))
    b.result()
  }

  /** `got` (from [[probe]]) against a full sort in `Double.compare` order:
    * ascending, each distance its id's, no id twice, and either the first k
    * distances (without ties) or exactly every point at or below the k-th
    * (with ties).
    */
  def knnAgrees(layer: Layer, qx: Double, qy: Double, k: Int, ties: Boolean,
      got: Seq[(Long, Long)]): Boolean = {
    def d(bits: Long) = java.lang.Double.longBitsToDouble(bits)
    val all = layer.indices.map(i => (i.toLong, layer.d2(i, qx, qy)))
      .sortBy(_._2)(Ordering.Double.TotalOrdering)
    val want =
      if (all.isEmpty) all
      else if (!ties) all.take(k)
      else {
        val kth = all(math.min(k, all.length) - 1)._2
        all.takeWhile(p => java.lang.Double.compare(p._2, kth) <= 0)
      }
    val ascending = got.sliding(2).forall(w =>
      w.length < 2 || java.lang.Double.compare(d(w(0)._2), d(w(1)._2)) <= 0)
    val ownDistances = got.forall { case (id, b) =>
      java.lang.Double.compare(d(b), layer.d2(id.toInt, qx, qy)) == 0
    }
    val sameDistances = got.length == want.length &&
      got.zip(want).forall { case (g, w) =>
        java.lang.Double.compare(d(g._2), w._2) == 0
      }
    val sameIds = !ties || got.map(_._1).toSet == want.map(_._1).toSet
    ascending && ownDistances && sameDistances && sameIds &&
      got.map(_._1).distinct.length == got.length
  }
}
