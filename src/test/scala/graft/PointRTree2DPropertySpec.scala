package graft

import java.util.SplittableRandom
import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.index.PointRTree2D

/** Generated properties of the packed point tree against brute-force scans:
  * layer sizes that leave a partial last node at every level (0, 1, 16, 17,
  * 256, 257, 4 097 at leaf size and fan-out 16), duplicate, all-identical
  * and lattice layers full of exact ties, and NaN / ±Inf / −0.0
  * coordinates in points, queries, boxes and radii. Distances are ordered
  * as `Double.compare` orders them (NaN last, NaN == NaN). Pure Scala,
  * 500 generated cases per property.
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
    kind <- Gen.oneOf(Uniform, Lattice, Pool, Identical)
    specialShare <- Gen.oneOf(0.0, 0.0, 0.02, 0.3)
    seed <- Gen.long
  } yield Layer.generate(n, kind, specialShare, seed)

  /** A query coordinate: inside, on the lattice or half-way between
    * lattice points (exact ties), outside, or special.
    */
  private val genCoord: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-12.0, 12.0),
    3 -> Gen.choose(-10, 10).map(_ / 2.0),
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
    def has(p: Double => Boolean) =
      sample.exists(l => l.xs.exists(p) || l.ys.exists(p))
    assert(has(_.isNaN))
    assert(has(_ == Double.PositiveInfinity))
    assert(has(_ == Double.NegativeInfinity))
    assert(has(v => v == 0.0 && 1.0 / v < 0))
    assert(sample.exists(l => l.size > 1 &&
      l.points.distinct.length == 1 && !l.xs(0).isNaN))
    assert(sample.exists(l => l.points.distinct.length < l.size / 2))
  }

  test("every point lies in its leaf envelope; every node envelope contains " +
    "its children's") {
    check(Prop.forAll(genLayer) { layer =>
      val t = layer.tree
      val lv = envelopes(t)
      val leaf = 16
      val fan = 16
      def within(lo: Double, v: Double, hi: Double) = v.isNaN || (lo <= v && v <= hi)
      val pointsOk = (0 until t.size).forall { p =>
        val b = 4 * (p / leaf)
        within(lv(0)(b), t.xs(p), lv(0)(b + 2)) &&
          within(lv(0)(b + 1), t.ys(p), lv(0)(b + 3))
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
        lv(0).length == 4 * math.max(1, (t.size + leaf - 1) / leaf)
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
        x0 <= layer.xs(i) && layer.xs(i) <= x1 &&
          y0 <= layer.ys(i) && layer.ys(i) <= y1
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

  test("nearestK, k ∈ {1, 4, 10} × keepTies == sort by (Double.compare) " +
    "distance") {
    check(Prop.forAll(genCase) { case (layer, qs) =>
      val t = layer.tree
      (for ((qx, qy) <- qs; k <- Seq(1, 4, 10); ties <- Seq(false, true))
        yield knnAgrees(layer, qx, qy, k, ties, probe(t, qx, qy, k, ties)))
        .forall(ok => ok)
    })
  }

  test("one tree probed from 4 threads at once answers as it does alone") {
    val pool = Executors.newFixedThreadPool(4)
    try check(Prop.forAll(genCase) { case (layer, qs) =>
      val t = layer.tree
      def answers() = for ((qx, qy) <- qs; k <- Seq(1, 4, 10);
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

  val Specials: Array[Double] = Array(Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0)

  final case class Layer(kind: Kind, xs: Array[Double], ys: Array[Double]) {
    def size: Int = xs.length
    def indices: Range = xs.indices
    def points: Seq[(Double, Double)] = xs.toSeq.zip(ys.toSeq)
    def d2(i: Int, qx: Double, qy: Double): Double = {
      val dx = xs(i) - qx; val dy = ys(i) - qy
      dx * dx + dy * dy
    }
    lazy val tree: PointRTree2D =
      PointRTree2D.build(Array.tabulate(size)(_.toLong), xs, ys)
    override def toString: String =
      s"Layer($kind, n = $size, ${points.take(6).mkString(" ")} …)"
  }

  object Layer {
    def generate(n: Int, kind: Kind, specialShare: Double, seed: Long): Layer = {
      val r = new SplittableRandom(seed)
      def coord(): Double =
        if (r.nextDouble() < specialShare) Specials(r.nextInt(Specials.length))
        else kind match {
          case Lattice => (r.nextInt(9) - 4).toDouble
          case _ => r.nextDouble() * 20 - 10
        }
      val pool = Array.fill(kind match { case Pool => 8; case _ => 1 })(
        (coord(), coord()))
      val pts = Array.fill(n)(kind match {
        case Pool | Identical => pool(r.nextInt(pool.length))
        case _ => (coord(), coord())
      })
      Layer(kind, pts.map(_._1), pts.map(_._2))
    }
  }

  /** The tree's envelope levels, read from its serialized field. */
  def envelopes(t: PointRTree2D): Array[Array[Double]] = {
    val f = classOf[PointRTree2D].getDeclaredField("levels")
    f.setAccessible(true)
    f.get(t).asInstanceOf[Array[Array[Double]]]
  }

  /** The tree holds each input (id, x, y) exactly once (bit-exact). */
  def sameMultiset(t: PointRTree2D, layer: Layer): Boolean = {
    def bits(v: Double) = java.lang.Double.doubleToRawLongBits(v)
    t.size == layer.size && (0 until t.size).forall { p =>
      val i = t.ids(p).toInt
      bits(t.xs(p)) == bits(layer.xs(i)) && bits(t.ys(p)) == bits(layer.ys(i))
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
