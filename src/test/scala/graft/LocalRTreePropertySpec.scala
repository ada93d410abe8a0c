package graft

import java.util.SplittableRandom

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.geom.AABB
import graft.index.{Entry, LocalRTree, PointRTree2D}

/** Generated properties of `LocalRTree` against brute-force scans — the
  * rstar suite's semantics (bulk-load round trip, NN vs a linear scan,
  * envelope-query completeness; rstar/src/algorithm/nearest_neighbor.rs:
  * 336-397, iterators.rs:309-410) — in each state a tree reaches:
  *   - bulk-loaded 2-D (OMT);
  *   - bulk-loaded 3-D;
  *   - insert-built 2-D (R* insertion);
  *   - bulk-loaded 2-D plus one insert (the R* append path's shape).
  * Every query walks the node graph in every state.
  * Both the engine's `(2, 40, 1)` parameters and the defaults, layer sizes
  * 0, 1, 40, 41 and 1 601 (one node, one past it, two levels plus one),
  * point and rectangle entries with duplicates, zero-area boxes and ±0.0.
  * NaN and ±Inf coordinates, in entries and queries, are covered by the box
  * and point queries, which follow rstar's positive comparisons
  * (rstar/src/aabb.rs:140-165: a NaN never matches), and by an insert-built
  * tree answering as the bulk-loaded tree of the same entries. Pure Scala,
  * 500 generated cases per property.
  */
class LocalRTreePropertySpec extends AnyFunSuite {
  import LocalRTreePropertySpec._

  private def check(prop: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500).withInitialSeed(Seed(20261020L)), prop)
    assert(r.passed, r.status.toString)
    assert(r.succeeded >= 500)
  }

  private def genLayerOf(specialShare: Gen[Double]): Gen[Layer] = for {
    state <- Gen.oneOf(States)
    params <- Gen.oneOf(EngineParams, DefaultParams)
    n <- Gen.oneOf(Sizes)
    rects <- Gen.oneOf(false, true)
    kind <- Gen.oneOf(Uniform, Lattice, Pool)
    zeroShare <- Gen.oneOf(0.0, 0.1, 0.4)
    special <- specialShare
    seed <- Gen.long
  } yield Layer.generate(state, params, n, rects, kind, zeroShare, seed, special)

  private val genLayer: Gen[Layer] = genLayerOf(Gen.const(0.0))

  /** A query coordinate: anywhere, on the lattice or half-way between
    * lattice points (exact ties), or a signed zero.
    */
  private val genCoord: Gen[Double] = Gen.frequency(
    4 -> Gen.choose(-12.0, 12.0),
    3 -> Gen.choose(-10, 10).map(_ / 2.0),
    1 -> Gen.oneOf(0.0, -0.0))

  /** `genCoord`, or NaN / ±Inf. */
  private val genSpecialCoord: Gen[Double] =
    Gen.frequency(4 -> genCoord, 1 -> Gen.oneOf(Specials))

  private def genPoint(layer: Layer,
      coord: Gen[Double] = genCoord): Gen[Array[Double]] = Gen.frequency(
    3 -> Gen.listOfN(layer.dims, coord).map(_.toArray),
    // an entry's corner: a guaranteed hit, often on a shared border
    2 -> Gen.choose(0, math.max(0, layer.size - 1)).flatMap { i =>
      if (layer.size == 0) Gen.const(Array.fill(layer.dims)(0.0))
      else Gen.oneOf(layer.lo(i), layer.hi(i)).map(_.clone())
    })

  private def genBox(layer: Layer,
      coord: Gen[Double] = genCoord): Gen[(Array[Double], Array[Double])] =
    Gen.frequency(
      4 -> Gen.zip(genPoint(layer, coord), genPoint(layer, coord)).map {
        case (a, b) =>
          (Array.tabulate(layer.dims)(d => math.min(a(d), b(d))),
            Array.tabulate(layer.dims)(d => math.max(a(d), b(d))))
      },
      1 -> genPoint(layer, coord).map(p => (p, p.clone()))) // zero-area query

  private def genCaseOf(layers: Gen[Layer], coord: Gen[Double]): Gen[Case] =
    for {
      layer <- layers
      points <- Gen.listOfN(3, genPoint(layer, coord))
      boxes <- Gen.listOfN(3, genBox(layer, coord))
      r2 <- Gen.frequency(3 -> Gen.choose(0.0, 30.0), 1 -> Gen.const(0.0))
      onBorder <- Gen.choose(0, math.max(0, layer.size - 1))
    } yield Case(layer, points, boxes, r2, onBorder)

  private val genCase: Gen[Case] = genCaseOf(genLayer, genCoord)

  /** Entries and queries with NaN / ±Inf coordinates (a share of 2 or 30 %
    * of the entry coordinates).
    */
  private val genSpecialCase: Gen[Case] =
    genCaseOf(genLayerOf(Gen.oneOf(0.02, 0.3)), genSpecialCoord)

  /** Box and point answers as sorted value lists, in the order
    * foreachIntersecting, queryIntersecting, queryContained and
    * locateAllAtPoint per query.
    */
  private def boxAndPointAnswers(t: LocalRTree[Int], c: Case): Seq[Seq[Int]] =
    c.boxes.flatMap { case (qlo, qhi) =>
      val q = AABB.fromBounds(qlo, qhi)
      val pushed = Seq.newBuilder[Int]
      t.foreachIntersecting(q)(e => pushed += e.value)
      Seq(pushed.result().sorted,
        t.queryIntersecting(q).map(_.value).toSeq.sorted,
        t.queryContained(q).map(_.value).toSeq.sorted)
    } ++ c.points.map(p => t.locateAllAtPoint(p).map(_.value).toSeq.sorted)

  test("the generator covers every state, size and parameter set, with " +
    "duplicates, zero-area boxes and ±0.0") {
    val sample = Gen.listOfN(500, genLayer)
      .apply(Gen.Parameters.default, Seed(7L)).get
    assert(States.toSet == sample.map(_.state).toSet)
    assert(Sizes.toSet == sample.map(_.size).toSet)
    assert(Set(EngineParams, DefaultParams) == sample.map(_.params).toSet)
    def coords(l: Layer) = (l.lo ++ l.hi).iterator.flatten
    assert(sample.exists(l => coords(l).exists(v => v == 0.0 && 1.0 / v < 0)))
    assert(sample.exists(l => coords(l).exists(v => v == 0.0 && 1.0 / v > 0)))
    assert(sample.exists(l => l.rects && l.indices.exists(i =>
      (0 until l.dims).exists(d => l.lo(i)(d) == l.hi(i)(d)))))
    assert(sample.exists(l => l.size > 40 &&
      l.indices.map(i => l.lo(i).toSeq).distinct.size < l.size / 2))
    assert(sample.exists(l => l.state == Bulk3D && l.rects && l.size == 1601))
  }

  test("sanityCheck passes and the tree holds exactly the input multiset") {
    check(Prop.forAll(genLayer) { layer =>
      val t = layer.tree
      t.sanityCheck(checkFanout = layer.state == Inserted2D)
      t.size == layer.size &&
        t.iterator.map(_.value).toSeq.sorted == layer.indices
    })
  }

  test("foreachIntersecting, queryIntersecting and queryContained == " +
    "filtered scan (closed intervals, as multisets)") {
    check(Prop.forAll(genCase) { c =>
      val t = c.layer.tree
      c.boxes.forall { case (qlo, qhi) =>
        val q = AABB.fromBounds(qlo, qhi)
        val pushed = Seq.newBuilder[Int]
        t.foreachIntersecting(q)(e => pushed += e.value)
        val hit = c.layer.indices.filter(c.layer.intersects(_, qlo, qhi))
        val inside = c.layer.indices.filter(c.layer.within(_, qlo, qhi))
        pushed.result().sorted == hit &&
          t.queryIntersecting(q).map(_.value).toSeq.sorted == hit &&
          t.queryContained(q).map(_.value).toSeq.sorted == inside
      }
    })
  }

  test("with NaN and ±Inf: foreachIntersecting == queryIntersecting == " +
    "filtered scan under rstar's predicates, and so do queryContained and " +
    "locateAllAtPoint") {
    check(Prop.forAll(genSpecialCase) { c =>
      val l = c.layer
      val want = c.boxes.flatMap { case (qlo, qhi) =>
        val hit = l.indices.filter(l.intersects(_, qlo, qhi))
        Seq(hit, hit, l.indices.filter(l.within(_, qlo, qhi)))
      } ++ c.points.map(p => l.indices.filter(l.containsPoint(_, p)))
      boxAndPointAnswers(l.tree, c) == want
    })
  }

  test("with NaN and ±Inf: an insert-built tree answers as the bulk-loaded " +
    "tree of the same entries, and no inner envelope holds a NaN") {
    def nanFree(t: LocalRTree[Int]): Boolean = {
      def walk(n: LocalRTree.Node[Int]): Boolean = n match {
        case in: LocalRTree.Inner[Int @unchecked] =>
          !(in.env.lower ++ in.env.upper).exists(_.isNaN) &&
            in.children.forall(walk)
        case _ => true
      }
      walk(t.rootNode)
    }
    check(Prop.forAll(genSpecialCase) { c =>
      c.layer.dims == 3 || {
        val bulk = c.layer.copy(state = Bulk2D).tree
        val inserted = c.layer.copy(state = Inserted2D).tree
        inserted.sanityCheck(checkFanout = true)
        boxAndPointAnswers(inserted, c) == boxAndPointAnswers(bulk, c) &&
          nanFree(bulk) && nanFree(inserted)
      }
    })
  }

  // "The mirror" is the packed box tree (`PointRTree2D`) that took over the
  // deleted flat mirror's 2-D box probes.
  test("a NaN entry is never a box hit, in the mirror or the node graph") {
    val pts = Array.tabulate(200)(i => Entry(AABB.fromPoint(
      Array((i % 20) * 0.5, (i / 20) * 1.0)), i))
    val nan = Entry(AABB.fromPoint(Array(Double.NaN, 5.0)), 200)
    val q = AABB.of2d(0, 0, 10, 10)
    val bulk = new LocalRTree[Int](2, 40, 1).bulkLoad(pts :+ nan)
    val pushed = Seq.newBuilder[Int]
    bulk.foreachIntersecting(q)(e => pushed += e.value)
    assert(pushed.result().sorted == (0 until 200))
    assert(bulk.queryIntersecting(q).map(_.value).toSeq.sorted == (0 until 200))
    val es = pts :+ nan
    val packed = PointRTree2D.build(es.map(_.value.toLong),
      es.map(_.env.lower(0)), es.map(_.env.lower(1)),
      es.map(_.env.upper(0)), es.map(_.env.upper(1)))
    val packedHits = Seq.newBuilder[Long]
    packed.foreachInBox(0, 0, 10, 10)(p => packedHits += packed.ids(p))
    assert(packedHits.result().sorted == (0L until 200L))
    val inserted = new LocalRTree[Int](2, 40, 1)
    (pts :+ nan).foreach(inserted.insert)
    assert(!inserted.rootNode.env.lower.exists(_.isNaN))
    assert(inserted.queryIntersecting(q).map(_.value).toSeq.sorted == (0 until 200))
  }

  test("locateAtPoint is defined exactly when locateAllAtPoint is " +
    "non-empty, and returns a containing element") {
    check(Prop.forAll(genCase) { c =>
      val t = c.layer.tree
      c.points.forall { p =>
        val all = t.locateAllAtPoint(p).map(_.value).toSeq.sorted
        val first = t.locateAtPoint(p)
        all == c.layer.indices.filter(c.layer.containsPoint(_, p)) &&
          first.isDefined == all.nonEmpty &&
          first.forall(e => c.layer.containsPoint(e.value, p))
      }
    })
  }

  test("nearestNeighbor's d2 == the brute-force minimum") {
    check(Prop.forAll(genCase) { c =>
      val t = c.layer.tree
      c.points.forall { p =>
        t.nearestNeighbor(p) match {
          case None => c.layer.size == 0
          case Some((e, d2)) =>
            d2 == c.layer.indices.map(c.layer.d2(_, p))
              .min(Ordering.Double.TotalOrdering) &&
              d2 == c.layer.d2(e.value, p)
        }
      }
    })
  }

  test("nearestNeighborIter's distance sequence == the sorted brute-force " +
    "distances") {
    check(Prop.forAll(genCase) { c =>
      val t = c.layer.tree
      c.points.forall { p =>
        val got = t.nearestNeighborIter(p).toSeq
        got.map(_._2) == c.layer.indices.map(c.layer.d2(_, p))
          .sorted(Ordering.Double.TotalOrdering) &&
          got.forall { case (e, d2) => d2 == c.layer.d2(e.value, p) } &&
          got.map(_._1.value).sorted == c.layer.indices
      }
    })
  }

  test("withinDistance2 == filtered scan, radius on an entry's distance " +
    "included") {
    check(Prop.forAll(genCase) { c =>
      val t = c.layer.tree
      c.points.forall { p =>
        val radii =
          if (c.layer.size == 0) Seq(c.r2)
          else Seq(c.r2, c.layer.d2(c.onBorder, p))
        radii.forall { r2 =>
          t.withinDistance2(p, r2).map(_.value).toSeq.sorted ==
            c.layer.indices.filter(c.layer.d2(_, p) <= r2)
        }
      }
    })
  }
}

object LocalRTreePropertySpec {
  sealed trait State
  case object Bulk2D extends State     // OMT bulk load, 2-D
  case object Bulk3D extends State     // OMT bulk load, 3-D
  case object Inserted2D extends State // R* insertion, one entry at a time
  case object Appended2D extends State // bulk load, then one insert
  val States: Seq[State] = Seq(Bulk2D, Bulk3D, Inserted2D, Appended2D)
  def dimsOf(state: State): Int = if (state == Bulk3D) 3 else 2

  /** (minSize, maxSize, reinsertionCount) */
  val EngineParams: (Int, Int, Int) = (2, 40, 1)
  val DefaultParams: (Int, Int, Int) = (3, 6, 2)
  val Sizes: Seq[Int] = Seq(0, 1, 40, 41, 1601)
  val Specials: Seq[Double] =
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  sealed trait Kind
  case object Uniform extends Kind // distinct coordinates
  case object Lattice extends Kind // integer grid: ties and duplicates
  case object Pool extends Kind    // drawn from 8 entries: heavy duplicates

  /** Entry `i` is the box `lo(i)`..`hi(i)` with value `i`. */
  final case class Layer(state: State, params: (Int, Int, Int), rects: Boolean,
      kind: Kind, lo: Array[Array[Double]], hi: Array[Array[Double]]) {
    def size: Int = lo.length
    def dims: Int = dimsOf(state)
    def indices: IndexedSeq[Int] = lo.indices

    def intersects(i: Int, qlo: Array[Double], qhi: Array[Double]): Boolean =
      (0 until dims).forall(d => lo(i)(d) <= qhi(d) && qlo(d) <= hi(i)(d))
    def within(i: Int, qlo: Array[Double], qhi: Array[Double]): Boolean =
      (0 until dims).forall(d => qlo(d) <= lo(i)(d) && hi(i)(d) <= qhi(d))
    def containsPoint(i: Int, p: Array[Double]): Boolean =
      (0 until dims).forall(d => lo(i)(d) <= p(d) && p(d) <= hi(i)(d))

    /** Squared distance from `p` to entry `i`'s box, summed in axis order. */
    def d2(i: Int, p: Array[Double]): Double =
      (0 until dims).foldLeft(0.0) { (acc, d) =>
        val gap =
          if (p(d) < lo(i)(d)) lo(i)(d) - p(d)
          else if (p(d) > hi(i)(d)) p(d) - hi(i)(d)
          else 0.0
        acc + gap * gap
      }

    def entries: Array[Entry[Int]] =
      Array.tabulate(size)(i => Entry(AABB.fromBounds(lo(i), hi(i)), i))

    lazy val tree: LocalRTree[Int] = {
      val t = new LocalRTree[Int](params._1, params._2, params._3)
      val es = entries
      state match {
        case Bulk2D | Bulk3D => t.bulkLoad(es)
        case Inserted2D => es.foreach(t.insert)
        case Appended2D =>
          t.bulkLoad(es.dropRight(1))
          es.lastOption.foreach(t.insert)
      }
      t
    }

    override def toString: String =
      s"Layer($state, $params, n = $size, rects = $rects, $kind, " +
        indices.take(4).map(i =>
          s"${lo(i).mkString("[", ",", "]")}..${hi(i).mkString("[", ",", "]")}")
          .mkString(" ") + " …)"
  }

  object Layer {
    def generate(state: State, params: (Int, Int, Int), n: Int,
        rects: Boolean, kind: Kind, zeroShare: Double, seed: Long,
        specialShare: Double = 0.0): Layer = {
      val r = new SplittableRandom(seed)
      val dims = dimsOf(state)
      def coord(): Double =
        if (specialShare > 0 && r.nextDouble() < specialShare)
          Specials(r.nextInt(Specials.length))
        else if (r.nextDouble() < zeroShare) { if (r.nextBoolean()) 0.0 else -0.0 }
        else kind match {
          case Lattice => (r.nextInt(9) - 4).toDouble
          case _ => r.nextDouble() * 20 - 10
        }
      // a rect's side is zero (a degenerate box), a lattice step or uniform
      def extent(): Double =
        if (!rects) 0.0
        else r.nextInt(3) match {
          case 0 => 0.0
          case 1 => (1 + r.nextInt(2)).toDouble
          case _ => r.nextDouble() * 3
        }
      def box(): (Array[Double], Array[Double]) = {
        val lo = Array.fill(dims)(coord())
        (lo, lo.map { v => val e = extent(); if (e == 0.0) v else v + e })
      }
      val pool = Array.fill(8)(box())
      val boxes = Array.fill(n)(kind match {
        case Pool => pool(r.nextInt(pool.length))
        case _ => box()
      })
      Layer(state, params, rects, kind, boxes.map(_._1), boxes.map(_._2))
    }
  }

  final case class Case(layer: Layer, points: List[Array[Double]],
      boxes: List[(Array[Double], Array[Double])], r2: Double, onBorder: Int)
}
