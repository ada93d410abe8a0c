package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CellHistogram
import graft.index.CellGrid

/** Properties of the pass-A ring walk every kNN operator shares
  * ([[CellHistogram.ringCells]] over [[CellGrid.ring]]) and of the
  * one-pass cover built on it ([[CellHistogram.knnCover]]), checked
  * against a brute-force reading of the histogram or the layer: pure
  * Scala, no Spark, 500 generated cases per property.
  */
class CellHistogramSpec extends AnyFunSuite {
  import CellHistogramSpec.{Case, KnnCase}

  /** A coordinate on one axis of the unit grid: anywhere inside, exactly on
    * a cell border, or outside the domain (clamped to a border cell).
    */
  private def coord(n: Int): Gen[Double] = Gen.oneOf(
    Gen.choose(0.0, 1.0),
    Gen.choose(0, n).map(_.toDouble / n),
    Gen.oneOf(Gen.choose(-5.0, -1e-9), Gen.choose(1.0 + 1e-9, 5.0)))

  private val genCase: Gen[Case] = for {
    res <- Gen.choose(0, 4) // res 0: the whole domain is one cell
    grid = CellGrid.unit(res)
    cells = grid.cellsPerAxis.toLong * grid.cellsPerAxis
    cellCount = Gen.zip(Gen.choose(0L, cells - 1), Gen.choose(1L, 20L))
    counts <- Gen.frequency(
      1 -> Gen.const(Map.empty[Long, Long]),
      2 -> cellCount.map(Map(_)), // every point in one cell
      5 -> Gen.mapOf(cellCount))
    qx <- coord(grid.cellsPerAxis)
    qy <- coord(grid.cellsPerAxis)
    total = counts.values.sum
    need <- Gen.frequency(
      4 -> Gen.choose(0L, total),
      1 -> Gen.choose(total + 1, total + 10)) // more than the layer holds
  } yield Case(grid, counts, qx, qy, need)

  /** A layer and a kNN query on a unit grid: scattered points (out of the
    * domain too) with repeats, everything in one cell, or nothing; k is
    * sometimes larger than the layer.
    */
  private val genKnnCase: Gen[KnnCase] = for {
    res <- Gen.choose(0, 5)
    grid = CellGrid.unit(res)
    n = grid.cellsPerAxis
    pt = Gen.zip(coord(n), coord(n))
    pts <- Gen.frequency(
      1 -> Gen.const(List.empty[(Double, Double)]),
      2 -> (for {
        cx <- Gen.choose(0, n - 1)
        cy <- Gen.choose(0, n - 1)
        us <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0.0, 0.999), Gen.choose(0.0, 0.999)))
      } yield us.map { case (u, v) => ((cx + u) / n, (cy + v) / n) }),
      5 -> Gen.nonEmptyListOf(pt).flatMap(ps =>
        Gen.listOf(Gen.oneOf(ps)).map(ps ++ _)))
    q <- pt
    k <- Gen.frequency(
      4 -> Gen.choose(1, math.max(1, pts.length)),
      1 -> Gen.choose(pts.length + 1, pts.length + 5))
  } yield KnnCase(grid, pts.toArray, q._1, q._2, k)

  private def check(prop: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500).withInitialSeed(Seed(20261017L)), prop)
    assert(r.passed, r.status.toString)
    assert(r.succeeded >= 500)
  }

  test("the generator covers the edge cases (empty histogram, one cell, " +
    "res 0, out-of-domain query, need > total)") {
    val sample = Gen.listOfN(2000, genCase)
      .apply(Gen.Parameters.default, Seed(7L)).get
    def out(v: Double) = v < 0 || v > 1
    assert(sample.exists(_.counts.isEmpty))
    assert(sample.exists(_.counts.size == 1))
    assert(sample.exists(_.grid.res == 0))
    assert(sample.exists(c => out(c.qx) || out(c.qy)))
    assert(sample.exists(c => c.need > c.counts.values.sum))
  }

  test("the layer generator covers the edge cases (out-of-domain points, " +
    "duplicates, one cell, k > |layer|, bounded covers)") {
    val sample = Gen.listOfN(2000, genKnnCase)
      .apply(Gen.Parameters.default, Seed(11L)).get
    def out(p: (Double, Double)) = p._1 < 0 || p._1 > 1 || p._2 < 0 || p._2 > 1
    assert(sample.exists(_.pts.exists(out)))
    assert(sample.exists(c => c.pts.distinct.length < c.pts.length))
    assert(sample.exists(c => c.pts.length > 1 &&
      c.pts.map(p => c.grid.cellId(p._1, p._2)).distinct.length == 1))
    assert(sample.exists(c => c.k > c.pts.length))
    assert(sample.exists(c => c.cover.length < c.hist.cells.length))
  }

  test("the one-pass cover holds every cell of the brute-force top k") {
    check(Prop.forAll(genKnnCase) { c =>
      val topK = c.pts.indices.sortBy { i =>
        val dx = c.pts(i)._1 - c.qx
        val dy = c.pts(i)._2 - c.qy
        (dx * dx + dy * dy, i)
      }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)).take(c.k)
      topK.forall(i => c.cover.contains(c.grid.cellId(c.pts(i)._1, c.pts(i)._2)))
    })
  }

  test("returned cells are distinct and non-empty") {
    check(Prop.forAll(genCase) { c =>
      val got = c.walk()
      got.distinct.length == got.length && got.forall(c.hist.count(_) > 0)
    })
  }

  test("returned counts reach `need`, or every non-empty cell is returned") {
    check(Prop.forAll(genCase) { c =>
      val got = c.walk()
      got.map(c.hist.count).sum >= c.need || got.toSet == c.counts.keySet
    })
  }

  test("expansion stops at the first ring that reaches `need`") {
    check(Prop.forAll(genCase) { c =>
      // brute force: cumulative counts by ring, smallest ring reaching need
      val byRing = c.counts.toSeq.groupMapReduce(cn => c.steps(cn._1))(_._2)(_ + _)
      val stop = (0 to c.grid.cellsPerAxis).find { r =>
        byRing.collect { case (ring, n) if ring <= r => n }.sum >= c.need
      }
      val want =
        if (c.need <= 0) Set.empty[Long]
        else c.counts.keySet.filter(cell => stop.forall(c.steps(cell) <= _))
      c.walk().toSet == want
    })
  }
}

object CellHistogramSpec {

  /** One generated query against one histogram. */
  final case class Case(grid: CellGrid, counts: Map[Long, Long],
      qx: Double, qy: Double, need: Long) {
    val hist: CellHistogram = CellHistogram.of(counts)
    val cx: Int = grid.ix(qx)
    val cy: Int = grid.iy(qy)
    def walk(): Array[Long] =
      hist.ringCells(need, grid.cellsPerAxis)(r => grid.ring(cx, cy, r))
    /** Chebyshev distance, in cells, from the query's (clamped) cell. */
    def steps(c: Long): Int = {
      val n = grid.cellsPerAxis
      math.max(math.abs((c / n).toInt - cx), math.abs((c % n).toInt - cy))
    }
  }

  /** One generated kNN query against one layer; a point's id is its index. */
  final case class KnnCase(grid: CellGrid, pts: Array[(Double, Double)],
      qx: Double, qy: Double, k: Int) {
    val hist: CellHistogram = CellHistogram.of(
      pts.groupMapReduce(p => grid.cellId(p._1, p._2))(_ => 1L)(_ + _))
    lazy val cover: Array[Long] = hist.knnCover(grid, k)(qx, qy)
  }
}
