package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.CellHistogram
import graft.index.CellGrid

/** Properties of the pass-A ring walk every kNN operator shares
  * ([[CellHistogram.ringCells]] over [[CellGrid.ring]]), checked against a
  * brute-force reading of the histogram: pure Scala, no Spark, 500
  * generated cases per property.
  */
class CellHistogramSpec extends AnyFunSuite {
  import CellHistogramSpec.Case

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
}
