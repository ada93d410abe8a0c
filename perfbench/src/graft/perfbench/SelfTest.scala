package graft.perfbench

import scala.collection.mutable

import graft.engine.{PointRow, QueryRow, RectRow}

/** Checks of the benchmark's own Scala logic:
  *
  *   SelfTest <work dir>
  *
  * - the listener attributes jobs, tasks and stage spans to the call whose
  *   job group they ran under, and nothing to calls that set none;
  * - the seeded inputs are a function of the seed: the same seed gives the
  *   same rows (on executors and on the driver), another seed other rows;
  * - the oracles agree with a plain double loop on small inputs.
  *
  * Prints "selftest ok" as its last line, or exits 1 naming each failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(what: String)(ok: => Boolean): Unit =
    if (!ok) { failures += what; println(s"FAIL $what") }
    else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args(0)); if (failures.isEmpty) 0 else 1 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    println(if (code == 0) "selftest ok" else s"selftest FAILED: ${failures.mkString("; ")}")
    sys.exit(code)
  }

  def run(work: String): Unit = {
    val spark = PerfBench.session(2, work)
    val sc = spark.sparkContext
    import spark.implicits._

    // listener attribution
    val tracer = new Tracer("selftest", on = true)
    val l = new CallListener(tracer)
    sc.addSparkListener(l)
    val (a, b) = tracer.span("root") { _ =>
      val a = tracer.span("engine.a") { id =>
        sc.setJobGroup(s"span$id", "a")
        sc.parallelize(1 to 100, 3).count()
        sc.parallelize(1 to 100, 2).map(_ % 7).distinct(2).count()
        sc.clearJobGroup()
        id
      }
      sc.parallelize(1 to 10, 5).count() // no group: attributed to nobody
      val b = tracer.span("engine.b") { id =>
        sc.setJobGroup(s"span$id", "b")
        sc.parallelize(1 to 10, 4).count()
        sc.clearJobGroup()
        id
      }
      (a, b)
    }
    check("listener drains")(CallListener.drain(sc, l, "selftest"))
    sc.removeSparkListener(l)
    val sa = l.stats(s"span$a")
    val sb = l.stats(s"span$b")
    check(s"call a: 2 jobs (got ${sa.jobs})")(sa.jobs == 2)
    check(s"call a: 3 + 2 + 2 tasks (got ${sa.tasks})")(sa.tasks == 7)
    check(s"call b: 1 job of 4 tasks (got ${sb.jobs}, ${sb.tasks})")(
      sb.jobs == 1 && sb.tasks == 4)
    check("only grouped calls and the drain marker are attributed")(
      l.groups.toSet == Set(s"span$a", s"span$b", "drain-selftest"))
    val stages = tracer.spans.filter(_.name.startsWith("stage."))
    check("stage spans hang under their call")(
      stages.count(_.parent == a) == 3 && stages.count(_.parent == b) == 1)
    check("task skew is max over median task time, at least 1")(
      sa.taskSkew >= 1.0 && sb.taskSkew >= 1.0)

    // seeded input determinism
    def ents(seed: Long) =
      Inputs.entities(spark, Inputs.pageBase(seed), 3000, 4).collect().sortBy(_.id).toSeq
    val e7 = ents(7)
    check("same seed, same entities")(e7 == ents(7))
    check("executor and driver entities agree")(
      e7 == Inputs.entitiesLocal(Inputs.pageBase(7), 3000).toSeq)
    check("another seed, other entities")(
      e7.map(_.id).toSet.intersect(ents(8).map(_.id).toSet).isEmpty)
    check("entities: about 1.5 per page, ~30% near an urban centre") {
      val hot = e7.count(p => graft.data.PagesGen.urbanCenters.exists { case (cx, cy) =>
        math.abs(p.x - cx) <= 0.1 && math.abs(p.y - cy) <= 0.1 })
      e7.size > 4000 && e7.size < 5000 && hot > 0.25 * e7.size && hot < 0.35 * e7.size
    }
    val t7 = Inputs.tiles(spark, 7, 500, 0.2, 3).collect().sortBy(_.id).toSeq
    check("same seed, same tiles; driver twin agrees")(
      t7 == Inputs.tilesLocal(7, 500, 0.2).toSeq &&
        t7 == Inputs.tiles(spark, 7, 500, 0.2, 2).collect().sortBy(_.id).toSeq)
    check("another seed, other tiles")(t7 != Inputs.tilesLocal(8, 500, 0.2).toSeq)
    check("same seed, same POIs")(
      Inputs.pois(spark, 7, 500, 3).collect().sortBy(_.id).toSeq ==
        Inputs.poisLocal(7, 500).toSeq &&
        Inputs.poisLocal(7, 500).toSeq != Inputs.poisLocal(8, 500).toSeq)
    check("query points and range boxes are seeded")(
      Inputs.queryPoints(7, "q", 50).toSeq == Inputs.queryPoints(7, "q", 50).toSeq &&
        Inputs.queryPoints(7, "q", 50).toSeq != Inputs.queryPoints(8, "q", 50).toSeq &&
        Inputs.rangeBoxes(7, "r", 9).toSeq == Inputs.rangeBoxes(7, "r", 9).toSeq)
    spark.stop()

    // oracles against a double loop
    val pts = Inputs.entitiesLocal(Inputs.pageBase(3), 2000)
    val rects = Inputs.tilesLocal(3, 3000, 2.0) :+ RectRow(-1L, 13.0, 52.0, 14.0, 53.0)
    val loop = for (p <- pts; r <- rects
        if r.minX <= p.x && p.x <= r.maxX && r.minY <= p.y && p.y <= r.maxY)
      yield (p.id, r.id)
    val d = Oracles.pointRectPairs(pts, rects)
    check(s"pair oracle count (${d.count} vs ${loop.length})")(d.count == loop.length)
    check("pair oracle digest")(
      d.xor == loop.foldLeft(0L) { case (x, (l, r)) => x ^ Oracles.pairHash(l, r) })
    val grid = Seq(PointRow(5, 1, 0), PointRow(3, 0, 1), PointRow(9, 2, 2),
      PointRow(1, -1, 0))
    check("knn oracle orders by (d2, id)")(
      Oracles.knn(QueryRow(0, 0, 0), grid.toIndexedSeq, 3) ==
        Seq((1L, 1.0, 1), (3L, 1.0, 2), (5L, 1.0, 3)))
    check("range oracle uses closed boxes")(
      Oracles.inBox(grid.toIndexedSeq, (0.0, 0.0, 1.0, 1.0)).map(_._1) == Seq(3L, 5L))
  }
}
