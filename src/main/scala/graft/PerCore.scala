package graft

import graft.index.PointRTree2D

/** Dev tool: single-thread per-core probe benchmark for the packed point
  * tree — the same-process measurement behind BASELINE.md's per-core
  * table (reference yardstick: rstar/README.md:29-39 — bulk 8.7 M rows/s,
  * 1-NN 1.32 µs, locate_at_point 0.18 µs hit / 0.27 µs miss). Runs each
  * op warm, best of 5 rounds.
  *
  * Usage: runMain graft.PerCore [nPoints] [nQueries]
  */
object PerCore {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 100000
    val q = if (args.length > 1) args(1).toInt else 200000
    val rnd = new java.util.Random(42)
    val ids = Array.tabulate(n)(_.toLong)
    val xs = Array.fill(n)(rnd.nextDouble() * 360.0 - 180.0)
    val ys = Array.fill(n)(rnd.nextDouble() * 170.0 - 85.0)

    // build rate (warm: 3 throwaway builds)
    var tree: PointRTree2D = null
    (1 to 3).foreach(_ => tree = PointRTree2D.build(ids, xs, ys))
    val bt = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      tree = PointRTree2D.build(ids, xs, ys)
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"PERCORE build ${n / bt / 1e6}%.2f Mrows/s")

    // query mixes: hits probe existing points, misses probe perturbed ones
    val hitX = new Array[Double](q); val hitY = new Array[Double](q)
    val missX = new Array[Double](q); val missY = new Array[Double](q)
    val qx = new Array[Double](q); val qy = new Array[Double](q)
    var i = 0
    while (i < q) {
      val p = rnd.nextInt(n)
      hitX(i) = xs(p); hitY(i) = ys(p)
      missX(i) = xs(p) + 1e-9; missY(i) = ys(p)
      qx(i) = rnd.nextDouble() * 360.0 - 180.0
      qy(i) = rnd.nextDouble() * 170.0 - 85.0
      i += 1
    }

    def bench(tag: String)(body: => Long): Unit = {
      (1 to 2).foreach(_ => body) // warm
      val best = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        val sink = body
        val dt = System.nanoTime() - t0
        if (sink == Long.MinValue) println("?") // keep the sink live
        dt
      }.min
      println(f"PERCORE $tag ${best.toDouble / q / 1000.0}%.3f us/op")
    }

    bench("locate_hit") {
      var s = 0L; var j = 0
      while (j < q) { s += tree.locateAtPoint(hitX(j), hitY(j)); j += 1 }
      s
    }
    bench("locate_miss") {
      var s = 0L; var j = 0
      while (j < q) { s += tree.locateAtPoint(missX(j), missY(j)); j += 1 }
      s
    }
    bench("1nn") {
      var s = 0L; var j = 0
      while (j < q) { s += tree.nearest(qx(j), qy(j))._1; j += 1 }
      s
    }

    // LocalRTree tier (the BASELINE.md per-core table's middle column):
    // reference params MIN 2 / MAX 40 / REINSERT 1 (rstar-benches
    // benchmarks.rs:24-29). Sequential R* insert rate mirrors the
    // reference's sequential-insert bench (README.md:35, ~1.38 M rows/s).
    import graft.geom.AABB
    import graft.index.{Entry, LocalRTree}
    def entries = Array.tabulate(n)(i =>
      Entry(AABB.of2d(xs(i), ys(i), xs(i), ys(i)), ids(i)))
    var lt = new LocalRTree[Long](2, 40, 1).bulkLoad(entries)
    val lbt = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      lt = new LocalRTree[Long](2, 40, 1).bulkLoad(entries)
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"PERCORE local_bulk ${n / lbt / 1e6}%.2f Mrows/s")
    val ins = entries
    val ibt = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val t = new LocalRTree[Long](2, 40, 1)
      var j = 0
      while (j < n) { t.insert(ins(j)); j += 1 }
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"PERCORE local_insert ${n / ibt / 1e6}%.2f Mrows/s")
    bench("local locate_hit") {
      var s = 0L; var j = 0
      while (j < q) {
        s += lt.locateAtPoint(Array(hitX(j), hitY(j))).size; j += 1
      }
      s
    }
    bench("local 1nn") {
      var s = 0L; var j = 0
      while (j < q) {
        s += lt.nearestNeighbor(Array(qx(j), qy(j))).size; j += 1
      }
      s
    }
  }
}
