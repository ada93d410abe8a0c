package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine._
import graft.geom.AABB
import graft.index.CellGrid
import graft.data.PagesGen

/** Distributed-operator golden tests: every engine op is compared against a
  * brute-force DataFrame oracle (crossJoin + filter / window), reproducing
  * the reference's brute-force-equivalence pattern
  * (rstar/src/algorithm/intersection_iterator.rs:112-134,
  * nearest_neighbor.rs:336-354) at the cluster tier.
  */
class SpatialOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def sc = { spark.sparkContext.setLogLevel("ERROR"); spark }

  import PagesGen.uniform

  private val grid = CellGrid.lonLat(4)

  private def rects(n: Int, seed: Int) = {
    val s = sc
    import s.implicits._
    s.range(n).map { id =>
      val x = uniform(id + seed, 1) * 360.0 - 180.0
      val y = uniform(id + seed, 2) * 170.0 - 85.0
      RectRow(id, x, y,
        math.min(x + uniform(id + seed, 3) * 5.0, 180.0),
        math.min(y + uniform(id + seed, 4) * 5.0, 85.0))
    }
  }

  private def points(n: Int, seed: Int) = {
    val s = sc
    import s.implicits._
    s.range(n).map { id =>
      PointRow(id,
        uniform(id + seed, 1) * 360.0 - 180.0,
        uniform(id + seed, 2) * 170.0 - 85.0)
    }
  }

  test("intersectionJoin (DataFrame plan) == brute-force crossJoin; " +
    "each pair exactly once despite multi-cell explode") {
    val l = rects(400, 1000).toDF()
    val r = rects(300, 2000).toDF()
    val got = SpatialOps.intersectionJoin(l, r, grid)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    val want = l.as("a").crossJoin(r.as("b"))
      .where(col("a.minX") <= col("b.maxX") && col("a.maxX") >= col("b.minX") &&
        col("a.minY") <= col("b.maxY") && col("a.maxY") >= col("b.minY"))
      .select(col("a.id"), col("b.id"))
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(got.length == got.toSet.size, "duplicate pairs emitted")
    assert(got.toSet == want.toSet)
    assert(want.nonEmpty)
  }

  test("self-join of a point layer yields exactly n pairs " +
    "(intersection_iterator.rs:137-155)") {
    val s = sc
    import s.implicits._
    val p = points(500, 3000)
      .select(col("id"), col("x").as("minX"), col("y").as("minY"),
        col("x").as("maxX"), col("y").as("maxY"))
    assert(SpatialOps.intersectionJoin(p, p, grid).count() == 500)
  }

  test("knnJoin == brute-force window top-k (every query, k=5)") {
    val s = sc
    import s.implicits._
    val data = points(2000, 4000)
    val queries = s.range(60).map(i =>
      QueryRow(i, uniform(i + 99, 1) * 360.0 - 180.0,
        uniform(i + 99, 2) * 170.0 - 85.0))
    val got = SpatialOps.knnJoin(queries, data, 5, grid)
      .select("qid", "id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = queries.toDF()
      .select(col("qid"), col("x").as("qx"), col("y").as("qy"))
      .crossJoin(data.toDF())
      .withColumn("d2", (col("x") - col("qx")) * (col("x") - col("qx")) +
        (col("y") - col("qy")) * (col("y") - col("qy")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("d2"), col("id"))))
      .where(col("rn") <= 5)
      .select("qid", "id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    assert(got.size == 60 * 5)
  }

  test("knnJoinTrees (per-cell tree probe) == knnJoin on the same input") {
    val s = sc
    import s.implicits._
    val data = points(2000, 4000)
    val queries = s.range(60).map(i =>
      QueryRow(i, uniform(i + 99, 1) * 360.0 - 180.0,
        uniform(i + 99, 2) * 170.0 - 85.0))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(SpatialOps.knnJoinTrees(queries, data, 5, grid)) ==
      key(SpatialOps.knnJoin(queries, data, 5, grid)))
    // tie semantics too
    val tied = Seq(PointRow(0, 1, 0), PointRow(1, -1, 0), PointRow(2, 0, 1),
      PointRow(3, 0, -1), PointRow(4, 3, 3)).toDS()
    val q1 = Seq(QueryRow(0, 0, 0)).toDS()
    assert(SpatialOps.knnJoinTrees(q1, tied, 1, grid, keepTies = true)
      .select("id").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("knnJoin k=1 == brute-force 1-NN, d2 bit-exact") {
    val s = sc
    import s.implicits._
    val data = points(2000, 4000)
    val queries = s.range(80).map(i =>
      QueryRow(i, uniform(i + 7, 1) * 360.0 - 180.0,
        uniform(i + 7, 2) * 170.0 - 85.0))
    val got = SpatialOps.knnJoin(queries, data, 1, grid)
      .select("qid", "id", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = queries.toDF()
      .select(col("qid"), col("x").as("qx"), col("y").as("qy"))
      .crossJoin(data.toDF())
      .withColumn("d2", (col("x") - col("qx")) * (col("x") - col("qx")) +
        (col("y") - col("qy")) * (col("y") - col("qy")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("d2"), col("id"))))
      .where(col("rn") === 1)
      .select("qid", "id", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == brute)
    assert(got.size == 80)
  }

  test("knnJoinBroadcast (zero-shuffle bounded-layer probe) == knnJoin " +
    "k=1 row for row; k > 1 is rejected") {
    val s = sc
    import s.implicits._
    val data = points(2000, 4000)
    val queries = s.range(60).map(i =>
      QueryRow(i, uniform(i + 99, 1) * 360.0 - 180.0,
        uniform(i + 99, 2) * 170.0 - 85.0))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "d2", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    assert(key(SpatialOps.knnJoinBroadcast(queries, data, 1)) ==
      key(SpatialOps.knnJoin(queries, data, 1, grid)))
    // exact-tie membership: four co-equal points, the (d2, id) cut keeps
    // the lowest id — identical to the window path's tiebreak
    val tied = Seq(PointRow(10, 1, 0), PointRow(4, -1, 0), PointRow(7, 0, 1),
      PointRow(2, 0, -1), PointRow(9, 3, 3)).toDS()
    val q1 = Seq(QueryRow(0, 0, 0)).toDS()
    assert(key(SpatialOps.knnJoinBroadcast(q1, tied, 1)) == Set((0L, 2L, 1.0, 1)))
    assert(key(SpatialOps.knnJoin(q1, tied, 1, grid)) == Set((0L, 2L, 1.0, 1)))
    assertThrows[IllegalArgumentException](
      SpatialOps.knnJoinBroadcast(q1, tied, 2))
  }

  test("intersectionJoinBroadcast (zero-shuffle bounded-layer probe) == " +
    "intersectionJoin, rect-left and point-left") {
    val s = sc
    import s.implicits._
    val l = rects(400, 1000).toDF()
    val r = rects(300, 2000).toDF()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(key(SpatialOps.intersectionJoinBroadcast(l, r)) ==
      key(SpatialOps.intersectionJoin(l, r, grid)))
    val p = points(500, 3000)
      .select(col("id"), col("x").as("minX"), col("y").as("minY"),
        col("x").as("maxX"), col("y").as("maxY"))
    assert(key(SpatialOps.intersectionJoinBroadcast(p, r)) ==
      key(SpatialOps.intersectionJoin(p, r, grid)))
  }

  test("dense-cell kNN: the fused InternalRow tree probe beats the window " +
    "path, with no object cogroup in the plan") {
    val s = sc
    import s.implicits._
    // dense regime: res-2 grid → 16 cells → ≥ 5k points per cell; the
    // window path must sort queries×density candidate rows, the tree path
    // answers each query in O(log density)
    val denseGrid = CellGrid.lonLat(2)
    val data = points(90000, 8000).localCheckpoint(true)
    val perCell = data.groupBy(
      graft.functions.SpatialFunctions.stCell(denseGrid)(col("x"), col("y")))
      .count().collect().map(_.getLong(1))
    assert(perCell.length == 16 && perCell.min >= 5000,
      s"fixture must stay dense: ${perCell.sorted.mkString(",")}")
    val queries = s.range(1500).map(i =>
      QueryRow(i, uniform(i + 31, 1) * 360.0 - 180.0,
        uniform(i + 31, 2) * 170.0 - 85.0)).localCheckpoint(true)
    def run(f: => org.apache.spark.sql.DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f.count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    // warm both paths (JIT + codegen), then measure
    run(SpatialOps.knnJoin(queries, data, 5, denseGrid))
    run(SpatialOps.knnJoinTrees(queries, data, 5, denseGrid))
    val (nw, tw) = run(SpatialOps.knnJoin(queries, data, 5, denseGrid))
    val (nt, tt) = run(SpatialOps.knnJoinTrees(queries, data, 5, denseGrid))
    assert(nw == nt)
    info(f"dense-cell: window $tw%.2f s, fused trees $tt%.2f s (${tw / tt}%.1fx)")
    // measured 8.7-10.4x on this fixture; the 1.5x margin absorbs this
    // box's documented noise spikes while still proving the round-1
    // regression (trees LOST 2.3x to the window path) cannot silently return
    assert(tt < tw * 1.5,
      f"fused tree path ($tt%.2f s) regressed vs window ($tw%.2f s)")
    // the plan must not contain the round-1 object-churn operators: the
    // probe runs on co-partitioned InternalRows, not typed cogroups
    val plan = SpatialOps.knnJoinTrees(queries, data, 5, denseGrid)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CoGroup") && !plan.contains("MapGroups"),
      s"typed cogroup leaked back into the tree-probe plan:\n$plan")
  }

  test("knnEnvelopeJoin (rects) == brute-force window top-k over the exact " +
    "box metric (NN over arbitrary PointDistance objects, rectangle.rs:79-111)") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stBoxDistanceSq
    val geoms = rects(500, 5000).toDF()
      .select(col("id").as("gid"), col("minX"), col("minY"),
        col("maxX"), col("maxY"))
    val pts = points(300, 6000)
    val d2 = stBoxDistanceSq(col("minX"), col("minY"),
      col("maxX"), col("maxY"), col("px"), col("py"))
    val got = SpatialOps.knnEnvelopeJoin(pts, geoms, d2, 4, grid)
      .select("id", "gid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("d2"), col("gid"))
    val want = pts.toDF().select(col("id"), col("x").as("px"), col("y").as("py"))
      .crossJoin(geoms)
      .select(col("id"), col("gid"), d2.as("d2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 4)
      .select("id", "gid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(want.size == 300 * 4)
  }

  test("knnRectJoinTrees (fused per-cell rect trees) == knnEnvelopeJoin " +
    "row for row, including d2 values and rank") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stBoxDistanceSq
    val geoms = rects(800, 5500).toDF()
      .select(col("id").as("gid"), col("minX"), col("minY"),
        col("maxX"), col("maxY")).localCheckpoint(true)
    val pts = points(400, 6500).localCheckpoint(true)
    val d2 = stBoxDistanceSq(col("minX"), col("minY"),
      col("maxX"), col("maxY"), col("px"), col("py"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val fused = asSet(SpatialOps.knnRectJoinTrees(pts, geoms, 4, grid))
    val generic = asSet(SpatialOps.knnEnvelopeJoin(pts, geoms, d2, 4, grid))
    assert(fused == generic)
    assert(generic.size == 400 * 4)
  }

  test("knnSegJoinTrees (fused per-cell segment trees, lower-bound-pruned " +
    "refinement) == knnEnvelopeJoin == brute force, row for row incl. d2") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stLineDistanceSq
    // diagonal segments of the rect fixture, +0.01 so none is degenerate
    val segs = rects(700, 7000).toDF()
      .select(col("id").as("gid"),
        col("minX").as("x1"), col("minY").as("y1"),
        (col("maxX") + lit(0.01)).as("x2"), col("maxY").as("y2"))
      .withColumn("minX", least(col("x1"), col("x2")))
      .withColumn("minY", least(col("y1"), col("y2")))
      .withColumn("maxX", greatest(col("x1"), col("x2")))
      .withColumn("maxY", greatest(col("y1"), col("y2")))
      .localCheckpoint(true)
    val pts = points(350, 7500).localCheckpoint(true)
    val d2 = stLineDistanceSq(
      col("x1"), col("y1"), col("x2"), col("y2"), col("px"), col("py"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val fused = asSet(SpatialOps.knnSegJoinTrees(pts, segs, 4, grid))
    val generic = asSet(SpatialOps.knnEnvelopeJoin(pts, segs, d2, 4, grid))
    assert(fused == generic)
    // brute force pins the metric itself (not just path agreement)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("d2"), col("gid"))
    val brute = pts.toDF().select(col("id"), col("x").as("px"), col("y").as("py"))
      .crossJoin(segs)
      .select(col("id"), col("gid"), d2.as("d2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 4)
    assert(fused == asSet(brute))
    assert(fused.size == 350 * 4)
    // the Scala refinement function is the column arithmetic, bit for bit
    val rows = segs.crossJoin(pts.toDF().limit(50)
        .select(col("x").as("px"), col("y").as("py")))
      .select(col("x1"), col("y1"), col("x2"), col("y2"),
        col("px"), col("py"), d2.as("d2")).collect()
    rows.foreach { r =>
      val got = SpatialOps.segDistanceSq(r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(r.getDouble(6)))
    }
  }

  test("knnEnvelopeJoin counts a spanning geometry once: giant rects " +
    "(covering many cells) are still found and never double-ranked") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stBoxDistanceSq
    // two giant overlapping rects + a few small ones far away: pass A's
    // reference-cell histogram must still deliver k distinct candidates
    val geoms = Seq(
      (0L, -170.0, -80.0, 170.0, 80.0),   // spans nearly every cell
      (1L, -100.0, -50.0, 100.0, 50.0),
      (2L, 150.0, 70.0, 155.0, 75.0),
      (3L, -160.0, 60.0, -150.0, 70.0)
    ).toDF("gid", "minX", "minY", "maxX", "maxY")
    val pts = points(50, 7000)
    val d2 = stBoxDistanceSq(col("minX"), col("minY"),
      col("maxX"), col("maxY"), col("px"), col("py"))
    val got = SpatialOps.knnEnvelopeJoin(pts, geoms, d2, 3, grid)
    // every query finds exactly k=3 rows, no duplicate (id, gid)
    assert(got.count() == 50 * 3)
    assert(got.select("id", "gid").distinct().count() == 50 * 3)
  }

  test("knnJoinNd (3-D grid) == brute-force window top-k; CellGridN " +
    "cover/ring invariants hold (n-dim tier, point.rs:158-179)") {
    val s = sc
    import s.implicits._
    import graft.index.CellGridN
    val g = CellGridN.unit(3, 3) // 512 cells over [0,1)^3
    // CellGridN unit checks first
    assert(g.cover(AABB.fromBounds(Array(0.0, 0.0, 0.0),
      Array(0.999, 0.999, 0.999))).size == 512)
    val c0 = Array(4, 4, 4)
    assert(g.ring(c0, 0) == Seq(g.cellOf(c0)))
    assert(g.ring(c0, 1).size == 26) // 3^3 - 1 shell
    assert(g.ring(c0, 2).size == 98) // 5^3 - 3^3
    val onePt = Array(0.3, 0.6, 0.9)
    assert(g.cover(AABB.fromPoint(onePt)) == Seq(g.cellId(onePt)))
    // distributed 3-D kNN vs brute force
    def pts(n: Int, seed: Int) = s.range(n).map { id =>
      (id.toLong, Array(uniform(id + seed, 1), uniform(id + seed, 2),
        uniform(id + seed, 3)))
    }
    val data = pts(4000, 9000)
    val queries = pts(200, 9500)
    val got = SpatialOps.knnJoinNd(queries, data, 4, g)
      .select("qid", "id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d2 = aggregate(zip_with(col("p"), col("qp"), (a, b) => (a - b) * (a - b)),
      lit(0.0d), (acc, x) => acc + x)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("id"))
    val want = queries.toDF("qid", "qp").crossJoin(data.toDF("id", "p"))
      .select(col("qid"), col("id"), d2.as("d2"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 4)
      .select("qid", "id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(want.size == 200 * 4)
  }

  test("pipJoin (real polygons): grid join == brute-force crossJoin with " +
    "the same ray-cast; predicate == JVM PNPOLY on the same doubles") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stPointInPolygon8
    val polys = TpchGeo.polygons(
      s.range(1, 800).toDF("p_partkey"), "p_partkey").localCheckpoint(true)
    val pts = points(2000, 15000).toDF().localCheckpoint(true)
    val got = SpatialOps.pipJoin(pts, polys, grid)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pxs = (1 to 8).map(i => col(s"px$i"))
    val pys = (1 to 8).map(i => col(s"py$i"))
    val want = pts.crossJoin(polys.withColumnRenamed("id", "pid"))
      .where(stPointInPolygon8(pxs, pys, col("x"), col("y")))
      .select("id", "pid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the Column predicate agrees with a JVM crossing-number loop on the
    // exact same double values (both sides centroids-in, far points out)
    val rows = polys.limit(50).collect()
    rows.foreach { r =>
      val xs = (1 to 8).map(i => r.getDouble(r.fieldIndex(s"px$i"))).toArray
      val ys = (1 to 8).map(i => r.getDouble(r.fieldIndex(s"py$i"))).toArray
      def pnpoly(qx: Double, qy: Double): Boolean = {
        var inside = false
        var i = 0
        while (i < 8) {
          val j = (i + 7) % 8
          if ((ys(i) > qy) != (ys(j) > qy) &&
            qx < (xs(j) - xs(i)) * (qy - ys(i)) / (ys(j) - ys(i)) + xs(i))
            inside = !inside
          i += 1
        }
        inside
      }
      val cx = xs.sum / 8; val cy = ys.sum / 8
      assert(pnpoly(cx, cy), "centroid must be inside its octagon")
      assert(!pnpoly(cx + 25.0, cy), "a far point must be outside")
      val one = Seq((cx, cy, cx + 25.0)).toDF("cx", "cy", "fx")
        .select(
          stPointInPolygon8(xs.map(lit(_)), ys.map(lit(_)),
            col("cx"), col("cy")).as("in1"),
          stPointInPolygon8(xs.map(lit(_)), ys.map(lit(_)),
            col("fx"), col("cy")).as("in2"))
        .collect()(0)
      assert(one.getBoolean(0) && !one.getBoolean(1))
    }
  }

  test("pipJoinPoly (variable-vertex polygons): grid join == brute-force " +
    "crossJoin; array predicate == JVM PNPOLY across all vertex counts") {
    val s = sc
    import s.implicits._
    import graft.functions.SpatialFunctions.stPointInPolygonN
    val polys = TpchGeo.polygonsN(
      s.range(1, 800).toDF("p_partkey"), "p_partkey").localCheckpoint(true)
    // the layer really carries every vertex count 3..10
    assert(polys.select("k").distinct().collect().map(_.getInt(0)).sorted
      .toSeq == (3 to 10))
    val pts = points(2000, 15000).toDF().localCheckpoint(true)
    val got = SpatialOps.pipJoinPoly(pts, polys, grid)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.crossJoin(polys.withColumnRenamed("id", "pid"))
      .where(stPointInPolygonN(col("pxs"), col("pys"), col("x"), col("y")))
      .select("id", "pid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(want.nonEmpty)
    // the HOF predicate agrees with a JVM crossing loop on the same
    // doubles, for every vertex count
    val rows = polys.collect()
    assert((3 to 10).forall(k => rows.exists(_.getInt(1) == k)))
    val wantSet = want
    val ptRows = pts.collect()
      .map(pr => (pr.getLong(0), pr.getDouble(1), pr.getDouble(2)))
    rows.take(120).foreach { r =>
      val pid = r.getLong(0)
      val xs = r.getSeq[Double](2).toArray
      val ys = r.getSeq[Double](3).toArray
      val n = xs.length
      assert(n == r.getInt(1))
      def pnpoly(qx: Double, qy: Double): Boolean = {
        var inside = false
        var i = 0
        while (i < n) {
          val j = (i + n - 1) % n
          if ((ys(i) > qy) != (ys(j) > qy) &&
            qx < (xs(j) - xs(i)) * (qy - ys(i)) / (ys(j) - ys(i)) + xs(i))
            inside = !inside
          i += 1
        }
        inside
      }
      val cx = xs.sum / n; val cy = ys.sum / n
      assert(pnpoly(cx, cy), s"centroid must be inside its $n-gon")
      assert(!pnpoly(cx + 25.0, cy))
      // brute JVM join membership agrees with the Spark join for this
      // polygon against every test point
      ptRows.foreach { case (id, x, y) =>
        assert(pnpoly(x, y) == wantSet.contains((id, pid)),
          s"JVM/Spark disagree on point $id vs poly $pid")
      }
    }
  }

  test("raster <-> vector: rasterize preserves totals; zonalStats (cell " +
    "equi-join, center rule) == brute-force raster x zones join") {
    val s = sc
    import s.implicits._
    val g = CellGrid.lonLat(5)
    val pts = points(5000, 12000).toDF()
      .select(col("x"), col("y"), (col("id") % 25).as("v"))
    val raster = SpatialOps.rasterize(pts, g).localCheckpoint(true)
    // nothing lost in the binning: counts and value sums add up
    assert(raster.agg(sum("cnt")).collect()(0).getLong(0) == 5000L)
    assert(raster.agg(sum("v_sum")).collect()(0).getLong(0) ==
      pts.agg(sum("v")).collect()(0).getLong(0))
    // indices in range, one row per non-empty cell
    assert(raster.where(col("ix") < 0 || col("ix") >= g.cellsPerAxis ||
      col("iy") < 0 || col("iy") >= g.cellsPerAxis).count() == 0)
    assert(raster.select("ix", "iy").distinct().count() == raster.count())

    val zones = rects(400, 13000).toDF()
      .select(col("id"), col("minX"), col("minY"), col("maxX"), col("maxY"))
    val got = SpatialOps.zonalStats(raster, zones, g)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute force: every (cell, zone) pair, center rule
    val cw = 360.0 / g.cellsPerAxis
    val ch = 180.0 / g.cellsPerAxis
    val want = raster
      .withColumn("cx", lit(-180.0) + (col("ix").cast("double") + lit(0.5)) * lit(cw))
      .withColumn("cy", lit(-90.0) + (col("iy").cast("double") + lit(0.5)) * lit(ch))
      .crossJoin(zones)
      .where(col("minX") <= col("cx") && col("cx") <= col("maxX") &&
        col("minY") <= col("cy") && col("cy") <= col("maxY"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_cells"), sum("cnt").as("n_pts"),
        sum("v_sum").as("v_sum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("knnJoin plan shape: top-k pushes below the shuffle (WindowGroupLimit) " +
    "and the probe joins are hash joins") {
    val s = sc
    import s.implicits._
    val data = points(2000, 4000)
    val queries = s.range(60).map(i =>
      QueryRow(i, uniform(i + 99, 1) * 360.0 - 180.0,
        uniform(i + 99, 2) * 170.0 - 85.0))
    val plan = SpatialOps.knnJoin(queries, data, 5, grid)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"top-k not pushed below the shuffle:\n$plan")
    assert(plan.contains("HashJoin"), "probe join is not a hash join")
    assert(!plan.contains("NestedLoop"), "nested loop in the kNN plan")
  }

  test("knnJoin with k > |data| returns all data per query") {
    val s = sc
    import s.implicits._
    val data = points(3, 5000)
    val queries = s.range(4).map(i => QueryRow(i, 0.0, 0.0))
    val got = SpatialOps.knnJoin(queries, data, 10, grid)
    assert(got.count() == 4 * 3)
  }

  test("knnJoin keepTies uses rank() — co-equal distances all kept (K3)") {
    val s = sc
    import s.implicits._
    // four points at exactly distance 1 from origin + two farther
    val data = Seq(
      PointRow(0, 1, 0), PointRow(1, -1, 0), PointRow(2, 0, 1),
      PointRow(3, 0, -1), PointRow(4, 3, 3), PointRow(5, 2, 2)).toDS()
    val queries = Seq(QueryRow(0, 0, 0)).toDS()
    val ties = SpatialOps.knnJoin(queries, data, 1, grid, keepTies = true)
    assert(ties.select("id").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("insertAppendRange (C4: bulk base + R* insert batch, touched-cell " +
    "rebuild) == union filter; disjoint from base-only on batch hits") {
    val s = sc
    import s.implicits._
    val base = points(800, 11000)
    val batch = points(200, 12000).map(p => p.copy(id = p.id + 1000000L))
    val q = AABB.of2d(-60, -40, 60, 40)
    val got = SpatialOps.insertAppendRange(base, batch, grid, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val expect = (base.collect() ++ batch.collect())
      .filter(p => q.containsPoint(Array(p.x, p.y)))
      .map(p => (p.id, p.x, p.y)).toSet
    assert(got == expect)
    // the batch contributes real hits (the insert path is actually probed)
    assert(expect.exists(_._1 >= 1000000L))
    // base-only run differs exactly by the batch hits
    val baseOnly = SpatialOps.insertAppendRange(base,
      s.emptyDataset[PointRow], grid, q)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(baseOnly == expect.filter(_._1 < 1000000L))
  }

  test("IndexStore.knnQuery (persisted-tree serving, no rebuild) == " +
    "knnJoin bit-for-bit on the same input") {
    val s = sc
    import s.implicits._
    val data = points(3000, 13000)
    val queries = s.range(30).map(i =>
      QueryRow(i, uniform(i + 14000, 1) * 360.0 - 180.0,
        uniform(i + 14000, 2) * 170.0 - 85.0))
    val root = java.nio.file.Files.createTempDirectory("graft_pknn").toString
    try {
      IndexStore.build(s, data, grid, root)
      val got = IndexStore.knnQuery(s, root, grid, queries, 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
      val expect = SpatialOps.knnJoin(queries, data, 5, grid)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).sorted
      assert(got.length == expect.length && got.sameElements(expect))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("range selections match filtered scans (F1/F2/F3/F4)") {
    val s = sc
    val r = rects(500, 6000).toDF().cache()
    val q = AABB.of2d(-30, -20, 40, 35)
    val contained = SpatialOps.rangeContained(r, q).collect().map(_.getLong(0)).toSet
    val intersecting = SpatialOps.rangeIntersecting(r, q).collect().map(_.getLong(0)).toSet
    val all = r.collect().map(x =>
      (x.getLong(0), AABB.of2d(x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))))
    assert(contained == all.collect { case (i, b) if q.containsEnvelope(b) => i }.toSet)
    assert(intersecting == all.collect { case (i, b) if q.intersects(b) => i }.toSet)
    assert(contained.subsetOf(intersecting))
    val atPt = SpatialOps.locateAllAtPoint(r, 10.0, 10.0).collect().map(_.getLong(0)).toSet
    assert(atPt == all.collect { case (i, b) if b.containsPoint(Array(10.0, 10.0)) => i }.toSet)
    val p = points(500, 7000).toDF()
    val wd = SpatialOps.withinDistance(p, 0.0, 0.0, 900.0).collect().map(_.getLong(0)).toSet
    val pall = p.collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
    assert(wd == pall.collect {
      case (i, x, y) if x * x + y * y <= 900.0 => i }.toSet)
  }

  test("typed envelope aggregator matches column min/max per group; " +
    "empty-box convention holds") {
    val s = sc
    import s.implicits._
    import graft.functions.EnvelopeAggregator
    val g = grid // local copy: closures must not capture the suite instance
    val p = points(1000, 9000)
    val byCell = p.groupByKey(r => g.cellId(r.x, r.y))
      .mapValues(r => (r.x, r.y))
      .agg(EnvelopeAggregator.toColumn)
      .collect().toMap
    val oracle = p.collect().groupBy(r => g.cellId(r.x, r.y)).map {
      case (c, rs) => c -> (rs.map(_.x).min, rs.map(_.y).min,
        rs.map(_.x).max, rs.map(_.y).max)
    }
    assert(byCell == oracle)
    // zero is the reference empty box: merge identity
    val z = EnvelopeAggregator.zero
    assert(EnvelopeAggregator.toAABB(z).isEmpty)
    assert(EnvelopeAggregator.merge(z, (1.0, 2.0, 3.0, 4.0)) == (1.0, 2.0, 3.0, 4.0))
  }

  test("cellStats: counts sum to row count; envelopes inside cell boxes") {
    val s = sc
    import s.implicits._
    val p = points(2000, 8000)
    val st = SpatialOps.cellStats(p, grid).collect()
    assert(st.map(_.cnt).sum == 2000)
    st.foreach { c =>
      val box = grid.cellBox(c.cell)
      // envelope of points assigned to the cell must sit inside the cell box
      assert(box.lower(0) <= c.minX + 1e-9 && box.upper(0) >= c.maxX - 1e-9)
      assert(box.lower(1) <= c.minY + 1e-9 && box.upper(1) >= c.maxY - 1e-9)
    }
  }

  test("pages: text byte-identical per url end-to-end (north-rule invariant)") {
    val s = sc
    import s.implicits._
    val pages = PagesGen.pages(s, 2000, skewShare = 0.3).cache()
    // regenerate text from the id encoded in the url — must match exactly
    val mismatches = pages.map { p =>
      val regen = PagesGen.textFor(PagesGen.idFromUrl(p.url), 0.3)
      if (regen == p.text) 0L else 1L
    }.reduce(_ + _)
    assert(mismatches == 0)
    // the html payload round-trips the exact text bytes
    val htmlMismatch = pages.map { p =>
      val s2 = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      if (s2 == "<html><body>" + p.text + "</body></html>") 0L else 1L
    }.reduce(_ + _)
    assert(htmlMismatch == 0)
  }

  test("pages: entity extraction parses every @geo marker, values in range") {
    val s = sc
    import s.implicits._
    val pages = PagesGen.pages(s, 1000, skewShare = 0.3)
    val ents = pages.toDF()
      .withColumn("e", explode(PagesGen.entities(col("text"))))
      .select(col("e.lon"), col("e.lat"))
    val n = ents.count()
    val expected = pages.map(p =>
      "@geo\\(".r.findAllIn(p.text).length.toLong).reduce(_ + _)
    assert(n == expected)
    assert(n > 0)
    val bad = ents.where(col("lon") < -180 || col("lon") > 180 ||
      col("lat") < -85.5 || col("lat") > 85.5).count()
    assert(bad == 0)
  }

  test("skewed pages concentrate entities in hot cells (skew fixture sanity)") {
    val s = sc
    import s.implicits._
    val pages = PagesGen.pages(s, 5000, skewShare = 0.5)
    val cells = pages.toDF()
      .withColumn("e", explode(PagesGen.entities(col("text"))))
      .select(graft.functions.SpatialFunctions.stCell(grid)(
        col("e.lon"), col("e.lat")).as("cell"))
      .groupBy("cell").count().orderBy(desc("count"))
      .collect().map(_.getLong(1))
    // top-5 hot cells should hold a large multiple of the uniform share
    val total = cells.sum.toDouble
    assert(cells.take(5).sum / total > 0.2,
      s"expected hot cells, got top5=${cells.take(5).mkString(",")} of $total")
  }

  test("zorderLayout: codes equal a bit-by-bit reference interleave, " +
    "buckets partition the input, and Z-order buckets are far more " +
    "spatially compact than hash buckets") {
    val sp = sc
    val grid = CellGrid.lonLat(4)
    val bits = 8
    val n = 1L << bits
    def q(v: Double, lo: Double, span: Double): Long =
      math.min(n - 1, math.max(0L, math.floor((v - lo) / span * n).toLong))
    def interleave(ix: Long, iy: Long): Long =
      (0 until bits).foldLeft(0L) { (acc, b) =>
        acc | (((ix >> b) & 1L) << (2 * b)) | (((iy >> b) & 1L) << (2 * b + 1))
      }
    val rnd = new scala.util.Random(3)
    val pts = (0 until 2000).map { i =>
      (i.toLong, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 180 - 90)
    }
    val df = sp.createDataFrame(pts).toDF("id", "x", "y")
    // full-resolution buckets (prefix = 2*bits) expose the raw codes
    val codes = SpatialOps.zorderLayout(df, grid, bits, 2 * bits)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = pts.groupBy { case (_, x, y) =>
      interleave(q(x, -180, 360), q(y, -90, 180)) }
      .map { case (z, g) => z -> g.size.toLong }
    assert(codes == want)

    val buckets = SpatialOps.zorderLayout(df, grid, bits, 6).collect()
    assert(buckets.map(_.getLong(1)).sum == pts.size)
    val zArea = buckets.map(_.getLong(4)).sum
    // same bucket count keyed by id-hash: no locality at all
    val hashArea = pts.groupBy(_._1 % 64).values.map { g =>
      val xs = g.map(p => q(p._2, -180, 360)); val ys = g.map(p => q(p._3, -90, 180))
      (xs.max - xs.min + 1) * (ys.max - ys.min + 1)
    }.sum
    assert(zArea * 4 < hashArea,
      s"Z-order locality missing: z=$zArea hash=$hashArea")
  }
}
