package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine._
import graft.functions.SpatialFunctions.{stBoxDistanceSq, stDistanceSq, stLineDistanceSq}
import graft.index.{CellGrid, CellGridN}

/** Every distributed kNN operator against a brute-force crossJoin on one
  * adversarial fixture: the whole layer in ONE grid cell (the ring pass
  * must cross many empty rings), exact-duplicate points (ties at the k-th
  * distance), queries exactly on cell borders and corners or outside the
  * domain, out-of-domain points clamped into a query's border cell, and
  * k larger than the layer; the n-D join gets the same fixture at z = 0. Results must agree row for row — ids, bit-exact d2,
  * rank and column types.
  */
class KnnAdversarialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // lonLat(4): 22.5° × 11.25° cells; the layer lives in [0, 22.5) × [0, 11.25)
  private val grid = CellGrid.lonLat(4)

  private val layer = Seq(
    (0L, 5.0, 5.0), (1L, 5.0, 5.0), (2L, 5.0, 5.0), (3L, 5.0, 5.0),
    (4L, 10.0, 2.0), (5L, 10.0, 2.0),
    (6L, 0.0, 0.0), // on the cell's lower-left corner
    (7L, 6.0, 5.0), (8L, 4.0, 5.0), (9L, 5.0, 6.0),
    (10L, 22.4, 11.2), (11L, 15.0, 7.5),
    // outside the domain: clamped into border cells far from their boxes
    (12L, -500.0, 0.0), (13L, -500.0, 0.0), (14L, -500.0, 0.0),
    (15L, -500.0, 0.0), (16L, 200.0, 95.0))

  private val queryPts = Seq(
    (0L, 5.0, 5.0),       // on the duplicates: four at d2 = 0
    (1L, 0.0, 0.0),       // corner shared by four cells
    (2L, 22.5, 5.0),      // right border of the layer's cell
    (3L, 11.25, 11.25),   // top border
    (4L, -22.5, -11.25),  // a corner two cells away
    (5L, 170.0, 80.0),    // far corner: many empty rings
    (6L, 180.0, 90.0),    // domain max, clamped
    (7L, 7.5, 3.5),       // six points tied at d2 = 8.5
    (8L, -200.0, 0.0),    // outside the domain
    (9L, -170.0, 0.0))    // its border cell holds 4 clamped points 330° off

  private def points = { val s = spark; import s.implicits._
    layer.map { case (id, x, y) => PointRow(id, x, y) }.toDS() }
  private def queries = { val s = spark; import s.implicits._
    queryPts.map { case (id, x, y) => QueryRow(id, x, y) }.toDS() }
  private def queryPoints = { val s = spark; import s.implicits._
    queryPts.map { case (id, x, y) => PointRow(id, x, y) }.toDS() }

  /** Rects in the layer's cell: three duplicates, a zero-area box, one box
    * spanning into three neighbour cells.
    */
  private def rects = { val s = spark; import s.implicits._
    Seq((0L, 2.0, 2.0, 4.0, 4.0), (1L, 2.0, 2.0, 4.0, 4.0),
      (2L, 2.0, 2.0, 4.0, 4.0), (3L, 5.0, 5.0, 5.0, 5.0),
      (4L, 1.0, 1.0, 22.5, 11.25), (5L, 10.0, 2.0, 12.0, 3.0),
      (6L, 6.0, 6.0, 8.0, 9.0)).toDF("gid", "minX", "minY", "maxX", "maxY") }

  /** Segments in the layer's cell: a duplicate pair, two sharing an
    * endpoint, one spanning into neighbour cells.
    */
  private def segs = Seq((0L, 2.0, 2.0, 4.0, 4.0), (1L, 2.0, 2.0, 4.0, 4.0),
      (2L, 5.0, 5.0, 6.0, 5.0), (3L, 5.0, 5.0, 5.0, 6.0),
      (4L, 1.0, 1.0, 22.5, 11.25), (5L, 10.0, 2.0, 12.0, 3.0))

  private def segLayer = { val s = spark; import s.implicits._
    segs.toDF("gid", "x1", "y1", "x2", "y2")
      .withColumn("minX", least(col("x1"), col("x2")))
      .withColumn("minY", least(col("y1"), col("y2")))
      .withColumn("maxX", greatest(col("x1"), col("x2")))
      .withColumn("maxY", greatest(col("y1"), col("y2"))) }

  /** Column types plus every row, sorted: a row-for-row comparison. */
  private def rows(df: DataFrame): (Seq[String], Seq[String]) =
    (df.schema.map(_.dataType.simpleString),
      df.collect().map(_.toSeq.mkString(",")).toSeq.sorted)

  private def same(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g == w)
    assert(w._2.nonEmpty)
  }

  /** Brute-force point kNN: (qid, id, d2, rn int). */
  private def brutePoints(k: Int, keepTies: Boolean = false,
      qs: Dataset[QueryRow] = queries, pts: Dataset[PointRow] = points): DataFrame = {
    val w = Window.partitionBy("qid")
    qs.select(col("qid"), col("x").as("qx"), col("y").as("qy"))
      .crossJoin(pts.toDF())
      .withColumn("d2", stDistanceSq(col("x"), col("y"), col("qx"), col("qy")))
      .withColumn("rn",
        if (keepTies) rank().over(w.orderBy(col("d2")))
        else row_number().over(w.orderBy(col("d2"), col("id"))))
      .where(col("rn") <= k)
      .select("qid", "id", "d2", "rn")
  }

  /** Brute-force geometry kNN: (id, gid, d2, rn long). */
  private def bruteGeoms(geoms: DataFrame, d2: Column, k: Int): DataFrame =
    queryPoints.select(col("id"), col("x").as("px"), col("y").as("py"))
      .crossJoin(geoms)
      .select(col("id"), col("gid"), d2.as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("d2"), col("gid"))).cast("long"))
      .where(col("rn") <= k)

  test("knnJoin k=1, k=4, keepTies and k > |layer| == brute force") {
    same(SpatialOps.knnJoin(queries, points, 1, grid), brutePoints(1))
    same(SpatialOps.knnJoin(queries, points, 4, grid), brutePoints(4))
    same(SpatialOps.knnJoin(queries, points, 1, grid, keepTies = true),
      brutePoints(1, keepTies = true))
    same(SpatialOps.knnJoin(queries, points, 4, grid, keepTies = true),
      brutePoints(4, keepTies = true))
    same(SpatialOps.knnJoin(queries, points, 20, grid), brutePoints(20))
  }

  test("knnJoinTrees k=4, keepTies and k > |layer| == brute force") {
    same(SpatialOps.knnJoinTrees(queries, points, 1, grid), brutePoints(1))
    same(SpatialOps.knnJoinTrees(queries, points, 1, grid, keepTies = true),
      brutePoints(1, keepTies = true))
    same(SpatialOps.knnJoinTrees(queries, points, 4, grid), brutePoints(4))
    same(SpatialOps.knnJoinTrees(queries, points, 4, grid, keepTies = true),
      brutePoints(4, keepTies = true))
    same(SpatialOps.knnJoinTrees(queries, points, 20, grid), brutePoints(20))
  }

  test("knnRectJoinTrees k=3 and k > |layer| == brute force") {
    val d2 = stBoxDistanceSq(col("minX"), col("minY"), col("maxX"), col("maxY"),
      col("px"), col("py"))
    Seq(3, 10).foreach { k =>
      same(SpatialOps.knnRectJoinTrees(queryPoints, rects, k, grid),
        bruteGeoms(rects, d2, k))
    }
  }

  test("knnSegJoinTrees k=3 and k > |layer| == brute force") {
    val d2 = stLineDistanceSq(col("x1"), col("y1"), col("x2"), col("y2"),
      col("px"), col("py"))
    Seq(3, 10).foreach { k =>
      same(SpatialOps.knnSegJoinTrees(queryPoints, segLayer, k, grid),
        bruteGeoms(segLayer, d2, k))
    }
  }

  test("lineNearestJoin == brute-force min over all segments") {
    val lines = segLayer.select(col("gid").as("lid"),
      col("x1"), col("y1"), col("x2"), col("y2"))
    val want = queryPoints.select(col("id"), col("x").as("px"), col("y").as("py"))
      .crossJoin(lines)
      .select(col("id"), stLineDistanceSq(col("x1"), col("y1"), col("x2"),
        col("y2"), col("px"), col("py")).as("d2"))
      .groupBy("id").agg(min("d2").as("min_d2"))
    same(SpatialOps.lineNearestJoin(queryPoints, lines, grid), want)
  }

  test("knnJoinNd k=1, k=4 and k > |layer| == brute force (fixture at z = 0)") {
    val s = spark; import s.implicits._
    // 16 cells per axis: the layer's cell is [0, 22.5) × [0, 11.25) × [0, 0.125)
    val gridNd = CellGridN(Array(-180.0, -90.0, -1.0), Array(180.0, 90.0, 1.0), 4)
    def lift(pts: Seq[(Long, Double, Double)]) =
      pts.map { case (id, x, y) => (id, Array(x, y, 0.0)) }.toDS()
    val (qs, data) = (lift(queryPts), lift(layer))
    val d2 = aggregate(zip_with(col("p"), col("qp"), (a, b) => (a - b) * (a - b)),
      lit(0.0d), (acc, x) => acc + x)
    Seq(1, 4, 20).foreach { k =>
      same(SpatialOps.knnJoinNd(qs, data, k, gridNd),
        qs.toDF("qid", "qp").crossJoin(data.toDF("id", "p"))
          .select(col("qid"), col("id"), d2.as("d2"))
          .withColumn("rn", row_number().over(Window.partitionBy("qid")
            .orderBy(col("d2"), col("id"))).cast("long"))
          .where(col("rn") <= k))
    }
  }

  /** A temporary store root, deleted after `body`. */
  private def withRoot(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_adv").toString
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    try body(root) finally rm(new java.io.File(root))
  }

  test("IndexStore.knnQuery k=4 and k > |layer| == brute force") {
    withRoot { root =>
      IndexStore.build(spark, points, grid, root, nGroups = 2)
      same(IndexStore.knnQuery(spark, root, grid, queries, 1), brutePoints(1))
      same(IndexStore.knnQuery(spark, root, grid, queries, 4), brutePoints(4))
      same(IndexStore.knnQuery(spark, root, grid, queries, 20), brutePoints(20))
      val s = spark; import s.implicits._
      val overCap = intercept[IllegalArgumentException](IndexStore.knnQuery(
        spark, root, grid, spark.range(IndexStore.MaxKnnBatch + 1)
          .map(QueryRow(_, 5.0, 5.0)), 1))
      assert(overCap.getMessage.contains("query batch exceeds"))
      // the answer is held on the driver: a full batch at k = 101 over
      // 117 stored points could reach 10.1 M rows, past the driver bound
      IndexStore.append(spark, (0L until 100L).map(i =>
        PointRow(100 + i, -100.0 + i, -50.0)).toDS(), grid, root, gen = 1, nGroups = 2)
      val overHeld = intercept[IllegalArgumentException](IndexStore.knnQuery(
        spark, root, grid, spark.range(IndexStore.MaxKnnBatch)
          .map(QueryRow(_, 5.0, 5.0)), 101))
      assert(overHeld.getMessage.contains(
        s"answer rows exceed ${SpatialOps.MaxBroadcastLayerRows}"))
      assert(overHeld.getMessage.contains("split the batch"))
    }
  }

  test("IndexStore.knnQuery merges k-th distance ties across trees, groups, " +
    "generations and repeated qids == brute force") {
    val s = spark; import s.implicits._
    // lonLat(4) cells around the origin: [−22.5, 0) × [0, 11.25) is cell 120
    // and [0, 22.5) × [0, 11.25) cell 136 (group 0 of 2), the two below them
    // cells 119 and 135 (group 1). A 13 × 13 integer lattice with scrambled
    // ids, plus low ids on the lattice's neighbours of the origin: three
    // duplicates at (0, 1) in one tree, one at (1, 0) in the same tree, one
    // at (0, −1) in group 1; the append adds low ids to cell 120 only, so
    // its tree (the whole cell) is served by the appended generation.
    val lattice = for (x <- -6 to 6; y <- -6 to 6)
      yield ((x + 6) * 13 + y + 6, x.toDouble, y.toDouble)
    val base = lattice.map { case (i, x, y) => PointRow(100L + i * 37 % 169, x, y) } ++
      Seq(PointRow(5, 0, 1), PointRow(3, 0, 1), PointRow(7, 0, 1),
        PointRow(6, 1, 0), PointRow(4, 0, -1))
    val appended = Seq(PointRow(1, -1, 0), PointRow(2, -3, 4), PointRow(8, -4, 3))
    val qs = Seq(
      QueryRow(0, 0.0, 0.0),     // corner of four cells: ties at d2 = 1
      QueryRow(1, 0.0, 0.5),     // on x = 0: (0, 0) and (0, 1) ×4 tie
      QueryRow(2, -0.5, 0.0),    // on y = 0: (−1, 0) appended vs (0, 0)
      QueryRow(3, 0.0, -0.5),    // on y = 0: group 1's (0, −1) vs group 0
      QueryRow(4, 0.5, 0.0),     // the same qid twice, at two points
      QueryRow(4, 0.0, 0.5),
      QueryRow(0, 0.0, 0.0),     // qid 0 again, at the same point
      QueryRow(5, 22.5, 11.25),  // a far corner of the layer's cells
      QueryRow(6, -2.5, 2.5)).toDS()
    val all = (base ++ appended).toDS()
    withRoot { root =>
      IndexStore.build(spark, base.toDS(), grid, root, nGroups = 2)
      IndexStore.append(spark, appended.toDS(), grid, root, gen = 1, nGroups = 2)
      Seq(-1, 0, 1, 4, base.length + appended.length + 5).foreach { k =>
        val (got, want) = (rows(IndexStore.knnQuery(spark, root, grid, qs, k)),
          rows(brutePoints(k, qs = qs, pts = all)))
        assert(got == want, s"k = $k")
        assert(want._2.nonEmpty == (k > 0))
      }
    }
  }
}
