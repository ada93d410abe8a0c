package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  private def brutePoints(k: Int, keepTies: Boolean = false): DataFrame = {
    val w = Window.partitionBy("qid")
    queries.select(col("qid"), col("x").as("qx"), col("y").as("qy"))
      .crossJoin(points.toDF())
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

  test("IndexStore.knnQuery k=4 and k > |layer| == brute force") {
    val root = java.nio.file.Files.createTempDirectory("graft_adv").toString
    try {
      IndexStore.build(spark, points, grid, root, nGroups = 2)
      same(IndexStore.knnQuery(spark, root, grid, queries, 1), brutePoints(1))
      same(IndexStore.knnQuery(spark, root, grid, queries, 4), brutePoints(4))
      same(IndexStore.knnQuery(spark, root, grid, queries, 20), brutePoints(20))
      val s = spark; import s.implicits._
      val overCap = intercept[IllegalArgumentException](IndexStore.knnQuery(
        spark, root, grid, spark.range(IndexStore.MaxKnnBatch + 1)
          .map(QueryRow(_, 5.0, 5.0)), 1))
      assert(overCap.getMessage.contains("query batch exceeds"))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }
}
