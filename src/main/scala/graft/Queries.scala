package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.engine._
import graft.geom.AABB
import graft.index.CellGrid
import graft.functions.SpatialFunctions._
import TpchGeo._

/** The operator suite exposed through SparkEntry: each entry is one
  * reference operator from SURVEY.md §2 re-expressed as a Spark plan over
  * the driver's TPC-H-ish tables, paired (in SparkEntry.oracleSql) with an
  * ANSI-SQL twin whose arithmetic is bit-identical (TpchGeo).
  */
object Queries {

  /** Grid used by the SparkEntry operators. res 4 → 256 cells: small-scale
    * testing resolution; production scale would use res 7-9 (SURVEY §4.1).
    */
  val grid: CellGrid = CellGrid.lonLat(4)

  // Fixed query constants, shared by Spark plans and SQL oracles.
  val QB: (Double, Double, Double, Double) = (-30.0, -20.0, 40.0, 35.0)
  val PT: (Double, Double) = (10.0, 10.0)
  val R2: Double = 900.0
  val K: Int = 5

  /** SQL twin of SpatialFunctions.stCell on the lonLat(4) grid. */
  def cellSql(x: String, y: String): String = {
    val n = grid.cellsPerAxis
    s"(LEAST(${n - 1}, GREATEST(0, CAST(FLOOR(($x - -180.0) / 360.0 * $n) AS BIGINT))) * $n" +
      s" + LEAST(${n - 1}, GREATEST(0, CAST(FLOOR(($y - -90.0) / 180.0 * $n) AS BIGINT))))"
  }

  // --------------------------------------------------------- C2/G5: build

  /** Distributed bulk-load stage 1: cell histogram + per-cell envelope. */
  def cellStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    SpatialOps.cellStats(pts, grid).toDF()
      .select(col("cell"), col("cnt"),
        col("minX").as("min_x"), col("minY").as("min_y"),
        col("maxX").as("max_x"), col("maxY").as("max_y"))
      .orderBy("cell")
  }

  val cellStatsSql: String =
    s"""WITH pts AS (${pointsSql("customer", "c_custkey")}),
       |c AS (SELECT ${cellSql("x", "y")} AS cell, x, y FROM pts)
       |SELECT cell, COUNT(*) AS cnt, MIN(x) AS min_x, MIN(y) AS min_y,
       | MAX(x) AS max_x, MAX(y) AS max_y
       |FROM c GROUP BY cell ORDER BY cell""".stripMargin

  // ------------------------------------------- Z-order layout clustering

  /** Morton resolution (bits per axis) and bucket prefix width for the
    * layout query: 8-bit axes → 16-bit codes, 6-bit prefix → 64 buckets.
    */
  val ZBits = 8
  val ZPrefix = 6

  def zorderLayout(spark: SparkSession, dir: String): DataFrame =
    SpatialOps.zorderLayout(
      TpchGeo.points(load(spark, dir, "customer"), "c_custkey"),
      grid, ZBits, ZPrefix)
      .orderBy("bucket")

  /** SQL twin of SpatialOps.spreadBits: identical magic-mask doubling
    * steps (`|`/`&`/`<<` on BIGINT are exact in both engines).
    */
  private def spreadSql(e: String): String = {
    def step(x: String, s: Int, m: Long): String =
      s"((($x) | (($x) << $s)) & $m)"
    step(step(step(step(e, 8, 0x00FF00FFL), 4, 0x0F0F0F0FL),
      2, 0x33333333L), 1, 0x55555555L)
  }

  val zorderLayoutSql: String = {
    val n = 1 << ZBits
    def axisSql(c: String, lo: Double, span: Double): String =
      s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR((($c) - $lo) / $span * $n.0)" +
        " AS BIGINT)))"
    s"""WITH pts AS (${pointsSql("customer", "c_custkey")}),
       |q AS (SELECT id, ${axisSql("x", -180.0, 360.0)} AS ix,
       |  ${axisSql("y", -90.0, 180.0)} AS iy FROM pts),
       |z AS (SELECT id, ix, iy,
       |  (${spreadSql("ix")} | (${spreadSql("iy")} << 1)) AS zcode FROM q)
       |SELECT (zcode >> ${2 * ZBits - ZPrefix}) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS cnt, MIN(zcode) AS min_z,
       |  MAX(zcode) AS max_z,
       |  (MAX(ix) - MIN(ix) + 1) * (MAX(iy) - MIN(iy) + 1) AS env_area
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // --------------------------------------------- raster <-> vector tier

  /** Raster grid for the raster↔vector queries: res 6 → 64×64 cells
    * (5.625° × 2.8125°, both exact binary fractions, so center arithmetic
    * is bit-identical in any engine).
    */
  private val rasterGrid: CellGrid = CellGrid.lonLat(6)

  /** Vector → raster: customer points rasterized to (ix, iy, cnt, v_sum)
    * with v = nation key (north-rule raster primitive; no reference
    * analog — rstar is vector-only).
    */
  def rasterizeQ(spark: SparkSession, dir: String): DataFrame =
    SpatialOps.rasterize(
      load(spark, dir, "customer").select(
        px(col("c_custkey")).as("x"), py(col("c_custkey")).as("y"),
        col("c_nationkey").cast("long").as("v")),
      rasterGrid)
      .orderBy("ix", "iy")

  /** Raster axis index in SQL, derived from [[rasterGrid]] (not hardcoded
    * constants) so engine and oracle co-vary with the grid by construction
    * — the same discipline as [[cellSql]].
    */
  private def rasterCellSql(v: String, mn: Double, extent: Double): String = {
    val n = rasterGrid.cellsPerAxis
    s"LEAST(${n - 1}, GREATEST(0, CAST(FLOOR(($v - $mn) / $extent * $n) AS BIGINT)))"
  }
  private def rasterIxSql(v: String): String =
    rasterCellSql(v, rasterGrid.minX, rasterGrid.maxX - rasterGrid.minX)
  private def rasterIySql(v: String): String =
    rasterCellSql(v, rasterGrid.minY, rasterGrid.maxY - rasterGrid.minY)

  val rasterizeSql: String =
    s"""WITH p AS (SELECT ${pxSql("c_custkey")} AS x, ${pySql("c_custkey")} AS y,
       |  CAST(c_nationkey AS BIGINT) AS v FROM customer)
       |SELECT ${rasterIxSql("x")} AS ix,
       |  ${rasterIySql("y")} AS iy,
       |  COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum
       |FROM p GROUP BY 1, 2 ORDER BY ix, iy""".stripMargin

  /** Raster → vector: zonal statistics of the customer raster over the
    * orders-rect zones (center rule — the classic raster↔vector join).
    */
  def zonalStatsQ(spark: SparkSession, dir: String): DataFrame = {
    val raster = SpatialOps.rasterize(
      load(spark, dir, "customer").select(
        px(col("c_custkey")).as("x"), py(col("c_custkey")).as("y"),
        col("c_nationkey").cast("long").as("v")),
      rasterGrid)
    val zones = rects(load(spark, dir, "orders"), "o_orderkey").select(
      col("id"),
      col("min_x").as("minX"), col("min_y").as("minY"),
      col("max_x").as("maxX"), col("max_y").as("maxY"))
    SpatialOps.zonalStats(raster, zones, rasterGrid)
      .withColumnRenamed("zid", "id")
      .orderBy("id")
  }

  val zonalStatsSql: String = {
    import graft.functions.OracleHash.dbl
    val cw = dbl((rasterGrid.maxX - rasterGrid.minX) / rasterGrid.cellsPerAxis)
    val ch = dbl((rasterGrid.maxY - rasterGrid.minY) / rasterGrid.cellsPerAxis)
    s"""WITH p AS (SELECT ${pxSql("c_custkey")} AS x, ${pySql("c_custkey")} AS y,
       |  CAST(c_nationkey AS BIGINT) AS v FROM customer),
       |r AS (SELECT ${rasterIxSql("x")} AS ix,
       |    ${rasterIySql("y")} AS iy,
       |    COUNT(*) AS cnt, CAST(SUM(v) AS BIGINT) AS v_sum
       |  FROM p GROUP BY 1, 2),
       |rc AS (SELECT ix, iy, cnt, v_sum,
       |    ${dbl(rasterGrid.minX)} + (CAST(ix AS DOUBLE) + 0.5) * $cw AS cx,
       |    ${dbl(rasterGrid.minY)} + (CAST(iy AS DOUBLE) + 0.5) * $ch AS cy FROM r),
       |z AS (${rectsSql("orders", "o_orderkey")})
       |SELECT z.id, COUNT(*) AS n_cells, CAST(SUM(rc.cnt) AS BIGINT) AS n_pts,
       |  CAST(SUM(rc.v_sum) AS BIGINT) AS v_sum
       |FROM z JOIN rc ON z.min_x <= rc.cx AND rc.cx <= z.max_x
       |  AND z.min_y <= rc.cy AND rc.cy <= z.max_y
       |GROUP BY z.id ORDER BY z.id""".stripMargin
  }

  // ---------------------------------------------- point-in-polygon join

  /** PIP join: customer points inside part-derived octagon polygons —
    * real polygons through the grid (the north rule's "point-in-polygon";
    * the envelope-rect PIP is q_locate_all_at_point).
    */
  def pipJoinQ(spark: SparkSession, dir: String): DataFrame =
    SpatialOps.pipJoin(
      points(load(spark, dir, "customer"), "c_custkey"),
      polygons(load(spark, dir, "part"), "p_partkey"),
      grid)
      .orderBy("id", "pid")

  /** SQL twin of stPointInPolygon8 for aliases `p` (point: x, y) and `g`
    * (polygon: px1..py8) — same unrolled textual order, bit-identical.
    */
  private val pipPredSql: String = {
    val terms = (0 until 8).map { i0 =>
      val i = i0 + 1
      val j = (i0 + 7) % 8 + 1
      s"""CASE WHEN ((g.py$i > p.y) <> (g.py$j > p.y))
         |  AND (p.x < (g.px$j - g.px$i) * (p.y - g.py$i)
         |             / (g.py$j - g.py$i) + g.px$i)
         |THEN 1 ELSE 0 END""".stripMargin
    }
    s"(${terms.mkString(" +\n ")}) % 2 = 1"
  }

  val pipJoinSql: String =
    s"""WITH p AS (${pointsSql("customer", "c_custkey")}),
       |g AS (${polygonsSql("part", "p_partkey")})
       |SELECT p.id, g.id AS pid FROM p CROSS JOIN g
       |WHERE $pipPredSql
       |ORDER BY p.id, pid""".stripMargin

  /** PIP join over VARIABLE-vertex polygons (3..10 vertices, vertex
    * arrays): the general ray-cast (stPointInPolygonN) through the same
    * cell-cover join; the octagon query (q_pip_join) is the unrolled
    * codegen fast path of the same predicate family.
    */
  def pipPolyQ(spark: SparkSession, dir: String): DataFrame =
    SpatialOps.pipJoinPoly(
      points(load(spark, dir, "customer"), "c_custkey"),
      polygonsN(load(spark, dir, "part"), "p_partkey"),
      grid)
      .orderBy("id", "pid")

  /** SQL twin of stPointInPolygonN for aliases `p` (x, y) and `g` (k,
    * pxs, pys): integer crossing sum over the 1-based index list — the
    * fold order is parity-irrelevant, the division textually mirrors the
    * Spark lambda.
    */
  private val pipPolyPredSql: String = {
    val j = "(CASE WHEN i = 1 THEN g.k ELSE i - 1 END)"
    s"""list_sum(list_transform(range(1, g.k + 1), i ->
       |  CASE WHEN ((g.pys[i] > p.y) <> (g.pys[$j] > p.y))
       |    AND (p.x < (g.pxs[$j] - g.pxs[i]) * (p.y - g.pys[i])
       |               / (g.pys[$j] - g.pys[i]) + g.pxs[i])
       |  THEN 1 ELSE 0 END)) % 2 = 1""".stripMargin
  }

  val pipPolySql: String =
    s"""WITH p AS (${pointsSql("customer", "c_custkey")}),
       |g AS (${polygonsNSql("part", "p_partkey")})
       |SELECT p.id, g.id AS pid FROM p CROSS JOIN g
       |WHERE $pipPolyPredSql
       |ORDER BY p.id, pid""".stripMargin

  // ------------------------------------------------------- F1: contained

  def rangeContained(spark: SparkSession, dir: String): DataFrame =
    rects(load(spark, dir, "orders"), "o_orderkey")
      .where(stContainsBox(
        lit(QB._1), lit(QB._2), lit(QB._3), lit(QB._4),
        col("min_x"), col("min_y"), col("max_x"), col("max_y")))
      .orderBy("id")

  val rangeContainedSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")})
       |SELECT * FROM r
       |WHERE min_x >= ${QB._1} AND min_y >= ${QB._2}
       |  AND max_x <= ${QB._3} AND max_y <= ${QB._4}
       |ORDER BY id""".stripMargin

  // ---------------------------------------------------- F2: intersecting

  def rangeIntersecting(spark: SparkSession, dir: String): DataFrame =
    rects(load(spark, dir, "orders"), "o_orderkey")
      .where(stIntersectsBox(
        col("min_x"), col("min_y"), col("max_x"), col("max_y"),
        lit(QB._1), lit(QB._2), lit(QB._3), lit(QB._4)))
      .orderBy("id")

  val rangeIntersectingSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")})
       |SELECT * FROM r
       |WHERE min_x <= ${QB._3} AND max_x >= ${QB._1}
       |  AND min_y <= ${QB._4} AND max_y >= ${QB._2}
       |ORDER BY id""".stripMargin

  // -------------------------------------------------- F3: locate at point

  def locateAllAtPoint(spark: SparkSession, dir: String): DataFrame =
    rects(load(spark, dir, "orders"), "o_orderkey")
      .where(stContainsPoint(
        col("min_x"), col("min_y"), col("max_x"), col("max_y"),
        lit(PT._1), lit(PT._2)))
      .orderBy("id")

  val locateAllAtPointSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")})
       |SELECT * FROM r
       |WHERE min_x <= ${PT._1} AND ${PT._1} <= max_x
       |  AND min_y <= ${PT._2} AND ${PT._2} <= max_y
       |ORDER BY id""".stripMargin

  // ------------------------------------------------- F4: within distance

  def withinDistance(spark: SparkSession, dir: String): DataFrame =
    points(load(spark, dir, "customer"), "c_custkey")
      .withColumn("d2", stDistanceSq(col("x"), col("y"), lit(0.0), lit(0.0)))
      .where(col("d2") <= R2)
      .select("id", "d2")
      .orderBy("id")

  val withinDistanceSql: String =
    s"""WITH p AS (${pointsSql("customer", "c_custkey")})
       |SELECT id, (x - 0.0)*(x - 0.0) + (y - 0.0)*(y - 0.0) AS d2 FROM p
       |WHERE (x - 0.0)*(x - 0.0) + (y - 0.0)*(y - 0.0) <= $R2
       |ORDER BY id""".stripMargin

  // --------------------------------------------------- J2/K1/K2: kNN join

  private def nationQueries(spark: SparkSession, dir: String) = {
    import spark.implicits._
    load(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("qid"))
      .select(col("qid"), qx(col("qid")).as("x"), qy(col("qid")).as("y"))
      .as[QueryRow]
  }

  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    SpatialOps.knnJoin(nationQueries(spark, dir), data, K, grid)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy("qid", "rn")
  }

  /** Same exact kNN join answered through the dense-cell path — per-cell
    * packed-tree probes over co-partitioned InternalRows — so the driver
    * oracle pins the fused execution path too, not just the window plan.
    */
  def knnJoinTrees(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    SpatialOps.knnJoinTrees(nationQueries(spark, dir), data, K, grid)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy("qid", "rn")
  }

  val knnJoinSql: String =
    s"""WITH d AS (${pointsSql("customer", "c_custkey")}),
       |q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid,
       |  ${qxSql("CAST(n_nationkey AS BIGINT)")} AS x,
       |  ${qySql("CAST(n_nationkey AS BIGINT)")} AS y FROM nation),
       |j AS (SELECT q.qid, d.id,
       |  (d.x - q.x)*(d.x - q.x) + (d.y - q.y)*(d.y - q.y) AS d2
       |  FROM q CROSS JOIN d),
       |r AS (SELECT qid, id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS rn FROM j)
       |SELECT qid, id, d2, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= $K
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------- n-dim tier: 3-D kNN join

  /** Grid for the 3-D kNN join: unit cube, res 3 → 512 cells (≈3 pts/cell
    * at sf0.01, ≈29 at sf0.1 — the shell expansion stays local).
    */
  val gridNd: graft.index.CellGridN = graft.index.CellGridN.unit(3, 3)

  /** J2 in d=3 over [[graft.index.CellGridN]] (`SpatialOps.knnJoinNd`) —
    * the reference tree is n-dimensional (rstar/src/point.rs:158-179);
    * this lifts the n-dim distributed tier into the driver-oracle class.
    * d2 is the same IEEE-exact left fold (((0+dx²)+dy²)+dz²) as the SQL
    * twin's left-associative sum, so hashes are bit-exact.
    */
  def knnNd(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"),
        array(u3(col("c_custkey"), M1), u3(col("c_custkey"), M2),
          u3(col("c_custkey"), M3)).as("p"))
      .as[(Long, Array[Double])]
    val qs = load(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("id"),
        array(u3(col("n_nationkey"), M4), u3(col("n_nationkey"), M5),
          u3(col("n_nationkey"), M6)).as("p"))
      .as[(Long, Array[Double])]
    SpatialOps.knnJoinNd(qs, data, K, gridNd)
      .orderBy("qid", "rn")
  }

  val knnNdSql: String =
    s"""WITH d AS (SELECT c_custkey AS id,
       |  ${u3Sql("c_custkey", M1)} AS x, ${u3Sql("c_custkey", M2)} AS y,
       |  ${u3Sql("c_custkey", M3)} AS z FROM customer),
       |q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid,
       |  ${u3Sql("CAST(n_nationkey AS BIGINT)", M4)} AS x,
       |  ${u3Sql("CAST(n_nationkey AS BIGINT)", M5)} AS y,
       |  ${u3Sql("CAST(n_nationkey AS BIGINT)", M6)} AS z FROM nation),
       |j AS (SELECT q.qid, d.id,
       |  (d.x - q.x)*(d.x - q.x) + (d.y - q.y)*(d.y - q.y)
       |   + (d.z - q.z)*(d.z - q.z) AS d2
       |  FROM q CROSS JOIN d),
       |r AS (SELECT qid, id, d2,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, id) AS rn FROM j)
       |SELECT qid, id, d2, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= $K
       |ORDER BY qid, rn""".stripMargin

  // ------------------------------------------- K3: co-equal nearest ties

  def nnTies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val data = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    SpatialOps.knnJoin(nationQueries(spark, dir), data, 1, grid, keepTies = true)
      .select("qid", "id", "d2")
      .orderBy("qid", "id")
  }

  val nnTiesSql: String =
    s"""WITH d AS (${pointsSql("customer", "c_custkey")}),
       |q AS (SELECT CAST(n_nationkey AS BIGINT) AS qid,
       |  ${qxSql("CAST(n_nationkey AS BIGINT)")} AS x,
       |  ${qySql("CAST(n_nationkey AS BIGINT)")} AS y FROM nation),
       |j AS (SELECT q.qid, d.id,
       |  (d.x - q.x)*(d.x - q.x) + (d.y - q.y)*(d.y - q.y) AS d2
       |  FROM q CROSS JOIN d),
       |r AS (SELECT qid, id, d2,
       |  RANK() OVER (PARTITION BY qid ORDER BY d2) AS rk FROM j)
       |SELECT qid, id, d2 FROM r WHERE rk <= 1
       |ORDER BY qid, id""".stripMargin

  // ------------------------------------------------- J1: pairwise join

  /** The pure-DataFrame cell equi-join plan: it stays inside whole-stage
    * codegen, and AQE's skew-join splitting divides hot cells at runtime.
    */
  def intersectionJoin(spark: SparkSession, dir: String): DataFrame = {
    def toRows(df: DataFrame) = df.select(
      col("id"), col("min_x").as("minX"), col("min_y").as("minY"),
      col("max_x").as("maxX"), col("max_y").as("maxY"))
    val l = toRows(rects(load(spark, dir, "orders"), "o_orderkey"))
    val r = toRows(rects(load(spark, dir, "supplier"), "s_suppkey"))
    SpatialOps.intersectionJoin(l, r, grid)
      .toDF("lid", "rid")
      .orderBy("lid", "rid")
  }

  val intersectionJoinSql: String =
    s"""WITH l AS (${rectsSql("orders", "o_orderkey")}),
       |r AS (${rectsSql("supplier", "s_suppkey")})
       |SELECT l.id AS lid, r.id AS rid FROM l JOIN r
       |ON l.min_x <= r.max_x AND l.max_x >= r.min_x
       |AND l.min_y <= r.max_y AND l.max_y >= r.min_y
       |ORDER BY lid, rid""".stripMargin

  // -------------------------------------------- K2: distance-ordered scan

  def distanceOrdered(spark: SparkSession, dir: String): DataFrame =
    points(load(spark, dir, "customer"), "c_custkey")
      .withColumn("d2", stDistanceSq(col("x"), col("y"), lit(0.0), lit(0.0)))
      .orderBy(col("d2"), col("id"))
      .limit(100)
      .select("id", "d2")

  val distanceOrderedSql: String =
    s"""WITH p AS (${pointsSql("customer", "c_custkey")})
       |SELECT id, (x - 0.0)*(x - 0.0) + (y - 0.0)*(y - 0.0) AS d2 FROM p
       |ORDER BY d2, id LIMIT 100""".stripMargin

  // ------------------------------------------------------ F6: membership

  def containsQuery(spark: SparkSession, dir: String): DataFrame = {
    val lp = points(load(spark, dir, "lineitem"), "l_partkey")
      .select("x", "y").distinct()
    val cp = points(load(spark, dir, "customer"), "c_custkey")
      .select("x", "y")
    lp.join(cp, Seq("x", "y"), "left_semi").orderBy("x", "y")
  }

  val containsQuerySql: String =
    s"""WITH lp AS (SELECT DISTINCT x, y FROM (${pointsSql("lineitem", "l_partkey")})),
       |cp AS (${pointsSql("customer", "c_custkey")})
       |SELECT lp.x, lp.y FROM lp
       |WHERE EXISTS (SELECT 1 FROM cp WHERE cp.x = lp.x AND cp.y = lp.y)
       |ORDER BY x, y""".stripMargin

  // ------------------------------------------------------ R1: remove one

  /** Remove ONE element containing the point — the reference returns "any
    * one" (rstar/src/rtree.rs:845-867); we pin the nondeterminism with the
    * min-id total tiebreak (SURVEY §7.4).
    */
  def removeOne(spark: SparkSession, dir: String): DataFrame =
    locateAllAtPoint(spark, dir).orderBy("id").limit(1)

  val removeOneSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")})
       |SELECT * FROM r
       |WHERE min_x <= ${PT._1} AND ${PT._1} <= max_x
       |  AND min_y <= ${PT._2} AND ${PT._2} <= max_y
       |ORDER BY id LIMIT 1""".stripMargin

  // -------------------------------------------------- R4: drain remainder

  /** The survivors of `drain_in_envelope_intersecting`: complement of F2. */
  def drainRemainder(spark: SparkSession, dir: String): DataFrame =
    rects(load(spark, dir, "orders"), "o_orderkey")
      .where(!stIntersectsBox(
        col("min_x"), col("min_y"), col("max_x"), col("max_y"),
        lit(QB._1), lit(QB._2), lit(QB._3), lit(QB._4)))
      .orderBy("id")

  val drainRemainderSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")})
       |SELECT * FROM r
       |WHERE NOT (min_x <= ${QB._3} AND max_x >= ${QB._1}
       |  AND min_y <= ${QB._4} AND max_y >= ${QB._2})
       |ORDER BY id""".stripMargin

  // ---------------------------------------------- G14: line-layer distance

  /** Distance from every customer point to its nearest segment of a
    * nation-derived line layer (`Line::distance_2`,
    * rstar/src/primitives/line.rs:71-113): min over a broadcast 25-line
    * layer — MIN of doubles is order-independent, so the oracle matches
    * bit-exactly.
    */
  def lineNearest(spark: SparkSession, dir: String): DataFrame = {
    val lines = load(spark, dir, "nation")
      .select(col("n_nationkey").cast("long").as("lid"))
      .select(col("lid"),
        qx(col("lid")).as("x1"), qy(col("lid")).as("y1"),
        (qx(col("lid")) + lit(5.0)).as("x2"), (qy(col("lid")) + lit(3.0)).as("y2"))
    val pts = points(load(spark, dir, "customer"), "c_custkey")
    pts.crossJoin(broadcast(lines))
      .select(col("id"),
        stLineDistanceSq(col("x1"), col("y1"), col("x2"), col("y2"),
          col("x"), col("y")).as("d2"))
      .groupBy("id").agg(min("d2").as("min_d2"))
      .orderBy("id")
  }

  val lineNearestSql: String =
    s"""WITH l AS (SELECT CAST(n_nationkey AS BIGINT) AS lid,
       |  ${qxSql("CAST(n_nationkey AS BIGINT)")} AS x1,
       |  ${qySql("CAST(n_nationkey AS BIGINT)")} AS y1,
       |  ${qxSql("CAST(n_nationkey AS BIGINT)")} + 5.0 AS x2,
       |  ${qySql("CAST(n_nationkey AS BIGINT)")} + 3.0 AS y2 FROM nation),
       |p AS (${pointsSql("customer", "c_custkey")}),
       |j AS (SELECT p.id,
       |  (p.x - (l.x1 + LEAST(1.0, GREATEST(0.0,
       |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
       |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
       |     * (l.x2 - l.x1)))
       |  * (p.x - (l.x1 + LEAST(1.0, GREATEST(0.0,
       |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
       |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
       |     * (l.x2 - l.x1)))
       |  + (p.y - (l.y1 + LEAST(1.0, GREATEST(0.0,
       |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
       |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
       |     * (l.y2 - l.y1)))
       |  * (p.y - (l.y1 + LEAST(1.0, GREATEST(0.0,
       |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
       |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
       |     * (l.y2 - l.y1))) AS d2
       |  FROM p CROSS JOIN l)
       |SELECT id, MIN(d2) AS min_d2 FROM j GROUP BY id ORDER BY id""".stripMargin

  // --------------------------------------- G14 at scale: grid line layer

  /** Nearest-segment distance from every customer point to a LARGE line
    * layer (one segment per `part` row) through the grid-partitioned
    * two-pass join (SpatialOps.lineNearestJoin) — no broadcast, no
    * crossJoin; the oracle is the brute min over all segments, equal
    * because pass B provably contains the argmin and MIN of doubles is
    * order-independent.
    */
  def lineGridNN(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = col("p_partkey")
    // +0.01 keeps every segment non-degenerate: keys divisible by 997 have
    // rW = rH = 0, and a zero-length segment divides by len2 = 0 in the
    // clamped-projection formula (ANSI Spark errors; the reference's
    // Line::distance_2 assumes nondegenerate lines too).
    val lines = load(spark, dir, "part").select(
      k.as("lid"),
      px(k).as("x1"), py(k).as("y1"),
      (px(k) + rW(k) + lit(0.01)).as("x2"), (py(k) + rH(k)).as("y2"))
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    SpatialOps.lineNearestJoin(pts, lines, grid).orderBy("id")
  }

  /** SQL twin of stLineDistanceSq for tables aliased `p` (point) and `l`
    * (segment) — shared by every line-layer oracle.
    */
  private val lineD2Sql: String =
    """(p.x - (l.x1 + LEAST(1.0, GREATEST(0.0,
        |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
        |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
        |     * (l.x2 - l.x1)))
        |  * (p.x - (l.x1 + LEAST(1.0, GREATEST(0.0,
        |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
        |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
        |     * (l.x2 - l.x1)))
        |  + (p.y - (l.y1 + LEAST(1.0, GREATEST(0.0,
        |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
        |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
        |     * (l.y2 - l.y1)))
        |  * (p.y - (l.y1 + LEAST(1.0, GREATEST(0.0,
        |     ((p.x - l.x1) * (l.x2 - l.x1) + (p.y - l.y1) * (l.y2 - l.y1))
        |     / ((l.x2 - l.x1) * (l.x2 - l.x1) + (l.y2 - l.y1) * (l.y2 - l.y1))))
        |     * (l.y2 - l.y1)))""".stripMargin

  /** SQL for the part-derived segment layer (the lineGridNN fixture). */
  private val partLinesSql: String =
    s"""SELECT p_partkey AS lid,
       |  ${pxSql("p_partkey")} AS x1, ${pySql("p_partkey")} AS y1,
       |  ${pxSql("p_partkey")} + ${rWSql("p_partkey")} + 0.01 AS x2,
       |  ${pySql("p_partkey")} + ${rHSql("p_partkey")} AS y2 FROM part""".stripMargin

  val lineGridNNSql: String =
    s"""WITH l AS ($partLinesSql),
       |p AS (${pointsSql("customer", "c_custkey")}),
       |j AS (SELECT p.id, $lineD2Sql AS d2 FROM p CROSS JOIN l)
       |SELECT id, MIN(d2) AS min_d2 FROM j GROUP BY id ORDER BY id""".stripMargin

  // ------------------------- K2 over arbitrary PointDistance geometries

  /** Top-k nearest RECTANGLES per customer point (NN over any
    * `PointDistance` object — rstar/src/primitives/rectangle.rs:79-111,
    * rtree.rs:940-975 — at the distributed tier): the generic
    * envelope-registered two-pass join with the exact clamp-then-distance
    * box metric; oracle = brute-force window over all point×rect pairs.
    */
  def knnRects(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val geoms = rects(load(spark, dir, "orders"), "o_orderkey").select(
      col("id").as("gid"),
      col("min_x").as("minX"), col("min_y").as("minY"),
      col("max_x").as("maxX"), col("max_y").as("maxY"))
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    // Fused per-cell rect-tree probes (knnRectJoinTrees == the generic
    // knnEnvelopeJoin row for row, spec-pinned) at res 6 — the orders-rect
    // layer is ~10x denser than the other layers (600 rects/cell at res 4
    // dragged hundreds of candidates per query; the "cells sized so the
    // smaller side holds O(k)" rule, BASELINE.md).
    SpatialOps.knnRectJoinTrees(pts, geoms, 3, CellGrid.lonLat(6))
      .orderBy("id", "rn")
  }

  val knnRectsSql: String =
    s"""WITH r AS (${rectsSql("orders", "o_orderkey")}),
       |p AS (${pointsSql("customer", "c_custkey")}),
       |j AS (SELECT p.id, r.id AS gid,
       |  (LEAST(r.max_x, GREATEST(r.min_x, p.x)) - p.x)
       |    * (LEAST(r.max_x, GREATEST(r.min_x, p.x)) - p.x)
       |  + (LEAST(r.max_y, GREATEST(r.min_y, p.y)) - p.y)
       |    * (LEAST(r.max_y, GREATEST(r.min_y, p.y)) - p.y) AS d2
       |  FROM p CROSS JOIN r),
       |k AS (SELECT id, gid, d2,
       |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, gid) AS rn FROM j)
       |SELECT id, gid, d2, rn FROM k WHERE rn <= 3 ORDER BY id, rn""".stripMargin

  /** Top-k nearest SEGMENTS per customer point (K2 semantics over the
    * part-derived line layer — generalizes lineGridNN's min-distance to
    * k-th distance through the same grid bound).
    */
  def lineKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = col("p_partkey")
    val geoms = load(spark, dir, "part").select(
      k.as("gid"),
      px(k).as("x1"), py(k).as("y1"),
      (px(k) + rW(k) + lit(0.01)).as("x2"), (py(k) + rH(k)).as("y2"))
      .withColumn("minX", least(col("x1"), col("x2")))
      .withColumn("minY", least(col("y1"), col("y2")))
      .withColumn("maxX", greatest(col("x1"), col("x2")))
      .withColumn("maxY", greatest(col("y1"), col("y2")))
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    // Fused per-cell segment-tree probes (knnSegJoinTrees == the generic
    // knnEnvelopeJoin row for row, spec-pinned): the envelope iterator is
    // the lower bound, refined to exact segment distance — at res 6 like
    // the rect layer (same density argument).
    SpatialOps.knnSegJoinTrees(pts, geoms, 3, CellGrid.lonLat(6))
      .orderBy("id", "rn")
  }

  val lineKnnSql: String = {
    // the shared snippet distances (p.x, p.y); here the point alias is `p`
    // with columns x, y as in lineGridNNSql
    s"""WITH l AS ($partLinesSql),
       |p AS (${pointsSql("customer", "c_custkey")}),
       |j AS (SELECT p.id, l.lid AS gid, $lineD2Sql AS d2 FROM p CROSS JOIN l),
       |k AS (SELECT id, gid, d2,
       |  ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, gid) AS rn FROM j)
       |SELECT id, gid, d2, rn FROM k WHERE rn <= 3 ORDER BY id, rn""".stripMargin
  }

  // ------------------------------------------- C5: persisted index probe

  /** Range query answered from the PERSISTED `(cell, n, tree BINARY)` index
    * table (C5 at scale; reference serde round-trip rstar/src/rtree.rs:1289-
    * 1305): the first call builds the table through Checkpoint (group-
    * committed, kill/resumable — CheckpointSpec); every later call prunes
    * the stored cells to the query box and probes the deserialized trees
    * without any rebuild.
    */
  /** Store root for the persisted customer-point index, keyed by a content
    * fingerprint: row count + key extremes (parquet footer stats) PLUS an
    * order-free content hash of the key set (two independent xor-folded
    * key hashes — a cheap agg; xor is commutative so partitioning order is
    * irrelevant, and sum would ANSI-overflow on 64-bit hash values), so a
    * regenerated table with the same count and extremes but a different
    * key set (gaps moved) can never silently serve a stale committed
    * index.
    */
  private def persistedRoot(spark: SparkSession, dir: String): String =
    persistedRoot(spark, dir, "graft_pidx_v4_")

  /** `prefix` names the store family (range/knn vs append probes keep
    * separate roots); version bumps go in the prefix itself, so every
    * family re-keys together — no post-hoc string surgery on the path.
    */
  private def persistedRoot(spark: SparkSession, dir: String,
      prefix: String): String = {
    val fp = load(spark, dir, "customer")
      .agg(count(lit(1)),
        min(col("c_custkey")).cast("long"), max(col("c_custkey")).cast("long"),
        bit_xor(xxhash64(col("c_custkey"))),
        bit_xor(xxhash64(col("c_custkey") + lit(1L))))
      .collect()(0)
    // v4: serialVersionUIDs are now PINNED on every class in the persisted
    // tree graph (PointRTree2D, LocalRTree, Entry, Inner, AABB), so
    // additive method changes no longer invalidate a store — the v3 store
    // was written with implicit UIDs and died when locateAtPoint landed.
    s"/tmp/$prefix${new java.io.File(dir).getName}" +
      s"_${fp.getLong(0)}_${fp.getLong(1)}_${fp.getLong(2)}" +
      f"_${fp.getLong(3)}%016x${fp.getLong(4)}%016x".replace("-", "n")
  }

  def persistedRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    val root = persistedRoot(spark, dir)
    IndexStore.build(spark, pts, grid, root)
    IndexStore.rangeQuery(spark, root, grid, QB._1, QB._2, QB._3, QB._4)
      .orderBy("id")
  }

  val persistedRangeSql: String =
    s"""WITH p AS (${pointsSql("customer", "c_custkey")})
       |SELECT id, x, y FROM p
       |WHERE x >= ${QB._1} AND x <= ${QB._3}
       |  AND y >= ${QB._2} AND y <= ${QB._4}
       |ORDER BY id""".stripMargin

  /** kNN join answered from the PERSISTED index (the 100 TB cold-start
    * serving path): the same stored `(cell, n, tree BINARY)` table as
    * [[persistedRange]], each stored tree of the queries' count-bounded
    * covers probed best-first once, WITHOUT any rebuild
    * (IndexStore.knnQuery; reference analog serde-then-query,
    * rstar/src/rtree.rs:1289-1305). Bit-equal to q_knn_join on the same
    * inputs, so it shares that oracle.
    */
  def persistedKnn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = persistedRoot(spark, dir)
    val pts = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    IndexStore.build(spark, pts, grid, root) // no-op when already committed
    IndexStore.knnQuery(spark, root, grid, nationQueries(spark, dir), K)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy("qid", "rn")
  }

  // --------------------------------------------------- C4: insert (R*)

  /** C4 as a driver hard signal: the customer layer is bulk-loaded, a
    * deterministic supplier-derived batch is INSERTED through the real R*
    * path (per-cell union + touched-cell rebuild via `LocalRTree.insert` —
    * choose-subtree, forced reinsertion; SpatialOps.insertAppendRange),
    * and a range query over the merged index must equal the same SQL over
    * the union (the reference's bulk-then-insert regression,
    * rstar/src/rtree.rs:1307-1371). Batch ids are shifted by 10^7 so the
    * two layers never collide.
    */
  def insertAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    val batch = points(load(spark, dir, "supplier"), "s_suppkey")
      .select((col("id") + lit(10000000L)).as("id"), col("x"), col("y"))
      .as[PointRow]
    SpatialOps.insertAppendRange(base, batch, grid,
      AABB.of2d(QB._1, QB._2, QB._3, QB._4))
      .orderBy("id")
  }

  val insertAppendSql: String =
    s"""WITH b AS (${pointsSql("customer", "c_custkey")}),
       |a AS (SELECT id + 10000000 AS id, x, y
       |      FROM (${pointsSql("supplier", "s_suppkey")})),
       |u AS (SELECT * FROM b UNION ALL SELECT * FROM a)
       |SELECT id, x, y FROM u
       |WHERE x >= ${QB._1} AND x <= ${QB._3}
       |  AND y >= ${QB._2} AND y <= ${QB._4}
       |ORDER BY id""".stripMargin

  /** C4 ∘ C5 — incremental append into the PERSISTED index (the serving
    * mutation path at 100 TB): the even-keyed half of the customer layer
    * is built as generation 0 of the store, the odd half APPENDED as
    * generation 1 (`IndexStore.append`: touched cells deserialize-merge-
    * rebuild, untouched cells' bytes never move), and a range probe over
    * the generational view must equal the same SQL over ALL points.
    * Marker-idempotent across invocations like the other persisted
    * queries; the store root is fingerprinted on the full table content.
    */
  def persistedAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = points(load(spark, dir, "customer"), "c_custkey").as[PointRow]
    val root = persistedRoot(spark, dir, "graft_pidxa_v4_")
    IndexStore.build(spark, all.filter(_.id % 2 == 0), grid, root)
    IndexStore.append(spark, all.filter(_.id % 2 != 0), grid, root, gen = 1)
    IndexStore.rangeQuery(spark, root, grid, QB._1, QB._2, QB._3, QB._4)
      .orderBy("id")
  }

  val persistedAppendSql: String = persistedRangeSql

  // ------------------------------------------------ G5: envelope-of-group

  def envelopeAgg(spark: SparkSession, dir: String): DataFrame =
    points(load(spark, dir, "customer"), "c_custkey")
      .join(load(spark, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("nation")), Seq("id"))
      .groupBy("nation")
      .agg(count(lit(1)).as("cnt"),
        min("x").as("min_x"), min("y").as("min_y"),
        max("x").as("max_x"), max("y").as("max_y"))
      .orderBy("nation")

  val envelopeAggSql: String =
    s"""WITH p AS (SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nation,
       | ${pxSql("c_custkey")} AS x, ${pySql("c_custkey")} AS y FROM customer)
       |SELECT nation, COUNT(*) AS cnt, MIN(x) AS min_x, MIN(y) AS min_y,
       | MAX(x) AS max_x, MAX(y) AS max_y
       |FROM p GROUP BY nation ORDER BY nation""".stripMargin
}
