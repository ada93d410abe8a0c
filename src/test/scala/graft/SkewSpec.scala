package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.PagesGen
import graft.engine._
import graft.index.CellGrid

/** Hot-cell skew handling (north_rule): on a Zipf-ish skewed layer — most
  * geometry piled into a handful of urban cells — the grid join must stay
  * exact, and a pathological stop-shingle must not blow up the near-dup
  * candidate set.
  */
class SkewSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-skew-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = CellGrid.lonLat(4)

  /** 70% of points in one urban disc (one-two cells), the rest uniform. */
  private def skewedPoints(n: Int, seed: Int) = {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    spark.range(n).map { id =>
      val hot = PagesGen.uniform(id + seed, 0) < 0.7
      val (x, y) =
        if (hot)
          (13.4 + (PagesGen.uniform(id + seed, 1) - 0.5) * 0.5,
            52.5 + (PagesGen.uniform(id + seed, 2) - 0.5) * 0.5)
        else
          (PagesGen.uniform(id + seed, 1) * 360.0 - 180.0,
            PagesGen.uniform(id + seed, 2) * 170.0 - 85.0)
      RectRow(id, x, y, x + 0.05, y + 0.05)
    }
  }

  test("intersectionJoin on a hot-cell layer == brute-force crossJoin, " +
    "pair for pair, no pair repeated") {
    import spark.implicits._
    val l = skewedPoints(4000, 100)
    val r = skewedPoints(800, 200)
    // fixture check: one lonLat(4) cell holds more than half the left side
    val g = grid // local copy: closures must not capture the suite instance
    val hottest = l.flatMap(t =>
        g.cover(graft.geom.AABB.of2d(t.minX, t.minY, t.maxX, t.maxY)))
      .toDF("cell").groupBy("cell").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(hottest > 2000, s"fixture not skewed enough: $hottest")
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
    val want = pairs(l.toDF().as("a").crossJoin(r.toDF().as("b"))
      .where(col("a.minX") <= col("b.maxX") && col("a.maxX") >= col("b.minX") &&
        col("a.minY") <= col("b.maxY") && col("a.maxY") >= col("b.minY"))
      .select(col("a.id"), col("b.id")))
    assert(want.nonEmpty)
    // at lonLat(4) the hot disc sits inside one cell; at lonLat(9) it spans
    // several, so hot pairs straddle cell borders and exercise the dedup
    Seq(grid, CellGrid.lonLat(9)).foreach { g =>
      val got = SpatialOps.intersectionJoin(l.toDF(), r.toDF(), g)
      assert(got.count() == got.distinct().count(),
        s"duplicate pairs emitted at res ${g.res}")
      assert(pairs(got) == want, s"pair set differs at res ${g.res}")
    }
  }

  test("ngram near-dup: a pathological stop-shingle stays bounded by the " +
    "df cap and the pair set stays exact") {
    import spark.implicits._
    import graft.pipeline.PipelineOps
    // 400 docs ALL sharing one hot trigram ("aa bb cc ..."), plus unique
    // filler; two planted near-dup pairs share long rare runs.
    val hot = "xx yy zz"
    def doc(i: Long): String = {
      val uniq = (0 until 12).map(j => s"w${i}_$j").mkString(" ")
      s"$hot $uniq"
    }
    val base = spark.range(400).map(i => (i, doc(i))).toDF("doc_id", "text")
    val dup = Seq(
      (1000L, doc(7)),   // near-identical to doc 7
      (1001L, doc(13))   // near-identical to doc 13
    ).toDF("doc_id", "text")
    val docs = base.unionByName(dup)
    // uncapped candidate volume from the hot shingle alone would be
    // 402*401/2 ≈ 80k pairs; the cap must keep candidates at the rare-
    // shingle level (planted pairs only)
    val sh = PipelineOps.shingles(docs, 3)
    val rare = sh.groupBy("shingle").count()
      .where(col("count") <= 128).select("shingle")
    val shCand = sh.join(rare, Seq("shingle"), "left_semi")
    val candCount = shCand.as("a").join(shCand.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(candCount <= 10, s"df cap failed to bound candidates: $candCount")
    // exactness: capped pipeline == brute-force Jaccard over all pairs
    val got = PipelineOps.ngramJaccardPairs(docs, 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((7L, 1000L), (13L, 1001L)),
      s"capped near-dup pairs wrong: $got")
  }
}
