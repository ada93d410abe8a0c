package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.data.PagesGen
import graft.engine.{PointRow, QueryRow, RectRow}

/** Seeded inputs. Every value is a pure function of (seed, row id) through
  * PagesGen's SplitMix64 streams, so the same seed always yields the same
  * rows and a different seed yields a fresh draw from the same
  * distribution.
  *
  * Entities follow `PagesGen.textFor`: 0–3 geo-entities per page, a share
  * `skewShare` of them within ±0.1° of one of PagesGen's five urban
  * centres, the rest uniform over lon [-180, 180) × lat [-85, 85). They
  * are generated as (id, x, y) rows directly instead of through the page
  * text round trip, which is synthesis work outside every measured call.
  */
object Inputs {

  val SkewShare = 0.3

  /** First page id of a seed's draw: ids of different seeds never meet. */
  def pageBase(seed: Long): Long = (PagesGen.splitmix64(seed) >>> 24) << 2

  /** Base of a named per-seed coordinate stream (tiles, POIs, queries). */
  def stream(seed: Long, name: String): Long =
    PagesGen.splitmix64(seed ^ PagesGen.splitmix64(name.hashCode.toLong)) >>> 20

  /** Entities of one page: id = page * 4 + entity index. */
  def pageEntities(page: Long): Array[PointRow] = {
    val n = (PagesGen.splitmix64(page * 31 + 19) & 3).toInt
    Array.tabulate(n) { e =>
      val hot = PagesGen.uniform(page, 100 + 3 * e) < SkewShare
      val (x, y) =
        if (hot) {
          val c = PagesGen.urbanCenters(
            (PagesGen.splitmix64(page * 31 + 23 + e) & 0x7fffffff).toInt %
              PagesGen.urbanCenters.length)
          (c._1 + (PagesGen.uniform(page, 101 + 3 * e) - 0.5) * 0.2,
            c._2 + (PagesGen.uniform(page, 102 + 3 * e) - 0.5) * 0.2)
        } else {
          (PagesGen.uniform(page, 101 + 3 * e) * 360.0 - 180.0,
            PagesGen.uniform(page, 102 + 3 * e) * 170.0 - 85.0)
        }
      PointRow(page * 4 + e, x, y)
    }
  }

  /** Entities of pages [from, from + nPages). */
  def entities(spark: SparkSession, from: Long, nPages: Long,
      parts: Int): Dataset[PointRow] = {
    import spark.implicits._
    spark.range(from, from + nPages, 1, parts).flatMap(p => pageEntities(p))
  }

  /** Driver-side twin of [[entities]] for small batches and oracles. */
  def entitiesLocal(from: Long, nPages: Long): Array[PointRow] =
    (from until from + nPages).iterator.flatMap(p => pageEntities(p)).toArray

  /** The i-th rectangle of a tile layer: PagesGen.tiles' shape, seeded. */
  def tile(base: Long, id: Long, maxW: Double): RectRow = {
    val lon = PagesGen.uniform(base + id, 1) * 360.0 - 180.0
    val lat = PagesGen.uniform(base + id, 2) * 170.0 - 85.0
    val w = PagesGen.uniform(base + id, 3) * maxW + 0.05
    val h = PagesGen.uniform(base + id, 4) * maxW + 0.05
    RectRow(id, lon, lat, math.min(lon + w, 180.0), math.min(lat + h, 85.0))
  }

  /** The i-th point of a POI layer: PagesGen.pois' shape, seeded. */
  def poi(base: Long, id: Long): PointRow =
    PointRow(id,
      PagesGen.uniform(base + id, 1) * 360.0 - 180.0,
      PagesGen.uniform(base + id, 2) * 170.0 - 85.0)

  def tiles(spark: SparkSession, seed: Long, n: Long, maxW: Double,
      parts: Int): Dataset[RectRow] = {
    import spark.implicits._
    val base = stream(seed, "tiles")
    spark.range(0, n, 1, parts).map(id => tile(base, id, maxW))
  }

  def pois(spark: SparkSession, seed: Long, n: Long,
      parts: Int): Dataset[PointRow] = {
    import spark.implicits._
    val base = stream(seed, "pois")
    spark.range(0, n, 1, parts).map(id => poi(base, id))
  }

  def tilesLocal(seed: Long, n: Int, maxW: Double): Array[RectRow] = {
    val base = stream(seed, "tiles")
    Array.tabulate(n)(i => tile(base, i.toLong, maxW))
  }

  def poisLocal(seed: Long, n: Int): Array[PointRow] = {
    val base = stream(seed, "pois")
    Array.tabulate(n)(i => poi(base, i.toLong))
  }

  /** Query points for a kNN batch: a `hotShare` of them near the urban
    * centres (where stored cells are dense), the rest uniform.
    */
  def queryPoints(seed: Long, name: String, n: Int): Array[QueryRow] = {
    val base = stream(seed, name)
    Array.tabulate(n) { i =>
      val u = PagesGen.uniform(base + i, 0)
      val (x, y) =
        if (u < SkewShare) {
          val c = PagesGen.urbanCenters(
            (PagesGen.splitmix64(base + i) & 0x7fffffff).toInt %
              PagesGen.urbanCenters.length)
          (c._1 + (PagesGen.uniform(base + i, 1) - 0.5) * 0.4,
            c._2 + (PagesGen.uniform(base + i, 2) - 0.5) * 0.4)
        } else {
          (PagesGen.uniform(base + i, 1) * 360.0 - 180.0,
            PagesGen.uniform(base + i, 2) * 170.0 - 85.0)
        }
      QueryRow(i.toLong, x, y)
    }
  }

  /** Range boxes of mixed size (half-widths 0.25°, 1° and 4°), centred
    * near an urban centre or uniformly, in a fixed rotation.
    */
  def rangeBoxes(seed: Long, name: String, n: Int): Array[(Double, Double, Double, Double)] = {
    val base = stream(seed, name)
    val halfW = Array(0.25, 1.0, 4.0)
    Array.tabulate(n) { i =>
      val hw = halfW(i % halfW.length)
      val (cx, cy) =
        if (i % 2 == 0) {
          val c = PagesGen.urbanCenters(
            (PagesGen.splitmix64(base + i) & 0x7fffffff).toInt %
              PagesGen.urbanCenters.length)
          (c._1 + (PagesGen.uniform(base + i, 1) - 0.5) * 0.5,
            c._2 + (PagesGen.uniform(base + i, 2) - 0.5) * 0.5)
        } else {
          (PagesGen.uniform(base + i, 1) * 340.0 - 170.0,
            PagesGen.uniform(base + i, 2) * 150.0 - 75.0)
        }
      (cx - hw, cy - hw, cx + hw, cy + hw)
    }
  }
}
