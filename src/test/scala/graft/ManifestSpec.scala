package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.data.PagesGen
import graft.engine.{IndexStore, PointRow, QueryRow}
import graft.index.CellGrid

/** Reads resolve latest-wins from the per-group cell manifests, so every
  * way a manifest can be absent, torn or left over must still serve exact
  * answers: range, kNN and within-distance probes of a multi-generation
  * store are compared with brute force after each damage.
  */
class ManifestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-manifest-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val grid = CellGrid.lonLat(4)
  private val nGroups = 3

  private def pts(lo: Long, hi: Long): Seq[PointRow] = (lo until hi).map { id =>
    PointRow(id,
      PagesGen.uniform(id, 1) * 360.0 - 180.0,
      PagesGen.uniform(id, 2) * 170.0 - 85.0)
  }

  private val base = pts(0, 3000)
  private val batch1 = pts(3000, 3400)
  private val batch2 = pts(3400, 3600)

  private def append(root: String, ps: Seq[PointRow], gen: Int): Unit = {
    import spark.implicits._
    IndexStore.append(spark, spark.createDataset(ps), grid, root, gen, nGroups)
  }

  /** Base + 2 appends, built once; every test damages its own copy. */
  private lazy val pristine: Path = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft_manifest")
    IndexStore.build(spark, spark.createDataset(base), grid, root.toString,
      nGroups)
    append(root.toString, batch1, 1)
    append(root.toString, batch2, 2)
    root
  }

  private def copyStore(): String = {
    val to = Files.createTempDirectory("graft_manifest_copy")
    Files.walk(pristine).iterator().asScala.foreach { p =>
      val q = to.resolve(pristine.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
    }
    to.toString
  }

  private def manifests(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_cells_")).toSeq

  private def same[T](got: Set[T], want: Set[T], what: String): Unit =
    if (got != want) fail(s"$what: ${(want -- got).size} of ${want.size} " +
      s"expected rows missing, ${(got -- want).size} unexpected")

  /** Range, within-distance and 3-NN answers of the store at `root` equal
    * brute force over `all`.
    */
  private def assertExact(root: String, all: Seq[PointRow], label: String): Unit = {
    import spark.implicits._
    val (bx0, by0, bx1, by1) = (-120.0, -50.0, 100.0, 60.0)
    same(IndexStore.rangeQuery(spark, root, grid, bx0, by0, bx1, by1)
      .as[(Long, Double, Double)].collect().toSet,
      all.filter(p => p.x >= bx0 && p.x <= bx1 && p.y >= by0 && p.y <= by1)
        .map(p => (p.id, p.x, p.y)).toSet, s"$label: range")

    val (px, py, r2) = (20.0, 10.0, 1600.0)
    same(IndexStore.withinDistance(spark, root, grid, px, py, r2)
      .as[(Long, Double)].collect().map(_._1).toSet,
      all.filter { p =>
        val dx = p.x - px; val dy = p.y - py
        dx * dx + dy * dy <= r2
      }.map(_.id).toSet, s"$label: withinDistance")

    val qs = (0L until 25L).map(i => QueryRow(i,
      PagesGen.uniform(i + 501, 3) * 340.0 - 170.0,
      PagesGen.uniform(i + 501, 4) * 160.0 - 80.0))
    same(IndexStore.knnQuery(spark, root, grid, spark.createDataset(qs), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      qs.flatMap { q =>
        all.sortBy(p => ((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y),
          p.id)).take(3).map(p => (q.qid, p.id))
      }.toSet, s"$label: kNN")
  }

  test("deleted manifests: reads derive the cells from the data (old " +
    "stores), and a compaction of such a store commits manifests again") {
    val root = copyStore()
    val all = base ++ batch1 ++ batch2
    assert(manifests(root).size == 3 * nGroups)
    manifests(root).foreach(Files.delete)
    assertExact(root, all, "no manifests")
    assert(manifests(root).isEmpty, "reads must not write into the store")
    IndexStore.compact(spark, root, nGroups)
    assert(manifests(root).size == nGroups)
    assertExact(root, all, "compacted")
  }

  test("truncated manifests are never trusted") {
    val root = copyStore()
    // every manifest of the newest stage torn a different way; trusting
    // any would hand its cells back to stale trees of older generations
    val newest = manifests(root).filter(_.getParent.getFileName.toString ==
      "trees_g2").sortBy(_.toString)
    assert(newest.size == nGroups)
    newest.zip(Seq(16L, 8L, -1L)).foreach { case (p, cut) =>
      val bytes = Files.readAllBytes(p)
      val keep = if (cut < 0) 0 else bytes.length - cut.toInt
      Files.write(p, bytes.take(keep))
    }
    assertExact(root, base ++ batch1 ++ batch2, "truncated")
  }

  test("a group killed and recomputed with the same generation leaves no " +
    "stale manifest") {
    val root = copyStore()
    val victim = 1
    // the kill: the marker and data go, the manifest of that attempt stays
    Files.delete(Paths.get(root, "trees_g2", s"_done_$victim"))
    Files.walk(Paths.get(root, "trees_g2", s"group=$victim")).iterator()
      .asScala.toSeq.reverse.foreach(Files.delete)
    // the replay carries extra points: the recomputed group's cells grow
    // beyond the old manifest, so trusting it would lose them
    val extra = pts(9000, 9300)
    val cellsOf = (ps: Seq[PointRow]) => ps.map(p => grid.cellId(p.x, p.y)).toSet
    val gained = cellsOf(extra).filter(_ % nGroups == victim) -- cellsOf(batch2)
    assert(gained.nonEmpty)
    append(root, batch2 ++ extra, 2)
    val landed = extra.filter(p => grid.cellId(p.x, p.y) % nGroups == victim)
    assertExact(root, base ++ batch1 ++ batch2 ++ landed, "recomputed group")
  }

  test("a replayed trees_g<k> stays masked by trees_c<k>") {
    val root = copyStore()
    IndexStore.compact(spark, root, nGroups)
    assert(new java.io.File(s"$root/trees_c2").isDirectory)
    // the replays find no base generation left (compacted away), so their
    // trees hold only their batch: served, they would drop older points
    append(root, batch2, 2)
    append(root, batch1, 1)
    assert(IndexStore.generationCount(spark, root) == 3)
    assertExact(root, base ++ batch1 ++ batch2, "replayed")
  }
}
