package graft.perfbench

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{IndexStore, PointRow, QueryRow, SpatialOps}
import graft.index.CellGrid

/** A seeded workload: `setup` generates its inputs (and builds whatever
  * standing index it serves from); `round` makes one round of timed calls
  * through a [[Runner]]; `deepChecks` compares full results with
  * [[Oracles]] outside the timer.
  */
abstract class Workload(val spark: SparkSession, val dir: String,
    val seed: Long) {
  protected val parts: Int = spark.sparkContext.defaultParallelism * 2
  def setup(): Unit
  def round(run: Runner): Unit
  /** The untimed warm pass: the full-result checks, then one round. */
  def warm(run: Runner): Unit = {
    deepChecks(run)
    run.warmRound(round(run))
  }
  def deepChecks(run: Runner): Unit = ()
  /** Calls timed only in the traced run, outside its rounds. */
  def tracedExtras(run: Runner): Unit = ()
  /** Store facts for the record (index_serve only). */
  def storeFacts: Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("bcast_probe", "index_serve")

  def apply(name: String, spark: SparkSession, dir: String,
      seed: Long): Workload = name match {
    case "bcast_probe" => new BcastProbe(spark, dir, seed)
    case "index_serve" => new IndexServe(spark, dir, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}

/** An entity table probed against a tile layer (intersection join) and a
  * POI layer (1-NN join), all three read from parquet. Both layers are
  * bounded, so each call broadcasts one tree of its layer and probes it
  * per entity row with no shuffle.
  */
final class BcastProbe(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  import spark.implicits._

  val pages = 600000L
  val nTiles = 10000
  val nPois = 100000
  val maxW = 0.2
  /** Join calls per round: a join pass is about a quarter of a kNN pass. */
  val joinsPerRound = 2

  private var entities: DataFrame = _
  private var nEnt = 0L
  private var tiles: DataFrame = _
  private var pois: Dataset[PointRow] = _

  private def entRects: DataFrame = entities.select(
    col("id"), col("x").as("minX"), col("y").as("minY"),
    col("x").as("maxX"), col("y").as("maxY"))
  private def queries: Dataset[QueryRow] =
    entities.select(col("id").as("qid"), col("x"), col("y")).as[QueryRow]
  private def join(): DataFrame = SpatialOps.intersectionJoinBroadcast(entRects, tiles)
  private def knn(q: Dataset[QueryRow]): DataFrame = SpatialOps.knnJoinBroadcast(q, pois, 1)

  def setup(): Unit = {
    Inputs.entities(spark, Inputs.pageBase(seed), pages, parts)
      .write.parquet(s"$dir/entities")
    Inputs.tiles(spark, seed, nTiles, maxW, parts).write.parquet(s"$dir/tiles")
    Inputs.pois(spark, seed, nPois, parts).write.parquet(s"$dir/pois")
    entities = spark.read.parquet(s"$dir/entities")
    tiles = spark.read.parquet(s"$dir/tiles")
    pois = spark.read.parquet(s"$dir/pois").as[PointRow]
    nEnt = entities.count()
  }

  // driver-side inputs for the oracles, made on first use (outside setup)
  private lazy val entLocal = Inputs.entitiesLocal(Inputs.pageBase(seed), pages)
  private lazy val tilesLocal = Inputs.tilesLocal(seed, nTiles, maxW)
  private lazy val poisLocal = Inputs.poisLocal(seed, nPois)
  private lazy val pairs = Oracles.pointRectPairs(entLocal, tilesLocal)

  def round(run: Runner): Unit = {
    (1 to joinsPerRound).foreach { _ =>
      run.call("j1_bcast", "join", nEnt)(join().count()) { n =>
        Option.when(n != pairs.count)(s"$n pairs, oracle ${pairs.count}")
      }
    }
    run.call("k1_bcast", "knn", nEnt)(knn(queries).count()) { n =>
      Option.when(n != nEnt)(s"$n rows, expected $nEnt")
    }
  }

  override def deepChecks(run: Runner): Unit = {
    val res = join().localCheckpoint(true)
    run.verify("j1_bcast pair set") {
      val r = res.agg(count(lit(1)), bit_xor(xxhash64(col("lid"), col("rid")))).head()
      val d = Oracles.PairDigest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      Option.when(d != pairs)(s"digest $d, oracle $pairs")
    }
    val sample = Oracles.sample(entLocal, 200)
    run.verify("j1_bcast sampled brute force") {
      val got = res.where(col("lid").isin(sample.map(_.id): _*))
        .as[(Long, Long)].collect().groupBy(_._1)
        .map { case (l, ps) => l -> ps.map(_._2).toSeq.sorted }
      sample.iterator.map { p =>
        (p.id, got.getOrElse(p.id, Seq.empty), Oracles.rectsContaining(p, tilesLocal))
      }.collectFirst { case (id, g, o) if g != o => s"lid $id: $g, oracle $o" }
    }
    run.verify("k1_bcast sampled brute force") {
      // a query's neighbours depend only on it and the layer, so the
      // sampled queries alone make the same rows as in a full pass
      val qs = sample.map(p => QueryRow(p.id, p.x, p.y))
      val got = knn(spark.createDataset(qs.toSeq))
        .select("qid", "id", "d2", "rn").as[(Long, Long, Double, Int)]
        .collect().groupBy(_._1)
        .map { case (q, rs) => q -> rs.map(r => (r._2, r._3, r._4)).toSeq.sortBy(_._3) }
      qs.iterator.map { q =>
        (q.qid, got.getOrElse(q.qid, Seq.empty), Oracles.knn(q, poisLocal, 1))
      }.collectFirst { case (q, g, o) if g != o => s"qid $q: $g, oracle $o" }
    }
  }
}

/** A persisted IndexStore served to one closed-loop client. A round is
  * `stepsPerRound` steps, each appending a seeded entity batch and then
  * answering range queries of mixed size and one kNN batch, and ends with
  * one compaction; so the reads of step i see i + 1 stored generations.
  * Every answer is checked against a scan of all points ingested so far.
  */
final class IndexServe(spark: SparkSession, dir: String, seed: Long)
    extends Workload(spark, dir, seed) {
  import spark.implicits._

  val grid: CellGrid = CellGrid.lonLat(6)
  val basePages = 60000L
  val batchPages = 2000L
  val stepsPerRound = 2
  val rangesPerStep = 4
  val knnQueries = 200
  val k = 4
  val groups = 1
  private val root = s"$dir/store"
  private var gen = 0
  private val appendBytes = collection.mutable.ArrayBuffer.empty[Double]
  private val appendPointBytes = collection.mutable.ArrayBuffer.empty[Double]
  private val generations = collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    Inputs.entities(spark, Inputs.pageBase(seed), basePages, parts)
      .write.parquet(s"$dir/base")
    IndexStore.build(spark, spark.read.parquet(s"$dir/base").as[PointRow],
      grid, root, groups)
  }

  private lazy val ingested = collection.mutable.ArrayBuffer.from(
    Inputs.entitiesLocal(Inputs.pageBase(seed), basePages))

  private def fs = new HPath(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def du(p: String): (Long, Long) = {
    val s = fs.getContentSummary(new HPath(p))
    (s.getLength, s.getFileCount)
  }

  def round(run: Runner): Unit = {
    (1 to stepsPerRound).foreach(_ => step(run))
    run.call("idx_compact", "write", ingested.length) {
      IndexStore.compact(spark, root, groups); ()
    } { _ =>
      val n = IndexStore.generationCount(spark, root)
      Option.when(n != 1)(s"$n generations after compaction")
    }
  }

  private def step(run: Runner): Unit = {
    gen += 1
    val batch = Inputs.entitiesLocal(
      Inputs.pageBase(seed) + basePages + (gen - 1) * batchPages, batchPages)
    val batchDs = spark.createDataset(batch.toSeq)
    val pts = ingested
    run.call("idx_append", "write", batch.length) {
      IndexStore.append(spark, batchDs, grid, root, gen, groups); ()
    }(_ => None)
    pts ++= batch
    appendBytes += du(s"$root/trees_g$gen")._1.toDouble
    appendPointBytes += batch.length * 24.0
    generations += IndexStore.generationCount(spark, root).toDouble

    Inputs.rangeBoxes(seed, s"range$gen", rangesPerStep).foreach { b =>
      run.call("idx_range", "join", 1) {
        IndexStore.rangeQuery(spark, root, grid, b._1, b._2, b._3, b._4)
          .as[(Long, Double, Double)].collect()
      } { rows =>
        val want = Oracles.inBox(pts, b)
        Option.when(rows.toSeq.sortBy(_._1) != want)(
          s"box $b: ${rows.length} rows, oracle ${want.length}")
      }
    }

    val qs = Inputs.queryPoints(seed, s"knn$gen", knnQueries)
    run.call("idx_knn", "knn", qs.length) {
      IndexStore.knnQuery(spark, root, grid, spark.createDataset(qs.toSeq), k)
        .select("qid", "id", "d2", "rn").as[(Long, Long, Double, Int)].collect()
    } { rows =>
      val got = rows.groupBy(_._1)
      qs.iterator.map { q =>
        (q.qid, got.getOrElse(q.qid, Array.empty).map(r => (r._2, r._3, r._4))
          .toSeq.sortBy(_._3), Oracles.knn(q, pts, k))
      }.collectFirst { case (q, g, o) if g != o => s"qid $q: $g, oracle $o" }
    }
  }

  /** A second base build from the same parquet, into its own root. */
  override def tracedExtras(run: Runner): Unit = {
    val base = spark.read.parquet(s"$dir/base").as[PointRow]
    val n = base.count()
    run.call("idx_build", "build", n) {
      IndexStore.build(spark, base, grid, s"$dir/store_traced", groups); ()
    }(_ => None)
  }

  override def storeFacts: Map[String, Double] = {
    val (bytes, files) = du(root)
    Map(
      "generations" -> Stats.median(generations.toSeq),
      "bytes" -> bytes.toDouble,
      "files" -> files.toDouble,
      "write_amp" -> appendBytes.sum / math.max(1.0, appendPointBytes.sum),
      "bytes_per_point" -> bytes.toDouble / math.max(1, ingested.length))
  }
}
