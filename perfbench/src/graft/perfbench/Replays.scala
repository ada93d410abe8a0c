package graft.perfbench

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.engine.{IndexStore, PointRow, RectRow}
import graft.functions.SpatialFunctions
import graft.geom.AABB
import graft.index.{CellGrid, Entry, LocalRTree, PointRTree2D}

/** Single-thread driver-side replays of the `graft.index` kernels and
  * `graft.functions` expressions over fixed layers and an entity sample,
  * timed from the benchmark's side of each call. Each timing is the
  * median of several repetitions.
  */
object Replays {
  private val Reps = 3

  private def medianNs(f: => Unit): Double =
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
    })

  private def serializedSize(o: AnyRef): Int = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(o)
    oos.close()
    bos.size()
  }

  def index(sample: Array[PointRow], tiles: Array[RectRow],
      pois: Array[PointRow]): Map[String, Double] = {
    val ids = pois.map(_.id); val xs = pois.map(_.x); val ys = pois.map(_.y)
    var pt: PointRTree2D = null
    val pointBuild = medianNs { pt = PointRTree2D.build(ids, xs, ys) }
    var sink = 0L
    val nn1 = medianNs {
      sample.foreach(p => pt.nearestK(p.x, p.y, 1, keepTies = true)((i, _) => sink += i))
    }
    val knn4 = medianNs {
      sample.foreach(p => pt.nearestK(p.x, p.y, 4, keepTies = true)((i, _) => sink += i))
    }
    val entries = tiles.map(t => Entry(AABB.of2d(t.minX, t.minY, t.maxX, t.maxY), t.id))
    var rt: LocalRTree[Long] = null
    val rectBuild = medianNs {
      rt = new LocalRTree[Long](2, 40, 1).bulkLoad(entries.clone())
    }
    var hits = 0L
    val boxProbe = medianNs {
      hits = 0L
      sample.foreach(p => rt.foreachIntersecting(AABB.of2d(p.x, p.y, p.x, p.y))(_ => hits += 1))
    }
    val bytes = IndexStore.treeBytes(pt)
    val deser = medianNs { sink += IndexStore.treeFrom(bytes).size }
    val n = sample.length.toDouble
    Map(
      "index.nn1_probe_ns" -> nn1 / n,
      "index.knn4_probe_ns" -> knn4 / n,
      "index.point_build_ns_row" -> pointBuild / pois.length,
      "index.box_probe_ns" -> boxProbe / n,
      "index.box_hits_per_probe" -> hits / n,
      "index.rect_build_ns_row" -> rectBuild / tiles.length,
      "index.point_tree_bytes" -> bytes.length.toDouble,
      "index.rect_tree_bytes" -> serializedSize(rt).toDouble,
      "index.tree_deser_ns_point" -> deser / pois.length)
  }

  /** `c` over columns `names` (all double), analyzed and compiled to an
    * UnsafeProjection: the same expression tree the program hands Spark.
    */
  private def compile(spark: SparkSession, names: Seq[String],
      c: Column): UnsafeProjection = {
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = false)))
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(c.as("out"))
    val p = df.queryExecution.analyzed.asInstanceOf[Project]
    val e = p.projectList.head.asInstanceOf[Alias].child
    UnsafeProjection.create(Seq(BindReferences.bindReference(e, p.child.output)))
  }

  def functions(spark: SparkSession, grid: CellGrid, sample: Array[PointRow],
      tiles: Array[RectRow]): Map[String, Double] = {
    val cell = compile(spark, Seq("x", "y"),
      SpatialFunctions.stCell(grid)(col("x"), col("y")))
    val pointRows: Array[InternalRow] =
      sample.map(p => new GenericInternalRow(Array[Any](p.x, p.y)))
    var sink = 0L
    val cellNs = medianNs(pointRows.foreach(r => sink += cell(r).getLong(0)))
    val cover = compile(spark, Seq("minX", "minY", "maxX", "maxY"),
      SpatialFunctions.stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY")))
    val rectRows: Array[InternalRow] = tiles.map(t =>
      new GenericInternalRow(Array[Any](t.minX, t.minY, t.maxX, t.maxY)))
    var cells = 0L
    val coverNs = medianNs {
      cells = 0L
      rectRows.foreach { r =>
        val a = cover(r).getArray(0)
        var i = 0
        while (i < a.numElements()) { sink += a.getLong(i); i += 1 }
        cells += a.numElements()
      }
    }
    Map(
      "functions.cell_assign_ns_row" -> cellNs / pointRows.length,
      "functions.cover_cells_per_row" -> cells.toDouble / rectRows.length,
      "functions.cover_explode_ns_row" -> coverNs / rectRows.length)
  }
}
