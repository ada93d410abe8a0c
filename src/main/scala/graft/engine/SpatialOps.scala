package graft.engine

import scala.reflect.ClassTag

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{
  DataType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.geom.AABB
import graft.index.{CellGrid, CellGridN, Entry, LocalRTree, PointRTree2D}
import graft.functions.SpatialFunctions._

/** Row shapes for the distributed index: narrow (id + geometry) on purpose —
  * payloads stay in their source tables and are joined back by id after the
  * spatial work, so shuffles move only what the spatial operators need.
  */
final case class PointRow(id: Long, x: Double, y: Double)
final case class RectRow(
    id: Long, minX: Double, minY: Double, maxX: Double, maxY: Double)
final case class QueryRow(qid: Long, x: Double, y: Double)
final case class CellStats(
    cell: Long, cnt: Long,
    minX: Double, minY: Double, maxX: Double, maxY: Double)

/** The distributed operators — each the Spark-first re-expression of a
  * reference entry point (SURVEY.md §2), built as declarative DataFrame /
  * typed Dataset plans so Catalyst handles pushdown, join selection, AQE
  * skew splitting; per-partition `LocalRTree`s add the intra-partition
  * pruning that rstar's tree levels provided.
  *
  * Scale notes (100 TB / 1000 executors):
  *   - the only driver-side state is the per-cell histogram (bounded by
  *     grid resolution, ≤ 4^res entries, collected from a groupBy — itself
  *     a map-side-combined shuffle);
  *   - joins are cell-equi-joins: Catalyst broadcasts the small side (query
  *     sets, tile layers) or sort-merges co-partitioned big sides; AQE
  *     splits hot cells (dense urban tiles) at runtime;
  *   - multi-cell geometries are exploded per cell and de-duplicated with
  *     the reference-point rule, so no global distinct is ever needed.
  */
object SpatialOps {

  // ------------------------------------------------------------ J1: join

  /** Pairwise intersection-candidates join, pure-DataFrame plan
    * (`intersection_candidates_with_other_tree`, rstar/src/rtree.rs:522-534):
    * explode both sides to covered cells, equi-join on cell, closed-interval
    * AABB intersect predicate, reference-point dedup. Catalyst plans the
    * equi-join (broadcast if a side is small; sort-merge + AQE skew split
    * otherwise).
    *
    * Inputs need columns (id, minX, minY, maxX, maxY); points pass
    * minX=maxX=x. Output: (lid, rid) candidate pairs, each exactly once.
    */
  def intersectionJoin(
      left: DataFrame, right: DataFrame, grid: CellGrid): DataFrame = {
    val l = left.select(
      col("id").as("lid"),
      col("minX").as("lminX"), col("minY").as("lminY"),
      col("maxX").as("lmaxX"), col("maxY").as("lmaxY"),
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"))
    val r = right.select(
      col("id").as("rid"),
      col("minX").as("rminX"), col("minY").as("rminY"),
      col("maxX").as("rmaxX"), col("maxY").as("rmaxY"),
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"))
    l.join(r, Seq("cell"))
      .where(stIntersectsBox(
        col("lminX"), col("lminY"), col("lmaxX"), col("lmaxY"),
        col("rminX"), col("rminY"), col("rmaxX"), col("rmaxY")))
      .where(stRefPointDedup(grid)(col("cell"),
        col("lminX"), col("lminY"), col("rminX"), col("rminY")))
      .select(col("lid"), col("rid"))
  }

  /** Upper bound for the bounded-layer broadcast contract: collecting more
    * than this many layer rows fails fast with an explicit contract
    * message instead of a driver OOM mid-collect. ~10 M entries ≈ 400 MB
    * of tree — the same order as Catalyst's own broadcast-join ceiling;
    * layers beyond it belong on the shuffle plans (intersectionJoin /
    * knnJoin), exactly as an oversized dimension table belongs in a
    * sort-merge join.
    */
  val MaxBroadcastLayerRows: Long = 10L * 1000 * 1000

  /** Collect at most `cap` rows in one job: each partition returns at most
    * `cap + 1` rows, and the result handler fails as soon as the running
    * total passes `cap`, so an over-cap input fails fast with the `overCap`
    * contract message (never a driver OOM mid-collect) and the collected
    * rows themselves are the result — the input's lineage executes exactly
    * once. (`limit(cap + 1).collect()` scans one partition first and then
    * the rest: two jobs.) An input planned as a local relation is already
    * on the driver and is collected with no job at all.
    */
  private[engine] def collectBounded[T](ds: Dataset[T], cap: Long)(
      overCap: => String): Array[T] = {
    val rows = ds.queryExecution.executedPlan match {
      case _: LocalTableScanExec => ds.collect()
      case _ =>
        implicit val ct: ClassTag[T] = ds.encoder.clsTag
        val rdd = ds.rdd
        val parts = new Array[Array[T]](rdd.partitions.length)
        var total = 0L
        try ds.sparkSession.sparkContext.runJob(rdd,
          (it: Iterator[T]) => it.take(cap.toInt + 1).toArray,
          (i: Int, part: Array[T]) => {
            total += part.length
            require(total <= cap, overCap)
            parts(i) = part
          })
        catch { case e: SparkException if total > cap => throw e.getCause }
        parts.flatten
    }
    require(rows.length <= cap, overCap)
    rows
  }

  /** A broadcast join's layer, collected under [[MaxBroadcastLayerRows]]. */
  private def collectLayer[T](ds: Dataset[T], op: String): Array[T] =
    collectBounded(ds, MaxBroadcastLayerRows)(
      s"$op: layer exceeds $MaxBroadcastLayerRows rows — the broadcast " +
        "path is for BOUNDED layers only; use the grid shuffle plan for " +
        "layers this size")

  /** The schema of an RDD of fixed-width UnsafeRows: no column is null. */
  private def primitiveSchema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t, nullable = false) })

  /** Intersection join against a BOUNDED right side: broadcast ONE
    * `LocalRTree` of the whole layer and probe it per left row inside
    * `mapPartitions` — zero shuffle of the (arbitrarily large) left side,
    * the J1 sibling of [[knnJoinBroadcast]] and the plan a deployment
    * uses whenever the layer fits an executor. Point-shaped left rows
    * (minX==maxX, minY==maxY) take the `locateAllAtPoint` fast path; true
    * rects use the envelope-intersecting query. Same closed-interval
    * semantics as [[intersectionJoin]], and each qualifying pair is
    * emitted exactly once (no grid copies, so no reference-point dedup
    * is needed) — output row set identical.
    */
  def intersectionJoinBroadcast(left: DataFrame, right: DataFrame): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val rects = collectLayer(
      right.select("id", "minX", "minY", "maxX", "maxY")
        .as[(Long, Double, Double, Double, Double)],
      "intersectionJoinBroadcast")
    val entries = rects.map { case (id, x0, y0, x1, y1) =>
      Entry(AABB.of2d(x0, y0, x1, y1), id)
    }
    // Lifetime: as CellHistogram.broadcast's — the result's lazy plan holds
    // it, so ContextCleaner frees it once that plan is unreferenced.
    val treeB = spark.sparkContext.broadcast(
      new LocalRTree[Long](2, 40, 1).bulkLoad(entries))
    val l = left.select("id", "minX", "minY", "maxX", "maxY")
    // HOT PATH (the bench headline probes this per entity row): the probe
    // is the push-based SoA walk (foreachIntersecting — no selection
    // iterator, no per-probe stack; a degenerate [x,x]×[y,y] box makes it
    // exactly locateAllAtPoint under closed intervals), hit ids land in a
    // reusable growable long array, and output rows are written straight
    // to one reused UnsafeRow — no Scala tuples, no Dataset encoder. Pair
    // set unchanged (spec-pinned against intersectionJoin row for row).
    val schema = primitiveSchema("lid" -> LongType, "rid" -> LongType)
    val rdd = l.queryExecution.toRdd.mapPartitions { it =>
      val t = treeB.value
      new Iterator[InternalRow] {
        private val writer = new UnsafeRowWriter(2)
        private var ids = new Array[Long](64)
        private var n = 0
        private var pos = 0
        private var lid = 0L
        private val collect: Entry[Long] => Unit = { e =>
          if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
          ids(n) = e.value; n += 1
        }
        private def fill(): Unit =
          while (pos >= n && it.hasNext) {
            val r = it.next()
            lid = r.getLong(0)
            val x0 = r.getDouble(1); val y0 = r.getDouble(2)
            val x1 = r.getDouble(3); val y1 = r.getDouble(4)
            n = 0; pos = 0
            t.foreachIntersecting(AABB.of2d(x0, y0, x1, y1))(collect)
          }
        override def hasNext: Boolean = { fill(); pos < n }
        override def next(): InternalRow = {
          fill()
          // reset() rewinds the cursor to the row start (fixed-width-only
          // row: null bits stay zeroed from construction)
          writer.reset()
          writer.write(0, lid)
          writer.write(1, ids(pos))
          pos += 1
          writer.getRow
        }
      }
    }
    ColumnShim.internalDf(spark, rdd, schema)
  }

  // ------------------------------------------------------------ kNN join

  /** 1-NN join against a BOUNDED static layer: broadcast one packed
    * [[graft.index.PointRTree2D]] of the whole layer and probe it inside
    * `mapPartitions` over the query side's InternalRows — ZERO shuffle of
    * the (arbitrarily large) query stream, the batch sibling of
    * [[graft.streaming.StreamOps.nnStream]] and the plan a 100 TB
    * deployment uses whenever the layer fits an executor (the
    * BroadcastHashJoin of kNN; [[knnJoin]] is the shuffle path for layers
    * that don't). `k` must be 1; [[knnJoinTrees]] is the k-NN join. Output
    * (qid, id, d2, rn = 1) is bit-identical to [[knnJoin]] with k = 1: the
    * nearest by (d2, id), the window path's exact tiebreak. Distances
    * agree bit-for-bit: squaring a clamped |dx| equals squaring the signed
    * dx (IEEE negation is exact).
    */
  def knnJoinBroadcast(
      queries: Dataset[QueryRow], data: Dataset[PointRow], k: Int): DataFrame = {
    require(k == 1, s"knnJoinBroadcast answers 1-NN only (k = $k); " +
      "knnJoinTrees is the k-NN join")
    val spark = queries.sparkSession
    // bounded-layer contract: the caller asserts the layer fits in memory
    // (the 100 TB analog broadcasts exactly this much) — guarded so misuse
    // fails fast with the contract message, not a driver OOM mid-collect
    val pts = collectLayer(data, "knnJoinBroadcast")
    // Lifetime: as CellHistogram.broadcast's — the result's lazy plan holds
    // it, so ContextCleaner frees it once that plan is unreferenced.
    val treeB = spark.sparkContext.broadcast(graft.index.PointRTree2D.build(
      pts.map(_.id), pts.map(_.x), pts.map(_.y)))
    val q = queries.toDF().select("qid", "x", "y")
    // HOT PATH (the bench headline's 1-NN leg, one probe per entity row):
    // the tree emits every point tied at the minimum, and "minimum by
    // (d2, id)" is tracked in two locals inside the callback — no buffer,
    // no sort, no tuples — and each output row is written straight to one
    // reused UnsafeRow (no Dataset encoder). Double.compare is the
    // window's total order bit-for-bit (NaN last, -0.0 < 0.0). Output row
    // set and schema spec-pinned against knnJoin k=1 row for row.
    val schema = primitiveSchema("qid" -> LongType, "id" -> LongType,
      "d2" -> DoubleType, "rn" -> IntegerType)
    val rdd = q.queryExecution.toRdd.mapPartitions { it =>
      val t = treeB.value
      new Iterator[InternalRow] {
        private val writer = new UnsafeRowWriter(4)
        private var found = false
        private var bestId = 0L
        private var bestD2 = 0.0
        private var qid = 0L
        private val track: (Int, Double) => Unit = { (p, d2) =>
          val id = t.ids(p)
          val c = java.lang.Double.compare(d2, bestD2)
          if (!found || c < 0 || (c == 0 && id < bestId)) {
            bestD2 = d2; bestId = id; found = true
          }
        }
        private def fill(): Unit =
          while (!found && it.hasNext) {
            val r = it.next()
            qid = r.getLong(0)
            t.nearestK(r.getDouble(1), r.getDouble(2), 1, keepTies = true)(track)
          }
        override def hasNext: Boolean = { fill(); found }
        override def next(): InternalRow = {
          fill()
          // reset() rewinds the cursor to the row start (fixed-width-only
          // row: null bits stay zeroed from construction)
          writer.reset()
          writer.write(0, qid)
          writer.write(1, bestId)
          writer.write(2, bestD2)
          writer.write(3, 1)
          found = false
          writer.getRow
        }
      }
    }
    ColumnShim.internalDf(spark, rdd, schema)
  }

  /** The two passes of [[CellHistogram]], shared by every grid kNN
    * operator, which supplies only its histogram, its probe and its cut;
    * the grid supplies the passes' cells ([[KnnGrid]]). `queries` rows are
    * qid followed by the grid's point columns, any names. `probe` maps
    * (cell, qid, point) candidates to (qid, hit, d2, point) hits — it
    * echoes the query point, so no pass joins back to the queries; `cut`
    * keeps each query's best hits, at most k of them plus ties, and may add
    * columns. Pass A's cut bounds d_up, the largest kept d2 per query; pass
    * B's cut over the d_up ball cover is the result.
    */
  private[engine] def twoPassKnn[G](queries: DataFrame, hist: CellHistogram,
      grid: G, k: Int)(
      probe: DataFrame => DataFrame, cut: DataFrame => DataFrame)(
      implicit knn: KnnGrid[G]): DataFrame = {
    val qid +: point = queries.columns.toSeq
    val dUp = cut(probe(knn.ringCandidates(grid, hist, k)(queries)))
      .groupBy(qid).agg(max("d2").as("dUp"), point.map(c => first(c).as(c)): _*)
    cut(probe(knn.ballCover(grid)(dUp)))
  }

  /** The point operators' cut: each query's top k in (d2, id) order, or
    * every hit ranked ≤ k by d2 when `keepTies` (the co-equal tie-set
    * semantics of `nearest_neighbors`, K3, rstar/src/rtree.rs:977-1043).
    * Adds rn (int).
    */
  private[engine] def pointCut(k: Int, keepTies: Boolean)(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid")
    hits.withColumn("rn",
      if (keepTies) rank().over(w.orderBy(col("d2")))
      else row_number().over(w.orderBy(col("d2"), col("id"))))
      .where(col("rn") <= k)
  }

  /** Distributed kNN join (batch form of `nearest_neighbor` /
    * `nearest_neighbor_iter`, rstar/src/rtree.rs:940-943, :1094-1099), in
    * the two provably-complete passes of [[twoPassKnn]] (SURVEY.md §3.3).
    * Both probes are cell equi-joins (query-cells side is small →
    * Catalyst broadcasts it; the data side never moves). Result: (qid, id,
    * d2, rn), rn ∈ [1, k], ordered by (d2, id) — the deterministic total
    * tiebreak SURVEY §7.4 requires for oracle agreement. `keepTies`
    * switches the cut to `rank()` ([[pointCut]]).
    *
    * The per-cell probe is pure Catalyst — `WindowGroupLimit` pushes the
    * top-k below the shuffle (a bounded per-partition heap), so the in-cell
    * candidate blowup never crosses the wire and the whole path stays in
    * Tungsten codegen. It beats the tree-probe variant until cells hold
    * thousands of points (object churn); [[knnJoinTrees]] is the dense-cell
    * alternative.
    */
  def knnJoin(
      queries: Dataset[QueryRow], data: Dataset[PointRow], k: Int,
      grid: CellGrid, keepTies: Boolean = false): DataFrame = {
    val dataCelled = data
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
    twoPassKnn(queries.select(col("qid"), col("x").as("qx"), col("y").as("qy")),
      CellHistogram.collect(dataCelled.select("cell")), grid, k)(
      _.join(dataCelled, Seq("cell")).select(col("qid"), col("id"),
        stDistanceSq(col("x"), col("y"), col("qx"), col("qy")).as("d2"),
        col("qx"), col("qy")),
      pointCut(k, keepTies))
      .select(col("qid"), col("id"), col("d2"), col("rn"))
  }

  // ------------------------------------------------- cell-run cogroup

  /** One cell run's index, probed once per candidate query point: `emit`
    * receives each hit's (id, d2).
    */
  private trait RunIndex {
    def probe(qx: Double, qy: Double, emit: (Long, Double) => Unit): Unit
  }

  private def shufflePartitions(df: Dataset[_]): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** A cell-keyed layer in the layout [[probeCellRuns]] zips against:
    * hash-partitioned by its leading `cell` column and sorted by cell
    * within each partition. The eager localCheckpoint pins that physical
    * layout, so both probe passes reuse one shuffle of the big side; its
    * blocks are reclaimed by the ContextCleaner with the returned plan.
    */
  private def cellSorted(df: DataFrame): RDD[InternalRow] =
    df.repartition(shufflePartitions(df), col("cell"))
      .sortWithinPartitions("cell").localCheckpoint(true).queryExecution.toRdd

  /** The co-partitioned InternalRow probe under the fused kNN joins — the
    * "columnar exec" for per-cell index probes. `cand` rows are (cell,
    * qid, qx, qy), any names; `data` rows are (cell, id, `width` doubles)
    * in the [[cellSorted]] layout. `cand` is given the same partitioning
    * and order through the DataFrame API (so Catalyst plans the shuffle),
    * which makes `zipPartitions` a merge-cogroup over the sorted cell runs:
    * each run is read once into primitive columns, `build` turns it into a
    * [[RunIndex]], and every candidate query of that cell probes it.
    * Neither side meets a Dataset encoder; hits are written straight to one
    * reused UnsafeRow. Output: (qid, `hitId`, d2, qx, qy), under `cand`'s
    * names — the probe echoes each query's point, so a pass can derive its
    * radius bound without re-joining the candidates.
    */
  private def probeCellRuns(cand: DataFrame, data: RDD[InternalRow],
      width: Int, hitId: String)(
      build: (Array[Long], Array[Array[Double]]) => RunIndex): DataFrame = {
    val Array(_, qidName, xName, yName) = cand.columns
    val sorted = cand.repartition(shufflePartitions(cand), col("cell"))
      .sortWithinPartitions("cell")
    val rdd = sorted.queryExecution.toRdd.zipPartitions(data) { (qit, dit) =>
      new Iterator[InternalRow] {
        // Primitive one-row look-ahead on the data side: the shuffle reader
        // reuses its UnsafeRow, so fields are read before it advances.
        private var pending = false
        private var pCell = 0L
        private var pId = 0L
        private val pVals = new Array[Double](width)
        private def advance(): Unit =
          if (dit.hasNext) {
            val r = dit.next()
            pCell = r.getLong(0); pId = r.getLong(1)
            var j = 0
            while (j < width) { pVals(j) = r.getDouble(2 + j); j += 1 }
            pending = true
          } else pending = false
        advance()

        // the index of cell `runCell`; null when the data holds none
        private var runCell = Long.MinValue
        private var index: RunIndex = null
        private def loadRun(cell: Long): Unit = {
          while (pending && pCell < cell) advance()
          runCell = cell
          index = null
          if (pending && pCell == cell) {
            val ids = Array.newBuilder[Long]
            val cols = Array.fill(width)(Array.newBuilder[Double])
            while (pending && pCell == cell) {
              ids += pId
              var j = 0
              while (j < width) { cols(j) += pVals(j); j += 1 }
              advance()
            }
            index = build(ids.result(), cols.map(_.result()))
          }
        }

        // the current query and its hits
        private val writer = new UnsafeRowWriter(5)
        private var qid = 0L
        private var qx = 0.0
        private var qy = 0.0
        private var hitIds = new Array[Long](64)
        private var hitD2 = new Array[Double](64)
        private var n = 0
        private var pos = 0
        private val emit: (Long, Double) => Unit = { (id, d2) =>
          if (n == hitIds.length) {
            hitIds = java.util.Arrays.copyOf(hitIds, 2 * n)
            hitD2 = java.util.Arrays.copyOf(hitD2, 2 * n)
          }
          hitIds(n) = id; hitD2(n) = d2; n += 1
        }
        private def fill(): Unit =
          while (pos >= n && qit.hasNext) {
            val r = qit.next()
            val cell = r.getLong(0)
            qid = r.getLong(1); qx = r.getDouble(2); qy = r.getDouble(3)
            n = 0; pos = 0
            if (cell != runCell) loadRun(cell)
            if (index != null) index.probe(qx, qy, emit)
          }
        override def hasNext: Boolean = { fill(); pos < n }
        override def next(): InternalRow = {
          fill()
          // fixed-width row: reset() rewinds, null bits stay zero
          writer.reset()
          writer.write(0, qid); writer.write(1, hitIds(pos))
          writer.write(2, hitD2(pos))
          writer.write(3, qx); writer.write(4, qy)
          pos += 1
          writer.getRow
        }
      }
    }
    val schema = primitiveSchema(qidName -> LongType, hitId -> LongType,
      "d2" -> DoubleType, xName -> DoubleType, yName -> DoubleType)
    ColumnShim.internalDf(cand.sparkSession, rdd, schema)
  }

  /** Tree-probe kNN join for dense cells: co-partition queries and data by
    * cell, bulk-load a per-cell packed tree, emit each query's top-k via
    * the best-first descent — O(log n) per neighbor instead of streaming
    * the whole in-cell candidate set through the window operator. The
    * probe runs on InternalRows ([[probeCellRuns]]); round 1's typed
    * cogroup lost its probe-rate advantage to Dataset ser/deser. Passes
    * and cut as [[knnJoin]]'s ([[twoPassKnn]], [[pointCut]]); the data
    * side is shuffled once for both passes ([[cellSorted]]).
    */
  def knnJoinTrees(
      queries: Dataset[QueryRow], data: Dataset[PointRow], k: Int,
      grid: CellGrid, keepTies: Boolean = false): DataFrame = {
    val dataCelled = data
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
      .select("cell", "id", "x", "y")
    val dataRdd = cellSorted(dataCelled)
    // Per-cell top-k extended through float-exact ties at the k-th
    // distance, so the (d2, id) cut never loses a lower-id point the
    // heap's arbitrary tie order dropped.
    twoPassKnn(queries.select(col("qid"), col("x").as("qx"), col("y").as("qy")),
      CellHistogram.collect(dataCelled.select("cell")), grid, k)(
      probeCellRuns(_, dataRdd, 2, "id") { (ids, c) =>
        val t = PointRTree2D.build(ids, c(0), c(1))
        (qx, qy, emit) =>
          t.nearestK(qx, qy, k, keepTies = true)((p, d2) => emit(t.ids(p), d2))
      },
      pointCut(k, keepTies))
      .select(col("qid"), col("id"), col("d2"), col("rn"))
  }

  // -------------------------------------------- G14 at scale: line layers

  /** Nearest-segment distance join for a LARGE line layer (G14
    * distributed; `Line::distance_2`, rstar/src/primitives/line.rs:71-113):
    * [[twoPassKnn]] with k = 1 and a min-d2-per-point cut, segments
    * registered in every cell their envelope covers, so no broadcast and no
    * crossJoin — both sides meet only on cell keys. The pass-A histogram
    * counts registrations, which is enough to guarantee one candidate; a
    * segment within d_up of the point passes through the disc, so its
    * envelope covers a pass-B cell and the min over pass B is exact.
    *
    * `lines` needs columns (lid, x1, y1, x2, y2); output (id, min_d2) with
    * the distance arithmetic in the exact IEEE order of
    * SpatialFunctions.stLineDistanceSq (oracle parity).
    */
  def lineNearestJoin(points: Dataset[PointRow], lines: DataFrame,
      grid: CellGrid): DataFrame = {
    val lineCelled = lines.select(
      col("lid"), col("x1"), col("y1"), col("x2"), col("y2"),
      explode(stCoverCells(grid)(
        least(col("x1"), col("x2")), least(col("y1"), col("y2")),
        greatest(col("x1"), col("x2")), greatest(col("y1"), col("y2"))))
        .as("cell"))
    twoPassKnn(points.select(col("id"), col("x").as("px"), col("y").as("py")),
      CellHistogram.collect(lineCelled.select("cell")), grid, 1)(
      _.join(lineCelled, Seq("cell")).select(col("id"), col("lid"),
        stLineDistanceSq(col("x1"), col("y1"), col("x2"), col("y2"),
          col("px"), col("py")).as("d2"),
        col("px"), col("py")),
      _.groupBy("id").agg(min("d2").as("d2"),
        first("px").as("px"), first("py").as("py")))
      .select(col("id"), col("d2").as("min_d2"))
  }

  /** Top-k per `id` in (d2, gid) order, counting each (id, gid) pair once.
    * Copies of a pair (a geometry registered in several probed cells)
    * carry bit-identical d2, since d2 is a pure function of the pair, so
    * in that order they are ADJACENT: this dedup rides the window's own
    * exchange + sort, where dropDuplicates paid a second full shuffle.
    * Adds rn (int).
    */
  private def distinctTopK(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("d2"), col("gid"))
    hits.withColumn("pg", lag("gid", 1).over(w))
      .where(col("pg").isNull || col("pg") =!= col("gid"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** The envelope-layer kNN joins' [[twoPassKnn]]. Multi-cell geometries
    * are cover-registered, so a candidate probe finds them from any
    * overlapped cell, but the ring-pass histogram counts each geometry
    * ONCE, at its envelope's lower-corner reference cell. Counting
    * registrations instead would overcount a spanning geometry and stop
    * the expansion before k DISTINCT candidates are guaranteed — a
    * correctness bug, not a tuning choice. Cells holding ≥ k reference
    * corners hold ≥ k distinct geometries, since each geometry's cover
    * includes its reference cell; and a geometry within d_up intersects
    * the disc, so its envelope shares a cell with the disc's cover.
    *
    * `probe` maps (cell, id, px, py) candidates to (id, gid, d2, px, py)
    * hits, in which an (id, gid) pair may repeat; the cut is
    * [[distinctTopK]]. Output: (id, gid, d2, rn), rn a long in [1, k],
    * ordered by (d2, gid).
    */
  private def envelopeKnn(points: Dataset[PointRow], geoms: DataFrame, k: Int,
      grid: CellGrid)(probe: DataFrame => DataFrame): DataFrame =
    twoPassKnn(points.select(col("id"), col("x").as("px"), col("y").as("py")),
      CellHistogram.collect(geoms.select(stCell(grid)(col("minX"), col("minY")))),
      grid, k)(probe, distinctTopK(_, k))
      .select(col("id"), col("gid"), col("d2"), col("rn").cast("long").as("rn"))

  /** k nearest GEOMETRIES per point, for any layer registered by envelope
    * — rectangles, segments, or any shape with an exact point-distance
    * column (the reference's NN works over any `PointDistance` object,
    * rstar/src/rtree.rs:940-975, rectangle.rs:79-111, line.rs:71-113; this
    * is that generality at the distributed tier, where [[knnJoin]] covers
    * the point-layer fast path). Candidates meet the layer in a cell
    * equi-join ([[envelopeKnn]] has the two passes).
    *
    * `geoms` needs (gid, minX, minY, maxX, maxY, *payload columns);
    * `d2Expr` computes the exact squared point-geometry distance from the
    * payload columns plus (px, py). Output: (id, gid, d2, rn), rn ∈ [1,k]
    * ordered by (d2, gid) — the deterministic tiebreak the oracles pin.
    */
  def knnEnvelopeJoin(points: Dataset[PointRow], geoms: DataFrame,
      d2Expr: Column, k: Int, grid: CellGrid): DataFrame = {
    val celled = geoms.withColumn("cell",
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))))
    envelopeKnn(points, geoms, k, grid)(_.join(celled, Seq("cell"))
      .select(col("id"), col("gid"), d2Expr.as("d2"), col("px"), col("py")))
  }

  /** Fused-probe variant of [[knnEnvelopeJoin]] for RECTANGLE layers (the
    * metric IS the envelope distance, so per-cell `LocalRTree`s of rect
    * entries answer it exactly — segment layers keep their own refinement,
    * [[knnSegJoinTrees]]). Each cell run bulk-loads a `LocalRTree[Long]`
    * whose frozen SoA mirror serves distance-ordered probes; per query it
    * emits the k nearest by EXACT box distance (`AABB.distance2` clamps
    * then squares in the same IEEE order as `stBoxDistanceSq`, so values
    * are oracle-identical) EXTENDED through float-exact ties at the k-th
    * distance — the (d2, gid) window cut then never loses a lower-gid tie
    * the heap's arbitrary order dropped. Output identical to
    * [[knnEnvelopeJoin]] with the box metric, row for row.
    */
  def knnRectJoinTrees(points: Dataset[PointRow], rects: DataFrame,
      k: Int, grid: CellGrid): DataFrame = {
    val rectRdd = cellSorted(rects.select(
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"),
      col("gid"), col("minX"), col("minY"), col("maxX"), col("maxY")))
    envelopeKnn(points, rects, k, grid)(probeCellRuns(_, rectRdd, 4, "gid") {
      (gids, c) =>
        val t = new LocalRTree[Long](2, 40, 1).bulkLoad(Array.tabulate(gids.length)(i =>
          Entry(AABB.of2d(c(0)(i), c(1)(i), c(2)(i), c(3)(i)), gids(i))))
        (qx, qy, emit) => {
          val it = t.nearestNeighborIter(Array(qx, qy))
          var got = 0
          var kth = Double.MaxValue
          var done = false
          while (!done && it.hasNext) {
            val (e, dd) = it.next()
            if (got < k) {
              emit(e.value, dd)
              got += 1
              if (got == k) kth = dd
            } else if (dd == kth) emit(e.value, dd) // float-exact tie extension
            else done = true
          }
        }
    })
  }

  /** Scala twin of `SpatialFunctions.stLineDistanceSq` — the SAME ops in
    * the SAME textual order (project, clamp, displace, square-sum), so the
    * fused segment probe produces bit-identical doubles to the Column plan
    * and its SQL oracle. NOT `LineObj.distance2`: that returns an endpoint
    * VERBATIM when the clamp saturates, where this form computes
    * `x1 + 1.0·dx` — a different rounding of the same point; oracle parity
    * requires the column form's arithmetic. Degenerate (zero-length)
    * segments divide by zero like the column does — layers are
    * non-degenerate by construction (ANSI Spark would have errored).
    */
  def segDistanceSq(x1: Double, y1: Double, x2: Double, y2: Double,
      px: Double, py: Double): Double = {
    val dx = x2 - x1
    val dy = y2 - y1
    val len2 = dx * dx + dy * dy
    val t = ((px - x1) * dx + (py - y1) * dy) / len2
    val tc = math.min(1.0, math.max(0.0, t))
    val nx = x1 + tc * dx
    val ny = y1 + tc * dy
    (px - nx) * (px - nx) + (py - ny) * (py - ny)
  }

  /** Fused-probe variant of [[knnEnvelopeJoin]] for SEGMENT layers — the
    * sibling of [[knnRectJoinTrees]] where the ranking metric (true
    * point-segment distance, rstar/src/primitives/line.rs:71-113) is NOT
    * the tree's envelope metric. Each cell run bulk-loads a `LocalRTree`
    * of segment ENVELOPES (values index the run's coordinate columns); its
    * distance-ordered envelope iterator yields candidates by box distance
    * — a LOWER BOUND of the segment distance — and the probe refines each
    * candidate to its exact [[segDistanceSq]], stopping once the next
    * envelope distance strictly exceeds the current k-th exact distance
    * (any unvisited segment then has seg-d2 ≥ box-d2 > k-th, so it can
    * neither enter the top k nor tie at the k-th — the classic
    * lower-bound-pruned NN argument, exact). Emits ≤ k rows per
    * (query, cell) plus float-exact ties at the k-th distance; the same
    * two passes, dedup and (d2, gid) window as the generic join make the
    * output identical row for row.
    *
    * `segs` needs (gid, x1, y1, x2, y2, minX, minY, maxX, maxY).
    */
  def knnSegJoinTrees(points: Dataset[PointRow], segs: DataFrame,
      k: Int, grid: CellGrid): DataFrame = {
    val segRdd = cellSorted(segs.select(
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"),
      col("gid"), col("x1"), col("y1"), col("x2"), col("y2")))
    envelopeKnn(points, segs, k, grid)(probeCellRuns(_, segRdd, 4, "gid") {
      (gids, c) =>
        val Array(xs1, ys1, xs2, ys2) = c
        val t = new LocalRTree[Long](2, 40, 1).bulkLoad(Array.tabulate(gids.length)(i =>
          Entry(AABB.of2d(
            math.min(xs1(i), xs2(i)), math.min(ys1(i), ys2(i)),
            math.max(xs1(i), xs2(i)), math.max(ys1(i), ys2(i))), i.toLong)))
        (qx, qy, emit) => {
          val it = t.nearestNeighborIter(Array(qx, qy))
          // size-k max-heap of exact distances: peek = current k-th
          val heap = new java.util.PriorityQueue[java.lang.Double](
            k, java.util.Collections.reverseOrder())
          val evald = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          var done = false
          while (!done && it.hasNext) {
            val (e, boxD2) = it.next() // ascending envelope distance
            if (heap.size == k && boxD2 > heap.peek()) done = true
            else {
              val i = e.value.toInt
              val d2 = segDistanceSq(xs1(i), ys1(i), xs2(i), ys2(i), qx, qy)
              evald += ((gids(i), d2))
              if (heap.size < k) heap.add(d2)
              else if (d2 < heap.peek()) { heap.poll(); heap.add(d2) }
            }
          }
          val kth: Double = if (heap.size == k) heap.peek() else Double.MaxValue
          evald.foreach { case (g, d) => if (d <= kth) emit(g, d) }
        }
    })
  }

  /** Distributed kNN join in d DIMENSIONS over [[graft.index.CellGridN]] —
    * the n-dim tier (reference points are n-dimensional,
    * rstar/src/point.rs:158-179; the 2-D [[knnJoin]] remains the web-geo
    * fast path), in the [[twoPassKnn]] passes over Chebyshev shells and
    * the d_up ball's bounding box. It supplies a cell equi-join probe with
    * the SQL twin's left-fold d2 and [[knnJoin]]'s (d2, id) cut; a point
    * lives in one cell and a pass's cells are distinct, so no (qid, id)
    * pair repeats. Rows: (id, p: Array[Double]); output (qid, id, d2, rn),
    * rn a long in [1, k].
    */
  def knnJoinNd(
      queries: Dataset[(Long, Array[Double])],
      data: Dataset[(Long, Array[Double])],
      k: Int, grid: CellGridN): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dataCelled = data.map(r => (grid.cellId(r._2), r._1, r._2))
      .toDF("cell", "id", "p")
    val d2 = aggregate(
      zip_with(col("p"), col("qp"), (a, b) => (a - b) * (a - b)),
      lit(0.0d), (acc, x) => acc + x)
    twoPassKnn(queries.toDF("qid", "qp"),
      CellHistogram.collect(dataCelled.select("cell")), grid, k)(
      _.join(dataCelled, Seq("cell"))
        .select(col("qid"), col("id"), d2.as("d2"), col("qp")),
      pointCut(k, keepTies = false))
      .select(col("qid"), col("id"), col("d2"), col("rn").cast("long").as("rn"))
  }

  // --------------------------------------------------- selections as scans

  /** F1 `locate_in_envelope`: full containment — a pure conjunctive range
    * predicate; Catalyst pushes it to the Parquet scan (min/max row-group
    * skipping = the reference's envelope pruning for free).
    */
  def rangeContained(df: DataFrame, q: AABB): DataFrame =
    df.where(stContainsBox(
      lit(q.lower(0)), lit(q.lower(1)), lit(q.upper(0)), lit(q.upper(1)),
      col("minX"), col("minY"), col("maxX"), col("maxY")))

  /** F2 `locate_in_envelope_intersecting`: closed-interval overlap. */
  def rangeIntersecting(df: DataFrame, q: AABB): DataFrame =
    df.where(stIntersectsBox(
      col("minX"), col("minY"), col("maxX"), col("maxY"),
      lit(q.lower(0)), lit(q.lower(1)), lit(q.upper(0)), lit(q.upper(1))))

  /** F3 `locate_all_at_point` over a rectangle layer. */
  def locateAllAtPoint(df: DataFrame, px: Double, py: Double): DataFrame =
    df.where(stContainsPoint(
      col("minX"), col("minY"), col("maxX"), col("maxY"),
      lit(px), lit(py)))

  /** F4 `locate_within_distance` over a point table. */
  def withinDistance(df: DataFrame, px: Double, py: Double, r2: Double): DataFrame =
    df.withColumn("d2",
      stDistanceSq(col("x"), col("y"), lit(px), lit(py)))
      .where(col("d2") <= r2)

  /** C4 (R* insert) at the distributed tier: append a micro-batch into an
    * existing bulk-loaded layer by rebuilding only the TOUCHED cells —
    * each touched cell bulk-loads its base slice (OMT) and then runs the
    * REAL R* insertion per batch point (choose-subtree by minimum overlap
    * enlargement, forced reinsertion on first overflow — `LocalRTree
    * .insert`, the reference's bulk-then-insert shape, rstar/src/rtree.rs
    * :1307-1371) — then answers a range query over the merged index.
    *
    * Scale shape: the per-cell merge is the standard micro-batch append
    * for a partitioned index (SURVEY §2.1 C4) — cells untouched by the
    * batch never rebuild, and here the query box prunes BOTH sides to its
    * covered cells before the single shuffle, so the job's cost is
    * O(touched ∩ covered cells), not O(index).
    *
    * Output: (id, x, y) — every base ∪ batch point in `q`, each exactly
    * once (a point belongs to exactly one cell).
    */
  def insertAppendRange(base: Dataset[PointRow], batch: Dataset[PointRow],
      grid: CellGrid, q: AABB): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val cover = grid.cover(q).toSet
    // Lifetime: as CellHistogram.broadcast's — the result's lazy plan holds
    // it, so ContextCleaner frees it once that plan is unreferenced.
    val coverB = spark.sparkContext.broadcast(cover)
    val tagged = base.map(p => (grid.cellId(p.x, p.y), p.id, p.x, p.y, false))
      .union(batch.map(p => (grid.cellId(p.x, p.y), p.id, p.x, p.y, true)))
      .filter(r => coverB.value.contains(r._1))
    tagged
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        import scala.collection.mutable
        val baseEntries = mutable.ArrayBuffer.empty[Entry[PointRow]]
        val batchPts = mutable.ArrayBuffer.empty[PointRow]
        it.foreach { case (_, id, x, y, isBatch) =>
          if (isBatch) batchPts += PointRow(id, x, y)
          else baseEntries += Entry(AABB.of2d(x, y, x, y), PointRow(id, x, y))
        }
        val tree = new LocalRTree[PointRow](2, 40, 1)
          .bulkLoad(baseEntries.toArray)
        // deterministic insert order (id-ascending): the R* reinsertion
        // cascade is order-dependent structurally; the query RESULT is a
        // set either way, but determinism keeps reruns bit-stable
        batchPts.sortInPlaceBy(_.id).foreach { p =>
          tree.insert(Entry(AABB.of2d(p.x, p.y, p.x, p.y), p))
        }
        tree.queryIntersecting(q).map(e => (e.value.id, e.value.x, e.value.y))
      }
      .toDF("id", "x", "y")
  }

  // ------------------------------------------------- point-in-polygon join

  /** Point-in-POLYGON join (north-rule PIP over real polygons, not just
    * envelope rectangles): the polygon layer (fixed 8-vertex columns,
    * TpchGeo.polygons) is envelope-exploded to its covered cells, points
    * carry their single cell, and the exact unrolled ray-cast predicate
    * (stPointInPolygon8 — pure codegen'd arithmetic) runs only on
    * cell-cohabiting pairs. A point lives in exactly one cell, so each
    * (point, polygon) pair is tested at most once — no reference-point
    * dedup needed. Output: (id, pid).
    */
  def pipJoin(points: DataFrame, polys: DataFrame,
      grid: CellGrid): DataFrame = {
    val pxs = (1 to 8).map(i => col(s"px$i"))
    val pys = (1 to 8).map(i => col(s"py$i"))
    val polyCelled = polys
      .select(col("id").as("pid") +: (pxs ++ pys): _*)
      .withColumn("cell", explode(stCoverCells(grid)(
        least(pxs: _*), least(pys: _*), greatest(pxs: _*), greatest(pys: _*))))
    points
      .select(col("id"), col("x"), col("y"),
        stCell(grid)(col("x"), col("y")).as("cell"))
      .join(polyCelled, Seq("cell"))
      .where(stPointInPolygon8(pxs, pys, col("x"), col("y")))
      .select(col("id"), col("pid"))
  }

  /** [[pipJoin]] generalized to VARIABLE-vertex polygons carried as array
    * columns (pxs, pys): same cell-cover equi-join shape — envelope from
    * array_min/array_max, points carry their single cell, each pair
    * tested at most once — with the general n-vertex ray-cast
    * (stPointInPolygonN) instead of the unrolled octagon predicate.
    * Output: (id, pid).
    */
  def pipJoinPoly(points: DataFrame, polys: DataFrame,
      grid: CellGrid, maxVerts: Int = 10): DataFrame = {
    // flatten the vertex arrays ONCE on the polygon side (null-padded to
    // maxVerts): the join predicate then reads flat doubles per candidate
    // pair instead of doing per-pair array accesses — measured 23× on the
    // driver layer (the broadcast/build side is the small one, so the
    // unpack cost is per polygon, not per pair)
    val vxs = (1 to maxVerts).map(i => col(s"vx$i"))
    val vys = (1 to maxVerts).map(i => col(s"vy$i"))
    val polyCelled = polys
      .select((col("id").as("pid") +: size(col("pxs")).as("k") +:
        ((1 to maxVerts).map(i => get(col("pxs"), lit(i - 1)).as(s"vx$i")) ++
         (1 to maxVerts).map(i => get(col("pys"), lit(i - 1)).as(s"vy$i")))): _*)
      .withColumn("cell", explode(stCoverCells(grid)(
        least(vxs: _*), least(vys: _*), greatest(vxs: _*), greatest(vys: _*))))
    points
      .select(col("id"), col("x"), col("y"),
        stCell(grid)(col("x"), col("y")).as("cell"))
      .join(polyCelled, Seq("cell"))
      .where(stPointInPolygonFlat(col("k"), vxs, vys, col("x"), col("y")))
      .select(col("id"), col("pid"))
  }

  // -------------------------------------------------- raster <-> vector

  /** Vector → raster: aggregate a point layer onto the grid as one raster
    * band per aggregate — (ix, iy, cnt, v_sum). The north-rule's
    * rasterization primitive (no reference analog; rstar is vector-only).
    * One map-side-combined groupBy on the cell id; at 100 TB the output is
    * bounded by 4^res cells regardless of input size, which is the whole
    * point of rasterizing.
    *
    * `points` needs (x, y, v); cell assignment = the same clamped floor
    * arithmetic as every other operator (stCell), so rasters and vector
    * cells always align.
    */
  def rasterize(points: DataFrame, grid: CellGrid): DataFrame = {
    val n = grid.cellsPerAxis.toLong
    points
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
      .groupBy("cell")
      .agg(count(lit(1)).as("cnt"), sum("v").as("v_sum"))
      .select((col("cell") / n).cast("long").as("ix"),
        pmod(col("cell"), lit(n)).as("iy"), col("cnt"), col("v_sum"))
  }

  /** Raster → vector: ZONAL STATISTICS — per vector zone (rectangles
    * here), aggregate the raster cells whose CENTER lies inside the zone
    * (the standard center rule, GDAL `ALL_TOUCHED=FALSE`). The classic
    * raster↔vector join, Spark-first: zones explode to their covered grid
    * cells (stCoverCells), the raster side already carries the cell id, so
    * the join is a cell EQUI-join with the exact center-in-zone predicate
    * applied after — never a raster×zones cross product. Output per zone:
    * n_cells, n_pts (sum of raster counts), v_sum.
    *
    * `raster` must be [[rasterize]]'s shape; `zones` needs
    * (id, minX, minY, maxX, maxY).
    */
  def zonalStats(raster: DataFrame, zones: DataFrame,
      grid: CellGrid): DataFrame = {
    val n = grid.cellsPerAxis.toLong
    val cw = (grid.maxX - grid.minX) / grid.cellsPerAxis
    val ch = (grid.maxY - grid.minY) / grid.cellsPerAxis
    val rCelled = raster
      .withColumn("cell", col("ix") * n + col("iy"))
      .withColumn("cx",
        lit(grid.minX) + (col("ix").cast("double") + lit(0.5)) * lit(cw))
      .withColumn("cy",
        lit(grid.minY) + (col("iy").cast("double") + lit(0.5)) * lit(ch))
    val zCelled = zones.select(
      col("id").as("zid"),
      col("minX"), col("minY"), col("maxX"), col("maxY"),
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"))
    zCelled.join(rCelled, Seq("cell"))
      .where(stContainsPoint(
        col("minX"), col("minY"), col("maxX"), col("maxY"),
        col("cx"), col("cy")))
      .groupBy("zid")
      .agg(count(lit(1)).as("n_cells"), sum("cnt").as("n_pts"),
        sum("v_sum").as("v_sum"))
  }

  // ----------------------------------------------------- build / stats C2

  /** Stage 1 of the distributed bulk load (C2): cell assignment + per-cell
    * statistics (count + envelope-of-group, the G5 aggregate). This is the
    * driver-grid build; per-partition trees are built lazily inside the
    * operators that need them (`mapPartitions` over repartitioned cells).
    */
  def cellStats(points: Dataset[PointRow], grid: CellGrid): Dataset[CellStats] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
      .groupBy("cell")
      .agg(count(lit(1)).as("cnt"),
        min("x").as("minX"), min("y").as("minY"),
        max("x").as("maxX"), max("y").as("maxY"))
      .as[CellStats]
  }

  // ------------------------------------------- Z-order layout clustering

  /** Bit-spread for Morton interleaving: distributes the low 16 bits of
    * `c` to the even bit positions of a 32-bit lane (magic-mask doubling
    * steps). Pure integer Column arithmetic — whole-stage codegen, and an
    * exact SQL twin exists because every step is `|`/`&`/`<<` on BIGINT.
    */
  private def spreadBits(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(shiftleft(x, shift)).bitwiseAND(lit(mask))
    step(step(step(step(c, 8, 0x00FF00FFL), 4, 0x0F0F0F0FL),
      2, 0x33333333L), 1, 0x55555555L)
  }

  /** Z-order (Morton) space-filling-curve layout statistics — the file-
    * clustering operator behind Iceberg/Delta `ZORDER BY`: interleave the
    * quantized (x, y) into a single sort key so that rows written in key
    * order land spatially co-located files, and range/PIP scans prune by
    * key prefix instead of reading the whole table. rstar gets the same
    * locality from its packed OMT leaves (rstar/src/algorithm/bulk_load:
    * slab recursion); at 10^12 rows the curve IS the on-disk analog.
    *
    * The layout "bucket" is the top `prefixBits` bits of the 2·`bits`-bit
    * code — exactly a key-range file boundary — so the whole operator is
    * one map (quantize + interleave, no window, no global sort) and one
    * groupBy(bucket): at 100 TB the only shuffle is 2^prefixBits
    * partial-aggregated rows. The per-bucket envelope area the query
    * returns is the pruning-quality metric: Z-order buckets bound a tile
    * of ~(2^bits / 2^(prefixBits/2))^2 cells, while hash buckets span the
    * whole domain (SpatialOpsSpec asserts the separation).
    */
  def zorderLayout(pts: DataFrame, grid: CellGrid, bits: Int,
      prefixBits: Int): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits out of range: $bits")
    require(prefixBits >= 1 && prefixBits <= 2 * bits,
      s"prefixBits out of range: $prefixBits")
    val n = 1L << bits
    def axis(c: Column, lo: Double, span: Double): Column =
      least(lit(n - 1), greatest(lit(0L),
        floor((c - lit(lo)) / lit(span) * lit(n.toDouble)).cast("long")))
    val ix = axis(col("x"), grid.minX, grid.maxX - grid.minX)
    val iy = axis(col("y"), grid.minY, grid.maxY - grid.minY)
    pts
      .select(col("id"),
        ix.as("ix"), iy.as("iy"),
        spreadBits(ix).bitwiseOR(shiftleft(spreadBits(iy), 1)).as("zcode"))
      .withColumn("bucket", shiftright(col("zcode"), 2 * bits - prefixBits))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        min("zcode").as("min_z"), max("zcode").as("max_z"),
        ((max("ix") - min("ix") + lit(1L)) *
          (max("iy") - min("iy") + lit(1L))).as("env_area"))
  }
}
