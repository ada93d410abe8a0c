package graft.engine

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{
  DataType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.engine.CellHistogram.discCover
import graft.geom.AABB
import graft.index.{CellGrid, Entry, LocalRTree, PointRTree2D}
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

  /** Collect a BOUNDED layer in one pass: the plan is capped at
    * MaxBroadcastLayerRows + 1 rows via `limit`, so an over-bound layer
    * fails fast on the contract (never a driver OOM mid-collect), and the
    * collected rows themselves feed the tree build — the layer's lineage
    * executes exactly once per broadcast-join call, not once for a guard
    * count and again for the collect.
    */
  private def collectBounded[T](ds: Dataset[T], op: String): Array[T] = {
    val rows = ds.limit(MaxBroadcastLayerRows.toInt + 1).collect()
    require(rows.length <= MaxBroadcastLayerRows,
      s"$op: layer exceeds $MaxBroadcastLayerRows rows — the broadcast " +
        "path is for BOUNDED layers only; use the grid shuffle plan for " +
        "layers this size")
    rows
  }

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
    val rects = collectBounded(
      right.select("id", "minX", "minY", "maxX", "maxY")
        .as[(Long, Double, Double, Double, Double)],
      "intersectionJoinBroadcast")
    val entries = rects.map { case (id, x0, y0, x1, y1) =>
      Entry(AABB.of2d(x0, y0, x1, y1), id)
    }
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

  /** Same join through the two-level index: both sides hash-co-partitioned
    * and sorted by cell through the DataFrame API, then joined as a zip of
    * InternalRow iterators — a synchronized merge over the sorted cell
    * runs builds a per-cell `LocalRTree` on the smaller run (whose frozen
    * SoA mirror serves the probes) and probes it with the larger:
    * index-nested-loop inside each partition, the distributed analog of
    * the reference's synchronized dual-tree descent
    * (rstar/src/algorithm/intersection_iterator.rs:15-104). Like
    * [[probeCellRuns]], the big sides never touch a Dataset encoder.
    */
  def intersectionJoinTree(
      left: Dataset[RectRow], right: Dataset[RectRow],
      grid: CellGrid): Dataset[(Long, Long)] = {
    val spark = left.sparkSession
    val parts = shufflePartitions(left)
    def celled(ds: Dataset[RectRow]): DataFrame = ds.toDF()
      .select(
        explode(stCoverCells(grid)(
          col("minX"), col("minY"), col("maxX"), col("maxY"))).as("key"),
        col("id"), col("minX"), col("minY"), col("maxX"), col("maxY"))
      .repartition(parts, col("key")).sortWithinPartitions("key")
    zipIntersect(spark, celled(left), celled(right), grid, saltBits = 0)
  }

  /** The fused per-cell probe shared by [[intersectionJoinTree]] and
    * [[intersectionJoinTreeSalted]]: both inputs must be (key LONG, id,
    * minX, minY, maxX, maxY) hash-co-partitioned and sorted by `key`
    * (= cell << saltBits | salt); the zip merges the sorted key runs on raw
    * InternalRows, builds a per-run `LocalRTree` on the smaller side and
    * probes it with the larger — no Dataset encoder ever touches the big
    * sides (the round-2 salted path ran on typed cogroup and paid full
    * object churn exactly on the declared-hot cells).
    */
  private def zipIntersect(
      spark: SparkSession, lCelled: DataFrame, rCelled: DataFrame,
      grid: CellGrid, saltBits: Int): Dataset[(Long, Long)] = {
    import spark.implicits._
    val lr = lCelled.queryExecution.toRdd
    val rr = rCelled.queryExecution.toRdd
    val g = grid
    val sb = saltBits
    val rdd = lr.zipPartitions(rr) { (lit, rit) =>
      import scala.collection.mutable
      // primitive look-ahead per side (rows are reused by the reader)
      final class Side(it: Iterator[InternalRow]) {
        var pending = false
        var key = 0L
        var id = 0L
        val box = new Array[Double](4)
        def advance(): Unit =
          if (it.hasNext) {
            val r = it.next()
            key = r.getLong(0); id = r.getLong(1)
            box(0) = r.getDouble(2); box(1) = r.getDouble(3)
            box(2) = r.getDouble(4); box(3) = r.getDouble(5)
            pending = true
          } else pending = false
        def skipRun(): Unit = { val k = key; while (pending && key == k) advance() }
        /** Load the current key's run into SoA buffers; returns count. */
        def loadRun(ids: mutable.ArrayBuffer[Long],
            boxes: mutable.ArrayBuffer[Double]): Int = {
          ids.clear(); boxes.clear()
          val k = key
          while (pending && key == k) {
            ids += id
            boxes += box(0) += box(1) += box(2) += box(3)
            advance()
          }
          ids.length
        }
      }
      val ls = new Side(lit); ls.advance()
      val rs = new Side(rit); rs.advance()
      val lIds = mutable.ArrayBuffer.empty[Long]
      val lBoxes = mutable.ArrayBuffer.empty[Double]
      val rIds = mutable.ArrayBuffer.empty[Long]
      val rBoxes = mutable.ArrayBuffer.empty[Double]
      val out = mutable.Queue.empty[(Long, Long)]

      def joinRun(key: Long): Unit = {
        val cell = key >>> sb
        val nl = lIds.length; val nr = rIds.length
        // index the smaller run, probe with the larger (fewer tree builds)
        val (bIds, bBoxes, pIds, pBoxes, leftIsBuild) =
          if (nl <= nr) (lIds, lBoxes, rIds, rBoxes, true)
          else (rIds, rBoxes, lIds, lBoxes, false)
        val entries = Array.tabulate(bIds.length) { i =>
          Entry(AABB.of2d(bBoxes(4 * i), bBoxes(4 * i + 1),
            bBoxes(4 * i + 2), bBoxes(4 * i + 3)), bIds(i))
        }
        val tree = new LocalRTree[Long](2, 40, 1).bulkLoad(entries)
        var j = 0
        while (j < pIds.length) {
          val pMinX = pBoxes(4 * j); val pMinY = pBoxes(4 * j + 1)
          val q = AABB.of2d(pMinX, pMinY, pBoxes(4 * j + 2), pBoxes(4 * j + 3))
          val pid = pIds(j)
          tree.foreachIntersecting(q) { e =>
            // reference-point dedup: emit in the intersection's lower cell
            // (the CELL, not the salted key — salting only refines the
            // co-partitioning; dedup semantics are unchanged)
            val bMinX = e.env.lower(0); val bMinY = e.env.lower(1)
            if (g.cellId(math.max(pMinX, bMinX), math.max(pMinY, bMinY)) == cell) {
              if (leftIsBuild) out.enqueue((e.value, pid))
              else out.enqueue((pid, e.value))
            }
          }
          j += 1
        }
      }

      new Iterator[(Long, Long)] {
        private def fill(): Unit = {
          while (out.isEmpty && ls.pending && rs.pending) {
            if (ls.key < rs.key) ls.skipRun()
            else if (rs.key < ls.key) rs.skipRun()
            else {
              val k = ls.key
              ls.loadRun(lIds, lBoxes)
              rs.loadRun(rIds, rBoxes)
              joinRun(k)
            }
          }
        }
        def hasNext: Boolean = { fill(); out.nonEmpty }
        def next(): (Long, Long) = { fill(); out.dequeue() }
      }
    }
    spark.createDataset(rdd)
  }

  /** Skew-aware variant of [[intersectionJoinTree]] (north_rule: hot dense
    * urban cells must not serialize the join). A first histogram pass finds
    * cells whose left-side occupancy exceeds `hotThreshold`; their rows are
    * split across `ceil(cnt / hotThreshold)` salts (deterministic from the
    * row id), and the probe side is replicated to every salt of that cell —
    * the classic salted-join rewrite, applied per cell. Cold cells pay
    * nothing (salt factor 1). AQE's skew-join splitting remains on as the
    * runtime backstop for residual imbalance.
    *
    * Results are identical to the unsalted join: salting only refines the
    * co-partitioning key (cell, salt); the reference-point dedup still runs
    * on the cell alone.
    */
  def intersectionJoinTreeSalted(
      left: Dataset[RectRow], right: Dataset[RectRow],
      grid: CellGrid, hotThreshold: Int): Dataset[(Long, Long)] = {
    val spark = left.sparkSession
    val parts = shufflePartitions(left)
    def celled(ds: Dataset[RectRow]): DataFrame = ds.toDF().select(
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"),
      col("id"), col("minX"), col("minY"), col("maxX"), col("maxY"))
    // histogram pass: bounded by 4^res cells — the driver-grid pattern
    val lCelled = celled(left)
    val salts: Map[Long, Int] = lCelled
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .where(col("n") > hotThreshold)
      .collect()
      .map(r => r.getLong(0) ->
        math.min(256, ((r.getLong(1) + hotThreshold - 1) / hotThreshold).toInt))
      .toMap
    // salt factor as a broadcast map LITERAL, so the whole keying stays a
    // codegen'd Column expression (cold cells: no entry -> factor 1)
    val sCol = coalesce(element_at(typedlit(salts), col("cell")), lit(1))
      .cast("long")
    val cols = Seq(col("id"), col("minX"), col("minY"), col("maxX"), col("maxY"))
    val lKeyed = lCelled
      .select((shiftleft(col("cell"), 8) +
        pmod(xxhash64(col("id")), sCol)).as("key") +: cols: _*)
      .repartition(parts, col("key")).sortWithinPartitions("key")
    val rKeyed = celled(right)
      .withColumn("salt", explode(sequence(lit(0L), sCol - 1)))
      .select((shiftleft(col("cell"), 8) + col("salt")).as("key") +: cols: _*)
      .repartition(parts, col("key")).sortWithinPartitions("key")
    zipIntersect(spark, lKeyed, rKeyed, grid, saltBits = 8)
  }

  // ------------------------------------------------------------ kNN join

  /** kNN join against a BOUNDED static layer: broadcast one packed
    * [[graft.index.PointRTree2D]] of the whole layer and probe it inside
    * `mapPartitions` over the query side's InternalRows — ZERO shuffle of
    * the (arbitrarily large) query stream, the batch sibling of
    * [[graft.streaming.StreamOps.nnStream]] and the plan a 100 TB
    * deployment uses whenever the layer fits an executor (the
    * BroadcastHashJoin of kNN; [[knnJoin]] is the shuffle path for layers
    * that don't). Output is bit-identical to [[knnJoin]]: the tree emits
    * through float-exact ties at the k-th distance, and the per-query cut
    * re-sorts by (d2, id) — the window path's exact tiebreak. Distances
    * agree bit-for-bit: squaring a clamped |dx| equals squaring the signed
    * dx (IEEE negation is exact).
    */
  def knnJoinBroadcast(
      queries: Dataset[QueryRow], data: Dataset[PointRow], k: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // bounded-layer contract: the caller asserts the layer fits in memory
    // (the 100 TB analog broadcasts exactly this much) — guarded so misuse
    // fails fast with the contract message, not a driver OOM mid-collect
    val pts = collectBounded(data, "knnJoinBroadcast")
    val treeB = spark.sparkContext.broadcast(graft.index.PointRTree2D.build(
      pts.map(_.id), pts.map(_.x), pts.map(_.y)))
    val q = queries.toDF().select("qid", "x", "y")
    if (k == 1) {
      // HOT PATH (the bench headline's 1-NN leg, one probe per entity
      // row): the keepTies-then-cut rule degenerates to "minimum by
      // (d2, id)", tracked in two locals inside the callback — no buffer,
      // no sort, no tuples — and each output row is written straight to
      // one reused UnsafeRow (no Dataset encoder). Double.compare
      // replicates the general path's total order bit-for-bit (NaN last,
      // -0.0 < 0.0). Output row set and schema identical to the general
      // path (spec-pinned against knnJoin k=1 row for row).
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
      return ColumnShim.internalDf(spark, rdd, schema)
    }
    val rdd = q.queryExecution.toRdd.mapPartitions { it =>
      val t = treeB.value
      it.flatMap { r =>
        val qid = r.getLong(0)
        val x = r.getDouble(1)
        val y = r.getDouble(2)
        // keepTies = true, then cut to k in (d2, id) order: membership and
        // rank match the window path's (d2, id) ordering exactly
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        t.nearestK(x, y, k, keepTies = true) { (p, d2) =>
          buf += ((t.ids(p), d2))
        }
        val cut = buf.sortInPlaceBy { case (id, d2) => (d2, id) }.take(k)
        cut.iterator.zipWithIndex.map { case ((id, d2), i) =>
          (qid, id, d2, i + 1)
        }
      }
    }
    spark.createDataset(rdd).toDF("qid", "id", "d2", "rn")
  }

  /** Distributed kNN join (batch form of `nearest_neighbor` /
    * `nearest_neighbor_iter`, rstar/src/rtree.rs:940-943, :1094-1099), in
    * the two provably-complete passes of [[CellHistogram]] (SURVEY.md
    * §3.3). Both probes are cell equi-joins (query-cells side is small →
    * Catalyst broadcasts it; the data side never moves). Result: (qid, id,
    * d2, rn), rn ∈ [1, k], ordered by (d2, id) — the deterministic total
    * tiebreak SURVEY §7.4 requires for oracle agreement. `keepTies`
    * switches the window to `rank()`, reproducing the co-equal tie-set
    * semantics of `nearest_neighbors` (K3, rstar/src/rtree.rs:977-1043).
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
    val candA = CellHistogram.collect(dataCelled.select("cell")).candidates(
      queries.select(col("qid"), col("x").as("qx"), col("y").as("qy")), grid, k)

    // k == 1 (the 1-NN headline shape): both passes collapse to hash
    // aggregations — min / min_by with the same (d2, id) tiebreak the
    // window used — which partial-aggregate MAP-SIDE, so the shuffle
    // carries one row per query instead of every candidate pair the
    // window path sorts. This is also the plan that survives 100×: the
    // candidate blow-up never crosses the wire.
    val wAsc = Window.partitionBy("qid").orderBy(col("d2"), col("id"))
    val scoredA = candA
      .join(dataCelled, Seq("cell"))
      .withColumn("d2", stDistanceSq(col("x"), col("y"), col("qx"), col("qy")))
    val dUp =
      if (k == 1)
        scoredA.groupBy("qid").agg(min("d2").as("dUp"),
          first("qx").as("qx"), first("qy").as("qy"))
      else
        scoredA
          .withColumn("rn", row_number().over(wAsc))
          .where(col("rn") <= k)
          .groupBy("qid").agg(max("d2").as("dUp"),
            first("qx").as("qx"), first("qy").as("qy"))

    val candB = dUp.select(col("qid"), col("qx"), col("qy"),
      discCover(grid, col("qx"), col("qy"), col("dUp")).as("cell"))
    val scoredB = candB
      .join(dataCelled, Seq("cell"))
      .withColumn("d2", stDistanceSq(col("x"), col("y"), col("qx"), col("qy")))
    if (k == 1 && !keepTies)
      scoredB.groupBy("qid")
        .agg(min_by(struct(col("id"), col("d2")),
          struct(col("d2"), col("id"))).as("m"))
        .select(col("qid"), col("m.id").as("id"), col("m.d2").as("d2"),
          lit(1).as("rn")) // IntegerType, as row_number emits
    else
      scoredB
        .withColumn("rn",
          if (keepTies) rank().over(Window.partitionBy("qid").orderBy(col("d2")))
          else row_number().over(wAsc))
        .where(col("rn") <= k)
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
    * cogroup lost its probe-rate advantage to Dataset ser/deser.
    */
  def knnJoinTrees(
      queries: Dataset[QueryRow], data: Dataset[PointRow], k: Int,
      grid: CellGrid, keepTies: Boolean = false): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dataCelled = data
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
      .select("cell", "id", "x", "y")
    // Collected ONCE: pass A's ring expansion and the safe-query join below.
    val hist = CellHistogram.collect(dataCelled.select("cell"))
    val dataRdd = cellSorted(dataCelled)

    // Per-cell top-k extended through float-exact ties at the k-th
    // distance, so the (d2, id) window cut never loses a lower-id point
    // the heap's arbitrary tie order dropped.
    def probe(cand: DataFrame): DataFrame =
      probeCellRuns(cand, dataRdd, 2, "id") { (ids, c) =>
        val t = PointRTree2D.build(ids, c(0), c(1))
        (qx, qy, emit) =>
          t.nearestK(qx, qy, k, keepTies = true)((p, d2) => emit(t.ids(p), d2))
      }.drop("qx", "qy")

    // Pass A: probe the ring-pass cells → d_up = the k-th candidate
    // distance upper bound.
    val candA = hist.candidates(
      queries.select(col("qid"), col("x").as("qx"), col("y").as("qy")), grid, k)
    val wAsc = Window.partitionBy("qid").orderBy(col("d2"), col("id"))
    def rankCol =
      if (keepTies) rank().over(Window.partitionBy("qid").orderBy(col("d2")))
      else row_number().over(wAsc)

    // localCheckpoint (eager): topA feeds both the dUp bound and the safe-
    // query result without recompute; unlike cache() the blocks are
    // reference-counted and reclaimed by the ContextCleaner as soon as the
    // returned plan is no longer referenced — no standing unpersist leak.
    val topA = probe(candA)
      .withColumn("rn", rankCol)
      .where(col("rn") <= k)
      .localCheckpoint(true)
    val dUp = topA.groupBy("qid")
      .agg(max("d2").as("dUp"), count(lit(1)).as("got"))

    // Safe-query shortcut: when the query's own cell holds ≥ k points and
    // the d_up disc lies strictly inside that cell, pass A's own-cell probe
    // already saw every possible competitor — no second pass. At uniform
    // densities this retires the bulk of the queries; only border-straddling
    // discs pay pass B.
    val n = grid.cellsPerAxis
    val cw = (grid.maxX - grid.minX) / n
    val ch = (grid.maxY - grid.minY) / n
    val histDf = hist.cells.zip(hist.ns).toSeq.toDF("cell", "cnt")
    val qinfo = queries.toDF("qid", "qx", "qy")
      .withColumn("cell", stCell(grid)(col("qx"), col("qy")))
      .join(broadcast(histDf), Seq("cell"), "left")
      .na.fill(0L, Seq("cnt"))
      .join(dUp, Seq("qid"), "left")
    val exLo = lit(grid.minX) + (col("cell") / n).cast("long") * cw
    val eyLo = lit(grid.minY) + pmod(col("cell"), lit(n.toLong)) * ch
    val border = least(
      col("qx") - exLo, exLo + cw - col("qx"),
      col("qy") - eyLo, eyLo + ch - col("qy"))
    // Shrink the safe test by an ulp-scale epsilon: `exLo = minX + ix*cw`
    // can differ by ulps from the floor((x-minX)/extent*n) boundary stCell
    // uses, so a disc a few ulps from the cell edge must NOT be classified
    // safe (it would skip pass B and could return a non-exact neighbor).
    val safeFlag =
      col("cnt") >= k && col("dUp") < border * border * lit(1.0 - 1e-9)
    val safeQ = qinfo.where(safeFlag).select("qid")
    val unsafeQ = qinfo.where(!safeFlag || col("dUp").isNull)
      .select(col("qid"), col("qx"), col("qy"), col("dUp"))

    val safeRows = topA.join(broadcast(safeQ), Seq("qid"), "left_semi")

    // Pass B (unsafe queries only): per-cell tree probes over the d_up disc
    // cover, then a window over ≤ (cells × k) rows.
    val candB = unsafeQ
      .where(col("dUp").isNotNull)
      .select(discCover(grid, col("qx"), col("qy"), col("dUp")).as("cell"),
        col("qid"), col("qx"), col("qy"))

    val unsafeRows = probe(candB)
      .withColumn("rn", rankCol)
      .where(col("rn") <= k)

    safeRows.unionByName(unsafeRows)
      .select(col("qid"), col("id"), col("d2"), col("rn"))
  }

  // -------------------------------------------- G14 at scale: line layers

  /** Nearest-segment distance join for a LARGE line layer (G14
    * distributed; `Line::distance_2`, rstar/src/primitives/line.rs:71-113):
    * the same two-pass grid scheme as [[knnJoin]] with k = 1, segments
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
    val candA = CellHistogram.collect(lineCelled.select("cell")).candidates(
      points.select(col("id"), col("x").as("px"), col("y").as("py")), grid, 1)

    val d2 = stLineDistanceSq(col("x1"), col("y1"), col("x2"), col("y2"),
      col("px"), col("py"))
    val dUp = candA.join(lineCelled, Seq("cell"))
      .select(col("id"), col("px"), col("py"), d2.as("d2"))
      .groupBy("id").agg(min("d2").as("dUp"),
        first("px").as("px"), first("py").as("py"))

    val candB = dUp.select(col("id"), col("px"), col("py"),
      discCover(grid, col("px"), col("py"), col("dUp")).as("cell"))
    candB.join(lineCelled, Seq("cell"))
      .select(col("id"), d2.as("d2"))
      .groupBy("id").agg(min("d2").as("min_d2"))
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

  /** The two passes of the envelope-layer kNN joins. Multi-cell geometries
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
    * hits, in which an (id, gid) pair may repeat. Output: (id, gid, d2,
    * rn), rn a long in [1, k], ordered by (d2, gid).
    */
  private def envelopeKnn(points: Dataset[PointRow], geoms: DataFrame, k: Int,
      grid: CellGrid)(probe: DataFrame => DataFrame): DataFrame = {
    val candA = CellHistogram
      .collect(geoms.select(stCell(grid)(col("minX"), col("minY"))))
      .candidates(
        points.select(col("id"), col("x").as("px"), col("y").as("py")), grid, k)
    val dUp = distinctTopK(probe(candA), k)
      .groupBy("id").agg(max("d2").as("dUp"),
        first("px").as("px"), first("py").as("py"))
    val candB = dUp.select(
      discCover(grid, col("px"), col("py"), col("dUp")).as("cell"),
      col("id"), col("px"), col("py"))
    distinctTopK(probe(candB), k)
      .select(col("id"), col("gid"), col("d2"), col("rn").cast("long").as("rn"))
  }

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
    * fast path with its pure-Catalyst probe). Same two provably-complete
    * passes: shell-expand over the histogram until ≥ k points, exact k-th
    * candidate distance d_up, then cover the d_up hyper-ball's bounding
    * box (ulp-padded) and window top-k — exact by the same disc argument,
    * axis-generalized. Rows: (id, p: Array[Double]).
    */
  def knnJoinNd(
      queries: Dataset[(Long, Array[Double])],
      data: Dataset[(Long, Array[Double])],
      k: Int, grid: graft.index.CellGridN): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dataCelled = data.map(r => (grid.cellId(r._2), r._1, r._2))
      .toDF("cell", "id", "p")
    val histB = CellHistogram.collect(dataCelled.select("cell")).broadcast(spark)

    val candA = queries.flatMap { case (qid, qp) =>
      val c0 = Array.tabulate(grid.dims)(d => grid.idx(d, qp(d)))
      histB.value.ringCells(k, grid.cellsPerAxis)(r => grid.ring(c0, r))
        .map(c => (qid, qp, c))
    }.toDF("qid", "qp", "cell")

    val d2 = aggregate(
      zip_with(col("p"), col("qp"), (a, b) => (a - b) * (a - b)),
      lit(0.0d), (acc, x) => acc + x)
    val wAsc = Window.partitionBy("qid").orderBy(col("d2"), col("id"))
    val dUp = candA.join(dataCelled, Seq("cell"))
      .select(col("qid"), col("qp"), col("id"), d2.as("d2"))
      .withColumn("rn", row_number().over(wAsc))
      .where(col("rn") <= k)
      .groupBy("qid").agg(max("d2").as("dUp"), first("qp").as("qp"))

    val candB = dUp.as[(Long, Double, Array[Double])].flatMap { case (qid, up, qp) =>
      val r = math.sqrt(up) * CellHistogram.DiscPad
      val lo = qp.map(_ - r)
      val hi = qp.map(_ + r)
      grid.cover(AABB.fromBounds(lo, hi)).map(c => (qid, qp, c))
    }.toDF("qid", "qp", "cell")

    // no dedup needed: a point lives in exactly one cell and the cover's
    // cells are distinct, so each (qid, id) pair joins at most once
    candB.join(dataCelled, Seq("cell"))
      .select(col("qid"), col("id"), d2.as("d2"))
      .withColumn("rn", row_number().over(wAsc).cast("long"))
      .where(col("rn") <= k)
      .select(col("qid"), col("id"), col("d2"), col("rn"))
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

  /** Adaptive cell split — the locality-preserving skew handler for INDEX
    * BUILDS (SURVEY §4.4; salting is the join-side twin): cells whose
    * occupancy exceeds `hotThreshold` are re-keyed at a finer resolution
    * (`grid.res + deltaRes`), so dense urban tiles shatter into spatially
    * coherent children (range queries over the built index still prune by
    * geometry — a salt suffix cannot be pruned). Cold cells keep their
    * coarse id. Partition keys: coarse id shifted left 2·deltaRes bits for
    * cold cells; fine id tagged with a high bit for hot ones — disjoint key
    * spaces, no collisions.
    *
    * Returns (keyed points, hot-cell count). The same keying function is a
    * pure function of (x, y, hot set), so probe sides reproduce it exactly.
    *
    * Cost: ONE pass over the data. Each point emits its resolution ladder
    * (≤ (maxRes-res)/deltaRes cells); map-side combine reduces that to one
    * count per occupied (res, cell), and only counts above the threshold
    * are collected (≤ n/hotThreshold per level — the bounded histogram). A
    * cell splits iff its TOTAL occupancy exceeds the threshold, which is
    * the fixed point the old round-trip loop converged to (a hot cell's
    * parent holds at least its points, so every hot cell's ancestor chain
    * is split and the cell is always reached) — without up to 8 full-data
    * `groupByKey.count` passes, which at 100 TB would dominate the build.
    */
  def adaptiveCellKeys(
      points: Dataset[PointRow], grid: CellGrid, hotThreshold: Long,
      deltaRes: Int = 2, maxRes: Int = 14): (DataFrame, Int) = {
    val spark = points.sparkSession
    import spark.implicits._
    // grids by resolution; pkey = (res << 32) | cellId (cell ids fit 2·res
    // ≤ 28 bits at maxRes 14)
    val grids: Map[Int, CellGrid] =
      (grid.res to maxRes).map(r => r -> grid.copy(res = r)).toMap
    def enc(res: Int, cell: Long): Long = (res.toLong << 32) | cell

    def keyFn(split: Set[Long])(x: Double, y: Double): Long = {
      var r = grid.res
      var cell = grids(r).cellId(x, y)
      while (r + deltaRes <= maxRes && split.contains(enc(r, cell))) {
        r += deltaRes
        cell = grids(r).cellId(x, y)
      }
      enc(r, cell)
    }

    // refinable levels only: a cell at res > maxRes - deltaRes can't split
    val ladder = (grid.res to (maxRes - deltaRes) by deltaRes).toArray
    val splitFinal = points
      .flatMap(p => ladder.iterator.map(r => enc(r, grids(r).cellId(p.x, p.y))))
      .groupByKey(identity).count()
      .filter { case (_, n) => n > hotThreshold }
      .map(_._1).collect().toSet
    val keyed = points
      .map(p => (p.id, p.x, p.y, keyFn(splitFinal)(p.x, p.y)))
      .toDF("id", "x", "y", "pkey")
    (keyed, splitFinal.size)
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
